package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for traced runs. Spans nest on the single
  * thread that runs operations; nothing is written until the run
  * ends. When tracing is off, [[span]] is a plain call. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: String,
      start: Long, var end: Long = 0L) {
    def seconds: Double = (end - start) / 1e9
  }

  @volatile var enabled = false
  private var currentOp = ""
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(recorded.size, name, stack.headOption.fold(-1)(_.id), currentOp,
        System.nanoTime())
      recorded += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Runs `body` as operation `op`: the root span of everything inside. */
  def op[T](op: String)(body: => T): T = {
    currentOp = op
    try span("op")(body) finally currentOp = ""
  }

  /** Per op: (op, wall, seconds not covered by any span below the
    * root), i.e. the root span's self time: its length minus that of
    * its direct children. */
  def opBreakdown: Seq[(String, Double, Double)] = {
    val childSum = recorded.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    recorded.toSeq.collect { case s if s.name == "op" =>
      (s.op, s.seconds, s.seconds - childSum.getOrElse(s.id, 0.0)) }
  }
}

/** Task metrics summed per job group. Jobs carry their op's group id
  * (set with `setJobGroup` before the op); a streaming query runs its
  * jobs under its own run id, which [[alias]] maps back to the op. */
final class OpMetrics extends SparkListener {
  final class Sums {
    var stages, tasks, shuffleRecords, shuffleWriteBytes, inputBytes,
        outputBytes, spillBytes = 0L
    var cpuNs, runMs, gcMs, fetchWaitMs, shuffleWriteNs = 0L
  }
  private val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val sums = mutable.Map.empty[String, Sums]
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def alias(group: String, op: String): Unit = aliases.put(group, op)

  private def sumsFor(stageId: Int): Option[Sums] =
    Option(groupOfStage.get(stageId)).map { g =>
      val op = Option(aliases.get(g)).getOrElse(g)
      sums.getOrElseUpdate(op, new Sums)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(groupOfStage.put(_, group)))
  }

  /** Counts submitted stages: whether adaptive execution cancels a
    * running stage when it re-plans, or the stage completes first,
    * depends on timing; its submission does not. */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    sumsFor(e.stageInfo.stageId).foreach { s =>
      s.stages += 1
      s.tasks += e.stageInfo.numTasks
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) sumsFor(e.stageId).foreach { s =>
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  /** Sums over every group accepted by `keep` (call after draining). */
  def total(keep: String => Boolean): Sums = synchronized {
    val t = new Sums
    sums.iterator.filter { case (g, _) => keep(g) }.foreach { case (_, s) =>
      t.stages += s.stages; t.tasks += s.tasks
      t.shuffleRecords += s.shuffleRecords; t.shuffleWriteBytes += s.shuffleWriteBytes
      t.inputBytes += s.inputBytes; t.outputBytes += s.outputBytes
      t.spillBytes += s.spillBytes; t.cpuNs += s.cpuNs; t.runMs += s.runMs
      t.gcMs += s.gcMs; t.fetchWaitMs += s.fetchWaitMs
      t.shuffleWriteNs += s.shuffleWriteNs
    }
    t
  }
}
