package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Counts what a block of driver code submits: stages, and the SQL
  * executions (actions) its jobs belong to — a `collect()` is one
  * execution however many jobs adaptive execution splits it into. */
final class StageCounter extends SparkListener {
  private val stageCount = new AtomicInteger
  private val executionIds = ConcurrentHashMap.newKeySet[String]()

  def stages: Int = stageCount.get
  def executions: Int = executionIds.size

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageCount.incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id")))
        .foreach(executionIds.add)
    }
}

object StageCounter {
  /** Runs `body` with a fresh counter attached; returns its result and
    * the counter once the listener bus has caught up. */
  def apply[T](sc: SparkContext)(body: => T): (T, StageCounter) = {
    ListenerBusDrain(sc)
    val c = new StageCounter
    sc.addSparkListener(c)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, c)
    } finally sc.removeSparkListener(c)
  }
}
