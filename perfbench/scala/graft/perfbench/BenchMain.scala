package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, Sessions}

/** JVM side of the benchmark: one workload, closed loop, one client.
  *
  * Usage: BenchMain --workload tpch|curate --seed N --seconds S
  *          --trace 0|1 --sf F --cores C --run-dir DIR --out FILE
  *          [--ops K1,K2,...] [--record 1]
  *
  * Everything the run writes lives under `--run-dir` (the caller
  * deletes it). The result file holds raw timings, correctness
  * material and, for traced runs, the per-layer numbers; `run.py`
  * turns it into metrics.
  */
object BenchMain {
  final case class Conf(workload: String, seed: Long, seconds: Double, traced: Boolean,
      sf: Double, cores: Int, runDir: Path, out: Path, ops: Seq[String], record: Boolean)

  /** One execution of one op inside a pass: wall seconds, and the
    * CPU seconds the whole JVM spent meanwhile (tasks, planning, JIT,
    * GC), which hypervisor steal does not inflate. */
  final case class OpRun(key: String, seconds: Option[Double], cpuSeconds: Double,
      error: Option[String])
  final case class Pass(traced: Boolean, wall: Double, ops: Seq[OpRun])

  val SetupReps = 3
  /** Passes a run always completes: untraced runs one; traced runs
    * an untraced warm-up, a traced pass and an untraced twin of it. */
  def fullPasses(traced: Boolean): Int = if (traced) 3 else 1

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("sf").toDouble, a("cores").toInt,
      Paths.get(a("run-dir")), Paths.get(a("out")),
      a.get("ops").toSeq.flatMap(_.split(",")), a.get("record").contains("1"))
    Files.write(conf.out, Json.render(run(conf)).getBytes("UTF-8"))
  }

  def run(c: Conf): Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = c.workload match {
      case "tpch" => new TpchWorkload(c)
      case "curate" => new CurateWorkload(c)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, SetupReps times: the first counts from JVM start, later
    // ones stop the session, drop the inputs and build both again
    var spark: SparkSession = null
    var listener: OpMetrics = null
    val setupS, sessionS, inputsS = mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until SetupReps) {
      val repStartMs =
        if (rep == 0) jvmStartMs
        else { spark.stop(); w.dropInputs(); System.currentTimeMillis() }
      val t0 = System.nanoTime()
      spark = Sessions.local("perfbench", cpus = c.cores)
      spark.sparkContext.setLogLevel("ERROR")
      listener = new OpMetrics
      spark.sparkContext.addSparkListener(listener)
      noop(spark.range(1).toDF())
      val t1 = System.nanoTime()
      w.prepareInputs(spark)
      sessionS += (t1 - t0) / 1e9
      inputsS += (System.nanoTime() - t1) / 1e9
      setupS += (System.currentTimeMillis() - repStartMs) / 1e3
    }
    w.recordPass(spark)

    // timed window: whole ops, one at a time, until `seconds` elapse
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    while (passes.size < fullPasses(c.traced) || System.nanoTime() < deadline) {
      val i = passes.size
      Trace.enabled = c.traced && i == 1
      val t0 = System.nanoTime()
      val ops = w.pass(spark, s"p$i",
        if (i < fullPasses(c.traced)) Long.MaxValue else deadline)
      passes += Pass(Trace.enabled, (System.nanoTime() - t0) / 1e9, ops)
      Trace.enabled = false
    }

    val layers =
      if (c.traced) Layers(c, spark, listener, w, passes.toSeq, sessionS.toSeq, inputsS.toSeq)
      else Map.empty[String, Double]
    val spans = Trace.opBreakdown.map { case (op, wall, unattributed) =>
      val m = listener.total(_ == op)
      Map("op" -> op, "wall_s" -> wall, "unattributed_s" -> unattributed,
        "stages" -> m.stages, "tasks" -> m.tasks) }
    val versions = Map("java" -> System.getProperty("java.version"), "spark" -> spark.version)
    spark.stop()
    Map(
      "workload" -> c.workload, "seed" -> c.seed, "sf" -> c.sf, "cores" -> c.cores,
      "setup_s" -> setupS.toSeq, "session_s" -> sessionS.toSeq, "inputs_s" -> inputsS.toSeq,
      "passes" -> passes.toSeq.map(p => Map(
        "traced" -> p.traced, "wall_s" -> p.wall,
        "ops" -> p.ops.map(o => Map("key" -> o.key, "s" -> o.seconds.getOrElse(-1.0),
          "cpu_s" -> o.cpuSeconds, "error" -> o.error.getOrElse(""))))),
      "checks" -> w.checks, "layers" -> layers,
      "spans" -> spans, "peak_rss_mb" -> peakRssMb, "versions" -> versions)
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Ops whose output is a `Caches.memo` frame (same map as graft.Bench). */
  val MemoProducers = Map("dedup_components" -> "dedupComponents")

  /** Runs one op under the cold-run discipline of `graft.Bench`:
    * tracked persists (and, for memo-producing ops, their memo) are
    * released before the clock starts. Jobs carry the op's group id. */
  def timeOp(spark: SparkSession, group: String, key: String)(body: => Unit): OpRun = {
    Caches.release()
    MemoProducers.get(key).foreach(Caches.releaseMemo)
    val id = s"$group/$key"
    spark.sparkContext.setJobGroup(id, key)
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    try {
      Trace.op(id)(body)
      OpRun(key, Some((System.nanoTime() - t0) / 1e9), (processCpuNs - cpu0) / 1e9, None)
    } catch {
      case e: Throwable => OpRun(key, None, (processCpuNs - cpu0) / 1e9,
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally spark.sparkContext.clearJobGroup()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest columns: row count and two sums of row
    * hashes. Floating-point values are rounded to 6 decimals first, so
    * a different aggregation order cannot change the digest. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(col(f.name), x => round(x, 6))
        case _ => col(f.name)
      }
    }
    Seq(count(lit(1)).as("rows"),
      sum(pmod(xxhash64(cols: _*), lit(1000000007L))).as("h1"),
      sum(pmod(hash(cols: _*), lit(998244353))).as("h2"))
  }

  /** Digest columns that DuckDB can reproduce over an oracle's result
    * (`run.py` builds the same expression): each row is rendered as a
    * string over its columns sorted by name, with numbers other than
    * integers as round(x * 10^4) and NULL as `\N`, then md5-hashed;
    * the digest is the row count and two sums of hash slices. */
  def portableDigestColumns(df: DataFrame): Seq[Column] = {
    import org.apache.spark.sql.types._
    val parts = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = f.dataType match {
        case DoubleType | FloatType | _: DecimalType =>
          round(col(f.name) * 10000).cast("bigint").cast("string")
        case _ => col(f.name).cast("string")
      }
      coalesce(c, lit("\\N"))
    }
    val h = md5(concat_ws("|", parts: _*))
    def slice(from: Int, p: Long) =
      pmod(conv(substring(h, from, 15), 16, 10).cast("bigint"), lit(p))
    Seq(count(lit(1)).as("rows"), sum(slice(1, 1000000007L)).as("h1"),
      sum(slice(16, 998244353L)).as("h2"))
  }

  def digestString(r: Row): String = s"${r.get(0)}:${r.get(1)}:${r.get(2)}"

  def digest(df: DataFrame): String = {
    val cs = digestColumns(df)
    digestString(df.agg(cs.head, cs.tail: _*).head())
  }

  /** Runs a noop write of `df` and returns the digest of its rows,
    * observed during that same execution. */
  def noopWithDigest(df: DataFrame, columns: DataFrame => Seq[Column]): String = {
    val obs = org.apache.spark.sql.Observation()
    val cs = columns(df)
    noop(df.observe(obs, cs.head, cs.tail: _*))
    digestString(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s")))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

  /** Layer an op belongs to, from its registry-key prefix. */
  def moduleOf(key: String): String = key.takeWhile(_ != '_') match {
    case "ann" => "similarity"
    case m => m
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
}
