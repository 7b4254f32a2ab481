package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Registry
import graft.sources.{AuxGen, Sinks}
import graft.streaming.Streams
import graft.tpch.{FullTpch, TpchGen}

/** A workload: its inputs, one pass over its ops, and its checks. */
abstract class Workload(val c: BenchMain.Conf) {
  val corpus: Path = c.runDir.resolve("corpus")
  def prepareInputs(spark: SparkSession): Unit
  def dropInputs(): Unit = BenchMain.deleteTree(corpus)
  def inputTables: Seq[String]
  /** Only with `--record 1`: an untimed pass that writes every output
    * as parquet, so `run.py` can compare whole results. */
  def recordPass(spark: SparkSession): Unit
  /** One pass over the ops in order; stops issuing ops once
    * `deadline` (nanoTime) has passed. */
  def pass(spark: SparkSession, group: String, deadline: Long): Seq[BenchMain.OpRun]
  /** What `run.py` checks. */
  def checks: Map[String, Any]
  /** Workload-specific probes of a traced run: per-layer numbers. */
  def probes(spark: SparkSession, l: OpMetrics): Map[String, Double] = Map.empty

  protected def runOps(spark: SparkSession, group: String, deadline: Long)(
      ops: Seq[(String, () => Unit)]): Seq[BenchMain.OpRun] =
    ops.iterator.takeWhile(_ => System.nanoTime() < deadline)
      .map { case (k, body) => BenchMain.timeOp(spark, group, k)(body()) }.toSeq

  /** Writes each op's output under `out/<key>` (record mode). */
  protected def writeOutputs(spark: SparkSession, outputs: Seq[(String, String, () => DataFrame)])
      : Seq[(String, String)] =
    outputs.map { case (key, name, df) =>
      val out = c.runDir.resolve("out").resolve(name).toString
      BenchMain.timeOp(spark, "record", key)(df().write.mode("overwrite").parquet(out))
        .error.foreach(e => sys.error(s"$name: $e"))
      name -> out
    }
}

/** The 22 TPC-H spec queries, in spec order, through FullTpch's SQL
  * front door over a TpchGen corpus. The seed picks, per query, the
  * base or the `_v2` parameter set. (The order stays fixed: in a fresh
  * JVM the first queries also pay class loading and JIT warm-up, and a
  * seeded order would move that cost between queries from run to run.)
  * Every execution's result digest is observed during its timed noop
  * write; `run.py` compares it with the same digest of the query's
  * DuckDB oracle. */
final class TpchWorkload(conf: BenchMain.Conf) extends Workload(conf) {
  private val all = FullTpch.all
  private val byName = all.map(q => q.name -> q).toMap
  private val rng = new scala.util.Random(c.seed)
  val queries: Seq[(String, String)] = all.take(22).map(_.name).map { base =>
    base -> (if (rng.nextBoolean()) base + "_v2" else base)
  }
  private val root = corpus.resolve(s"tpch-sf${c.sf}").toString
  private val digests = mutable.ArrayBuffer.empty[(String, String)]
  private var outputs: Seq[(String, String)] = Nil
  private var ingestChecks: Map[String, Any] = Map.empty

  def prepareInputs(spark: SparkSession): Unit = {
    TpchGen.persistAll(spark, c.sf, root)
    FullTpch.sessionFor(spark, root)
  }

  def inputTables: Seq[String] = TpchGen.tableNames.map(t => s"$root/$t.parquet")

  private def build(spark: SparkSession, variant: String): DataFrame =
    FullTpch.sessionFor(spark, root).sql(FullTpch.sparkSqlOf(variant))

  /** Oracle text, retargeted from the correctness corpus to this one. */
  private def oracle(variant: String): String =
    byName(variant).oracle.get.replaceAll(
      """read_parquet\('[^']*/([a-z]+)\.parquet/\*\.parquet'\)""",
      java.util.regex.Matcher.quoteReplacement(s"read_parquet('$root/") + "$1.parquet/*.parquet')")

  def checks: Map[String, Any] = Map("tpch" -> Map(
    "queries" -> queries.map { case (base, variant) =>
      Map("key" -> base, "variant" -> variant, "oracle" -> oracle(variant)) },
    "digests" -> digests.toSeq.map { case (v, d) => Map("variant" -> v, "digest" -> d) },
    "outputs" -> outputs.map { case (v, p) => Map("variant" -> v, "out" -> p) }),
    "ingest" -> ingestChecks)

  def recordPass(spark: SparkSession): Unit =
    if (c.record) outputs = writeOutputs(spark, queries.map { case (base, variant) =>
      (base, variant, () => build(spark, variant)) })

  def pass(spark: SparkSession, group: String, deadline: Long): Seq[BenchMain.OpRun] =
    runOps(spark, group, deadline)(queries.map { case (base, variant) =>
      base -> (() => {
        val df = Trace.span("tpch.plan") {
          val d = build(spark, variant)
          if (Trace.enabled) d.queryExecution.executedPlan
          d
        }
        digests += variant -> Trace.span("tpch.exec")(
          BenchMain.noopWithDigest(df, BenchMain.portableDigestColumns))
      })
    })

  /** The write path rides on traced runs: see [[IngestProbe]]. */
  override def probes(spark: SparkSession, l: OpMetrics): Map[String, Double] = {
    val (layers, checked) = new IngestProbe(c, root).run(spark, l)
    ingestChecks = checked
    layers
  }
}

/** LLM-data curation ops over a generated corpus: documents and
  * embeddings from AuxGen, lineitem (the co-purchase graph) from
  * TpchGen. The ops (`--ops`) run in the given producer-before-consumer
  * order. The inputs do not depend on the seed, so each op's output
  * digest is fixed per sf: every execution's digest is observed during
  * its timed noop write and compared with the recorded one. */
final class CurateWorkload(conf: BenchMain.Conf) extends Workload(conf) {
  private val ops = c.ops
  private val dir = corpus.resolve(s"curate-sf${c.sf}").toString
  private val digests = mutable.ArrayBuffer.empty[(String, String)]
  private var outputs: Seq[(String, String)] = Nil

  def prepareInputs(spark: SparkSession): Unit = {
    Sinks.writeParquet(TpchGen.table(spark, "lineitem", c.sf), s"$dir/lineitem.parquet")
    Seq("documents", "embeddings").foreach(t =>
      Sinks.writeParquet(AuxGen.table(spark, t, c.sf), s"$dir/$t.parquet"))
  }

  def inputTables: Seq[String] =
    Seq("lineitem", "documents", "embeddings").map(t => s"$dir/$t.parquet")

  def checks: Map[String, Any] = Map("curate" -> Map(
    "digests" -> digests.toSeq.map { case (k, d) => Map("key" -> k, "digest" -> d) },
    "outputs" -> outputs.map { case (k, p) => Map("key" -> k, "out" -> p) },
    "oracles" -> ops.flatMap(k => Registry.byName(k).oracle.map(k -> _)).toMap,
    "inputs" -> dir))

  def recordPass(spark: SparkSession): Unit =
    if (c.record) outputs = writeOutputs(spark,
      ops.map(k => (k, k, () => Registry.byName(k).build(spark, dir))))

  def pass(spark: SparkSession, group: String, deadline: Long): Seq[BenchMain.OpRun] =
    runOps(spark, group, deadline)(ops.map { k =>
      val m = BenchMain.moduleOf(k)
      k -> (() => {
        val df = Trace.span(s"$m.build")(Registry.byName(k).build(spark, dir))
        digests += k -> Trace.span(s"$m.exec")(
          BenchMain.noopWithDigest(df, BenchMain.digestColumns))
      })
    })
}

object IngestProbe {
  /** Event files, so one micro-batch per file. */
  val EventFiles = 50
}

/** The write path, run once at the end of a traced tpch run: persist
  * the AuxGen corpus with events as [[IngestProbe.EventFiles]] files,
  * stream the events through the exactly-once parquet sink one file
  * per trigger, compact the sink output, and bucket the corpus's
  * lineitem by `l_orderkey`. Checks row counts against the generator
  * and that streamed, compacted and bucketed outputs carry exactly
  * their inputs' rows (equal digests). */
final class IngestProbe(c: BenchMain.Conf, tpchRoot: String) {
  import IngestProbe._
  private val d = c.runDir.resolve("ingest")

  private def parquetFiles(p: String): Long = {
    val s = Files.walk(Paths.get(p))
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }

  def run(spark: SparkSession, l: OpMetrics): (Map[String, Double], Map[String, Any]) = {
    val group = "probe/ingest"
    val events = s"$d/aux/events.parquet"
    val stream = s"$d/stream"
    var progress: Seq[Map[String, Long]] = Nil
    var batches: Seq[Double] = Nil
    var streamed = 0L
    val runs = Seq[(String, () => Unit)](
      "aux_persist" -> (() =>
        AuxGen.persistAll(spark, c.sf, s"$d/aux", numParts = EventFiles)),
      "stream_sink" -> (() => {
        val src = spark.readStream.schema(spark.read.parquet(events).schema)
          .option("maxFilesPerTrigger", "1").parquet(events)
        val q = Streams.sinkToParquet(src, stream, s"$d/checkpoint")
        l.alias(q.runId.toString, s"$group/stream_sink")
        try q.processAllAvailable() finally q.stop()
        val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
        progress = ps.map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        streamed = ps.map(_.numInputRows).sum
        batches = ps.map(_.batchDuration / 1e3).sorted
      }),
      "compact" -> (() =>
        Sinks.compactParquet(spark, stream, 8L << 20, Some(s"$d/compacted"))),
      "bucketed" -> (() =>
        Sinks.writeBucketed(spark.read.parquet(s"$tpchRoot/lineitem.parquet"),
          "lineitem_by_orderkey", s"$d/bucketed", "l_orderkey", 16))
    ).map { case (k, body) => BenchMain.timeOp(spark, group, k)(body()) }
    val ok = runs.forall(_.error.isEmpty)

    // generation alone, into the noop sink
    spark.sparkContext.setJobGroup("probe/gen", "gen")
    val g0 = System.nanoTime()
    TpchGen.tableNames.foreach(t => BenchMain.noop(TpchGen.table(spark, t, c.sf)))
    AuxGen.tableNames.foreach(t => BenchMain.noop(AuxGen.table(spark, t, c.sf, EventFiles)))
    val genS = (System.nanoTime() - g0) / 1e9
    spark.sparkContext.clearJobGroup()
    org.apache.spark.ListenerDrain(spark.sparkContext)

    def stepS(k: String) = runs.find(_.key == k).flatMap(_.seconds).getOrElse(0.0)
    def dur(k: String) = progress.map(_.getOrElse(k, 0L)).sum / 1e3
    def batchQ(q: Double) = if (batches.isEmpty) 0.0 else {
      val pos = (batches.size - 1) * q
      val lo = pos.toInt
      val hi = math.min(lo + 1, batches.size - 1)
      batches(lo) + (batches(hi) - batches(lo)) * (pos - lo)
    }
    def rows(p: String) = spark.read.parquet(p).count()
    val auxRows = if (ok) AuxGen.tableNames.map(t => t -> rows(s"$d/aux/$t.parquet")) else Nil
    val landed =
      if (!ok) 0L
      else auxRows.map(_._2).sum + streamed + rows(s"$d/compacted") + rows(s"$d/bucketed")
    val layers = Map(
      "tpch.gen_s" -> genS,
      "sources.write_bytes" -> l.total(_.startsWith(s"$group/")).outputBytes.toDouble,
      "sources.bucket_s" -> stepS("bucketed"),
      "sources.compact_s" -> stepS("compact"),
      "sources.compact_files_in" -> (if (ok) parquetFiles(stream) else 0L).toDouble,
      "sources.compact_files_out" -> (if (ok) parquetFiles(s"$d/compacted") else 0L).toDouble,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.rows_per_s" ->
        (if (progress.isEmpty) 0.0 else streamed / dur("triggerExecution")),
      "streaming.batch_p50_s" -> batchQ(0.5),
      "streaming.batch_p80_s" -> batchQ(0.8),
      "sources.ingest_rows_per_s" -> landed / runs.flatMap(_.seconds).sum) ++
      runs.flatMap(r => r.seconds.map(s => s"op.${r.key}.s" -> s))

    val checks =
      if (!ok) Map("errors" -> runs.flatMap(r => r.error.map(e => s"${r.key}: $e")))
      else {
        val cols = spark.read.parquet(events).columns.map(col).toSeq
        Map(
          "errors" -> Nil,
          "counts" -> auxRows.map { case (t, n) =>
            Map("table" -> t, "rows" -> n, "expected" -> AuxGen.table(spark, t, c.sf).count()) },
          "digests" -> Map(
            "events" -> BenchMain.digest(spark.read.parquet(events)),
            "streamed" -> BenchMain.digest(spark.read.parquet(stream).select(cols: _*)),
            "compacted" -> BenchMain.digest(spark.read.parquet(s"$d/compacted").select(cols: _*)),
            "lineitem" -> BenchMain.digest(spark.read.parquet(s"$tpchRoot/lineitem.parquet")),
            "bucketed" -> BenchMain.digest(spark.read.parquet(s"$d/bucketed"))),
          "batches" -> progress.size, "expected_batches" -> EventFiles)
      }
    BenchMain.deleteTree(d)
    (layers, checks)
  }
}
