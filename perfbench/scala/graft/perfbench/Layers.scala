package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-layer numbers of a traced run. Pass p0 is an untraced warm-up,
  * p1 is traced and p2 is its untraced twin, so `trace.overhead_ratio`
  * compares two equally warm passes. Listener counts come from p1 only
  * and are attributed to its ops by job group, so they repeat between
  * two traced runs of one seed. Probes run after the passes. */
object Layers {
  def apply(c: BenchMain.Conf, spark: SparkSession, l: OpMetrics, w: Workload,
      passes: Seq[BenchMain.Pass], sessionS: Seq[Double], inputsS: Seq[Double])
      : Map[String, Double] = {
    def med(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
    val traced = passes(1)
    val prefix = "p1/"

    // probe: full noop scan of every input table
    spark.sparkContext.setJobGroup("probe/scan", "scan")
    val scan0 = System.nanoTime()
    w.inputTables.foreach(p => BenchMain.noop(spark.read.parquet(p)))
    val scanS = (System.nanoTime() - scan0) / 1e9
    // probe: per-stage floor, as the slope between a 1- and a
    // 5-exchange chain over a tiny frame: each round sums the previous
    // round's sums on a new key, so the optimizer can merge none of them
    spark.sparkContext.setJobGroup("probe/floor", "floor")
    def chain(n: Int): Double = {
      var df = spark.range(0, 10000, 1, c.cores).select(col("id"), lit(1L).as("c"))
      (1 to n).foreach(r => df = df.groupBy(pmod(col("id") * 7 + lit(r), lit(5000)).as("id"))
        .agg(sum("c").as("c")))
      val t0 = System.nanoTime(); BenchMain.noop(df); (System.nanoTime() - t0) / 1e9
    }
    chain(5)
    val floor = math.max(0.0, (med(Seq.fill(3)(chain(5))) - med(Seq.fill(3)(chain(1)))) / 4)
    spark.sparkContext.clearJobGroup()
    val probed = w.probes(spark, l)
    org.apache.spark.ListenerDrain(spark.sparkContext)

    val inPass = l.total(_.startsWith(prefix))
    def inModule(m: String) =
      l.total(g => g.startsWith(prefix) && BenchMain.moduleOf(g.stripPrefix(prefix)) == m)
    def opS(keep: String => Boolean) =
      traced.ops.filter(o => keep(o.key)).flatMap(_.seconds).sum
    def spanS(name: String) =
      Trace.spans.filter(s => s.name == name && s.op.startsWith(prefix)).map(_.seconds).sum
    val corpusS = med(inputsS)

    Map(
      "session.start_s" -> med(sessionS),
      "tpch.corpus_s" -> corpusS,
      "tpch.plan_s" -> spanS("tpch.plan"),
      "tpch.exec_s" -> spanS("tpch.exec"),
      "sources.scan_s" -> scanS,
      "sources.scan_bytes" -> l.total(_ == "probe/scan").inputBytes.toDouble,
      "exchange.shuffle_write_bytes" -> inPass.shuffleWriteBytes.toDouble,
      "exchange.shuffle_records" -> inPass.shuffleRecords.toDouble,
      "exchange.fetch_wait_s" -> inPass.fetchWaitMs / 1e3,
      "exchange.shuffle_write_s" -> inPass.shuffleWriteNs / 1e9,
      "stages.count" -> inPass.stages.toDouble,
      "stages.tasks" -> inPass.tasks.toDouble,
      "stages.floor_per_stage_s" -> floor,
      "stages.floor_s" -> inPass.stages * floor,
      "exec.cpu_s" -> inPass.cpuNs / 1e9,
      "exec.run_s" -> inPass.runMs / 1e3,
      "exec.gc_s" -> inPass.gcMs / 1e3,
      "exec.spill_bytes" -> inPass.spillBytes.toDouble,
      "exec.busy_ratio" -> inPass.runMs / 1e3 / (traced.wall * c.cores),
      "dedup.shuffle_records" -> inModule("dedup").shuffleRecords.toDouble,
      "graph.stages" -> inModule("graph").stages.toDouble,
      "pipeline.stages" -> inModule("pipeline").stages.toDouble,
      "trace.overhead_ratio" -> traced.wall / passes(2).wall,
      "trace.unattributed_s" ->
        Trace.opBreakdown.filter(_._1.startsWith(prefix)).map(_._3).sum) ++
      Seq("dedup", "text", "similarity", "graph", "pipeline")
        .map(m => s"$m.s" -> opS(BenchMain.moduleOf(_) == m)) ++
      traced.ops.flatMap(o => o.seconds.map(s => s"op.${o.key}.s" -> s)) ++
      probed ++
      probed.get("tpch.gen_s").map(gen =>
        "sources.persist_s" -> (corpusS + probed.getOrElse("op.aux_persist.s", 0.0) - gen))
  }
}
