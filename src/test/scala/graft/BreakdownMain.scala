package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-node SQL-metric breakdown for one registry key — the instrument
  * round-16 directive #2 asks for: run the key once (full noop-write
  * execution), then walk the FINAL adaptive plan printing every node
  * with its accumulated metrics (scan time, build time, shuffle bytes,
  * rows), so a ">Nx vs DuckDB" residue can be attributed to a stage
  * instead of adjudicated from wall-clock alone.
  *
  * Maintained dev tool (r16 verdict #7): alongside the human-readable
  * tree, `SPARK_GRAFT_BREAKDOWN_JSON=<path>` writes one JSON line per
  * plan node ({depth, node, metrics{...}}) so residue adjudications
  * can diff breakdowns mechanically; dev/breakdown.sh wraps the
  * invocation. The per-stage floor constant this tool measured lives
  * in dev/BENCH_NOTES.md ("stage floor").
  *
  * Usage: Test/runMain graft.BreakdownMain <sfDir> <key> [warmRuns]
  */
object BreakdownMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("dev/sf10")
    val key = args.lift(1).getOrElse("q22_full_global_sales")
    val warm = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Sessions.local("breakdown", cpus = 32)
    spark.sparkContext.setLogLevel("ERROR")
    def once(): Double = {
      Caches.release()
      val t0 = System.nanoTime()
      Registry.byName(key).build(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to warm).foreach(_ => once())
    Caches.release()
    val df = Registry.byName(key).build(spark, sfDir)
    // collect() (not a noop write): the write command builds its OWN
    // QueryExecution, so the metrics on df.queryExecution's plan would
    // stay zero — collect executes exactly the plan we then walk
    val t0 = System.nanoTime()
    val nRows = df.collect().length
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"rows=$nRows")
    println(f"== $key  wall=$wall%.3f s (measured run, after $warm warm) ==")
    walk(df.queryExecution.executedPlan, 0)
    sys.env.get("SPARK_GRAFT_BREAKDOWN_JSON").filter(_.nonEmpty).foreach { path =>
      val sb = new StringBuilder
      sb.append(s"""{"key": "$key", "sf_dir": "$sfDir", "wall_sec": ${f"$wall%.3f"}, "rows": $nRows}""").append('\n')
      jsonWalk(df.queryExecution.executedPlan, 0, sb)
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[breakdown] json -> $path")
    }
    spark.stop()
  }

  /** Raw metric value with its type-derived unit, for the JSON dump. */
  private def metricJson(m: org.apache.spark.sql.execution.metric.SQLMetric): String =
    if (m.metricType == "timing") s"""{"ms": ${m.value}}"""
    else if (m.metricType == "nsTiming") s"""{"ms": ${m.value / 1000000}}"""
    else if (m.metricType == "size") s"""{"bytes": ${m.value}}"""
    else s"""{"n": ${m.value}}"""

  private def jsonWalk(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
    // node and metric names lose quotes, backslashes and control
    // characters (a newline or tab would split or corrupt the JSONL line)
    def clean(s: String): String = s.replaceAll("[\"\\\\\\p{Cntrl}]", "")
    val ms = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
      .map { case (n, m) => s""""${clean(n)}": ${metricJson(m)}""" }
    sb.append(s"""{"depth": $depth, "node": "${clean(p.nodeName)}", "metrics": {${ms.mkString(", ")}}}""")
      .append('\n')
    p match {
      case a: AdaptiveSparkPlanExec => jsonWalk(a.executedPlan, depth + 1, sb)
      case q: QueryStageExec => jsonWalk(q.plan, depth + 1, sb)
      case r: ReusedExchangeExec =>
        sb.append(s"""{"depth": ${depth + 1}, "node": "(reused: ${clean(r.child.nodeName)})", "metrics": {}}""").append('\n')
      case _ => p.children.foreach(jsonWalk(_, depth + 1, sb))
    }
  }

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val interesting = p.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (name, m) =>
        val v =
          if (m.metricType == "timing") s"${m.value} ms"
          else if (m.metricType == "nsTiming") f"${m.value / 1e6}%.1f ms"
          else if (m.metricType == "size") s"${m.value / 1024} KiB"
          else m.value.toString
        s"${name.take(40)}=$v"
      }
    println("  " * depth + p.nodeName + "  " + interesting.mkString(" | "))
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case r: ReusedExchangeExec => println("  " * (depth + 1) + "(reused: " + r.child.nodeName + ")")
      case _ => p.children.foreach(walk(_, depth + 1))
    }
  }
}
