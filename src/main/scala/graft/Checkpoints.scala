package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for ITERATED frames (graph bfs/kcore/labelprop
  * loops) with a conf-switched durability tier
  * (r16 verdict #4).
  *
  * Default — `localCheckpoint()` (eager): blocks live in executor
  * storage. Fast (no DFS round trip) and correct on a healthy
  * cluster, but the lineage is CUT, so an executor loss after the
  * checkpoint makes the lost blocks unrecoverable and fails the job —
  * acceptable for bounded interactive jobs (this harness; every
  * truncated frame in the repo is probe- or frontier-sized), a silent
  * single-point-of-failure for long multi-tenant pipelines.
  *
  * Reliable — set `spark.graft.checkpoint.reliable` to a durable
  * directory (HDFS/S3A/... on a cluster; any path local-mode Spark
  * can write) and the same call sites switch to eager reliable
  * `checkpoint()`: blocks are written to the directory, an executor
  * loss re-reads them there, and the job survives. Costs one write +
  * read of the truncated frame per round — for the probe-sized
  * frames under this contract that is milliseconds, so the switch is
  * a durability choice, not a rewrite.
  *
  * Recovery semantics, per tier:
  *   - local: executor loss ⇒ job failure; resubmit the job (all
  *     graft operators are deterministic, a rerun reproduces results
  *     bit-identically).
  *   - reliable: executor loss ⇒ Spark recomputes from the
  *     checkpoint files; no resubmission. Files are cleaned by
  *     `spark.cleaner.referenceTracking.cleanCheckpoints` or the
  *     caller's directory hygiene.
  */
object Checkpoints {
  /** Conf key: empty/unset = localCheckpoint; a directory = reliable
    * checkpoint rooted there. Read per call, so a session can opt in
    * mid-stream; the SparkContext checkpoint dir is set on first use
    * (context-global — the first configured value wins per context,
    * matching Spark's own one-dir-per-context model). */
  val ReliableDirConf = "spark.graft.checkpoint.reliable"

  /** Eagerly truncate `df`'s lineage at the durability tier the
    * OPERATOR'S session conf selects. Every iterated-frame call site
    * in graft routes through here so the fault-tolerance posture is
    * one conf, not a per-operator rewrite. The session is passed
    * explicitly (curried for `.transform`) rather than read from
    * `df.sparkSession`: frames derived from suite-shared
    * [[Caches.memo]] inputs inherit the MEMO's session, which would
    * silently miss a conf the operator's own session opted into. */
  def truncate(s: org.apache.spark.sql.SparkSession)(df: DataFrame): DataFrame =
    s.conf.getOption(ReliableDirConf).map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
}
