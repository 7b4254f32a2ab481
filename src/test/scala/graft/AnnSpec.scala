package graft

import org.apache.spark.sql.functions._

/** ANN quality: LSH recall against the exact brute-force baseline,
  * and HLL error tolerance. */
class AnnSpec extends SparkSpecBase {

  test("ann_lsh_topk recall vs brute force at sf0.01") {
    // this corpus's nearest neighbours sit at cosine ~0.3-0.5, the
    // hard regime for sign-LSH (P[bit agree] ≈ 0.55-0.67 per plane);
    // at real near-dup similarity (>=0.9, P >= 0.86) the same 8×4
    // banding holds >=0.95 recall. Assert the measured floor for
    // top-5 and the stronger floor for the (higher-cosine) top-1.
    val exactTop = SparkEntry.queries("ann_cosine_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lsh = SparkEntry.queries("ann_lsh_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact5 = exactTop.map(t => (t._1, t._2)).toSet
    val exact1 = exactTop.filter(_._3 == 1L).map(t => (t._1, t._2)).toSet
    assert(exact5.size == 50, s"expected 10 queries x top-5, got ${exact5.size}")
    val recall5 = (exact5 & lsh).size.toDouble / exact5.size
    val recall1 = (exact1 & lsh).size.toDouble / exact1.size
    assert(recall5 >= 0.4, s"recall@5 $recall5")
    assert(recall1 >= 0.5, s"recall@1 $recall1")
    val ivf = SparkEntry.queries("ann_ivf_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the Lloyd refinement step lifted this from 0.40 (hash-seeded
    // centroids) to 0.52; pin the refined floor
    val ivf5 = (exact5 & ivf).size.toDouble / exact5.size
    assert(ivf5 >= 0.5, s"IVF recall@5 $ivf5")
  }

  test("ann_pq_topk: ADC recall vs brute force, and the code book is complete") {
    // PQ ranks by an 8-subspace additive approximation of the dot
    // product; on this corpus's diffuse neighbours that is a lossy
    // but useful signal — assert the measured floor, and that top-1
    // (highest-margin) survives better than the tail
    val exactTop = SparkEntry.queries("ann_cosine_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pq = SparkEntry.queries("ann_pq_topk")(spark, TestSession.sfDir01).cache()
    val got = pq.select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact5 = exactTop.map(t => (t._1, t._2)).toSet
    val recall5 = (exact5 & got).size.toDouble / exact5.size
    assert(recall5 >= 0.2, s"PQ recall@5 $recall5")
    // structural: every query emits exactly K ranked rows
    val counts = pq.groupBy(col("query_id")).count().collect().map(_.getLong(1))
    assert(counts.length == 10 && counts.forall(_ == 5L), counts.mkString(","))
    pq.unpersist()
  }

  test("ann_range_search: every hit clears the threshold and covers the top-k hits above it") {
    val dir = TestSession.sfDir01
    val range = SparkEntry.queries("ann_range_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(range.nonEmpty)
    assert(range.forall(_._3 >= graft.similarity.Ann.RANGE_TAU),
      s"hit below threshold: ${range.filter(_._3 < graft.similarity.Ann.RANGE_TAU).toSeq}")
    // range search shares the candidate stage with top-k, so every
    // LSH top-k hit at/above the threshold must be in the range result
    val topkAbove = SparkEntry.queries("ann_lsh_topk")(spark, dir)
      .filter(col("cosine") >= graft.similarity.Ann.RANGE_TAU)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rset = range.map(t => (t._1, t._2)).toSet
    assert(topkAbove.nonEmpty && topkAbove.subsetOf(rset),
      s"top-k hits missing from range: ${(topkAbove -- rset).toSeq}")
  }

  test("lsh band width shrinks the candidate set superlinearly") {
    // doubling bitsPerBand squares the per-band bucket count (16 →
    // 256), so per-query candidates must fall by much more than 2× —
    // the knob that keeps LSH meaningfully cheaper than brute force
    // as the corpus grows (at 4 bits candidates ≈ bands·N/16 ≈ N/2,
    // only a 2× saving)
    val vecs = graft.sources.Tables.embeddings(spark, TestSession.sfDir01)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("e"))
    def candidates(bits: Int): Long = {
      val bands = graft.similarity.Ann.signBands(vecs, spark, nBands = 8, bitsPerBand = bits)
      val qb = bands.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
      qb.join(bands, Seq("band", "bkey"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id")).distinct().count()
    }
    val c4 = candidates(4)
    val c8 = candidates(8)
    assert(c8 * 2 < c4, s"candidates fell sublinearly: 4 bits -> $c4, 8 bits -> $c8")
  }

  test("IVF corpus assignment is an aggregate, not a window") {
    val plan = SparkEntry.queries("ann_ivf_topk")(spark, TestSession.sfDir01)
      .queryExecution.optimizedPlan.toString
    // max_by over (c_cos, -c_id) replaces the N×C row_number window;
    // the only windows left are the probe-side NPROBE rank (Q×C rows)
    // and the final per-query top-k
    assert(plan.contains("max_by"), "assignment max_by aggregate missing")
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 windows (probe rank + final top-k), got $windows")
  }

  // quantized 64-dim corpus for the balance-guard tests: `dupes`
  // copies of ONE point (the mass no centroid geometry can separate —
  // the shape a dedup-bound corpus actually has), rest pseudo-random
  private def guardCorpus(n: Long, dupes: Long) = {
    graft.functions.GraftFunctions.register(spark)
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"""CASE WHEN id < $dupes
               THEN transform(sequence(0, 63), d -> CAST(IF(d = 0, 10000, 0) AS BIGINT))
               ELSE transform(sequence(0, 63), d -> pmod(xxhash64(id, d), 2000) - 1000)
               END""").as("e"))
  }

  test("ivfBalanced splits a duplicate-mass list geometry cannot separate") {
    try {
      val idx = similarity.Ann.ivfBalanced(guardCorpus(800, 600), maxSteps = 2)
      val cap = math.ceil(4.0 * 800 / 16).toLong // = ivfBalanced's default factor
      // 600 identical vectors tie onto one seed; Lloyd runs its steps
      // but cannot move a point mass apart — the hash-split must fire
      // and bound every list near cap (md5-uniform split key, allow 1.5×)
      assert(idx.split, "expected the hash-split fallback to fire")
      assert(idx.lloydSteps == 2, s"expected the Lloyd loop to run first, took ${idx.lloydSteps}")
      assert(idx.maxList <= (1.5 * cap).toLong, s"max list ${idx.maxList} vs cap $cap")
      // split preserves the candidate set: every vector keeps exactly
      // one list, every list belongs to its parent centroid, and the
      // oversized parent fans out into >= 2 sub-lists
      assert(idx.assign.count() == 800 &&
        idx.assign.select(col("vec_id")).distinct().count() == 800)
      assert(idx.assign.filter(col("list_id.c_id") =!= col("c_id")).count() == 0)
      val fanout = idx.assign.groupBy(col("c_id"))
        .agg(countDistinct(col("list_id")).as("lists"), count(lit(1)).as("sz"))
      assert(fanout.filter(col("sz") > cap && col("lists") < 2).count() == 0,
        "an oversized parent list was not fanned out")
      assert(fanout.filter(col("sz") > cap).count() >= 1,
        "corpus did not produce the oversized parent the test is about")
      // deterministic: a rebuild assigns identically
      val again = similarity.Ann.ivfBalanced(guardCorpus(800, 600), maxSteps = 2).assign
      assert(idx.assign.exceptAll(again).count() == 0 &&
        again.exceptAll(idx.assign).count() == 0)
    } finally Caches.release()
  }

  test("ivfBalanced leaves an already-balanced corpus untouched") {
    try {
      val idx = similarity.Ann.ivfBalanced(guardCorpus(800, 0), maxSteps = 2)
      val cap = math.ceil(4.0 * 800 / 16).toLong
      assert(!idx.split && idx.lloydSteps == 0, s"guard fired on a balanced corpus: $idx")
      assert(idx.maxList <= cap, s"max list ${idx.maxList} vs cap $cap")
    } finally Caches.release()
  }

  test("ivfBalanced issues one size job per step and none for the split") {
    try {
      // minSteps = maxSteps = 1 on the duplicate-mass corpus: the seed
      // assignment and the one Lloyd step each cost one ≤c-row size
      // collect; the split reuses the last one (nsub is a local frame)
      val (idx, c) = StageCounter(spark.sparkContext)(
        similarity.Ann.ivfBalanced(guardCorpus(800, 600), minSteps = 1, maxSteps = 1))
      assert(idx.split && idx.lloydSteps == 1, s"expected one step then a split: $idx")
      assert(c.executions == 2, s"expected 2 size jobs (seed + 1 step), got ${c.executions}")
      // the post-split max list is read only on demand
      val (_, m) = StageCounter(spark.sparkContext)(idx.maxList)
      assert(m.executions == 1, s"maxList ran ${m.executions} jobs")
    } finally Caches.release()
  }

  test("approx-quantile rank contract: tie range straddles the band on a point-mass distribution") {
    // 40% of rows share the median value: the naive count(<=v)/n = 0.7
    // would false-fail even though the sketch is exactly right; the
    // tie-range contract [count(<v), count(<=v)] ∍ 50%±5% must hold
    import TestSession.spark.implicits._
    val rows = (Seq.fill(400)(50.0) ++ (1 to 300).map(_ / 10.0) ++
      (1 to 300).map(i => 100.0 + i)).map(v => ("e", v))
    val df = rows.toDF("event_type", "value")
    val ap = df.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5D, 100)").as("ap50"))
    // uses the PRODUCTION contract expression, so a regression to the
    // naive count(<=v)/count(*) form fails here
    val got = df.join(ap, "event_type")
      .groupBy(col("event_type"))
      .agg(graft.operators.Relational.medianRankOk.as("ok"))
      .head()
    assert(got.getBoolean(1), "tie-range contract failed on point-mass input")
    // all-NULL group is vacuously true, matching the oracle's TRUE
    val nulls = Seq(("n", None: Option[Double]), ("n", None)).toDF("event_type", "value")
    val gotNull = nulls.withColumn("ap50", lit(null).cast("double"))
      .groupBy(col("event_type"))
      .agg(graft.operators.Relational.medianRankOk.as("ok"))
      .head()
    assert(gotNull.getBoolean(1), "all-NULL group must satisfy the contract vacuously")
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    // the query's own contract column must hold on every group
    val rows = SparkEntry.queries("op_approx_distinct")(spark, TestSession.sfDir01).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(r.fieldIndex("within_tol")),
      s"${r.getString(r.fieldIndex("event_type"))} estimate outside 5%"))
    // and the raw estimate itself, measured independently of the query
    // (same rsd=0.01 sketch precision as the operator)
    val approx = graft.sources.Tables.events(spark, TestSession.sfDir01)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("a"),
        countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    approx.foreach { case (k, a, n) =>
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("filtered search returns only predicate-eligible vectors with dense ranks") {
    val dir = TestSession.sfDir01
    val got = SparkEntry.queries("ann_filtered_topk")(spark, dir).cache()
    assert(got.count() > 0)
    // every hit satisfies the metadata predicate (even label)
    val labels = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val bad = got.join(labels, Seq("vec_id")).filter(pmod(col("label"), lit(2)) =!= 0).count()
    assert(bad == 0, s"$bad hits violate the label predicate")
    // ranks are dense 1..m per query
    val loose = got.groupBy(col("query_id"))
      .agg(count(lit(1)).as("m"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      .filter(col("mx") =!= col("m") || col("mn") =!= 1L).count()
    assert(loose == 0, "non-dense ranks in filtered top-k")
    // the filtered hit set is a subset of the slice the unfiltered LSH
    // search scores (same bands, smaller corpus side)
    got.unpersist()
  }

  test("hybrid RRF fusion is well-formed and sits on the 1/(60+r) grid") {
    val got = SparkEntry.queries("ann_hybrid_rrf")(spark, sfDir).cache()
    try {
      assert(got.select(col("query_id")).distinct().count() == 10)
      // dense 1..10 per query, fused score monotone non-increasing in rank
      val perQ = got.groupBy(col("query_id"))
        .agg(count(lit(1)).as("m"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      assert(perQ.filter(col("m") =!= 10 || col("mx") =!= 10 || col("mn") =!= 1).isEmpty)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      assert(got.withColumn("prev", lag(col("rrf6"), 1).over(w))
        .filter(col("prev").isNotNull && col("rrf6") > col("prev")).isEmpty,
        "fused score must be non-increasing down the ranking")
      // every fused score is 1/(60+a) [+ 1/(60+b)] for ranks in 1..20:
      // bounded by the both-arms-rank-1 max and the single-arm-rank-20 min
      val mx = BigDecimal(2.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mn = BigDecimal(1.0 / 80).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.filter(col("rrf6") > mx || col("rrf6") < mn).isEmpty,
        s"fused score outside [$mn, $mx] — not on the truncated-list RRF grid")
    } finally got.unpersist()
  }

  test("knn classification votes are a valid 5-neighbour majority") {
    val got = SparkEntry.queries("ann_knn_classify")(spark, sfDir).cache()
    try {
      assert(got.count() == 10, "one verdict per query")
      assert(got.filter(col("votes") < 1 || col("votes") > 5).isEmpty)
      assert(got.filter(col("correct") =!=
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).isEmpty)
      // true_label must be the query's own label from the corpus
      val emb = sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("query_id"), col("label").cast("long").as("lbl"))
      assert(got.join(emb, "query_id").filter(col("true_label") =!= col("lbl")).isEmpty)
    } finally got.unpersist()
  }

  test("mmr rerank: 5 dense rounds, no repeats, greedy scores non-increasing") {
    val got = SparkEntry.queries("ann_mmr_rerank")(spark, sfDir).cache()
    try {
      val perQ = got.groupBy(col("query_id")).agg(
        count(lit(1)).as("m"), countDistinct(col("vec_id")).as("dv"),
        max(col("round")).as("mx"), min(col("round")).as("mn"),
        countDistinct(col("round")).as("dr"))
      assert(perQ.filter(col("m") =!= 5 || col("dv") =!= 5 ||
        col("mx") =!= 5 || col("mn") =!= 1 || col("dr") =!= 5).isEmpty,
        "each query must pick 5 distinct docs across dense rounds 1..5")
      assert(got.select(col("query_id")).distinct().count() == 10)
      // greedy MMR's max attainable score can only fall: every
      // candidate's penalty grows with the selected set and the
      // argmax ranges over a shrinking pool
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id")).orderBy(col("round"))
      assert(got.withColumn("prev", lag(col("mmr6"), 1).over(w))
        .filter(col("prev").isNotNull && col("mmr6") > col("prev") + 1e-9).isEmpty,
        "greedy pick score increased between rounds")
      // round 1 is the pure-relevance argmax: it must equal the
      // exact brute-force top-1 neighbour (ann_cosine_topk rnk 1)
      val top1 = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
        .filter(col("rnk") === 1).select(col("query_id"), col("vec_id").as("bf"))
      assert(got.filter(col("round") === 1).join(top1, "query_id")
        .filter(col("vec_id") =!= col("bf")).isEmpty,
        "MMR round 1 must be the relevance argmax")
    } finally got.unpersist()
  }

  test("mmr greedy equals a plain-Scala reference greedy on random candidate sets (property)") {
    graft.functions.GraftFunctions.register(spark)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    def rawCos(a: Seq[Long], b: Seq[Long]): Double =
      dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    // 3-dim vectors over 5 values and pools drawn WITH repetition from
    // a handful of distinct vectors: duplicate vectors under distinct
    // vec_ids give exact relevance and MMR-score ties, so the vec_id
    // tie-break decides picks
    val vec = Gen.listOfN(3, Gen.choose(-2L, 2L)).map(v => if (v.forall(_ == 0L)) 1L :: v.tail else v)
    val query = for {
      q <- vec
      base <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, vec))
      n <- Gen.choose(1, 20)
      ids <- Gen.pick(n, 0L until 200L)
      es <- Gen.listOfN(n, Gen.oneOf(base))
    } yield (q, ids.toList.zip(es))
    val queries = (0 until 120).flatMap(i => query.apply(Gen.Parameters.default, Seed(7000L + i)))
    val rows = queries.zipWithIndex.flatMap { case ((q, cands), qid) =>
      cands.map { case (v, e) => (qid.toLong, v, rawCos(q, e), e) }
    }
    // plain-Scala greedy: round 1 = relevance argmax, then argmax of
    // 0.7·cos − 0.3·max sim-to-picked; ties to the smaller vec_id
    def greedy(cands: Seq[(Long, Double, Seq[Long])]): Seq[(Long, Long, Double)] = {
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Double)]
      while (picked.size < math.min(5, cands.size)) {
        val pool = cands.filterNot(c => picked.exists(_._1 == c._1))
        val scored = pool.map { case (v, cos, e) =>
          val score =
            if (picked.isEmpty) 0.7 * cos else 0.7 * cos - 0.3 * picked.map(p => rawCos(e, p._2)).max
          (if (picked.isEmpty) cos else score, v, score, e)
        }
        val best = scored.reduce((a, b) => if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b)
        picked += ((best._2, best._4, best._3))
      }
      picked.zipWithIndex.map { case ((v, _, sc), i) => (v, i + 1L, sc) }.toSeq
    }
    val want = rows.groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
      greedy(rs.map(r => (r._2, r._3, r._4))).map { case (v, r, sc) => (qid, v, r, sc) }
    }.toSet
    import TestSession.spark.implicits._
    val got = similarity.Ann.mmrGreedy(rows.toDF("query_id", "vec_id", "cosine", "e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // the generator really exercised the tie-break: many queries hold
    // two candidates of equal relevance
    val tied = rows.groupBy(_._1).values.count(rs => rs.map(_._3).distinct.size < rs.size)
    assert(tied >= 20, s"only $tied queries with a relevance tie")
    assert(got.size == want.size && got == want,
      (got.diff(want).take(3) ++ want.diff(got).take(3)).mkString("; "))
  }

  test("mmr rerank is one pass: pinned stage count, no checkpointed scan") {
    // the query-side broadcast, the candidate scoring's shuffle map
    // stage, and the window + greedy result stage
    val df = SparkEntry.queries("ann_mmr_rerank")(spark, sfDir)
    val (_, c) = StageCounter(spark.sparkContext)(
      df.write.format("noop").mode("overwrite").save())
    assert(c.stages == 3, s"ann_mmr_rerank submitted ${c.stages} stages")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("LogicalRDD"),
      s"checkpointed scan in the MMR plan:\n$plan")
  }
}
