package graft.graph

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4b graph analytics over the part co-purchase graph (parts are
  * linked when they appear in the same order — the lineitem self-join
  * on l_orderkey, distinct-ed). The reference's engine (DataFusion)
  * has no graph operators at all; these keys cover the two shapes a
  * relational engine CAN express competitively — exact triangle
  * counting and fixed-iteration PageRank — complementing the
  * iterate-to-convergence connected components in
  * [[graft.dedup.Dedup.componentsOf]].
  *
  * Scale posture: the edge list is built by an equi-join keyed on
  * l_orderkey (order basket sizes are spec-bounded, so the per-order
  * pair fan-out is a constant ~C(7,2)); triangle counting uses the
  * standard degree-orientation trick — orient every edge from the
  * (degree, id)-smaller endpoint to the larger — which bounds
  * out-degree by O(√E), so the wedge join is O(E^1.5) worst-case
  * instead of Σdeg² (the difference between survivable and quadratic
  * on a power-law graph). PageRank runs a FIXED 3 iterations in
  * integer millionths (rank DIV out-degree contributions, damping
  * 85/100 in integer math) so the plan is three chained
  * join+aggregate stages — no driver loop state, no floating drift,
  * and the DuckDB oracle replays all three hops bit-for-bit. */
object Graph {

  /** Distinct undirected co-purchase edges (a < b) between parts
    * sharing an order. Spelled as per-order sorted part SETS exploded
    * into pairs (ONE lineitem shuffle keyed on l_orderkey + the edge
    * distinct) rather than the definitional self-join, which shuffles
    * lineitem TWICE. Measured A/B (warm, local[32]): set build wins
    * ~12% at sf0.1; at sf1 the join build edges it locally (1.9 vs
    * 2.5 s — the nested transform's per-order array cost vs the
    * join's second shuffle, which local mode under-prices). The set
    * spelling is kept because halving shuffled bytes is the constraint
    * that binds on a real cluster, not local CPU. Per-order fan-out is
    * the spec-bounded basket C(n,2); sets are sorted so a < b by
    * construction. The oracle side keeps the self-join spelling — two
    * constructions hash-matching is itself a check. */
  /** The memoized suite-shared edge frame: all 7 graph keys consume
    * the SAME co-purchase edge list, so it is built and persisted
    * once per (context, dir) via [[graft.Caches.memo]] — the
    * materialize-once-fan-out shape a real pipeline uses — instead
    * of each key re-running the lineitem shuffle. */
  private[graft] def sharedEdges(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, "coPurchaseEdges", dir)(coPurchaseEdges(s, dir))

  private[graft] def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps) - i - 1), y -> struct(x AS a, y AS b))))"""))
        .as("e"))
      .select(col("e.a"), col("e.b")).distinct()

  private val pairsSql = """
      pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey)"""

  /** Exact triangle count by degree orientation: every edge points at
    * its HIGHER-(degree, id) endpoint, so out-degree is O(√E) and each
    * triangle x<y<z is found exactly once — as z ∈ N⁺(x) ∩ N⁺(y) at
    * edge (x, y). The Spark body intersects sorted out-neighbour
    * arrays per edge (shuffles O(E) rows of O(√E) payload) instead of
    * materialising the O(E^1.5) wedge-pair stream, and takes the wedge
    * count from the closed form Σ C(out-degree, 2); the oracle replays
    * the definitional wedge-join spelling — two independent algorithms
    * hash-matching is the point. Emits the census (edges, wedges,
    * triangles) as one row: adj's edge/wedge aggregate crossed with
    * the triangle sum. */
  val triangles: GQuery = GQuery(
    "graph_triangles",
    (s, dir) => {
      val pairs = sharedEdges(s, dir)
      val deg = pairs.select(col("a").as("n")).union(pairs.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val withDeg = pairs
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      val lt = struct(col("da"), col("a")) < struct(col("db"), col("b"))
      val oriented = withDeg.select(
        when(lt, col("a")).otherwise(col("b")).as("u"),
        when(lt, col("b")).otherwise(col("a")).as("v"))
      // adjacency-intersection spelling: never materialise the wedge
      // pairs (O(E^1.5) rows — 70 M at sf0.1). Out-neighbour lists are
      // O(√E) long under the orientation, so attaching them to each
      // edge and intersecting (codegen'd array_intersect on sorted
      // sets) shuffles O(E) rows of O(√E) payload instead. The edge
      // rows come from exploding adj's own lists — each (u, v) already
      // sits next to N⁺(u) there — so only N⁺(v) needs a join. The
      // wedge COUNT is the closed form Σ C(out-degree, 2) and the edge
      // count Σ out-degree (every edge is oriented exactly once), both
      // read off adj — no pair stream needed for either.
      val adj = graft.Caches.persistTracked(
        oriented.groupBy(col("u"))
          .agg(sort_array(collect_set(col("v"))).as("nbrs"), count(lit(1)).as("od")))
      val tri = adj.select(col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
        .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"), "left")
        .select(size(array_intersect(col("nu"),
          coalesce(col("nv"), expr("CAST(array() AS array<bigint>)")))).cast("long").as("c"))
      adj.agg(sum(col("od")).cast("long").as("n_edges"),
          sum(expr("od * (od - 1) DIV 2")).cast("long").as("n_wedges"))
        .crossJoin(tri.agg(sum(col("c")).as("n_triangles")))
    },
    Some(s"""
      WITH $pairsSql,
      deg AS (SELECT n, count(*) AS d
              FROM (SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs) GROUP BY 1),
      oriented AS (
        SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS u,
               CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS v,
               CASE WHEN (da.d, a) < (db.d, b) THEN db.d ELSE da.d END AS dv
        FROM pairs JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
      wedges AS (
        SELECT e1.v AS x, e2.v AS y
        FROM oriented e1 JOIN oriented e2
          ON e1.u = e2.u AND ((e1.dv, e1.v) < (e2.dv, e2.v)))
      SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
             CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
             CAST(count(*) AS BIGINT) AS n_triangles
      FROM wedges w JOIN oriented o ON o.u = w.x AND o.v = w.y"""),
    tags = Set("graph"))

  /** Fixed-iteration integer PageRank (3 hops, damping 85/100, ranks
    * in millionths): every iteration is contribution = rank DIV
    * out-degree pushed along each directed edge, summed per target,
    * damped — one join + one aggregate per hop, all keyed on node id.
    * Fixed iteration count keeps the plan static (no convergence
    * probe, no driver round-trips) — the production spelling for
    * "rank this 100 TB link graph" is exactly k chained hops of this
    * shape. */
  val pagerank: GQuery = GQuery(
    "graph_pagerank",
    (s, dir) => {
      val pairs = sharedEdges(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // degree is a per-edge constant: attach it ONCE and persist the
      // (src, dst, d) frame — each of the 3 hops then joins only the
      // current rank, not rank AND deg
      val edgesD = graft.Caches.persistTracked(edges.join(deg, "src"))
      var rank = deg.select(col("src").as("n"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        rank = edgesD
          .join(rank.withColumnRenamed("n", "src"), "src")
          .select(col("dst"), expr("r DIV d").as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("s"))
          .select(col("dst").as("n"),
            (lit(150000L) + expr("(85 * s) DIV 100")).cast("long").as("r"))
      }
      rank
    },
    Some(s"""
      WITH $pairsSql,
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b AS src, a AS dst FROM pairs),
      deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT src AS n, CAST(1000000 AS BIGINT) AS r FROM deg),
      r1 AS (SELECT dst AS n, CAST(150000 + (85 * sum(r // d)) // 100 AS BIGINT) AS r
             FROM edges JOIN r0 ON r0.n = edges.src JOIN deg USING (src) GROUP BY dst),
      r2 AS (SELECT dst AS n, CAST(150000 + (85 * sum(r // d)) // 100 AS BIGINT) AS r
             FROM edges JOIN r1 ON r1.n = edges.src JOIN deg USING (src) GROUP BY dst),
      r3 AS (SELECT dst AS n, CAST(150000 + (85 * sum(r // d)) // 100 AS BIGINT) AS r
             FROM edges JOIN r2 ON r2.n = edges.src JOIN deg USING (src) GROUP BY dst)
      SELECT n, r FROM r3"""),
    tags = Set("graph"))

  /** Degree distribution of the co-purchase graph — the first question
    * asked of any graph (is it power-law? where do the hubs start?)
    * and the input to every skew decision the other graph keys make
    * (orientation in [[triangles]], salting thresholds). Two
    * map-side-combined aggregates: degree per node, then node count
    * per degree — output is O(distinct degrees), tiny at any scale. */
  val degreeDistribution: GQuery = GQuery(
    "graph_degree_distribution",
    (s, dir) => {
      val pairs = sharedEdges(s, dir)
      pairs.select(col("a").as("n")).union(pairs.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_nodes"))
    },
    Some(s"""
      WITH $pairsSql,
      deg AS (SELECT n, count(*) AS d
              FROM (SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs) GROUP BY 1)
      SELECT CAST(d AS BIGINT) AS degree, count(*) AS n_nodes
      FROM deg GROUP BY 1"""),
    tags = Set("graph"))

  /** k-hop reachability (BFS, fixed 3 hops) from a seed set: hop
    * distance = min over paths, computed by 3 unrolled
    * frontier-expansion rounds (join frontier to edges, union, min per
    * node) — the bounded-depth traversal behind "everything within k
    * links of these accounts/parts". Fixed k keeps the plan static
    * like [[pagerank]]; the iterate-to-fixpoint variant is
    * [[graft.dedup.Dedup.componentsOf]]'s RDD loop. Each round
    * shuffles (frontier ⋈ edges) + one min-aggregate keyed by node —
    * frontier size is bounded by the node count, never the path
    * count, because min-per-node collapses every round. */
  val khop: GQuery = GQuery(
    "graph_khop",
    (s, dir) => {
      val pairs = sharedEdges(s, dir)
      val edges = graft.Caches.persistTracked(
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .union(pairs.select(col("b").as("src"), col("a").as("dst"))))
      // the frontier is referenced twice per round (union + expansion
      // join) and its lineage deepens each round — each round is an
      // EAGER truncation ([[graft.Checkpoints.truncate]]: executor-
      // local by default, reliable checkpoint when
      // spark.graft.checkpoint.reliable names a durable dir — the
      // recovery contract lives on that object), keeping the next
      // round's Catalyst pass shallow (the same plan-depth cost
      // graph_kcore measures) and neither reference recomputing the
      // expansion. It is node-bounded, so the expansion join
      // broadcasts it and the edge list never reshuffles; at
      // billion-node scale drop the hint and AQE plans the shuffle
      // join.
      var front = edges.filter(col("src") < 10)
        .select(col("src").as("n")).distinct()
        .withColumn("hop", lit(0L))
        .transform(graft.Checkpoints.truncate(s))
      for (_ <- 1 to 3) {
        front = front
          .union(edges.join(broadcast(front.withColumnRenamed("n", "src")), "src")
            .select(col("dst").as("n"), (col("hop") + 1).as("hop")))
          .groupBy(col("n")).agg(min(col("hop")).as("hop"))
          .transform(graft.Checkpoints.truncate(s))
      }
      front
    },
    Some(s"""
      WITH $pairsSql,
      edges AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b AS src, a AS dst FROM pairs),
      h0 AS (SELECT DISTINCT src AS n, CAST(0 AS BIGINT) AS hop FROM edges WHERE src < 10),
      h1 AS (SELECT n, min(hop) AS hop FROM (
               SELECT n, hop FROM h0
               UNION ALL
               SELECT e.dst AS n, h0.hop + 1 FROM edges e JOIN h0 ON e.src = h0.n) GROUP BY 1),
      h2 AS (SELECT n, min(hop) AS hop FROM (
               SELECT n, hop FROM h1
               UNION ALL
               SELECT e.dst AS n, h1.hop + 1 FROM edges e JOIN h1 ON e.src = h1.n) GROUP BY 1),
      h3 AS (SELECT n, min(hop) AS hop FROM (
               SELECT n, hop FROM h2
               UNION ALL
               SELECT e.dst AS n, h2.hop + 1 FROM edges e JOIN h2 ON e.src = h2.n) GROUP BY 1)
      SELECT n, CAST(hop AS BIGINT) AS hop FROM h3"""),
    tags = Set("graph"))

  /** k-core decomposition, 3 unrolled peeling rounds at k = 100
    * (chosen at the graph's median degree so the peel actually
    * cascades — see [[degreeDistribution]]): each round recomputes
    * degrees over the surviving edge set, drops nodes below k, and
    * keeps only edges with both endpoints surviving (two left-semi
    * joins — no row widening). Emits the per-round census
    * (round, n_nodes, n_edges) — the shrinking curve IS the result.
    * Fixed round count keeps the plan static exactly like
    * [[pagerank]]; full peeling-to-fixpoint would use the
    * [[graft.dedup.Dedup.componentsOf]] RDD-loop shape. Each round is
    * one degree aggregate + two semi-joins keyed on node id — all
    * shuffle-partitioned, nothing driver-side. */
  val kcore: GQuery = GQuery(
    "graph_kcore",
    (s, dir) => {
      val K = 100
      var edges = sharedEdges(s, dir)
      var rounds = Seq.empty[org.apache.spark.sql.DataFrame]
      for (r <- 1 to 3) {
        val deg = edges.select(col("a").as("n")).union(edges.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
        // Both per-round frames are EAGER truncations: the round's
        // result is materialized and its lineage truncated, so round
        // r+1's Catalyst pass optimizes a shallow plan over a
        // LogicalRDD instead of the whole accumulated tree — without
        // this, rounds cost driver-side plan time superlinear in depth
        // (measured: rounds 1/2 in 0.8 s each, round 3 in 8 s on 7 k
        // rows). keep is NODE-bounded (≤ the surviving core), so the
        // semi-joins broadcast it and the edge set never shuffles; for
        // a core too large to broadcast, drop the hint and AQE plans
        // the shuffle semi-join. Durability tier is conf-switched
        // (graft.Checkpoints: local blocks by default, reliable
        // checkpoint under spark.graft.checkpoint.reliable).
        val keep = deg.filter(col("d") >= K).select(col("n")).transform(graft.Checkpoints.truncate(s))
        edges = edges
          .join(broadcast(keep.withColumnRenamed("n", "a")), Seq("a"), "left_semi")
          .join(broadcast(keep.withColumnRenamed("n", "b")), Seq("b"), "left_semi")
          .transform(graft.Checkpoints.truncate(s))
        rounds = rounds :+ keep.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ unionByName _)
    },
    Some(s"""
      WITH $pairsSql,
      d1 AS (SELECT n, count(*) AS d
             FROM (SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs) GROUP BY 1),
      k1 AS (SELECT n FROM d1 WHERE d >= 100),
      e1 AS (SELECT a, b FROM pairs
             WHERE a IN (SELECT n FROM k1) AND b IN (SELECT n FROM k1)),
      d2 AS (SELECT n, count(*) AS d
             FROM (SELECT a AS n FROM e1 UNION ALL SELECT b AS n FROM e1) GROUP BY 1),
      k2 AS (SELECT n FROM d2 WHERE d >= 100),
      e2 AS (SELECT a, b FROM e1
             WHERE a IN (SELECT n FROM k2) AND b IN (SELECT n FROM k2)),
      d3 AS (SELECT n, count(*) AS d
             FROM (SELECT a AS n FROM e2 UNION ALL SELECT b AS n FROM e2) GROUP BY 1),
      k3 AS (SELECT n FROM d3 WHERE d >= 100),
      e3 AS (SELECT a, b FROM e2
             WHERE a IN (SELECT n FROM k3) AND b IN (SELECT n FROM k3))
      SELECT CAST(1 AS BIGINT) AS round, (SELECT count(*) FROM k1) AS n_nodes,
             (SELECT count(*) FROM e1) AS n_edges
      UNION ALL SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
      UNION ALL SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)"""),
    tags = Set("graph"))

  /** Common-neighbor link prediction: score every non-adjacent pair
    * by how many neighbors it shares, via the wedge stream pivoted at
    * the shared node — with the standard two guards that make it
    * survivable on a power-law graph: (1) only MIDDLE nodes of degree
    * ≤ 96 generate wedges (hub co-membership is weak evidence and is
    * what makes the stream quadratic — the same df-cap move as
    * `dedup_ngram_jaccard`'s heavy-hitter drop), bounding wedge rows
    * by E·cap; (2) a score floor (≥ 5 shared neighbors) before the
    * anti-join against existing edges. Top-100 under a total order
    * (score desc, a, b) so both engines pick identical rows. */
  val linkPredict: GQuery = GQuery(
    "graph_link_predict",
    (s, dir) => {
      val MID_CAP = 96
      val MIN_COMMON = 5
      val pairs = sharedEdges(s, dir)
      val adj = pairs.select(col("a").as("n"), col("b").as("nbr"))
        .union(pairs.select(col("b").as("n"), col("a").as("nbr")))
      val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
      val mid = graft.Caches.persistTracked(
        adj.join(deg.filter(col("d") <= MID_CAP).select(col("n")), Seq("n"), "left_semi"))
      val scored = mid.as("x").join(mid.as("y"), "n")
        .filter(col("x.nbr") < col("y.nbr"))
        .groupBy(col("x.nbr").as("a"), col("y.nbr").as("b"))
        .agg(count(lit(1)).as("common"))
        .filter(col("common") >= MIN_COMMON)
      scored.join(pairs, Seq("a", "b"), "left_anti")
        .orderBy(col("common").desc, col("a"), col("b"))
        .limit(100)
    },
    Some(s"""
      WITH $pairsSql,
      adj AS (SELECT a AS n, b AS nbr FROM pairs
              UNION ALL SELECT b AS n, a AS nbr FROM pairs),
      deg AS (SELECT n, count(*) AS d FROM adj GROUP BY 1),
      mid AS (SELECT adj.n, adj.nbr FROM adj JOIN deg ON deg.n = adj.n WHERE deg.d <= 96),
      wedge AS (SELECT x.nbr AS a, y.nbr AS b, count(*) AS common
                FROM mid x JOIN mid y ON x.n = y.n AND x.nbr < y.nbr
                GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT w.a, w.b, w.common
      FROM wedge w LEFT JOIN pairs p ON p.a = w.a AND p.b = w.b
      WHERE p.a IS NULL
      ORDER BY w.common DESC, w.a, w.b LIMIT 100"""),
    tags = Set("graph"))

  /** Synchronous label propagation, 3 unrolled rounds with a TOTAL
    * tie order: every node adopts the most frequent label among its
    * neighbors, ties broken by the smaller label — argmax under
    * (count desc, label asc) is a deterministic function of the
    * neighborhood, which is what makes an ahead-of-time SQL oracle
    * possible at all (classic async LPA is run-order-dependent).
    * Each round: one edge-keyed join pushing labels along adjacency
    * + one (node, label) count aggregate + a per-node rank over ≤
    * degree rows. The node-sized label frame broadcasts
    * ([[khop]]'s trade, same caveat) and each round is an eager
    * [[graft.Checkpoints.truncate]] ([[kcore]]'s lineage-depth
    * lesson; durability tier conf-switched there). Emits the
    * final (n, label) assignment. */
  val labelProp: GQuery = GQuery(
    "graph_labelprop",
    (s, dir) => {
      val pairs = sharedEdges(s, dir)
      val adj = pairs.select(col("a").as("n"), col("b").as("nbr"))
        .union(pairs.select(col("b").as("n"), col("a").as("nbr")))
      var labels = adj.select(col("n")).distinct()
        .withColumn("lab", col("n")).transform(graft.Checkpoints.truncate(s))
      for (_ <- 1 to 3) {
        val counted = adj
          .join(broadcast(labels.select(col("n").as("nbr"), col("lab"))), "nbr")
          .groupBy(col("n"), col("lab")).agg(count(lit(1)).as("c"))
        val best = Window.partitionBy(col("n")).orderBy(col("c").desc, col("lab"))
        labels = counted
          .withColumn("rn", row_number().over(best)).filter(col("rn") === 1)
          .select(col("n"), col("lab")).transform(graft.Checkpoints.truncate(s))
      }
      labels
    },
    Some(s"""
      WITH $pairsSql,
      adj AS (SELECT a AS n, b AS nbr FROM pairs
              UNION ALL SELECT b AS n, a AS nbr FROM pairs),
      l0 AS (SELECT DISTINCT n, n AS lab FROM adj),
      r1 AS (SELECT n, lab FROM (
               SELECT adj.n, l0.lab, count(*) AS c,
                      row_number() OVER (PARTITION BY adj.n
                                         ORDER BY count(*) DESC, l0.lab) AS rn
               FROM adj JOIN l0 ON l0.n = adj.nbr GROUP BY 1, 2) WHERE rn = 1),
      r2 AS (SELECT n, lab FROM (
               SELECT adj.n, r1.lab, count(*) AS c,
                      row_number() OVER (PARTITION BY adj.n
                                         ORDER BY count(*) DESC, r1.lab) AS rn
               FROM adj JOIN r1 ON r1.n = adj.nbr GROUP BY 1, 2) WHERE rn = 1),
      r3 AS (SELECT n, lab FROM (
               SELECT adj.n, r2.lab, count(*) AS c,
                      row_number() OVER (PARTITION BY adj.n
                                         ORDER BY count(*) DESC, r2.lab) AS rn
               FROM adj JOIN r2 ON r2.n = adj.nbr GROUP BY 1, 2) WHERE rn = 1)
      SELECT n, lab FROM r3"""),
    tags = Set("graph"))

  def all: Seq[GQuery] =
    Seq(triangles, pagerank, degreeDistribution, khop, kcore, linkPredict, labelProp)
}
