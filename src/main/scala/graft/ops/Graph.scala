package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Graph / market-basket analytics over the part co-purchase graph:
  * association rules (q156), triangle counting (q157), and PageRank
  * (q158). The three operator families a recommendation / graph-signal
  * pipeline runs on transaction data, each expressed as bounded
  * equi-joins and aggregates — no adjacency matrices, no driver-side
  * graph object.
  *
  * Shared derivation: baskets are the DISTINCT (order, part) rows of
  * lineitem; the co-purchase edge (p1, p2), p1 < p2, exists when the
  * two parts share at least `minSup` orders. The basket self-join that
  * builds pairs is an equi-join on the order key whose fan-out is
  * bounded by max basket size squared (13² here; order baskets are
  * bounded by schema in TPC-H-like data). At 100 TB the hazard is a
  * pathological mega-basket (one key joining against itself); the
  * mitigation is the q40/q79 stance — a documented basket-size cutoff
  * before the self-join — plus salting on the order key; both change
  * nothing on this data (max basket 13) so they are documented, not
  * gated in.
  *
  * Determinism stance: every metric is derived from exact int64 counts
  * with at most ONE final IEEE division (q145/q152 stance); PageRank
  * runs entirely in scaled int64 arithmetic (floor division is defined
  * identically in Spark `div` and DuckDB `//`), so even an iterative
  * fixpoint sketch is bit-identical across engines and partitionings.
  */
object Graph {

  /** Distinct (order o, part p) basket rows — one shuffle, reused by
    * every consumer through the local checkpoint in `basketsShared`. */
  def baskets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** The shared graph inputs, materialized (localCheckpoint) once per
    * (session, dataset): the basket table and the minSup=2 pair/edge
    * table are the SAME derivation for q156–q159, so every graph query
    * reads the cut lineage — the q134 amortized-layout stance applied to
    * a derived table instead of a physical one. In a production pipeline
    * this is the curated co-purchase edge table the graph workload
    * shares; per-query rebuilds would re-shuffle the fact four times.
    * (q156's minSup=3 pair table is the minSup=2 table filtered —
    * HAVING floors compose monotonically.) */
  def basketsShared(s: SparkSession, d: String): DataFrame =
    perSession(s, s"graph_baskets:$d")(baskets(s, d).localCheckpoint())

  /** Shared minSup=2 oriented edge table (p1 < p2) with pair support. */
  def pairs2Shared(s: SparkSession, d: String): DataFrame =
    perSession(s, s"graph_pairs2:$d")(
      pairCounts(basketsShared(s, d), 2).localCheckpoint())

  /** Co-purchase pair counts: (p1 < p2, pair_orders = co-occurrence
    * count), kept when pair_orders >= minSup. The apriori-style
    * support floor runs INSIDE the aggregate (HAVING), so the pair
    * table handed downstream is already pruned. */
  def pairCounts(b: DataFrame, minSup: Int): DataFrame = {
    val a  = b.select(col("o"), col("p").as("p1"))
    val b2 = b.select(col("o").as("o2"), col("p").as("p2"))
    a.join(b2, col("o") === col("o2") && col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= minSup)
  }

  // ---- q156: association rules (support / confidence / lift) ----

  /** Association rules from a prebuilt pair table `pc` over the basket
    * frame `b`: both directions of every frequent pair, with support,
    * confidence and lift from exact integer counts. Item counts
    * (|parts| rows) and the basket count (1 row) broadcast back onto
    * the pair table — margins are aggregates OF the already-reduced
    * tables (the q140 stance), never a second corpus scan. HAVING
    * floors compose, so any pc with floor ≤ the desired one can be
    * filtered down first. */
  def assocRulesFrom(b: DataFrame, pc: DataFrame): DataFrame = {
    val ic = b.groupBy(col("p")).agg(count(lit(1)).as("ic"))
    val nb = b.agg(countDistinct(col("o")).as("nb"))
    val directed = pc
      .select(col("p1").as("antecedent"), col("p2").as("consequent"),
              col("pair_orders"))
      .unionAll(pc.select(col("p2").as("antecedent"),
                          col("p1").as("consequent"), col("pair_orders")))
    directed
      .join(broadcast(ic.select(col("p").as("antecedent"),
                                col("ic").as("ante_orders"))), "antecedent")
      .join(broadcast(ic.select(col("p").as("consequent"),
                                col("ic").as("cons_orders"))), "consequent")
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"), col("pair_orders"),
        round(col("pair_orders").cast("double") / col("nb"), 6)
          .as("support"),
        round(col("pair_orders").cast("double") / col("ante_orders"), 6)
          .as("confidence"),
        round((col("pair_orders") * col("nb")).cast("double") /
              (col("ante_orders") * col("cons_orders")), 6).as("lift"))
  }

  /** q156: top-20 co-purchase association rules by pair support. The
    * global top-k is a TakeOrderedAndProject over the (already tiny)
    * rule table; the total order (pair_orders DESC, antecedent,
    * consequent) is unique per row, so the LIMIT frontier is
    * deterministic on both engines.
    *
    * Scale shape: one bounded basket self-join + three broadcast
    * margin joins. Nothing in the plan is proportional to the corpus
    * except the first distinct — at 100 TB the pair table (pruned by
    * the support floor inside its aggregate) is the only intermediate
    * that grows, and it grows with co-occurrence structure, not rows. */
  def q156AssocRules(s: SparkSession, d: String): DataFrame = {
    val b = basketsShared(s, d)
    assocRulesFrom(b, pairs2Shared(s, d).filter(col("pair_orders") >= 3))
      .orderBy(desc("pair_orders"), col("antecedent"), col("consequent"))
      .limit(20)
  }

  val o156 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    n AS (SELECT count(DISTINCT o) nb FROM b),
    ic AS (SELECT p, count(*) c FROM b GROUP BY 1),
    pc AS (SELECT a.p p1, b2.p p2, count(*) c FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 3),
    r AS (
      SELECT p1 antecedent, p2 consequent, pc.c pair_orders,
             i1.c ante_orders, i2.c cons_orders, n.nb
      FROM pc, n
      JOIN ic i1 ON i1.p = pc.p1 JOIN ic i2 ON i2.p = pc.p2
      UNION ALL
      SELECT p2, p1, pc.c, i2.c, i1.c, n.nb
      FROM pc, n
      JOIN ic i1 ON i1.p = pc.p1 JOIN ic i2 ON i2.p = pc.p2)
    SELECT antecedent, consequent, pair_orders,
      ROUND(CAST(pair_orders AS DOUBLE) / nb, 6) AS support,
      ROUND(CAST(pair_orders AS DOUBLE) / ante_orders, 6) AS confidence,
      ROUND(CAST(pair_orders * nb AS DOUBLE) /
            (ante_orders * cons_orders), 6) AS lift
    FROM r
    ORDER BY pair_orders DESC, antecedent, consequent
    LIMIT 20"""

  // ---- q157: degree-ordered triangle counting ----

  /** Triangle count + global clustering coefficient for an oriented
    * (p1 < p2) edge frame, via DEGREE-ORDERED wedge enumeration (the
    * Suri–Vassilvitskii / Cohen MapReduce algorithm): each edge is
    * re-oriented from its lower-(degree, id) endpoint to the higher,
    * wedges are enumerated only at each triangle's LOWEST-ordered
    * vertex, and the closing edge is probed with one more equi-join.
    *
    * Why degree-ordering and not plain id-ordering: the wedge join's
    * fan-out at a vertex is its OUT-degree squared; orienting toward
    * higher degree caps every out-degree at O(√m), so total wedge
    * work is O(m^1.5) regardless of skew — a star hub (the common
    * shape in co-purchase graphs at 100 TB: one staple part in every
    * basket) generates ZERO wedges instead of d² of them. The
    * (degree, id) struct comparison is a total order (ids unique), so
    * every triangle is counted exactly once and the count is
    * orientation-invariant — which is what lets the oracle run the
    * naive a<b<c three-way self-join instead. */
  def triangleStats(ep: DataFrame): DataFrame = {
    // deg is read FOUR times (two orientation joins, the wedge-count
    // aggregate) and oe THREE times (both wedge sides + the closing-
    // edge probe, each under a different projection so ReuseExchange
    // can't unify them) — materialize each once instead of re-running
    // the degree aggregate / orientation joins per consumer.
    val deg = ep.select(col("p1").as("v")).unionAll(ep.select(col("p2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .localCheckpoint()
    val withDeg = ep
      .join(deg.select(col("v").as("p1"), col("dg").as("d1")), "p1")
      .join(deg.select(col("v").as("p2"), col("dg").as("d2")), "p2")
    val k1 = struct(col("d1").as("dg"), col("p1").as("v"))
    val k2 = struct(col("d2").as("dg"), col("p2").as("v"))
    val oe = withDeg.select(
      when(k1 < k2, col("p1")).otherwise(col("p2")).as("src"),
      when(k1 < k2, k2).otherwise(k1).as("kd"))
      .withColumn("dst", col("kd.v"))
      .localCheckpoint()
    val e1 = oe.select(col("src"), col("kd").as("ka"))
    val e2 = oe.select(col("src").as("src2"), col("kd").as("kb"))
    val e3 = oe.select(col("src").as("a3"), col("dst").as("b3"))
    val tri = e1.join(e2, col("src") === col("src2") && col("ka") < col("kb"))
      .join(e3, col("a3") === col("ka.v") && col("b3") === col("kb.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val vw = deg.agg(count(lit(1)).as("n_vertices"),
                     sum(expr("dg * (dg - 1) div 2")).as("wedges"))
    val ne = ep.agg(count(lit(1)).as("n_edges"))
    ne.crossJoin(broadcast(tri)).crossJoin(broadcast(vw))
      .select(col("n_edges"), col("n_vertices"), col("n_triangles"),
              col("wedges"),
              round(lit(3.0) * col("n_triangles") / col("wedges"), 6)
                .as("clustering_coeff"))
  }

  /** q157: triangles + clustering coefficient of the co-purchase graph
    * (pair support >= 2). One row out; the closing-edge probe is the
    * only join proportional to wedge count. */
  def q157Triangles(s: SparkSession, d: String): DataFrame =
    triangleStats(pairs2Shared(s, d).select(col("p1"), col("p2")))

  val o157 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    e AS (SELECT a.p p1, b2.p p2 FROM b a
          JOIN b b2 ON a.o = b2.o AND a.p < b2.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
    tri AS (SELECT e1.p1 a, e1.p2 bb, e2.p2 c
            FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
            JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
    deg AS (SELECT v, count(*) d FROM
              (SELECT p1 v FROM e UNION ALL SELECT p2 FROM e)
            GROUP BY 1),
    w AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) wedges FROM deg)
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*) FROM deg) AS n_vertices,
           (SELECT count(*) FROM tri) AS n_triangles,
           wedges,
           ROUND(3.0 * (SELECT count(*) FROM tri) / wedges, 6)
             AS clustering_coeff
    FROM w"""

  // ---- q158: exact integer PageRank ----

  /** Scaled-int64 PageRank over an oriented edge frame, `iters` steps:
    * every vertex starts at 10^12; one step is
    *   r' = 150_000_000_000 + (17 * Σ_incoming(r div deg)) div 20
    * i.e. damping 0.85 = 17/20 and teleport 0.15·10^12, ALL in int64
    * floor arithmetic. Exactness is the point: float PageRank sums in
    * partition order and diverges across retries/AQE re-plans (the
    * q100 fixed-point stance); int64 floor division is deterministic
    * on both engines, so an ITERATIVE operator earns a full
    * hash-match oracle (3 unrolled CTE iterations in DuckDB).
    *
    * Scale shape: the adjacency (src, dst, deg) is materialized once
    * (localCheckpoint) and each iteration is one equi-join + one
    * grouped aggregate — rank mass moves as map-side partial sums. On
    * a cluster the adjacency would be bucketed by src so the per-step
    * join never re-exchanges the big side; the rank table (|V| rows)
    * is the only thing that moves. Vertex set = edge endpoints, and
    * the graph is symmetric, so there are no dangling vertices by
    * construction. Int64 headroom: total mass is |V|·10^12; past
    * ~10^6 vertices the per-vertex init (and teleport constant) must
    * scale down to keep the TOTAL at ~10^18 — same arithmetic,
    * smaller constants. */
  def pageRanks(ep: DataFrame, iters: Int): DataFrame = {
    val e = ep.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(ep.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    val adj = e.join(deg, "src").localCheckpoint()
    var r = deg.select(col("src").as("id"), lit(1000000000000L).as("r"))
    for (_ <- 1 to iters) {
      r = adj.join(r, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(expr("150000000000 + (17 * sum(r div dg)) div 20").as("r"))
        .select(col("dst").as("id"), col("r"))
    }
    r
  }

  /** q158: top-25 co-purchase parts by 3-iteration exact PageRank. */
  def q158PageRank(s: SparkSession, d: String): DataFrame = {
    val ep = pairs2Shared(s, d).select(col("p1"), col("p2"))
    pageRanks(ep, 3)
      .select(col("id").as("part_id"), col("r").as("rank_scaled"))
      .orderBy(desc("rank_scaled"), col("part_id"))
      .limit(25)
  }

  val o158 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS (SELECT a.p p1, b2.p p2 FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT p1 src, p2 dst FROM ep UNION ALL SELECT p2, p1 FROM ep),
    deg AS (SELECT src, count(*) d FROM e GROUP BY 1),
    r0 AS (SELECT src id, CAST(1000000000000 AS BIGINT) r FROM deg),
    it1 AS (SELECT e.dst id,
              CAST(150000000000 + (17 * SUM(r.r // deg.d)) // 20 AS BIGINT) r
            FROM e JOIN r0 r ON r.id = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst),
    it2 AS (SELECT e.dst id,
              CAST(150000000000 + (17 * SUM(r.r // deg.d)) // 20 AS BIGINT) r
            FROM e JOIN it1 r ON r.id = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst),
    it3 AS (SELECT e.dst id,
              CAST(150000000000 + (17 * SUM(r.r // deg.d)) // 20 AS BIGINT) r
            FROM e JOIN it2 r ON r.id = e.src JOIN deg ON deg.src = e.src
            GROUP BY e.dst)
    SELECT id AS part_id, r AS rank_scaled FROM it3
    ORDER BY rank_scaled DESC, part_id
    LIMIT 25"""

  // ---- q159: layered BFS k-hop reachability ----

  /** Layered breadth-first search from a seed vertex: hop distance of
    * every vertex within `hops` of the seed. The OTHER iterative-graph
    * shape beside q158: PageRank's per-step state is the full |V|-row
    * rank table; BFS's is the (usually much smaller) frontier, and each
    * step is frontier ⋈ adjacency → distinct → anti-join against the
    * visited set. Layer k is by construction exactly the vertices at
    * hop distance k (first discovery = shortest path in an unweighted
    * graph), so no min-combining is needed — the layered exclusion IS
    * the min.
    *
    * Scale shape: each step's joins are frontier-sized on the probe
    * side (the adjacency is the checkpointed build side, bucketable on
    * src at cluster scale per q134); the frontier and visited set are
    * localCheckpointed per layer — the lineage cut every iterative
    * dataflow needs, without which the plan tree doubles per hop and
    * the optimizer re-derives the whole prefix each step. */
  def bfsLayers(ep: DataFrame, hops: Int): DataFrame = {
    val e = ep.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(ep.select(col("p2").as("src"), col("p1").as("dst")))
    val adj = e.localCheckpoint()
    var layers = ep.agg(min(col("p1")).as("v")).withColumn("dist", lit(0L))
      .localCheckpoint()
    var frontier = layers
    for (k <- 1 to hops) {
      val next = adj
        .join(frontier.select(col("v").as("src")), "src")
        .select(col("dst").as("v")).distinct()
        .join(layers.select(col("v")), Seq("v"), "left_anti")
        .withColumn("dist", lit(k.toLong))
      frontier = next.localCheckpoint()
      layers = layers.unionAll(frontier)
    }
    layers
  }

  /** q159: 3-hop BFS from the minimum-id vertex of the co-purchase
    * graph — (part_id, hop distance) for every reached vertex. */
  def q159BfsKhop(s: SparkSession, d: String): DataFrame = {
    val ep = pairs2Shared(s, d).select(col("p1"), col("p2"))
    bfsLayers(ep, 3)
      .select(col("v").as("part_id"), col("dist"))
      .orderBy(col("dist"), col("part_id"))
  }

  val o159 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS (SELECT a.p p1, b2.p p2 FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT p1 src, p2 dst FROM ep UNION ALL SELECT p2, p1 FROM ep),
    d0 AS (SELECT min(p1) v, CAST(0 AS BIGINT) dist FROM ep),
    d1 AS (SELECT DISTINCT e.dst v, CAST(1 AS BIGINT) dist
           FROM e JOIN d0 ON e.src = d0.v
           WHERE e.dst NOT IN (SELECT v FROM d0)),
    d2 AS (SELECT DISTINCT e.dst v, CAST(2 AS BIGINT) dist
           FROM e JOIN d1 ON e.src = d1.v
           WHERE e.dst NOT IN (SELECT v FROM d0 UNION ALL SELECT v FROM d1)),
    d3 AS (SELECT DISTINCT e.dst v, CAST(3 AS BIGINT) dist
           FROM e JOIN d2 ON e.src = d2.v
           WHERE e.dst NOT IN (SELECT v FROM d0 UNION ALL SELECT v FROM d1
                               UNION ALL SELECT v FROM d2))
    SELECT v AS part_id, dist FROM
      (SELECT * FROM d0 UNION ALL SELECT * FROM d1
       UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
    ORDER BY dist, part_id"""

  // ---- q163: label propagation (community detection) ----

  /** Synchronous label propagation, `iters` rounds: every vertex starts
    * as its own community; each round a vertex adopts the most frequent
    * label among its neighbors, ties broken toward the smaller label.
    * The deterministic, engine-portable variant of LPA (asynchronous
    * LPA's result depends on visit order — unusable under the
    * determinism stance; fixed-round synchronous LPA is a pure
    * dataflow).
    *
    * Scale shape per round: one equi-join of the |V|-row label table
    * against the checkpointed adjacency, a map-side-combinable
    * (vertex, label) count, and a per-vertex argmax window whose
    * partitions are bounded by DEGREE (distinct neighbor labels ≤
    * neighbors), not data size. Label state is |V| rows — the same
    * footprint as PageRank's rank table; on a cluster the adjacency
    * is bucketed on src (q134) making each round exchange-free on the
    * big side. */
  def labelProp(ep: DataFrame, iters: Int): DataFrame = {
    val e = ep.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(ep.select(col("p2").as("src"), col("p1").as("dst")))
    val adj = e.localCheckpoint()
    var lab = adj.select(col("src").as("v")).distinct().withColumn("lab", col("v"))
      .localCheckpoint()
    val w = Window.partitionBy(col("v")).orderBy(desc("c"), col("lab"))
    for (k <- 1 to iters) {
      val counts = adj
        .join(lab.select(col("v").as("src"), col("lab")), "src")
        .groupBy(col("dst").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
      lab = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("v"), col("lab"))
        .localCheckpoint()
    }
    lab
  }

  /** q163: 2-round label-propagation communities of the co-purchase
    * graph — (part_id, community) for every vertex. */
  def q163LabelProp(s: SparkSession, d: String): DataFrame = {
    val ep = pairs2Shared(s, d).select(col("p1"), col("p2"))
    labelProp(ep, 2)
      .select(col("v").as("part_id"), col("lab").as("community"))
      .orderBy(col("part_id"))
  }

  val o163 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS (SELECT a.p p1, b2.p p2 FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT p1 src, p2 dst FROM ep UNION ALL SELECT p2, p1 FROM ep),
    l0 AS (SELECT DISTINCT src v, src lab FROM e),
    c1 AS (SELECT e.dst v, l.lab, count(*) c
           FROM e JOIN l0 l ON l.v = e.src GROUP BY 1, 2),
    l1 AS (SELECT v, lab FROM (
             SELECT v, lab, row_number() OVER
               (PARTITION BY v ORDER BY c DESC, lab) rn FROM c1) WHERE rn = 1),
    c2 AS (SELECT e.dst v, l.lab, count(*) c
           FROM e JOIN l1 l ON l.v = e.src GROUP BY 1, 2),
    l2 AS (SELECT v, lab FROM (
             SELECT v, lab, row_number() OVER
               (PARTITION BY v ORDER BY c DESC, lab) rn FROM c2) WHERE rn = 1)
    SELECT v AS part_id, lab AS community FROM l2 ORDER BY part_id"""

  // ---- q164: weighted shortest paths (k-round Bellman-Ford) ----

  /** k synchronous Bellman-Ford relaxation rounds from a seed vertex
    * over integer edge weights — after k rounds `dist` holds the exact
    * shortest-path cost among paths of ≤ k edges (the full shortest
    * path once k ≥ graph diameter). The weighted generalization of
    * q159's BFS: BFS's frontier/visited layering IS the min for unit
    * weights, here the min must be combined explicitly, so the state
    * is a (vertex, best-so-far) table and each round is
    *   relax = adj ⋈ dist  →  union previous  →  min per vertex.
    *
    * Weights are int64 (1e6 div pair_orders: stronger co-purchase =
    * cheaper hop), so min-combining is exact and engine-portable — no
    * float path sums. Per round: one join against the checkpointed
    * adjacency + one map-side-combinable min agg; only the dist table
    * (≤ |V| rows) carries between rounds. */
  def shortestPaths(epw: DataFrame, rounds: Int): DataFrame = {
    val e = epw.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .unionAll(epw.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
    val adj = e.localCheckpoint()
    var dist = epw.agg(min(col("p1")).as("v")).withColumn("dist", lit(0L))
      .localCheckpoint()
    for (k <- 1 to rounds) {
      val relaxed = adj
        .join(dist.select(col("v").as("src"), col("dist").as("ds")), "src")
        .select(col("dst").as("v"), (col("ds") + col("w")).as("dist"))
      dist = dist.unionAll(relaxed).groupBy(col("v")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** q164: 3-round weighted shortest paths from the minimum-id vertex;
    * edge cost 1e6 div pair_orders. */
  def q164ShortestPath(s: SparkSession, d: String): DataFrame = {
    val epw = pairs2Shared(s, d)
      .select(col("p1"), col("p2"),
        expr("1000000 div pair_orders").as("w"))
    shortestPaths(epw, 3)
      .select(col("v").as("part_id"), col("dist").as("path_cost"))
      .orderBy(col("part_id"))
  }

  val o164 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS (SELECT a.p p1, b2.p p2, count(*) pair_orders FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS (SELECT p1 src, p2 dst, 1000000 // pair_orders w FROM ep
          UNION ALL SELECT p2, p1, 1000000 // pair_orders FROM ep),
    d0 AS (SELECT min(p1) v, CAST(0 AS BIGINT) dist FROM ep),
    d1 AS (SELECT v, min(dist) dist FROM (
             SELECT v, dist FROM d0
             UNION ALL
             SELECT e.dst, d0.dist + e.w FROM e JOIN d0 ON d0.v = e.src) x
           GROUP BY v),
    d2 AS (SELECT v, min(dist) dist FROM (
             SELECT v, dist FROM d1
             UNION ALL
             SELECT e.dst, d1.dist + e.w FROM e JOIN d1 ON d1.v = e.src) x
           GROUP BY v),
    d3 AS (SELECT v, min(dist) dist FROM (
             SELECT v, dist FROM d2
             UNION ALL
             SELECT e.dst, d2.dist + e.w FROM e JOIN d2 ON d2.v = e.src) x
           GROUP BY v)
    SELECT v AS part_id, dist AS path_cost FROM d3 ORDER BY part_id"""

  // ---- q165: frequent 3-itemsets (Apriori level 3) ----

  /** q165: top-20 part triples by co-purchase support — the Apriori
    * step past q156's pairs. Candidate generation is pair-pruned (the
    * Apriori monotonicity: a frequent triple's sub-pairs are frequent
    * at the same floor, so pruning against the shared minSup=2 pair
    * table changes NOTHING in the result but bounds every join): the
    * basket self-join is restricted to frequent pairs before the third
    * item extends it, and both added sub-pairs are semi-checked
    * against the (broadcast-small) pair table BEFORE the counting
    * aggregate. Support floors thin out with itemset size — at sf0.1
    * no triple reaches support 2 (the honest Apriori cliff; the
    * result is correctly empty, proven at the gate SF where 12
    * survive). */
  def q165Itemsets3(s: SparkSession, d: String): DataFrame = {
    val b = basketsShared(s, d)
    val pc = broadcast(pairs2Shared(s, d).select(col("p1"), col("p2")))
    val bp = b.select(col("o"), col("p").as("p1"))
      .join(b.select(col("o").as("o2"), col("p").as("p2")),
        col("o") === col("o2") && col("p1") < col("p2"))
      .select(col("o"), col("p1"), col("p2"))
      .join(pc, Seq("p1", "p2"), "left_semi")
    bp
      .join(b.select(col("o").as("o3"), col("p").as("p3")),
        col("o") === col("o3") && col("p3") > col("p2"))
      .select(col("o"), col("p1"), col("p2"), col("p3"))
      .join(pc.select(col("p1"), col("p2").as("p3")), Seq("p1", "p3"), "left_semi")
      .join(pc.select(col("p1").as("p2"), col("p2").as("p3")),
        Seq("p2", "p3"), "left_semi")
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("triple_orders"))
      .filter(col("triple_orders") >= 2)
      .orderBy(desc("triple_orders"), col("p1"), col("p2"), col("p3"))
      .limit(20)
  }

  val o165 = """
    WITH b AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    t AS (SELECT a.p p1, c.p p2, e.p p3, count(*) triple_orders FROM b a
          JOIN b c ON a.o = c.o AND a.p < c.p
          JOIN b e ON a.o = e.o AND c.p < e.p
          GROUP BY 1, 2, 3 HAVING count(*) >= 2)
    SELECT p1, p2, p3, triple_orders FROM t
    ORDER BY triple_orders DESC, p1, p2, p3 LIMIT 20"""

  // ---- q235: k-core decomposition (iterated peeling) ----

  /** Core threshold and synchronous peel rounds for q235. */
  val K_CORE = 3
  val CORE_ROUNDS = 4

  /** q235: k-core decomposition of the co-purchase graph — repeatedly
    * remove every vertex with fewer than $K_CORE surviving neighbors;
    * what remains after $CORE_ROUNDS synchronous peels is (an
    * over-approximation of, and at convergence exactly) the $K_CORE-
    * core. The ledger records, per vertex, whether it survived and at
    * which round it was peeled with what degree — the density audit
    * spam/link-farm filtering and community-seeding read (a vertex's
    * peel round is a robust centrality proxy the degree alone is not).
    *
    * Each round is ONE degree aggregate over the surviving edge set
    * (two semi-joins against the alive set, map-side combined count)
    * — the q158/q163/q164 k-bounded synchronous-round shape, with the
    * alive frontier localCheckpointed so lineage stays flat. The edge
    * table is the memoized q163 pair graph; only (vertex, degree)
    * ledgers shuffle. Oracle: $CORE_ROUNDS unrolled CTE rounds. */
  def q235KCore(s: SparkSession, d: String): DataFrame = {
    val ep = pairs2Shared(s, d).select(col("p1"), col("p2"))
    val edges = ep.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(ep.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
    var alive = edges.select(col("src").as("v")).distinct()
    val peeled = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (r <- 1 to CORE_ROUNDS) {
      val e2 = edges
        .join(alive.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(alive.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
      val deg = e2.groupBy(col("dst").as("v")).agg(count(lit(1)).as("deg"))
      // Checkpoint the per-round DEGREE LEDGER, not just the survivor
      // set (r16): the peel ledger rows fed the final union lazily, so
      // each round's two semi-joins + degree aggregate re-executed at
      // output time — every peel round ran twice. Both the survivors
      // and the peeled rows now derive from the one materialized pass;
      // `alive` is a filter over the checkpoint, so per-round lineage
      // stays flat exactly as before.
      val withDeg = alive.join(deg, Seq("v"), "left")
        .withColumn("deg", coalesce(col("deg"), lit(0L)))
        .localCheckpoint()
      peeled += withDeg.filter(col("deg") < K_CORE)
        .select(col("v"), lit("peeled").as("status"),
          lit(r.toLong).as("peel_round"), col("deg"))
      alive = withDeg.filter(col("deg") >= K_CORE).select(col("v"))
    }
    val eF = edges
      .join(alive.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
      .join(alive.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
    val degF = eF.groupBy(col("dst").as("v")).agg(count(lit(1)).as("deg"))
    val core = alive.join(degF, Seq("v"), "left")
      .select(col("v"), lit("core").as("status"),
        lit(0L).as("peel_round"), coalesce(col("deg"), lit(0L)).as("deg"))
    peeled.foldLeft(core)(_ unionAll _)
      .select(col("v").as("part_id"), col("status"), col("peel_round"),
        col("deg"))
      .orderBy(col("part_id"))
  }

  /** o235's CTEs are forced MATERIALIZED: each unrolled round reads
    * the previous survivor set TWICE (degree join + membership), and
    * DuckDB inlines plain CTEs — without the keyword the base
    * co-purchase build re-evaluates ~2^rounds times and its spill
    * exhausted the gate host's disk at sf0.1. Results are identical;
    * this is purely an oracle-cost pin. */
  val o235: String = {
    val sb = new StringBuilder(s"""
    WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS MATERIALIZED (SELECT a.p p1, b2.p p2 FROM b a
           JOIN b b2 ON a.o = b2.o AND a.p < b2.p
           GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS MATERIALIZED (SELECT p1 src, p2 dst FROM ep UNION ALL SELECT p2, p1 FROM ep),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e)""")
    for (r <- 1 to CORE_ROUNDS) {
      val p = r - 1
      sb.append(s""",
    d$r AS MATERIALIZED (SELECT e.dst AS v, COUNT(*) AS deg
            FROM e JOIN a$p s ON s.v = e.src JOIN a$p t ON t.v = e.dst
            GROUP BY 1),
    w$r AS MATERIALIZED (SELECT a.v, COALESCE(d.deg, 0) AS deg
            FROM a$p a LEFT JOIN d$r d ON d.v = a.v),
    p$r AS MATERIALIZED (SELECT v, deg FROM w$r WHERE deg < $K_CORE),
    a$r AS MATERIALIZED (SELECT v FROM w$r WHERE deg >= $K_CORE)""")
    }
    sb.append(s""",
    df AS (SELECT e.dst AS v, COUNT(*) AS deg
           FROM e JOIN a$CORE_ROUNDS s ON s.v = e.src
                  JOIN a$CORE_ROUNDS t ON t.v = e.dst
           GROUP BY 1),
    core AS (SELECT a.v, 'core' AS status, 0 AS peel_round,
               COALESCE(d.deg, 0) AS deg
             FROM a$CORE_ROUNDS a LEFT JOIN df d ON d.v = a.v)
    SELECT v AS part_id, status, CAST(peel_round AS BIGINT) AS peel_round,
      CAST(deg AS BIGINT) AS deg
    FROM (SELECT * FROM core""")
    for (r <- 1 to CORE_ROUNDS)
      sb.append(s"""
      UNION ALL SELECT v, 'peeled', $r, deg FROM p$r""")
    sb.append(") ORDER BY part_id")
    sb.toString
  }

  // ---- q268: degree assortativity of the co-purchase graph ----

  /** q268: degree assortativity — the Pearson correlation of endpoint
    * degrees over the (symmetric) co-purchase edge list. Positive r:
    * hubs link to hubs (a rich-club graph where LSH/CC work piles
    * onto few partitions); negative: hub-and-spoke. The structural
    * number to read NEXT TO q113/q149's key-skew reports when
    * deciding salting. Moments are exact decimal(38,0) integers; the
    * final r applies two IEEE sqrt/divisions to exact operands (the
    * q221 sqrt stance), emitted in milli units.
    *
    * Scale shape: degrees are one aggregate over the shared
    * checkpointed edge table; the edge-end join is degree-table ⋈
    * edges on each endpoint; the whole statistic collapses to 6
    * moments. */
  def q268Assortativity(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ep = pairs2Shared(s, d).select(col("p1"), col("p2"))
    val edges = ep.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(ep.select(col("p2").as("src"), col("p1").as("dst")))
    val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val xy = edges
      .join(deg.select(col("v").as("src"), col("dg").as("x")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("dg").as("y")), Seq("dst"))
    xy.agg(count(lit(1)).as("n_edges"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("y").cast(d38) * col("y")).as("syy"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_vertices"))))
      .select(col("n_edges"), col("n_vertices"),
        expr("""cast(round(
            cast(n_edges * sxy - sx * sy as double)
            / sqrt(cast(n_edges * sxx - sx * sx as double))
            / sqrt(cast(n_edges * syy - sy * sy as double)) * 1000)
          as bigint)""").as("assort_milli"))
  }

  val o268 = """
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
    ep AS MATERIALIZED (
      SELECT a.p p1, b2.p p2 FROM b a
      JOIN b b2 ON a.o = b2.o AND a.p < b2.p
      GROUP BY 1, 2 HAVING count(*) >= 2),
    e AS MATERIALIZED (
      SELECT p1 src, p2 dst FROM ep UNION ALL SELECT p2, p1 FROM ep),
    deg AS MATERIALIZED (
      SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
    xy AS (
      SELECT dx.dg AS x, dy.dg AS y
      FROM e JOIN deg dx ON dx.v = e.src JOIN deg dy ON dy.v = e.dst),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM xy)
    SELECT n_edges,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
      CAST(ROUND(
          CAST(n_edges * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE))
          / sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE)) * 1000)
        AS BIGINT) AS assort_milli
    FROM mom"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_assortativity" -> (q268Assortativity _),
    "q156_assoc_rules"  -> (q156AssocRules _),
    "q157_triangles"    -> (q157Triangles _),
    "q158_pagerank"     -> (q158PageRank _),
    "q159_bfs_khop"     -> (q159BfsKhop _),
    "q163_label_prop"   -> (q163LabelProp _),
    "q164_shortest_path" -> (q164ShortestPath _),
    "q165_itemsets3"    -> (q165Itemsets3 _),
    "q235_kcore"        -> (q235KCore _))

  val oracles: Map[String, String] = Map(
    "q268_assortativity" -> o268,
    "q156_assoc_rules" -> o156,
    "q157_triangles"   -> o157,
    "q158_pagerank"    -> o158,
    "q159_bfs_khop"    -> o159,
    "q163_label_prop"  -> o163,
    "q164_shortest_path" -> o164,
    "q165_itemsets3"   -> o165,
    "q235_kcore"       -> o235)
}
