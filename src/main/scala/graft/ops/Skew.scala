package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §4 / builder scale mandate).
  *
  * AQE's skew-join split handles most hot keys at runtime; explicit
  * salting remains the tool when one key dominates so heavily that even
  * split partitions overwhelm a task, or when the shuffle must be
  * pre-balanced (e.g., before a stateful window). The salted join is
  * semantically identical to the plain equi-join (asserted in
  * ScaleSpec): the probe side scatters each row to one of `salts`
  * sub-keys, the build side replicates across all of them.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, with the big side scattered over
    * `salts` sub-partitions per key and the small side replicated. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    // Only semantics-preserving when unmatched SMALL rows are never
    // emitted: right/full outer would emit each unmatched small row
    // once per salt replica. Fail fast on misuse; accept every Spark
    // spelling of the safe left-ish types.
    val normalized = joinType.toLowerCase.replace("_", "").replace(" ", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "semi",
        "leftanti", "anti").contains(normalized),
      s"saltedJoin does not preserve semantics for joinType=$joinType " +
        "(replicated small side would duplicate unmatched rows)")
    val bigS = big.withColumn("__salt",
      pmod((rand(42) * salts).cast("int"), lit(salts)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }

  // ---- q149: join-key skew diagnosis report ----

  /** q149: the measurement that DECIDES skew handling — the per-key
    * frequency distribution of a join key (l_orderkey), reduced to the
    * numbers an engineer (or an adaptive rule) acts on: key count,
    * row total, max frequency, exact p50/p99 frequency, and the
    * skew ratio max/mean. q57's salted join is the cure; this is the
    * diagnosis that says whether (and how hard) to apply it.
    *
    * Scale shape: the corpus collapses to per-key counts (one
    * map-side-combined agg — key-cardinality-sized, distributed),
    * then to |distinct frequency| VALUE RUNS (bounded by max group
    * size, not key count — the q132 rewrite), and the quantile window
    * runs over those runs only. Exact integer arithmetic throughout;
    * the p-quantile positions use shared literals so both engines
    * compute the identical double before ceil (the q121
    * single-literal stance). */
  def q149SkewReport(s: SparkSession, d: String): DataFrame = {
    val counts = graft.Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val runs = counts.groupBy(col("n")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("n"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n")).as("total_rows"), max(col("n")).as("max_freq"))
    // both quantiles fold into ONE conditional aggregate over the
    // cum-run table (per-key counts are scanned exactly twice — runs +
    // totals — the minimum without materialization; the first draft's
    // three crossJoined scalar aggs recomputed them four times)
    runs.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_keys")).as("n_keys"),
           max(col("total_rows")).as("total_rows"),
           max(col("max_freq")).as("max_freq"),
           min(when(col("cum") >= ceil(lit(0.5) * col("n_keys")), col("n")))
             .as("p50_freq"),
           min(when(col("cum") >= ceil(lit(0.99) * col("n_keys")), col("n")))
             .as("p99_freq"))
      .select(col("n_keys"), col("total_rows"), col("max_freq"),
        col("p50_freq"), col("p99_freq"),
        round(col("max_freq").cast("double") * col("n_keys")
          / col("total_rows"), 6).as("skew_ratio"))
  }

  val o149 = """
    WITH counts AS (
      SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
    runs AS (SELECT n, COUNT(*) AS c FROM counts GROUP BY n),
    cum AS (
      SELECT n, SUM(c) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW) AS cum
      FROM runs),
    tot AS (
      SELECT COUNT(*) AS n_keys, SUM(n) AS total_rows, MAX(n) AS max_freq
      FROM counts),
    p50 AS (
      SELECT MIN(n) AS p50_freq FROM cum, tot
      WHERE cum >= ceil(0.5 * n_keys)),
    p99 AS (
      SELECT MIN(n) AS p99_freq FROM cum, tot
      WHERE cum >= ceil(0.99 * n_keys))
    SELECT n_keys, CAST(total_rows AS BIGINT) AS total_rows, max_freq,
      p50_freq, p99_freq,
      ROUND(CAST(max_freq AS DOUBLE) * n_keys / total_rows, 6) AS skew_ratio
    FROM tot, p50, p99"""

  // ---- q166: join output-size estimation (the pre-flight check) ----

  /** q166: EXACT output cardinality of a join, computed from per-key
    * histograms WITHOUT running the join — |A ⋈ B| = Σ_k cA(k)·cB(k).
    * Here for the worst case, the events self-join on user_id (the
    * sessionization/funnel shape): est = Σ c², the quadratic-blowup
    * number an engine must know BEFORE committing to a shuffle plan at
    * 100 TB. q149 diagnoses the key distribution; this prices a
    * specific join and names the keys that dominate it. The top-5
    * contributing keys + their share of the total output tell the
    * planner whether salting one hot key (q57) or AQE skew-split is
    * the right cure.
    *
    * Scale shape: ONE map-side-combinable count per key (the corpus
    * collapses to key cardinality), a 1-row total broadcast back, and
    * a TakeOrderedAndProject top-5 — estimation cost is a tiny
    * fraction of the join it prices, and composes for any equi-join
    * by histogramming each side. */
  def q166JoinSizeEst(s: SparkSession, d: String): DataFrame = {
    val counts = graft.Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("freq"))
    val tot = counts.agg(sum(col("freq") * col("freq")).as("est_total_rows"),
      count(lit(1)).as("n_keys"))
    counts
      .select(col("user_id"), col("freq"),
        (col("freq") * col("freq")).as("pairs_contrib"))
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("freq"), col("pairs_contrib"),
        col("est_total_rows"), col("n_keys"),
        round(col("pairs_contrib").cast("double") / col("est_total_rows"), 6)
          .as("share"))
      .orderBy(desc("pairs_contrib"), col("user_id"))
      .limit(5)
  }

  val o166 = """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS freq FROM events GROUP BY user_id),
    tot AS (
      SELECT SUM(freq * freq) AS est_total_rows, COUNT(*) AS n_keys
      FROM counts)
    SELECT user_id, freq, freq * freq AS pairs_contrib,
      CAST(est_total_rows AS BIGINT) AS est_total_rows, n_keys,
      ROUND(CAST(freq * freq AS DOUBLE) / est_total_rows, 6) AS share
    FROM counts, tot
    ORDER BY pairs_contrib DESC, user_id LIMIT 5"""

  // ---- q241: consistent-hash rebalancing audit ----

  /** Physical nodes before/after the scale-out, virtual nodes per
    * physical node. */
  val CH_NODES = 4
  val CH_VNODES = 64

  /** 60-bit md5 position — identical to Dedup.md5Hash60 and the SQL
    * form ('0x'||substr(md5(s),1,15))::BIGINT. */
  private def pos60(str: String): Long =
    graft.text.Dedup.md5Hash60(str)

  private def ringSql(n: Int): String =
    s"""SELECT ('0x' || substr(md5('n' || nd || ':' || v), 1, 15))::BIGINT
          AS vpos, 'n' || nd AS node
        FROM unnest(range($n)) a(nd), unnest(range($CH_VNODES)) b(v)"""

  /** q241: consistent-hash rebalancing — assign every document to a
    * node on a $CH_VNODES-vnode md5 ring with $CH_NODES nodes and again
    * with a fifth added, versus naive `hash mod N` placement, and
    * ledger per node: load before/after and DOCS GAINED under each
    * scheme. The table demonstrates THE consistent-hashing contract a
    * 100 TB shard layout is chosen for: adding a node moves only the
    * ~1/(N+1) of keys that land on the new node's arcs (every gained
    * doc goes TO n4 — asserted in the spec), while modulo placement
    * reshuffles ~N/(N+1) of the corpus across every node.
    *
    * Scale shape: the ring is driver-built (N·V = ${4 * 64} entries —
    * k-bounded, the k-means/PQ-LUT stance) and enters the plan as a
    * SORTED ARRAY LITERAL; per-doc assignment is a row-local
    * first-match over that array (successor-on-the-ring with
    * wraparound), so placement is a map-only pass — no join, no
    * shuffle until the |nodes|-sized load rollup. */
  def q241ConsistentHash(s: SparkSession, d: String): DataFrame = {
    def ringLit(n: Int): String = {
      val entries = for (nd <- 0 until n; v <- 0 until CH_VNODES)
        yield (pos60(s"n$nd:$v"), s"n$nd")
      entries.sortBy(_._1)
        .map { case (p, nm) => s"named_struct('p', ${p}L, 'nd', '$nm')" }
        .mkString("array(", ",", ")")
    }
    def owner(ring: String): String =
      s"""coalesce(try_element_at(filter($ring, r -> r.p > ipos), 1),
          element_at($ring, 1)).nd"""
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
          .as("ipos"))
      .withColumn("ch4", expr(owner(ringLit(CH_NODES))))
      .withColumn("ch5", expr(owner(ringLit(CH_NODES + 1))))
      .withColumn("mod4", expr(s"concat('n', pmod(ipos, $CH_NODES))"))
      .withColumn("mod5", expr(s"concat('n', pmod(ipos, ${CH_NODES + 1}))"))
    // ONE corpus pass (the q260 pattern): each doc contributes ≤5
    // (node, metric) cells which collapse in a single conditional-count
    // aggregate — replaces five independent groupBy scans that each
    // re-evaluated the 320-entry ring-owner filter per row. The
    // ch4/ch5 projection stays a separate Project node (owner() is
    // non-cheap, so CollapseProject won't duplicate it into the
    // explode), so each ring is walked exactly once per doc.
    docs
      .select(explode(filter(array(
        struct(col("ch4").as("node"), lit(0).as("m")),
        struct(col("ch5").as("node"), lit(1).as("m")),
        when(col("ch4") =!= col("ch5"),
          struct(col("ch5").as("node"), lit(2).as("m"))),
        struct(col("mod5").as("node"), lit(3).as("m")),
        when(col("mod4") =!= col("mod5"),
          struct(col("mod5").as("node"), lit(4).as("m")))),
        c => c.isNotNull)).as("c"))
      .groupBy(col("c.node").as("node"))
      .agg(
        sum(when(col("c.m") === 0, 1L).otherwise(0L)).as("ch_before"),
        sum(when(col("c.m") === 1, 1L).otherwise(0L)).as("ch_after"),
        sum(when(col("c.m") === 2, 1L).otherwise(0L)).as("ch_gained"),
        sum(when(col("c.m") === 3, 1L).otherwise(0L)).as("mod_after"),
        sum(when(col("c.m") === 4, 1L).otherwise(0L)).as("mod_gained"))
      // node universe = distinct ch5 owners, as before: a node is in
      // the ledger iff it owns >= 1 doc on the 5-node ring.
      .filter(col("ch_after") > 0)
      .orderBy(col("node"))
  }

  val o241 = s"""
    WITH r4 AS (SELECT LIST(STRUCT_PACK(p := vpos, nd := node) ORDER BY vpos)
                  AS ring FROM (${ringSql(CH_NODES)})),
    r5 AS (SELECT LIST(STRUCT_PACK(p := vpos, nd := node) ORDER BY vpos)
             AS ring FROM (${ringSql(CH_NODES + 1)})),
    d AS (
      SELECT doc_id,
        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ipos
      FROM documents),
    a AS (
      SELECT doc_id, ipos,
        COALESCE(list_filter(r4.ring, r -> r.p > ipos)[1], r4.ring[1]).nd
          AS ch4,
        COALESCE(list_filter(r5.ring, r -> r.p > ipos)[1], r5.ring[1]).nd
          AS ch5,
        'n' || (ipos % $CH_NODES) AS mod4,
        'n' || (ipos % ${CH_NODES + 1}) AS mod5
      FROM d, r4, r5),
    nodes AS (SELECT DISTINCT ch5 AS node FROM a)
    SELECT n.node,
      CAST(COALESCE((SELECT COUNT(*) FROM a WHERE ch4 = n.node), 0)
        AS BIGINT) AS ch_before,
      CAST(COALESCE((SELECT COUNT(*) FROM a WHERE ch5 = n.node), 0)
        AS BIGINT) AS ch_after,
      CAST(COALESCE((SELECT COUNT(*) FROM a
        WHERE ch5 = n.node AND ch4 <> ch5), 0) AS BIGINT) AS ch_gained,
      CAST(COALESCE((SELECT COUNT(*) FROM a WHERE mod5 = n.node), 0)
        AS BIGINT) AS mod_after,
      CAST(COALESCE((SELECT COUNT(*) FROM a
        WHERE mod5 = n.node AND mod4 <> mod5), 0) AS BIGINT) AS mod_gained
    FROM nodes n ORDER BY n.node"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_skew_report" -> (q149SkewReport _),
    "q166_join_size_est" -> (q166JoinSizeEst _),
    "q241_consistent_hash" -> (q241ConsistentHash _))

  val oracles: Map[String, String] = Map(
    "q149_skew_report" -> o149,
    "q166_join_size_est" -> o166,
    "q241_consistent_hash" -> o241)
}
