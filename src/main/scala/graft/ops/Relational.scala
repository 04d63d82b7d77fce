package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Core relational surface: scan → filter → join → aggregate → sort/limit.
  *
  * Mirrors SURVEY.md §2 rows A1–A9 (aggregations), J1–J4 (joins), O1–O2
  * (top-k / sort), U1–U3 (set ops), EXT-A10 (cube/rollup), EXT-J5
  * (range / as-of joins) over the driver star schema.
  *
  * Scale stance: every query is a declarative DataFrame plan — Catalyst
  * pushes filters/projections into the parquet scan, plans partial+final
  * hash aggregation, and picks broadcast joins for the small dims
  * (region/nation/customer at sf vs lineitem). Top-k uses orderBy+limit,
  * which Spark plans as TakeOrderedAndProject (no global sort).
  */
object Relational {

  /** TPC-H Q1-style pricing summary (A1/A8/A9 shapes). */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
          * (lit(1) + dec2(col("l_tax")))).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val o01 = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Orders ⋈ customer grouped by market segment (A5 shape, equi join). */
  /** Broadcast the projected 2-column dim (key + segment) — the
    * projection is what keeps the broadcast small; at dim sizes where
    * even that exceeds executor memory, drop the hint and AQE falls
    * back to a shuffled join from runtime stats. */
  def q02TopSegments(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))

  val o02 = """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** TPC-H Q5-style multiway join: revenue per nation in one region
    * (EXT-J4). Join order is selectivity-first: the region filter
    * reduces customers ~5×, that reduces orders, and only the reduced
    * (o_orderkey, n_name) set meets lineitem — AQE sees its runtime
    * size and broadcasts it, so the fact table is never shuffled.
    * (Catalyst without CBO keeps the written join order, so putting the
    * big join last is on us; the same order is what a cost-based
    * optimizer would derive at any scale.) */
  def q03RevenueByNation(s: SparkSession, d: String): DataFrame = {
    val rev = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    val asiaCust = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("c_custkey"), col("n_name"))
    val asiaOrders = orders(s, d)
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"))
    // Pin the build side: left to itself AQE broadcast the FACT table
    // here (both fit locally, and it picked the bigger hash table —
    // a 600k-row build to probe 60k rows). The reduced key set is the
    // correct build side at every scale; if it outgrows broadcast,
    // drop the hint and this becomes a shuffled join on l_orderkey.
    lineitem(s, d)
      .join(broadcast(asiaOrders), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val o03 = """
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
      JOIN orders   ON l_orderkey  = o_orderkey
      JOIN customer ON o_custkey   = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY revenue DESC, n_name"""

  // ---- q150: TPC-H Q5 (local supplier volume) ----

  /** q150: the canonical CYCLIC star join — revenue from lineitems
    * where the supplier is in the CUSTOMER'S nation, per nation, one
    * order-date year, one region. q03 is the acyclic cousin; Q5's
    * extra edge (c_nationkey = s_nationkey, reached through two
    * different dimension paths) is the classic join-order stress test:
    * the nation equality can only be checked after both paths meet at
    * the fact row.
    *
    * Plan shape: orders pre-filtered by date (pushed to the scan)
    * join the region-reduced customer set FIRST — the selective
    * reduction — then the fact joins that reduced set and the supplier
    * dim, carrying both nationkeys to the equality. All dimension
    * sides broadcast; the fact never shuffles. At 100 TB the broadcast
    * of the reduced (orderkey → nationkey) set becomes a shuffled join
    * on l_orderkey — same plan skeleton, size-driven strategy. */
  def q150TpchQ5(s: SparkSession, d: String): DataFrame = {
    val rev = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    val asiaNations = nation(s, d)
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    val cust = customer(s, d)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    lineitem(s, d)
      .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(s, d)),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val o150 = """
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
      JOIN orders   ON l_orderkey  = o_orderkey
      JOIN customer ON o_custkey   = c_custkey
      JOIN supplier ON l_suppkey   = s_suppkey
        AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name"""

  /** Left-semi join (J1 shape: EXISTS subquery → semi join). */
  def q04SemiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val o04 = """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY c_custkey"""

  /** Left-anti join (NOT EXISTS): customers with no large order. */
  def q05AntiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val o05 = """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY c_custkey"""

  /** Top-k brands by lineitem count (A7/O1: TakeOrderedAndProject). */
  def q06TopBrands(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(desc("n"), col("p_brand"))
      .limit(10)

  val o06 = """
    SELECT p_brand, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 10"""

  /** Min/max/avg stats per group (A9). */
  def q07Stats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val o07 = """
    SELECT l_returnflag, MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
      MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** CUBE over two dimensions (EXT-A10). */
  def q08Cube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val o08 = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  /** ROLLUP over order status/priority (EXT-A10). */
  def q09Rollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val o09 = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""

  /** INTERSECT (EXT-U3): customers with both open and finished orders. */
  def q10Intersect(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val o10 = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey"""

  /** EXCEPT (EXT-U3). */
  def q11Except(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val o11 = """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey"""

  /** UNION ALL of two id streams then grouped count (U1 contributor shape). */
  def q12UnionContrib(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_custkey").as("id"))
      .unionByName(customer(s, d).select(col("c_custkey").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("appearances"))
      .filter(col("appearances") >= 15)
      .orderBy(col("id"))

  val o12 = """
    SELECT id, COUNT(*) AS appearances FROM (
      SELECT o_custkey AS id FROM orders
      UNION ALL
      SELECT c_custkey AS id FROM customer) u
    GROUP BY id HAVING COUNT(*) >= 15 ORDER BY id"""

  /** COUNT(DISTINCT) over a union (A3/U2 distinct-contributors shape). */
  def q13DistinctIds(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(col("o_custkey").as("id"))
      .unionByName(customer(s, d).select(col("c_custkey").as("id")))
      .agg(countDistinct(col("id")).as("n_distinct"),
           count(lit(1)).as("n_total"))

  val o13 = """
    SELECT COUNT(DISTINCT id) AS n_distinct, COUNT(*) AS n_total FROM (
      SELECT o_custkey AS id FROM orders
      UNION ALL
      SELECT c_custkey AS id FROM customer) u"""

  /** Range join (EXT-J5): purchases within 10 min after a click, same user.
    * Equi key (user_id) + range predicate on raw nanosecond longs — Spark
    * plans SMJ on the equi key with the range as a post-condition; at scale
    * the equi key bounds the join fan-out. */
  def q14RangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("buy_id"), col("ts").as("bts"))
    clicks.join(buys, Seq("user_id"))
      .filter(col("bts") >= col("cts") &&
              col("bts") < col("cts") + expr("600000000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  val o14 = """
    SELECT c.user_id, COUNT(*) AS n_pairs
    FROM (SELECT user_id, event_id, epoch_ns(ts) AS cts FROM events WHERE event_type='click') c
    JOIN (SELECT user_id, event_id, epoch_ns(ts) AS bts FROM events WHERE event_type='purchase') b
      ON c.user_id = b.user_id AND b.bts >= c.cts AND b.bts < c.cts + 600000000000
    GROUP BY c.user_id ORDER BY c.user_id"""

  /** As-of join (EXT-J5): for each purchase, the most recent prior click by
    * the same user — union + ordered window (single shuffle on user_id)
    * instead of a per-row subquery. */
  def q15AsofJoin(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("prior_click",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("prior_click"))
      .orderBy(col("purchase_id"))
  }

  val o15 = """
    SELECT event_id AS purchase_id, user_id, prior_click FROM (
      SELECT event_id, user_id, event_type,
        LAST_VALUE(CASE WHEN event_type='click' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
      FROM events WHERE event_type IN ('click','purchase')) t
    WHERE event_type = 'purchase' ORDER BY purchase_id"""

  /** J2 shape (way→node resolution): rebuild each order's ordered line
    * sequence — order-preserving child aggregation via sort_array over
    * (position, value) structs (the posexplode round-trip inverse). */
  def q46OrderLines(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_orderkey") % 500 === 0)
      .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(expr("""concat_ws(',', transform(
             array_sort(collect_list(struct(l_linenumber, l_partkey))),
             x -> x.l_partkey))""").as("part_seq"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderkey"))

  val o46 = """
    SELECT o_orderkey,
      array_to_string(list(l_partkey ORDER BY l_linenumber, l_partkey), ',') AS part_seq,
      COUNT(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey % 500 = 0
    GROUP BY o_orderkey ORDER BY o_orderkey"""

  /** A3 at scale: HLL sketch (approx_count_distinct) beside the exact
    * count. Sketches merge associatively → one shuffle of fixed-size
    * state regardless of cardinality; this is the 100 TB formulation of
    * COUNT(DISTINCT). Approximation differs per engine → rows-only
    * check, but the entry carries its own evidence: a rel_err column
    * plus a raise_error tripwire at 3× the configured rsd — the
    * CORRECTNESS artifact fails loudly instead of silently recording a
    * degraded sketch. */
  val HLL_RSD = 0.05

  /** Sketch size for q49's hash-checkable leg (q291's KMV estimator,
    * σ ≈ 1/√(k−2) ≈ 12.7% at k=64; the output fence is 4σ). */
  val Q49_KMV_K = 64

  /** Approximate distinct users per event_type. Two estimators run:
    *
    * 1. The OUTPUT estimate is a bottom-k (KMV) sketch over
    *    md5-hashed user_ids — engine-neutral state (the k smallest
    *    distinct hashes), so DuckDB replays the estimator
    *    bit-for-bit and the whole row is HASH-CHECKABLE (q291's
    *    machinery, re-pointed at the A3 surface; est =
    *    (k−1)·2⁶⁰ div kth-min, Bar-Yossef et al. 2002).
    * 2. Spark's HLL (`approx_count_distinct`) still executes as an
    *    in-query TRIPWIRE — its estimate must stay within 3·rsd of
    *    exact or the row raise_errors — but its engine-private value
    *    is dropped before output, so it can't break the cross-engine
    *    hash.
    *
    * Scale shape: one (event_type, hash) distinct, then the custom
    * TopKPerGroup plan (map-side k-bounded heaps) keeps k rows per
    * group — the user universe never sorts globally; the HLL leg is
    * one partial-aggregating pass. A group with < k distinct hashes
    * degenerates to est = exact by rule in both engines. */
  def q49ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    // repo-standard 60-bit fingerprint (15 hex chars), NOT 32-bit: the
    // exact_users leg is really a distinct-HASH count, and 32-bit
    // fingerprints undercount by birthday collisions (~1% at 1e8 users,
    // saturating at 2^32). At 60 bits the expected undercount stays
    // under 1 ppm up to ~2·10¹² users — document-level exact for any
    // realistic user universe. The KMV estimate scales to the 2^60
    // hash space in decimal(38,0) (the (k−1)·2^60 numerator overflows
    // int64); `div` yields the same truncated integer as DuckDB's
    // HUGEINT `//`.
    // Distinct (event_type, hash) stream materialized ONCE (r16): the
    // exact count and the bottom-k sketch both consume it, and the
    // un-checkpointed shape re-ran the events scan + md5 + distinct
    // per consumer (3 events scans in the executed plan; the HLL
    // tripwire leg is the intrinsic extra pass).
    val hh = events(s, d)
      .select(col("event_type"),
        expr("cast(conv(substr(md5(cast(user_id as string)),1,15),16,10) as bigint)")
          .as("h"))
      .distinct()
      .localCheckpoint()
    val exact = hh.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_users"))
    val bottomK = graft.plans.TopKPerGroup(
        hh, groupCols = Seq("event_type"), sortCols = Seq("h" -> false),
        k = Q49_KMV_K)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
    // HLL tripwire leg: value verified in-query, then dropped
    val hll = events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), HLL_RSD).as("hll_users"))
    exact.join(bottomK, Seq("event_type"))
      .join(hll, Seq("event_type"))
      .filter(when(abs(col("hll_users") - col("exact_users"))
          <= lit(3 * HLL_RSD) * col("exact_users"), lit(true)).otherwise(
        raise_error(concat(lit("q49 HLL error beyond 3*rsd for "),
          col("event_type")))))
      .withColumn("approx_users", expr(
        s"case when n_sketch < $Q49_KMV_K then n_sketch " +
        s"else cast(cast($Q49_KMV_K - 1 as decimal(38,0)) " +
        s"* 1152921504606846976 div kth_hash as bigint) end"))
      .withColumn("err_ppm", expr(
        "abs(approx_users - exact_users) * 1000000 div exact_users"))
      .select(col("event_type"), col("exact_users"), col("n_sketch"),
        col("kth_hash"), col("approx_users"),
        // 4σ fence: k=64 ⇒ σ≈12.7% ⇒ trip beyond 508000 ppm
        expr("""case when err_ppm > 508000
             then cast(raise_error(concat('q49: KMV error beyond 4 sigma: ',
               cast(err_ppm as string))) as bigint)
             else err_ppm end""").as("err_ppm"))
      .orderBy(col("event_type"))
  }

  val o49: String = s"""
    WITH hh AS (
      SELECT DISTINCT event_type,
        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM events),
    bk AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hh),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
        CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM bk WHERE rn <= $Q49_KMV_K GROUP BY event_type),
    ex AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_users
      FROM hh GROUP BY event_type),
    est AS (
      SELECT event_type, exact_users, n_sketch, kth_hash,
        CAST(CASE WHEN n_sketch < $Q49_KMV_K THEN n_sketch
          ELSE CAST($Q49_KMV_K - 1 AS HUGEINT)
            * 1152921504606846976 // kth_hash END AS BIGINT)
          AS approx_users
      FROM ex JOIN agg USING (event_type))
    SELECT event_type, exact_users, n_sketch, kth_hash, approx_users,
      CAST(CASE
        WHEN abs(approx_users - exact_users) * 1000000 // exact_users > 508000
        THEN error('q49: KMV error beyond 4 sigma')
        ELSE abs(approx_users - exact_users) * 1000000 // exact_users
        END AS BIGINT) AS err_ppm
    FROM est ORDER BY event_type"""

  /** A3's INCREMENTAL form: q49's estimate is a number that cannot be
    * combined later — re-counting a grown corpus means a full re-scan.
    * q90 keeps PERSISTABLE, MERGEABLE sketch state per group and derives
    * the global (ALL) estimate by UNIONING the group sketches — no
    * second pass over the data. At 100 TB this is how distinct-counts
    * compose across days/sources/tiers: store the per-partition sketch,
    * union on demand.
    *
    * Two mergeable estimators run (the q49 two-leg contract):
    *
    * 1. The OUTPUT estimates come from per-group KMV sketches — state =
    *    the k smallest 60-bit user-id fingerprints, engine-neutral, so
    *    DuckDB replays both the per-group estimates AND the union-merge
    *    bit-for-bit and every row is HASH-CHECKABLE. The ALL row's
    *    sketch is the bottom-k of the UNION of the per-group kept
    *    hashes (KMV's merge is exactly set-union then re-truncate) —
    *    events is never rescanned for it.
    * 2. DataSketches HLL (`hll_sketch_agg` per group, `hll_union_agg`
    *    for ALL) still executes as an in-query TRIPWIRE — each estimate
    *    must stay within 3·rsd of exact or the row raise_errors — but
    *    its engine-private value is dropped before output. */
  def q90HllMergeable(s: SparkSession, d: String): DataFrame = {
    val K = Q49_KMV_K
    val hh = events(s, d)
      .select(col("event_type"),
        expr("cast(conv(substr(md5(cast(user_id as string)),1,15),16,10) as bigint)")
          .as("h"))
      .distinct()
    // the persisted per-group sketch state (k smallest hashes); two
    // consumers (per-group estimate, union merge) — materialize the
    // ≤ k·|groups| rows once
    val kept = graft.plans.TopKPerGroup(hh, groupCols = Seq("event_type"),
      sortCols = Seq("h" -> false), k = K)
      .localCheckpoint()
    val perGroup = kept.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .join(events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users")), Seq("event_type"))
    // ALL row: merge = distinct-union of the group sketches' hashes,
    // re-truncated to bottom-k (k-bounded TakeOrdered, never a rescan)
    val unioned = kept.select(col("h")).distinct()
      .orderBy(col("h")).limit(K)
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .crossJoin(broadcast(events(s, d)
        .agg(countDistinct(col("user_id")).as("exact_users"))))
      .select(lit("ALL").as("event_type"), col("n_sketch"),
        col("kth_hash"), col("exact_users"))
    // HLL tripwire legs (mergeable sketch family stays executed):
    // per-group sketches + their union, verified within 3·rsd, dropped
    val hllGroups = events(s, d).groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sketch"))
    val hll = hllGroups
      .select(col("event_type"),
        expr("hll_sketch_estimate(sketch)").as("hll_users"))
      .union(hllGroups.agg(
        expr("hll_sketch_estimate(hll_union_agg(sketch))").as("hll_users"))
        .select(lit("ALL").as("event_type"), col("hll_users")))
    perGroup.union(unioned)
      .join(hll, Seq("event_type"))
      .filter(when(abs(col("hll_users") - col("exact_users"))
          <= lit(3 * HLL_RSD) * col("exact_users"), lit(true)).otherwise(
        raise_error(concat(lit("q90 HLL error beyond 3*rsd for "),
          col("event_type")))))
      .withColumn("approx_users", expr(
        s"case when n_sketch < $K then n_sketch " +
        s"else cast(cast($K - 1 as decimal(38,0)) " +
        s"* 1152921504606846976 div kth_hash as bigint) end"))
      .withColumn("err_ppm", expr(
        "abs(approx_users - exact_users) * 1000000 div exact_users"))
      .select(col("event_type"), col("exact_users"), col("n_sketch"),
        col("kth_hash"), col("approx_users"),
        // 4σ fence: k=64 ⇒ σ≈12.7% ⇒ trip beyond 508000 ppm
        expr("""case when err_ppm > 508000
             then cast(raise_error(concat('q90: KMV error beyond 4 sigma: ',
               cast(err_ppm as string))) as bigint)
             else err_ppm end""").as("err_ppm"))
      .orderBy(col("event_type"))
  }

  val o90: String = s"""
    WITH hh AS (
      SELECT DISTINCT event_type,
        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM events),
    bk AS (
      SELECT event_type, h,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hh),
    kept AS (SELECT event_type, h FROM bk WHERE rn <= $Q49_KMV_K),
    pg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
        CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM kept GROUP BY event_type),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type),
    merged AS (
      SELECT h FROM (SELECT DISTINCT h FROM kept)
      ORDER BY h LIMIT $Q49_KMV_K),
    rows_all AS (
      SELECT event_type, n_sketch, kth_hash, exact_users
      FROM pg JOIN ex USING (event_type)
      UNION ALL
      SELECT 'ALL' AS event_type,
        CAST((SELECT COUNT(*) FROM merged) AS BIGINT) AS n_sketch,
        CAST((SELECT MAX(h) FROM merged) AS BIGINT) AS kth_hash,
        CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
          AS exact_users),
    est AS (
      SELECT event_type, exact_users, n_sketch, kth_hash,
        CAST(CASE WHEN n_sketch < $Q49_KMV_K THEN n_sketch
          ELSE CAST($Q49_KMV_K - 1 AS HUGEINT)
            * 1152921504606846976 // kth_hash END AS BIGINT)
          AS approx_users
      FROM rows_all)
    SELECT event_type, exact_users, n_sketch, kth_hash, approx_users,
      CAST(CASE
        WHEN abs(approx_users - exact_users) * 1000000 // exact_users > 508000
        THEN error('q90: KMV error beyond 4 sigma')
        ELSE abs(approx_users - exact_users) * 1000000 // exact_users
        END AS BIGINT) AS err_ppm
    FROM est ORDER BY event_type"""

  /** A9 at scale (sketch quantiles beside exact q53): HASH-GREEN as of
    * r14 via the q49 playbook — the OUTPUT estimator is an
    * engine-neutral sketch DuckDB replays bit-for-bit, and the
    * engine-private sketches run as in-query tripwires only.
    *
    * 1. The OUTPUT sample quantile comes from a bottom-K-by-hash
    *    sample per group (K=$Q75_SAMPLE_K rows with the smallest
    *    60-bit md5 of the row identity — the KMV state shape pointed
    *    at ROWS instead of distinct values, so it is a uniform
    *    without-replacement row sample, mergeable by union+re-top-K).
    *    Both the sample quantile and the exact quantile are
    *    interpolated (type 7) in EXACT integer arithmetic: l_quantity
    *    is integral, so with t=(n−1)·P (P∈{50,99}), lo=t div 100,
    *    frac=t mod 100, q_centi = 100·v[lo] + frac·(v[lo+1]−v[lo]) is
    *    a BIGINT both engines compute identically — no double, no
    *    rounding-mode hazard.
    * 2. The exact leg needs NO global sort: values collapse to
    *    (group, value) runs (≤50 per group — the q149 value-run
    *    rewrite) and the rank probes read the run-cumulative counts.
    * 3. Spark's `percentile` (exact) and `percentile_approx`
    *    (mergeable KLL-ish sketch) still execute as tripwires — exact
    *    must equal the centi leg to 1e-9·100 centi and the sketch must
    *    sit within 1.0 of exact — then both are dropped pre-output so
    *    their engine-private values can't break the cross-engine hash.
    *
    * Scale shape: the sample is map-side K-bounded heaps (TopKPerGroup
    * partial stage — the user universe never sorts globally); the
    * exact leg is one map-side-combined (group,value) agg + a
    * 50-runs/group window; the tripwire legs are one partial-agg pass.
    * Sample error fence: K=4096 on a 1..50-uniform-ish value column
    * gives σ(p50) = √(0.25/K)/f ≈ 0.39 quantity units (f≈1/50 per
    * unit); the fence trips at 2.00 units = 200 centi ≈ 5σ. Observed
    * max err across sf0.001/0.01/0.1: 100 centi. */
  val APPROX_Q_ACC = 10000
  val Q75_SAMPLE_K = 4096
  val Q75_SAMP_FENCE_CENTI = 200
  def q75ApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    // exact leg: value runs + within-group cumulative counts (≤50 runs);
    // n comes from the runs themselves (Σc) — no second corpus scan. The
    // md5 row-fingerprint is projected ONLY on the sample leg (it's the
    // expensive per-row expression).
    val runs = lineitem(s, d)
      .select(col("l_returnflag").as("rf"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("rf"), col("q")).agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy(col("rf")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n rides the same single exchange as the cumulative window (an
    // unordered whole-partition frame) — Spark would otherwise re-scan
    // the shared `runs` subtree for a separate totals aggregate
    val cum = runs
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("rf"))))
    def pick(nc: String, p: Int, hi: Boolean): org.apache.spark.sql.Column = {
      val bump = if (hi) s" + (case when ($nc-1)*$p % 100 > 0 then 1 else 0 end)" else ""
      min(when(expr(s"cum >= ($nc-1)*$p div 100$bump + 1"), col("q")))
    }
    val ex = cum.groupBy(col("rf"))
      .agg(max(col("n")).as("n"),
           pick("n", 50, hi = false).as("e50_lo"), pick("n", 50, hi = true).as("e50_hi"),
           pick("n", 99, hi = false).as("e99_lo"), pick("n", 99, hi = true).as("e99_hi"),
           max(expr("(n-1)*50 % 100")).as("f50"), max(expr("(n-1)*99 % 100")).as("f99"))
      .select(col("rf"), col("n"),
        expr("e50_lo*100 + f50*(e50_hi - e50_lo)").as("p50_centi"),
        expr("e99_lo*100 + f99*(e99_hi - e99_lo)").as("p99_centi"))
    // sample leg: bottom-K by hash (map-side K-bounded heaps), then the
    // same interpolation over the K-bounded sorted sample
    val sampLi = lineitem(s, d).select(
      col("l_returnflag").as("rf"),
      col("l_quantity").cast("long").as("q"),
      expr("cast(conv(substr(md5(concat(cast(l_orderkey as string), '|', " +
        "cast(l_linenumber as string))),1,15),16,10) as bigint)").as("h"),
      col("l_orderkey"), col("l_linenumber"))
    val samp = graft.plans.TopKPerGroup(sampLi,
        groupCols = Seq("rf"),
        sortCols = Seq("h" -> false, "l_orderkey" -> false, "l_linenumber" -> false),
        k = Q75_SAMPLE_K)
      .select(col("rf"), col("q"))
    val sordW = Window.partitionBy(col("rf")).orderBy(col("q"))
    val sord = samp
      .withColumn("idx", row_number().over(sordW) - 1)
      .withColumn("sn", count(lit(1)).over(Window.partitionBy(col("rf"))))
    def spick(p: Int, hi: Boolean): org.apache.spark.sql.Column = {
      val bump = if (hi) s" + (case when (sn-1)*$p % 100 > 0 then 1 else 0 end)" else ""
      min(when(expr(s"idx = (sn-1)*$p div 100$bump"), col("q")))
    }
    val sq = sord.groupBy(col("rf"))
      .agg(max(col("sn")).as("sample_n"),
           spick(50, hi = false).as("s50_lo"), spick(50, hi = true).as("s50_hi"),
           spick(99, hi = false).as("s99_lo"), spick(99, hi = true).as("s99_hi"),
           max(expr("(sn-1)*50 % 100")).as("sf50"),
           max(expr("(sn-1)*99 % 100")).as("sf99"))
      .select(col("rf"), col("sample_n"),
        expr("s50_lo*100 + sf50*(s50_hi - s50_lo)").as("p50_samp_centi"),
        expr("s99_lo*100 + sf99*(s99_hi - s99_lo)").as("p99_samp_centi"))
    // tripwire legs (engine-private; verified then dropped): Spark's
    // exact percentile must agree with the centi leg, and the
    // percentile_approx sketch must sit within 1.0 of exact
    val trip = lineitem(s, d).groupBy(col("l_returnflag").as("rf"))
      .agg(expr("percentile(l_quantity, 0.5)").as("tw50"),
           expr("percentile(l_quantity, 0.99)").as("tw99"),
           expr(s"percentile_approx(l_quantity, 0.5, $APPROX_Q_ACC)")
             .cast("double").as("ta50"),
           expr(s"percentile_approx(l_quantity, 0.99, $APPROX_Q_ACC)")
             .cast("double").as("ta99"))
    ex.join(sq, Seq("rf")).join(broadcast(trip), Seq("rf"))
      .withColumn("p50_err_centi", abs(col("p50_samp_centi") - col("p50_centi")))
      .withColumn("p99_err_centi", abs(col("p99_samp_centi") - col("p99_centi")))
      .filter(when(
        // 1e-6, not 1e-9: Spark computes the percentile rank position
        // (n-1)*p in floating point, so the exact leg carries ~n*2^-53
        // absolute error — already ~3e-10 per group at sf1, crossing
        // 1e-9 near sf10 (r14 advice). The fence only needs to catch
        // off-by-one-RANK errors, which move the value by >=0.01.
        abs(col("p50_centi") / 100.0 - col("tw50")) <= 1e-6 &&
        abs(col("p99_centi") / 100.0 - col("tw99")) <= 1e-6 &&
        abs(col("ta50") - col("tw50")) <= 1.0 &&
        abs(col("ta99") - col("tw99")) <= 1.0 &&
        col("p50_err_centi") <= Q75_SAMP_FENCE_CENTI &&
        col("p99_err_centi") <= Q75_SAMP_FENCE_CENTI, lit(true)).otherwise(
        raise_error(concat(lit("q75 tripwire: centi/exact/sketch disagree for "),
          col("rf")))))
      .select(col("rf").as("l_returnflag"), col("n"), col("sample_n"),
        col("p50_centi"), col("p99_centi"),
        col("p50_samp_centi"), col("p99_samp_centi"),
        col("p50_err_centi"), col("p99_err_centi"))
      .orderBy(col("l_returnflag"))
  }

  val o75: String = s"""
    WITH li AS (
      SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q,
        ('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
          l_linenumber::VARCHAR), 1, 15))::BIGINT AS h,
        l_orderkey, l_linenumber
      FROM lineitem),
    tot AS (SELECT rf, COUNT(*) AS n FROM li GROUP BY rf),
    runs AS (SELECT rf, q, COUNT(*) AS c FROM li GROUP BY rf, q),
    cum AS (
      SELECT rf, q, SUM(c) OVER (PARTITION BY rf ORDER BY q
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM runs),
    ex AS (
      SELECT t.rf,
        MIN(CASE WHEN cum >= (n-1)*50 // 100 + 1 THEN q END) AS e50_lo,
        MIN(CASE WHEN cum >= (n-1)*50 // 100
          + (CASE WHEN (n-1)*50 % 100 > 0 THEN 1 ELSE 0 END) + 1
          THEN q END) AS e50_hi,
        MIN(CASE WHEN cum >= (n-1)*99 // 100 + 1 THEN q END) AS e99_lo,
        MIN(CASE WHEN cum >= (n-1)*99 // 100
          + (CASE WHEN (n-1)*99 % 100 > 0 THEN 1 ELSE 0 END) + 1
          THEN q END) AS e99_hi,
        MAX((n-1)*50 % 100) AS f50, MAX((n-1)*99 % 100) AS f99
      FROM cum JOIN tot t USING (rf) GROUP BY t.rf),
    samp AS (
      SELECT rf, q FROM (
        SELECT rf, q, row_number() OVER (PARTITION BY rf
          ORDER BY h, l_orderkey, l_linenumber) AS hrn
        FROM li) WHERE hrn <= $Q75_SAMPLE_K),
    sord AS (
      SELECT rf, q, row_number() OVER (PARTITION BY rf ORDER BY q) - 1 AS idx,
        COUNT(*) OVER (PARTITION BY rf) AS sn
      FROM samp),
    sq AS (
      SELECT rf, MAX(sn) AS sample_n,
        MIN(CASE WHEN idx = (sn-1)*50 // 100 THEN q END) AS s50_lo,
        MIN(CASE WHEN idx = (sn-1)*50 // 100
          + (CASE WHEN (sn-1)*50 % 100 > 0 THEN 1 ELSE 0 END)
          THEN q END) AS s50_hi,
        MIN(CASE WHEN idx = (sn-1)*99 // 100 THEN q END) AS s99_lo,
        MIN(CASE WHEN idx = (sn-1)*99 // 100
          + (CASE WHEN (sn-1)*99 % 100 > 0 THEN 1 ELSE 0 END)
          THEN q END) AS s99_hi,
        MAX((sn-1)*50 % 100) AS sf50, MAX((sn-1)*99 % 100) AS sf99
      FROM sord GROUP BY rf)
    SELECT t.rf AS l_returnflag, t.n, sq.sample_n,
      e50_lo*100 + f50*(e50_hi - e50_lo) AS p50_centi,
      e99_lo*100 + f99*(e99_hi - e99_lo) AS p99_centi,
      s50_lo*100 + sf50*(s50_hi - s50_lo) AS p50_samp_centi,
      s99_lo*100 + sf99*(s99_hi - s99_lo) AS p99_samp_centi,
      abs(s50_lo*100 + sf50*(s50_hi - s50_lo)
        - (e50_lo*100 + f50*(e50_hi - e50_lo))) AS p50_err_centi,
      abs(s99_lo*100 + sf99*(s99_hi - s99_lo)
        - (e99_lo*100 + f99*(e99_hi - e99_lo))) AS p99_err_centi
    FROM tot t JOIN ex USING (rf) JOIN sq USING (rf)
    ORDER BY l_returnflag"""

  /** A8-family gap: fixed-width numeric histogram (the classic OLAP
    * binning operator — `width_bucket` semantics with a constant width,
    * so no global min/max pass is needed). One hash aggregation over
    * (bucket, partials); bucket bounds are integer-derived and the
    * per-bucket sum is exact decimal — fully deterministic at any
    * partitioning. At 100 TB this is a single map-side-combined pass. */
  val HIST_WIDTH = 5000
  def q97Histogram(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / HIST_WIDTH).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("bucket"))

  val o97 = s"""
    SELECT CAST(FLOOR(l_extendedprice / $HIST_WIDTH) AS BIGINT) AS bucket,
      COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem GROUP BY bucket ORDER BY bucket"""

  /** Correlated scalar subquery shape (each customer's max-price
    * orders) — expressed as aggregate + self-join, which is exactly what
    * Catalyst decorrelates the subquery into; value comparison is raw
    * (no arithmetic), so double equality is exact. */
  def q50ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val mx = o.groupBy(col("o_custkey").as("ck"))
      .agg(max(col("o_totalprice")).as("max_tp"))
    o.join(mx, col("o_custkey") === col("ck") && col("o_totalprice") === col("max_tp"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val o50 = """
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
    WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o_custkey, o_orderkey"""

  /** Pivot (long → wide): event-type counts per user bucket. */
  def q51Pivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("user_bucket"))

  val o51 = """
    SELECT user_id % 10 AS user_bucket,
      COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY user_bucket ORDER BY user_bucket"""

  /** Per-group top-k via the custom TopKPerGroup plan node (partial
    * map-side heaps + clustered final merge — see graft.plans). Same
    * semantics as the q27 window formulation, checked against the same
    * oracle shape. */
  def q52CustomTopK(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerGroup(
      customer(s, d),
      groupCols = Seq("c_mktsegment"),
      sortCols = Seq("c_acctbal" -> true, "c_custkey" -> false),
      k = 3)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), desc("c_acctbal"), col("c_custkey"))

  val o52 = """
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
        ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) t
    WHERE rn <= 3
    ORDER BY c_mktsegment, c_acctbal DESC, c_custkey"""

  /** The TopKRewrite optimizer rule under the oracle gate: the query is
    * written as the plain window idiom (row_number ≤ k, rank pruned);
    * the injected Rule[LogicalPlan] replaces it with TopKPerGroupPlan
    * (window sort eliminated) and the rewritten plan must still
    * hash-match DuckDB's window SQL. */
  def q68TopkRewrite(s: SparkSession, d: String): DataFrame = {
    graft.plans.TopKRewrite.enable(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s_nationkey"))
      .orderBy(desc("s_acctbal"), col("s_suppkey"))
    supplier(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
      .orderBy(col("s_nationkey"), desc("s_acctbal"), col("s_suppkey"))
  }

  val o68 = """
    SELECT s_nationkey, s_suppkey, s_acctbal FROM (
      SELECT s_nationkey, s_suppkey, s_acctbal,
        ROW_NUMBER() OVER (PARTITION BY s_nationkey
                           ORDER BY s_acctbal DESC, s_suppkey) AS rn
      FROM supplier) t
    WHERE rn <= 2
    ORDER BY s_nationkey, s_acctbal DESC, s_suppkey"""

  /** Exact interpolated quantiles (A9 extension): `percentile` in Spark
    * and `quantile_cont` in DuckDB share the p·(n−1) interpolation rule.
    * (The sketch-based scale variant is `percentile_approx`/t-digest —
    * approximate, so the exact form is what the oracle checks.) */
  def q53Quantiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
           expr("percentile(l_quantity, 0.9)").as("p90"),
           expr("percentile(l_quantity, 0.99)").as("p99"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  val o53 = """
    SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
      quantile_cont(l_quantity, 0.9) AS p90,
      quantile_cont(l_quantity, 0.99) AS p99, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Edit-distance near-dup pairs (dedup family): exact Levenshtein on a
    * bounded candidate set — at scale this is the verify stage behind a
    * length/shingle prefilter, never the full cross product. */
  def q54EditDistance(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") < 30)
    val a = docs.select(col("doc_id").as("i"), col("text").as("ta"))
    val b = docs.select(col("doc_id").as("j"), col("text").as("tb"))
    a.join(b, col("i") < col("j"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= 300)
      .select(col("i"), col("j"), col("dist"))
      .orderBy(col("i"), col("j"))
  }

  val o54 = """
    SELECT a.doc_id AS i, b.doc_id AS j,
      CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id < 30 AND b.doc_id < 30
      AND levenshtein(a.text, b.text) <= 300
    ORDER BY i, j"""

  /** Skew-mitigated join in the graded path: the salted equi-join is
    * semantically identical to the plain join, so the plain SQL is its
    * oracle — the determinism of the mitigation is itself under test. */
  def q57SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    val dim = e.groupBy(col("user_id")).agg(count(lit(1)).as("user_n"))
    Skew.saltedJoin(e, dim, "user_id", salts = 8)
      .filter(col("user_n") > 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val o57 = """
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
      COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN (SELECT user_id, COUNT(*) AS user_n
                        FROM events GROUP BY user_id) d
      ON e.user_id = d.user_id
    WHERE user_n > 50
    GROUP BY event_type ORDER BY event_type"""

  /** As-of join WITH TOLERANCE (EXT-J5 depth): most recent prior click
    * per purchase, but only if it happened within the last 10 minutes —
    * the bounded-staleness form every market-data/feature-store as-of
    * uses. Same single user_id shuffle as q15; the tolerance is a
    * row-local comparison of the carried as-of timestamp (integer ns). */
  def q70AsofTolerance(s: SparkSession, d: String): DataFrame = {
    val tolNs = 600L * 1000 * 1000 * 1000
    val e = events(s, d).filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickTs = when(col("event_type") === "click", col("ts"))
    e.withColumn("prior_click", last(clickId, ignoreNulls = true).over(w))
      .withColumn("prior_ts", last(clickTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("prior_ts") >= col("ts") - tolNs, col("prior_click"))
          .as("click_within_10m"))
      .orderBy(col("purchase_id"))
  }

  val o70 = """
    SELECT purchase_id, user_id,
      CASE WHEN prior_ts >= tns - 600000000000 THEN prior_click END
        AS click_within_10m
    FROM (
      SELECT event_id AS purchase_id, user_id, event_type, epoch_ns(ts) AS tns,
        LAST_VALUE(CASE WHEN event_type='click' THEN event_id END IGNORE NULLS)
          OVER w AS prior_click,
        LAST_VALUE(CASE WHEN event_type='click' THEN epoch_ns(ts) END IGNORE NULLS)
          OVER w AS prior_ts
      FROM events WHERE event_type IN ('click','purchase')
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
    WHERE event_type = 'purchase' ORDER BY purchase_id"""

  /** EXT-A10 (general form): explicit GROUPING SETS with grouping_id —
    * subsumes cube/rollup; run through spark.sql to exercise the SQL
    * entry point alongside the DSL. */
  def q59GroupingSets(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
        CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus), ())
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  }

  val o59 = """
    SELECT l_returnflag, l_linestatus,
      CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid,
      COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
    ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  /** Correlated EXISTS / NOT EXISTS (J1 family, subquery form) —
    * Catalyst decorrelates both into semi/anti joins; asserted against
    * the same ANSI text in DuckDB. */
  def q60ExistsSubquery(s: SparkSession, d: String): DataFrame = {
    customer(s, d).createOrReplaceTempView("customer")
    orders(s, d).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_custkey, c_mktsegment FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F'
                          AND o.o_totalprice < 50000)
      ORDER BY c_custkey""")
  }

  val o60 = """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 50000)
    ORDER BY c_custkey"""

  /** Long→wide→long: unpivot (melt) is the inverse of q51's pivot —
    * wide per-brand metrics back to (brand, metric, value) rows. */
  def q61Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = part(s, d).groupBy(col("p_brand")).agg(
      count(lit(1)).cast("double").as("n_parts"),
      round(dsum(col("p_retailprice")), 2).as("total_price"),
      max(col("p_size")).cast("double").as("max_size"))
    wide.unpivot(
      ids = Array(col("p_brand")),
      values = Array(col("n_parts"), col("total_price"), col("max_size")),
      variableColumnName = "metric",
      valueColumnName = "value")
      .orderBy(col("p_brand"), col("metric"))
  }

  val o61 = """
    WITH wide AS (
      SELECT p_brand,
        CAST(COUNT(*) AS DOUBLE) AS n_parts,
        ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_price,
        CAST(MAX(p_size) AS DOUBLE) AS max_size
      FROM part GROUP BY p_brand)
    SELECT p_brand, metric, value FROM (
      SELECT p_brand, 'n_parts' AS metric, n_parts AS value FROM wide
      UNION ALL
      SELECT p_brand, 'total_price', total_price FROM wide
      UNION ALL
      SELECT p_brand, 'max_size', max_size FROM wide) u
    ORDER BY p_brand, metric"""

  /** S2 at scale (stratified systematic sampler): every 10th event per
    * event_type stratum in (ts, event_id) order — deterministic, unlike
    * fraction sampling, so it sits under the oracle.
    *
    * Two-phase formulation: the naive
    * `row_number().over(partitionBy(event_type))` caps parallelism at
    * #strata — with 5 event types, 5 tasks sort the ENTIRE table at any
    * scale. Instead, sub-bucket each stratum by day (`ts div day` is
    * monotone in the sort key, so bucket order composes with in-bucket
    * (ts, event_id) order into the exact global order), rank within
    * (stratum, day), and add per-bucket starting offsets from a tiny
    * counts aggregate (#strata × #days rows, broadcast back). The heavy
    * sort now runs per (stratum, day) — parallelism grows with the data
    * span instead of the stratum count, and no task ever sorts more
    * than one day of one stratum. Output identical to the naive plan
    * (same oracle). */
  def q64StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400L * 1000 * 1000 * 1000
    val ev = events(s, d).withColumn("bkt", expr(s"ts div $dayNs"))
    val wLocal = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts"), col("event_id"))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ev.groupBy(col("event_type"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("event_type"), col("bkt"), col("off"))
    ev.withColumn("rn_local", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("event_type", "bkt"))
      .withColumn("rn", col("off") + col("rn_local"))
      .filter((col("rn") - 1) % 10 === 0)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  val o64 = """
    SELECT event_type, rn, event_id, user_id FROM (
      SELECT event_type, event_id, user_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY epoch_ns(ts), event_id) AS BIGINT) AS rn
      FROM events) t
    WHERE (rn - 1) % 10 = 0 ORDER BY event_type, rn"""

  /** Manual runtime filter (the Spark-native bloom-join pattern): build
    * a bloom filter over the selective side's join key (distributed
    * aggregation via DataFrameStatFunctions), ship it to the probe side
    * as a task-serialized sketch, and keep the EXACT join afterwards —
    * false positives only cost probe rows, never correctness, so the
    * output (and oracle) is identical to the plain join. At 100 TB this
    * is what cuts the probe-side shuffle before a selective join; Spark's
    * own InjectRuntimeFilter does the same rewrite when it fires. */
  def q65BloomJoin(s: SparkSession, d: String): DataFrame = {
    val bigOrders = orders(s, d).filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_totalprice"))
    val bf = bigOrders.stat.bloomFilter("o_orderkey", 10000, 0.01)
    // Probe through Spark's own codegen BloomFilterMightContain
    // expression (the one InjectRuntimeFilter plants), not a Scala udf:
    // the udf boxed every key and broke the WholeStageCodegen span. The
    // sketch serializes to the exact format the expression's
    // deserialize/readFrom expects (both are util.sketch.BloomFilter),
    // and the filter was built over raw longs, so the value side is the
    // raw key column. The expression isn't in the public function
    // registry — reached via the same-package GraftInternal shim.
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probe = org.apache.spark.sql.GraftInternal.toColumn(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("l_orderkey")))
    lineitem(s, d)
      .filter(probe)
      .join(bigOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("o_orderkey"))
  }

  val o65 = """
    SELECT o_orderkey, COUNT(*) AS n_lines,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderkey ORDER BY o_orderkey"""

  /** EXT-U3 multiset forms: INTERSECT ALL / EXCEPT ALL keep
    * multiplicities (grouped afterwards so the output is small and
    * totally ordered). */
  def q67ExceptAll(s: SparkSession, d: String): DataFrame = {
    val l = lineitem(s, d)
    val cheap = l.filter(col("l_quantity") < 10).select(col("l_suppkey"))
    val returned = l.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    val exc = cheap.exceptAll(returned)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_exc"))
    val inter = cheap.intersectAll(returned)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_int"))
    exc.join(inter, Seq("l_suppkey"), "full_outer")
      .select(col("l_suppkey"),
        coalesce(col("n_exc"), lit(0L)).as("n_exc"),
        coalesce(col("n_int"), lit(0L)).as("n_int"))
      .orderBy(col("l_suppkey"))
  }

  val o67 = """
    WITH cheap AS (SELECT l_suppkey FROM lineitem WHERE l_quantity < 10),
    ret AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
    exc AS (SELECT l_suppkey, COUNT(*) AS n_exc FROM
              (SELECT * FROM cheap EXCEPT ALL SELECT * FROM ret)
            GROUP BY l_suppkey),
    intr AS (SELECT l_suppkey, COUNT(*) AS n_int FROM
              (SELECT * FROM cheap INTERSECT ALL SELECT * FROM ret)
            GROUP BY l_suppkey)
    SELECT COALESCE(exc.l_suppkey, intr.l_suppkey) AS l_suppkey,
      COALESCE(n_exc, 0) AS n_exc, COALESCE(n_int, 0) AS n_int
    FROM exc FULL OUTER JOIN intr ON exc.l_suppkey = intr.l_suppkey
    ORDER BY l_suppkey"""

  // ---- q122: share-of-total / ratio-to-report ----

  /** q122: each nation's revenue as a share of its region and of the
    * world — the ratio-to-report analytic behind every "% of total"
    * dashboard column. Revenue is summed EXACTLY in decimal per
    * nation; the region and global totals are decimal window sums over
    * the |nations|-row grouped result; only the final share divisions
    * run in double (correctly-rounded IEEE on identical exact inputs
    * in both engines — the q108/q111 determinism stance).
    *
    * Scale shape: the fact table aggregates once on the join key and
    * collapses to |nations| rows BEFORE any window runs — the
    * unpartitioned global-total window executes over 25 rows, not
    * 600 M. At 100 TB the only heavy exchanges are the fact-side
    * aggregate's; both dimension joins broadcast. */
  def q122ShareOfTotal(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    val custDim = customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val byNation = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custDim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(rev).as("rev_d"))
    byNation
      .withColumn("region_d", sum(col("rev_d")).over(Window.partitionBy("r_name")))
      .withColumn("global_d", sum(col("rev_d")).over(Window.partitionBy()))
      .select(col("r_name"), col("n_name"),
        col("rev_d").cast("double").as("revenue"),
        (col("rev_d").cast("double") / col("region_d").cast("double"))
          .as("share_region"),
        (col("rev_d").cast("double") / col("global_d").cast("double"))
          .as("share_global"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val o122 = """
    WITH byn AS (
      SELECT r_name, n_name,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev_d
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name)
    SELECT r_name, n_name, CAST(rev_d AS DOUBLE) AS revenue,
      CAST(rev_d AS DOUBLE)
        / CAST(SUM(rev_d) OVER (PARTITION BY r_name) AS DOUBLE)
        AS share_region,
      CAST(rev_d AS DOUBLE) / CAST(SUM(rev_d) OVER () AS DOUBLE)
        AS share_global
    FROM byn ORDER BY r_name, n_name"""

  // ---- q161: sole-late-supplier (TPC-H Q21 shape, recast) ----

  /** q161: suppliers who were the ONLY late shipper in a
    * multi-supplier order — TPC-H Q21's double-correlated
    * EXISTS / NOT EXISTS shape, recast onto this schema ("late" =
    * shipped more than 60 days after the order date; the reference
    * schema's receipt/commit dates don't exist here). numwait counts
    * DISTINCT qualifying orders per supplier.
    *
    * Scale shape: the textbook formulation self-joins lineitem twice
    * (once per correlated subquery) — three scans and three shuffles
    * of the fact at 100 TB. Here both EXISTS collapse into ONE
    * order-keyed aggregate over the single lineitem⋈orders join:
    * n_suppliers, n_late_suppliers, and (via max-of-singleton) the
    * identity of the sole late supplier are computed together, then
    * filtered (n_supp > 1 ∧ n_late = 1). The oracle RUNS the
    * correlated EXISTS/NOT-EXISTS form, so the gate proves the
    * one-aggregate rewrite equivalent. Supplier names broadcast;
    * final top-k is TakeOrderedAndProject. */
  def q161SoleLateSupplier(s: SparkSession, d: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    // Two-level aggregate instead of two countDistincts: a pair of
    // distinct aggregates would plan an Expand (×2 rows) over the
    // fact-sized join output. The (orderkey, suppkey) collapse and the
    // orderkey collapse BOTH reuse the join's orderkey hash
    // partitioning (a partitioning on a subset of the grouping keys
    // satisfies ClusteredDistribution), so neither adds an exchange.
    val perPair = lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(late).as("is_late"))
    val perOrder = perPair
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
           sum(when(col("is_late"), 1L).otherwise(0L)).as("n_late"),
           max(when(col("is_late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    perOrder
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(25)
  }

  val o161 = """
    SELECT s.s_suppkey, s.s_name,
      CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_name LIMIT 25"""

  // ---- q177: period-over-period (YoY) via conditional aggregation ----

  /** q177: year-over-year monthly revenue per nation (1997 vs 1996).
    * The textbook formulation self-joins the monthly aggregate to
    * itself on (nation, month, year−1) — a second shuffle of the
    * aggregate plus a join. Both periods instead come out of ONE
    * conditional aggregate (`sum(when(year=…))` pivots the two years
    * into columns), so the fact table is scanned once, the shuffle is
    * the single (nation, month) aggregate, and the YoY delta is
    * row-local arithmetic. Revenue in exact cents; the relative change
    * is int64 millionths (delta·1e6 div prev — no float). */
  def q177YoyRevenue(s: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("n_name"), month(col("o_orderdate")).as("mth"))
      .agg(
        sum(when(year(col("o_orderdate")) === 1997, cents)
          .otherwise(0L)).as("rev_cur"),
        sum(when(year(col("o_orderdate")) === 1996, cents)
          .otherwise(0L)).as("rev_prev"))
      .filter(col("rev_prev") > 0)
      .withColumn("delta_cents", col("rev_cur") - col("rev_prev"))
      .withColumn("pct_micro",
        expr("(rev_cur - rev_prev) * 1000000 div rev_prev"))
      .select(col("n_name"), col("mth").cast("long").as("mth"),
        col("rev_cur"), col("rev_prev"), col("delta_cents"),
        col("pct_micro"))
      .orderBy(col("n_name"), col("mth"))
  }

  val o177 = """
    SELECT n_name, CAST(month(o_orderdate) AS BIGINT) AS mth,
      CAST(SUM(CASE WHEN year(o_orderdate) = 1997
        THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END)
        AS BIGINT) AS rev_cur,
      CAST(SUM(CASE WHEN year(o_orderdate) = 1996
        THEN CAST(o_totalprice AS DECIMAL(12,2)) * 100 ELSE 0 END)
        AS BIGINT) AS rev_prev,
      rev_cur - rev_prev AS delta_cents,
      (rev_cur - rev_prev) * 1000000 // rev_prev AS pct_micro
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY n_name, mth HAVING rev_prev > 0
    ORDER BY n_name, mth"""

  // ---- q178: large-volume orders (TPC-H Q18 shape) ----

  /** Q18's quantity floor. */
  val Q18_MIN_QTY = 250

  /** q178: orders whose total line quantity exceeds Q18_MIN_QTY, with
    * their customer — TPC-H Q18's "large-volume customer" pattern: an
    * IN-subquery over a HAVING-filtered aggregate of the biggest table.
    *
    * Scale shape: the lineitem aggregate is computed ONCE and its
    * HAVING-surviving rows (a ~0.1% sliver) carry the quantity sum
    * directly into the join — no semi-join-then-reaggregate double
    * scan, which is what engines that decorrelate naively do (the
    * oracle RUNS the IN + re-aggregate form, proving the single-pass
    * rewrite). Orders then join that sliver (AQE broadcasts it), and
    * customer names broadcast onto the result. Quantity is decimal-
    * exact integer units. */
  def q178BigOrders(s: SparkSession, d: String): DataFrame = {
    val bigOrders = lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).cast("long").as("total_qty"))
      .filter(col("total_qty") > Q18_MIN_QTY)
    orders(s, d)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("price_cents"),
        col("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
      .limit(100)
  }

  val o178 = s"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
      CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        AS price_cents,
      (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT)
       FROM lineitem WHERE l_orderkey = o_orderkey) AS total_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > $Q18_MIN_QTY)
    ORDER BY total_qty DESC, o_orderkey LIMIT 100"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q177_yoy_revenue" -> (q177YoyRevenue _),
    "q178_big_orders"  -> (q178BigOrders _),
    "q161_sole_late_supplier" -> (q161SoleLateSupplier _),
    "q150_tpch_q5"        -> (q150TpchQ5 _),
    "q122_share_of_total" -> (q122ShareOfTotal _),
    "q59_grouping_sets"   -> (q59GroupingSets _),
    "q60_exists_subquery" -> (q60ExistsSubquery _),
    "q61_unpivot"         -> (q61Unpivot _),
    "q64_stratified_sample" -> (q64StratifiedSample _),
    "q65_bloom_join"      -> (q65BloomJoin _),
    "q67_except_all"      -> (q67ExceptAll _),
    "q68_topk_rewrite"    -> (q68TopkRewrite _),
    "q70_asof_tolerance"  -> (q70AsofTolerance _),
    "q49_approx_distinct" -> (q49ApproxDistinct _),
    "q50_scalar_subquery" -> (q50ScalarSubquery _),
    "q57_salted_join"     -> (q57SaltedJoin _),
    "q51_pivot"           -> (q51Pivot _),
    "q52_custom_topk"     -> (q52CustomTopK _),
    "q53_quantiles"       -> (q53Quantiles _),
    "q54_edit_distance"   -> (q54EditDistance _),
    "q75_approx_quantiles" -> (q75ApproxQuantiles _),
    "q90_hll_mergeable"   -> (q90HllMergeable _),
    "q97_histogram"       -> (q97Histogram _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_top_segments"    -> (q02TopSegments _),
    "q03_revenue_by_nation" -> (q03RevenueByNation _),
    "q04_semi_join"       -> (q04SemiJoin _),
    "q05_anti_join"       -> (q05AntiJoin _),
    "q06_top_brands"      -> (q06TopBrands _),
    "q07_group_stats"     -> (q07Stats _),
    "q08_cube"            -> (q08Cube _),
    "q09_rollup"          -> (q09Rollup _),
    "q10_intersect"       -> (q10Intersect _),
    "q11_except"          -> (q11Except _),
    "q12_union_contrib"   -> (q12UnionContrib _),
    "q13_distinct_ids"    -> (q13DistinctIds _),
    "q14_range_join"      -> (q14RangeJoin _),
    "q15_asof_join"       -> (q15AsofJoin _),
    "q46_order_lines"     -> (q46OrderLines _))

  val oracles: Map[String, String] = Map(
    "q177_yoy_revenue" -> o177, "q178_big_orders" -> o178,
    "q01_pricing_summary" -> o01, "q02_top_segments" -> o02,
    "q03_revenue_by_nation" -> o03, "q04_semi_join" -> o04,
    "q05_anti_join" -> o05, "q06_top_brands" -> o06,
    "q07_group_stats" -> o07, "q08_cube" -> o08, "q09_rollup" -> o09,
    "q10_intersect" -> o10, "q11_except" -> o11, "q12_union_contrib" -> o12,
    "q13_distinct_ids" -> o13, "q14_range_join" -> o14, "q15_asof_join" -> o15,
    "q46_order_lines" -> o46, "q49_approx_distinct" -> o49,
    "q90_hll_mergeable" -> o90,
    "q50_scalar_subquery" -> o50, "q51_pivot" -> o51,
    "q52_custom_topk" -> o52, "q53_quantiles" -> o53,
    "q75_approx_quantiles" -> o75,
    "q54_edit_distance" -> o54, "q57_salted_join" -> o57,
    "q59_grouping_sets" -> o59, "q60_exists_subquery" -> o60,
    "q61_unpivot" -> o61, "q64_stratified_sample" -> o64,
    "q65_bloom_join" -> o65, "q67_except_all" -> o67,
    "q68_topk_rewrite" -> o68, "q70_asof_tolerance" -> o70,
    "q97_histogram" -> o97, "q122_share_of_total" -> o122,
    "q150_tpch_q5" -> o150,
    "q161_sole_late_supplier" -> o161)
}
