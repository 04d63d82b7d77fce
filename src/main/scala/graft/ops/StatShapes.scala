package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._

/** Distributed statistics shapes (q189, q192, q193): closed-form OLS
  * regression, MAD-based robust outlier detection, and a Benford
  * first-digit audit.
  *
  * All three follow the house exactness stance: moments are accumulated
  * as exact integers/decimals (order-independent, stable under AQE
  * re-plans), and any ratio is either one final IEEE division of exact
  * operands or int64-millionth integral division — so the oracle can
  * hash-match bit-for-bit. */
object StatShapes {

  // ---- q189: per-group OLS trend (closed-form normal equations) ----

  val OLS_EPOCH = "1995-01-01"

  /** q189: least-squares slope and intercept of daily revenue (cents)
    * against the day index, per nation — the `regr_slope` class of
    * analytics, computed from the closed form
    * β = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²).
    *
    * Sibling of q145 (per-priority OLS with round(·,6) doubles): this is
    * the fully-integer form — slope/intercept emitted as exact int64
    * millionths with zero float ops anywhere, the variant a pipeline
    * uses when downstream equality/joins on the fitted params must be
    * engine- and partitioning-independent.
    *
    * Scale shape: two keyed aggregates — fact rows collapse to (nation,
    * day) once (map-side combine does most of it), then |nations|·|days|
    * points collapse to 5 moments per nation; the slope is row-local
    * arithmetic on those moments. No window, no sort, no second fact
    * scan — this is how a regression over 100 TB of facts must look.
    * Moment products are computed in DECIMAL(38,0): n·Σxy·10⁶ overflows
    * int64 already at sf0.1 scale factors, and Spark long overflow wraps
    * silently (the DuckDB mirror gets the same headroom from HUGEINT). */
  def q189OlsTrend(s: SparkSession, d: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val daily = orders(s, d)
      .join(broadcast(customer(s, d).select(col("c_custkey"),
        col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(col("o_orderdate"), lit(OLS_EPOCH)).as("x"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("y"))
    daily
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).cast(d38).as("sx"),
        sum(col("y").cast(d38)).cast(d38).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).cast(d38).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("sxx"))
      .select(col("n_name"), col("n").cast("long").as("n_days"),
        expr("cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) as bigint)")
          .as("slope_micro"),
        expr("cast((sy * sxx - sx * sxy) * 1000000 div (n * sxx - sx * sx) as bigint)")
          .as("icept_micro"))
      .orderBy(col("n_name"))
  }

  val o189 = s"""
    WITH daily AS (
      SELECT n_name, date_diff('day', TIMESTAMP '$OLS_EPOCH', o_orderdate) AS x,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS y
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    mom AS (
      SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM daily GROUP BY 1)
    SELECT n_name, CAST(n AS BIGINT) AS n_days,
      CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        AS slope_micro,
      CAST((sy * sxx - sx * sxy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        AS icept_micro
    FROM mom ORDER BY n_name"""

  // ---- q192: MAD-based robust outliers ----

  /** Outlier fence: dev > MAD_K · MAD (the classic k=3). */
  val MAD_K = 3

  /** q192: per order priority, how many order totals sit more than
    * 3 MADs from the median — the robust-statistics outlier gate a
    * quality pipeline runs where stddev-based fences would be dragged
    * by the very outliers they hunt.
    *
    * Exactness: medians of integer cents are half-integers, so both
    * median comparisons are scaled into integer space — `dev2 =
    * |2·c − med2|` (med2 = 2·median is integral), `mad4 = 2·median(dev2)
    * = 4·MAD`, and the fence `dev > 3·MAD` becomes `2·dev2 > 3·mad4`.
    * Every compared value is an exactly-representable integer in both
    * engines; nothing rides on float rounding.
    *
    * Scale shape: two grouped exact-percentile aggregates (each a
    * single-pass per-group accumulator) with a broadcast join-back of
    * the |priorities|-row median/MAD tables between them; the outlier
    * count is conditional aggregation, so groups with zero outliers
    * still appear. The deviation slice is read twice (MAD fit + final
    * count) — at cluster scale that intermediate would be persisted
    * once; here it is a cheap recompute. */
  def q192MadOutliers(s: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val base = orders(s, d).select(col("o_orderpriority"), cents.as("c"))
    val med = base.groupBy(col("o_orderpriority").as("mp"))
      .agg((expr("percentile(c, 0.5)") * 2).cast("long").as("med2"))
    val dev = base.join(broadcast(med), col("o_orderpriority") === col("mp"))
      .withColumn("dev2", abs(col("c") * 2 - col("med2")))
    val mad = dev.groupBy(col("o_orderpriority").as("gp"))
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), col("o_orderpriority") === col("gp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), min(col("med2")).as("med2"),
        min(col("mad4")).as("mad4"),
        sum(when(col("dev2") * 2 > lit(MAD_K) * col("mad4"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("o_orderpriority"))
  }

  val o192 = s"""
    WITH base AS (
      SELECT o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM orders),
    med AS (
      SELECT o_orderpriority AS mp,
        CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2
      FROM base GROUP BY 1),
    dev AS (
      SELECT o_orderpriority, med2, abs(c * 2 - med2) AS dev2
      FROM base JOIN med ON o_orderpriority = mp),
    mad AS (
      SELECT o_orderpriority AS gp,
        CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      FROM dev GROUP BY 1)
    SELECT o_orderpriority, count(*) AS n, min(med2) AS med2,
      min(mad4) AS mad4,
      CAST(SUM(CASE WHEN dev2 * 2 > $MAD_K * mad4 THEN 1 ELSE 0 END)
        AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON o_orderpriority = gp
    GROUP BY 1 ORDER BY o_orderpriority"""

  // ---- q193: Benford first-digit audit ----

  /** Benford expected shares in millionths: round(log10(1+1/d)·1e6).
    * Frozen as literals — log10 is irrational, and recomputing it on
    * each engine would reintroduce the float-parity problem. */
  val BENFORD_MICRO: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** q193: first-significant-digit distribution of order totals vs the
    * Benford expectation — the fraud/synthetic-data audit. Emits per
    * digit: observed count, observed share (int64 millionths), the
    * frozen Benford share, and the signed deviation.
    *
    * Scale shape: one 9-group aggregate (first digit via string head —
    * identical semantics on both engines for positive integers), total
    * re-derived by a 1-row broadcast; everything downstream of the
    * aggregate is row-local int arithmetic on 9 rows. */
  def q193BenfordAudit(s: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("o_totalprice")) * 100).cast("long")
    val digits = orders(s, d)
      .select(cents.as("c")).filter(col("c") > 0)
      .groupBy(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("total"))
    val benford = BENFORD_MICRO.foldLeft(lit(null).cast("long")) {
      case (acc, (dg, micro)) => when(col("digit") === dg, micro).otherwise(acc)
    }
    digits.crossJoin(broadcast(total))
      .select(col("digit").cast("long").as("digit"), col("n"),
        expr("cast(n * 1000000 div total as bigint)").as("share_micro"),
        benford.as("benford_micro"))
      .withColumn("dev_micro", col("share_micro") - col("benford_micro"))
      .orderBy(col("digit"))
  }

  val o193 = {
    val caseArms = BENFORD_MICRO
      .map { case (dg, m) => s"WHEN $dg THEN CAST($m AS BIGINT)" }
      .mkString(" ")
    s"""
    WITH digits AS (
      SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
        count(*) AS n
      FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
              AS c FROM orders) WHERE c > 0 GROUP BY 1)
    SELECT digit, n, share_micro, benford_micro,
      share_micro - benford_micro AS dev_micro
    FROM (
      SELECT CAST(digit AS BIGINT) AS digit, n,
        CAST(n * 1000000 // (SELECT sum(n) FROM digits) AS BIGINT)
          AS share_micro,
        CASE digit $caseArms END AS benford_micro
      FROM digits)
    ORDER BY digit"""
  }

  // ---- q194: distributed weighted median ----

  /** Coarse-histogram bucket width for q194's phase 1 (cents). */
  val WMED_BUCKET = 65536L

  /** q194: weighted median line price per return flag, weighted by
    * quantity units — "the price at which half the VOLUME trades", the
    * statistic plain median misstates whenever weight correlates with
    * value. Lower weighted median: the smallest price v with
    * 2·W(≤v) ≥ W_total. No built-in computes this; it composes from
    * primitives.
    *
    * Scale shape — the two-phase bucket-histogram median, NOT a
    * per-group sort: a naive `Window.partitionBy(flag).orderBy(price)`
    * prefix scan has only |groups|=3 partitions, each serializing the
    * group's (nearly all distinct) prices through one task — a
    * scale-killer at 100 TB. Instead phase 1 collapses facts to a
    * coarse (group, price div 2¹⁶) histogram (~150 buckets — the
    * prefix-scan window is domain-bounded) and locates the bucket
    * containing the median plus the cumulative weight below it; phase 2
    * rescans ONLY rows in that bucket (predicate broadcast, pushdown-
    * friendly) and prefix-scans within it (≤ 2¹⁶ distinct values).
    * Both windows are domain-bounded; the fact table is never sorted.
    * Two scans instead of one sort is the right trade — same shape as
    * q127's equi-depth histogram. All-integer thresholds throughout. */
  def q194WeightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = lineitem(s, d).select(col("l_returnflag"),
      (dec2(col("l_extendedprice")) * 100).cast("long").as("v"),
      dec2(col("l_quantity")).cast("long").as("w"))
    // the ~150-row histogram's one consumer: cumulative and total
    // weight are two windows over one partition spec, so the phase-1
    // fact scan runs once (the design's budget is 2 lineitem scans)
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val target = base
      .groupBy(col("l_returnflag"), expr(s"v div $WMED_BUCKET").as("bkt"))
      .agg(sum(col("w")).as("bw"))
      .withColumn("cum", sum(col("bw")).over(byFlag.orderBy(col("bkt"))))
      .withColumn("tw", sum(col("bw")).over(byFlag))
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy(col("l_returnflag").as("gf"))
      .agg(min(struct(col("bkt"), (col("cum") - col("bw")).as("below"),
        col("tw"))).as("m"))
      .select(col("gf"), col("m.bkt").as("tbkt"), col("m.below").as("below"),
        col("m.tw").as("tw"))
    base
      .join(broadcast(target), col("l_returnflag") === col("gf") &&
        expr(s"v div $WMED_BUCKET") === col("tbkt"))
      .groupBy(col("l_returnflag"), col("v"), col("below"), col("tw"))
      .agg(sum(col("w")).as("wv"))
      .withColumn("cw", sum(col("wv")).over(byFlag.orderBy(col("v"))))
      .filter((col("below") + col("cw")) * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("tw")).as("total_units"),
        min(col("v")).as("wmedian_cents"))
      .orderBy(col("l_returnflag"))
  }

  val o194 = """
    WITH vals AS (
      SELECT l_returnflag,
        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, v,
        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw
      FROM vals),
    tot AS (
      SELECT l_returnflag AS tf, CAST(SUM(w) AS BIGINT) AS tw
      FROM vals GROUP BY 1)
    SELECT l_returnflag, min(tw) AS total_units, min(v) AS wmedian_cents
    FROM cum JOIN tot ON l_returnflag = tf
    WHERE cw * 2 >= tw
    GROUP BY 1 ORDER BY l_returnflag"""

  // ---- q227: k-anonymity generalization ladder ----

  /** Anonymity threshold for q227. */
  val K_ANON = 8L

  /** q227: k-anonymity audit with a local-recoding generalization
    * ladder — the release-gate a training pipeline runs before letting
    * structured records (here: customers under the quasi-identifiers
    * nation × market segment × account-balance band) into a corpus.
    * Equivalence classes of < $K_ANON rows cannot be released as-is
    * (their members are re-identifiable); instead of dropping them, the
    * ladder generalizes ONLY the failing classes upward —
    * level 0 (nation, segment, band) → level 1 (nation, segment) →
    * level 2 (segment) → level 3 fully suppressed — pooling each
    * remainder until the pool clears k or runs out of ladder. The
    * ledger lists every released class with its level and size, so
    * min(n_rows) over the output IS the k of the released set.
    *
    * Balance bands are exact-integer: `(round(cents) + 100000) div
    * 100000` (the shift keeps the dividend non-negative, where Spark's
    * truncating `div` and DuckDB's flooring `//` agree; the explicit
    * round() is required because a bare double→bigint CAST truncates
    * in Spark but rounds in DuckDB, so x.4999/x.5 representations of
    * the same cents value could band-shift between engines).
    *
    * Scale shape: ONE row-level exchange (the level-0 aggregate); every
    * later rung re-aggregates the previous remainder LEDGER (class-
    * count-sized, shrinking each rung), never the row table. All
    * integer arithmetic. */
  def q227KAnonymity(s: SparkSession, d: String): DataFrame = {
    val c0 = t(s, d, "customer")
      .select(col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000L) div 100000L")
          .as("band"))
      .groupBy(col("nat"), col("seg"), col("band"))
      .agg(count(lit(1)).as("n"))
    val ok0 = c0.filter(col("n") >= K_ANON)
      .select(lit(0L).as("level"), col("nat"), col("seg"), col("band"),
        col("n").as("n_rows"))
    val rem0 = c0.filter(col("n") < K_ANON)
    val c1 = rem0.groupBy(col("nat"), col("seg"))
      .agg(sum(col("n")).as("n"))
    val ok1 = c1.filter(col("n") >= K_ANON)
      .select(lit(1L).as("level"), col("nat"), col("seg"),
        lit(-1L).as("band"), col("n").as("n_rows"))
    val rem1 = c1.filter(col("n") < K_ANON)
    val c2 = rem1.groupBy(col("seg")).agg(sum(col("n")).as("n"))
    val ok2 = c2.filter(col("n") >= K_ANON)
      .select(lit(2L).as("level"), lit(-1L).as("nat"), col("seg"),
        lit(-1L).as("band"), col("n").as("n_rows"))
    val rem2 = c2.filter(col("n") < K_ANON)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
      .filter(col("n") > 0)
      .select(lit(3L).as("level"), lit(-1L).as("nat"), lit("*").as("seg"),
        lit(-1L).as("band"), col("n").as("n_rows"))
    ok0.unionAll(ok1).unionAll(ok2).unionAll(rem2)
      .orderBy(col("level"), col("nat"), col("seg"), col("band"))
  }

  val o227 = s"""
    WITH c0 AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
        (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band,
        COUNT(*) AS n
      FROM customer GROUP BY 1, 2, 3),
    ok0 AS (SELECT 0 AS level, nat, seg, band, n FROM c0 WHERE n >= $K_ANON),
    c1 AS (SELECT nat, seg, SUM(n) AS n FROM c0 WHERE n < $K_ANON
           GROUP BY 1, 2),
    ok1 AS (SELECT 1 AS level, nat, seg, -1 AS band, n FROM c1
            WHERE n >= $K_ANON),
    c2 AS (SELECT seg, SUM(n) AS n FROM c1 WHERE n < $K_ANON GROUP BY 1),
    ok2 AS (SELECT 2 AS level, -1 AS nat, seg, -1 AS band, n FROM c2
            WHERE n >= $K_ANON),
    r3 AS (SELECT 3 AS level, -1 AS nat, '*' AS seg, -1 AS band,
             SUM(n) AS n
           FROM c2 WHERE n < $K_ANON HAVING SUM(n) > 0)
    SELECT CAST(level AS BIGINT) AS level, CAST(nat AS BIGINT) AS nat,
      seg, CAST(band AS BIGINT) AS band, CAST(n AS BIGINT) AS n_rows
    FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM ok1
          UNION ALL SELECT * FROM ok2 UNION ALL SELECT * FROM r3)
    ORDER BY level, nat, seg, band"""

  // ---- q258: l-diversity + t-closeness audit ----

  /** q258: the privacy ladder's next two rungs after q227's
    * k-anonymity — for each (nation, balance-band) equivalence class
    * with `c_mktsegment` as the SENSITIVE attribute: the class's row
    * count (k), its distinct-sensitive-value count (the l it offers —
    * a class where every member shares one segment leaks the segment
    * even at high k), and its t-closeness as total-variation distance
    * between the class's sensitive distribution and the global one,
    * computed in EXACT rational arithmetic:
    * tvd = Σ_v |n_v·N − m_v·n| / (2·n·N) scaled to ppm, so no
    * per-class float frequencies exist. The release designer reads
    * min(l) and max(tvd) off this table.
    *
    * Scale shape: ONE (class, sensitive) aggregate, read by one chain
    * of windows over that ledger (|nations|·|bands|·|segments| ≤ 1,500
    * rows by the TPC-H domains): class mass and l by (class), the
    * global sensitive distribution by (sensitive), the total by an
    * unpartitioned window; one (class) aggregate then sums the TVD
    * terms. Products run in decimal(38,0). */
  def q258LDiversity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cls = Window.partitionBy(col("nat"), col("band"))
    // TVD needs the ABSENT sensitive values too: Σ_v |p_v − q_v| =
    // Σ_present |nv·N − mv·k|/(k·N) + (N − Σ_present mv)·k/(k·N)
    t(s, d, "customer")
      .select(col("c_nationkey").cast("long").as("nat"),
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000L) div 100000L")
          .as("band"),
        col("c_mktsegment").as("sv"))
      .groupBy(col("nat"), col("band"), col("sv"))
      .agg(count(lit(1)).as("nv"))
      .withColumn("nn", sum(col("nv")).over(Window.partitionBy()))
      .withColumn("mv", sum(col("nv")).over(Window.partitionBy(col("sv"))))
      .withColumn("k_rows", sum(col("nv")).over(cls))
      // one ledger row per distinct sv, so count(sv) is countDistinct
      .withColumn("l_distinct", count(col("sv")).over(cls))
      .na.drop(Seq("nat", "band", "sv")) // the oracle's key joins drop nulls
      .groupBy(col("nat"), col("band"))
      .agg(max(col("k_rows")).as("k_rows"),
        max(col("l_distinct")).as("l_distinct"),
        max(col("nn")).as("nn"),
        sum(abs(expr("""cast(nv as decimal(38,0)) * nn
              - cast(mv as decimal(38,0)) * k_rows"""))).as("num_present"),
        sum(col("mv")).as("mv_present"))
      .withColumn("tvd_ppm", expr(
        """cast((num_present
             + cast(nn - mv_present as decimal(38,0)) * k_rows) * 1000000
           div (2 * cast(k_rows as decimal(38,0)) * nn) as bigint)"""))
      .select(col("nat"), col("band"), col("k_rows"), col("l_distinct"),
        col("tvd_ppm"))
      .orderBy(col("nat"), col("band"))
  }

  val o258 = """
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nat,
        (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band,
        c_mktsegment AS sv, CAST(COUNT(*) AS BIGINT) AS nv
      FROM customer GROUP BY 1, 2, 3),
    cls AS (
      SELECT nat, band, CAST(SUM(nv) AS BIGINT) AS k_rows,
        CAST(COUNT(DISTINCT sv) AS BIGINT) AS l_distinct
      FROM cells GROUP BY 1, 2),
    gdist AS (SELECT sv, CAST(SUM(nv) AS BIGINT) AS mv FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(nv) AS BIGINT) AS nn FROM cells),
    term AS (
      SELECT nat, band,
        SUM(abs(CAST(nv AS HUGEINT) * nn - CAST(mv AS HUGEINT) * k_rows))
          AS num_present,
        CAST(SUM(mv) AS BIGINT) AS mv_present,
        MAX(k_rows) AS k_rows, MAX(l_distinct) AS l_distinct,
        MAX(nn) AS nn
      FROM cells JOIN gdist USING (sv) JOIN cls USING (nat, band)
        CROSS JOIN tot
      GROUP BY 1, 2)
    SELECT nat, band, k_rows, l_distinct,
      CAST((num_present + CAST(nn - mv_present AS HUGEINT) * k_rows)
        * 1000000 // (2 * CAST(k_rows AS HUGEINT) * nn) AS BIGINT)
        AS tvd_ppm
    FROM term ORDER BY nat, band"""

  // ---- q288: differentially-private histogram release audit ----

  /** q288's privacy knobs: ε = 1/DP_EPS_INV per released statistic,
    * and the per-document token-contribution CLIP — the quantity that
    * actually controls token-sum sensitivity (unclipped, one huge doc
    * makes the sum's sensitivity unbounded and the mechanism
    * meaningless at any ε). */
  val DP_EPS_INV = 2L
  val DP_CLIP = 256L

  /** q288: the DP data-card release — per-source document counts and
    * CLIPPED token sums through the Laplace mechanism, released next
    * to their true values and realized errors (an AUDIT of the
    * mechanism's calibration, same stance as q232's JL audit — a real
    * release would drop the true columns). The two scale lessons a
    * 100 TB pipeline needs are both here: (1) sensitivity comes from
    * BOUNDED CONTRIBUTION — tokens clip at DP_CLIP per doc row-locally
    * in the scan, so the token sum has sensitivity DP_CLIP and noise
    * scale DP_CLIP/ε, while doc counts have sensitivity 1; (2) noise
    * is applied to the |sources|-row AGGREGATE ledger, never per row.
    *
    * Determinism/parity: the Laplace draw is the house md5 uniform —
    * k = h − 2³¹ with h the first 8 md5 hex digits of source:metric;
    * noise = sign(k)·⌊b·ln(2³¹ / max(2³¹−|k|, 1))·1e6⌋ micro-units
    * (inverse-CDF of Laplace(b), the |k|=2³¹ atom clamped). The ln
    * argument is one division of exact int64s, the floor applies to
    * the magnitude, and the sign multiplies after — mirrored
    * op-for-op in the oracle, so both engines agree bit-for-bit. */
  def q288DpRelease(s: SparkSession, d: String): DataFrame = {
    def draw(tag: String) = expr(
      s"cast(conv(substr(md5(concat(source, '$tag')), 1, 8), 16, 10) as bigint)") -
      lit(2147483648L)
    def noise6(k: org.apache.spark.sql.Column, b: Long) =
      signum(k).cast("long") * floor(
        log(lit(2147483648.0) /
          greatest(lit(2147483648L) - abs(k), lit(1L)).cast("double"))
          * lit(b * 1e6)).cast("long")
    documents(s, d)
      .select(col("source"),
        least(size(split(col("text"), " ")).cast("long"), lit(DP_CLIP))
          .as("tokc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokc")).as("tok_clipped"))
      .withColumn("noise_d6", noise6(draw(":docs"), DP_EPS_INV))
      .withColumn("noise_t6", noise6(draw(":toks"), DP_CLIP * DP_EPS_INV))
      .select(col("source"), col("n_docs"),
        (col("n_docs") * lit(1000000L) + col("noise_d6"))
          .as("docs_release_micro"),
        abs(col("noise_d6")).as("docs_err_micro"),
        col("tok_clipped"),
        (col("tok_clipped") * lit(1000000L) + col("noise_t6"))
          .as("toks_release_micro"),
        abs(col("noise_t6")).as("toks_err_micro"))
      .orderBy(col("source"))
  }

  val o288: String = s"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(LEAST(len(string_split(text, ' ')), $DP_CLIP)) AS BIGINT)
          AS tok_clipped
      FROM documents GROUP BY source),
    h AS (
      SELECT *,
        ('0x' || substr(md5(source || ':docs'), 1, 8))::BIGINT
          - 2147483648 AS hd,
        ('0x' || substr(md5(source || ':toks'), 1, 8))::BIGINT
          - 2147483648 AS ht
      FROM per),
    n AS (
      SELECT *,
        CAST(sign(hd) AS BIGINT) * CAST(FLOOR(ln(2147483648.0
          / GREATEST(2147483648 - abs(hd), 1)::DOUBLE)
          * ${DP_EPS_INV * 1000000L}) AS BIGINT) AS noise_d6,
        CAST(sign(ht) AS BIGINT) * CAST(FLOOR(ln(2147483648.0
          / GREATEST(2147483648 - abs(ht), 1)::DOUBLE)
          * ${DP_CLIP * DP_EPS_INV * 1000000L}) AS BIGINT) AS noise_t6
      FROM h)
    SELECT source, n_docs,
      n_docs * 1000000 + noise_d6 AS docs_release_micro,
      abs(noise_d6) AS docs_err_micro,
      tok_clipped,
      tok_clipped * 1000000 + noise_t6 AS toks_release_micro,
      abs(noise_t6) AS toks_err_micro
    FROM n ORDER BY source"""

  // ---- q298: Benford first-digit forensics ----

  /** q298: BENFORD'S-LAW audit of lineitem extended prices — the
    * data-forensics shape (fabricated or unit-mangled numeric columns
    * flunk the log-uniform first-digit law long before any model
    * notices): per leading digit d ∈ 1..9, the observed share vs the
    * Benford expectation log₁₀(1+1/d), both in ppm, plus the absolute
    * deviation. The expectation is ⌊ln(1+1/d)/ln(10)·10⁶⌋ — two libm
    * lns of exact small ratios and one IEEE division, the identical op
    * sequence in both engines (q270's IEEE-op-parity stance). The
    * leading digit comes from the exact integer CENTS value (q258
    * round-then-cast), so float formatting can never leak in.
    *
    * Scale shape: one map-side-combinable 9-group aggregate over a
    * row-local projection; the 1-row total broadcasts back. */
  def q298Benford(s: SparkSession, d: String): DataFrame = {
    val digits = lineitem(s, d)
      .select(expr("cast(substr(cast(cast(round(l_extendedprice * 100, 0)" +
        " as decimal(18,0)) as string), 1, 1) as bigint)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("nn"))
    digits.crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n * 1000000 div nn"))
      .withColumn("benford_ppm",
        expr("cast(floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6) as bigint)"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("benford_ppm"),
        abs(col("obs_ppm") - col("benford_ppm")).as("dev_ppm"))
      .orderBy(col("digit"))
  }

  val o298: String = """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100, 0)
          AS DECIMAL(18,0)) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM digits)
    SELECT digit, n,
      CAST(n * 1000000 // nn AS BIGINT) AS obs_ppm,
      CAST(FLOOR(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6) AS BIGINT)
        AS benford_ppm,
      CAST(abs(n * 1000000 // nn
        - CAST(FLOOR(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6) AS BIGINT))
        AS BIGINT) AS dev_ppm
    FROM digits CROSS JOIN tot ORDER BY digit"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q298_benford" -> (q298Benford _),
    "q288_dp_release"      -> (q288DpRelease _),
    "q189_ols_trend"       -> (q189OlsTrend _),
    "q192_mad_outliers"    -> (q192MadOutliers _),
    "q193_benford"         -> (q193BenfordAudit _),
    "q194_weighted_median" -> (q194WeightedMedian _),
    "q227_k_anonymity"     -> (q227KAnonymity _),
    "q258_l_diversity"     -> (q258LDiversity _))

  val oracles: Map[String, String] = Map(
    "q298_benford" -> o298,
    "q288_dp_release"      -> o288,
    "q189_ols_trend"       -> o189,
    "q192_mad_outliers"    -> o192,
    "q193_benford"         -> o193,
    "q194_weighted_median" -> o194,
    "q227_k_anonymity"     -> o227,
    "q258_l_diversity"     -> o258)
}
