package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Behavioral / statistical analytics: retention cohorts, last-touch
  * attribution, contingency-table independence testing, and equi-depth
  * histograms.
  *
  * Reference family context: the OSM wrangling project asks "do
  * contributors stay active?", "what precedes a contribution?", and
  * "how are values distributed?" with one-off pandas passes; these are
  * the same four analyses as engine operators with exact-arithmetic
  * determinism (integer week/µs math, decimal-free IEEE on exact
  * inputs — the q109/q111 stance).
  */
object Analytics {

  /** One week in the int64 microsecond domain (the cross-engine parity
    * resolution — see Temporal.COVER_US). */
  val WEEK_US = 604_800_000_000L

  // ---- q124: retention cohorts ----

  /** q124: weekly retention triangle — users bucketed by first-activity
    * week (epoch-week index, exact integer µs division), counted in
    * each subsequent week they were active.
    *
    * Scale shape: two bounded exchanges. The per-user pass is ONE
    * user-keyed aggregate carrying `min(week)` and the distinct-week
    * set (bounded by the timeline length in weeks — ~5 here, a few
    * hundred at a decade of 100 TB history — never by event volume);
    * the exploded (cohort, offset) pairs then reduce to a triangle of
    * |weeks|²/2 rows. No self-join of the fact table against itself —
    * the textbook cohort formulation joins "first activity" back to
    * all activity, which at 100 TB is a second full shuffle; carrying
    * the week set through one aggregate is strictly smaller. */
  def q124RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val weeks = events(s, d)
      .select(col("user_id"), expr(s"(ts div 1000) div $WEEK_US").as("week"))
    weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"),
           collect_set(col("week")).as("active_weeks"))
      .select(col("user_id"), col("cohort_week"),
        explode(col("active_weeks")).as("week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val o124 = s"""
    WITH w AS (
      SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // $WEEK_US AS week
      FROM events),
    c AS (
      SELECT user_id, MIN(week) OVER (PARTITION BY user_id) AS cohort_week,
        week
      FROM w)
    SELECT cohort_week, week - cohort_week AS week_offset,
      count(*) AS n_users
    FROM c GROUP BY cohort_week, week - cohort_week
    ORDER BY cohort_week, week_offset"""

  // ---- q125: last-touch attribution ----

  /** q125: attribute each `purchase` to the user's most recent earlier
    * non-purchase event within a 7-day lookback; conversions with no
    * in-window touch fall into the 'none' bucket.
    *
    * Scale shape: one exchange on `user_id`; the touch row is
    * recovered with two `last(..., ignoreNulls)` windows over the SAME
    * (partition, order, frame) — both resolve to the same physical
    * last-matching row, so a single sort serves both and no self-join
    * of conversions against touches exists anywhere (the textbook
    * formulation is a range self-join; at 100 TB that's a second
    * shuffle plus a skew hazard on hot users). */
  def q125LastTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("tus"))
    val touchType = when(col("event_type") =!= "purchase", col("event_type"))
    events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        col("event_type"))
      .withColumn("touch_tus", last(touch, ignoreNulls = true).over(w))
      .withColumn("touch_type", last(touchType, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(
        when(col("touch_tus") >= col("tus") - WEEK_US, col("touch_type")),
        lit("none")).as("touch"))
      .groupBy(col("touch")).agg(count(lit(1)).as("n_conversions"))
      .orderBy(col("touch"))
  }

  val o125 = s"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id, event_type
      FROM events),
    t AS (
      SELECT *,
        last_value(CASE WHEN event_type <> 'purchase' THEN tus END
          IGNORE NULLS) OVER w AS touch_tus,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
          IGNORE NULLS) OVER w AS touch_type
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT COALESCE(CASE WHEN touch_tus >= tus - $WEEK_US
        THEN touch_type END, 'none') AS touch,
      count(*) AS n_conversions
    FROM t WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY touch"""

  // ---- q126: chi-square contingency table ----

  /** q126: independence test between order priority and order status —
    * the full contingency table with observed counts, expected counts
    * under independence, and per-cell χ² contributions.
    *
    * Scale shape: the fact scan collapses to |priorities|×|statuses|
    * rows in one map-side-combined aggregate BEFORE any window runs;
    * the marginals are window sums of exact int64 counts over that
    * 15-row result. The only double arithmetic is the final
    * expected/contribution division on identical exact inputs in both
    * engines (products stay in int64 — exact). */
  def q126ChiSquare(s: SparkSession, d: String): DataFrame = {
    val cells = orders(s, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("observed"))
    cells
      .withColumn("rt", sum(col("observed")).over(Window.partitionBy("o_orderpriority")))
      .withColumn("ct", sum(col("observed")).over(Window.partitionBy("o_orderstatus")))
      .withColumn("n", sum(col("observed")).over(Window.partitionBy()))
      .withColumn("expected", (col("rt") * col("ct")).cast("double") / col("n"))
      .withColumn("contrib",
        (col("observed") - col("expected")) * (col("observed") - col("expected"))
          / col("expected"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("observed"),
        round(col("expected"), 6).as("expected"),
        round(col("contrib"), 6).as("chi2_contrib"))
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))
  }

  val o126 = """
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS observed
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT *,
        SUM(observed) OVER (PARTITION BY o_orderpriority) AS rt,
        SUM(observed) OVER (PARTITION BY o_orderstatus) AS ct,
        SUM(observed) OVER () AS n
      FROM cells),
    x AS (
      SELECT *, CAST(rt * ct AS DOUBLE) / n AS expected FROM m)
    SELECT o_orderpriority, o_orderstatus, observed,
      ROUND(expected, 6) AS expected,
      ROUND((observed - expected) * (observed - expected) / expected, 6)
        AS chi2_contrib
    FROM x ORDER BY o_orderpriority, o_orderstatus"""

  // ---- q127: equi-depth histogram ----

  /** Bucket count. Boundaries at k/8 quantiles — every fraction is an
    * exact binary double, so the quantile *positions* are bit-identical
    * across engines before interpolation even starts. */
  val DEPTH_BUCKETS = 8

  /** q127: equi-depth histogram of event values — boundaries at the
    * k/B quantiles, rows assigned by "number of boundaries strictly
    * below the value" (an exact comparison count, no width arithmetic).
    * Complements q97's fixed-width histogram: equal-population buckets
    * are what query optimizers and drift monitors actually want on
    * skewed data.
    *
    * Scale shape: deliberately NOT the `ntile` formulation — ntile
    * needs one global sort partition (a single reducer at 100 TB).
    * Here the boundary aggregate reduces the scan to ONE row (exact
    * `percentile` at this SF; `percentile_approx`'s mergeable sketch at
    * 100 TB — same plan shape), broadcast back, and bucket assignment
    * is a row-local array scan feeding a B-row aggregate. No sort of
    * the fact table anywhere. */
  def q127EquidepthHist(s: SparkSession, d: String): DataFrame = {
    val fracs = (1 until DEPTH_BUCKETS)
      .map(k => k.toDouble / DEPTH_BUCKETS).mkString(",")
    // Boundaries rounded to 6 dp in BOTH engines before the comparison:
    // the two interpolation implementations can differ in the final ulp
    // (observed at sf0.001: 51.87 vs 51.86999999999999 with two data
    // rows exactly on the boundary), and an unrounded boundary then
    // puts tie rows in different buckets.
    val bounds = events(s, d)
      .agg(expr(
        s"transform(percentile(value, array($fracs)), b -> round(b, 6))")
        .as("bounds"))
    events(s, d).select(col("value")).crossJoin(broadcast(bounds))
      .select(col("value"),
        expr("size(filter(bounds, b -> value > b))").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
           min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("bucket"))
  }

  val o127 = {
    val fracs = (1 until DEPTH_BUCKETS)
      .map(k => k.toDouble / DEPTH_BUCKETS).mkString(",")
    s"""
    WITH b AS (
      SELECT list_transform(quantile_cont(value, [$fracs]),
        b -> round(b, 6)) AS bounds FROM events)
    SELECT CAST(len(list_filter(b.bounds, x -> e.value > x)) AS INT)
        AS bucket,
      count(*) AS n, min(e.value) AS min_v, max(e.value) AS max_v
    FROM events e CROSS JOIN b
    GROUP BY 1 ORDER BY bucket"""
  }

  // ---- q129: behavioral path trigrams ----

  /** q129: the 10 most common consecutive event-type trigrams per user
    * timeline — the path-mining primitive behind "what do users do
    * next" analyses and Markov-chain feature extraction.
    *
    * Scale shape: one exchange on `user_id`; both `lead`s share one
    * (partition, order) sort, trigram formation is row-local, and the
    * count feeds TakeOrderedAndProject (per-partition heaps, 10 rows
    * to the driver, no global sort). */
  def q129PathTrigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("s1"), col("t2").as("s2"), col("t3").as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("s1"), col("s2"), col("s3"))
      .limit(10)
  }

  val o129 = """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id, event_type
      FROM events),
    t AS (
      SELECT event_type AS s1,
        lead(event_type, 1) OVER w AS s2,
        lead(event_type, 2) OVER w AS s3
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
    SELECT s1, s2, s3, count(*) AS n
    FROM t WHERE s3 IS NOT NULL
    GROUP BY s1, s2, s3
    ORDER BY n DESC, s1, s2, s3
    LIMIT 10"""

  // ---- q130: data-quality expectation suite ----

  /** q130: a Deequ-style expectation report — each rule is (checked,
    * violations, pass) over its table: value ranges, domain membership,
    * non-null/non-empty, and lineitem→orders referential integrity.
    * The `customer_acctbal_nonneg` rule genuinely fails on this data
    * (negative account balances exist), so both report outcomes are
    * exercised.
    *
    * Scale shape: all rules over one table fold into ONE map-side-
    * combined conditional aggregate (one scan per table, |rules| rows
    * out — the q104 profiling shape); the FK rule is a left-anti count,
    * the only rule that joins, and its build side is the key column
    * only. Adding a rule adds a column to an existing aggregate, not a
    * scan. */
  def q130Expectations(s: SparkSession, d: String): DataFrame = {
    def report(df: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)]) = {
      val aggs = count(lit(1)).as("n") +:
        rules.map { case (nm, bad) =>
          sum(when(bad, 1L).otherwise(0L)).as(s"v_$nm") }
      val one = df.agg(aggs.head, aggs.tail: _*)
      one.select(explode(array(rules.map { case (nm, _) =>
          struct(lit(nm).as("rule"), col("n").as("n_checked"),
            col(s"v_$nm").as("n_violations"))
        }: _*)).as("r"))
        .select(col("r.rule"), col("r.n_checked"), col("r.n_violations"))
    }
    val o = report(orders(s, d), Seq(
      "orders_totalprice_positive" -> !(col("o_totalprice") > 0),
      "orders_status_domain" -> !col("o_orderstatus").isin("O", "F", "P")))
    val l = report(lineitem(s, d), Seq(
      "lineitem_quantity_range" ->
        !(col("l_quantity") >= 1 && col("l_quantity") <= 50)))
    val c = report(customer(s, d), Seq(
      "customer_acctbal_nonneg" -> (col("c_acctbal") < 0),
      "customer_name_present" ->
        (col("c_name").isNull || length(col("c_name")) === 0)))
    val orphans = lineitem(s, d).select(col("l_orderkey"))
      .join(orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
    val nLine = lineitem(s, d).agg(count(lit(1)).as("n_checked"))
    val fk = orphans.agg(count(lit(1)).as("n_violations"))
      .crossJoin(broadcast(nLine))
      .select(lit("lineitem_orderkey_fk").as("rule"), col("n_checked"),
        col("n_violations"))
    o.unionByName(l).unionByName(c).unionByName(fk)
      .withColumn("pass", col("n_violations") === 0)
      .orderBy(col("rule"))
  }

  val o130 = """
    WITH r AS (
      SELECT 'orders_totalprice_positive' AS rule, count(*) AS n_checked,
        count(*) FILTER (NOT (o_totalprice > 0)) AS n_violations FROM orders
      UNION ALL
      SELECT 'orders_status_domain', count(*),
        count(*) FILTER (o_orderstatus NOT IN ('O','F','P')) FROM orders
      UNION ALL
      SELECT 'lineitem_quantity_range', count(*),
        count(*) FILTER (NOT (l_quantity >= 1 AND l_quantity <= 50))
      FROM lineitem
      UNION ALL
      SELECT 'customer_acctbal_nonneg', count(*),
        count(*) FILTER (c_acctbal < 0) FROM customer
      UNION ALL
      SELECT 'customer_name_present', count(*),
        count(*) FILTER (c_name IS NULL OR length(c_name) = 0) FROM customer
      UNION ALL
      SELECT 'lineitem_orderkey_fk',
        (SELECT count(*) FROM lineitem),
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)))
    SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
    FROM r ORDER BY rule"""

  // ---- q135: Poisson-bootstrap confidence interval ----

  /** Replicate count and the Poisson(1) CDF — one shared literal string
    * so the Spark expression and the DuckDB oracle parse the IDENTICAL
    * decimal constants to the identical doubles (the q121
    * single-literal stance). Weights are truncated at 8
    * (P(X>8) ≈ 1e-6, identically in both engines — parity is the
    * point, the bias is negligible and shared). */
  val BOOT_REPS = 32
  val POISSON_CDF = "0.36787944117144233,0.7357588823428847," +
    "0.9196986029286058,0.9810118431238463,0.9963401531726563," +
    "0.9994058151824183,0.999916758850712,0.9999897508033253"

  /** q135: bootstrap CI for mean lineitem price via the POISSON
    * bootstrap — the distributed-bootstrap formulation: instead of
    * resampling n rows with replacement (which needs global
    * coordination), each (row, replicate) draws an independent
    * Poisson(1) weight from a deterministic md5 uniform, giving each
    * replicate a multinomial-approximating resample that never leaves
    * the row. The uncertainty-quantification primitive behind "is this
    * corpus metric stable?" questions.
    *
    * Scale shape: the B-fold fan-out is a row-local `explode` that
    * pipelines inside the scan stage — nothing row-level shuffles; the
    * per-replicate aggregate reduces every partition to ≤B partial
    * (Σw·x, Σw) pairs (exact decimal × int64 — order-independent), and
    * the CI is a percentile over B replicate means. Total exchange
    * traffic: B rows. */
  def q135BootstrapCi(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val point = li.agg(count(lit(1)).as("n_rows"),
      davg(col("l_extendedprice")).as("mean_price"))
    val reps = li
      .select(col("l_orderkey"), col("l_linenumber"),
        dec2(col("l_extendedprice")).as("price"))
      .select(col("l_orderkey"), col("l_linenumber"), col("price"),
        explode(expr(s"sequence(0, ${BOOT_REPS - 1})")).as("b"))
      .withColumn("u", expr(
        "cast(conv(substr(md5(concat(l_orderkey, '-', l_linenumber, '-', b)),1,8),16,10) as bigint) / 4294967296.0"))
      // w = #{c in CDF : c < u}, the oracle's list_filter count, spelled
      // as one comparison per CDF element rather than a filter lambda:
      // CollapseProject inlines the DECIMAL `u` into a lambda's single
      // reference, where it is re-evaluated per element in interpreted
      // mode (7 min of Verify at sf0.1). With 8 references `u` stays in
      // its own projection, computed once per (row, b).
      .withColumn("w", expr(POISSON_CDF.split(",").indices
        .map(i => s"int(array($POISSON_CDF)[$i] < u)").mkString(" + ")))
      .groupBy(col("b"))
      .agg((sum(col("w") * col("price")).cast("double")
        / sum(col("w")).cast("double")).as("rep_mean"))
    val ci = reps.agg(
      expr("percentile(rep_mean, 0.025)").as("lo"),
      expr("percentile(rep_mean, 0.975)").as("hi"))
    point.crossJoin(broadcast(ci))
      .select(col("n_rows"), lit(BOOT_REPS.toLong).as("n_replicates"),
        round(col("mean_price"), 6).as("mean_price"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  val o135 = s"""
    WITH reps AS (
      SELECT b,
        CAST(SUM(w * price) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS rep_mean
      FROM (
        SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
          len(list_filter([$POISSON_CDF], c -> c <
            ('0x' || substr(md5(l_orderkey || '-' || l_linenumber || '-' || b),
                            1, 8))::BIGINT / 4294967296.0)) AS w,
          b
        FROM lineitem, unnest(range(0, $BOOT_REPS)) t(b))
      GROUP BY b),
    ci AS (
      SELECT quantile_cont(rep_mean, 0.025) AS lo,
        quantile_cont(rep_mean, 0.975) AS hi
      FROM reps),
    pt AS (
      SELECT count(*) AS n_rows,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          / count(*) AS mean_price
      FROM lineitem)
    SELECT pt.n_rows, CAST($BOOT_REPS AS BIGINT) AS n_replicates,
      ROUND(pt.mean_price, 6) AS mean_price,
      ROUND(ci.lo, 6) AS ci_lo, ROUND(ci.hi, 6) AS ci_hi
    FROM pt CROSS JOIN ci"""

  // ---- q137: fulfillment-lag distribution ----

  /** q137: order→ship latency distribution per priority — integer
    * day lags (`datediff`, exact and engine-portable) summarized as
    * min / p50 / p95 / max per priority class. The operational-latency
    * report every fulfillment pipeline runs; on synthetic dates the
    * lags include negatives — the operator is the distribution, not a
    * causality check.
    *
    * Scale shape: one fact-fact join on the order key (both sides
    * shuffle at 100 TB — or neither, on the q134 bucketed layout),
    * then one |priorities|-row aggregate; the lag is row-local integer
    * arithmetic, and the quantiles interpolate over ints (swap
    * percentile_approx at scale). Quantile outputs are rounded in both
    * engines (q127 tie stance — output-only here, rounded anyway for
    * hash stability). */
  def q137ShipLag(s: SparkSession, d: String): DataFrame = {
    val lag = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).as("lag_days"))
    lag.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
           min(col("lag_days")).as("min_lag"),
           round(expr("percentile(lag_days, 0.5)"), 6).as("p50_lag"),
           round(expr("percentile(lag_days, 0.95)"), 6).as("p95_lag"),
           max(col("lag_days")).as("max_lag"))
      .orderBy(col("o_orderpriority"))
  }

  val o137 = """
    WITH lag AS (
      SELECT o_orderpriority,
        date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
          AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT o_orderpriority, count(*) AS n_items,
      CAST(MIN(lag_days) AS INT) AS min_lag,
      ROUND(quantile_cont(lag_days, 0.5), 6) AS p50_lag,
      ROUND(quantile_cont(lag_days, 0.95), 6) AS p95_lag,
      CAST(MAX(lag_days) AS INT) AS max_lag
    FROM lag GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---- q141: exact per-group mode with deterministic tie-break ----

  /** q141: modal order priority per order status — the exact MODE
    * aggregate with a TOTAL tie-break (highest count, then smallest
    * value), plus the mode's share of the group. Engines disagree on
    * native `mode()` tie semantics (both Spark and DuckDB document
    * "arbitrary"), so the operator is built from count + rank where
    * the tie-break is explicit — the only formulation that can be
    * oracle-checked, and the only one safe to run twice.
    *
    * Scale shape: the corpus collapses to the |status|×|priority|
    * grid in one map-side-combined aggregate; the rank window runs
    * over that domain-bounded grid (≤ 15 rows), never over data. */
  def q141GroupMode(s: SparkSession, d: String): DataFrame = {
    val grid = orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(desc("cnt"), col("o_orderpriority"))
    grid
      .withColumn("rn", row_number().over(w))
      .withColumn("grp_total", sum(col("cnt")).over(
        Window.partitionBy(col("o_orderstatus"))))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"),
        col("o_orderpriority").as("mode_priority"),
        col("cnt").as("mode_count"),
        round(col("cnt").cast("double") / col("grp_total"), 6).as("mode_share"))
      .orderBy(col("o_orderstatus"))
  }

  val o141 = """
    WITH g AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY o_orderstatus
          ORDER BY cnt DESC, o_orderpriority) AS rn,
        SUM(cnt) OVER (PARTITION BY o_orderstatus) AS grp_total
      FROM g)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
      cnt AS mode_count,
      ROUND(CAST(cnt AS DOUBLE) / grp_total, 6) AS mode_share
    FROM r WHERE rn = 1 ORDER BY o_orderstatus"""

  // ---- q145: per-group linear regression (exact-sum OLS) ----

  /** q145: revenue trend per order priority — ordinary least squares of
    * daily revenue against time, one (slope, intercept, r²) row per
    * group. The regression engines ship (`regr_slope`) accumulates
    * floating sums whose value depends on partition merge order; this
    * formulation keeps every moment EXACT — x is epoch-day int64, y is
    * decimal(12,2) money — so slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    * is a ratio of exactly-computed decimals with ONE IEEE division
    * (the q109/q121 determinism stance; q111's exact-moment variance is
    * the same idea one degree down). Fully mergeable: the five moments
    * are plain sums, so partial aggregation and AQE do their usual
    * work; the per-group window never exists.
    *
    * Scale shape: one map-side-combined aggregate to the daily grid
    * (|priorities|×|days|, domain-bounded), one aggregate of moments
    * over it, row-local algebra after. Two exchanges total. */
  def q145GroupRegression(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("x"))
      .agg(sum(dec2(col("o_totalprice"))).as("y"))
    val m = daily.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sx"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("y") * col("y")).as("syy"))
    // exact-decimal covariance/variance terms, converted to double ONCE
    // each; every later op is IEEE on those two/three values (pow is
    // deliberately absent — num² is num·num, since pow(x, 2) is a libm
    // call with no cross-engine bit guarantee)
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("o_orderpriority"), col("n"),
        round(num / den, 6).as("slope"),
        round((col("sy").cast("double") - num / den * col("sx").cast("double"))
          / col("n").cast("double"), 6).as("intercept"),
        round(num * num / (den * deny), 6).as("r2"))
      .orderBy(col("o_orderpriority"))
  }

  val o145 = """
    WITH daily AS (
      SELECT o_orderpriority,
        CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) AS x,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS y
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT o_orderpriority, COUNT(*) AS n, SUM(x) AS sx,
        SUM(x * x) AS sxx, SUM(y) AS sy, SUM(x * y) AS sxy,
        SUM(y * y) AS syy
      FROM daily GROUP BY 1),
    c AS (
      SELECT o_orderpriority, n, sx, sy,
        CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        CAST(n * sxx - sx * sx AS DOUBLE) AS den,
        CAST(n * syy - sy * sy AS DOUBLE) AS deny
      FROM m)
    SELECT o_orderpriority, n,
      ROUND(num / den, 6) AS slope,
      ROUND((CAST(sy AS DOUBLE) - num / den * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE), 6) AS intercept,
      ROUND(num * num / (den * deny), 6) AS r2
    FROM c ORDER BY o_orderpriority"""

  // ---- q152: strict-sequence conversion funnel ----

  /** q152: three-stage strict-sequence funnel (view → click →
    * purchase) over the event stream — the canonical product-analytics
    * operator. "Strict-sequence" means each stage timestamp must come
    * STRICTLY AFTER the previous stage's FIRST attainment, not merely
    * exist: t1 = min view, t2 = min click with ts > t1, t3 = min
    * purchase with ts > t2. A plain per-type min (what a naive GROUP
    * BY gives) counts users who purchased before ever viewing.
    *
    * Scale shape: ONE exchange on user_id. The three stage times are
    * chained whole-partition window minima (no ordering frame, so no
    * per-stage sort beyond the partition sort) — each stage's
    * condition references the previous stage's window result, which
    * Catalyst stacks as three Window operators over the SAME
    * partitioning, exchange reused. The per-user collapse
    * (groupBy user_id) again reuses that partitioning, and only the
    * final single-row rollup crosses partitions (partial aggs, a few
    * bytes per task). No self-joins: at 100 TB the events table is
    * touched exactly once.
    *
    * Arithmetic: stage times stay int64 nanoseconds end-to-end;
    * conversion seconds are floor-divided in the integer domain and
    * summed exactly; the single IEEE division (avg) happens once on
    * exact integer inputs — deterministic across engines and
    * partitionings (the q145/q147 stance). */
  def q152Funnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = events(s, d)
      .withColumn("t1", min(when(col("event_type") === "view",
        col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
           max(col("t3")).as("t3"))
    staged.agg(
        count(col("t1")).as("users_view"),
        count(col("t2")).as("users_click"),
        count(col("t3")).as("users_purchase"),
        sum(when(col("t3").isNotNull,
          expr("(t3 - t1) div 1000000000"))).cast("long")
          .as("conv_sec_total"))
      .withColumn("avg_conv_sec",
        round(col("conv_sec_total").cast("double") /
              col("users_purchase"), 6))
  }

  val o152 = """
    WITH v AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t1
      FROM events GROUP BY user_id),
    c AS (
      SELECT e.user_id, ANY_VALUE(v.t1) AS t1,
        MIN(CASE WHEN e.event_type = 'click'
                  AND epoch_ns(e.ts) > v.t1
                 THEN epoch_ns(e.ts) END) AS t2
      FROM events e JOIN v USING (user_id) GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, ANY_VALUE(c.t1) AS t1, ANY_VALUE(c.t2) AS t2,
        MIN(CASE WHEN e.event_type = 'purchase'
                  AND epoch_ns(e.ts) > c.t2
                 THEN epoch_ns(e.ts) END) AS t3
      FROM events e JOIN c USING (user_id) GROUP BY e.user_id),
    f AS (
      SELECT COUNT(t1) AS users_view, COUNT(t2) AS users_click,
        COUNT(t3) AS users_purchase,
        CAST(SUM(CASE WHEN t3 IS NOT NULL
                      THEN (t3 - t1) // 1000000000 END) AS BIGINT)
          AS conv_sec_total
      FROM p)
    SELECT users_view, users_click, users_purchase, conv_sec_total,
      ROUND(CAST(conv_sec_total AS DOUBLE) / users_purchase, 6)
        AS avg_conv_sec
    FROM f"""

  // ---- q160: Markov transition matrix over event sequences ----

  /** q160: first-order Markov transition matrix of the per-user event
    * stream — P(next event type | current event type) with exact
    * transition counts. The sequence-model summary behind
    * next-action prediction, anomaly scoring ("this transition has
    * probability 0"), and clickstream simulators.
    *
    * Scale shape: ONE exchange on user_id for the lead() window (the
    * q152 pattern); the transition pairs then collapse by
    * (prev, next) with map-side partial counts into a |types|²-bounded
    * table, and the row-normalizing margin is a window over THAT tiny
    * table — never a second pass over events. Probabilities are exact
    * int64 count ratios with one final IEEE division each (the
    * q145/q152 stance); ordering ties broken by event_id, so the
    * transition multiset is partition-invariant. */
  def q160Markov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val o160 = """
    WITH s AS (
      SELECT event_type, lead(event_type) OVER
          (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        AS next_type
      FROM events),
    t AS (
      SELECT event_type AS prev_type, next_type, count(*) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT prev_type, next_type, n,
      ROUND(CAST(n AS DOUBLE) /
            SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM t ORDER BY prev_type, next_type"""

  // ---- q172: sequential-pattern support (a-then-b, any gap) ----

  /** q172: support of every ordered event-type pair (a, b) = number of
    * users with SOME a-event strictly before SOME b-event — the k=2
    * sequential-pattern mine (PrefixSpan's first level), distinct from
    * q160's ADJACENT transitions: here the pair may span any gap.
    *
    * The scale insight: "∃ a before b" ⟺ first(a) < last(b), so the
    * per-user event stream collapses to (user, type, min_ts, max_ts) —
    * ONE map-side-combinable aggregate over events — and the pattern
    * join runs per user over a |types|²-bounded expansion of that tiny
    * summary, never over raw events. Timestamps compare as integer
    * nanos; support counts are exact; lift-style ratio against the
    * per-type user counts uses one final IEEE division (q160 stance). */
  def q172SeqPairs(s: SparkSession, d: String): DataFrame = {
    val spans = events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val support = spans.as("a")
      .join(spans.as("b"), Seq("user_id"))
      .filter(col("a.event_type") =!= col("b.event_type") &&
              col("a.first_ts") < col("b.last_ts"))
      .groupBy(col("a.event_type").as("t_first"),
               col("b.event_type").as("t_then"))
      .agg(count(lit(1)).as("support"))
    val perType = spans.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    support
      .join(broadcast(perType.select(col("event_type").as("t_first"),
        col("n_users").as("users_first"))), Seq("t_first"))
      .select(col("t_first"), col("t_then"), col("support"),
        round(col("support").cast("double") / col("users_first"), 6)
          .as("confidence"))
      .orderBy(col("t_first"), col("t_then"))
  }

  val o172 = """
    WITH spans AS (
      SELECT user_id, event_type,
        MIN(epoch_ns(ts)) AS first_ts, MAX(epoch_ns(ts)) AS last_ts
      FROM events GROUP BY 1, 2),
    sup AS (
      SELECT a.event_type AS t_first, b.event_type AS t_then,
        COUNT(*) AS support
      FROM spans a JOIN spans b ON a.user_id = b.user_id
      WHERE a.event_type <> b.event_type AND a.first_ts < b.last_ts
      GROUP BY 1, 2),
    pt AS (
      SELECT event_type, COUNT(*) AS n_users FROM spans GROUP BY 1)
    SELECT t_first, t_then, support,
      ROUND(CAST(support AS DOUBLE) / n_users, 6) AS confidence
    FROM sup JOIN pt ON sup.t_first = pt.event_type
    ORDER BY t_first, t_then"""

  // ---- q175: information-gain feature ranking ----

  /** q175: rank candidate features by information gain against the
    * event-type label — IG(f) = H(label) − H(label | f) — the
    * feature-selection primitive of every tabular training pipeline.
    * Three candidate features are derived with pure integer arithmetic
    * from the event stream (weekday and hour from the nanosecond
    * timestamp, the floor-bucketed metric value), so both engines
    * re-derive them bit-identically.
    *
    * Determinism: the q167 fixed-point stance. Each cell's −ln(p) is
    * floored ONCE at 1e7 after an identical double divide, weighted by
    * the exact integer cell count, summed in int64, and floor-divided
    * by 10·N into micro-nats; H(label) and each H(label|f) are floored
    * independently and IG is their int64 difference, so no rounded
    * double ever reaches the output.
    *
    * Scale shape: the only pass over raw events is one row-local
    * 3-feature explode feeding a map-side-combinable (feature, value,
    * label) count — contingency cells bounded by Σ|domain(f)|·|labels|,
    * not data size; everything after is arithmetic over those cells.
    * Adding a feature is one more array element, not another scan. */
  def q175InfoGain(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(col("event_type"),
      expr("(ts div 86400000000000 + 4) % 7").as("weekday"),
      expr("(ts div 3600000000000) % 24").as("hour"),
      expr("cast(floor(value) as bigint)").as("vbkt"))
    val f = e.select(col("event_type"), explode(array(
        struct(lit("weekday").as("feature"), col("weekday").as("v")),
        struct(lit("hour").as("feature"), col("hour").as("v")),
        struct(lit("vbkt").as("feature"), col("vbkt").as("v")))).as("fv"))
      .select(col("fv.feature").as("feature"), col("fv.v").as("v"),
        col("event_type"))
    val nvy = f.groupBy(col("feature"), col("v"), col("event_type"))
      .agg(count(lit(1)).as("n_vy"))
    val nv = nvy.groupBy(col("feature"), col("v"))
      .agg(sum(col("n_vy")).as("n_v"))
    val nn = e.agg(count(lit(1)).as("n"))
    val hCond = nvy.join(nv, Seq("feature", "v"))
      .withColumn("t7",
        floor(-log(col("n_vy").cast("double") / col("n_v")) * 1e7)
          .cast("long"))
      .groupBy(col("feature"))
      .agg(sum(col("n_vy") * col("t7")).as("s"))
    val hLabel = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_y"))
      .crossJoin(broadcast(nn))
      .agg(sum(col("n_y") *
        floor(-log(col("n_y").cast("double") / col("n")) * 1e7)
          .cast("long")).as("sy"))
    hCond.crossJoin(broadcast(hLabel)).crossJoin(broadcast(nn))
      .select(col("feature"),
        expr("sy div (10 * n)").as("h_label_micro"),
        expr("s div (10 * n)").as("h_cond_micro"),
        expr("sy div (10 * n) - s div (10 * n)").as("ig_micro"))
      .orderBy(col("feature"))
  }

  val o175 = """
    WITH e AS (
      SELECT event_type,
        (epoch_ns(ts) // 86400000000000 + 4) % 7 AS weekday,
        (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        CAST(FLOOR(value) AS BIGINT) AS vbkt
      FROM events),
    f AS (
      SELECT 'weekday' AS feature, weekday AS v, event_type FROM e
      UNION ALL SELECT 'hour', hour, event_type FROM e
      UNION ALL SELECT 'vbkt', vbkt, event_type FROM e),
    nvy AS (
      SELECT feature, v, event_type, CAST(COUNT(*) AS BIGINT) AS n_vy
      FROM f GROUP BY 1, 2, 3),
    nv AS (SELECT feature, v, SUM(n_vy) AS n_v FROM nvy GROUP BY 1, 2),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    hc AS (
      SELECT feature, CAST(SUM(n_vy *
        CAST(FLOOR(-ln(CAST(n_vy AS DOUBLE) / n_v) * 1e7) AS BIGINT))
        AS BIGINT) AS s
      FROM nvy JOIN nv USING (feature, v) GROUP BY 1),
    hy AS (
      SELECT CAST(SUM(n_y *
        CAST(FLOOR(-ln(CAST(n_y AS DOUBLE) / n) * 1e7) AS BIGINT))
        AS BIGINT) AS sy
      FROM (SELECT event_type, COUNT(*) AS n_y FROM e GROUP BY 1)
      CROSS JOIN nn)
    SELECT feature,
      CAST(sy // (10 * n) AS BIGINT) AS h_label_micro,
      CAST(s // (10 * n) AS BIGINT) AS h_cond_micro,
      CAST(sy // (10 * n) - s // (10 * n) AS BIGINT) AS ig_micro
    FROM hc CROSS JOIN hy CROSS JOIN nn ORDER BY feature"""

  // ---- q261: Fano-factor burstiness per event type ----

  /** Nanos per hourly bin. */
  val FANO_BIN_NS = 3600000000000L

  /** q261: dispersion index (Fano factor, variance-to-mean ratio of
    * hourly arrival counts — INCLUDING empty hours, zero-filled over
    * the observed span) per event type. F ≈ 1 is Poisson traffic;
    * F ≫ 1 is bursty (flash crowds, batch replays) — the
    * load-planning statistic behind q154's peak-concurrency number.
    * F = (n·Σx² − (Σx)²) / (n·Σx) on exact integer moments, one
    * final milli-scaled division.
    *
    * Scale shape: the fact scan collapses to an (event_type, hour)
    * aggregate (map-side combined); the zero-fill grid is
    * |types|·|hours| — calendar-sized, never event-sized (the q201
    * pattern) — and the moments reduce it to 3 numbers per type. */
  def q261FanoBurstiness(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev = events(s, d)
      .select(col("event_type"), expr(s"ts div $FANO_BIN_NS").as("hour"))
    val counts = ev.groupBy(col("event_type").as("et"), col("hour").as("hr"))
      .agg(count(lit(1)).as("x"))
    val span = ev.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = span.select(explode(expr("sequence(h0, h1)")).as("hour"))
      .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
    grid.join(counts, col("event_type") === col("et")
        && col("hour") === col("hr"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("x"), lit(0L)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("x")).as("n_events"),
        sum(col("x").cast(d38) * col("x")).cast(d38).as("sxx"))
      .select(col("event_type"), col("n_buckets"), col("n_events"),
        expr("n_events * 1000 div n_buckets").as("mean_milli"),
        expr("""cast((cast(n_buckets as decimal(38,0)) * sxx
              - cast(n_events as decimal(38,0)) * n_events) * 1000
            div (cast(n_buckets as decimal(38,0)) * n_events) as bigint)""")
          .as("fano_milli"))
      .orderBy(col("event_type"))
  }

  val o261 = s"""
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) // $FANO_BIN_NS AS hour FROM events),
    counts AS (
      SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS x
      FROM ev GROUP BY 1, 2),
    span AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM ev),
    grid AS (
      SELECT t.event_type, u.h AS hour
      FROM (SELECT DISTINCT event_type FROM ev) t
        CROSS JOIN span, unnest(range(h0, h1 + 1)) u(h)),
    filled AS (
      SELECT g.event_type, g.hour, COALESCE(c.x, 0) AS x
      FROM grid g LEFT JOIN counts c
        ON c.event_type = g.event_type AND c.hour = g.hour),
    mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        CAST(SUM(x) AS BIGINT) AS n_events,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM filled GROUP BY 1)
    SELECT event_type, n_buckets, n_events,
      n_events * 1000 // n_buckets AS mean_milli,
      CAST((CAST(n_buckets AS HUGEINT) * sxx
          - CAST(n_events AS HUGEINT) * n_events) * 1000
        // (CAST(n_buckets AS HUGEINT) * n_events) AS BIGINT) AS fano_milli
    FROM mom ORDER BY event_type"""

  // ---- q265: weekly traffic profile (seasonality heatmap) ----

  /** q265: the day-of-week seasonality profile per event type — event
    * mass and exact share per (type, dow), plus that weekday's peak
    * hour-of-day and its count. Day-of-week comes from pure epoch
    * integer arithmetic ((epoch_day + 4) % 7, 0 = Sunday — no engine
    * calendar/locale function whose week-start convention could
    * disagree), hour-of-day from (epoch_hour % 24); UTC by the
    * events-contract session pin. The operational companion to q261:
    * Fano says HOW bursty, this says WHEN the load comes.
    *
    * Scale shape: one (type, dow, hour) aggregate over the fact scan
    * (map-side combined, 5·7·24 cells max) is the only reader of the
    * facts; the dow mass, type total and argmax hour are windows over
    * that cell ledger (partitioned by type, then by (type, dow)), so
    * the ledger has one consumer and nothing is materialized. */
  def q265WeeklyProfile(s: SparkSession, d: String): DataFrame = {
    val byDow = Window.partitionBy(col("event_type"), col("dow"))
    events(s, d)
      .select(col("event_type"),
        expr("(ts div 86400000000000 + 4) % 7").as("dow"),
        expr("(ts div 3600000000000) % 24").as("hod"))
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n_type", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("n_events", sum(col("c")).over(byDow))
      .withColumn("rk", row_number().over(
        byDow.orderBy(col("c").desc, col("hod"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("dow"), col("n_events"),
        expr("n_events * 1000000 div n_type").as("share_ppm"),
        col("hod").as("peak_hour"), col("c").as("peak_hour_n"))
      .orderBy(col("event_type"), col("dow"))
  }

  val o265 = """
    WITH cells AS (
      SELECT event_type,
        (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
        (epoch_ns(ts) // 3600000000000) % 24 AS hod,
        CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3),
    bydow AS (
      SELECT event_type, dow, CAST(SUM(c) AS BIGINT) AS n_events
      FROM cells GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_type
      FROM bydow GROUP BY 1),
    peak AS (
      SELECT event_type, dow, hod AS peak_hour, c AS peak_hour_n
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, dow
              ORDER BY c DESC, hod) AS rk FROM cells)
      WHERE rk = 1)
    SELECT event_type, CAST(dow AS BIGINT) AS dow, n_events,
      n_events * 1000000 // n_type AS share_ppm,
      CAST(peak_hour AS BIGINT) AS peak_hour,
      CAST(peak_hour_n AS BIGINT) AS peak_hour_n
    FROM bydow JOIN tot USING (event_type) JOIN peak USING (event_type, dow)
    ORDER BY event_type, dow"""

  // ---- q270: CUPED-adjusted experiment uplift ----

  /** Pre-period length (days) for the CUPED covariate split. */
  val CUPED_PRE_DAYS = 15L

  /** q270: controlled-experiment analytics — the CUPED estimator
    * (Deng et al., WSDM'13) on a deterministically-assigned A/B split
    * (md5(user) % 2, the engine's planted-randomization convention):
    * per-user pre-period spend (first $CUPED_PRE_DAYS days) is the
    * variance-reduction covariate for post-period spend. θ =
    * cov(pre, post)/var(pre) comes from EXACT integer cent moments
    * (decimal(38,0)); only the final adjusted means apply IEEE
    * division/multiplication to those exact operands, mirrored
    * op-for-op in the oracle. Reports per variant the raw and
    * CUPED-adjusted post means plus the shared θ — the
    * experimentation-readout operator a data platform runs
    * continuously.
    *
    * Scale shape: ONE (user)-keyed conditional aggregate builds the
    * (pre, post) panel; its only consumer is the 2-row variant rollup,
    * which also carries each variant's share of the exact moments. The
    * global moments are sums over that rollup (an unpartitioned window
    * over 2 rows), so the panel is aggregated once and never
    * materialized. No event-grain joins. */
  def q270CupedUplift(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev = events(s, d).select(col("user_id"), col("ts"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val split = ev.agg((min(col("ts"))
      + lit(CUPED_PRE_DAYS * 86400000000000L)).as("split_ns"))
    val all = Window.partitionBy()
    ev.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < col("split_ns"), col("cents"))
        .otherwise(0L)).as("pre"),
        sum(when(col("ts") >= col("split_ns"), col("cents"))
          .otherwise(0L)).as("post"))
      .groupBy(expr(
        "cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint) % 2")
        .as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("pre")).as("sum_pre"), sum(col("post")).as("sum_post"),
        sum(col("pre").cast(d38)).as("vpre"),
        sum(col("post").cast(d38)).as("vpost"),
        sum(col("pre").cast(d38) * col("post")).as("vpp"),
        sum(col("pre").cast(d38) * col("pre")).as("vp2"))
      .withColumn("n", sum(col("n_users")).over(all))
      .withColumn("spre", sum(col("vpre")).over(all))
      .withColumn("spost", sum(col("vpost")).over(all))
      .withColumn("spp", sum(col("vpp")).over(all))
      .withColumn("sp2", sum(col("vp2")).over(all))
      .select(col("variant"), col("n_users"), col("sum_pre"),
        col("sum_post"),
        expr("cast(round(cast(sum_post as double) / n_users * 10) as bigint)")
          .as("mean_post_milli"),
        expr("""cast(round((cast(n as double) * cast(spp as double)
              - cast(spre as double) * cast(spost as double))
            / (cast(n as double) * cast(sp2 as double)
              - cast(spre as double) * cast(spre as double))
            * 1000000) as bigint)""").as("theta_micro"),
        expr("""cast(round((cast(sum_post as double) / n_users
            - (cast(n as double) * cast(spp as double)
                - cast(spre as double) * cast(spost as double))
              / (cast(n as double) * cast(sp2 as double)
                - cast(spre as double) * cast(spre as double))
              * (cast(sum_pre as double) / n_users
                - cast(spre as double) / cast(n as double)))
            * 10) as bigint)""").as("adj_mean_milli"))
      .orderBy(col("variant"))
  }

  val o270 = s"""
    WITH ev AS (
      SELECT user_id, epoch_ns(ts) AS tns,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    split AS (
      SELECT MIN(tns) + ${CUPED_PRE_DAYS} * 86400000000000 AS split_ns
      FROM ev),
    panel AS (
      SELECT user_id,
        CAST(SUM(CASE WHEN tns < split_ns THEN cents ELSE 0 END) AS BIGINT)
          AS pre,
        CAST(SUM(CASE WHEN tns >= split_ns THEN cents ELSE 0 END) AS BIGINT)
          AS post,
        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
          AS variant
      FROM ev CROSS JOIN split GROUP BY user_id),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(pre) AS HUGEINT) AS spre,
        CAST(SUM(post) AS HUGEINT) AS spost,
        CAST(SUM(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS spp,
        CAST(SUM(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sp2
      FROM panel)
    SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
      CAST(SUM(pre) AS BIGINT) AS sum_pre,
      CAST(SUM(post) AS BIGINT) AS sum_post,
      CAST(ROUND(CAST(SUM(post) AS DOUBLE) / COUNT(*) * 10) AS BIGINT)
        AS mean_post_milli,
      CAST(ROUND((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
            - CAST(spre AS DOUBLE) * CAST(spost AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sp2 AS DOUBLE)
            - CAST(spre AS DOUBLE) * CAST(spre AS DOUBLE))
          * 1000000) AS BIGINT) AS theta_micro,
      CAST(ROUND((CAST(SUM(post) AS DOUBLE) / COUNT(*)
          - (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
              - CAST(spre AS DOUBLE) * CAST(spost AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sp2 AS DOUBLE)
              - CAST(spre AS DOUBLE) * CAST(spre AS DOUBLE))
            * (CAST(SUM(pre) AS DOUBLE) / COUNT(*)
              - CAST(spre AS DOUBLE) / CAST(n AS DOUBLE)))
          * 10) AS BIGINT) AS adj_mean_milli
    FROM panel CROSS JOIN mom GROUP BY variant, n, spre, spost, spp, sp2
    ORDER BY variant"""

  // ---- q272: exact permutation test for the A/B spend difference ----

  /** Number of label permutations (md5-salted re-assignments). 199 so
    * the Monte-Carlo p-value denominator (K+1) is a round 200. */
  val PERM_K = 199

  /** q272: permutation test of the q270 experiment's raw spend
    * difference — the nonparametric companion readout: instead of a
    * normal-theory interval, re-assign every user to a variant under
    * $PERM_K md5-salted permutations of the SAME deterministic coin
    * and ask how often a permuted |mean difference| reaches the
    * observed one. p = (1 + #{perm ≥ obs}) / (K + 1), the standard
    * add-one Monte-Carlo estimator (Phipson & Smyth 2010) — exact
    * given the permutation set, no distributional assumption.
    *
    * Determinism: permutation p assigns md5(p:user_id) % 2 (p = 0 IS
    * the observed md5(user_id) % 2 assignment, same coin as q270), so
    * both engines enumerate the identical permutation set. The |mean
    * diff| statistic is IEEE double over exact int64 cent sums and
    * counts, rounded to milli-cents once, mirrored op-for-op (the
    * q270 stance); the ≥ comparison then runs on exact int64.
    *
    * Scale shape: the corpus-sized work is ONE user-keyed aggregate
    * (the panel — needed by any readout); the ×(K+1) explode is
    * map-side over the panel and collapses immediately into a
    * (K+1)-group partial aggregate, so no shuffle grows with K·users;
    * everything after reads the (K+1)-row ledger once: the observed
    * statistic reaches every row through an unpartitioned window over
    * those K+1 rows, then one aggregate counts the permutations. */
  def q272PermTest(s: SparkSession, d: String): DataFrame = {
    val panel = events(s, d)
      .select(col("user_id"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("cents"))
    panel
      .select(col("user_id"), col("cents"),
        explode(expr(s"sequence(0, $PERM_K)")).as("p"))
      .withColumn("g", expr(
        """case when p = 0
          then cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10)
            as bigint) % 2
          else cast(conv(substr(md5(concat(cast(p as string), ':',
            cast(user_id as string))), 1, 4), 16, 10) as bigint) % 2 end"""))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("n1"),
        sum(col("cents")).as("s"),
        sum(when(col("g") === 1L, col("cents")).otherwise(0L)).as("s1"))
      .select(col("p"), expr(
        """case when n1 = 0 or n1 = n
             then cast(raise_error(concat('q272: degenerate permutation (one-sided label) at p=',
               cast(p as string))) as bigint)
             else cast(round(abs(cast(s1 as double) / n1
               - cast(s - s1 as double) / (n - n1)) * 1000) as bigint) end""")
        .as("diff_milli"))
      .withColumn("obs_milli", max(when(col("p") === 0, col("diff_milli")))
        .over(Window.partitionBy()))
      .filter(col("p") > 0)
      .agg(count(lit(1)).as("n_perms"),
        max(col("obs_milli")).as("obs_diff_milli"),
        sum(when(col("diff_milli") >= col("obs_milli"), 1L).otherwise(0L))
          .as("n_ge"))
      .select(col("n_perms"), col("obs_diff_milli"), col("n_ge"),
        expr("(n_ge + 1) * 1000000L div (n_perms + 1)").as("p_value_ppm"))
  }

  val o272 = s"""
    WITH panel AS (
      SELECT user_id,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1),
    perms AS (
      SELECT p.p, user_id, cents,
        CASE WHEN p.p = 0
          THEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2
          ELSE ('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' ||
            CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 END AS g
      FROM panel CROSS JOIN (
        SELECT UNNEST(generate_series(0, $PERM_K)) AS p) p),
    stats AS (
      SELECT p,
        CASE WHEN SUM(g) = 0 OR SUM(g) = COUNT(*)
          THEN CAST(error('q272: degenerate permutation (one-sided label) at p='
            || CAST(p AS VARCHAR)) AS BIGINT)
          ELSE CAST(ROUND(ABS(CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END)
              AS DOUBLE) / SUM(g)
            - CAST(SUM(cents) - SUM(CASE WHEN g = 1 THEN cents ELSE 0 END)
              AS DOUBLE) / (COUNT(*) - SUM(g))) * 1000) AS BIGINT) END
          AS diff_milli
      FROM perms GROUP BY 1),
    obs AS (SELECT diff_milli AS obs_milli FROM stats WHERE p = 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
      CAST(MAX(obs_milli) AS BIGINT) AS obs_diff_milli,
      CAST(SUM(CASE WHEN diff_milli >= obs_milli THEN 1 ELSE 0 END)
        AS BIGINT) AS n_ge,
      CAST((SUM(CASE WHEN diff_milli >= obs_milli THEN 1 ELSE 0 END) + 1)
        * 1000000 // (COUNT(*) + 1) AS BIGINT) AS p_value_ppm
    FROM stats CROSS JOIN obs WHERE p > 0"""

  // ---- q273: Simpson's-paradox audit over segment pairs ----

  /** q273: pooled-vs-stratified direction audit — for every unordered
    * customer-segment pair, compare mean order value pooled across all
    * nations and within each nation, and count strata whose direction
    * AGREES with / FLIPS against the pooled sign. A pair whose pooled
    * winner loses in most nations is Simpson's paradox in the data —
    * the canonical trap when a curation or pricing decision is made on
    * a pooled mean that a confounder (here: nation mix) reverses. The
    * audit belongs IN the engine for the same reason q126's
    * chi-square does: it must re-run on every snapshot, not in a
    * notebook.
    *
    * All directions are exact-integer: sign(sa·nb − sb·na) compares
    * mean cents by cross-multiplication in decimal(38,0) (cent sums ×
    * order counts exceed int64 at corpus scale — the q252 stance); no
    * division ever happens.
    *
    * Scale shape: ONE (segment, nation) cell aggregate over the
    * orders⋈customer join (the join is the corpus-sized work; the
    * ledger is |segments|·|nations| ≤ a few hundred rows); the pair
    * table is a self-join OF THE LEDGER, never of the facts. */
  def q273SimpsonFlip(s: SparkSession, d: String): DataFrame = {
    val cells = t(s, d, "orders")
      .join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(o_totalprice as decimal(12,2)) * 100").cast("long"))
          .as("s"))
    val cc = cells.localCheckpoint()
    val a = cc.select(col("seg").as("seg_a"), col("nat"),
      col("n").as("na"), col("s").as("sa"))
    val b = cc.select(col("seg").as("seg_b"), col("nat"),
      col("n").as("nb"), col("s").as("sb"))
    val strata = a.join(b, Seq("nat")).filter(col("seg_a") < col("seg_b"))
      .withColumn("dir", expr(
        """case when cast(sa as decimal(38,0)) * nb > cast(sb as decimal(38,0)) * na then 1L
                when cast(sa as decimal(38,0)) * nb < cast(sb as decimal(38,0)) * na then -1L
                else 0L end"""))
    val pooled = cc.groupBy(col("seg"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
    val pa = pooled.select(col("seg").as("seg_a"), col("n").as("pna"),
      col("s").as("psa"))
    val pb = pooled.select(col("seg").as("seg_b"), col("n").as("pnb"),
      col("s").as("psb"))
    val pdir = pa.crossJoin(broadcast(pb)).filter(col("seg_a") < col("seg_b"))
      .withColumn("pooled_dir", expr(
        """case when cast(psa as decimal(38,0)) * pnb > cast(psb as decimal(38,0)) * pna then 1L
                when cast(psa as decimal(38,0)) * pnb < cast(psb as decimal(38,0)) * pna then -1L
                else 0L end"""))
      .select(col("seg_a"), col("seg_b"), col("pooled_dir"))
    strata.join(pdir, Seq("seg_a", "seg_b"))
      .groupBy(col("seg_a"), col("seg_b"), col("pooled_dir"))
      .agg(count(lit(1)).as("n_strata"),
        sum(when(col("dir") === col("pooled_dir"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("dir") === -col("pooled_dir") && col("dir") =!= 0L,
          1L).otherwise(0L)).as("n_flip"),
        sum(when(col("dir") === 0L, 1L).otherwise(0L)).as("n_tied"))
      .withColumn("simpson_flag", col("n_flip") * 2 > col("n_strata"))
      .select(col("seg_a"), col("seg_b"), col("pooled_dir"),
        col("n_strata"), col("n_agree"), col("n_flip"), col("n_tied"),
        col("simpson_flag"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  val o273 = """
    WITH cells AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS s
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    strata AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
        CASE WHEN a.s::HUGEINT * b.n > b.s::HUGEINT * a.n THEN 1
             WHEN a.s::HUGEINT * b.n < b.s::HUGEINT * a.n THEN -1
             ELSE 0 END AS dir
      FROM cells a JOIN cells b ON a.nat = b.nat AND a.seg < b.seg),
    pooled AS (
      SELECT seg, SUM(n) AS n, SUM(s) AS s FROM cells GROUP BY 1),
    pdir AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
        CASE WHEN a.s::HUGEINT * b.n > b.s::HUGEINT * a.n THEN 1
             WHEN a.s::HUGEINT * b.n < b.s::HUGEINT * a.n THEN -1
             ELSE 0 END AS pooled_dir
      FROM pooled a JOIN pooled b ON a.seg < b.seg)
    SELECT seg_a, seg_b, CAST(pooled_dir AS BIGINT) AS pooled_dir,
      CAST(COUNT(*) AS BIGINT) AS n_strata,
      CAST(SUM(CASE WHEN dir = pooled_dir THEN 1 ELSE 0 END) AS BIGINT)
        AS n_agree,
      CAST(SUM(CASE WHEN dir = -pooled_dir AND dir <> 0 THEN 1 ELSE 0 END)
        AS BIGINT) AS n_flip,
      CAST(SUM(CASE WHEN dir = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
      SUM(CASE WHEN dir = -pooled_dir AND dir <> 0 THEN 1 ELSE 0 END) * 2
        > COUNT(*) AS simpson_flag
    FROM strata JOIN pdir USING (seg_a, seg_b)
    GROUP BY seg_a, seg_b, pooled_dir
    ORDER BY seg_a, seg_b"""

  // ---- q293: SPRT sequential A/B conversion monitor ----

  /** q293: Wald's SEQUENTIAL PROBABILITY RATIO TEST as an in-engine
    * experiment monitor — the sequential-analysis counterpart to the
    * fixed-horizon readouts (q270 CUPED, q272 permutation): users are
    * md5-split into two arms, each arm's purchase-conversion stream is
    * walked in event order, and the Bernoulli log-likelihood ratio for
    * H0 p=1/5 vs H1 p=1/4 accumulates until it exits the ±ln(19)
    * Wald boundaries (α=β=0.05; the lower bound is −A by DESIGN —
    * symmetric scaled integers, so no floor-of-negative asymmetry).
    * Output per arm: event/conversion totals, the first boundary
    * decision and the sample size n_decide at which it fired (the
    * whole point of sequential testing: a decision at ~n/10 of the
    * fixed-horizon sample), and the end-of-stream LLR.
    *
    * Exactness: per-event increments are CONSTANT design integers
    * c1 = ⌊ln(5/4)·1e7⌋, c0 = ⌊ln(15/16)·1e7⌋ — floor(ln of one exact
    * ratio) both engines feed libm identically — so the LLR ladder is
    * pure int64 arithmetic and the crossing index is deterministic.
    *
    * Scale shape: the global per-arm running count is the q83 hazard
    * (a naive per-arm window is one task walking the whole stream);
    * same cure — day-local cumsums in parallel + a tiny (arm, day)
    * offset ledger broadcast back (day is monotone in the event
    * order, so local + offset == global exactly). Crossing detection
    * is then row-local; the first crossing is a min-struct aggregate,
    * never a sorted scan. */
  def q293SprtMonitor(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      (expr("cast(conv(substr(md5(cast(user_id as string)), 1, 4), 16, 10) as bigint)") % 2).as("arm"),
      expr("ts div 1000").as("tus"), col("event_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"),
      expr("(ts div 1000) div 86400000000").as("day"))
    val wIn = Window.partitionBy(col("arm"), col("day"))
      .orderBy(col("tus"), col("event_id"))
    val local = e
      .withColumn("i_in", row_number().over(wIn))
      .withColumn("c_in", sum(col("conv")).over(wIn))
    val wDay = Window.partitionBy(col("arm")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = e.groupBy(col("arm"), col("day"))
      .agg(count(lit(1)).as("n_d"), sum(col("conv")).as("c_d"))
      .withColumn("n_off", coalesce(sum(col("n_d")).over(wDay), lit(0L)))
      .withColumn("c_off", coalesce(sum(col("c_d")).over(wDay), lit(0L)))
      .select(col("arm"), col("day"), col("n_off"), col("c_off"))
    val c1 = floor(log(lit(5.0) / lit(4.0)) * lit(1e7)).cast("long")
    val c0 = floor(log(lit(15.0) / lit(16.0)) * lit(1e7)).cast("long")
    val a7 = floor(log(lit(19.0)) * lit(1e7)).cast("long")
    val scored = local.join(broadcast(offsets), Seq("arm", "day"))
      .withColumn("i", col("n_off") + col("i_in"))
      .withColumn("c", col("c_off") + col("c_in"))
      .withColumn("llr", col("c") * c1 + (col("i") - col("c")) * c0)
      .withColumn("crs", when(col("llr") >= a7, lit("reject_h0"))
        .when(col("llr") <= -a7, lit("accept_h0")))
    // ONE aggregate over the scored stream (r16): the first-crossing
    // ledger folds into the same groupBy as the terminal stats via a
    // null-skipping min(when(crossed, struct(i, crs))) — the two-
    // consumer shape re-ran the window pyramid + both events scans per
    // consumer (4 events scans in the executed plan; now 2, the
    // banded-prefix design's intrinsic pair).
    scored.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_events"), sum(col("conv")).as("n_conv"),
        max(struct(col("i"), col("llr"))).as("e"),
        min(when(col("crs").isNotNull, struct(col("i"), col("crs"))))
          .as("fc"))
      .select(col("arm"), col("n_events"), col("n_conv"),
        coalesce(col("fc").getField("crs"), lit("continue")).as("decision"),
        coalesce(col("fc").getField("i"), lit(-1L)).as("n_decide"),
        col("e").getField("llr").as("llr_end_e7"))
      .orderBy(col("arm"))
  }

  val o293: String = """
    WITH e AS (
      SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 4))::BIGINT % 2
          AS arm,
        epoch_ns(ts) // 1000 AS tus, event_id,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    k AS (
      SELECT CAST(FLOOR(ln(5.0 / 4.0) * 1e7) AS BIGINT) AS c1,
        CAST(FLOOR(ln(15.0 / 16.0) * 1e7) AS BIGINT) AS c0,
        CAST(FLOOR(ln(19.0) * 1e7) AS BIGINT) AS a7),
    sc AS (
      SELECT arm, conv,
        ROW_NUMBER() OVER w AS i,
        SUM(conv) OVER w AS c
      FROM e WINDOW w AS (PARTITION BY arm ORDER BY tus, event_id)),
    ll AS (
      SELECT arm, conv, i, c * c1 + (i - c) * c0 AS llr,
        CASE WHEN c * c1 + (i - c) * c0 >= a7 THEN 'reject_h0'
             WHEN c * c1 + (i - c) * c0 <= -a7 THEN 'accept_h0' END AS crs
      FROM sc CROSS JOIN k),
    fc AS (
      SELECT arm, i AS n_decide, crs AS decision,
        ROW_NUMBER() OVER (PARTITION BY arm ORDER BY i) AS rn
      FROM ll WHERE crs IS NOT NULL),
    fin AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(conv) AS BIGINT) AS n_conv,
        CAST(arg_max(llr, i) AS BIGINT) AS llr_end_e7
      FROM ll GROUP BY arm)
    SELECT fin.arm AS arm, n_events, n_conv,
      COALESCE(decision, 'continue') AS decision,
      CAST(COALESCE(n_decide, -1) AS BIGINT) AS n_decide,
      llr_end_e7
    FROM fin LEFT JOIN (SELECT * FROM fc WHERE rn = 1) f
      ON f.arm = fin.arm
    ORDER BY arm"""

  // ---- q295: CUSUM changepoint monitor (prefix-min identity) ----

  /** q295: one-sided CUSUM changepoint detection over each event
    * type's daily-count series — the drift-monitoring companion to
    * q293's hypothesis test: S_d = max(0, S_{d−1} + x_d − k) alarms
    * when any sustained upward shift accumulates past h. The recursion
    * is the scale trap (a stateful scan); the cure is the CLOSED FORM
    * S_d = P_d − min_{j≤d} P_j with P = cumsum(x − k) — two stacked
    * windows (running sum + running min), no recursion, no
    * mapPartitions. Design constants derive from the series itself:
    * baseline μ = first-7-day mean (integer div), allowance
    * k = μ + max(1, μ÷10) (alarm only on >10% drift), threshold
    * h = 5·max(1, μ÷10) (five allowance units of accumulated excess).
    * Missing days scaffold to 0 via an explicit day sequence — a gap
    * IS evidence under CUSUM and both engines must see it.
    *
    * Scale shape: one (type, day) count aggregate; windows partition
    * by event_type over a DOMAIN-BOUNDED ledger (days × types, never
    * event-sized); the per-type baseline/alarm reads are ledger
    * aggregates. Output: the monitor card per type — baseline, knobs,
    * first alarm day (−1 = never), peak statistic. */
  def q295CusumMonitor(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("(ts div 1000) div 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(explode(expr("sequence(d0, d1)")).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val counts = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val grid = types.crossJoin(broadcast(days))
      .join(counts, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val base = grid.crossJoin(broadcast(span))
      .filter(col("day") < col("d0") + 7)
      .groupBy(col("event_type"))
      .agg(expr("sum(x) div 7").as("mu"))
      .withColumn("slack", greatest(lit(1L), expr("mu div 10")))
      .select(col("event_type"), col("mu"),
        (col("mu") + col("slack")).as("k_allow"),
        (lit(5L) * col("slack")).as("h_thresh"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ladder = grid.join(broadcast(base), Seq("event_type"))
      .withColumn("p", sum(col("x") - col("k_allow")).over(wCum))
      .withColumn("s", col("p") - least(min(col("p")).over(wCum), lit(0L)))
      .withColumn("alarm", col("s") >= col("h_thresh"))
    // ONE aggregate over the CUSUM ladder (r16, the q293 fold): the
    // first-alarm ledger folds into the terminal-stats groupBy via a
    // null-skipping min(when(alarm, day)) — the two-consumer shape
    // re-ran the grid + both windows per consumer.
    ladder.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), max(col("s")).as("s_max"),
        max(col("mu")).as("mu"), max(col("k_allow")).as("k_allow"),
        max(col("h_thresh")).as("h_thresh"),
        min(when(col("alarm"), col("day"))).as("alarm_day0"))
      .select(col("event_type"), col("n_days"), col("mu"), col("k_allow"),
        col("h_thresh"), col("s_max"),
        coalesce(col("alarm_day0"), lit(-1L)).as("alarm_day"))
      .orderBy(col("event_type"))
  }

  val o295: String = """
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day
      FROM events),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
    days AS (
      SELECT unnest(generate_series(d0, d1)) AS day FROM span),
    types AS (SELECT DISTINCT event_type FROM ev),
    counts AS (
      SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
      FROM ev GROUP BY 1, 2),
    grid AS (
      SELECT types.event_type, days.day, COALESCE(x, 0) AS x
      FROM types CROSS JOIN days
      LEFT JOIN counts ON counts.event_type = types.event_type
        AND counts.day = days.day),
    base AS (
      SELECT event_type, mu, mu + slack AS k_allow, 5 * slack AS h_thresh
      FROM (
        SELECT event_type, CAST(SUM(x) // 7 AS BIGINT) AS mu,
          GREATEST(1, CAST(SUM(x) // 7 AS BIGINT) // 10) AS slack
        FROM grid CROSS JOIN span
        WHERE day < d0 + 7 GROUP BY event_type)),
    pfx AS (
      SELECT grid.event_type, day, mu, k_allow, h_thresh,
        SUM(x - k_allow) OVER w AS p
      FROM grid JOIN base ON base.event_type = grid.event_type
      WINDOW w AS (PARTITION BY grid.event_type ORDER BY day)),
    ladder AS (
      SELECT event_type, day, mu, k_allow, h_thresh,
        p - LEAST(MIN(p) OVER w2, 0) AS s
      FROM pfx
      WINDOW w2 AS (PARTITION BY event_type ORDER BY day)),
    fa AS (
      SELECT event_type, MIN(day) AS alarm_day
      FROM ladder WHERE s >= h_thresh GROUP BY event_type)
    SELECT ladder.event_type AS event_type,
      CAST(COUNT(*) AS BIGINT) AS n_days,
      CAST(MAX(mu) AS BIGINT) AS mu,
      CAST(MAX(k_allow) AS BIGINT) AS k_allow,
      CAST(MAX(h_thresh) AS BIGINT) AS h_thresh,
      CAST(MAX(s) AS BIGINT) AS s_max,
      CAST(COALESCE(MAX(alarm_day), -1) AS BIGINT) AS alarm_day
    FROM ladder LEFT JOIN fa ON fa.event_type = ladder.event_type
    GROUP BY 1 ORDER BY event_type"""

  // ---- q296: seasonal-naive forecast backtest (MASE) ----

  /** q296: forecast-skill backtest over each event type's daily-count
    * series — the eval card a capacity planner reads before trusting
    * any model: the SEASONAL-naive forecast (x̂_d = x_{d−7}) scored
    * against the naive random-walk (x̂_d = x_{d−1}) via MASE
    * (Hyndman–Koehler 2006), the scale-free skill ratio that needs no
    * model fitting and no floats: mase_ppm = SAE₇·n₁·10⁶ div (n₇·SAE₁)
    * over exact integer absolute-error sums (term counts differ — n₁ =
    * days−1, n₇ = days−7 — so both sides normalize inside the integer
    * expression). < 10⁶ means weekly structure is real and a seasonal
    * model earns its keep; a zero naive denominator (a constant
    * series) raise_errors rather than emitting NULL.
    *
    * Scale shape: the q295 scaffold — one (type, day) aggregate onto
    * an explicit day sequence (gaps forecast as 0, both engines), two
    * lag() windows per type over the DOMAIN-BOUNDED day ledger, one
    * final per-type aggregate. */
  def q296ForecastBacktest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("(ts div 1000) div 86400000000").as("day"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = span.select(explode(expr("sequence(d0, d1)")).as("day"))
    val types = ev.select(col("event_type")).distinct()
    val grid = types.crossJoin(broadcast(days))
      .join(ev.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x")), Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    grid
      .withColumn("e1", abs(col("x") - lag(col("x"), 1).over(w)))
      .withColumn("e7", abs(col("x") - lag(col("x"), 7).over(w)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("e1")).as("sae_naive"),
        count(col("e1")).as("n1"),
        sum(col("e7")).as("sae_snaive"),
        count(col("e7")).as("n7"))
      .select(col("event_type"), col("n_days"), col("sae_naive"),
        col("sae_snaive"),
        expr("""case when sae_naive is null or sae_naive = 0 or n7 = 0
             then cast(raise_error('q296: constant series - MASE undefined') as bigint)
             else sae_snaive * n1 * 1000000 div (n7 * sae_naive) end""")
          .as("mase_ppm"))
      .orderBy(col("event_type"))
  }

  val o296: String = """
    WITH ev AS (
      SELECT event_type, epoch_ns(ts) // 1000 // 86400000000 AS day
      FROM events),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
    days AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (
      SELECT types.event_type, days.day, COALESCE(x, 0) AS x
      FROM types CROSS JOIN days
      LEFT JOIN (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS x
                 FROM ev GROUP BY 1, 2) c
        ON c.event_type = types.event_type AND c.day = days.day),
    err AS (
      SELECT event_type,
        abs(x - lag(x, 1) OVER w) AS e1,
        abs(x - lag(x, 7) OVER w) AS e7
      FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      CAST(SUM(e1) AS BIGINT) AS sae_naive,
      CAST(SUM(e7) AS BIGINT) AS sae_snaive,
      CAST(CASE WHEN SUM(e1) IS NULL OR SUM(e1) = 0 OR COUNT(e7) = 0
        THEN error('q296: constant series - MASE undefined')
        ELSE SUM(e7) * COUNT(e1) * 1000000 // (COUNT(e7) * SUM(e1)) END
        AS BIGINT) AS mase_ppm
    FROM err GROUP BY 1 ORDER BY event_type"""


  // ---- q304: composed experiment dashboard (q293 ⊕ q295) ----

  /** q304: the EXPERIMENT DASHBOARD — one normalized "monitor card"
    * per live signal, composing the SPRT sequential A/B monitor
    * (q293, one card per arm) and the CUSUM drift monitor (q295, one
    * card per event type) into a single reporting surface: monitor,
    * key, observation count, signal state, where the signal fired
    * (sequential index n or day; −1 = never), and the monitor's
    * terminal statistic. This is the operational view an experiment
    * platform actually serves — "what is every monitor saying right
    * now" — and it is pure REUSE: both legs are the hash-green
    * monitors unchanged, reshaped and unioned; the oracle nests the
    * two monitor oracles as subqueries.
    *
    * Scale shape: inherited — each leg's design is documented at its
    * own query; the union is card-count-sized (|arms| + |types|). */
  def q304ExperimentDashboard(s: SparkSession, d: String): DataFrame = {
    val sprt = q293SprtMonitor(s, d).select(
      lit("sprt").as("monitor"),
      concat(lit("arm_"), col("arm").cast("string")).as("key"),
      col("n_events").as("n_obs"),
      col("decision").as("signal"),
      col("n_decide").as("signal_at"),
      col("llr_end_e7").as("stat"))
    val cusum = q295CusumMonitor(s, d).select(
      lit("cusum").as("monitor"),
      col("event_type").as("key"),
      col("n_days").as("n_obs"),
      when(col("alarm_day") >= 0, lit("alarm")).otherwise(lit("ok"))
        .as("signal"),
      col("alarm_day").as("signal_at"),
      col("s_max").as("stat"))
    sprt.unionByName(cusum).orderBy(col("monitor"), col("key"))
  }

  val o304: String = s"""
    SELECT 'sprt' AS monitor, 'arm_' || arm::VARCHAR AS key,
      n_events AS n_obs, decision AS signal, n_decide AS signal_at,
      llr_end_e7 AS stat
    FROM ($o293) sprt_leg
    UNION ALL
    SELECT 'cusum' AS monitor, event_type AS key, n_days AS n_obs,
      CASE WHEN alarm_day >= 0 THEN 'alarm' ELSE 'ok' END AS signal,
      alarm_day AS signal_at, s_max AS stat
    FROM ($o295) cusum_leg
    ORDER BY monitor, key"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q304_experiment_dashboard" -> (q304ExperimentDashboard _),
    "q296_forecast_backtest" -> (q296ForecastBacktest _),
    "q295_cusum_monitor"     -> (q295CusumMonitor _),
    "q293_sprt_monitor"      -> (q293SprtMonitor _),
    "q272_perm_test"         -> (q272PermTest _),
    "q273_simpson_flip"      -> (q273SimpsonFlip _),
    "q270_cuped_uplift"      -> (q270CupedUplift _),
    "q265_weekly_profile"    -> (q265WeeklyProfile _),
    "q261_fano_burstiness"   -> (q261FanoBurstiness _),
    "q175_info_gain"         -> (q175InfoGain _),
    "q172_seq_pairs"         -> (q172SeqPairs _),
    "q160_markov"            -> (q160Markov _),
    "q152_funnel"            -> (q152Funnel _),
    "q145_group_regression"  -> (q145GroupRegression _),
    "q141_group_mode"        -> (q141GroupMode _),
    "q137_ship_lag"          -> (q137ShipLag _),
    "q135_bootstrap_ci"      -> (q135BootstrapCi _),
    "q124_retention_cohorts" -> (q124RetentionCohorts _),
    "q125_last_touch"        -> (q125LastTouch _),
    "q126_chi_square"        -> (q126ChiSquare _),
    "q127_equidepth_hist"    -> (q127EquidepthHist _),
    "q129_path_trigrams"     -> (q129PathTrigrams _),
    "q130_expectations"      -> (q130Expectations _))

  val oracles: Map[String, String] = Map(
    "q304_experiment_dashboard" -> o304,
    "q296_forecast_backtest" -> o296,
    "q295_cusum_monitor" -> o295,
    "q293_sprt_monitor" -> o293,
    "q261_fano_burstiness" -> o261,
    "q265_weekly_profile" -> o265,
    "q270_cuped_uplift" -> o270,
    "q272_perm_test" -> o272,
    "q273_simpson_flip" -> o273,
    "q175_info_gain" -> o175,
    "q172_seq_pairs" -> o172,
    "q160_markov" -> o160,
    "q152_funnel" -> o152,
    "q145_group_regression" -> o145,
    "q141_group_mode" -> o141,
    "q124_retention_cohorts" -> o124, "q125_last_touch" -> o125,
    "q126_chi_square" -> o126, "q127_equidepth_hist" -> o127,
    "q129_path_trigrams" -> o129, "q130_expectations" -> o130,
    "q135_bootstrap_ci" -> o135, "q137_ship_lag" -> o137)
}
