package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Customer/user lifecycle analytics (q200–q202): cumulative-distinct
  * adoption, calendar densification (gap fill), and RFM segmentation.
  *
  * The common scale trick: every "over time" computation first reduces
  * the fact table to a domain-bounded grid (per user first-touch, per
  * (nation, day) cell, per customer triple) with keyed aggregates, and
  * only then runs windows/fences over that reduced grid — facts are
  * never sorted or windowed directly. */
object Lifecycle {

  // ---- q200: cumulative distinct users by day ----

  /** q200: distinct customers ever seen, per order day — the adoption
    * curve. COUNT(DISTINCT) OVER (ORDER BY day) is unsupported or
    * quadratic in most engines; the scalable identity is
    * "cumulative distinct = Σ new customers", so each customer
    * collapses to their FIRST order day (one keyed aggregate over the
    * fact table), days collapse to new-customer counts, and one prefix
    * sum over the |days|-bounded grid finishes. The unpartitioned
    * window is over ~2.4k day rows, not orders (the house domain-
    * bounded-window stance, cf. q122/q126). */
  def q200CumulativeUsers(s: SparkSession, d: String): DataFrame = {
    val firstDay = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("day"))
    firstDay.groupBy(col("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_customers", sum(col("n_new")).over(
        Window.orderBy(col("day"))))
      .orderBy(col("day"))
  }

  val o200 = """
    WITH first_day AS (
      SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS day
      FROM orders GROUP BY 1),
    daily AS (
      SELECT day, count(*) AS n_new FROM first_day GROUP BY 1)
    SELECT day, n_new,
      CAST(SUM(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_customers
    FROM daily ORDER BY day"""

  // ---- q201: calendar gap fill (densification) ----

  /** q201: per nation, a dense daily revenue series over the global
    * order-date span, missing days zero-filled and flagged — the
    * densification every time-series consumer (forecasting, windowed
    * charts) needs before it can assume regular spacing.
    *
    * Scale shape: the calendar derives from a 1-row min/max aggregate
    * exploded into |days| rows and cross-broadcast with the |nations|
    * dim — the grid (|nations|·|days|) is domain-bounded and never
    * touches fact cardinality; the fact table contributes one keyed
    * (nation, day) aggregate that left-joins onto the grid (broadcast
    * probe side is the grid — at 100 TB the daily aggregate is still
    * tiny next to facts). Zero-fill is `coalesce` after the outer
    * join; exact cents. */
  def q201CalendarFill(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .join(broadcast(customer(s, d).select(col("c_custkey"),
        col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("dn"), to_date(col("o_orderdate")).as("dd"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("rev"))
    val span = orders(s, d).agg(
      to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val calendar = span.select(explode(expr(
      "sequence(d0, d1, interval 1 day)")).as("day"))
    val grid = calendar.crossJoin(
      broadcast(nation(s, d).select(col("n_name"))))
    grid.join(daily, col("n_name") === col("dn") && col("day") === col("dd"),
        "left")
      .select(col("n_name"), col("day"),
        coalesce(col("rev"), lit(0L)).as("rev_cents"),
        col("dd").isNull.as("is_gap"))
      .orderBy(col("n_name"), col("day"))
  }

  val o201 = """
    WITH daily AS (
      SELECT n_name AS dn, CAST(o_orderdate AS DATE) AS dd,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
          AS rev
      FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    cal AS (
      SELECT unnest(generate_series(
        (SELECT CAST(min(o_orderdate) AS DATE) FROM orders),
        (SELECT CAST(max(o_orderdate) AS DATE) FROM orders),
        INTERVAL 1 DAY)) AS day),
    grid AS (SELECT n_name, CAST(day AS DATE) AS day FROM cal, nation)
    SELECT g.n_name, g.day, COALESCE(rev, 0) AS rev_cents,
      dd IS NULL AS is_gap
    FROM grid g LEFT JOIN daily
      ON g.n_name = dn AND g.day = dd
    ORDER BY g.n_name, g.day"""

  // ---- q202: RFM segmentation ----

  /** q202: Recency/Frequency/Monetary quartile segmentation — each
    * customer scored 1–4 on each axis against the population quartile
    * fences, then counted per "RFM" segment cell.
    *
    * Scale shape: customers collapse to one (R, F, M) triple each (one
    * keyed aggregate over orders); the nine fences come from ONE 1-row
    * percentile aggregate broadcast back (never an ntile window over
    * all customers — that's a single-task sort of the population at
    * scale); scoring is row-local and the segment rollup is a ≤64-row
    * aggregate. Parity: R/F/M are exact integers, fences are
    * quarter-precision rationals exact in double, so the `>` fence
    * comparisons are engine-independent (the q103/q127 lesson). */
  def q202RfmSegments(s: SparkSession, d: String): DataFrame = {
    val asOf = orders(s, d).agg(to_date(max(col("o_orderdate"))).as("d1"))
    // |customers|-row RFM panel materialized ONCE (r16): the fence
    // percentiles and the scoring pass each re-ran the orders
    // aggregate otherwise (4 orders scans in the executed plan).
    val rfm = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(to_date(max(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("f"),
        sum((dec2(col("o_totalprice")) * 100).cast("long")).as("m"))
      .crossJoin(broadcast(asOf))
      .select(col("o_custkey"), datediff(col("d1"), col("last_d"))
        .cast("long").as("r"), col("f"), col("m"))
        .localCheckpoint()
    val fences = rfm.agg(
      expr("percentile(r, 0.25)").as("r1"), expr("percentile(r, 0.5)").as("r2"),
      expr("percentile(r, 0.75)").as("r3"),
      expr("percentile(f, 0.25)").as("f1"), expr("percentile(f, 0.5)").as("f2"),
      expr("percentile(f, 0.75)").as("f3"),
      expr("percentile(m, 0.25)").as("m1"), expr("percentile(m, 0.5)").as("m2"),
      expr("percentile(m, 0.75)").as("m3"))
    def score(v: String, a: String, b: String, c: String) =
      (lit(1) + when(col(v) > col(a), 1).otherwise(0) +
        when(col(v) > col(b), 1).otherwise(0) +
        when(col(v) > col(c), 1).otherwise(0)).cast("long")
    rfm.crossJoin(broadcast(fences))
      .select(
        // recency: smaller = better, so invert the score direction
        (lit(5L) - score("r", "r1", "r2", "r3")).as("r_score"),
        score("f", "f1", "f2", "f3").as("f_score"),
        score("m", "m1", "m2", "m3").as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val o202 = """
    WITH rfm AS (
      SELECT o_custkey,
        date_diff('day', CAST(max(o_orderdate) AS DATE),
          (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS r,
        count(*) AS f,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS m
      FROM orders GROUP BY 1),
    fences AS (
      SELECT quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
        quantile_cont(r, 0.75) AS r3,
        quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
        quantile_cont(f, 0.75) AS f3,
        quantile_cont(m, 0.25) AS m1, quantile_cont(m, 0.5) AS m2,
        quantile_cont(m, 0.75) AS m3
      FROM rfm)
    SELECT
      CAST(5 - (1 + CASE WHEN r > r1 THEN 1 ELSE 0 END
             + CASE WHEN r > r2 THEN 1 ELSE 0 END
             + CASE WHEN r > r3 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
      CAST(1 + CASE WHEN f > f1 THEN 1 ELSE 0 END
        + CASE WHEN f > f2 THEN 1 ELSE 0 END
        + CASE WHEN f > f3 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
      CAST(1 + CASE WHEN m > m1 THEN 1 ELSE 0 END
        + CASE WHEN m > m2 THEN 1 ELSE 0 END
        + CASE WHEN m > m3 THEN 1 ELSE 0 END AS BIGINT) AS m_score,
      count(*) AS n_customers
    FROM rfm, fences
    GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q200_cumulative_users" -> (q200CumulativeUsers _),
    "q201_calendar_fill"    -> (q201CalendarFill _),
    "q202_rfm_segments"     -> (q202RfmSegments _))

  val oracles: Map[String, String] = Map(
    "q200_cumulative_users" -> o200,
    "q201_calendar_fill"    -> o201,
    "q202_rfm_segments"     -> o202)
}
