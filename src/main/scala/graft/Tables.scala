package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + oracle-parity helpers shared by every operator module.
  *
  * Scale notes (100 TB design stance):
  *  - All loaders are plain parquet scans: Catalyst pushes filters and
  *    prunes columns into the scan, so downstream operators must express
  *    predicates/projections declaratively (no `.rdd`, no collect).
  *  - Money/quantity arithmetic is done in DECIMAL and only converted to
  *    DOUBLE once, after the (exact) aggregation. This is not just an
  *    oracle-parity trick: at 1000-executor scale, double summation order
  *    is nondeterministic across retries/AQE re-plans; decimal sums are
  *    exact and therefore stable run-to-run.
  *
  * Lifetime of materialized frames: a bounded ledger (a small aggregate
  * that several rollups read) is read by ONE pass. Rollups on a subset
  * of its keys are windows partitioned by those keys, or one
  * conditional aggregate over tagged rows, so building the query runs
  * no job and its lineage stays whole. `df.localCheckpoint()` is kept
  * only where consumers cannot be folded together: self-joins of a
  * ledger and iterative loops. Its blocks live exactly as long as the
  * frame is reachable; once the query and everything built from it is
  * unreachable, Spark's `ContextCleaner` frees them after a GC. Nothing
  * is freed by name, so two live results of the same query never share
  * or free each other's blocks. Artifacts shared across queries are
  * held by `perSession`, which keeps them reachable for the
  * application. A loop's invariant input that is already a `perSession`
  * artifact is not materialized again.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Data-contract-robust events reader. Upstream writers have produced
    * `events.ts` as BOTH parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    * across testdata generations; a 100 TB lake has the same heterogeneity
    * across partitions written by different pipeline versions, so the
    * reader branches on the PHYSICAL schema rather than hard-coding one
    * encoding. Either way the exposed column surface is identical:
    *  - `ts`    BIGINT epoch-nanos (exact integer arithmetic — no double
    *            rounding at 1.7e18 magnitude),
    *  - `ts_us` µs-precision TimestampType for window/session functions.
    * NANOS path: Spark scans the column as a raw nanos LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench/
    * tests — required for that encoding to be readable at all).
    * MICROS path: the scan yields a timestamp type (NTZ or LTZ); with the
    * session timezone pinned to UTC the LTZ cast is micros-identity, so
    * `unix_micros * 1000` reproduces the exact same epoch-nanos values.
    * Oracle parity: DuckDB's `epoch_ns(ts)` accepts both TIMESTAMP_NS and
    * TIMESTAMP, so every oracle expression is encoding-independent.
    */
  def events(s: SparkSession, d: String): DataFrame =
    withEventTime(t(s, d, "events"))

  /** Normalize a raw events frame — batch OR streaming (the branch reads
    * only the static schema, so it composes with `readStream`) — to the
    * canonical column surface described above. */
  def withEventTime(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_us", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // NTZ→LTZ cast is wall-clock-preserving, so it is micros-identity
        // ONLY under a UTC session. Fail loudly rather than silently
        // shifting every epoch-nano in an ad-hoc non-UTC session.
        require(
          raw.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          "withEventTime on TIMESTAMP_NTZ events requires " +
            "spark.sql.session.timeZone=UTC (NTZ->LTZ cast shifts otherwise)")
        raw
          .withColumn("ts_us", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ =>
        // timestamp-typed (LTZ) micros: unix_micros reads the instant
        // directly — timezone-independent.
        raw
          .withColumn("ts_us", col("ts").cast(TimestampType))
          .withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    }

  /** Exact decimal cast for 2-dp money/quantity columns. Precision 12 keeps
    * products of three factors within DECIMAL(38,_) so Spark never rounds. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact decimal sum, surfaced as DOUBLE (single, correctly-rounded
    * conversion — deterministic across partitionings and engines). */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Exact decimal average: exact sum / count in double division. */
  def davg(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))

  /** Oracle-side (DuckDB) equivalent of `ts_us`. */
  val ORA_TS_US = "make_timestamp(epoch_ns(ts)//1000)"

  /** Shuffle-partition count with a hardening fallback: platforms may set
    * `spark.sql.shuffle.partitions` to a non-numeric value (e.g. "auto"),
    * where a bare `.toInt` throws; fall back to the context's default
    * parallelism — the same order of magnitude, and the uses of this value
    * (repartition counts, block counts) only need "scales with the
    * cluster", not the exact conf. */
  def shufflePartitions(s: SparkSession): Int =
    scala.util.Try(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(s.sparkContext.defaultParallelism)

  /** Compute `build` once per (application, `key`) and share the value.
    * For artifacts a workload trains or materializes once and many
    * queries read: merge tables, quantizers, pair and label tables.
    * The key must name the dataset and every parameter of the build.
    * Same-key callers wait on one per-key lock, so `build` never runs
    * twice for one application; other keys are not blocked. Each value
    * is stored with the `applicationId` of the session that built it, so
    * a later application rebuilds it and the stopped one's value is
    * replaced, not kept. */
  def perSession[T](s: SparkSession, key: String)(build: => T): T = {
    val slot = sessionSlots.computeIfAbsent(key, _ => new SessionSlot)
    slot.synchronized {
      val app = s.sparkContext.applicationId
      if (slot.app != app) {
        slot.value = build
        slot.app = app
      }
      slot.value.asInstanceOf[T]
    }
  }

  private final class SessionSlot {
    var app: String = null
    var value: Any = null
  }

  private val sessionSlots =
    new java.util.concurrent.ConcurrentHashMap[String, SessionSlot]()
}
