package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

/** Scale-mechanics checks: salted joins preserve semantics, partitioned
  * writes prune at read time. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two-phase stratified sampler equals the naive per-stratum window") {
    import org.apache.spark.sql.expressions.Window
    val d = TestSpark.SF
    val got = graft.ops.Relational.q64StratifiedSample(spark, d)
      .as[(String, Long, Long, Long)].collect().toSeq
    // naive formulation (parallelism capped at #strata — kept only as
    // the spec reference)
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val naive = graft.Tables.events(spark, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter((col("rn") - 1) % 10 === 0)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"))
      .orderBy(col("event_type"), col("rn"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == naive && got.nonEmpty)
    // the heavy sort must be spread over more partitions than #strata:
    // the local-rank window partitions on (event_type, day-bucket)
    val nStrata = graft.Tables.events(spark, d)
      .select("event_type").distinct().count()
    val nSortKeys = graft.Tables.events(spark, d)
      .withColumn("bkt", expr("ts div 86400000000000"))
      .select("event_type", "bkt").distinct().count()
    assert(nSortKeys > nStrata,
      s"sub-bucketing adds no parallelism: $nSortKeys keys vs $nStrata strata")
  }

  test("salted join equals plain join (inner + left)") {
    val big = Tables.events(spark, TestSpark.SF)
      .select(col("event_id"), col("user_id"), col("value"))
    val small = Tables.events(spark, TestSpark.SF)
      .groupBy("user_id").agg(count(lit(1)).as("user_n"))

    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("user_id"), jt)
        .select("event_id", "user_n").as[(Long, Long)].collect().sorted.toSeq
      val salted = Skew.saltedJoin(big, small, "user_id", salts = 7, joinType = jt)
        .select("event_id", "user_n").as[(Long, Long)].collect().sorted.toSeq
      assert(salted == plain, s"join type $jt")
    }
  }

  test("salted join rejects join types it cannot preserve") {
    val df = Seq((1L, 1L)).toDF("user_id", "x")
    for (jt <- Seq("right", "full", "full_outer", "right_outer")) {
      assertThrows[IllegalArgumentException] {
        Skew.saltedJoin(df, df, "user_id", salts = 3, joinType = jt)
      }
    }
  }

  test("bucketed tables join exchange-free (no shuffle in SortMergeJoin plan)") {
    // The 100 TB co-location mechanic: bucketBy on the join key at write
    // time satisfies the join's ClusteredDistribution at read time — the
    // repeated fact⋈fact joins (q46-style) run with ZERO exchanges.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.range(10000)
        .select(col("id").as("k"), (col("id") % 97).as("v"))
      df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("graft_bucket_a")
      df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("graft_bucket_b")
      val j = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), Seq("k"))
      assert(j.count() == 10000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("partitionBy write → partition pruning at read (PartitionFilters)") {
    val dir = graft.sources.TmpWorkspace.fresh("part").toString
    Tables.events(spark, TestSpark.SF)
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)

    val df = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "expected non-empty PartitionFilters in:\n" + plan.take(2000))
    // pruned read returns exactly the partition's rows
    val expected = Tables.events(spark, TestSpark.SF)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == expected)
  }
}
