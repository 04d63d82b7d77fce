package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthetic ×N inflation of a testdata SF directory — the input ETL
  * for the scale-evidence bench tier (ScaleBench). The graded sf0.1
  * suite is too small to demonstrate parallel scaling (every query is
  * dominated by fixed per-action overhead; the r16 verdict measured
  * 8-core ≈ 32-core), so this tool writes an approximately-sf1 corpus
  * that the heavy-query panel can be timed on at two core counts.
  *
  * Construction: N key-shifted copies of every table (copy 0 is the
  * original). Keys are shifted by per-table offsets so each copy's
  * join graph replicates the original's exactly (orders⋈lineitem,
  * customer⋈orders, …). Document TEXT is made copy-unique by
  * suffixing every token with `_c<copy>` (copy 0 unchanged): shingle
  * and vocabulary spaces of different copies are disjoint, so the
  * near-dup pair graph and the token ledgers grow LINEARLY with N —
  * the scaling regime of a real corpus — instead of quadratically
  * (identical copies would make every document a 10-way near-dup).
  * nation/region stay single-copy (fixed dims). No oracle runs on this
  * data; it exists for timing only, and ScaleBench recomputes
  * everything from these parquet files on every invocation.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<src> runMain graft.tools.InflateSf <outDir> [factor]
  */
object InflateSf {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/testdata-scale/sf1syn")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // key offsets: far above any real id (each is checked below)
    val K_OFF = 1000000L    // order keys (o_orderkey / l_orderkey)
    val C_OFF = 1000000L    // customer keys
    val P_OFF = 1000000L    // part keys
    val S_OFF = 100000L     // supplier keys
    val D_OFF = 10000000L   // doc ids
    val E_OFF = 10000000L   // event ids
    val U_OFF = 1000000L    // user ids
    val V_OFF = 10000000L   // vec ids (above q87's DUP_OFFSET)

    def copies(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => shift(df, c)).reduce(_ unionByName _)

    def write(name: String, df: DataFrame, files: Int): Unit = {
      df.repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[inflate] $name x$factor -> $out/$name.parquet ($files files)")
    }

    val t = (n: String) => spark.read.parquet(s"$src/$n.parquet")

    // shifted copies must not collide: every offset exceeds the source
    // max of the key it shifts (foreign keys follow their dims' maxes)
    def guard(table: String, keys: (Column, Long)*): Seq[Long] = {
      val maxes = t(table).select(keys.map(k => max(k._1).cast("long")): _*).head()
      keys.zipWithIndex.map { case ((key, off), i) =>
        require(off > maxes.getLong(i),
          s"offset $off must exceed the source max ${maxes.getLong(i)} of $table $key")
        maxes.getLong(i)
      }
    }
    val maxOrderKey = guard("orders", col("o_orderkey") -> K_OFF).head
    guard("customer", col("c_custkey") -> C_OFF)
    guard("part", col("p_partkey") -> P_OFF)
    guard("supplier", col("s_suppkey") -> S_OFF)
    guard("documents", col("doc_id") -> D_OFF)
    guard("events", col("event_id") -> E_OFF, col("user_id") -> U_OFF)
    // q87 adds DUP_OFFSET to vec ids: copies must clear those too
    guard("embeddings", (col("vec_id") + graft.sim.Similarity.DUP_OFFSET) -> V_OFF)
    // nor may order keys reach the k + 100000000 rows q105/q112/q117 add
    require(maxOrderKey + (factor - 1) * K_OFF < 100000000L,
      s"factor $factor shifts o_orderkey past 100000000 (max $maxOrderKey)")

    write("documents", copies(t("documents"), (df, c) =>
      if (c == 0) df
      else df.select(
        (col("doc_id") + lit(c * D_OFF)).as("doc_id"),
        // copy-unique token space: suffix every token (linear scaling)
        array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_c$c"))), " ").as("text"),
        col("lang"), col("source"),
        length(array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_c$c"))), " ")).cast("long").as("n_chars"))),
      math.max(4, factor))

    write("orders", copies(t("orders"), (df, c) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(c * K_OFF))
      .withColumn("o_custkey", col("o_custkey") + lit(c * C_OFF))),
      math.max(4, factor))

    write("lineitem", copies(t("lineitem"), (df, c) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(c * K_OFF))
      .withColumn("l_partkey", col("l_partkey") + lit(c * P_OFF))
      .withColumn("l_suppkey", col("l_suppkey") + lit(c * S_OFF))),
      math.max(8, 2 * factor))

    write("customer", copies(t("customer"), (df, c) => df
      .withColumn("c_custkey", col("c_custkey") + lit(c * C_OFF))), 4)

    write("part", copies(t("part"), (df, c) => df
      .withColumn("p_partkey", col("p_partkey") + lit(c * P_OFF))), 4)

    write("supplier", copies(t("supplier"), (df, c) => df
      .withColumn("s_suppkey", col("s_suppkey") + lit(c * S_OFF))), 2)

    write("events", copies(t("events"), (df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * E_OFF))
      .withColumn("user_id", col("user_id") + lit(c * U_OFF))),
      math.max(4, factor))

    write("embeddings", copies(t("embeddings"), (df, c) => df
      .withColumn("vec_id", col("vec_id") + lit(c * V_OFF))), 4)

    write("nation", t("nation"), 1)
    write("region", t("region"), 1)

    spark.stop()
  }
}
