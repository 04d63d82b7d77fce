package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._

/** q196: token co-occurrence association (lift) over a bounded
  * heavy-vocabulary — the builder for PMI/association tables that
  * embedding-free retrieval and query-expansion stages use. Distinct
  * from q93 (ADJACENT bigrams for BPE) and q165 (itemsets over order
  * baskets): this is document-level unordered co-occurrence of the
  * TOP-K vocabulary with an exact integer lift metric,
  * lift·1e6 = n_pair · N · 1e6 / (df₁ · df₂).
  */
object Cooccur {

  /** Vocabulary bound and minimum pair support. The K-bound is the
    * scale story: pair generation is quadratic per document ONLY in the
    * tokens that survive the vocab join, so the candidate volume is
    * ≤ C(K,2) distinct pairs regardless of corpus size. */
  val VOCAB_K = 100
  val MIN_SUPPORT = 5
  val TOP_PAIRS = 50

  /** q196: top-50 vocab token pairs by exact lift.
    *
    * Scale shape: doc→distinct-token postings are one explode + one
    * map-side-combined df count. The vocab pick (row_number over the
    * token-count table ordered by df desc, token) runs over |vocab|
    * rows — at 100 TB that table is itself large, so the rank input
    * would first be cut by an approximate heavy-hitter pass (q95's
    * machinery); the exact rank then runs over ~K·fudge survivors.
    * Postings ⋉ broadcast(vocab) bounds the per-doc token set to ≤ K,
    * the per-doc pair self-join is the standard inverted-index
    * candidate generation (bounded Θ(K²) per doc), and the lift
    * arithmetic is DECIMAL(38,0): n_pair·N·1e6 overflows int64 once
    * N crosses ~1e6 docs (DuckDB mirrors with HUGEINT). */
  def q196CooccurLift(s: SparkSession, d: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    // Postings materialized ONCE (r16): df counts and both self-join
    // sides re-exploded the corpus per consumer (5 documents scans in
    // the executed plan); n_docs is a parquet row-count read inlined
    // as an exact literal. One corpus scan at any scale.
    val postings = documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .localCheckpoint()
    val dfCounts = postings.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val vocab = dfCounts
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("df"), col("tok"))))
      .filter(col("rk") <= VOCAB_K)
      .select(col("tok"), col("df"))
    val dv = postings.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok"), col("df"))
    val pairs = dv.as("a")
      .join(dv.as("b"), col("a.doc_id") === col("b.doc_id") &&
        col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("t1"), col("b.tok").as("t2"),
        col("a.df").as("df1"), col("b.df").as("df2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= MIN_SUPPORT)
    val nDocs = documents(s, d).count()
    pairs
      .select(col("t1"), col("t2"), col("n_pair"), col("df1"), col("df2"),
        expr(s"cast((cast(n_pair as decimal(38,0)) * $nDocs * 1000000) div " +
          "(cast(df1 as decimal(38,0)) * df2) as bigint)").as("lift_micro"))
      .orderBy(desc("lift_micro"), col("t1"), col("t2"))
      .limit(TOP_PAIRS)
  }

  val o196 = s"""
    WITH postings AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents),
    dfc AS (SELECT tok, count(*) AS df FROM postings GROUP BY 1),
    vocab AS (
      SELECT tok, df FROM (
        SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rk
        FROM dfc) WHERE rk <= $VOCAB_K),
    dv AS (SELECT doc_id, p.tok, df FROM postings p JOIN vocab USING (tok)),
    pairs AS (
      SELECT a.tok AS t1, b.tok AS t2, a.df AS df1, b.df AS df2,
        count(*) AS n_pair
      FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2, 3, 4
      HAVING count(*) >= $MIN_SUPPORT)
    SELECT t1, t2, n_pair, CAST(df1 AS BIGINT) AS df1,
      CAST(df2 AS BIGINT) AS df2,
      CAST(CAST(n_pair AS HUGEINT) * (SELECT count(*) FROM documents)
        * 1000000 // (CAST(df1 AS HUGEINT) * df2) AS BIGINT) AS lift_micro
    FROM pairs
    ORDER BY lift_micro DESC, t1, t2 LIMIT $TOP_PAIRS"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_cooccur_lift" -> (q196CooccurLift _))

  val oracles: Map[String, String] = Map(
    "q196_cooccur_lift" -> o196)
}
