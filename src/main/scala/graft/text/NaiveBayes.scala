package graft.text

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, GraftInternal, Row}
import org.apache.spark.sql.functions._

import graft.functions.TokenCounts.token_counts

/** The multinomial Naive-Bayes count model behind q285 (source
  * classifier), q287 (K-fold CV sweep), q292 (leave-one-source-out),
  * q300 (McNemar) and q302 (split conformal). Each query keeps its own
  * folds, holdouts, α grid or calibration; the pieces here are the ones
  * all of them use unchanged:
  *
  *  - `tokenCounts`: the (doc_id, keys…, tok, n) statistic, one explode
  *    of the text collapsed to distinct tokens per doc, materialized;
  *  - `perDoc`, `cells`: per-doc token totals and the
  *    (tok, cls[, keys…]) count cells;
  *  - `ledger`, `vocab`: token mass and doc count per class (and key),
  *    with every subtotal, and the vocabulary size, each collected on
  *    the driver while the caller goes on;
  *  - `log7` / `n7`: the integer log term floor(ln(num/den)·1e7), driver
  *    and column forms;
  *  - `seen` / `nll7`: the n-weighted seen-token sums and the per-doc
  *    NLL, unseen tokens folded into the (n_tok − n_seen)·u7 remainder.
  *
  * Every term is floor(ln r · 1e7) of one division r of exact int64s,
  * all ≥ 0 (c ≤ N_s, D_s ≤ D), so per-doc per-class NLL is an exact long
  * sum and the DuckDB oracles reproduce it from the same doubles.
  */
object NaiveBayes {

  /** `docs`' (doc_id, keys…, tok, n): each token of
    * `split(text, " ")` (empty tokens and repeats included) counted per
    * distinct (doc, keys…, tok), materialized. Σn over a doc's rows is
    * its occurrence count, so the doc ledger and the scoring join both
    * read this frame and the text is scanned once. A doc's tokens all
    * come from its one row, so the row-local `token_counts` collapses
    * them with no token shuffle; the docs are dealt round-robin over the
    * shuffle partitions first, so the frame's readers (the scoring
    * join's |classes|-fold fan-out above all) run one task per core
    * even when the corpus is one small file. */
  def tokenCounts(docs: DataFrame, keys: Column*): DataFrame =
    docs.repartition(graft.Tables.shufflePartitions(docs.sparkSession))
      .select(col("doc_id") +: keys :+
        explode(token_counts(col("text"))).as("tc"): _*)
      .select(col("*"), col("tc.term").as("tok"), col("tc.tf").as("n"))
      .drop("tc")
      .localCheckpoint()

  /** (doc_id, keys…, n_tok) of a `tokenCounts` frame: each doc's
    * occurrence count, Σn. */
  def perDoc(docTok: DataFrame): DataFrame =
    docTok.groupBy(docTok.columns.toIndexedSeq
        .filterNot(Set("tok", "n")).map(col): _*)
      .agg(sum(col("n")).as("n_tok"))

  /** The (tok, cls, keys…) count cells of a `tokenCounts` frame: Σn in
    * column `out`, class column `cls` renamed to cls, materialized
    * (every caller reads the cells more than once). */
  def cells(docTok: DataFrame, cls: String, out: String, keys: String*): DataFrame =
    docTok.groupBy(col("tok") +: col(cls).as("cls") +: keys.map(col): _*)
      .agg(sum(col("n")).as(out))
      .localCheckpoint()

  /** |V|, the distinct tokens of a `tokenCounts` frame, counted on a
    * pool thread while the caller goes on; the thunk waits for it. */
  def vocab(docTok: DataFrame): () => Long =
    overlapped(docTok)(docTok.agg(countDistinct(col("tok"))).head().getLong(0))

  /** Token mass n and doc count d of a `perDoc` frame per class (and
    * key) value and every subtotal: `apply(None, None)` is the corpus,
    * `apply(Some(c))` class c over all keys. A cell with no docs reads
    * (0, 0). */
  final class Ledger[K] private[NaiveBayes] (rows: Array[Row], keyed: Boolean) {
    // grouping_id, not a NULL test, tells a subtotal from a data row
    private val byCell: Map[(Option[String], Option[K]), (Long, Long)] =
      rows.map { r =>
        val gid = r.getAs[Long]("gid")
        val cls = if ((gid & (if (keyed) 2L else 1L)) == 0L) Some(r.getString(0)) else None
        val key = if (keyed && (gid & 1L) == 0L) Some(r.getAs[K](1)) else None
        (cls, key) -> ((r.getAs[Long]("n"), r.getAs[Long]("d")))
      }.toMap
    // a NULL class never matches the (doc_id, cls) scoring join, so every
    // token of its docs would score as unseen: the model is undefined
    require(!byCell.keys.exists { case (c, k) => c.contains(null) || k.contains(null) },
      "NULL class or key value in the corpus: the NB class ledger is undefined")
    /** The classes, sorted. */
    val classes: Seq[String] = byCell.keys.collect { case (Some(c), None) => c }.toSeq.sorted
    /** The key values, unordered. */
    val keys: Seq[K] = byCell.keys.collect { case (None, Some(k)) => k }.toSeq
    def apply(cls: Option[String], key: Option[K] = None): (Long, Long) =
      byCell.getOrElse((cls, key), (0L, 0L))
  }

  /** The `Ledger` of `perDoc` by `cls` (and `key`), collected on a pool
    * thread while the caller goes on; the thunk waits for it. */
  def ledger[K](perDoc: DataFrame, cls: String, key: Option[String] = None): () => Ledger[K] = {
    val cube = perDoc.cube(col(cls) +: key.map(col).toSeq: _*)
      .agg(sum(col("n_tok")).as("n"), count(lit(1)).as("d"), grouping_id().as("gid"))
    val rows = overlapped(perDoc)(cube.collect())
    () => new Ledger[K](rows(), key.isDefined)
  }

  /** Starts `body`, a driver collect of `df`'s session, on a pool thread,
    * so its jobs overlap the caller's next ones; the thunk waits for it.
    * The pool thread runs under a copy of the caller's local properties:
    * a reused pool thread would otherwise carry the job group and
    * description of whichever thread created it. */
  private def overlapped[A](df: DataFrame)(body: => A): () => A = {
    val sc = df.sparkSession.sparkContext
    val props = GraftInternal.localProperties(sc)
    val result = Future(GraftInternal.withLocalProperties(sc, props)(body))(
      ExecutionContext.global)
    () => Await.result(result, Duration.Inf)
  }

  /** floor(ln(num/den)·1e7) on the driver. `java.lang.StrictMath.log`
    * is the function Spark's `log` evaluates, on the same double, so
    * this equals `n7` of the same operands bit for bit. */
  def log7(num: Long, den: Long = 1L): Long =
    math.floor(java.lang.StrictMath.log(num.toDouble / den.toDouble) * 1e7).toLong

  /** floor(ln(num/den)·1e7) as a long column. */
  def n7(num: Column, den: Column): Column =
    floor(log(num.cast("double") / den.cast("double")) * lit(1e7)).cast("long")

  /** Scores a `tokenCounts` frame against `scored` (broadcast, joined
    * on `on`): per doc_id and the rest of `scored`'s keys, every `n7*`
    * column summed n-weighted into the matching `s7*`, plus n_seen = Σn,
    * the doc's occurrences of tokens the model has seen. */
  def seen(docTok: DataFrame, scored: DataFrame, on: Seq[String]): DataFrame = {
    val n7s = scored.columns.toSeq.filter(_.startsWith("n7"))
    val by = "doc_id" +: scored.columns.toSeq.filterNot(c => on.contains(c) || n7s.contains(c))
    val sums = n7s.map(c => sum(col("n") * col(c)).as("s7" + c.stripPrefix("n7")))
    docTok.join(broadcast(scored), on)
      .groupBy(by.map(col): _*)
      .agg(sums.head, sums.tail :+ sum(col("n")).as("n_seen"): _*)
  }

  /** Per-(doc, class) NLL from `seen`'s s7<sfx> and n_seen (NULL where
    * the doc has no seen token of the class) and the ledger's u7<sfx>
    * and prior7: s7 + (n_tok − n_seen)·u7 + prior7. */
  def nll7(sfx: String = ""): Column =
    coalesce(col(s"s7$sfx"), lit(0L)) +
      (col("n_tok") - coalesce(col("n_seen"), lit(0L))) * col(s"u7$sfx") + col("prior7")
}
