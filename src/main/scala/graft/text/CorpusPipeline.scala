package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The end-to-end corpus-curation composition an LLM training-data
  * pipeline actually runs (north star capstone): language filter →
  * quality floor → near-dup clustering → keeper selection. Each stage
  * is an operator already under the oracle (q35/q36/q40/q76); this
  * query proves they COMPOSE — one declarative plan, filters running
  * row-local in the scan stage before any shuffle, dedup clustering
  * only over the surviving subset.
  *
  * Scale order matters and is encoded here: the cheap row-local
  * predicates (lang heuristic, quality score) run first so the
  * expensive similarity join shingles only survivors — at 100 TB the
  * survivor filter is what keeps the inverted index buildable. */
object CorpusPipeline {

  val QUALITY_FLOOR = 0.5

  /** Curation keeper set with the columns downstream stages consume
    * (doc_id, text, lang, n_tok, quality) — the shared core of q78 and
    * the composed train-set build (q86). Unsorted: each caller orders
    * (or doesn't) per its own contract. */
  private[graft] def curatedKeepers(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // ONE survivor materialization shared by every consumer (r17,
    // guide §2.4/§5): the row-local filters + quality + the shingle
    // arrays are computed once. Without the checkpoint this subtree
    // re-ran per plan consumer — the LSH bucket self-join (i and j
    // sides), the exact-verify join (i and j sides), and the final
    // keeper join each re-derived the corpus scan + langGuess +
    // quality + shingle_set (up to 5 evaluations per invocation; the
    // q80 lesson: subtrees with real per-row hash work win from one
    // materialization). Survivor-bounded, within-query, recomputed
    // from parquet on every invocation.
    val sv = TextOps.withQuality(docs)
      .filter(TextOps.langGuess(col("text")) === "en"
        && col("quality") >= QUALITY_FLOOR)
      .select(col("doc_id"), col("text"), col("lang"), col("n_tok"),
        col("quality"),
        graft.functions.ShingleSet.shingle_set(col("text")).as("sgs"))
      .localCheckpoint()
    val survivors = sv.drop("sgs")
    // dedup over survivors only: shingle AFTER the cheap filters
    val arr = sv.select(col("doc_id"), col("sgs"))
      .filter(size(col("sgs")) > 0)
    // Near-dup candidates: LSH-banded (q41's machinery) + exact verify —
    // linear in survivors, the 100 TB path, and output-identical to the
    // exact inverted-index join under the corpus margin TrainingSetSpec
    // asserts (the oracle below stays the EXACT pair join, so the gate
    // re-proves the equality every round).
    val pairs = Dedup.lshVerifiedPairs(s, arr).select(col("i"), col("j"))
    val labels = DedupCluster.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    survivors
      .join(labels, Seq("doc_id"), "left")
      .filter(coalesce(col("root"), col("doc_id")) === col("doc_id"))
  }

  /** q78: curated corpus — predicted-English documents above the
    * quality floor, one keeper per near-dup cluster (the cluster's min
    * doc_id), with the per-doc quality evidence kept as columns. */
  def q78CorpusPipeline(s: SparkSession, d: String): DataFrame =
    curatedKeepers(s, d)
      .select(col("doc_id"), col("n_tok"), col("quality"))
      .orderBy(col("doc_id"))

  /** Shared curation CTEs: survivors (with text/lang kept for composed
    * downstream stages) → survivor-restricted pairs → CC labels. Callers
    * open with WITH RECURSIVE; the keeper predicate is
    * `COALESCE(LEAST(lab.mr, doc_id), doc_id) = doc_id`. */
  val ORA_CURATE_CTES = s"""surv AS (
      SELECT doc_id, text, lang, n_tok, quality FROM (
        SELECT doc_id, text, lang,
          ${TextOps.ORA_N_TOK} AS n_tok,
          ${TextOps.ORA_QUALITY} AS quality,
          ${TextOps.ORA_LANG_CASE} AS lang_pred
        FROM documents)
      WHERE lang_pred = 'en' AND quality >= ${QUALITY_FLOOR}),
    ${Dedup.ORA_PAIR_CTES},
    pr AS (
      SELECT i, j FROM jac
      WHERE jac >= ${Dedup.JACCARD_THRESHOLD}
        AND i IN (SELECT doc_id FROM surv)
        AND j IN (SELECT doc_id FROM surv)),
    ${Dedup.ORA_CC_CTES}"""

  val o78 = s"""
    WITH RECURSIVE $ORA_CURATE_CTES
    SELECT s.doc_id, s.n_tok, s.quality
    FROM surv s LEFT JOIN lab ON lab.n = s.doc_id
    WHERE COALESCE(LEAST(lab.mr, s.doc_id), s.doc_id) = s.doc_id
    ORDER BY s.doc_id"""

  // ---- q250: curation funnel manifest ----

  /** q250: the stage funnel — documents and tokens surviving each rung
    * of the curation ladder (raw → language → quality → dedup-keeper →
    * decontaminated), with retained-ppm against the raw corpus: the
    * one-table manifest a run report leads with, and the capstone that
    * composes the engine's filter (q35/q36), dedup (q78) and
    * decontamination (q230's eval-gram membership) stages into one
    * attested artifact.
    *
    * Scale shape: each document's funnel DEPTH comes from one corpus
    * pass (row-local predicates) plus two semi-join verdicts — the
    * keeper set (shared curatedKeepers machinery) and the
    * eval-contaminated set (broadcast eval gram index) — then the
    * funnel is a 5-row depth histogram with a top-down cumulative
    * window. The corpus is scanned ONCE for depth assignment, never
    * once per stage. */
  def q250CurationFunnel(s: SparkSession, d: String): DataFrame = {
    val SPAN = Dedup.SPAN
    val mod = graft.text.TrainingSet.SPAN_EVAL_MOD
    val base = TextOps.withQuality(documents(s, d))
      .withColumn("pred", TextOps.langGuess(col("text")))
      .select(col("doc_id"), col("text"), col("n_tok"),
        col("quality"), col("pred"))
    val keepers = curatedKeepers(s, d).select(col("doc_id"))
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(
        graft.functions.SpanHash.span_hashes(col("text"), SPAN)).as("h"))
    val ev = grams(documents(s, d).filter(col("doc_id") % mod === 0))
      .select(col("h")).distinct()
    val contaminated = grams(base.filter(col("doc_id") % mod =!= 0))
      .join(broadcast(ev), Seq("h"))
      .select(col("doc_id")).distinct()
    val depth = base
      .join(keepers.withColumn("kept", lit(1)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("cont", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (lit(0)
          + when(col("pred") === "en", 1).otherwise(0)
          + when(col("pred") === "en"
              && col("quality") >= QUALITY_FLOOR, 1).otherwise(0)
          + when(col("kept").isNotNull, 1).otherwise(0)
          + when(col("kept").isNotNull && col("cont").isNull, 1)
            .otherwise(0)).as("depth"))
    val hist = depth.groupBy(col("depth"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
    val stages = Seq("raw", "lang", "quality", "dedup", "decontam")
    val stageDf = stages.zipWithIndex.map { case (nm, i) =>
      s"($i, '$nm')" }.mkString("VALUES ", ", ", " AS t(stage_idx, stage)")
    s.sql(s"SELECT * FROM ($stageDf)")
      .join(hist, col("depth") >= col("stage_idx"), "left")
      .groupBy(col("stage_idx"), col("stage"))
      .agg(coalesce(sum(col("nd")), lit(0L)).as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("n_tokens"))
      .withColumn("raw_docs", max(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("retained_ppm",
        expr("n_docs * 1000000L div raw_docs"))
      .drop("raw_docs")
      .withColumn("stage_idx", col("stage_idx").cast("long"))
      .orderBy(col("stage_idx"))
  }

  val o250 = s"""
    WITH RECURSIVE $ORA_CURATE_CTES,
    keepers AS (
      SELECT s.doc_id FROM surv s LEFT JOIN lab ON lab.n = s.doc_id
      WHERE COALESCE(LEAST(lab.mr, s.doc_id), s.doc_id) = s.doc_id),
    tdoc AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id,
        ('0x' || substr(md5(array_to_string(tk[i:i+${Dedup.SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM tdoc, unnest(range(1, len(tk) - ${Dedup.SPAN - 2})) u(i)
      WHERE len(tk) >= ${Dedup.SPAN}),
    ev AS (SELECT DISTINCT h FROM g
           WHERE doc_id % ${graft.text.TrainingSet.SPAN_EVAL_MOD} = 0),
    cont AS (
      SELECT DISTINCT g.doc_id FROM g JOIN ev USING (h)
      WHERE g.doc_id % ${graft.text.TrainingSet.SPAN_EVAL_MOD} <> 0),
    base AS (
      SELECT doc_id, ${TextOps.ORA_N_TOK} AS n_tok,
        ${TextOps.ORA_QUALITY} AS quality,
        ${TextOps.ORA_LANG_CASE} AS pred
      FROM documents),
    dep AS (
      SELECT b.doc_id, b.n_tok,
        (CASE WHEN pred = 'en' THEN 1 ELSE 0 END)
        + (CASE WHEN pred = 'en' AND quality >= $QUALITY_FLOOR
             THEN 1 ELSE 0 END)
        + (CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        + (CASE WHEN k.doc_id IS NOT NULL AND c.doc_id IS NULL
             THEN 1 ELSE 0 END) AS depth
      FROM base b
      LEFT JOIN keepers k ON k.doc_id = b.doc_id
      LEFT JOIN cont c ON c.doc_id = b.doc_id),
    st(stage_idx, stage) AS (VALUES (0, 'raw'), (1, 'lang'),
      (2, 'quality'), (3, 'dedup'), (4, 'decontam')),
    f AS (
      SELECT st.stage_idx, st.stage,
        CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
        CAST(COALESCE(SUM(d.n_tok), 0) AS BIGINT) AS n_tokens
      FROM st LEFT JOIN dep d ON d.depth >= st.stage_idx
      GROUP BY 1, 2),
    rw AS (SELECT MAX(n_docs) AS raw_docs FROM f)
    SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_docs,
      n_tokens, n_docs * 1000000 // raw_docs AS retained_ppm
    FROM f, rw ORDER BY stage_idx"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q78_corpus_pipeline" -> (q78CorpusPipeline _),
    "q250_curation_funnel" -> (q250CurationFunnel _))

  val oracles: Map[String, String] = Map(
    "q78_corpus_pipeline" -> o78,
    "q250_curation_funnel" -> o250)
}
