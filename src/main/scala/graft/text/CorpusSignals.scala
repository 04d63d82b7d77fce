package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus-level token statistics as per-document quality signals:
  * document-frequency rarity scoring (q120) and stop-token-filtered
  * co-occurrence mining (q123).
  *
  * Both operators share the two-phase vocabulary shape that the TF-IDF
  * (q63) and BPE (q93) passes established: a corpus-wide
  * document-frequency aggregate (vocabulary-sized — millions of rows at
  * 100 TB, never driver-resident) joined back against the per-document
  * token stream. All scoring arithmetic is exact-integer until a single
  * final IEEE division, so results are partitioning-independent and
  * engine-portable (the q109 determinism stance).
  */
object CorpusSignals {

  /** Per-document token occurrences (with multiplicity). Whitespace
    * tokenization — the corpus contract shared with q34/q63. */
  private def occurrences(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))

  /** Document frequency per token: |docs containing tok|. */
  private def docFreq(s: SparkSession, d: String): DataFrame =
    occurrences(s, d).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))

  // ---- q120: document-frequency rarity scoring ----

  /** q120: score each document by how rare its tokens are in the
    * corpus — mean document frequency over token occurrences, and the
    * fraction of occurrences whose token appears in fewer than 10% of
    * documents (`df·10 < n_docs`, exact integer comparison — no
    * floating threshold). On this corpus the planted `dup` marker
    * (df=25 of 500) is the only rare token, so the signal separates
    * the planted near-duplicate family from the background.
    *
    * Scale shape: the df table is vocabulary-sized; the join back is a
    * token-keyed shuffle join at 100 TB (here Catalyst broadcasts the
    * 31-row vocab — both plans are correct, the choice is size-driven).
    * The corpus-size scalar is a 1-row aggregate broadcast into the
    * plan, not a driver-side `.count()`. Per-doc scoring is then a
    * doc-keyed aggregate: one scan, two bounded exchanges. */
  def q120TokenRarity(s: SparkSession, d: String): DataFrame = {
    // Deliberately left in the lazy raw-occurrence shape (r16 A/B,
    // same era, min-of-7 at sf0.1/32c): collapsing to a checkpointed
    // (doc, tok, n) statistic probed 0.86 s vs 0.58 s here — the
    // collapse shuffle + block writes cost more than the one duplicate
    // explode under df. The df subtree's extra corpus explode is
    // column-pruned (doc_id, text) and map-side-combined at any scale.
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    occurrences(s, d)
      .join(docFreq(s, d), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           (sum(col("df")).cast("double") / count(lit(1))).as("mean_df"),
           (sum(when(col("df") * 10 < col("n_docs"), 1L).otherwise(0L))
              .cast("double") / count(lit(1))).as("rare_ratio"))
      .orderBy(col("doc_id"))
  }

  val o120 = """
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    df AS (
      SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM occ)
      GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT occ.doc_id, count(*) AS n_tokens,
      CAST(SUM(df.df) AS DOUBLE) / count(*) AS mean_df,
      CAST(SUM(CASE WHEN df.df * 10 < n.n_docs THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*) AS rare_ratio
    FROM occ JOIN df USING (tok) CROSS JOIN n
    GROUP BY occ.doc_id
    ORDER BY occ.doc_id"""

  // ---- q123: stop-token-filtered co-occurrence mining ----

  /** q123: the most frequent token pairs co-occurring within documents,
    * after excluding corpus-wide stop tokens (df·5 ≥ n_docs·4, i.e.
    * tokens in ≥ 80% of documents — exact integer comparison). The
    * collocation-mining primitive behind phrase detection and
    * concept-graph construction in corpus curation.
    *
    * Scale shape: the stop-token exclusion is the fan-out bound — pair
    * generation is quadratic in the *filtered* distinct tokens per
    * document, and the df cutoff removes exactly the tokens that would
    * make it quadratic in document length (the q40/q79 df-cutoff
    * stance applied to pairs). At 100 TB you would additionally cap
    * filtered-tokens-per-doc (keep the k rarest); on this corpus the
    * cap would never bind (≤ 31 distinct). The pair count then flows
    * through one (t1,t2)-keyed aggregate into a
    * TakeOrderedAndProject — per-partition heaps, 20 rows to the
    * driver, no global sort. */
  def q123Cooccur(s: SparkSession, d: String): DataFrame = {
    // r16: the distinct (doc,tok) set is materialized ONCE and df
    // derives from it — the un-checkpointed shape re-exploded the
    // corpus per consumer (6 documents scans in the executed plan:
    // df's input, kept's input, both self-join sides re-deriving
    // kept). n_docs is a parquet row-count read, inlined as a literal
    // (exact integer either way). `kept` is itself checkpointed: it is
    // the self-join's both sides, and re-deriving it costs the dt⋈df
    // join twice. One corpus scan total at any scale.
    val nd = documents(s, d).count()
    val dt = occurrences(s, d).distinct().localCheckpoint()
    val df = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val kept = dt.join(df, Seq("tok"))
      .filter(col("df") * 5 < lit(nd) * 4)
      .select(col("doc_id"), col("tok"))
      .localCheckpoint()
    kept.select(col("doc_id"), col("tok").as("t1"))
      .join(kept.select(col("doc_id"), col("tok").as("t2")), Seq("doc_id"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_docs_together"))
      .orderBy(desc("n_docs_together"), col("t1"), col("t2"))
      .limit(20)
  }

  val o123 = """
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    df AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    kept AS (
      SELECT dt.doc_id, dt.tok FROM dt JOIN df USING (tok) CROSS JOIN n
      WHERE df.df * 5 < n.n_docs * 4)
    SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_docs_together
    FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY a.tok, b.tok
    ORDER BY n_docs_together DESC, t1, t2
    LIMIT 20"""

  // ---- q131: per-source quality calibration ----

  /** q131: quantile-normalize quality scores WITHIN each source and
    * keep each source's top decile — raw quality thresholds are not
    * comparable across sources (a boilerplate-heavy crawl scores
    * systematically lower than curated text), so curation pipelines
    * calibrate per source before thresholding. Reuses the one
    * `withQuality` definition shared with q36/q78.
    *
    * Scale shape: one exchange on `source`; `percent_rank` is
    * rank-based — (rank−1)/(n−1) is an exact IEEE division on
    * integers, ties share a rank, and the in-partition sort is local.
    * Work parallels across sources; a giant source bounds its own
    * partition (salt by quality band if one source dominates). */
  def q131SourceCalibration(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("quality"))
    TextOps.withQuality(documents(s, d))
      .withColumn("pctile", percent_rank().over(w))
      .filter(col("pctile") >= 0.9)
      .select(col("doc_id"), col("source"), col("quality"),
        round(col("pctile"), 6).as("pctile"))
      .orderBy(col("doc_id"))
  }

  val o131 = s"""
    WITH q AS (
      SELECT doc_id, source, ${TextOps.ORA_QUALITY} AS quality
      FROM documents),
    p AS (
      SELECT doc_id, source, quality,
        percent_rank() OVER (PARTITION BY source ORDER BY quality) AS pctile
      FROM q)
    SELECT doc_id, source, quality, ROUND(pctile, 6) AS pctile
    FROM p WHERE pctile >= 0.9 ORDER BY doc_id"""

  // ---- q132: token-distribution Gini coefficient ----

  /** q132: inequality of token mass across documents — the Gini
    * coefficient of per-doc token counts, plus the corpus totals. A
    * skewed Gini warns that a few giant documents dominate training
    * token mass.
    *
    * Scale shape: the textbook formulation ranks every document in one
    * global window (single reducer at 100 TB). Here documents collapse
    * to |distinct token-count| rows first (bounded by max doc length,
    * not corpus size); a run of c equal-valued docs starting at rank a
    * contributes v·(c·a + c(c−1)/2) to the rank-weighted sum — exact
    * int64/decimal arithmetic over the tiny value-level table, windowed
    * over |values| rows only. Tie order cancels algebraically, so the
    * value-run formula equals the row-level one; the DuckDB oracle
    * RUNS the row-level row_number formulation, so the gate proves the
    * rewrite lossless. */
  def q132TokenGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("n_tok"))
    val runs = documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("n_tok")).agg(count(lit(1)).as("c"))
      .withColumn("start_rank",
        coalesce(sum(col("c")).over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)) + 1L)
    runs
      .select(
        sum(col("c")).as("n"),
        sum(col("n_tok") * col("c")).as("t"),
        // c·(c−1) is always even, so `div 2` is exact. The run
        // contribution is summed in decimal(38,0), NOT int64: at the
        // 100 TB shape (start_rank ~ n_docs ≈ 1e9, c ≈ 1e9, n_tok ≈
        // 1e5) the product reaches ~1e26 and int64 would wrap silently;
        // decimal keeps it exact (≤38 digits covers ~1e32 corpus sums).
        expr("sum(cast(n_tok as decimal(38,0)) * " +
          "(cast(c as decimal(38,0)) * start_rank + (c * (c - 1)) div 2))")
          .as("s"))
      // 2s − (n+1)t also stays decimal through the subtraction ((n+1)·t
      // alone exceeds int64 at ~1e22); only the final ratio is IEEE.
      .select(col("n").as("n_docs"), col("t").as("total_tokens"),
        round(((lit(2).cast("decimal(38,0)") * col("s")
            - (col("n") + 1).cast("decimal(38,0)") * col("t")).cast("double")
          / (col("n").cast("double") * col("t"))), 9).as("gini"))
  }

  val o132 = """
    WITH x AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    r AS (
      SELECT n_tok, CAST(row_number() OVER (ORDER BY n_tok) AS BIGINT) AS i
      FROM x)
    SELECT count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      ROUND((2.0 * SUM(i * n_tok) - (count(*) + 1) * SUM(n_tok))
        / (CAST(count(*) AS DOUBLE) * SUM(n_tok)), 9) AS gini
    FROM r"""

  // ---- q133: shingle novelty scoring ----

  /** q133: per-document novelty — the fraction of a doc's distinct
    * 3-gram shingles whose corpus-wide FIRST occurrence (min doc_id)
    * is this doc. Low novelty late in the corpus marks recombined /
    * templated content even when no single pair crosses a dedup
    * threshold; it is the document-level view of the q79 span index.
    *
    * Scale shape: reuses the row-local codegen shingle arrays (q40's
    * machinery); the first-occurrence index is a shingle-keyed
    * aggregate (vocabulary-sized, mergeable min) joined back on the
    * shingle key; per-doc scoring is then one doc-keyed aggregate.
    * Exact integer counts, one IEEE division. */
  def q133ShingleNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingles(s, d)
    val firstDoc = sh.groupBy(col("sg")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstDoc, Seq("sg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           (sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .cast("double") / count(lit(1))).as("novel_ratio"))
      .orderBy(col("doc_id"))
  }

  val o133 = s"""
    WITH sh AS (${Dedup.ORA_SHINGLES}),
    f AS (SELECT sg, MIN(doc_id) AS first_doc FROM sh GROUP BY sg)
    SELECT sh.doc_id, count(*) AS n_shingles,
      CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        AS DOUBLE) / count(*) AS novel_ratio
    FROM sh JOIN f USING (sg)
    GROUP BY sh.doc_id ORDER BY sh.doc_id"""

  // ---- q136: token-weighted quality quantiles ----

  /** Quantile targets, shared literally by both engines. */
  val WQ_TARGETS = Seq(0.1, 0.5, 0.9)

  /** q136: the quality level below which 10% / 50% / 90% of the
    * corpus's TOKEN MASS lies. Curation thresholds are token-weighted
    * in practice — "drop the worst 10% of tokens" is a different cut
    * than "drop the worst 10% of documents" whenever quality and
    * length correlate. Reported per target as the smallest quality
    * band whose cumulative token mass reaches the target (the exact
    * lower weighted quantile — no interpolation, integer token
    * arithmetic against an IEEE target product).
    *
    * Scale shape: documents collapse to |quality band| rows (the
    * q98/q132 value-run stance — `floor(quality·20)` is monotone in
    * quality), the cumulative sum windows over that tiny table, and
    * the target probe is a broadcast 3-row cross join. The document
    * scan is one map-side-combined aggregate; nothing document-level
    * is ever sorted globally. */
  def q136WeightedQuantiles(s: SparkSession, d: String): DataFrame = {
    val bands = TextOps.withQuality(documents(s, d))
      .filter(col("n_tok") > 0)
      .withColumn("band", floor(col("quality") * 20).cast("long"))
      .groupBy(col("band")).agg(sum(col("n_tok")).as("band_tokens"))
    val w = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bands
      .withColumn("cum_tokens", sum(col("band_tokens")).over(w))
      .withColumn("total_tokens",
        sum(col("band_tokens")).over(Window.partitionBy()))
    val tdf = s.createDataFrame(
      WQ_TARGETS.map(Tuple1.apply)).toDF("target")
    cum.crossJoin(broadcast(tdf))
      .filter(col("cum_tokens").cast("double")
        >= col("target") * col("total_tokens").cast("double"))
      .groupBy(col("target"))
      .agg(min(col("band")).as("band"),
           min_by(col("cum_tokens"), col("band")).as("cum_tokens"),
           min(col("total_tokens")).as("total_tokens"))
      .select(col("target"), col("band"),
        (col("band").cast("double") / 20.0).as("quality_floor"),
        col("cum_tokens"), col("total_tokens"),
        round(col("cum_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("cum_share"))
      .orderBy(col("target"))
  }

  val o136 = {
    val targetsSql = WQ_TARGETS.mkString("(", "), (", ")")
    s"""
    WITH q AS (
      SELECT ${TextOps.ORA_QUALITY} AS quality, ${TextOps.ORA_N_TOK} AS n_tok
      FROM documents),
    bands AS (
      SELECT CAST(floor(quality * 20) AS BIGINT) AS band,
        CAST(SUM(n_tok) AS BIGINT) AS band_tokens
      FROM q WHERE n_tok > 0 GROUP BY 1),
    cum AS (
      SELECT band, band_tokens,
        CAST(SUM(band_tokens) OVER (ORDER BY band
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens,
        CAST(SUM(band_tokens) OVER () AS BIGINT) AS total_tokens
      FROM bands),
    t(target) AS (VALUES $targetsSql)
    SELECT t.target, MIN(c.band) AS band,
      CAST(MIN(c.band) AS DOUBLE) / 20.0 AS quality_floor,
      min_by(c.cum_tokens, c.band) AS cum_tokens,
      MIN(c.total_tokens) AS total_tokens,
      ROUND(CAST(min_by(c.cum_tokens, c.band) AS DOUBLE)
        / CAST(MIN(c.total_tokens) AS DOUBLE), 6) AS cum_share
    FROM cum c CROSS JOIN t
    WHERE CAST(c.cum_tokens AS DOUBLE)
      >= t.target * CAST(c.total_tokens AS DOUBLE)
    GROUP BY t.target ORDER BY t.target"""
  }

  // ---- q140: PMI collocation mining ----

  /** Support floor for collocations: bigrams seen fewer times are too
    * noisy to score (the standard PMI low-count pathology — a 1-count
    * bigram of two 1-count tokens scores maximal PMI). */
  val PMI_MIN_COUNT = 5

  /** q140: collocation extraction — adjacent token bigrams ranked by
    * pointwise mutual information over the bigram event space:
    * PMI ratio = c(x,y)·N / (c(x,·)·c(·,y)), where the margins are the
    * bigram table's own row sums. Association strength, not raw
    * frequency — the q123 co-occurrence miner ranks by count; this
    * finds pairs that occur together FAR more than their parts predict
    * (multi-word expressions, templated spans), a standard
    * vocabulary-induction signal.
    *
    * Determinism stance (q109/q121): all counts exact int64; the score
    * is ONE division of two decimal(38,0)-exact products cast to
    * double — no float accumulation anywhere, so the value is
    * bit-identical cross-engine and the final (score, x, y) ordering
    * is total. log₂ is deliberately NOT applied: ln/log are the one
    * libm surface two engines may disagree on in the last ulp (the
    * q116 chi-square lesson), and the ratio orders identically.
    *
    * Scale shape: bigram extraction is row-local (transform over the
    * token array); the pair table is vocabulary²-bounded (further cut
    * by the support floor — applied BEFORE the margin joins, so only
    * surviving pairs join); margins are two aggregates OF the pair
    * table (no second corpus scan); N is a 1-row broadcast. Top-50
    * plans as TakeOrderedAndProject. */
  def q140PmiCollocations(s: SparkSession, d: String): DataFrame = {
    val bi = documents(s, d)
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i+1] AS y))"))
        .as("b"))
      .select(col("b.x"), col("b.y"))
      .filter(col("x") =!= "" && col("y") =!= "")
    // Pair table materialized ONCE (r16): its four consumers (both
    // margins, N, the support-filtered join) each re-exploded the
    // corpus otherwise (4 documents scans in the executed plan).
    val pairCnt = bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      .localCheckpoint()
    val leftCnt = pairCnt.groupBy(col("x")).agg(sum(col("cxy")).as("cxl"))
    val rightCnt = pairCnt.groupBy(col("y")).agg(sum(col("cxy")).as("cyr"))
    val nBi = pairCnt.agg(sum(col("cxy")).as("n_bi"))
    pairCnt.filter(col("cxy") >= PMI_MIN_COUNT)
      .join(leftCnt, Seq("x")).join(rightCnt, Seq("y"))
      .crossJoin(broadcast(nBi))
      .select(col("x"), col("y"), col("cxy"),
        round((col("cxy").cast("decimal(38,0)") * col("n_bi")).cast("double")
          / (col("cxl").cast("decimal(38,0)") * col("cyr")).cast("double"), 6)
          .as("pmi_ratio"))
      .orderBy(desc("pmi_ratio"), col("x"), col("y"))
      .limit(50)
  }

  val o140 = s"""
    WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
    b AS (
      SELECT t[i] AS x, t[i+1] AS y
      FROM t, unnest(range(1, len(t))) u(i)
      WHERE len(t) >= 2 AND t[i] <> '' AND t[i+1] <> ''),
    pc AS (SELECT x, y, COUNT(*) AS cxy FROM b GROUP BY x, y),
    lx AS (SELECT x, SUM(cxy) AS cxl FROM pc GROUP BY x),
    ry AS (SELECT y, SUM(cxy) AS cyr FROM pc GROUP BY y),
    n AS (SELECT SUM(cxy) AS nbi FROM pc)
    SELECT pc.x, pc.y, pc.cxy,
      ROUND(CAST(pc.cxy::HUGEINT * n.nbi AS DOUBLE)
        / CAST(lx.cxl::HUGEINT * ry.cyr AS DOUBLE), 6) AS pmi_ratio
    FROM pc JOIN lx ON pc.x = lx.x JOIN ry ON pc.y = ry.y CROSS JOIN n
    WHERE pc.cxy >= $PMI_MIN_COUNT
    ORDER BY pmi_ratio DESC, pc.x, pc.y LIMIT 50"""

  // ---- q167: unigram-LM cross-entropy quality filter (CCNet shape) ----

  /** q167: per-document average negative log-likelihood under the
    * corpus's own unigram LM — the perplexity-style quality filter of
    * CCNet-class pipelines (score documents by how surprising their
    * tokens are under a reference LM; the reference here is the corpus
    * unigram distribution itself, which keeps the oracle closed-form
    * while exercising the identical dataflow a pretrained-LM scorer
    * uses).
    *
    * Determinism: each token's −ln p(w) is fixed-pointed ONCE as
    * floor(−ln p · 10⁷) — the identical double multiply-then-floor on
    * both engines — then weighted by the exact integer term frequency
    * and summed as int64; the average is integer floor division
    * (micro-nats). No rounded double ever reaches the output: rational
    * averages sit exactly ON 6-dp boundaries for ~1 in 250 docs, where
    * Spark's Round(double) (shortest-string BigDecimal, HALF_UP) and
    * DuckDB's ROUND (binary multiply) disagree — and ROUND-at-7dp of
    * the per-term value hit the same trap one level down. floor() after
    * an identical multiply leaves only a 1-ulp ln() discrepancy landing
    * exactly on an integer boundary as the divergence window (~1e-8 per
    * vocabulary term, and fixed-data-stable).
    * Scale shape: occurrences collapse row-locally to (doc, term, tf)
    * via the codegen TokenCounts expression (no corpus-wide explode
    * shuffle); the unigram table is vocabulary-sized and broadcast
    * back; one groupBy(doc) finishes — q63's TF-IDF topology with a
    * language model on top. */
  def q167UnigramNll(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.TokenCounts.token_counts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"),
        col("tc.tf").cast("long").as("tf"))
    val uni = tf.groupBy(col("term")).agg(sum(col("tf")).as("cw"))
    val n = uni.agg(sum(col("cw")).as("n_corpus"))
    tf.join(broadcast(uni), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("n7",
        floor(-log(col("cw").cast("double") / col("n_corpus")) * 1e7)
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"),
           sum(col("n7") * col("tf")).as("t7"))
      .select(col("doc_id"), col("n_tok"),
        expr("t7 div (10 * n_tok)").as("avg_nll_micro"))
      .orderBy(col("doc_id"))
  }

  val o167 = """
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY 1, 2),
    uni AS (SELECT term, SUM(tf) AS cw FROM tf GROUP BY 1),
    n AS (SELECT SUM(cw) AS n_corpus FROM uni),
    sc AS (
      SELECT doc_id, tf,
        CAST(FLOOR(-ln(CAST(cw AS DOUBLE) / n_corpus) * 1e7) AS BIGINT)
          AS n7
      FROM tf JOIN uni USING (term) CROSS JOIN n)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
      CAST(SUM(n7 * tf) AS BIGINT) // CAST(10 * SUM(tf) AS BIGINT)
        AS avg_nll_micro
    FROM sc GROUP BY doc_id ORDER BY doc_id"""

  // ---- q215: bigram conditional LM quality (add-one smoothed) ----

  /** Fixed-point scale for per-occurrence conditional NLL (q167's ·1e7
    * floor stance — truncation at the row, exact int64 sums after). */
  val BIGRAM_SCALE = 1e7

  /** q215: per-document average conditional negative log-likelihood under
    * the corpus's own add-one-smoothed BIGRAM model — the next LM-proxy
    * step past q167's unigram NLL and q205's surprisal: a document full
    * of individually-common tokens in improbable ADJACENCIES (shuffled
    * boilerplate, spam keyword salads) scores high here while passing
    * both unigram filters. p(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V), with V
    * the observed-context vocabulary (distinct w1), so every unseen-pair
    * mass assignment is explicit and integer-derived.
    *
    * Engine parity: each occurrence contributes
    * floor(ln((c1+V)/(c12+1)) · 1e7) — one ln whose argument is a single
    * division of exact int64s, identical in both engines; ratio > 1 so
    * every contribution is positive and the final integer division
    * agrees across floor/truncate conventions.
    *
    * Scale shape: the model is ONE (w1,w2)-keyed aggregate (bigram-vocab
    * sized, NOT corpus sized); its prefix marginal and the V scalar
    * derive from that table without another corpus pass. Both broadcast
    * back (the q205/q63 caveat applies: over an unbounded raw-token
    * vocabulary the hints must go and the join becomes key-shuffled —
    * no other plan change); the corpus-sized shuffle is the per-doc
    * collapse alone. */
  /** ONE corpus explode into adjacent-token pairs — shared verbatim by
    * q215 / q281 / q289 so the three stay expression-identical. */
  private def bigramPairs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  def q215BigramLm(s: SparkSession, d: String): DataFrame = {
    // The (w1,w2) types table is materialized ONCE (localCheckpoint):
    // it feeds three consumers (the scoring join's broadcast, the c1
    // marginal, the V scalar), and without the barrier each consumer
    // re-derived it from its own full corpus explode (20 Exchange
    // nodes in the compile-time plan = three extra corpus scans at
    // 100 TB). The corpus is now exploded exactly twice — model build
    // + scoring — the same two passes the oracle's CTE chain makes.
    val bg = bigramPairs(s, d)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w1")).as("v"))
    bg.join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("n7", floor(log((col("c1") + col("v")).cast("double")
          / (col("c12") + lit(1L)).cast("double")) * BIGRAM_SCALE)
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("n7")).as("t7"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("t7 div (10 * n_bigrams)").as("avg_nll_micro"))
      .orderBy(col("doc_id"))
  }

  val o215 = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, unnest(range(1, len(toks))) u(i)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM c12),
    sc AS (
      SELECT doc_id,
        CAST(FLOOR(ln((c1 + v)::DOUBLE / (c12 + 1)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(n7) AS BIGINT) // CAST(10 * COUNT(*) AS BIGINT)
        AS avg_nll_micro
    FROM sc GROUP BY doc_id ORDER BY doc_id"""

  // ---- q281: Kneser–Ney smoothed bigram NLL (CCNet-style filter) ----

  /** q281: per-document average conditional NLL under an interpolated
    * KNESER–NEY bigram model — the smoothing family the CCNet/KenLM
    * perplexity filters actually use, and a genuinely different
    * estimator from q215's add-one: absolute discounting (D = 3/4)
    * redistributes mass to a CONTINUATION unigram — P_cont(w2) counts
    * in how many distinct left-contexts w2 appears, not how often —
    * so boilerplate tokens that are frequent but context-locked
    * ("Francisco" after "San") stop looking probable everywhere.
    *
    *   p(w2|w1) = (c12 − D)/c1 + D·r1/c1 · r2/T      (c12 ≥ 1 here)
    *
    * with r1 = |{w : c(w1,w)>0}|, r2 = |{w : c(w,w2)>0}|, T = distinct
    * bigram types. With D = 3/4 the probability is the exact rational
    *   num/den = ((4·c12 − 3)·T + 3·r1·r2) / (4·c1·T),
    * all-integer; each occurrence contributes
    * floor(ln(den/num)·1e7) — one ln whose argument is a single
    * division of exact int64s (the q215 stance), so both engines feed
    * libm the identical double. Interpolation sums to exactly 1 over
    * the vocabulary (Σ r2 = T), so den ≥ num and every contribution
    * is ≥ 0 — the final integer division agrees across floor/trunc.
    *
    * Scale shape: the model is the SAME one (w1,w2) aggregate as q215;
    * c1 and r1 come from one grouped pass over that types table (not
    * another corpus scan), r2 from a second types-table pass, T from
    * its 1-row count. All four broadcast back (bigram-vocab-sized; over
    * an unbounded vocabulary drop the hints and the join key-shuffles —
    * no other plan change). Exactness caveat at extreme scale: den =
    * 4·c1·T must stay below 2^53 for the double to be exact — at
    * 100 TB with a web vocabulary, score per SHARD (c1, T per shard)
    * or widen the fixed-point to decimal before the ln. */
  def q281KnBigram(s: SparkSession, d: String): DataFrame = {
    // Types table materialized once — four consumers here (scoring
    // broadcast, left, right, T); the un-checkpointed shape re-exploded
    // the corpus per consumer (26 Exchange nodes compile-time = four
    // extra corpus scans at 100 TB). Two corpus explodes remain: model
    // build + scoring (the oracle's own pass count).
    val bg = bigramPairs(s, d)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    // one pass over the types table gives BOTH the prefix marginal c1
    // and the distinct-continuation count r1
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("r1"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("r2"))
    val t = c12.agg(count(lit(1)).as("t"))
    bg.join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(t))
      .withColumn("n7", floor(
        log((lit(4L) * col("c1") * col("t")).cast("double")
          / ((lit(4L) * col("c12") - lit(3L)) * col("t")
             + lit(3L) * col("r1") * col("r2")).cast("double"))
          * BIGRAM_SCALE).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("n7")).as("t7"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("t7 div (10 * n_bigrams)").as("avg_nll_micro"))
      .orderBy(col("doc_id"))
  }

  val o281 = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, unnest(range(1, len(toks))) u(i)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2),
    lft AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS r1 FROM c12 GROUP BY 1),
    rgt AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS r2 FROM c12 GROUP BY 1),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c12),
    sc AS (
      SELECT doc_id,
        CAST(FLOOR(ln((4 * c1 * t)::DOUBLE
          / ((4 * c12 - 3) * t + 3 * r1 * r2)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM bg JOIN c12 USING (w1, w2) JOIN lft USING (w1)
        JOIN rgt USING (w2) CROSS JOIN tt)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(n7) AS BIGINT) // CAST(10 * COUNT(*) AS BIGINT)
        AS avg_nll_micro
    FROM sc GROUP BY doc_id ORDER BY doc_id"""

  // ---- q282: vocabulary-truncation OOV curve ----

  /** q282: UNK-rate curve under frequency-truncated vocabularies — for
    * each candidate vocab size V, freeze the top-V unigrams (count
    * desc, token asc — a total deterministic order) and report what
    * share of token OCCURRENCES and of DOCUMENTS fall outside it, per
    * V: the tokenizer-budget sizing table a pipeline reads before
    * committing to a vocab size (distinct from q120, which scores
    * rarity per document, and q209, which measures compression of a
    * FIXED learned vocab). A doc counts as hit if ANY of its
    * occurrences is OOV at that V.
    *
    * Scale shape: term frequencies are one map-side-combined aggregate;
    * the rank is a window over the VOCABULARY table (31 rows here,
    * ≤ a few million on a web corpus — never corpus rows); the
    * vocab×V membership grid broadcasts back to one occurrence-level
    * pass shared by all Vs (the curve costs one corpus scan, not one
    * per V). All shares are exact integer ppm. */
  val OOV_SIZES: Seq[Int] = Seq(8, 16, 24)

  def q282OovCurve(s: SparkSession, d: String): DataFrame = {
    val occ = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val ranked = occ.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))).cast("long"))
      .select(col("tok"), col("rk"))
    val sizes = s.createDataFrame(
      OOV_SIZES.map(v => Tuple1(v.toLong))).toDF("v")
    occ.join(broadcast(ranked), Seq("tok"))
      .crossJoin(broadcast(sizes))
      .groupBy(col("v"), col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
           sum(when(col("rk") > col("v"), 1L).otherwise(0L)).as("n_oov"))
      .groupBy(col("v"))
      .agg(sum(col("n_tok")).as("n_occ"),
           sum(col("n_oov")).as("oov_occ"),
           count(lit(1)).as("n_docs"),
           sum(when(col("n_oov") > 0, 1L).otherwise(0L)).as("docs_hit"))
      .select(col("v"),
        expr("cast(oov_occ * 1000000 div n_occ as bigint)").as("oov_occ_ppm"),
        expr("cast(docs_hit * 1000000 div n_docs as bigint)").as("docs_hit_ppm"),
        col("n_occ"), col("oov_occ"), col("docs_hit"))
      .orderBy(col("v"))
  }

  val o282: String = s"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    ranked AS (
      SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
        AS BIGINT) AS rk
      FROM occ GROUP BY tok),
    sizes AS (SELECT CAST(unnest([${OOV_SIZES.mkString(", ")}]) AS BIGINT) AS v),
    perdoc AS (
      SELECT v, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        CAST(SUM(CASE WHEN rk > v THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM occ JOIN ranked USING (tok) CROSS JOIN sizes
      GROUP BY v, doc_id)
    SELECT v,
      CAST(SUM(n_oov) * 1000000 // SUM(n_tok) AS BIGINT) AS oov_occ_ppm,
      CAST(SUM(CASE WHEN n_oov > 0 THEN 1 ELSE 0 END) * 1000000
        // COUNT(*) AS BIGINT) AS docs_hit_ppm,
      CAST(SUM(n_tok) AS BIGINT) AS n_occ,
      CAST(SUM(n_oov) AS BIGINT) AS oov_occ,
      CAST(SUM(CASE WHEN n_oov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit
    FROM perdoc GROUP BY v ORDER BY v"""

  // ---- q289: excess-loss mixture reweighting (DoReMi-flavored) ----

  /** q289: per-source EXCESS-LOSS mixture weights — the DoReMi idea
    * (Xie et al. 2023: upweight domains where a better model still
    * loses vs a reference) re-expressed over the engine's own two
    * bigram LMs: q281's Kneser–Ney is the stronger "proxy", q215's
    * add-one the weaker "reference", and a source's excess is the mean
    * clamped per-doc NLL gap max(0, nll_ref − nll_proxy) — large where
    * smoothing structure helps most, i.e. where the source has
    * learnable non-boilerplate statistics. Weights are LINEAR in
    * excess (mix_ppm = excess·1e6 div Σ excess) rather than DoReMi's
    * softmax — exp() parity across engines is not established in this
    * repo (only ln-of-exact-ratio is), and a monotone reweighting
    * preserves the ordering a mixture designer consumes while keeping
    * the whole ledger exact-integer.
    *
    * Scale shape (r16 rework): both LM scorers share the SAME bigram
    * sufficient statistic — the (w1,w2) types table — and both score
    * per occurrence keyed on (w1,w2), so the composition computes the
    * types table ONCE (localCheckpoint) and scores BOTH models in ONE
    * occurrence pass: the combined score ledger carries (n7_kn, n7_a1)
    * per bigram type, and one groupBy(doc) yields both per-doc NLLs —
    * no doc_id join between scorer outputs at all. The previous shape
    * called the two graded queries and joined their outputs: 4 corpus
    * explodes + ~10 types-table rebuilds (102 Exchange nodes in the
    * compile-time plan); now 2 corpus explodes (build + score), the
    * oracle's own pass count. Expressions are verbatim q281/q215 —
    * identical floor(ln(exact-int64 ratio)·1e7) terms, identical
    * per-doc integer division — so the composed result is bit-equal
    * to joining the standalone scorers (the DuckDB oracle still
    * composes o281/o215 textually). */
  def q289ExcessMix(s: SparkSession, d: String): DataFrame = {
    val bg = bigramPairs(s, d)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("r1"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("r2"))
    val t = c12.agg(count(lit(1)).as("t"))
    val v = c12.agg(countDistinct(col("w1")).as("v"))
    // one ledger row per bigram TYPE with both models' fixed-point NLL
    // terms (expressions verbatim from q281 / q215)
    val scored = c12
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(t))
      .crossJoin(broadcast(v))
      .withColumn("n7_kn", floor(
        log((lit(4L) * col("c1") * col("t")).cast("double")
          / ((lit(4L) * col("c12") - lit(3L)) * col("t")
             + lit(3L) * col("r1") * col("r2")).cast("double"))
          * BIGRAM_SCALE).cast("long"))
      .withColumn("n7_a1", floor(log((col("c1") + col("v")).cast("double")
          / (col("c12") + lit(1L)).cast("double")) * BIGRAM_SCALE)
        .cast("long"))
      .select(col("w1"), col("w2"), col("n7_kn"), col("n7_a1"))
    // ONE occurrence-level pass scores both models; per-doc division is
    // the scorers' exact `t7 div (10 * n_bigrams)`
    val perDoc = bg.join(broadcast(scored), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("n7_kn")).as("t7k"), sum(col("n7_a1")).as("t7a"))
      .select(col("doc_id"),
        expr("t7k div (10 * n_bigrams)").as("nll_kn"),
        expr("t7a div (10 * n_bigrams)").as("nll_a1"))
    // |sources|-row ledger materialized once: it feeds the 1-row total
    // AND the final projection — without the barrier the whole scoring
    // pyramid ran twice
    val perSrc = documents(s, d).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"))
      .withColumn("exc", greatest(lit(0L), col("nll_a1") - col("nll_kn")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("exc")).as("exc_sum"))
      .withColumn("excess_micro", expr("exc_sum div n_docs"))
      .localCheckpoint()
    val tot = perSrc.agg(sum(col("excess_micro")).as("exc_tot"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("excess_micro"),
        // exc_tot = 0 (KN never beats add-one anywhere) makes the
        // mixture undefined: fail loudly rather than emit NULL weights
        // (DuckDB's `//` errors on 0 on its own — same loud outcome).
        expr("""case when exc_tot = 0
             then cast(raise_error('q289: zero total excess - mixture undefined') as bigint)
             else excess_micro * 1000000 div exc_tot end""").as("mix_ppm"))
      .orderBy(col("source"))
  }

  val o289: String = s"""
    WITH kn AS (SELECT doc_id, avg_nll_micro AS nll_kn FROM ($o281)),
    a1 AS (SELECT doc_id, avg_nll_micro AS nll_a1 FROM ($o215)),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(GREATEST(0, nll_a1 - nll_kn)) AS BIGINT)
          // CAST(COUNT(*) AS BIGINT) AS excess_micro
      FROM documents JOIN kn USING (doc_id) JOIN a1 USING (doc_id)
      GROUP BY source),
    tot AS (SELECT CAST(SUM(excess_micro) AS BIGINT) AS exc_tot FROM src)
    SELECT source, n_docs, excess_micro,
      CAST(excess_micro * 1000000 // exc_tot AS BIGINT) AS mix_ppm
    FROM src CROSS JOIN tot ORDER BY source"""

  // ---- q237: rank-frequency (Zipf) diagnostic per source ----

  /** q237: per-source rank–frequency power-law fit — OLS of ln(freq)
    * against ln(rank) over the source's term distribution, the
    * corpus-health diagnostic that separates natural Zipfian text
    * (slope ≈ −1) from templated/synthetic spam (flat slopes) and
    * from token-soup (steep cliffs). Each point contributes
    * round(ln(int)·1e6) fixed-point coordinates (the q205 stance —
    * both engines feed libm the identical exact-integer double), and
    * the slope/intercept come from the q189 closed-form normal
    * equations in decimal(38,0): exact moments, ONE integral division
    * each at the end.
    *
    * Scale shape: term frequencies are one map-side-combined
    * aggregate; the per-source rank window partitions BY SOURCE over
    * the source's vocabulary (never corpus rows); the fit collapses
    * each source to 5 moments. */
  def q237ZipfFit(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("freq"))
    val pts = tf
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("freq").desc, col("term"))).cast("long"))
      .select(col("source"),
        expr("cast(round(ln(cast(rank as double)) * 1000000) as bigint)")
          .as("x"),
        expr("cast(round(ln(cast(freq as double)) * 1000000) as bigint)")
          .as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).cast(d38).as("sx"),
        sum(col("y").cast(d38)).cast(d38).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).cast(d38).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_terms"),
        expr("cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) as bigint)")
          .as("slope_micro"),
        // y is already ln·1e6 fixed point, so the plain quotient IS the
        // intercept in micro units (no second ×1e6)
        expr("cast((sy * sxx - sx * sxy) div (n * sxx - sx * sx) as bigint)")
          .as("icept_micro"))
      .orderBy(col("source"))
  }

  val o237 = """
    WITH tf AS (
      SELECT source, t AS term, COUNT(*) AS freq
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    pts AS (
      SELECT source,
        CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY freq DESC, term) AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM tf),
    mom AS (
      SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM pts GROUP BY 1)
    SELECT source, CAST(n AS BIGINT) AS n_terms,
      CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        AS slope_micro,
      CAST((sy * sxx - sx * sxy) // (n * sxx - sx * sx) AS BIGINT)
        AS icept_micro
    FROM mom ORDER BY source"""

  // ---- q239: population-stability drift monitor (PSI) ----

  /** q239: PSI — the population stability index of each source's
    * document-length distribution against the corpus-wide one, over
    * fixed decade bands (n_tok div 10) with add-one smoothing so empty
    * bands stay defined. PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) is THE
    * drift score risk teams gate on (< 0.1 stable, > 0.25 shifted);
    * for a training pipeline it is the monitor that catches a source
    * whose new crawl suddenly ships different-shaped documents.
    *
    * Determinism: p and q are IEEE divisions of exact int64 counts, ln
    * and the product are single double ops on identical operands in
    * both engines, and each band's contribution is rounded to 1e-6 AT
    * THE BAND before the exact integer sum (the q221 float-quantize
    * stance) — so per-source PSI is partition-order-free and
    * hash-exact.
    *
    * Scale shape: band censuses are two map-side-combined aggregates
    * (corpus-wide and per-source); the band domain × sources grid,
    * the smoothing joins, and the PSI rollup are ledger-sized. */
  def q239PsiDrift(s: SparkSession, d: String): DataFrame = {
    val bands = documents(s, d)
      .select(col("source"),
        expr("size(split(text, ' ')) div 10").cast("long").as("band"))
    val dom = bands.select(col("band")).distinct()
    val nB = dom.agg(count(lit(1)).as("n_bands"))
    val cb = bands.groupBy(col("band")).agg(count(lit(1)).as("cnt_c"))
    val nc = bands.agg(count(lit(1)).as("n_c"))
    val sb = bands.groupBy(col("source"), col("band"))
      .agg(count(lit(1)).as("cnt_s"))
    val ns = bands.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    ns.crossJoin(dom)
      .join(sb, Seq("source", "band"), "left")
      .join(broadcast(cb), Seq("band"))
      .crossJoin(broadcast(nc)).crossJoin(broadcast(nB))
      .withColumn("contrib_micro", expr(
        """cast(round(
             ((cast(coalesce(cnt_s, 0L) + 1 as double) / (n_s + n_bands))
              - (cast(cnt_c + 1 as double) / (n_c + n_bands)))
             * ln(((cast(coalesce(cnt_s, 0L) + 1 as double) / (n_s + n_bands)))
                  / (cast(cnt_c + 1 as double) / (n_c + n_bands)))
             * 1000000) as bigint)"""))
      .groupBy(col("source"))
      .agg(sum(col("contrib_micro")).as("psi_micro"),
        count(lit(1)).as("n_bands"))
      .orderBy(col("source"))
  }

  val o239 = """
    WITH b AS (
      SELECT source,
        CAST(len(string_split(text, ' ')) // 10 AS BIGINT) AS band
      FROM documents),
    dom AS (SELECT DISTINCT band FROM b),
    nb AS (SELECT COUNT(*) AS n_bands FROM dom),
    cb AS (SELECT band, COUNT(*) AS cnt_c FROM b GROUP BY 1),
    nc AS (SELECT COUNT(*) AS n_c FROM b),
    ns AS (SELECT source, COUNT(*) AS n_s FROM b GROUP BY 1),
    sb AS (SELECT source, band, COUNT(*) AS cnt_s FROM b GROUP BY 1, 2),
    g AS (
      SELECT ns.source, dom.band,
        COALESCE(sb.cnt_s, 0) AS cnt_s, ns.n_s, cb.cnt_c, nc.n_c,
        nb.n_bands
      FROM ns CROSS JOIN dom
      LEFT JOIN sb ON sb.source = ns.source AND sb.band = dom.band
      JOIN cb ON cb.band = dom.band
      CROSS JOIN nc CROSS JOIN nb),
    c AS (
      SELECT source,
        CAST(ROUND(
          ((CAST(cnt_s + 1 AS DOUBLE) / (n_s + n_bands))
           - (CAST(cnt_c + 1 AS DOUBLE) / (n_c + n_bands)))
          * ln((CAST(cnt_s + 1 AS DOUBLE) / (n_s + n_bands))
               / (CAST(cnt_c + 1 AS DOUBLE) / (n_c + n_bands)))
          * 1000000) AS BIGINT) AS contrib_micro
      FROM g)
    SELECT source, CAST(SUM(contrib_micro) AS BIGINT) AS psi_micro,
      CAST(COUNT(*) AS BIGINT) AS n_bands
    FROM c GROUP BY source ORDER BY source"""

  // ---- q240: nucleus (top-p) truncation audit over the bigram LM ----

  /** Nucleus mass threshold: 90% = 9/10 (exact integer comparison). */
  val NUCLEUS_NUM = 9L
  val NUCLEUS_DEN = 10L

  /** q240: nucleus-size distribution — for every bigram context w1,
    * the smallest number of continuations covering ≥ 90% of observed
    * mass (counts desc, lexical tie-break), histogrammed over contexts.
    * This is top-p sampling's truncation set made empirical on the
    * corpus's own conditional distribution: flat contexts (big nuclei)
    * are where an LM trained on this data stays uncertain, peaked ones
    * where it commits — the number a decoding-default or a
    * synthetic-data temperature is tuned against.
    *
    * All integer: a continuation is in the nucleus iff the mass BEFORE
    * it satisfies cum_before·10 < total·9 (greedy prefix, exact
    * rational compare — no float p's anywhere).
    *
    * Scale shape: the bigram model is ONE (w1,w2) aggregate (the q215
    * exchange); ranking/cumsum windows partition BY CONTEXT over each
    * context's continuation list; the histogram is a k-keyed ledger
    * rollup. */
  def q240NucleusSize(s: SparkSession, d: String): DataFrame = {
    val bg = documents(s, d)
      .select(split(col("text"), " ").as("tk"))
      .select(explode(expr(
        """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
           (a, b) -> named_struct('w1', a, 'w2', b))""")).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val wCtx = Window.partitionBy(col("w1"))
      .orderBy(col("c").desc, col("w2"))
    val k = bg
      .withColumn("cum", sum(col("c")).over(wCtx))
      .withColumn("total", sum(col("c")).over(Window.partitionBy(col("w1"))))
      .filter((col("cum") - col("c")) * NUCLEUS_DEN
        < col("total") * NUCLEUS_NUM)
      .groupBy(col("w1")).agg(count(lit(1)).as("k"))
    k.groupBy(col("k"))
      .agg(count(lit(1)).as("n_contexts"))
      .orderBy(col("k"))
  }

  val o240 = s"""
    WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
    bg AS (
      SELECT tk[i] AS w1, tk[i+1] AS w2, COUNT(*) AS c
      FROM t, unnest(range(1, len(tk))) u(i)
      WHERE len(tk) >= 2 GROUP BY 1, 2),
    r AS (
      SELECT w1, c,
        SUM(c) OVER (PARTITION BY w1 ORDER BY c DESC, w2
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY w1) AS total
      FROM bg),
    k AS (
      SELECT w1, COUNT(*) AS k FROM r
      WHERE (cum - c) * $NUCLEUS_DEN < total * $NUCLEUS_NUM
      GROUP BY w1)
    SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_contexts
    FROM k GROUP BY k ORDER BY k"""

  // ---- q243: exact Kolmogorov–Smirnov drift per source ----

  /** q243: two-sample KS distance between each source's document-length
    * distribution and the rest of the corpus — sup |F_s(x) − F_rest(x)|
    * computed EXACTLY: at every support point the CDF difference is the
    * rational (cum_s·n_r − cum_r·n_s)/(n_s·n_r), maximized by its exact
    * integer numerator before ONE final scaled division. Where q239's
    * PSI is band-smoothed and ln-based, KS is banding-free and
    * float-free — the pair gives a drift monitor both calibrated (PSI)
    * and exact (KS). Leave-one-out (source vs REST) keeps the two
    * samples disjoint, the textbook two-sample setting.
    *
    * Scale shape: one (source, length) census; per-source CDFs are
    * windows over each source's ≤|support| distinct lengths; the rest-
    * CDF derives from the corpus census by subtraction (no second
    * corpus pass); the ledger is |sources| rows. */
  def q243KsDrift(s: SparkSession, d: String): DataFrame = {
    val lens = documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("len"))
    val census = lens.groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("c"))
    val corpus = lens.groupBy(col("len")).agg(count(lit(1)).as("c_all"))
    val nsrc = lens.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nc = lens.agg(count(lit(1)).as("n_all"))
    // grid: every (source, support length) so flat stretches between a
    // source's own observations still contribute their CDF gap
    val grid = nsrc.crossJoin(corpus.select(col("len")))
      .join(census, Seq("source", "len"), "left")
      .join(corpus, Seq("len"))
      .crossJoin(broadcast(nc))
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wS = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid
      .withColumn("cum_s", sum(col("c")).over(wS))
      .withColumn("cum_all", sum(col("c_all")).over(wS))
      .withColumn("cum_r", col("cum_all") - col("cum_s"))
      .withColumn("n_r", col("n_all") - col("n_s"))
      .withColumn("num",
        abs(col("cum_s") * col("n_r") - col("cum_r") * col("n_s")))
      .groupBy(col("source"))
      .agg(max(col("num")).as("max_num"),
        max(col("n_s") * col("n_r")).as("den"))
      .select(col("source"),
        expr("max_num * 1000000L div den").as("ks_micro"))
      .orderBy(col("source"))
  }

  val o243 = """
    WITH l AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
      FROM documents),
    cen AS (SELECT source, len, COUNT(*) AS c FROM l GROUP BY 1, 2),
    cor AS (SELECT len, COUNT(*) AS c_all FROM l GROUP BY 1),
    ns AS (SELECT source, COUNT(*) AS n_s FROM l GROUP BY 1),
    na AS (SELECT COUNT(*) AS n_all FROM l),
    g AS (
      SELECT ns.source, cor.len, COALESCE(cen.c, 0) AS c, cor.c_all,
        ns.n_s, na.n_all
      FROM ns CROSS JOIN cor
      LEFT JOIN cen ON cen.source = ns.source AND cen.len = cor.len
      CROSS JOIN na),
    cum AS (
      SELECT source, n_s, n_all - n_s AS n_r,
        SUM(c) OVER (PARTITION BY source ORDER BY len
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        SUM(c_all) OVER (PARTITION BY source ORDER BY len
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      FROM g)
    SELECT source,
      CAST(MAX(ABS(cum_s * n_r - (cum_all - cum_s) * n_s))
        * 1000000 // MAX(n_s * n_r) AS BIGINT) AS ks_micro
    FROM cum GROUP BY source ORDER BY source"""

  // ---- q246: per-source entropy / cross-entropy / KL divergence ----

  /** q246: unigram information profile per source — plug-in entropy
    * H(s) = −Σ p ln p over the source's term distribution, cross-
    * entropy CE(s‖corpus) = −Σ p_s ln p_corpus, and their gap KL =
    * CE − H: the nats-per-token a corpus-wide code wastes on this
    * source, i.e. how far the source's vocabulary usage sits from the
    * mixture. This triple is the information-theoretic twin of q239's
    * PSI (which is itself a symmetrized KL over bands) at full
    * vocabulary resolution — the signal that ranks sources for q221's
    * temperature before any model exists.
    *
    * Per-term contributions are round(·1e6) fixed point over IEEE
    * divisions/ln of exact counts (every source term exists in the
    * corpus, so no smoothing is needed and no zero hits the ln); KL
    * derives from the two rounded sums, so it is exact given them.
    *
    * Scale shape: one (source, term) census; the corpus census derives
    * from it by re-aggregation (no second corpus pass); contributions
    * join vocabulary-sized tables on the term key; ledger = |sources|
    * rows. */
  def q246SourceEntropy(s: SparkSession, d: String): DataFrame = {
    // (source, term) census materialized ONCE (r16): ns, cf (and via
    // it nAll) and the contribution join each re-exploded the corpus
    // otherwise (4 documents scans in the executed plan).
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ns = tf.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val cf = tf.groupBy(col("t")).agg(sum(col("c")).as("c_all"))
    val nAll = cf.agg(sum(col("c_all")).as("n_all"))
    tf.join(ns, Seq("source"))
      .join(cf, Seq("t"))
      .crossJoin(broadcast(nAll))
      .withColumn("h_term", expr(
        """cast(round(-(cast(c as double) / n_s)
             * ln(cast(c as double) / n_s) * 1000000) as bigint)"""))
      .withColumn("ce_term", expr(
        """cast(round(-(cast(c as double) / n_s)
             * ln(cast(c_all as double) / n_all) * 1000000) as bigint)"""))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum(col("h_term")).as("h_micro"),
        sum(col("ce_term")).as("ce_micro"))
      .withColumn("kl_micro", col("ce_micro") - col("h_micro"))
      .orderBy(col("source"))
  }

  val o246 = """
    WITH tf AS (
      SELECT source, t, COUNT(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    ns AS (SELECT source, SUM(c) AS n_s FROM tf GROUP BY 1),
    cf AS (SELECT t, SUM(c) AS c_all FROM tf GROUP BY 1),
    na AS (SELECT SUM(c_all) AS n_all FROM cf),
    g AS (
      SELECT tf.source,
        ns.n_s,
        CAST(ROUND(-(CAST(c AS DOUBLE) / n_s)
          * ln(CAST(c AS DOUBLE) / n_s) * 1000000) AS BIGINT) AS h_term,
        CAST(ROUND(-(CAST(c AS DOUBLE) / n_s)
          * ln(CAST(c_all AS DOUBLE) / n_all) * 1000000) AS BIGINT)
          AS ce_term
      FROM tf JOIN ns USING (source) JOIN cf USING (t) CROSS JOIN na)
    SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
      CAST(SUM(h_term) AS BIGINT) AS h_micro,
      CAST(SUM(ce_term) AS BIGINT) AS ce_micro,
      CAST(SUM(ce_term) - SUM(h_term) AS BIGINT) AS kl_micro
    FROM g GROUP BY source ORDER BY source"""

  // ---- q248: per-source TF-IDF signature terms ----

  /** Signature terms kept per source. */
  val SIG_TOP = 3

  /** q248: source signatures — the $SIG_TOP most characteristic terms
    * per source by source-level TF-IDF (term mass within the source ×
    * ln((S+1)/(df+1)) where df counts SOURCES containing the term).
    * q63 scores documents; this scores the sources themselves — the
    * at-a-glance table ("what is this crawl about?") a mixture
    * designer reads next to q246's divergence numbers. idf is the
    * round(ln·1e6) q205 contract on an exact integer ratio; scores
    * are exact int64 products.
    *
    * Scale shape: one (source, term) aggregate; the source-df table
    * re-aggregates it (vocabulary-sized); the top-k is a
    * source-partitioned window over each source's vocabulary. */
  def q248SourceSignature(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
    val sdf = tf.groupBy(col("term"))
      .agg(countDistinct(col("source")).as("src_df"))
    val nSrc = documents(s, d).agg(
      countDistinct(col("source")).as("n_src"))
    val scored = tf.join(sdf, Seq("term"))
      .crossJoin(broadcast(nSrc))
      .withColumn("idf_micro", expr(
        """cast(round(ln(cast(n_src + 1 as double) / (src_df + 1))
             * 1000000) as bigint)"""))
      .withColumn("score_micro", col("tf") * col("idf_micro"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score_micro").desc, col("term"))).cast("long"))
      .filter(col("rank") <= SIG_TOP)
      .select(col("source"), col("rank"), col("term"), col("tf"),
        col("src_df"), col("score_micro"))
      .orderBy(col("source"), col("rank"))
  }

  val o248 = s"""
    WITH tf AS (
      SELECT source, t AS term, COUNT(*) AS tf
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    sdf AS (SELECT term, COUNT(DISTINCT source) AS src_df FROM tf
            GROUP BY 1),
    ns AS (SELECT COUNT(DISTINCT source) AS n_src FROM documents),
    sc AS (
      SELECT tf.source, tf.term, tf.tf, sdf.src_df,
        tf.tf * CAST(ROUND(ln(CAST(n_src + 1 AS DOUBLE) / (src_df + 1))
          * 1000000) AS BIGINT) AS score_micro
      FROM tf JOIN sdf USING (term) CROSS JOIN ns),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY score_micro DESC, term) AS rank
      FROM sc)
    SELECT source, CAST(rank AS BIGINT) AS rank, term,
      CAST(tf AS BIGINT) AS tf, CAST(src_df AS BIGINT) AS src_df,
      CAST(score_micro AS BIGINT) AS score_micro
    FROM r WHERE rank <= $SIG_TOP
    ORDER BY source, rank"""

  // ---- q251: BLEU-style n-gram precision (generation eval) ----

  /** Every SUB_MOD-th position (md5-scheduled) of the candidate is
    * substituted (token reversed) — the planted-noise convention of
    * q206/q210/q236 applied to text eval. */
  val BLEU_SUB_MOD = 5L

  /** q251: in-engine generation evaluation — clipped (modified) n-gram
    * precision, the BLEU core, between a candidate and its reference.
    * The fixture derives the candidate from the reference by
    * substituting every md5-scheduled $BLEU_SUB_MOD-th token with its
    * reversal (length-preserving, so brevity penalty is identically 1
    * and honestly omitted); a production caller points the two sides
    * at real (model-output, reference) pairs. Per document: clipped
    * unigram/bigram match counts m1/m2 against totals t1/t2 (exact
    * integers — LEAST of the two occurrence counts, the BLEU clipping
    * rule), and the squared-BLEU-2 proxy (m1·m2·1e12) / (t1·t2) in
    * ppm² — a pure integer ratio, so no geometric-mean sqrt leaves
    * exact arithmetic.
    *
    * Scale shape: n-gram counting is row-local (explode + two
    * doc-keyed aggregates); the clip join is (doc, gram)-keyed — a
    * co-partitioned self-derived join, never corpus×corpus. Products
    * go through decimal(38,0) so 100 TB document lengths can't
    * overflow the int64 path. */
  def q251BleuEval(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // Deliberately left lazy (r16 A/B, same era, min-of-7 at
    // sf0.1/32c): checkpointing the (rt, ct) token arrays for the five
    // consumers probed 0.87 s vs 0.75 s — wide array-column block
    // writes cost more than the duplicate split/md5 subtrees they
    // replace at bench scale.
    val base = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("rt"))
      .withColumn("ct", expr(
        s"""transform(rt, (t, i) ->
             case when cast(conv(substr(md5(concat(doc_id, ':', i)), 1, 4),
                   16, 10) as bigint) % $BLEU_SUB_MOD = 0
               then reverse(t) else t end)"""))
    // size($c) < 2 must yield an EMPTY gram list: sequence(0, -1) is
    // [0, -1] in Spark (descending), which would fabricate one null
    // bigram via $c[-1] where the oracle's positional self-join
    // produces no row (same guard as q215's bigram stage).
    def grams(c: String, n: Int) = expr(
      if (n == 1) s"transform($c, t -> t)"
      else s"""case when size($c) < 2 then array()
               else transform(sequence(0, size($c) - 2),
                 i -> concat($c[i], chr(1), $c[i + 1])) end""")
    def clipped(n: Int) = {
      val ref = base.select(col("doc_id"), explode(grams("rt", n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cr"))
      val cand = base.select(col("doc_id"), explode(grams("ct", n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cc"))
      cand.join(ref, Seq("doc_id", "g"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(least(col("cc"), coalesce(col("cr"), lit(0L)))).as(s"m$n"),
          sum(col("cc")).as(s"t$n"))
    }
    base.select(col("doc_id"), size(col("rt")).cast("long").as("ref_len"))
      .join(clipped(1), Seq("doc_id"))
      .join(clipped(2), Seq("doc_id"), "left")
      .na.fill(0L, Seq("m2", "t2"))
      .withColumn("bleu2sq_ppm2", when(col("t1") > 0 && col("t2") > 0,
        (col("m1").cast(d38) * col("m2") * lit(1000000000000L))
          .divide(col("t1").cast(d38) * col("t2")).cast("long"))
        .otherwise(lit(0L)))
      .select(col("doc_id"), col("ref_len"), col("m1"), col("t1"),
        col("m2"), col("t2"), col("bleu2sq_ppm2"))
      .orderBy(col("doc_id"))
  }

  val o251 = s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS rt FROM documents),
    pos AS (
      SELECT doc_id, i, rt[i + 1] AS t,
        CASE WHEN ('0x' || substr(md5(doc_id || ':' || i), 1, 4))::BIGINT
            % $BLEU_SUB_MOD = 0
          THEN reverse(rt[i + 1]) ELSE rt[i + 1] END AS ct
      FROM d, unnest(range(0, len(rt))) u(i)),
    r1 AS (SELECT doc_id, t AS g, COUNT(*) AS cr FROM pos GROUP BY 1, 2),
    c1 AS (SELECT doc_id, ct AS g, COUNT(*) AS cc FROM pos GROUP BY 1, 2),
    u AS (
      SELECT doc_id, SUM(LEAST(cc, COALESCE(cr, 0))) AS m1, SUM(cc) AS t1
      FROM c1 LEFT JOIN r1 USING (doc_id, g) GROUP BY 1),
    r2 AS (
      SELECT a.doc_id, a.t || chr(1) || b.t AS g, COUNT(*) AS cr
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY 1, 2),
    c2 AS (
      SELECT a.doc_id, a.ct || chr(1) || b.ct AS g, COUNT(*) AS cc
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY 1, 2),
    bi AS (
      SELECT doc_id, SUM(LEAST(cc, COALESCE(cr, 0))) AS m2, SUM(cc) AS t2
      FROM c2 LEFT JOIN r2 USING (doc_id, g) GROUP BY 1)
    SELECT d.doc_id, CAST(len(rt) AS BIGINT) AS ref_len,
      CAST(u.m1 AS BIGINT) AS m1, CAST(u.t1 AS BIGINT) AS t1,
      CAST(COALESCE(bi.m2, 0) AS BIGINT) AS m2,
      CAST(COALESCE(bi.t2, 0) AS BIGINT) AS t2,
      CASE WHEN u.t1 > 0 AND COALESCE(bi.t2, 0) > 0
        THEN CAST(CAST(u.m1 AS HUGEINT) * bi.m2 * 1000000000000
               // (CAST(u.t1 AS HUGEINT) * bi.t2) AS BIGINT)
        ELSE 0 END AS bleu2sq_ppm2
    FROM d JOIN u USING (doc_id) LEFT JOIN bi USING (doc_id)
    ORDER BY doc_id"""

  // ---- q253: CCNet-style perplexity buckets (head/middle/tail) ----

  /** Perplexity tertiles per language. */
  val PPL_BUCKETS = 3

  /** q253: the CCNet curation step proper — rank every document by its
    * LM score (q215's add-one bigram avg-NLL, the corpus's own proxy
    * LM) WITHIN its language, cut into $PPL_BUCKETS equal-depth
    * buckets (head = most fluent … tail = least), and report each
    * bucket's document/token mass and NLL range. Head/middle/tail is
    * the unit a mixture designer samples by (keep head, subsample
    * middle, drop tail); doc_id breaks rank ties so the cut is
    * deterministic.
    *
    * Scale shape: the LM table is bigram-vocab-sized (q215's
    * contract); the ntile window partitions BY LANGUAGE over per-doc
    * score rows — at 100 TB that window is the one per-lang sort, the
    * same shape as q151's distributed rank, and the output is
    * |langs|·$PPL_BUCKETS rows. Single-token documents have no bigram
    * NLL and are excluded by the q215 ≥2-token contract. */
  def q253CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = q215BigramLm(s, d)
      .join(documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("bucket", ntile(PPL_BUCKETS).over(
        Window.partitionBy(col("lang"))
          .orderBy(col("avg_nll_micro"), col("doc_id"))).cast("long"))
    scored.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams") + 1).as("n_tokens"),
        min(col("avg_nll_micro")).as("nll_lo"),
        max(col("avg_nll_micro")).as("nll_hi"))
      .withColumn("tier", when(col("bucket") === 1, lit("head"))
        .when(col("bucket") === PPL_BUCKETS, lit("tail"))
        .otherwise(lit("middle")))
      .select(col("lang"), col("bucket"), col("tier"), col("n_docs"),
        col("n_tokens"), col("nll_lo"), col("nll_hi"))
      .orderBy(col("lang"), col("bucket"))
  }

  val o253 = s"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, unnest(range(1, len(toks))) u(i)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM c12),
    nll AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(CAST(FLOOR(ln((c1 + v)::DOUBLE / (c12 + 1)::DOUBLE) * 1e7)
          AS BIGINT)) AS BIGINT) // CAST(10 * COUNT(*) AS BIGINT)
          AS avg_nll_micro
      FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY doc_id),
    sc AS (
      SELECT nll.*, doc.lang,
        NTILE($PPL_BUCKETS) OVER (PARTITION BY doc.lang
          ORDER BY avg_nll_micro, doc_id) AS bucket
      FROM nll JOIN documents doc USING (doc_id))
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
      CASE WHEN bucket = 1 THEN 'head'
           WHEN bucket = $PPL_BUCKETS THEN 'tail'
           ELSE 'middle' END AS tier,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_bigrams + 1) AS BIGINT) AS n_tokens,
      CAST(MIN(avg_nll_micro) AS BIGINT) AS nll_lo,
      CAST(MAX(avg_nll_micro) AS BIGINT) AS nll_hi
    FROM sc GROUP BY 1, 2, 3 ORDER BY lang, bucket"""

  // ---- q256: Spearman rank agreement between quality signals ----

  /** q256: per-source Spearman rank correlation between two per-doc
    * quality signals — token count and type (distinct-token) count —
    * the signal-agreement audit a curation designer runs before
    * fusing filters (two signals that rank identically are redundant;
    * q233's RRF fusion assumes they don't). Ordinal ranks with doc_id
    * tie-break (deterministic, NOT average-rank — both engines apply
    * the identical convention), then the classic
    * ρ = 1 − 6Σd²/(n(n²−1)) as exact integers; the graded column is
    * (1+ρ)·1e6 = (2·den − 6Σd²)·1e6 / den, nonnegative so the two
    * engines' integer-division conventions agree.
    *
    * Scale shape: signals are row-local folds; the two rank windows
    * partition BY SOURCE over per-doc signal rows (q151's distributed-
    * rank shape); den ~ n³ runs in decimal(38,0). */
  def q256SpearmanSignals(s: SparkSession, d: String): DataFrame = {
    val sig = documents(s, d).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("x"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("y"))
    val ranked = sig
      .withColumn("rx", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("x"), col("doc_id"))).cast("long"))
      .withColumn("ry", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("y"), col("doc_id"))).cast("long"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sum_d2"))
      .filter(col("n") > 1) // ρ undefined for singleton sources
      .withColumn("den", expr(
        "cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * n - 1)"))
      .select(col("source"), col("n"), col("sum_d2"),
        col("den").cast("long").as("den"),
        expr("""cast((2 * den - 6 * cast(sum_d2 as decimal(38,0)))
                * 1000000 div den as bigint)""").as("rho1p_ppm"))
      .orderBy(col("source"))
  }

  val o256 = """
    WITH sig AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents),
    rk AS (
      SELECT source,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id)
          AS BIGINT) AS rx,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY y, doc_id)
          AS BIGINT) AS ry
      FROM sig)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
      CAST(CAST(COUNT(*) AS HUGEINT)
        * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1) AS BIGINT) AS den,
      CAST((2 * CAST(COUNT(*) AS HUGEINT)
            * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1)
          - 6 * CAST(SUM((rx - ry) * (rx - ry)) AS HUGEINT)) * 1000000
        // (CAST(COUNT(*) AS HUGEINT)
            * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1)) AS BIGINT)
        AS rho1p_ppm
    FROM rk GROUP BY source HAVING COUNT(*) > 1 ORDER BY source"""

  // ---- q259: Heaps'-law vocabulary-growth fit (corpus planner) ----

  /** q259: per-source Heaps'-law fit V(N) ≈ K·N^β — the
    * vocabulary-growth curve that answers "how much NEW vocabulary
    * (≈ new information) will 10× more of this source bring?", the
    * companion planning tool to q237's Zipf exponent and q231's
    * novelty decay. The growth curve is exact and ONE-PASS: each
    * type's first-occurrence document (min doc_id within source, the
    * ingestion order) turns into per-doc new-type counts, and two
    * per-source prefix sums give (cumulative tokens N, cumulative
    * vocabulary V) at every document checkpoint; the log–log OLS then
    * collapses the curve to 5 moments per source (the q237/q189
    * closed form, round(ln·1e6) fixed-point coordinates,
    * decimal(38,0) products).
    *
    * Scale shape: first-occurrence is the (source, type) aggregate —
    * vocabulary-sized; the prefix sums window over per-DOC rows per
    * source (q151's rank shape); no corpus-sized window, no repeated
    * distinct-counting over prefixes (the naive formulation is
    * quadratic — this one is the 100 TB way to get the same curve). */
  def q259HeapsFit(s: SparkSession, d: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val occ = documents(s, d).select(col("source"), col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val newTypes = occ.groupBy(col("source"), col("tok"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("new_types"))
    val growth = occ.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
      .join(newTypes, Seq("source", "doc_id"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("v", sum(col("new_types")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .withColumn("nn", sum(col("n_toks")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
    val pts = growth.select(col("source"), col("v"), col("nn"),
      expr("cast(round(ln(cast(nn as double)) * 1000000) as bigint)").as("x"),
      expr("cast(round(ln(cast(v as double)) * 1000000) as bigint)").as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).cast(d38).as("n"),
        max(col("nn")).as("n_tokens"), max(col("v")).as("vocab"),
        sum(col("x").cast(d38)).cast(d38).as("sx"),
        sum(col("y").cast(d38)).cast(d38).as("sy"),
        sum(col("x").cast(d38) * col("y").cast(d38)).cast(d38).as("sxy"),
        sum(col("x").cast(d38) * col("x").cast(d38)).cast(d38).as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_docs"),
        col("n_tokens"), col("vocab"),
        expr("cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) as bigint)")
          .as("beta_micro"),
        // y is ln·1e6 fixed point already — quotient IS micro units
        expr("cast((sy * sxx - sx * sxy) div (n * sxx - sx * sx) as bigint)")
          .as("icept_micro"))
      .orderBy(col("source"))
  }

  val o259 = """
    WITH occ AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    nt AS (
      SELECT source, doc_id, COUNT(*) AS new_types
      FROM (SELECT source, tok, MIN(doc_id) AS doc_id FROM occ GROUP BY 1, 2)
      GROUP BY 1, 2),
    gr AS (
      SELECT o.source, o.doc_id, COUNT(*) AS n_toks,
        COALESCE(MAX(nt.new_types), 0) AS new_types
      FROM occ o LEFT JOIN nt ON nt.source = o.source
        AND nt.doc_id = o.doc_id
      GROUP BY 1, 2),
    cum AS (
      SELECT source,
        SUM(new_types) OVER (PARTITION BY source ORDER BY doc_id) AS v,
        SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id) AS nn
      FROM gr),
    pts AS (
      SELECT source, v, nn,
        CAST(ROUND(ln(CAST(nn AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM cum),
    mom AS (
      SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        CAST(MAX(nn) AS BIGINT) AS n_tokens, CAST(MAX(v) AS BIGINT) AS vocab,
        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM pts GROUP BY 1)
    SELECT source, CAST(n AS BIGINT) AS n_docs, n_tokens, vocab,
      CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        AS beta_micro,
      CAST((sy * sxx - sx * sxy) // (n * sxx - sx * sx) AS BIGINT)
        AS icept_micro
    FROM mom ORDER BY source"""

  // ---- q260: top-k rank-overlap drift (head-vocabulary Jaccard@k) ----

  /** Overlap depths audited by q260. */
  val RBO_KS = Seq(10, 25, 50)

  /** q260: RANK-based drift — Jaccard overlap between each source's
    * top-k term list and the corpus-global top-k, at depths
    * ${RBO_KS}. Complements the DISTRIBUTION drift monitors (q239
    * PSI, q243 KS, q246 KL): two sources can share a distribution
    * shape yet rank entirely different heads, and the head list is
    * what q248's signatures and any stop-list derive from. Ranks
    * break ties lexically; |A∩B| and the union sizes are exact
    * integers.
    *
    * Scale shape: both rankings derive from ONE (source, term)
    * aggregate; the global top-k is orderBy+limit (TakeOrderedAnd-
    * Project — bounded, never a full-vocab single-partition window)
    * and the per-source rank window partitions by source over its
    * vocabulary. The overlap joins are k-row × k-row broadcasts. */
  def q260TopkOverlap(s: SparkSession, d: String): DataFrame = {
    val kMax = RBO_KS.max
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("freq"))
    val gtop = tf.groupBy(col("term")).agg(sum(col("freq")).as("gfreq"))
      .orderBy(col("gfreq").desc, col("term")).limit(kMax)
      .withColumn("grank", row_number().over(
        Window.orderBy(col("gfreq").desc, col("term"))).cast("long"))
      .select(col("term"), col("grank"))
    val stop = tf
      .withColumn("srank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("freq").desc, col("term"))).cast("long"))
      .filter(col("srank") <= kMax)
      .select(col("source"), col("term"), col("srank"))
    // ONE pass: left-join the global head onto each source head row,
    // take every depth's (n_src, inter) as conditional counts in a
    // single per-source aggregate, then unpivot to (source, k) rows —
    // no per-k re-derivation of the term-frequency aggregate.
    val flags = stop.join(broadcast(gtop), Seq("term"), "left")
    val counts = RBO_KS.flatMap { k =>
      Seq(count(when(col("srank") <= k, lit(1))).as(s"a$k"),
        count(when(col("srank") <= k && col("grank") <= k, lit(1)))
          .as(s"i$k"))
    }
    val stackExpr = RBO_KS.map(k =>
      s"${k}L, a$k, i$k").mkString(s"stack(${RBO_KS.size}, ", ", ", ")")
    flags.groupBy(col("source")).agg(counts.head, counts.tail: _*)
      .select(col("source"), expr(s"$stackExpr as (k, n_src, inter)"))
      .select(col("source"), col("k"), col("n_src"), col("inter"),
        expr("inter * 1000000 div (n_src + k - inter)").as("jaccard_ppm"))
      .orderBy(col("source"), col("k"))
  }

  val o260: String = {
    val kMax = RBO_KS.max
    val perK = RBO_KS.map { k =>
      s"""
      SELECT st.source, CAST($k AS BIGINT) AS k,
        CAST(COUNT(*) AS BIGINT) AS n_src,
        CAST(COUNT(gt.term) AS BIGINT) AS inter,
        CAST(COUNT(gt.term) * 1000000
          // (COUNT(*) + $k - COUNT(gt.term)) AS BIGINT) AS jaccard_ppm
      FROM st LEFT JOIN gt ON gt.term = st.term AND gt.grank <= $k
      WHERE st.srank <= $k GROUP BY st.source"""
    }.mkString(" UNION ALL ")
    s"""
    WITH tf AS (
      SELECT source, t AS term, COUNT(*) AS freq
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2),
    gt AS (
      SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY gfreq DESC, term)
        AS BIGINT) AS grank
      FROM (SELECT term, SUM(freq) AS gfreq FROM tf GROUP BY 1)
      ORDER BY gfreq DESC, term LIMIT $kMax),
    st AS (
      SELECT source, term,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY freq DESC, term) AS BIGINT) AS srank
      FROM tf QUALIFY srank <= $kMax)
    SELECT * FROM ($perK) ORDER BY source, k"""
  }

  // ---- q263: Mann–Whitney U / common-language effect size ----

  /** q263: distribution-free source comparison — the Mann–Whitney U
    * statistic of each source's document lengths against the REST of
    * the corpus, reported as the common-language effect size
    * CLES = U/(n₁n₂) = P(random source doc longer than random rest
    * doc, ties half-counted). The rank-sum companion to q243's KS:
    * KS finds WHERE distributions differ, CLES says WHICH side
    * stochastically dominates and by how much. Ties use exact
    * MIDRANKS kept integral in 2× units (midrank2 = 2·cum + c + 1),
    * so U₂ = ΣR₂ − n₁(n₁+1) and every comparison is exact-integer;
    * one final ppm division.
    *
    * Scale shape: ranks are assigned at the VALUE level (one
    * aggregate over distinct lengths — a bounded domain — then a
    * prefix sum over that value table), joined back to docs by value;
    * per-source collapse is one aggregate. No doc-level global sort. */
  def q263MannWhitney(s: SparkSession, d: String): DataFrame = {
    val vals = documents(s, d).select(col("source"),
      col("n_chars").cast("long").as("x"))
    val mid = vals.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("x"))) - col("c"))
      .select(col("x"), (col("cum") * 2 + col("c") + 1).as("mr2"))
    val tot = vals.agg(count(lit(1)).as("nn"))
    vals.join(broadcast(mid), Seq("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), sum(col("mr2")).as("r2"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n1"), (col("nn") - col("n1")).as("n2"),
        (col("r2") - col("n1") * (col("n1") + 1)).as("u2"),
        expr("""cast(cast(r2 - n1 * (n1 + 1) as decimal(38,0)) * 1000000
              div (2 * cast(n1 as decimal(38,0)) * (nn - n1)) as bigint)""")
          .as("cles_ppm"))
      .orderBy(col("source"))
  }

  val o263 = """
    WITH vals AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
    mid AS (
      SELECT x, (SUM(c) OVER (ORDER BY x) - c) * 2 + c + 1 AS mr2
      FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY 1)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM vals),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
        CAST(SUM(mr2) AS BIGINT) AS r2
      FROM vals JOIN mid USING (x) GROUP BY 1)
    SELECT source, n1, nn - n1 AS n2,
      CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2,
      CAST(CAST(r2 - n1 * (n1 + 1) AS HUGEINT) * 1000000
        // (2 * CAST(n1 AS HUGEINT) * (nn - n1)) AS BIGINT) AS cles_ppm
    FROM per CROSS JOIN tot ORDER BY source"""

  // ---- q267: Good–Turing unseen-mass estimate per source ----

  /** q267: the Good–Turing coverage ledger per source — frequency-of-
    * frequencies N₁/N₂, hapax share of the vocabulary, and the
    * Good–Turing missing-mass estimate P(next token is a NEW type) ≈
    * N₁/N in exact ppm. Where q259's Heaps fit extrapolates vocabulary
    * GROWTH, this is the instantaneous coverage answer ("how much of
    * this source's distribution have we simply not seen yet?") that
    * smoothing, dedup-rate and crawl-stopping decisions read. All
    * integers: one final ppm division per column.
    *
    * Scale shape: term frequencies are the (source, term) aggregate;
    * frequency-of-frequencies re-aggregates that vocabulary-sized
    * table; output is |sources| rows. */
  def q267GoodTuring(s: SparkSession, d: String): DataFrame = {
    val tf = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("f"))
    tf.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        expr("n1 * 1000000 div n_tokens").as("gt_missing_ppm"),
        expr("n1 * 1000000 div vocab").as("hapax_share_ppm"))
      .orderBy(col("source"))
  }

  val o267 = """
    WITH tf AS (
      SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY 1, 2)
    SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      CAST(COUNT(*) AS BIGINT) AS vocab,
      CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
        // SUM(f) AS BIGINT) AS gt_missing_ppm,
      CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
        // COUNT(*) AS BIGINT) AS hapax_share_ppm
    FROM tf GROUP BY source ORDER BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q215_bigram_lm"   -> (q215BigramLm _),
    "q289_excess_mix"  -> (q289ExcessMix _),
    "q281_kn_bigram"   -> (q281KnBigram _),
    "q282_oov_curve"   -> (q282OovCurve _),
    "q260_topk_overlap" -> (q260TopkOverlap _),
    "q263_mann_whitney" -> (q263MannWhitney _),
    "q267_good_turing" -> (q267GoodTuring _),
    "q251_bleu_eval"   -> (q251BleuEval _),
    "q253_ccnet_buckets" -> (q253CcnetBuckets _),
    "q256_spearman_signals" -> (q256SpearmanSignals _),
    "q259_heaps_fit"   -> (q259HeapsFit _),
    "q248_source_signature" -> (q248SourceSignature _),
    "q246_source_entropy" -> (q246SourceEntropy _),
    "q237_zipf_fit"    -> (q237ZipfFit _),
    "q239_psi_drift"   -> (q239PsiDrift _),
    "q240_nucleus_size" -> (q240NucleusSize _),
    "q243_ks_drift"    -> (q243KsDrift _),
    "q167_unigram_nll" -> (q167UnigramNll _),
    "q140_pmi_collocations" -> (q140PmiCollocations _),
    "q136_weighted_quantiles" -> (q136WeightedQuantiles _),
    "q120_token_rarity" -> (q120TokenRarity _),
    "q123_cooccur"      -> (q123Cooccur _),
    "q131_source_calibration" -> (q131SourceCalibration _),
    "q132_token_gini"   -> (q132TokenGini _),
    "q133_shingle_novelty" -> (q133ShingleNovelty _))

  val oracles: Map[String, String] = Map(
    "q215_bigram_lm"   -> o215,
    "q289_excess_mix"  -> o289,
    "q281_kn_bigram"   -> o281,
    "q282_oov_curve"   -> o282,
    "q251_bleu_eval"   -> o251,
    "q253_ccnet_buckets" -> o253,
    "q256_spearman_signals" -> o256,
    "q259_heaps_fit"   -> o259,
    "q260_topk_overlap" -> o260,
    "q263_mann_whitney" -> o263,
    "q267_good_turing" -> o267,
    "q237_zipf_fit"    -> o237,
    "q239_psi_drift"   -> o239,
    "q240_nucleus_size" -> o240,
    "q243_ks_drift"    -> o243,
    "q246_source_entropy" -> o246,
    "q248_source_signature" -> o248,
    "q167_unigram_nll" -> o167,
    "q140_pmi_collocations" -> o140,
    "q120_token_rarity" -> o120, "q123_cooccur" -> o123,
    "q131_source_calibration" -> o131, "q132_token_gini" -> o132,
    "q133_shingle_novelty" -> o133, "q136_weighted_quantiles" -> o136)
}
