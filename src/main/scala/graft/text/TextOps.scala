package graft.text

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis surface for the LLM-data-pipeline extension (north star):
  * token counting, language-ID heuristic, quality scoring, document
  * fingerprinting, and a custom typed Aggregator (SURVEY.md EXT-P13,
  * EXT-A11).
  *
  * Everything row-level is built-in expressions / higher-order functions
  * (codegen'd, stays inside the scan stage); the only custom piece is the
  * typed Aggregator, which demonstrates the `Aggregator[IN,BUF,OUT]` +
  * `udaf()` extension point with exact integer math.
  */
object TextOps {

  def tokens(c: Column): Column = split(c, " ")

  /** q34: per-document token statistics. The avg-token-length formula uses
    * only integer counts and one double division, so it is bit-identical
    * across engines. */
  def q34TokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        ((length(col("text")) - (size(col("toks")) - 1)).cast("double")
          / size(col("toks"))).as("avg_tok_len"))
      .orderBy(col("doc_id"))

  val o34 = """
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / len(string_split(text, ' ')) AS avg_tok_len
    FROM documents ORDER BY doc_id"""

  /** Language-ID heuristic (script ranges + stopword markers) — the
    * classic n-gram-free fast path; deterministic, mirrored in SQL. */
  def langGuess(text: Column): Column =
    when(text.rlike("[一-鿿]"), "zh")
      .when(text.rlike("[Ѐ-ӿ]"), "ru")
      .when(text.rlike("\\b(el|la|los|las)\\b"), "es")
      .when(text.rlike("\\b(der|die|das|und)\\b"), "de")
      .when(text.rlike("\\b(le|les|des|une)\\b"), "fr")
      .when(text.rlike("\\b(the|a|of|and)\\b"), "en")
      .otherwise("unknown")

  /** Oracle mirror of `langGuess` — single definition, reused by o35
    * and the corpus-pipeline oracle (o78). */
  val ORA_LANG_CASE = """CASE
        WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
        WHEN regexp_matches(text, '\b(el|la|los|las)\b') THEN 'es'
        WHEN regexp_matches(text, '\b(der|die|das|und)\b') THEN 'de'
        WHEN regexp_matches(text, '\b(le|les|des|une)\b') THEN 'fr'
        WHEN regexp_matches(text, '\b(the|a|of|and)\b') THEN 'en'
        ELSE 'unknown' END"""

  /** q35: predicted-vs-labelled language confusion counts. */
  def q35LangId(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"), langGuess(col("text")).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))

  val o35 = s"""
    SELECT lang, $ORA_LANG_CASE AS predicted, COUNT(*) AS n
    FROM documents GROUP BY lang, predicted ORDER BY lang, predicted"""

  // ---- q284: code-switching / intra-document language-mix audit ----

  /** Segment width for sub-document language ID — small enough that a
    * spliced foreign passage dominates its own segment, large enough
    * that the stopword-marker heuristic has signal. */
  val SEG_TOKS = 16

  /** q284: CODE-SWITCHING audit — q35 labels whole documents, which is
    * exactly wrong for the mixed-language pages (boilerplate-wrapped
    * translations, forum quotes, spliced crawls) a monolingual filter
    * should flag rather than mislabel. Split each document into fixed
    * SEG_TOKS-token segments, run the q35 heuristic per SEGMENT, and
    * report the per-doc language-mix ledger: segment count, distinct
    * segment languages, the dominant language (most segments, ties to
    * the lexicographically first — deterministic) with its share, the
    * language-distribution entropy, and a mixed flag (≥2 languages and
    * dominant share ≤ 80%).
    *
    * Entropy engine-parity: per language class, n7 =
    * floor(ln(n_segs/c)·1e7) — exact-int ratio into libm (the q215
    * stance), then H = Σ c·n7 div (10·n_segs) in micro-nats, exact
    * integer arithmetic after the per-class floor; every n7 ≥ 0 so
    * floor/trunc agree.
    *
    * Scale shape: segmentation is row-local (one generalized-explode
    * projection); the ONLY corpus shuffle is the (doc_id, seg_lang)
    * aggregate; the dominant-pick and entropy windows partition BY
    * doc_id over the ≤|languages|-row per-doc ledger — never over
    * segments. */
  def q284CodeSwitch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(toks) - 1) div $SEG_TOKS)," +
          s" i -> array_join(slice(toks, i * $SEG_TOKS + 1, $SEG_TOKS), ' '))"))
        .as("seg"))
      .groupBy(col("doc_id"), langGuess(col("seg")).as("seg_lang"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
    val wr = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("seg_lang"))
    perLang
      .withColumn("n_segs", sum(col("c")).over(w))
      .withColumn("rn", row_number().over(wr))
      .withColumn("n7", floor(
        log(col("n_segs").cast("double") / col("c").cast("double")) * lit(1e7))
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_segs")).as("n_segs"),
           count(lit(1)).as("n_langs"),
           max(when(col("rn") === 1, col("seg_lang"))).as("dom_lang"),
           max(when(col("rn") === 1, col("c"))).as("dom_c"),
           sum(col("c") * col("n7")).as("t7"))
      .select(col("doc_id"), col("n_segs"), col("n_langs"), col("dom_lang"),
        expr("dom_c * 1000000 div n_segs").as("dom_share_ppm"),
        expr("t7 div (10 * n_segs)").as("ent_micro"))
      .withColumn("mixed",
        when(col("n_langs") >= 2 && col("dom_share_ppm") <= 800000L, 1L)
          .otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val o284: String = s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    segs AS (
      SELECT doc_id, array_to_string(
        toks[i * $SEG_TOKS + 1 : i * $SEG_TOKS + $SEG_TOKS], ' ') AS text
      FROM d, unnest(range(0, (len(toks) - 1) // $SEG_TOKS + 1)) u(i)),
    pl AS (
      SELECT doc_id, $ORA_LANG_CASE AS seg_lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM segs GROUP BY 1, 2),
    en AS (
      SELECT doc_id, seg_lang, c,
        CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_segs,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, seg_lang) AS rn
      FROM pl),
    en2 AS (
      SELECT *, CAST(FLOOR(ln(n_segs::DOUBLE / c::DOUBLE) * 1e7) AS BIGINT)
        AS n7
      FROM en)
    SELECT doc_id,
      CAST(MAX(n_segs) AS BIGINT) AS n_segs,
      CAST(COUNT(*) AS BIGINT) AS n_langs,
      MAX(CASE WHEN rn = 1 THEN seg_lang END) AS dom_lang,
      CAST(MAX(CASE WHEN rn = 1 THEN c END) * 1000000 // MAX(n_segs)
        AS BIGINT) AS dom_share_ppm,
      CAST(SUM(c * n7) // (10 * MAX(n_segs)) AS BIGINT) AS ent_micro,
      CAST(CASE WHEN COUNT(*) >= 2
        AND MAX(CASE WHEN rn = 1 THEN c END) * 1000000 // MAX(n_segs) <= 800000
        THEN 1 ELSE 0 END AS BIGINT) AS mixed
    FROM en2 GROUP BY doc_id ORDER BY doc_id"""

  /** Adds `toks`, `n_tok`, `n_stop`, `quality` columns to a DataFrame
    * with a `text` column — the one definition of the quality formula
    * (stopword ratio + length band), shared by q36 and the corpus
    * pipeline (q78). */
  def withQuality(df: DataFrame): DataFrame =
    df.withColumn("toks", tokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(expr("filter(toks, t -> t IN ('the','a','of','and'))")).cast("long"))
      .withColumn("quality",
        round((lit(1.0) - col("n_stop").cast("double") / col("n_tok"))
          * least(col("n_tok"), lit(100)).cast("double") / 100.0, 6))

  /** Oracle mirrors of the `withQuality` columns (expressions over a
    * `text` column), shared by o36 and o78. */
  val ORA_N_TOK = "CAST(len(string_split(text,' ')) AS BIGINT)"
  val ORA_N_STOP = """CAST(len(list_filter(string_split(text,' '),
            t -> t IN ('the','a','of','and'))) AS BIGINT)"""
  val ORA_QUALITY = """ROUND((1.0 - CAST(len(list_filter(string_split(text,' '),
              t -> t IN ('the','a','of','and'))) AS DOUBLE)
              / len(string_split(text,' ')))
        * CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100.0,
        6)"""

  /** q36: quality scoring — stopword ratio + length band, integer counts
    * with a fixed-order double formula. */
  def q36QualityScore(s: SparkSession, d: String): DataFrame =
    withQuality(documents(s, d))
      .select(col("doc_id"), col("n_tok"), col("n_stop"), col("quality"))
      .orderBy(col("doc_id"))

  val o36 = s"""
    SELECT doc_id, $ORA_N_TOK AS n_tok, $ORA_N_STOP AS n_stop,
      $ORA_QUALITY AS quality
    FROM documents ORDER BY doc_id"""

  /** q37: document fingerprinting — md5 of the normalized text (rolling
    * hashes are in Dedup; md5 is the cross-engine-checkable fingerprint). */
  def q37Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
              md5(lower(col("text"))).as("fingerprint"),
              length(col("text")).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))

  val o37 = """
    SELECT doc_id, md5(lower(text)) AS fingerprint,
      CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents ORDER BY doc_id"""

  // ---- EXT-A11: custom typed Aggregator over per-doc token counts ----
  case class TokStats(total: Long, mx: Long, n: Long)

  /** Typed corpus-stats aggregator: (sum, max, count) of token counts.
    * Associative + commutative merge → Spark plans partial aggregation
    * (map-side combine) exactly as for built-ins. */
  object TokenStatsAgg extends Aggregator[Long, TokStats, TokStats] {
    def zero: TokStats = TokStats(0L, 0L, 0L)
    def reduce(b: TokStats, a: Long): TokStats =
      TokStats(b.total + a, math.max(b.mx, a), b.n + 1)
    def merge(x: TokStats, y: TokStats): TokStats =
      TokStats(x.total + y.total, math.max(x.mx, y.mx), x.n + y.n)
    def finish(r: TokStats): TokStats = r
    def bufferEncoder: Encoder[TokStats] = Encoders.product[TokStats]
    def outputEncoder: Encoder[TokStats] = Encoders.product[TokStats]
  }

  /** q38: per-language corpus stats via the custom Aggregator. */
  def q38DocStats(s: SparkSession, d: String): DataFrame = {
    val tokStats = udaf(TokenStatsAgg)
    documents(s, d)
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .groupBy(col("lang"))
      .agg(tokStats(col("n_tok")).as("st"))
      .select(col("lang"), col("st.total").as("total_tokens"),
              col("st.mx").as("max_tokens"), col("st.n").as("n_docs"))
      .orderBy(col("lang"))
  }

  val o38 = """
    SELECT lang,
      CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
      CAST(MAX(len(string_split(text,' '))) AS BIGINT) AS max_tokens,
      COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang"""

  /** q48: Karp–Rabin rolling fingerprint (custom codegen expression;
    * xxhash-free, incrementally updatable — the content-defined-chunking
    * primitive). Oracle: DuckDB folds the same polynomial over the
    * code points with HUGEINT list_reduce — identical to the byte fold
    * because the corpus is pure ASCII (verified at every SF: code point
    * == UTF-8 byte). */
  def q48RollingFingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
              graft.functions.RollingHash.rolling_hash(col("text")).as("rh"))
      .orderBy(col("doc_id"))

  val o48 = """
    SELECT doc_id,
      CAST(list_reduce(
        list_prepend(0::HUGEINT,
          list_transform(range(1, length(text) + 1),
                         i -> unicode(text[i])::HUGEINT)),
        (h, b) -> (h * 257 + b + 1) % 2305843009213693951
      ) AS BIGINT) AS rh
    FROM documents ORDER BY doc_id"""

  /** q56: BPE-ish regex tokenization beside whitespace counting —
    * letter runs, digit runs, and single non-space symbols as separate
    * tokens (the GPT-2-style pre-tokenizer shape, minus byte fallback). */
  def q56RegexTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("bpe", expr("regexp_extract_all(text, '([a-z]+|[0-9]+|\\\\S)', 1)"))
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(col("bpe")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("bpe"))).cast("long").as("n_distinct_bpe"))
      .orderBy(col("doc_id"))

  val o56 = """
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '([a-z]+|[0-9]+|\S)', 1)) AS BIGINT) AS n_bpe_tokens,
      CAST(len(list_distinct(regexp_extract_all(text, '([a-z]+|[0-9]+|\S)', 1))) AS BIGINT) AS n_distinct_bpe
    FROM documents ORDER BY doc_id"""

  /** q63: TF-IDF top terms per document. Term frequency and document
    * frequency are exact integers; ranking uses the integer keys
    * (tf DESC, df ASC, term) so tie-breaks never depend on float
    * rounding; the tf·ln(N/df) score itself is emitted rounded. The
    * corpus total N enters via a broadcast single-row aggregate — a
    * declarative scalar, not a driver collect. */
  val TFIDF_TOP_K = 3
  def q63Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // TF is row-local (codegen TokenCounts — no groupBy(doc_id, term)
    // shuffle); DF aggregates the vocabulary and joins back without a
    // pinned broadcast hint (AQE broadcasts it when the runtime vocab
    // is small, shuffles when unbounded — same stance as q205), so the
    // only full-corpus shuffle left is the top-k window by doc_id.
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.TokenCounts.token_counts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(desc("tf"), col("df"), col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TFIDF_TOP_K)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val o63 = s"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
      SELECT doc_id, term, tf, df, n_docs,
        ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tf DESC, df, term) AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
      ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM ranked WHERE rank <= $TFIDF_TOP_K ORDER BY doc_id, rank"""

  // ---- q205: unigram surprisal (LM-proxy quality score) ----

  /** Fixed-point scale for per-term surprisal contributions: each
    * (doc, term) row contributes round(tf·ln(T/cf)·10⁶) as an exact
    * LONG, so the per-doc SUM is integer arithmetic — partition-order-
    * free (a raw double sum would drift in the low bits between 4-cpu
    * and 8-cpu runs). Rounding happens at the ROW level, the q63
    * precedent for engine-parity of ln. */
  val SURPRISAL_SCALE = 1e6

  /** q205: per-document unigram surprisal — the average negative log
    * probability of the document's tokens under the corpus's own
    * unigram distribution (the CCNet-style LM quality-filter proxy:
    * gibberish and boilerplate score high, fluent in-domain text
    * scores low; pipelines threshold or bucket on this).
    *
    * Scale shape: TF is row-local (codegen TokenCounts — no
    * (doc, term) shuffle); the corpus unigram table is ONE term-keyed
    * aggregate joined back WITHOUT a pinned broadcast hint: AQE sees
    * the aggregate's actual runtime size and converts to a broadcast
    * join when the vocab is tokenizer-bounded (the common case), but
    * falls back to a shuffled join over an unbounded raw-token vocab
    * instead of OOMing the driver building a forced broadcast. The
    * corpus total enters as a broadcast single-row aggregate, not a
    * driver collect. The only remaining corpus-sized shuffle is the
    * per-doc collapse. */
  def q205UnigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val tf = docs.select(col("doc_id"),
        explode(graft.functions.TokenCounts.token_counts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("tot"))
    tf.join(cf, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("q", round(col("tf") * log(col("tot").cast("double")
          / col("cf")) * SURPRISAL_SCALE).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"), sum(col("q")).as("sq"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sq").cast("double") / SURPRISAL_SCALE / col("n_tok"), 6)
          .as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  val o205 = s"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term),
    cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
    t AS (SELECT CAST(SUM(cf) AS BIGINT) AS tot FROM cf),
    q AS (
      SELECT doc_id, tf,
        CAST(ROUND(tf * ln(CAST(tot AS DOUBLE) / cf) * ${SURPRISAL_SCALE}) AS BIGINT) AS q
      FROM tf JOIN cf USING (term) CROSS JOIN t)
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
      ROUND(CAST(SUM(q) AS DOUBLE) / ${SURPRISAL_SCALE} / SUM(tf), 6) AS avg_surprisal
    FROM q GROUP BY doc_id ORDER BY doc_id"""

  /** q72: content-defined chunking — the rolling hash applied to its
    * real job (see graft.functions.CdcChunks). The output joins every
    * chunk length into a string, so the oracle (which recomputes each
    * window hash from scratch in SQL) checks every boundary position,
    * not just the counts. */
  val CDC_WINDOW = 16
  val CDC_MASK_BITS = 6
  def q72CdcChunks(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.CdcChunks.cdc_chunks(
          col("text"), CDC_WINDOW, CDC_MASK_BITS).as("lens"),
        length(col("text")).cast("long").as("n_bytes"))
      .select(col("doc_id"),
        size(col("lens")).cast("long").as("n_chunks"),
        array_max(col("lens")).as("max_chunk"),
        concat_ws(",", col("lens").cast("array<string>")).as("lens_str"),
        col("n_bytes"))
      .orderBy(col("doc_id"))

  val o72 = {
    val mod = (1L << 61) - 1
    val mask = (1 << CDC_MASK_BITS) - 1
    s"""
    WITH b AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        [i for i in range($CDC_WINDOW, length(text)+1) if
          (CAST(list_reduce(list_prepend(0::HUGEINT,
             [unicode(text[j])::HUGEINT for j in range(i-${CDC_WINDOW - 1}, i+1)]),
             (h, c) -> (h*257 + c + 1) % $mod) AS BIGINT) & $mask) = 0] AS bnds
      FROM documents),
    c AS (
      SELECT doc_id, n,
        CASE WHEN len(bnds) = 0 OR bnds[-1] < n
             THEN list_append(bnds, n) ELSE bnds END AS ends
      FROM b),
    l AS (
      SELECT doc_id, n,
        CASE WHEN n = 0 THEN []::BIGINT[] ELSE
          [ends[k] - CASE WHEN k = 1 THEN 0 ELSE ends[k-1] END
           for k in range(1, len(ends)+1)] END AS lens
      FROM c)
    SELECT doc_id, CAST(len(lens) AS BIGINT) AS n_chunks,
      CAST(list_max(lens) AS BIGINT) AS max_chunk,
      array_to_string(lens, ',') AS lens_str, n AS n_bytes
    FROM l ORDER BY doc_id"""
  }

  // ---- q88: within-document repetition scoring (Gopher-style rules) ----

  /** Repetition flag thresholds — the published Gopher-family rules
    * ("duplicate n-gram fraction" / "top n-gram fraction", Rae et al.
    * 2021, public literature) applied to 2- and 3-grams. */
  val DUP_2GRAM_MAX = 0.20
  val TOP_2GRAM_MAX = 0.18

  /** Non-distinct n-gram list for the token array `toks` (ShingleSet is
    * a SET — dedup is precisely what repetition scoring must NOT do).
    * HOF runs row-local as explode-prep; the heavy lifting is the
    * per-(doc, gram) hash aggregation after the explode. */
  private def grams(n: Int) = expr(
    s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")

  /** q88: per-document repetition scores — the machine-generated/spam
    * signal the length/stopword quality score (q36) cannot see: the
    * fraction of n-gram occurrences that are repeats, and the mass of
    * the single most frequent n-gram. Scale shape is q63's (TF-IDF):
    * explode → (doc_id, gram) hash agg with map-side combine → per-doc
    * agg; all counts integer, fractions computed once in double. */
  def q88RepetitionScore(s: SparkSession, d: String): DataFrame = {
    def aggFor(n: Int) = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(grams(n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as(s"total$n"),
           count(lit(1)).as(s"dist$n"),
           max(col("c")).as(s"max$n"))
    aggFor(2).join(aggFor(3), Seq("doc_id"))
      .select(col("doc_id"),
        round(lit(1.0) - col("dist2").cast("double") / col("total2"), 6)
          .as("dup_2gram_frac"),
        round(lit(1.0) - col("dist3").cast("double") / col("total3"), 6)
          .as("dup_3gram_frac"),
        round(col("max2").cast("double") / col("total2"), 6)
          .as("top_2gram_frac"))
      .withColumn("repetitive",
        col("dup_2gram_frac") > DUP_2GRAM_MAX
          || col("top_2gram_frac") > TOP_2GRAM_MAX)
      .orderBy(col("doc_id"))
  }

  val o88 = s"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g2 AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
           FROM tk, unnest(range(1, len(t))) u(i) WHERE len(t) >= 2),
    g3 AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
           FROM tk, unnest(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
    a2 AS (SELECT doc_id, SUM(c) AS total2, COUNT(*) AS dist2, MAX(c) AS max2
           FROM c2 GROUP BY doc_id),
    a3 AS (SELECT doc_id, SUM(c) AS total3, COUNT(*) AS dist3
           FROM c3 GROUP BY doc_id),
    m AS (
      SELECT a2.doc_id,
        ROUND(1.0 - CAST(dist2 AS DOUBLE) / total2, 6) AS dup_2gram_frac,
        ROUND(1.0 - CAST(dist3 AS DOUBLE) / total3, 6) AS dup_3gram_frac,
        ROUND(CAST(max2 AS DOUBLE) / total2, 6) AS top_2gram_frac
      FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id)
    SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_2gram_frac,
      (dup_2gram_frac > $DUP_2GRAM_MAX OR top_2gram_frac > $TOP_2GRAM_MAX)
        AS repetitive
    FROM m ORDER BY doc_id"""

  // ---- q102: sliding context-window chunking ----

  /** Context-window segmentation: 32-token windows every 24 tokens
    * (8-token overlap), the fixed-stride counterpart of q72's
    * content-defined chunks — overlap preserves cross-boundary context
    * for training, CDC preserves dedup stability; pipelines use both. */
  val CHUNK_W = 32
  val CHUNK_STRIDE = 24

  /** q102: split every document into overlapping fixed-size token
    * windows. Entirely row-local — `sequence` generates the window
    * starts, `posexplode` emits one row per window, `slice` takes the
    * tokens (clamped at the tail, so the last window may be short) —
    * no shuffle except the output sort; at scale this is a pure map
    * stage that pipelines into packing (q83) without a barrier. Window
    * text ships as an md5 (the repo's no-raw-arrays-in-output rule);
    * byte-identical to DuckDB's list-slice + join formulation. */
  def q102WindowChunks(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(1L), col("n"), lit(CHUNK_STRIDE.toLong)))
          .as(Seq("chunk_idx", "start_tok")))
      .withColumn("chunk", slice(col("t"), col("start_tok"), lit(CHUNK_W)))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok"),
        size(col("chunk")).cast("long").as("n_tok_chunk"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val o102 = s"""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS t,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents WHERE len(string_split(text, ' ')) > 0)
    SELECT doc_id,
      CAST((u.s - 1) // $CHUNK_STRIDE AS BIGINT) AS chunk_idx,
      u.s AS start_tok,
      CAST(len(t[u.s : u.s + ${CHUNK_W - 1}]) AS BIGINT) AS n_tok_chunk,
      md5(array_to_string(t[u.s : u.s + ${CHUNK_W - 1}], ' ')) AS chunk_md5
    FROM tk, unnest(range(1, n + 1, $CHUNK_STRIDE)) u(s)
    ORDER BY doc_id, chunk_idx"""

  // ---- q155: conjunctive keyword search, scored top-k ----

  /** Fixed query terms for q155 — mid-frequency corpus words, so the
    * conjunction is selective but non-empty at every SF. */
  val SEARCH_TERMS = Seq("vector", "merge", "spark")

  /** q155: conjunctive keyword search with term-frequency scoring —
    * the retrieval primitive (docs containing ALL query terms, ranked
    * by total query-term occurrences, deterministic doc_id tie-break).
    * Scoring is exact integer TF (no log-IDF: ln() has no cross-engine
    * bit guarantee — the q140 stance; IDF weighting would multiply by
    * a per-term constant and not change this corpus's conjunction).
    *
    * Scale shape: this is the AD-HOC query path — per-term TF counted
    * ROW-LOCALLY by codegen higher-order functions (size∘filter∘split,
    * one scan, no explode and therefore no token-sized intermediate),
    * conjunction as a scan-stage filter, and the global top-k as
    * TakeOrderedAndProject (per-partition heaps, k rows to the
    * driver). ZERO full shuffles: the whole query is scan → project →
    * filter → top-k, embarrassingly parallel at any corpus size. The
    * inverted-index formulation (explode + term equi-join, the q40
    * machinery) wins only when the SAME corpus serves many queries —
    * that trade-off is the q143-layout story, not a per-query plan. */
  def q155Search(s: SparkSession, d: String): DataFrame = {
    val tf = SEARCH_TERMS.map(t =>
      expr(s"cast(size(filter(split(lower(text), ' '), x -> x = '$t')) as bigint)")
        .as(s"tf_$t"))
    val score = SEARCH_TERMS.map(t => col(s"tf_$t")).reduce(_ + _)
    documents(s, d)
      .select(col("doc_id") +: tf: _*)
      .filter(SEARCH_TERMS.map(t => col(s"tf_$t") > 0).reduce(_ && _))
      .withColumn("score", score)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val o155 = """
    SELECT doc_id, tf_vector, tf_merge, tf_spark,
      tf_vector + tf_merge + tf_spark AS score
    FROM (
      SELECT doc_id,
        len(list_filter(string_split(lower(text), ' '),
            x -> x = 'vector')) AS tf_vector,
        len(list_filter(string_split(lower(text), ' '),
            x -> x = 'merge')) AS tf_merge,
        len(list_filter(string_split(lower(text), ' '),
            x -> x = 'spark')) AS tf_spark
      FROM documents)
    WHERE tf_vector > 0 AND tf_merge > 0 AND tf_spark > 0
    ORDER BY score DESC, doc_id LIMIT 20"""

  // ---- q257: retrieval evaluation (MRR + nDCG@k) ----

  /** Retrieval-eval depth and query batch (mid-frequency corpus words,
    * the q155 convention). */
  val RET_K = 10
  val RET_TERMS = Seq("vector", "merge", "spark", "filter", "stream")

  /** q257: the retrieval-metrics harness — MRR and nDCG@$RET_K for a
    * batch of single-term queries over the corpus, with
    * split-document pseudo-qrels: each document is ranked by its
    * query-term TF in the FIRST half and judged relevant iff the term
    * also occurs in the held-out SECOND half (the classic
    * pseudo-query trick for label-free IR eval). Discounts use the
    * fixed-point convention d(r) = round(1e6/log₂(r+1)) — both
    * engines feed libm the identical small-integer argument (the q205
    * ln stance) — so DCG/IDCG are exact integer sums and nDCG one
    * final integer division.
    *
    * Scale shape: scoring is ROW-LOCAL (higher-order filter over the
    * two halves, no explode — the q155 scan shape, one pass for the
    * whole query batch); the only exchange is the per-term top-k
    * window over docs that MATCH the term, and IDCG derives from the
    * tiny (term, n_rel) ledger. */
  def q257RetrievalEval(s: SparkSession, d: String): DataFrame = {
    val perTerm = RET_TERMS.map { t =>
      struct(lit(t).as("term"),
        expr(s"cast(size(filter(slice(toks, 1, h), x -> x = '$t')) as bigint)")
          .as("tf1"),
        expr(s"""case when size(filter(slice(toks, h + 1, n - h),
                 x -> x = '$t')) > 0 then 1L else 0L end""").as("rel"))
    }
    val base = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("h", expr("n div 2"))
      .select(col("doc_id"), explode(array(perTerm: _*)).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf1").as("tf1"),
        col("p.rel").as("rel"))
    val top = base.filter(col("tf1") > 0)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
          .orderBy(col("tf1").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= RET_K)
      .withColumn("disc", expr(
        "cast(round(1000000 / log2(rank + 1)) as bigint)"))
    val nrel = base.groupBy(col("term")).agg(sum(col("rel")).as("n_rel"))
    top.groupBy(col("term"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("rel") * col("disc")).as("dcg_micro"),
        min(when(col("rel") === 1, col("rank"))).as("frr"))
      .join(nrel, Seq("term"))
      .withColumn("idcg_micro", expr(
        s"""case when n_rel = 0 then 0L else
            aggregate(sequence(1, cast(least(n_rel, $RET_K) as int)), 0L,
              (acc, r) -> acc + cast(round(1000000 / log2(r + 1)) as bigint))
            end"""))
      .select(col("term"), col("n_ranked"), col("n_rel"),
        coalesce(col("frr"), lit(0L)).as("first_rel_rank"),
        expr("case when frr is null then 0L else 1000000 div frr end")
          .as("rr_ppm"),
        col("dcg_micro"), col("idcg_micro"),
        expr("""case when idcg_micro = 0 then 0L
                else dcg_micro * 1000000 div idcg_micro end""").as("ndcg_ppm"))
      .orderBy(col("term"))
  }

  val o257 = s"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
      FROM documents),
    q AS (SELECT unnest(['vector', 'merge', 'spark', 'filter', 'stream'])
            AS term),
    sc AS (
      SELECT doc_id, term,
        CAST(len(list_filter(toks[1 : CAST(n // 2 AS INT)],
          x -> x = term)) AS BIGINT) AS tf1,
        CASE WHEN len(list_filter(toks[CAST(n // 2 AS INT) + 1 : CAST(n AS INT)],
          x -> x = term)) > 0 THEN 1 ELSE 0 END AS rel
      FROM d CROSS JOIN q),
    top AS (
      SELECT term, doc_id, tf1, rel,
        CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf1 DESC, doc_id)
          AS BIGINT) AS rank
      FROM sc WHERE tf1 > 0 QUALIFY rank <= $RET_K),
    tw AS (
      SELECT *, CAST(ROUND(1000000 / log2(rank + 1)) AS BIGINT) AS disc
      FROM top),
    nr AS (SELECT term, CAST(SUM(rel) AS BIGINT) AS n_rel FROM sc GROUP BY 1),
    disc10 AS (
      SELECT r, CAST(ROUND(1000000 / log2(r + 1)) AS BIGINT) AS dd
      FROM unnest(range(1, $RET_K + 1)) u(r)),
    idcg AS (
      SELECT term, CAST(COALESCE(SUM(dd), 0) AS BIGINT) AS idcg_micro
      FROM nr LEFT JOIN disc10 ON r <= LEAST(n_rel, $RET_K) GROUP BY 1),
    ag AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n_ranked,
        CAST(SUM(rel * disc) AS BIGINT) AS dcg_micro,
        MIN(CASE WHEN rel = 1 THEN rank END) AS frr
      FROM tw GROUP BY 1)
    SELECT ag.term, n_ranked, n_rel,
      CAST(COALESCE(frr, 0) AS BIGINT) AS first_rel_rank,
      CAST(CASE WHEN frr IS NULL THEN 0 ELSE 1000000 // frr END AS BIGINT)
        AS rr_ppm,
      dcg_micro, idcg_micro,
      CAST(CASE WHEN idcg_micro = 0 THEN 0
        ELSE dcg_micro * 1000000 // idcg_micro END AS BIGINT) AS ndcg_ppm
    FROM ag JOIN nr USING (term) JOIN idcg USING (term)
    ORDER BY term"""

  // ---- q245: classifier evaluation (precision/recall/F1 per class) ----

  /** q245: per-class evaluation of the q35 language classifier against
    * the labeled `lang` column — tp/fp/fn, precision, recall and F1 in
    * exact ppm, using the integer F1 identity
    * F1 = 2·tp / (2·tp + fp + fn) so no intermediate float p·r product
    * exists. This is the eval-harness primitive every in-engine filter
    * (q35 lang-id, q216 perceptron) is judged by before it gates a
    * corpus; producing it IN the engine keeps model selection on the
    * same exact-arithmetic footing as the filters themselves.
    *
    * Scale shape: the confusion matrix is ONE (lang, predicted)
    * aggregate over the corpus (the q35 exchange); its one consumer
    * tags each cell twice, once under its actual and once under its
    * predicted class, and one conditional aggregate over those
    * |classes|²-bounded rows yields tp/fp/fn per class. */
  def q245LangidEval(s: SparkSession, d: String): DataFrame = {
    // every document contributes a cell, so the classes tagged as
    // actual are exactly the corpus's distinct lang
    def cellsOf(cond: Column) = sum(when(cond, col("n")).otherwise(0L))
    documents(s, d)
      .groupBy(col("lang"), langGuess(col("text")).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .select(col("n"), (col("lang") === col("predicted")).as("hit"),
        explode(array(
          struct(col("lang").as("k"), lit(true).as("actual")),
          struct(col("predicted").as("k"), lit(false).as("actual"))))
          .as("t"))
      .groupBy(col("t.k").as("lang"))
      .agg(max(col("t.actual")).as("is_class"),
        cellsOf(col("t.actual") && col("hit")).as("tp"),
        cellsOf(!col("t.actual") && !col("hit")).as("fp"),
        cellsOf(col("t.actual") && !col("hit")).as("fn"))
      .filter(col("is_class"))
      .select(col("lang"), col("tp"), col("fp"), col("fn"))
      .withColumn("precision_ppm", expr(
        "case when tp + fp = 0 then 0L else tp * 1000000L div (tp + fp) end"))
      .withColumn("recall_ppm", expr(
        "case when tp + fn = 0 then 0L else tp * 1000000L div (tp + fn) end"))
      .withColumn("f1_ppm", expr(
        "case when 2 * tp + fp + fn = 0 then 0L " +
          "else 2 * tp * 1000000L div (2 * tp + fp + fn) end"))
      .orderBy(col("lang"))
  }

  val o245 = s"""
    WITH cm AS (
      SELECT lang, $ORA_LANG_CASE AS predicted, COUNT(*) AS n
      FROM documents GROUP BY 1, 2),
    tp AS (SELECT lang, n AS tp FROM cm WHERE lang = predicted),
    fn AS (SELECT lang, SUM(n) AS fn FROM cm WHERE lang <> predicted
           GROUP BY 1),
    fp AS (SELECT predicted AS lang, SUM(n) AS fp FROM cm
           WHERE lang <> predicted GROUP BY 1),
    cls AS (SELECT DISTINCT lang FROM documents),
    j AS (
      SELECT cls.lang, COALESCE(tp.tp, 0) AS tp, COALESCE(fp.fp, 0) AS fp,
        COALESCE(fn.fn, 0) AS fn
      FROM cls LEFT JOIN tp USING (lang) LEFT JOIN fn USING (lang)
        LEFT JOIN fp USING (lang))
    SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      CAST(fn AS BIGINT) AS fn,
      CAST(CASE WHEN tp + fp = 0 THEN 0
        ELSE tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_ppm,
      CAST(CASE WHEN tp + fn = 0 THEN 0
        ELSE tp * 1000000 // (tp + fn) END AS BIGINT) AS recall_ppm,
      CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
        ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS BIGINT) AS f1_ppm
    FROM j ORDER BY lang"""

  // ---- q271: inter-rater agreement (Cohen's kappa) ----

  /** The four Latin stopword sets the vote rater scores. Kept tiny and
    * hard-coded so the DuckDB mirror is a literal IN-list, not a
    * broadcast table. */
  private val VOTE_SETS: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "las"),
    "fr" -> Seq("le", "les", "des", "une"))

  /** Rater B: per-language stopword-hit counts with argmax vote, ties
    * resolved by the fixed en>de>es>fr priority (a pure nested CASE so
    * both engines share one definition). Zero hits everywhere →
    * 'unknown'. Deliberately DIFFERENT machinery from `langGuess`
    * (first-match regex) — the point of q271 is to measure how much
    * two plausible raters disagree. */
  private def voteCnt(lang: String): String = {
    val set = VOTE_SETS.find(_._1 == lang).get._2
      .map("'" + _ + "'").mkString(", ")
    s"size(filter(split(text, ' '), t -> t IN ($set)))"
  }

  def langVote(text: Column): Column = expr(s"""
    CASE WHEN ${voteCnt("en")} = 0 AND ${voteCnt("de")} = 0
           AND ${voteCnt("es")} = 0 AND ${voteCnt("fr")} = 0 THEN 'unknown'
         WHEN ${voteCnt("en")} >= ${voteCnt("de")}
           AND ${voteCnt("en")} >= ${voteCnt("es")}
           AND ${voteCnt("en")} >= ${voteCnt("fr")} THEN 'en'
         WHEN ${voteCnt("de")} >= ${voteCnt("es")}
           AND ${voteCnt("de")} >= ${voteCnt("fr")} THEN 'de'
         WHEN ${voteCnt("es")} >= ${voteCnt("fr")} THEN 'es'
         ELSE 'fr' END""")

  private def oraVoteCnt(lang: String): String = {
    val set = VOTE_SETS.find(_._1 == lang).get._2
      .map("'" + _ + "'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($set)))"
  }

  val ORA_VOTE_CASE: String = s"""
    CASE WHEN ${oraVoteCnt("en")} = 0 AND ${oraVoteCnt("de")} = 0
           AND ${oraVoteCnt("es")} = 0 AND ${oraVoteCnt("fr")} = 0
           THEN 'unknown'
         WHEN ${oraVoteCnt("en")} >= ${oraVoteCnt("de")}
           AND ${oraVoteCnt("en")} >= ${oraVoteCnt("es")}
           AND ${oraVoteCnt("en")} >= ${oraVoteCnt("fr")} THEN 'en'
         WHEN ${oraVoteCnt("de")} >= ${oraVoteCnt("es")}
           AND ${oraVoteCnt("de")} >= ${oraVoteCnt("fr")} THEN 'de'
         WHEN ${oraVoteCnt("es")} >= ${oraVoteCnt("fr")} THEN 'es'
         ELSE 'fr' END"""

  /** q271: Cohen's kappa between two independent in-engine language
    * raters (q35's first-match regex vs the stopword-vote argmax), per
    * source. Chance-corrected agreement is the standard way to decide
    * whether two cheap classifiers are redundant or complementary
    * before gating a corpus on their intersection — raw agreement
    * alone is inflated by the majority class (here: 'en'-heavy
    * sources agree by luck).
    *
    * Exact integer identity: with N docs, A observed agreements and
    * S = Σ_k rowmarg_k·colmarg_k, kappa = (A·N − S) / (N² − S), so
    * kappa_ppm = (A·N − S)·1e6 div (N² − S) needs no intermediate
    * float at all. Marginal products run in decimal(38,0) (N² at
    * corpus scale exceeds int64 — the q252 stance). pe = 1 (every
    * marginal mass on one class, N² = S) degenerates to kappa = 0.
    *
    * Scale shape: ONE (source, a, b) corpus aggregate (both raters are
    * row-local codegen expressions over one scan), read once: each
    * cell is tagged under its a-class and its b-class, one
    * (source, class) aggregate yields both marginals and the agreement
    * mass, and one (source) aggregate sums them into N, A and S. All
    * of it stays within |sources|·|classes|² rows. */
  def q271RaterKappa(s: SparkSession, d: String): DataFrame = {
    def mass(cond: Column) = sum(when(cond, col("n")).otherwise(0L))
    documents(s, d)
      .groupBy(col("source"), langGuess(col("text")).as("a"),
        langVote(col("text")).as("b"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"), col("n"), (col("a") === col("b")).as("hit"),
        explode(array(
          struct(col("a").as("k"), lit(true).as("is_a")),
          struct(col("b").as("k"), lit(false).as("is_a")))).as("m"))
      .groupBy(col("source"), col("m.k").as("k"))
      .agg(mass(col("m.is_a")).as("na"), mass(!col("m.is_a")).as("nb"),
        mass(col("m.is_a") && col("hit")).as("agree"))
      // S sums over classes BOTH raters used (na, nb > 0), as the
      // oracle's marginal join does; a source with no such class has
      // no row there
      .withColumn("both", col("na") > 0L && col("nb") > 0L
        && col("k").isNotNull)
      .groupBy(col("source"))
      .agg(sum(col("na")).as("n_docs"), sum(col("agree")).as("agree"),
        sum(when(col("both"), expr("cast(na as decimal(38,0)) * nb")))
          .as("s_e"),
        max(col("both")).as("any_both"))
      .filter(col("any_both") && col("source").isNotNull)
      .select(col("source"), col("n_docs"), col("agree"),
        expr("agree * 1000000L div n_docs").as("po_ppm"),
        expr("cast(s_e * 1000000 div (cast(n_docs as decimal(38,0)) * n_docs) as bigint)")
          .as("pe_ppm"),
        // kappa may be negative (systematic disagreement); Spark div
        // truncates toward zero while DuckDB // floors, so divide the
        // |numerator| (keeping the dividend non-negative, where both
        // agree) and re-apply the sign — the StatShapes q227 stance.
        expr("""case when cast(n_docs as decimal(38,0)) * n_docs = s_e then 0L
          when cast(agree as decimal(38,0)) * n_docs >= s_e
          then cast((cast(agree as decimal(38,0)) * n_docs - s_e) * 1000000
            div (cast(n_docs as decimal(38,0)) * n_docs - s_e) as bigint)
          else -cast((s_e - cast(agree as decimal(38,0)) * n_docs) * 1000000
            div (cast(n_docs as decimal(38,0)) * n_docs - s_e) as bigint) end""")
          .as("kappa_ppm"))
      .orderBy(col("source"))
  }

  val o271: String = s"""
    WITH cm AS (
      SELECT source, $ORA_LANG_CASE AS a, $ORA_VOTE_CASE AS b,
        COUNT(*) AS n
      FROM documents GROUP BY 1, 2, 3),
    tot AS (
      SELECT source, SUM(n) AS n_docs,
        SUM(CASE WHEN a = b THEN n ELSE 0 END) AS agree
      FROM cm GROUP BY 1),
    ma AS (SELECT source, a AS k, SUM(n) AS na FROM cm GROUP BY 1, 2),
    mb AS (SELECT source, b AS k, SUM(n) AS nb FROM cm GROUP BY 1, 2),
    se AS (
      SELECT ma.source, SUM(na::HUGEINT * nb) AS s_e
      FROM ma JOIN mb ON ma.source = mb.source AND ma.k = mb.k
      GROUP BY 1)
    SELECT tot.source, CAST(n_docs AS BIGINT) AS n_docs,
      CAST(agree AS BIGINT) AS agree,
      CAST(agree * 1000000 // n_docs AS BIGINT) AS po_ppm,
      CAST(s_e * 1000000 // (n_docs::HUGEINT * n_docs) AS BIGINT) AS pe_ppm,
      CAST(CASE WHEN n_docs::HUGEINT * n_docs = s_e THEN 0
        WHEN agree::HUGEINT * n_docs >= s_e
        THEN (agree::HUGEINT * n_docs - s_e) * 1000000
          // (n_docs::HUGEINT * n_docs - s_e)
        ELSE -((s_e - agree::HUGEINT * n_docs) * 1000000
          // (n_docs::HUGEINT * n_docs - s_e)) END AS BIGINT) AS kappa_ppm
    FROM tot JOIN se ON tot.source = se.source
    ORDER BY tot.source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q205_unigram_surprisal" -> (q205UnigramSurprisal _),
    "q155_search"        -> (q155Search _),
    "q102_window_chunks" -> (q102WindowChunks _),
    "q72_cdc_chunks"    -> (q72CdcChunks _),
    "q63_tfidf"         -> (q63Tfidf _),
    "q56_regex_tokens"  -> (q56RegexTokens _),
    "q34_token_stats"   -> (q34TokenStats _),
    "q35_lang_id"       -> (q35LangId _),
    "q284_code_switch"  -> (q284CodeSwitch _),
    "q245_langid_eval"  -> (q245LangidEval _),
    "q271_rater_kappa"  -> (q271RaterKappa _),
    "q257_retrieval_eval" -> (q257RetrievalEval _),
    "q36_quality_score" -> (q36QualityScore _),
    "q37_fingerprint"   -> (q37Fingerprint _),
    "q38_doc_stats"     -> (q38DocStats _),
    "q48_rolling_fingerprint" -> (q48RollingFingerprint _),
    "q88_repetition_score" -> (q88RepetitionScore _))

  val oracles: Map[String, String] = Map(
    "q34_token_stats" -> o34, "q35_lang_id" -> o35,
    "q284_code_switch" -> o284,
    "q245_langid_eval" -> o245,
    "q271_rater_kappa" -> o271,
    "q257_retrieval_eval" -> o257,
    "q36_quality_score" -> o36, "q37_fingerprint" -> o37,
    "q38_doc_stats" -> o38, "q48_rolling_fingerprint" -> o48,
    "q56_regex_tokens" -> o56, "q63_tfidf" -> o63,
    "q72_cdc_chunks" -> o72, "q88_repetition_score" -> o88,
    "q102_window_chunks" -> o102, "q155_search" -> o155,
    "q205_unigram_surprisal" -> o205)
}
