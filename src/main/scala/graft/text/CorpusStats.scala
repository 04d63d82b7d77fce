package graft.text

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus-level statistics for the LLM-data pipeline: cross-source
  * contamination auditing (q94) and mergeable heavy-hitter sketches
  * (q95).
  *
  * Scale notes (100 TB stance):
  *  - q94 reuses q79's span machinery: per-document distinct windows are
  *    row-local (codegen ShingleSet), spans ship as 8-byte md5-60 longs,
  *    and after the per-source `distinct` each span hash appears at most
  *    once per source — so the self-join's per-key fan-out is bounded by
  *    #sources (20), never by corpus size. The span table is hash-
  *    repartitioned once and both join sides reuse that exchange.
  *  - q95's Misra–Gries sketch is the frequency counterpart of q90's
  *    HLL: a bounded-size state that `reduce`s per partition and
  *    `merge`s associatively, so the full corpus is summarized in one
  *    pass with k counters per partial — no (word, count) shuffle of the
  *    whole vocabulary. Guarantee: for true frequency f and estimate e,
  *    e ≤ f ≤ e + N/(k+1); every word with f > N/(k+1) survives.
  */
object CorpusStats {

  /** Misra–Gries frequency sketch as a typed Aggregator (the
    * `Aggregator[IN,BUF,OUT]` + `udaf` extension point, beside q38's
    * scalar-stats instance). The buffer is an immutable map for
    * encoder clarity; a production build would swap in a mutable
    * open-address map — the algorithm and its merge are the point here.
    *
    * Merge of two sketches (Agarwal et al., "Mergeable Summaries"):
    * sum counters, then subtract the (k+1)-th largest count from all
    * and drop non-positives — keeps ≤ k counters and preserves the
    * N/(k+1) error bound regardless of merge order or partitioning. */
  class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty

    def reduce(b: Map[String, Long], w: String): Map[String, Long] =
      b.get(w) match {
        case Some(c)              => b.updated(w, c + 1)
        case None if b.size < k   => b.updated(w, 1L)
        case None => // full: decrement every counter, drop zeros
          b.flatMap { case (kw, c) =>
            if (c > 1) Some(kw -> (c - 1)) else None }
      }

    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val m = y.foldLeft(x) { case (acc, (w, c)) =>
        acc.updated(w, acc.getOrElse(w, 0L) + c) }
      if (m.size <= k) m
      else {
        val cut = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        m.flatMap { case (w, c) =>
          if (c > cut) Some(w -> (c - cut)) else None }
      }
    }

    def finish(r: Map[String, Long]): Map[String, Long] = r
    def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Registered capacity: 64 counters > the corpus vocabulary (31), so
    * the sketch never evicts and its estimates are EXACT — that is what
    * makes q95 oracle-checkable rather than rows-only. The approximate
    * regime (capacity < vocabulary) is exercised by CorpusStatsSpec,
    * which asserts the N/(k+1) bound at k=8. */
  val MG_CAPACITY = 64

  /** q95: corpus heavy hitters via the Misra–Gries sketch — one partial
    * sketch per partition, merged associatively to a global one (q90's
    * HLL pattern, for frequencies). */
  def q95HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new MisraGries(MG_CAPACITY))
    documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(mg(col("w")).as("sketch"))
      .select(explode(col("sketch")))
      .toDF("word", "est")
      .orderBy(col("est").desc, col("word"))
  }

  val o95 = """
    SELECT tok AS word, COUNT(*) AS est
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok ORDER BY est DESC, word"""

  // ---- q144: count-min sketch as a relational table ----

  /** CMS geometry: DEPTH independent hash rows × WIDTH counters.
    * Point-estimate error bound: est − true ≤ e/WIDTH · N with
    * probability 1 − e^−DEPTH; the inline tripwire asserts the
    * deterministic structural bounds (see below). */
  val CMS_DEPTH = 4
  val CMS_WIDTH = 256

  /** q144: count-min sketch point-frequency estimates — the third
    * mergeable-sketch family after HLL (q90, distinct counts) and
    * Misra–Gries (q95, top-k): CMS answers point queries ("how often
    * does THIS token occur") with a fixed-size summary.
    *
    * The sketch is a TABLE, not a blob: (row i, cell h_i(tok)) →
    * summed count, DEPTH×WIDTH rows total, built by one grouped
    * aggregate over the token stream with h_i = pmod(xxhash64(i, tok),
    * WIDTH) — a codegen expression, no udf, no Aggregator buffer. That
    * formulation IS the 100 TB maintenance story: shard sketches merge
    * by unioning tables and re-summing (counts are associative), and
    * incremental ingest is the same aggregate over the new batch
    * unioned in — nothing driver-resident, nothing opaque.
    *
    * Probes are relational too: query tokens explode to DEPTH (i, h)
    * keys, join the sketch, min over rows = estimate. Evidence: CMS
    * structurally NEVER underestimates (cells sum every colliding
    * token), and here WIDTH=256 ≥ 8× the corpus vocabulary, so no
    * collisions occur and estimates are exact — both asserted inline
    * with raise_error. That exactness makes the query HASH-CHECKABLE
    * despite xxhash64 being Spark-native: the oracle replays the exact
    * counts the in-query tripwire proves the sketch must equal (the
    * q95 Misra–Gries exact-under-capacity pattern) — a sketch bug
    * either raise_errors or hash-mismatches. CorpusStatsSpec covers
    * the collision regime at WIDTH=8 where only the ≥-bound holds. */
  def cmsSketch(toks: DataFrame, depth: Int, width: Int): DataFrame =
    toks
      .select(col("w"), explode(expr(
        s"transform(sequence(0, ${depth - 1}), i -> " +
          s"struct(i AS i, pmod(xxhash64(i, w), $width) AS h))")).as("c"))
      .groupBy(col("c.i"), col("c.h"))
      .agg(count(lit(1)).as("cnt"))

  def q144CmsPointQueries(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    // r16: ONE corpus pass. The exact per-token counts are needed for
    // the probes anyway, and both the sketch and the total are pure
    // functions of them — cell(i,h) = Σ_{w: h_i(w)=h} count(w) (h
    // depends only on w), n_total = Σ count(w) — so they derive from
    // the vocab-sized checkpoint instead of each re-exploding the
    // corpus (3 documents scans in the executed plan before). The
    // stream-shaped builder `cmsSketch` stays as the ingest/merge
    // surface (spec-covered); the sketch TABLE here is identical.
    val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint()
    val sketch = exact
      .select(col("true_cnt"), explode(expr(
        s"transform(sequence(0, ${CMS_DEPTH - 1}), i -> " +
          s"struct(i AS i, pmod(xxhash64(i, w), $CMS_WIDTH) AS h))")).as("c"))
      .groupBy(col("c.i"), col("c.h"))
      .agg(sum(col("true_cnt")).as("cnt"))
    val total = exact.agg(sum(col("true_cnt")).as("n_total"))
    val probes = exact
      .select(col("w"), col("true_cnt"), explode(expr(
        s"transform(sequence(0, ${CMS_DEPTH - 1}), i -> " +
          s"struct(i AS i, pmod(xxhash64(i, w), $CMS_WIDTH) AS h))")).as("c"))
      .select(col("w"), col("true_cnt"), col("c.i").as("i"), col("c.h").as("h"))
    probes
      .join(sketch, Seq("i", "h"))
      .groupBy(col("w"), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .crossJoin(broadcast(total))
      // inline tripwire: at WIDTH ≥ 8× vocabulary the sketch is
      // collision-free, so est == true exactly (the universal CMS
      // guarantee est ≥ true is subsumed; the collision regime where
      // only ≥ holds is spec-covered at WIDTH=8).
      .filter(when(col("est_cnt") === col("true_cnt"), lit(true))
        .otherwise(raise_error(concat(
          lit("q144 CMS estimate diverged for token "), col("w"),
          lit(": est "), col("est_cnt"), lit(" true "), col("true_cnt")))))
      .select(col("w").as("word"), col("true_cnt"), col("est_cnt"))
      .orderBy(desc("true_cnt"), col("word"))
      .limit(20)
  }

  /** Replays the exactness invariant the in-query tripwire enforces:
    * at WIDTH ≥ 8× vocabulary est == true, so the oracle's est_cnt IS
    * the exact count. */
  val o144 = """
    WITH toks AS (
      SELECT t.w FROM documents, unnest(string_split(text, ' ')) t(w)
      WHERE t.w <> ''),
    ex AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt
           FROM toks GROUP BY w)
    SELECT w AS word, true_cnt, true_cnt AS est_cnt
    FROM ex ORDER BY true_cnt DESC, word LIMIT 20"""

  /** q94: cross-source contamination matrix — for every source pair
    * with any verbatim SPAN-token overlap, the number of distinct
    * shared spans and the Jaccard of the two span vocabularies ("how
    * much does source A duplicate source B" — the provenance-level
    * complement of q79's per-document links). Zero-overlap pairs are
    * absent by construction (inner join). */
  def q94SourceOverlap(s: SparkSession, d: String): DataFrame = {
    // The distinct span vocabulary feeds three consumers (both
    // self-join sides and the per-source sizes); materialize it once —
    // ReuseExchange only covers the identical a/b subtrees, the sizes
    // aggregate was re-deriving the whole explode+distinct chain.
    val spans = documents(s, d)
      .select(col("source"), explode(
        graft.functions.ShingleSet.shingle_set(col("text"), Dedup.SPAN))
        .as("span"))
      .select(col("source"),
        expr("cast(conv(substr(md5(span),1,15),16,10) as bigint)").as("h"))
      .distinct() // per-source span vocabulary
      .repartition(shufflePartitions(s), col("h"))
      .localCheckpoint()
    val sizes = spans.groupBy(col("source")).agg(count(lit(1)).as("n"))
    spans.as("a")
      .join(spans.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.as("sa")), col("src_a") === col("sa.source"))
      .join(broadcast(sizes.as("sb")), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast("double")
          / (col("sa.n") + col("sb.n") - col("n_shared"))).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val o94 = s"""
    WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
    spans AS (
      SELECT DISTINCT source,
        ('0x' || substr(md5(array_to_string(tk[i:i+${Dedup.SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM t, unnest(range(1, len(tk) - ${Dedup.SPAN - 2})) u(i)
      WHERE len(tk) >= ${Dedup.SPAN}),
    sizes AS (SELECT source, COUNT(*) AS n FROM spans GROUP BY source),
    ov AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM spans a JOIN spans b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2)
    SELECT o.src_a, o.src_b, o.n_shared,
      o.n_shared::DOUBLE / (sa.n + sb.n - o.n_shared) AS jaccard
    FROM ov o JOIN sizes sa ON sa.source = o.src_a
              JOIN sizes sb ON sb.source = o.src_b
    ORDER BY src_a, src_b"""

  // ---- q116: distribution drift between sources (chi-square) ----

  /** q116: pairwise language-distribution drift across corpus sources —
    * the monitoring primitive that answers "did crawl B's language mix
    * shift vs crawl A's?". Distance is the symmetric chi-square
    * χ²(P,Q) = Σ_lang (p−q)²/(p+q) over language shares, chosen over
    * KL divergence DELIBERATELY: it needs no logarithms (ln is not
    * bit-identical across libms, division is), so the result
    * hash-matches cross-engine from integer counts alone.
    *
    * Scale shape: the corpus reduces to |sources|×|langs| counts in one
    * map-side-combined agg; everything pairwise happens on that tiny
    * table (broadcast self-join). At 100 TB the data pass is one scan
    * emitting a few hundred partial counters per partition. */
  def q116SourceDrift(s: SparkSession, d: String): DataFrame = {
    // |sources|×|langs| counts materialized ONCE (r16): totals, the
    // lang-distinct grid and the densify join each re-ran the corpus
    // aggregate otherwise (6 documents scans in the executed plan).
    val counts = documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val totals = counts.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    // Densify to the full source×lang grid so a language exclusive to
    // one source contributes its (p−0)²/(p+0) term instead of silently
    // dropping out of the join. broadcast() pins the |langs|-row side
    // as BroadcastNestedLoopJoin by intent (AQE chose it anyway; the
    // annotation makes the tiny×tiny shape explicit in the plan).
    val shares = totals.crossJoin(broadcast(counts.select(col("lang")).distinct()))
      .join(counts, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"),
        (coalesce(col("cnt"), lit(0L)).cast("double") / col("tot")).as("p"))
    val a = shares.withColumnsRenamed(Map("source" -> "source_x", "p" -> "pa"))
    val b = shares.withColumnsRenamed(Map("source" -> "source_y", "p" -> "pb"))
    a.join(b, Seq("lang"))
      .filter(col("source_x") < col("source_y"))
      .filter(col("pa") + col("pb") > 0)
      .groupBy(col("source_x"), col("source_y"))
      .agg(round(sum((col("pa") - col("pb")) * (col("pa") - col("pb"))
        / (col("pa") + col("pb"))), 6).as("chi2"))
      .orderBy(col("source_x"), col("source_y"))
  }

  val o116 = """
    WITH c AS (SELECT source, lang, COUNT(*) AS cnt FROM documents
               GROUP BY source, lang),
    t AS (SELECT source, SUM(cnt) AS tot FROM c GROUP BY source),
    l AS (SELECT DISTINCT lang FROM c),
    sh AS (
      SELECT t.source, l.lang,
        CAST(COALESCE(c.cnt, 0) AS DOUBLE) / t.tot AS p
      FROM t CROSS JOIN l
      LEFT JOIN c ON c.source = t.source AND c.lang = l.lang),
    pr AS (
      SELECT a.source AS source_x, b.source AS source_y, a.lang,
        a.p AS pa, b.p AS pb
      FROM sh a JOIN sh b ON a.lang = b.lang
      WHERE a.source < b.source AND a.p + b.p > 0)
    SELECT source_x, source_y,
      ROUND(SUM((pa - pb) * (pa - pb) / (pa + pb)), 6) AS chi2
    FROM pr GROUP BY source_x, source_y ORDER BY source_x, source_y"""

  // ---- q238: dataset card (corpus datasheet in one query) ----

  /** q238: the dataset card — the one-table corpus datasheet a
    * training run's data config records: document/token/char/vocab
    * masses, source and language counts, exact-duplicate rate, token
    * extremes, and mean lexical diversity, as a tall (metric, value)
    * ledger of exact integers. Datasheets-for-datasets made a query:
    * at 100 TB this is the nightly artifact a data lead reads, and
    * every number is reproducible because each is an exact count or an
    * integral division of exact counts.
    *
    * Scale shape: two corpus passes (one row-local per-doc pass, one
    * token-explode for the vocabulary), each collapsing map-side to a
    * handful of rows; the exact-dup census groups 16-byte md5
    * fingerprints, never text. The tall UNION is 11 rows. */
  def q238DatasetCard(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d).select(
      col("doc_id"), col("source"), col("lang"),
      md5(col("text")).as("fp"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      length(col("text")).cast("long").as("n_chr"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_dis"))
    val base = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      sum(col("n_chr")).as("n_chars"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("fp")).as("n_distinct_docs"),
      min(col("n_tok")).as("min_doc_tokens"),
      max(col("n_tok")).as("max_doc_tokens"),
      expr("sum(n_dis * 1000000L div n_tok) div count(1)")
        .as("mean_ttr_ppm"))
    val vocab = documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")).as("vocab_size"))
    val card = base.crossJoin(broadcast(vocab))
      .withColumn("dup_doc_ppm",
        expr("(n_docs - n_distinct_docs) * 1000000L div n_docs"))
      .withColumn("mean_doc_tokens", expr("n_tokens div n_docs"))
    val metrics = Seq("n_docs", "n_tokens", "n_chars", "n_sources",
      "n_langs", "vocab_size", "dup_doc_ppm", "mean_doc_tokens",
      "min_doc_tokens", "max_doc_tokens", "mean_ttr_ppm")
    // ONE pass into the tall shape via stack() — a per-metric
    // unionAll would re-run the whole card subplan (both corpus
    // aggregates) once per metric: measured 43 exchanges vs 4.
    card.select(expr(metrics
      .map(m => s"'$m', cast($m as long)")
      .mkString(s"stack(${metrics.size}, ", ", ", ")"))
      .as(Seq("metric", "value")))
      .orderBy(col("metric"))
  }

  val o238 = """
    WITH pd AS (
      SELECT doc_id, source, lang, md5(text) AS fp,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        CAST(length(text) AS BIGINT) AS n_chr,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis
      FROM documents),
    base AS (
      SELECT COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens,
        SUM(n_chr) AS n_chars,
        COUNT(DISTINCT source) AS n_sources,
        COUNT(DISTINCT lang) AS n_langs,
        COUNT(DISTINCT fp) AS n_distinct_docs,
        MIN(n_tok) AS min_doc_tokens, MAX(n_tok) AS max_doc_tokens,
        SUM(n_dis * 1000000 // n_tok) // COUNT(*) AS mean_ttr_ppm
      FROM pd),
    v AS (
      SELECT COUNT(DISTINCT t) AS vocab_size
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
    card AS (
      SELECT base.*, v.vocab_size,
        (n_docs - n_distinct_docs) * 1000000 // n_docs AS dup_doc_ppm,
        n_tokens // n_docs AS mean_doc_tokens
      FROM base, v)
    SELECT metric, CAST(value AS BIGINT) AS value FROM (
      SELECT 'n_docs' AS metric, n_docs AS value FROM card
      UNION ALL SELECT 'n_tokens', n_tokens FROM card
      UNION ALL SELECT 'n_chars', n_chars FROM card
      UNION ALL SELECT 'n_sources', n_sources FROM card
      UNION ALL SELECT 'n_langs', n_langs FROM card
      UNION ALL SELECT 'vocab_size', vocab_size FROM card
      UNION ALL SELECT 'dup_doc_ppm', dup_doc_ppm FROM card
      UNION ALL SELECT 'mean_doc_tokens', mean_doc_tokens FROM card
      UNION ALL SELECT 'min_doc_tokens', min_doc_tokens FROM card
      UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM card
      UNION ALL SELECT 'mean_ttr_ppm', mean_ttr_ppm FROM card)
    ORDER BY metric"""

  // ---- q291: bottom-k (KMV) cardinality sketch, exact-verified ----

  /** Sketch size for q291. Relative error of the KMV estimator is
    * ~1/√(k−2) ≈ 12.7% at k=64; the tripwire below fences 4σ. */
  val KMV_K = 64

  /** q291: per-source distinct-SHINGLE cardinality via the BOTTOM-K
    * (KMV / k-minimum-values) sketch — the third cardinality estimator
    * beside exact countDistinct (q13) and HLL (q49/q90), and the one
    * that is fully HASH-CHECKABLE cross-engine: the sketch state is
    * just the k smallest distinct 60-bit hashes, so DuckDB can replay
    * the estimator bit-for-bit (est = (k−1)·2⁶⁰ div kth-min,
    * Bar-Yossef et al. 2002) — no engine-private register layout like
    * HLL's. The estimated universe is the dedup-family one: distinct
    * 3-gram shingles per source (the q40/q79 `ShingleSet` tokenizer) —
    * the cardinality a near-dup index planner actually sizes against
    * (raw-token vocabulary is both tiny and the wrong unit). Output
    * keeps the exact distinct count alongside the estimate with
    * err_ppm (sketch-calibration audit, q232 stance) and a 4σ
    * raise_error tripwire (σ ≈ 1/√(k−2)).
    *
    * Scale shape: shingling is row-local (codegen ShingleSet), then one
    * (source, hash) distinct (the hash dedupe IS the KMV contract —
    * collisions merge by design), then the custom TopKPerGroup plan
    * (map-side k-bounded heaps + clustered merge, the q52 node) keeps
    * only k rows per source — the shingle universe never sorts
    * globally; the exact count rides the same distinct. A source with
    * < k distinct hashes degenerates to est = exact by rule in both
    * engines. */
  def q291BottomkDistinct(s: SparkSession, d: String): DataFrame = {
    val hh = documents(s, d)
      .select(col("source"),
        graft.functions.ShingleSet.shingle_set(col("text")).as("sgs"))
      .select(col("source"), explode(col("sgs")).as("sg"))
      .select(col("source"),
        expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)").as("h"))
      .distinct()
    val exact = hh.groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    val bottomK = graft.plans.TopKPerGroup(
        hh, groupCols = Seq("source"), sortCols = Seq("h" -> false), k = KMV_K)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
    exact.join(bottomK, Seq("source"))
      .withColumn("est", expr(
        s"case when n_sketch < $KMV_K then n_sketch " +
        s"else cast(cast($KMV_K - 1 as decimal(38,0)) " +
        s"* 1152921504606846976 div kth_hash as bigint) end"))
      .withColumn("err_ppm", expr(
        "abs(est - n_distinct) * 1000000 div n_distinct"))
      .select(col("source"), col("n_distinct"), col("n_sketch"),
        col("kth_hash"), col("est"),
        // 4σ fence: k=64 ⇒ σ≈12.7% ⇒ trip beyond 508000 ppm — a miss
        // this wide means the estimator (not the data) is broken.
        expr("""case when err_ppm > 508000
             then cast(raise_error(concat('q291: KMV error beyond 4 sigma: ',
               cast(err_ppm as string))) as bigint)
             else err_ppm end""").as("err_ppm"))
      .orderBy(col("source"))
  }

  val o291: String = s"""
    WITH sg AS (
      SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
      FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
           , unnest(range(1, len(t) - 1)) u(i)
      WHERE len(t) >= 3),
    hh AS (
      SELECT DISTINCT source,
        ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
      FROM sg),
    bk AS (
      SELECT source, h,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM hh),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sketch,
        CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM bk WHERE rn <= $KMV_K GROUP BY source),
    ex AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM hh GROUP BY source),
    est AS (
      SELECT source, n_distinct, n_sketch, kth_hash,
        CAST(CASE WHEN n_sketch < $KMV_K THEN n_sketch
          ELSE CAST($KMV_K - 1 AS HUGEINT)
            * 1152921504606846976 // kth_hash END AS BIGINT) AS est
      FROM ex JOIN agg USING (source))
    SELECT source, n_distinct, n_sketch, kth_hash, est,
      CAST(CASE WHEN abs(est - n_distinct) * 1000000 // n_distinct > 508000
        THEN error('q291: KMV error beyond 4 sigma')
        ELSE abs(est - n_distinct) * 1000000 // n_distinct END AS BIGINT)
        AS err_ppm
    FROM est ORDER BY source"""

  // ---- q297: exact 1-D Wasserstein (earth-mover) drift per source ----

  /** q297: WASSERSTEIN-1 distance between each source's document-length
    * distribution and the pooled corpus — the transport-cost drift
    * ranking, complementing q116's χ² (which is support-overlap-blind:
    * χ² cannot say a source is "long-doc shifted by 40 tokens", W1
    * can). In 1-D, W1 has the exact closed form
    * ∫|F_s(v) − F_pool(v)| dv; over an integer-valued variable that is
    * a FINITE SUM over the observed value grid — no transport solver,
    * no floats: w1_micro = 10⁶·Σ_i |cumS_i·N − cumG_i·n_s|·Δv_i
    * div (n_s·N), all int64/decimal products of counts.
    *
    * Scale shape: one (source, n_tok) count aggregate, densified to
    * the |sources|×|distinct values| grid (domain-bounded ledger, the
    * q116 stance), cumulatives via per-source windows ORDER BY value
    * over that ledger — never a per-document sort. */
  def q297Wasserstein(s: SparkSession, d: String): DataFrame = {
    // ONE corpus aggregate; every other frame (grid, cumulatives,
    // totals) derives from this domain-bounded ledger — materialized
    // so no branch re-plans the scan (the q287 exchange lesson)
    val cnt = documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vals = cnt.select(col("v")).distinct()
    val grid = cnt.select(col("source")).distinct()
      .crossJoin(broadcast(vals))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wCum = Window.partitionBy(col("source")).orderBy(col("v"))
    val wNext = Window.partitionBy(col("source")).orderBy(col("v"))
    val nTot = cnt.agg(sum(col("c")).as("nn"))
    val nSrc = cnt.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    // the global CDF window runs over the ≤|distinct lengths| ledger —
    // the allowed single-partition-window shape (domain-bounded)
    val gCum = cnt.groupBy(col("v")).agg(sum(col("c")).as("cg"))
      .withColumn("cumg", sum(col("cg")).over(Window.orderBy(col("v"))))
      .select(col("v"), col("cumg"))
    grid
      .withColumn("cums", sum(col("c")).over(wCum))
      .withColumn("dv", lead(col("v"), 1).over(wNext) - col("v"))
      .filter(col("dv").isNotNull) // the last grid point carries no mass gap
      .join(broadcast(gCum), Seq("v"))
      .join(broadcast(nSrc), Seq("source"))
      .crossJoin(broadcast(nTot))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"), max(col("nn")).as("nn"),
        // decimal(38,0) accumulation (the q286 stance): n_docs²·Σdv can
        // approach 2⁶³ at web scale, where DuckDB's hugeint SUM would
        // keep going while an int64 sum here silently wraps
        sum((abs(col("cums").cast("decimal(38,0)") * col("nn") -
            col("cumg").cast("decimal(38,0)") * col("ns"))
          * col("dv")).cast("decimal(38,0)")).as("num"))
      .select(col("source"), col("n_docs"),
        expr("num * 1000000 div (n_docs * nn)").as("w1_micro"))
      .orderBy(col("source"))
  }

  val o297: String = """
    WITH docs AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      FROM documents),
    cnt AS (
      SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM docs GROUP BY 1, 2),
    grid AS (
      SELECT s.source, vals.v, COALESCE(c, 0) AS c
      FROM (SELECT DISTINCT source FROM cnt) s
      CROSS JOIN (SELECT DISTINCT v FROM cnt) vals
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.v = vals.v),
    gcum AS (
      SELECT v, SUM(SUM(c)) OVER (ORDER BY v) AS cumg
      FROM grid GROUP BY v),
    scum AS (
      SELECT source, v, SUM(c) OVER w AS cums,
        lead(v) OVER w - v AS dv
      FROM grid WINDOW w AS (PARTITION BY source ORDER BY v)),
    ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM docs GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM docs)
    SELECT scum.source AS source, ns.ns AS n_docs,
      CAST(SUM(abs(cums * nn - cumg * ns.ns) * dv) * 1000000
        // (ns.ns * nn) AS BIGINT) AS w1_micro
    FROM scum
    JOIN gcum ON gcum.v = scum.v
    JOIN ns ON ns.source = scum.source
    CROSS JOIN nn
    WHERE dv IS NOT NULL
    GROUP BY 1, 2, nn ORDER BY source"""

  // ---- q301: KMV sketch MERGE — pairwise vocabulary overlap ----

  /** q301: the property that makes sketches worth shipping — MERGE:
    * pairwise source-vocabulary union/intersection/Jaccard estimated
    * from the per-source q291 bottom-k sketches ALONE (k smallest
    * hashes of A ∪ B = k smallest of bottomk(A) ∪ bottomk(B), and for
    * any hash under that cut, membership in A is decidable from A's
    * sketch because kth(A∪B) ≤ kth(A)) — no second corpus pass, the
    * exact union/intersection computed alongside as the calibration
    * audit (q291/q232 stance) with the same 4σ union fence. The
    * intersection estimator is the matched-fraction form:
    * est∩ = matched·est∪ div min(k, |merged|); a merged set smaller
    * than k IS the whole union, so the estimate degenerates to exact
    * by rule in both engines.
    *
    * Scale shape: sketches are k rows per source (the TopKPerGroup
    * heap output); every pair frame is ≤|sources|²·2k ledger rows.
    * The exact side is the q94-shape hash-equi self-join over the
    * per-source distinct-hash sets — the audit, not the scale path. */
  def q301KmvOverlap(s: SparkSession, d: String): DataFrame = {
    val hh = documents(s, d)
      .select(col("source"),
        graft.functions.ShingleSet.shingle_set(col("text")).as("sgs"))
      .select(col("source"), explode(col("sgs")).as("sg"))
      .select(col("source"),
        expr("cast(conv(substr(md5(sg), 1, 15), 16, 10) as bigint)").as("h"))
      .distinct()
      .localCheckpoint()
    val bk = graft.plans.TopKPerGroup(hh, groupCols = Seq("source"),
      sortCols = Seq("h" -> false), k = KMV_K)
      .localCheckpoint()
    val srcs = bk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(broadcast(srcs.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    // merged sketch rows, tagged with which side's sketch holds each hash
    val merged = pairs
      .join(bk.select(col("source").as("sa"), col("h")), Seq("sa"))
      .withColumn("ta", lit(1L)).withColumn("tb", lit(0L))
      .unionAll(pairs
        .join(bk.select(col("source").as("sb"), col("h")), Seq("sb"))
        .select(col("sa"), col("sb"), col("h"))
        .withColumn("ta", lit(0L)).withColumn("tb", lit(1L)))
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(col("ta")).as("ina"), max(col("tb")).as("inb"))
    val wRank = Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))
    val sk = merged
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= KMV_K)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("m"), max(col("h")).as("kth"),
        sum(col("ina") * col("inb")).as("matched"))
      .withColumn("est_union", expr(
        s"case when m < $KMV_K then m " +
        s"else cast(cast($KMV_K - 1 as decimal(38,0)) " +
        s"* 1152921504606846976 div kth as bigint) end"))
      .withColumn("est_inter",
        expr("matched * est_union div m"))
      .withColumn("jacc_est_ppm", expr("matched * 1000000 div m"))
    // exact audit: per-source set sizes + pairwise hash intersection
    val sizes = hh.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val inter = hh.select(col("source").as("sa"), col("h"))
      .join(hh.select(col("source").as("sb"), col("h")), Seq("h"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("ni"))
    sk
      .join(broadcast(sizes.select(col("source").as("sa"), col("nd").as("na"))),
        Seq("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("nd").as("nb"))),
        Seq("sb"))
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("n_inter", coalesce(col("ni"), lit(0L)))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_union"), col("est_union"), col("n_inter"), col("est_inter"),
        col("jacc_est_ppm"),
        // same 4σ fence as q291 — a union estimate this far off means
        // the merge logic (not the data) broke
        expr("""case when abs(est_union - n_union) * 1000000 div n_union > 508000
             then cast(raise_error(concat('q301: KMV union error beyond 4 sigma: ',
               cast(abs(est_union - n_union) * 1000000 div n_union as string))) as bigint)
             else abs(est_union - n_union) * 1000000 div n_union end""")
          .as("err_union_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val o301: String = s"""
    WITH sg AS (
      SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
      FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
           , unnest(range(1, len(t) - 1)) u(i)
      WHERE len(t) >= 3),
    hh AS (
      SELECT DISTINCT source,
        ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
      FROM sg),
    bk AS (
      SELECT source, h FROM (
        SELECT source, h,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hh) WHERE rn <= $KMV_K),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM (SELECT DISTINCT source FROM bk) a
      JOIN (SELECT DISTINCT source FROM bk) b ON a.source < b.source),
    merged AS (
      SELECT sa, sb, h, MAX(ta) AS ina, MAX(tb) AS inb
      FROM (
        SELECT pairs.sa, pairs.sb, bk.h, 1 AS ta, 0 AS tb
        FROM pairs JOIN bk ON bk.source = pairs.sa
        UNION ALL
        SELECT pairs.sa, pairs.sb, bk.h, 0, 1
        FROM pairs JOIN bk ON bk.source = pairs.sb)
      GROUP BY 1, 2, 3),
    sk AS (
      SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS m,
        CAST(MAX(h) AS BIGINT) AS kth,
        CAST(SUM(ina * inb) AS BIGINT) AS matched
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
        FROM merged)
      WHERE rk <= $KMV_K GROUP BY 1, 2),
    est AS (
      SELECT sa, sb, matched,
        CAST(CASE WHEN m < $KMV_K THEN m
          ELSE CAST($KMV_K - 1 AS HUGEINT)
            * 1152921504606846976 // kth END AS BIGINT) AS est_union,
        CAST(matched * CASE WHEN m < $KMV_K THEN m
          ELSE CAST($KMV_K - 1 AS HUGEINT)
            * 1152921504606846976 // kth END // m AS BIGINT)
          AS est_inter,
        CAST(matched * 1000000 // m AS BIGINT) AS jacc_est_ppm
      FROM sk),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM hh GROUP BY 1),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ni
      FROM hh a JOIN hh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2)
    SELECT est.sa AS source_a, est.sb AS source_b,
      CAST(za.nd + zb.nd - COALESCE(ni, 0) AS BIGINT) AS n_union,
      est_union,
      CAST(COALESCE(ni, 0) AS BIGINT) AS n_inter, est_inter, jacc_est_ppm,
      CAST(CASE WHEN abs(est_union - (za.nd + zb.nd - COALESCE(ni, 0)))
          * 1000000 // (za.nd + zb.nd - COALESCE(ni, 0)) > 508000
        THEN error('q301: KMV union error beyond 4 sigma')
        ELSE abs(est_union - (za.nd + zb.nd - COALESCE(ni, 0)))
          * 1000000 // (za.nd + zb.nd - COALESCE(ni, 0)) END AS BIGINT)
        AS err_union_ppm
    FROM est
    JOIN sizes za ON za.source = est.sa
    JOIN sizes zb ON zb.source = est.sb
    LEFT JOIN inter ON inter.sa = est.sa AND inter.sb = est.sb
    ORDER BY source_a, source_b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_kmv_overlap"      -> (q301KmvOverlap _),
    "q297_wasserstein"      -> (q297Wasserstein _),
    "q291_bottomk_distinct" -> (q291BottomkDistinct _),
    "q116_source_drift" -> (q116SourceDrift _),
    "q94_source_overlap" -> (q94SourceOverlap _),
    "q95_heavy_hitters"  -> (q95HeavyHitters _),
    "q144_cms_point_queries" -> (q144CmsPointQueries _),
    "q238_dataset_card"  -> (q238DatasetCard _))

  val oracles: Map[String, String] = Map(
    "q301_kmv_overlap"      -> o301,
    "q297_wasserstein"      -> o297,
    "q291_bottomk_distinct" -> o291,
    "q94_source_overlap" -> o94,
    "q95_heavy_hitters"  -> o95,
    "q144_cms_point_queries" -> o144,
    "q116_source_drift"  -> o116,
    "q238_dataset_card"  -> o238)
}
