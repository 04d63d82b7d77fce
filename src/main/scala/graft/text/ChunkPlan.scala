package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Corpus planning primitives (q190, q191): exact largest-remainder
  * quota apportionment across sources, and the overlapping sliding-
  * window chunk plan a pretraining/RAG tokenizer stage executes.
  *
  * Both are pure integer arithmetic end-to-end — apportionment and
  * chunk boundaries are exactly the kind of computation that must not
  * drift between the planning engine and the executing tokenizer. */
object ChunkPlan {

  // ---- q190: largest-remainder quota apportionment ----

  /** Global sampling budget (documents) to split across sources. */
  val QUOTA_BUDGET = 10000L

  /** q190: apportion a global sample budget across sources proportional
    * to their character mass, by largest remainder (Hamilton method):
    * floor quotas first, then the leftover units go to the largest
    * fractional remainders (ties broken by source name). Guarantees
    * Σquota = budget exactly — the property float-proportional rounding
    * violates, and the reason mixture samplers drift off their spec.
    *
    * Scale shape: the corpus collapses to one row per source (map-side
    * combined sum), the global mass is a 1-row broadcast, and the
    * remainder ranking is a window over |sources| rows — domain-bounded,
    * like the house's other post-aggregate windows (never over data-
    * sized input). Weights are multiplied as DECIMAL(38,0): w·budget
    * overflows int64 once Σchars crosses ~1e15 (true at 100 TB). */
  def q190QuotaAlloc(s: SparkSession, d: String): DataFrame = {
    val mass = documents(s, d).groupBy(col("source"))
      .agg(sum(col("n_chars")).as("w"))
    val tot = mass.agg(sum(col("w")).as("tw"))
    val ranked = mass.crossJoin(broadcast(tot))
      .select(col("source"), col("w"),
        expr(s"cast((cast(w as decimal(38,0)) * $QUOTA_BUDGET) div tw as bigint)")
          .as("floor_q"),
        expr(s"cast((cast(w as decimal(38,0)) * $QUOTA_BUDGET) % tw as bigint)")
          .as("rem"))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("rem"), col("source"))))
    val short = ranked.agg((lit(QUOTA_BUDGET) - sum(col("floor_q")))
      .as("extra"))
    ranked.crossJoin(broadcast(short))
      .select(col("source"), col("w"),
        (col("floor_q") +
          when(col("rk") <= col("extra"), 1L).otherwise(0L)).as("quota"))
      .orderBy(col("source"))
  }

  val o190 = s"""
    WITH mass AS (
      SELECT source, SUM(n_chars) AS w FROM documents GROUP BY 1),
    ranked AS (
      SELECT source, w,
        CAST(w * $QUOTA_BUDGET // (SELECT SUM(w) FROM mass) AS BIGINT)
          AS floor_q,
        CAST(w * $QUOTA_BUDGET % (SELECT SUM(w) FROM mass) AS BIGINT)
          AS rem,
        row_number() OVER (ORDER BY
          w * $QUOTA_BUDGET % (SELECT SUM(w) FROM mass) DESC, source) AS rk
      FROM mass)
    SELECT source, CAST(w AS BIGINT) AS w,
      floor_q + CASE WHEN rk <= $QUOTA_BUDGET -
        (SELECT SUM(floor_q) FROM ranked) THEN 1 ELSE 0 END AS quota
    FROM ranked ORDER BY source"""

  // ---- q191: overlapping sliding-window chunk plan ----

  /** Chunk size and stride in tokens (overlap = CHUNK_C − CHUNK_S). */
  val CHUNK_C = 32
  val CHUNK_S = 24

  /** q191: the chunk plan a tokenizer stage executes — for each
    * document, every overlapping [start_tok, end_tok) window of size
    * CHUNK_C at stride CHUNK_S, the last chunk clamped to the document
    * end; short documents yield exactly one chunk. Chunk count is the
    * closed form 1 + ⌈max(0, n_tok − C) / S⌉, evaluated with integer
    * ceiling ((x + S − 1) div S) so plan and oracle agree exactly.
    *
    * Scale shape: row-local throughout — token count from one split,
    * the explode via `sequence()` is generate-side (no shuffle, no
    * window); output size is Θ(corpus tokens / stride), the same order
    * as the tokenizer's own output. A 100 TB corpus chunks in one
    * embarrassingly-parallel map stage. */
  def q191ChunkPlan(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("n_chunks",
        expr(s"1L + (greatest(n_tok - ${CHUNK_C}L, 0L) + ${CHUNK_S - 1}L)" +
          s" div ${CHUNK_S}L"))
      .select(col("doc_id"), col("n_tok"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("n_tok"), col("n_chunks"), col("chunk_idx"),
        (col("chunk_idx") * CHUNK_S).as("start_tok"),
        least(col("chunk_idx") * CHUNK_S + CHUNK_C, col("n_tok"))
          .as("end_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val o191 = s"""
    SELECT doc_id, n_tok, n_chunks, chunk_idx,
      chunk_idx * $CHUNK_S AS start_tok,
      least(chunk_idx * $CHUNK_S + $CHUNK_C, n_tok) AS end_tok
    FROM (
      SELECT doc_id, n_tok, n_chunks,
        unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          1 + (greatest(n_tok - $CHUNK_C, 0) + ${CHUNK_S - 1}) // $CHUNK_S
            AS n_chunks
        FROM documents))
    ORDER BY doc_id, chunk_idx"""

  // ---- q221: temperature-scaled mixture allocation (α = 0.5) ----

  /** Sample budget apportioned under the α-temperature recipe. */
  val TEMP_BUDGET = 10000L

  /** q221: temperature-scaled source mixture — the mT5/XLM-R recipe
    * p_s ∝ m_s^α with α = 0.5, which upsamples low-resource sources
    * relative to proportional allocation (q190 is the α = 1 member).
    * α = 0.5 means w_s = √m_s — and sqrt is IEEE-754 correctly rounded
    * in BOTH engines, so the single permitted float step is exact;
    * it is immediately quantized to 1e-6 fixed point at the ROW level
    * (the q63/q205 stance), and everything after — the largest-remainder
    * apportionment over w6, the boost-vs-proportional ratio in ppm —
    * is integer/decimal arithmetic. A double Σw would instead cross the
    * engines with order-dependent low bits and flip remainder ranks.
    *
    * Scale shape: q190's — one map-side-combined per-source aggregate,
    * a 1-row broadcast total, and a |sources|-row remainder window. */
  def q221TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val mass = documents(s, d).groupBy(col("source"))
      .agg(expr("sum(cast(size(split(text, ' ')) as bigint))").as("m"))
      .withColumn("w6",
        expr("cast(round(sqrt(cast(m as double)) * 1000000) as bigint)"))
    val tot = mass.agg(sum(col("w6")).as("tw"), sum(col("m")).as("tm"))
    val ranked = mass.crossJoin(broadcast(tot))
      .select(col("source"), col("m"), col("w6"), col("tm"),
        expr(s"cast((cast(w6 as decimal(38,0)) * $TEMP_BUDGET) div tw as bigint)")
          .as("floor_q"),
        expr(s"cast((cast(w6 as decimal(38,0)) * $TEMP_BUDGET) % tw as bigint)")
          .as("rem"))
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("rem"), col("source"))))
    val short = ranked.agg((lit(TEMP_BUDGET) - sum(col("floor_q")))
      .as("extra"))
    ranked.crossJoin(broadcast(short))
      .select(col("source"), col("m"),
        (col("floor_q") +
          when(col("rk") <= col("extra"), 1L).otherwise(0L)).as("quota"),
        col("tm"))
      // boost vs proportional: quota/budget ÷ m/Σm in exact ppm —
      // > 1e6 exactly on the sources temperature upsamples
      .withColumn("boost_ppm", expr(
        s"cast((cast(quota as decimal(38,0)) * tm * 1000000)" +
          s" div (cast($TEMP_BUDGET as decimal(38,0)) * m) as bigint)"))
      .select(col("source"), col("m"), col("quota"), col("boost_ppm"))
      .orderBy(col("source"))
  }

  val o221 = s"""
    WITH mass AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
      FROM documents GROUP BY 1),
    wq AS (
      SELECT source, m,
        CAST(ROUND(sqrt(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS w6
      FROM mass),
    ranked AS (
      SELECT source, m, w6,
        CAST(w6 * $TEMP_BUDGET // (SELECT SUM(w6) FROM wq) AS BIGINT)
          AS floor_q,
        CAST(w6 * $TEMP_BUDGET % (SELECT SUM(w6) FROM wq) AS BIGINT) AS rem,
        row_number() OVER (ORDER BY
          w6 * $TEMP_BUDGET % (SELECT SUM(w6) FROM wq) DESC, source) AS rk
      FROM wq)
    SELECT source, m,
      floor_q + CASE WHEN rk <= $TEMP_BUDGET -
        (SELECT SUM(floor_q) FROM ranked) THEN 1 ELSE 0 END AS quota,
      CAST((CAST(floor_q + CASE WHEN rk <= $TEMP_BUDGET -
          (SELECT SUM(floor_q) FROM ranked) THEN 1 ELSE 0 END AS HUGEINT)
        * (SELECT SUM(m) FROM mass) * 1000000)
        // (CAST($TEMP_BUDGET AS HUGEINT) * m) AS BIGINT) AS boost_ppm
    FROM ranked ORDER BY source"""

  // ---- q225: deterministic epoch shuffle + batch ledger ----

  /** Epochs generated and docs per training batch for q225. */
  val SHUFFLE_EPOCHS = 2
  val BATCH_DOCS = 64L

  /** q225: deterministic per-epoch global shuffle and batch assignment —
    * the training-order generator: every epoch e permutes the corpus by
    * the keyed hash md5(e || ':' || doc_id) (a different, reproducible
    * permutation per epoch — reshuffle-each-epoch without any RNG
    * state), then consecutive runs of $BATCH_DOCS docs form the
    * micro-batches. The ledger emits one row per (epoch, batch): doc
    * and token counts, distinct sources (the mixing the shuffle is FOR),
    * and an md5 of the ordered doc_id list — the full permutation is
    * hash-attested, not just its shape.
    *
    * Scale shape: ordering by a hash key is the TeraSort shape — a
    * range exchange, the operator's intrinsic cost. Global positions
    * are NOT taken from a single-partition window: the first two hex
    * chars of the key form 256 ordered bands (monotone in key order),
    * positions are band-local row_numbers plus a broadcast 256-row
    * band-offset table — the q98 banded-prefix pattern, so every
    * exchange is key-ranged and parallel. Per-batch collapse is
    * batch-bounded. */
  /** Global shuffle positions for epochs 1..nEpochs over any frame
    * carrying `doc_id` — the banded-prefix position assignment q225
    * describes, factored out so consumers of the TRAINING ORDER (q231's
    * novelty curve) read the same permutation. Appends `epoch` and
    * `pos` (0-based within the epoch's permutation). */
  private[graft] def shufflePositions(docs0: DataFrame, nEpochs: Int)
      : DataFrame = {
    val docs = docs0
      .select(col("*"),
        explode(expr(s"sequence(1L, ${nEpochs}L)")).as("epoch"))
      .withColumn("k",
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      .withColumn("band", substring(col("k"), 1, 2))
    val wBand = Window.partitionBy(col("epoch"), col("band"))
      .orderBy(col("k"))
    val wOff = Window.partitionBy(col("epoch")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("epoch"), col("band"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("epoch"), col("band"), col("off"))
    docs
      .withColumn("pos_in", row_number().over(wBand).cast("long") - 1)
      .join(broadcast(offsets), Seq("epoch", "band"))
      .withColumn("pos", col("off") + col("pos_in"))
      .drop("k", "band", "off", "pos_in")
  }

  def q225EpochShuffle(s: SparkSession, d: String): DataFrame =
    shufflePositions(
      documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
      SHUFFLE_EPOCHS)
      .withColumn("batch_id", expr(s"pos div $BATCH_DOCS"))
      .groupBy(col("epoch"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("source")).as("n_src"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(named_struct('p', pos, 'id', doc_id))), x -> x.id)")))
          .as("ids_md5"))
      .orderBy(col("epoch"), col("batch_id"))

  val o225 = s"""
    WITH e AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        ep AS epoch, md5(ep || ':' || doc_id) AS k
      FROM documents, unnest(range(1, $SHUFFLE_EPOCHS + 1)) u(ep)),
    p AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k) - 1
        AS pos
      FROM e)
    SELECT epoch, pos // $BATCH_DOCS AS batch_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src,
      md5(string_agg(doc_id, ',' ORDER BY pos)) AS ids_md5
    FROM p GROUP BY epoch, pos // $BATCH_DOCS
    ORDER BY epoch, batch_id"""

  // ---- q231: novelty decay curve over the training order ----

  /** q231: per-batch n-gram novelty — as training consumes batches in
    * the q225 epoch-1 order, how fast does the corpus stop contributing
    * NEW 3-gram shingles? Each batch's ledger row carries its distinct
    * grams, the grams first seen in that batch, novelty ppm, and the
    * cumulative vocabulary share — the empirical diminishing-returns
    * curve that motivates q224's geometric epoch decay: when
    * novelty_ppm flattens, additional data from the same pool is
    * repetition, and the budget should widen sources instead.
    *
    * Scale shape: grams are row-local (codegen ShingleSet); the
    * first-batch attribution is ONE min-aggregate keyed on the gram
    * (map-side combined — the dedup exchange); per-batch rollups and
    * the cumulative window run over the |batches|-sized ledger. The
    * ordering reuses q225's banded-prefix positions — no global
    * single-partition window anywhere. */
  def q231NoveltyCurve(s: SparkSession, d: String): DataFrame = {
    val ordered = shufflePositions(
      documents(s, d).select(col("doc_id"), col("text")), 1)
      .withColumn("batch_id", expr(s"pos div $BATCH_DOCS"))
    // materialized once: fb aggregates FROM bg and the per-batch join
    // reads it again — without the checkpoint the distinct (and the
    // whole position assignment under it) runs twice (23 exchanges
    // measured vs 8)
    val bg = ordered
      .select(col("batch_id"),
        explode(graft.functions.ShingleSet.shingle_set(col("text")))
          .as("sg"))
      .distinct()
      .localCheckpoint()
    val fb = bg.groupBy(col("sg")).agg(min(col("batch_id")).as("first_batch"))
    val perBatch = bg.join(fb, Seq("sg"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("distinct_grams"),
        count(when(col("first_batch") === col("batch_id"), lit(1)))
          .as("novel_grams"))
    val wCum = Window.orderBy(col("batch_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val vocab = fb.agg(count(lit(1)).as("vocab"))
    perBatch.crossJoin(broadcast(vocab))
      .withColumn("novelty_ppm",
        expr("novel_grams * 1000000L div distinct_grams"))
      .withColumn("cum_novel", sum(col("novel_grams")).over(wCum))
      .select(col("batch_id"), col("distinct_grams"), col("novel_grams"),
        col("novelty_ppm"),
        expr("cum_novel * 1000000L div vocab").as("cum_vocab_ppm"))
      .orderBy(col("batch_id"))
  }

  val o231 = s"""
    WITH p AS (
      SELECT doc_id, text,
        (ROW_NUMBER() OVER (ORDER BY md5('1:' || doc_id)) - 1)
          // $BATCH_DOCS AS batch_id
      FROM documents),
    sg AS (
      SELECT DISTINCT batch_id, doc_id,
        t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
      FROM (SELECT batch_id, doc_id, string_split(text, ' ') AS t FROM p)
           , unnest(range(1, len(t) - 1)) u(i)
      WHERE len(t) >= 3),
    bg AS (SELECT DISTINCT batch_id, sg FROM sg),
    fb AS (SELECT sg, MIN(batch_id) AS first_batch FROM bg GROUP BY sg),
    pb AS (
      SELECT b.batch_id,
        CAST(COUNT(*) AS BIGINT) AS distinct_grams,
        CAST(COUNT(*) FILTER (WHERE f.first_batch = b.batch_id) AS BIGINT)
          AS novel_grams
      FROM bg b JOIN fb f USING (sg) GROUP BY b.batch_id),
    v AS (SELECT COUNT(*) AS vocab FROM fb)
    SELECT batch_id, distinct_grams, novel_grams,
      novel_grams * 1000000 // distinct_grams AS novelty_ppm,
      CAST(SUM(novel_grams) OVER (ORDER BY batch_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        * 1000000 // vocab AS BIGINT) AS cum_vocab_ppm
    FROM pb, v ORDER BY batch_id"""

  // ---- q234: padding-waste audit (length-bucketed batching) ----

  /** q234: padding-waste comparison — every training batch pads its
    * sequences to the batch maximum, so batch COMPOSITION is compute:
    * this audit builds the same corpus into $BATCH_DOCS-doc batches two
    * ways — the q225 shuffled order (iid batches, maximal padding) and
    * length-ascending order (bucketed batching, the standard padding
    * cure) — and ledgers real vs padded tokens and waste ppm for each.
    * The delta is the throughput argument for length-bucketed batching,
    * with its known cost (intra-batch length correlation) left to the
    * q225 shuffle to argue the other side.
    *
    * Scale shape: both orders use banded-prefix positions — the shuffle
    * order via md5 bands (shufflePositions), the length order with the
    * LENGTH ITSELF as the monotone band (q98's trick: band-local
    * row_numbers + a ≤|distinct lengths|-row broadcast offset table).
    * Per-batch max/sum/count and the 2-row rollup are ledger-sized. */
  def q234PaddingAudit(s: SparkSession, d: String): DataFrame = {
    // materialized once: the (doc_id, n_tok) frame feeds the shuffled
    // ordering (scan + banded positions), the length-offset table AND
    // the by-length ordering — without the checkpoint each consumer
    // re-reads documents and re-tokenizes (20 exchanges measured vs 8)
    val docs = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .localCheckpoint()
    val shuffled = shufflePositions(docs, 1)
      .select(col("doc_id"), col("n_tok"), col("pos"))
    val wLen = Window.partitionBy(col("n_tok")).orderBy(col("doc_id"))
    val wOffL = Window.orderBy(col("n_tok"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = docs.groupBy(col("n_tok")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOffL), lit(0L)))
      .select(col("n_tok"), col("off"))
    val byLen = docs
      .withColumn("pos_in", row_number().over(wLen).cast("long") - 1)
      .join(broadcast(offs), Seq("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        (col("off") + col("pos_in")).as("pos"))
    def ledger(df: DataFrame, tag: String): DataFrame = df
      .withColumn("batch_id", expr(s"pos div $BATCH_DOCS"))
      .groupBy(col("batch_id"))
      .agg(max(col("n_tok")).as("mx"), sum(col("n_tok")).as("st"),
        count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("st")).as("real_tokens"),
        sum(col("mx") * col("n")).as("padded_tokens"))
      .select(lit(tag).as("strategy"), col("n_batches"),
        col("real_tokens"), col("padded_tokens"),
        expr("(padded_tokens - real_tokens) * 1000000L div padded_tokens")
          .as("waste_ppm"))
    ledger(shuffled, "shuffled")
      .unionAll(ledger(byLen, "length_bucketed"))
      .orderBy(col("strategy"))
  }

  val o234 = s"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    sh AS (
      SELECT n_tok, (ROW_NUMBER() OVER (ORDER BY md5('1:' || doc_id)) - 1)
        // $BATCH_DOCS AS batch_id
      FROM d),
    ln AS (
      SELECT n_tok, (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1)
        // $BATCH_DOCS AS batch_id
      FROM d),
    ls AS (
      SELECT 'shuffled' AS strategy, batch_id, MAX(n_tok) AS mx,
        SUM(n_tok) AS st, COUNT(*) AS n
      FROM sh GROUP BY batch_id),
    ll AS (
      SELECT 'length_bucketed' AS strategy, batch_id, MAX(n_tok) AS mx,
        SUM(n_tok) AS st, COUNT(*) AS n
      FROM ln GROUP BY batch_id),
    u AS (SELECT * FROM ls UNION ALL SELECT * FROM ll)
    SELECT strategy,
      CAST(COUNT(*) AS BIGINT) AS n_batches,
      CAST(SUM(st) AS BIGINT) AS real_tokens,
      CAST(SUM(mx * n) AS BIGINT) AS padded_tokens,
      CAST((SUM(mx * n) - SUM(st)) * 1000000 // SUM(mx * n) AS BIGINT)
        AS waste_ppm
    FROM u GROUP BY strategy ORDER BY strategy"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_quota_alloc" -> (q190QuotaAlloc _),
    "q191_chunk_plan"  -> (q191ChunkPlan _),
    "q221_temperature_mix" -> (q221TemperatureMix _),
    "q225_epoch_shuffle" -> (q225EpochShuffle _),
    "q231_novelty_curve" -> (q231NoveltyCurve _),
    "q234_padding_audit" -> (q234PaddingAudit _))

  val oracles: Map[String, String] = Map(
    "q190_quota_alloc" -> o190,
    "q191_chunk_plan"  -> o191,
    "q221_temperature_mix" -> o221,
    "q225_epoch_shuffle" -> o225,
    "q231_novelty_curve" -> o231,
    "q234_padding_audit" -> o234)
}
