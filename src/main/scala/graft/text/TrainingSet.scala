package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Training-set assembly operators — the stage AFTER curation (q78)
  * in an LLM data pipeline: pack the surviving text into fixed-length
  * training sequences, weight the source mixture, and decontaminate
  * against an evaluation set. Each is deterministic and oracle-checked.
  */
object TrainingSet {

  // ---- q83: sequence packing (concat-then-chunk) ----

  /** Tokens per training sequence. */
  val SEQ_BUDGET = 512L
  /** Documents per cumsum bucket (the two-phase global-prefix-sum
    * granularity; any value works — results are bucket-independent). */
  val PACK_BUCKET = 100L

  /** q83: concat-then-chunk sequence packing — documents are laid out
    * end-to-end in doc_id order and the token stream is cut into
    * SEQ_BUDGET-sized training sequences; the output maps each chunk
    * to the documents that contribute to it and with how many tokens
    * (what an attention-mask builder consumes downstream).
    *
    * The global running offset is THE scale hazard here: a naive
    * `Window.orderBy(doc_id)` cumsum is a single-partition window — one
    * task sees the whole corpus. Same cure as q64's stratified ranks:
    * per-bucket cumsums in parallel + a tiny per-bucket offset table
    * (one row per PACK_BUCKET docs) broadcast back. The bucket key
    * `doc_id div PACK_BUCKET` is a monotone function of the global
    * order, so bucket-local prefix + bucket offset == global prefix
    * exactly (asserted against the naive single-window formulation in
    * TrainingSetSpec). Chunk assignment is then row-local: a doc
    * spanning tokens [off, off+n) overlaps chunks off/B .. (off+n-1)/B,
    * exploded per doc — output size is n_docs + n_chunk_crossings, not
    * n_tokens. */
  /** Packing core over any (doc_id, n_tok) frame — the q83 machinery,
    * reused verbatim by the composed build (q86). Unsorted. */
  private[graft] def packSequences(in: DataFrame): DataFrame = {
    val docs = in.filter(col("n_tok") > 0)
      .withColumn("bkt", expr(s"doc_id div $PACK_BUCKET"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
    val within = docs
      .withColumn("cum_end_in", sum(col("n_tok")).over(wIn))
    // one row per bucket; running offsets over this tiny table are a
    // single-partition window over n_docs/PACK_BUCKET rows — driver-
    // scale state, broadcast back to the fact side
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt"))
      .agg(sum(col("n_tok")).as("bkt_tok"))
      .withColumn("bkt_off", coalesce(sum(col("bkt_tok")).over(wOff), lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    within.join(broadcast(offsets), Seq("bkt"))
      .withColumn("off", col("bkt_off") + col("cum_end_in") - col("n_tok"))
      .withColumn("chunk_id", explode(sequence(
        expr(s"off div $SEQ_BUDGET"),
        expr(s"(off + n_tok - 1) div $SEQ_BUDGET"))))
      .select(col("chunk_id"), col("doc_id"),
        (least(col("off") + col("n_tok"), (col("chunk_id") + 1) * SEQ_BUDGET)
          - greatest(col("off"), col("chunk_id") * SEQ_BUDGET)).as("n_tok_in_chunk"))
  }

  def q83SequencePacking(s: SparkSession, d: String): DataFrame =
    packSequences(documents(s, d)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok")))
      .orderBy(col("chunk_id"), col("doc_id"))

  /** Oracle packing CTE chain (whole-corpus variant), shared by o83 and
    * the shard-export oracle o96. */
  private val ORA_PACK_CTES = s"""d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents WHERE len(string_split(text, ' ')) > 0),
    c AS (
      -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which range() rejects
      SELECT doc_id, n_tok,
        CAST(SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS off
      FROM d),
    packed AS (
      SELECT chunk_id, doc_id,
        LEAST(off + n_tok, (chunk_id + 1) * $SEQ_BUDGET)
          - GREATEST(off, chunk_id * $SEQ_BUDGET) AS n_tok_in_chunk
      FROM c, unnest(range(off // $SEQ_BUDGET,
                           (off + n_tok - 1) // $SEQ_BUDGET + 1)) u(chunk_id))"""

  val o83 = s"""
    WITH $ORA_PACK_CTES
    SELECT chunk_id, doc_id, n_tok_in_chunk FROM packed
    ORDER BY chunk_id, doc_id"""

  // ---- q84: mixture weighting (source-proportional sampling) ----

  /** Per-language target sampling rates — the "data mixture" knob.
    * Expressed as a tiny mapping table broadcast-joined to the corpus
    * (same pattern as the street-suffix mapping join, P7): changing
    * the mixture is a table edit, not a code edit. */
  val MIXTURE: Seq[(String, Double)] =
    Seq("en" -> 0.9, "de" -> 0.5, "fr" -> 0.5)
  val MIXTURE_DEFAULT = 0.2

  /** q84: deterministic mixture sampling — each document draws a
    * uniform u from the first 8 hex chars of md5(doc_id) (engine-
    * portable, reproducible, and independent of partitioning — the
    * property `rand()` does NOT have) and survives iff u < its
    * language's target rate. Output is the per-language audit:
    * corpus size, kept size, the target rate, and the achieved rate —
    * the numbers a mixture dashboard shows. */
  /** Adds the deterministic uniform draw `u` and the per-language target
    * `rate` to any frame with a `lang` column — `u < rate` is the
    * mixture-sampling predicate, shared by q84's audit and q86's build. */
  private[graft] def withMixtureDraw(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val rates = MIXTURE.toDF("lang", "rate")
    df.withColumn("u",
        expr("cast(conv(substr(md5(cast(doc_id as string)),1,8),16,10) as bigint)")
          / lit(4294967296.0))
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(MIXTURE_DEFAULT)))
  }

  def q84MixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = withMixtureDraw(documents(s, d))
    docs.groupBy(col("lang"), col("rate"))
      .agg(count(lit(1)).as("n_total"),
           count(when(col("u") < col("rate"), 1)).as("n_kept"))
      .withColumn("achieved", round(col("n_kept").cast("double") / col("n_total"), 6))
      .select(col("lang"), col("n_total"), col("n_kept"), col("rate"),
              col("achieved"))
      .orderBy(col("lang"))
  }

  /** Mixture-rate CASE body — one definition for o84 and o86. */
  private val ORA_RATE_CASE =
    MIXTURE.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")

  val o84 = s"""
    WITH d AS (
      SELECT lang,
        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS u,
        CASE lang $ORA_RATE_CASE ELSE $MIXTURE_DEFAULT END AS rate
      FROM documents)
    SELECT lang, COUNT(*) AS n_total,
      CAST(COUNT(CASE WHEN u < rate THEN 1 END) AS BIGINT) AS n_kept,
      rate, ROUND(CAST(COUNT(CASE WHEN u < rate THEN 1 END) AS DOUBLE)
                  / COUNT(*), 6) AS achieved
    FROM d GROUP BY lang, rate ORDER BY lang"""

  // ---- q85: decontamination (eval-set span overlap removal) ----

  /** Deterministic stand-in eval set: every 97th document plays the
    * benchmark. In production this is the actual benchmark corpus;
    * the operator is the same either way. */
  val EVAL_MOD = 97

  /** q85: decontamination — drop every training document that shares a
    * verbatim SPAN-token window with the evaluation set (the Lee-et-al
    * span machinery from q79, pointed at train×eval instead of
    * train×train). Scale shape: the eval side's span index is tiny
    * relative to the corpus and broadcasts; the train side streams
    * row-local spans against it — no all-pairs stage at all. Output:
    * the surviving training corpus with its contamination audit
    * (n_docs dropped per lang). */
  /** md5-60 span hashes for a (doc_id, text) frame — one row per
    * (doc, span window). */
  private def spanHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(
        graft.functions.ShingleSet.shingle_set(col("text"), Dedup.SPAN)).as("span"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(span),1,15),16,10) as bigint)").as("h"))

  /** doc_ids of `train` rows (doc_id, text) sharing a verbatim span with
    * the deterministic eval set. The eval span index is tiny relative to
    * any training corpus — broadcast + left-semi probe, no all-pairs
    * stage; shared by q85's audit and q86's build. */
  private[graft] def contaminatedDocs(s: SparkSession, d: String,
                                     train: DataFrame): DataFrame = {
    val evalSpans = spanHashes(
      documents(s, d).filter(col("doc_id") % EVAL_MOD === 0)
        .select(col("doc_id"), col("text")))
      .select(col("h")).distinct()
    spanHashes(train)
      .join(broadcast(evalSpans), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  def q85Decontaminate(s: SparkSession, d: String): DataFrame = {
    val contaminated = contaminatedDocs(s, d,
      documents(s, d).filter(col("doc_id") % EVAL_MOD =!= 0)
        .select(col("doc_id"), col("text")))
    documents(s, d).filter(col("doc_id") % EVAL_MOD =!= 0)
      .join(contaminated.withColumn("dropped", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_train"),
           count(col("dropped")).as("n_contaminated"),
           min(when(col("dropped").isNull, col("doc_id"))).as("first_clean_id"))
      .orderBy(col("lang"))
  }

  /** Shared span-index CTEs: per-doc span hashes over `documents` plus
    * the eval set's distinct hashes (`ev`). The doc-token CTE is named
    * `tdoc` (not `t`) so it can coexist with ORA_SHINGLES' internal `t`
    * column alias in the composed oracle (o86). Reused by o85 and o86. */
  private val ORA_SPAN_CTES = s"""tdoc AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    spans AS (
      SELECT DISTINCT doc_id,
        ('0x' || substr(md5(array_to_string(tk[i:i+${Dedup.SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM tdoc, unnest(range(1, len(tk) - ${Dedup.SPAN - 2})) u(i)
      WHERE len(tk) >= ${Dedup.SPAN}),
    ev AS (SELECT DISTINCT h FROM spans WHERE doc_id % $EVAL_MOD = 0)"""

  val o85 = s"""
    WITH $ORA_SPAN_CTES,
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM spans s JOIN ev ON s.h = ev.h
      WHERE s.doc_id % $EVAL_MOD <> 0)
    SELECT d.lang, COUNT(*) AS n_train,
      CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
      MIN(CASE WHEN c.doc_id IS NULL THEN d.doc_id END) AS first_clean_id
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id % $EVAL_MOD <> 0
    GROUP BY d.lang ORDER BY d.lang"""

  // ---- q86: the composed train-set build ----

  /** q86: the full training-set build as ONE declarative plan —
    * curation keepers (q78 machinery) minus the eval holdout, minus
    * span-contaminated documents (q85 machinery), mixture-sampled (q84
    * machinery), packed into SEQ_BUDGET-token sequences (q83 machinery).
    * Each stage is separately under the oracle; this query gates their
    * COMPOSITION, where operator boundaries usually leak (intermediate
    * materialization semantics, filter ordering, column contracts).
    * TrainingSetSpec additionally asserts the fused plan equals the
    * stage-by-stage execution with materialization between stages.
    *
    * Scale shape: curation's similarity join only shingles quality
    * survivors; decontamination probes a broadcast eval-span index with
    * keeper spans only; the mixture draw is row-local; packing is the
    * two-phase prefix sum. Nothing in the composition adds a shuffle
    * the stages didn't already have. */
  def q86TrainsetBuild(s: SparkSession, d: String): DataFrame = {
    // The keeper set feeds TWO consumers (the contamination probe's
    // train side and the survivor join) — materialize it once instead
    // of running curation's similarity join + CC per consumer. This is
    // what a real pipeline does with its curated corpus; on a cluster
    // the same point in the plan is a reliable-checkpoint/table write.
    val keep = CorpusPipeline.curatedKeepers(s, d)
      .filter(col("doc_id") % EVAL_MOD =!= 0) // eval holdout never trains
      .localCheckpoint()
    val cont = contaminatedDocs(s, d, keep.select(col("doc_id"), col("text")))
    val decon = keep.join(cont, Seq("doc_id"), "left_anti")
    val mixed = withMixtureDraw(decon).filter(col("u") < col("rate"))
    packSequences(mixed.select(col("doc_id"), col("n_tok")))
      .orderBy(col("chunk_id"), col("doc_id"))
  }

  val o86 = s"""
    WITH RECURSIVE ${CorpusPipeline.ORA_CURATE_CTES},
    keep AS (
      SELECT s.doc_id, s.lang, s.n_tok
      FROM surv s LEFT JOIN lab ON lab.n = s.doc_id
      WHERE COALESCE(LEAST(lab.mr, s.doc_id), s.doc_id) = s.doc_id
        AND s.doc_id % $EVAL_MOD <> 0),
    $ORA_SPAN_CTES,
    cont AS (
      SELECT DISTINCT s.doc_id FROM spans s JOIN ev ON s.h = ev.h
      WHERE s.doc_id IN (SELECT doc_id FROM keep)),
    mix AS (
      SELECT doc_id, n_tok FROM (
        SELECT k.doc_id, k.n_tok,
          ('0x' || substr(md5(k.doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS u,
          CASE k.lang $ORA_RATE_CASE ELSE $MIXTURE_DEFAULT END AS rate
        FROM keep k LEFT JOIN cont c ON k.doc_id = c.doc_id
        WHERE c.doc_id IS NULL)
      WHERE u < rate AND n_tok > 0),
    cum AS (
      SELECT doc_id, n_tok,
        CAST(SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS BIGINT) AS off
      FROM mix)
    SELECT chunk_id, doc_id,
      LEAST(off + n_tok, (chunk_id + 1) * $SEQ_BUDGET)
        - GREATEST(off, chunk_id * $SEQ_BUDGET) AS n_tok_in_chunk
    FROM cum, unnest(range(off // $SEQ_BUDGET,
                           (off + n_tok - 1) // $SEQ_BUDGET + 1)) u(chunk_id)
    ORDER BY chunk_id, doc_id"""

  // ---- q96: shard export (the training-set writer's layout step) ----

  /** Number of output shards. At 100 TB this is thousands; 16 keeps the
    * result table readable while exercising the same math. */
  val N_SHARDS = 16

  /** q96: deterministic shard assignment + per-shard manifest for the
    * packed training set — the export step after q83: every chunk goes
    * to shard md5(chunk_id) % N_SHARDS, and the manifest reports chunk /
    * row / token totals per shard (what a writer job would emit next to
    * `partitionBy("shard_id")` output files; the physical write path
    * itself is exercised by the q62/q82/q89 sinks). md5-keyed assignment
    * is partitioning-independent and engine-portable (the q84 draw
    * pattern), and — unlike `chunk_id % N` — decorrelates shard size
    * from any ordering in the corpus. */
  def q96ShardExport(s: SparkSession, d: String): DataFrame =
    packSequences(documents(s, d)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok")))
      .withColumn("shard_id", expr(
        s"cast(conv(substr(md5(cast(chunk_id as string)),1,8),16,10) as bigint) % $N_SHARDS"))
      .groupBy(col("shard_id"))
      .agg(countDistinct(col("chunk_id")).as("n_chunks"),
        count(lit(1)).as("n_rows"),
        sum(col("n_tok_in_chunk")).as("n_tokens"))
      .orderBy(col("shard_id"))

  val o96 = s"""
    WITH $ORA_PACK_CTES,
    sh AS (
      SELECT ('0x' || substr(md5(chunk_id::VARCHAR), 1, 8))::BIGINT
               % $N_SHARDS AS shard_id,
             chunk_id, n_tok_in_chunk
      FROM packed)
    SELECT shard_id,
      CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_chunks,
      COUNT(*) AS n_rows,
      CAST(SUM(n_tok_in_chunk) AS BIGINT) AS n_tokens
    FROM sh GROUP BY shard_id ORDER BY shard_id"""

  // ---- q98: quality-budgeted data selection ----

  /** Token budget for q98 — small enough that selection is a strict
    * subset at every SF (corpus ≈ 30k tokens at sf0.001). */
  val TOKEN_BUDGET = 10000L

  /** q98: "take the best N tokens" — greedily fill a token budget in
    * descending quality order (ties by doc_id), the data-selection
    * primitive behind quality-thresholded training mixes: instead of a
    * fixed quality floor (q78), the floor is wherever the budget runs
    * out. The last selected document may overflow the budget (greedy
    * fill semantics: a doc is taken iff tokens consumed BEFORE it are
    * under budget).
    *
    * Scale shape: the naive form is a single-partition global window
    * over (quality DESC, doc_id). Same cure as q83, generalized to a
    * value ordering: per-quality-band cumsums in parallel + a tiny
    * band-offset table broadcast back. `floor(quality*20)` is monotone
    * in the sort order (higher band ⟺ higher quality), so band-local
    * prefix + band offset == global prefix exactly. */
  def q98TokenBudget(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.withQuality(documents(s, d))
      .select(col("doc_id"), col("quality"), col("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bkt", floor(col("quality") * 20).cast("long"))
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("quality").desc, col("doc_id"))
    val within = docs.withColumn("cum_in", sum(col("n_tok")).over(wIn))
    // one row per quality band — driver-scale, broadcast back
    val wOff = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt"))
      .agg(sum(col("n_tok")).as("bkt_tok"))
      .withColumn("bkt_off", coalesce(sum(col("bkt_tok")).over(wOff), lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    within.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum_before", col("bkt_off") + col("cum_in") - col("n_tok"))
      .filter(col("cum_before") < TOKEN_BUDGET)
      .select(col("doc_id"), col("quality"), col("n_tok"),
        (col("cum_before") + col("n_tok")).as("cum_tokens"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  val o98 = s"""
    WITH q AS (
      SELECT doc_id, ${TextOps.ORA_QUALITY} AS quality,
        ${TextOps.ORA_N_TOK} AS n_tok
      FROM documents WHERE len(string_split(text,' ')) > 0),
    c AS (
      SELECT doc_id, quality, n_tok,
        CAST(SUM(n_tok) OVER (ORDER BY quality DESC, doc_id) - n_tok
          AS BIGINT) AS cum_before
      FROM q)
    SELECT doc_id, quality, n_tok,
      cum_before + n_tok AS cum_tokens
    FROM c WHERE cum_before < $TOKEN_BUDGET
    ORDER BY quality DESC, doc_id"""

  // ---- q109: weighted priority sampling (Duffield–Lund–Thorup) ----

  /** Sample size for q109. */
  val PRIORITY_K = 50

  /** q109: weight-proportional sampling via *priority sampling*
    * (Duffield, Lund & Thorup, JACM 2007): each document gets priority
    * w/u with u a uniform draw, and the sample is the top-k priorities.
    * Heavier documents (here: more tokens) are proportionally more
    * likely to rank high, and the scheme needs no transcendental
    * functions — the A-Res exponential-key variant (u^(1/w)) is NOT
    * engine-portable because pow differs across libms, while one
    * division is IEEE-identical everywhere.
    *
    * The draw is q84's md5-derived uniform (+1 so u ∈ (0,1], division
    * never by zero), so the sample is reproducible and
    * partitioning-independent.
    *
    * Scale shape: weight and draw are row-local inside the scan stage;
    * the top-k is TakeOrderedAndProject (per-partition heaps, k rows to
    * the driver) — a weighted sample from 100 TB in one pass with no
    * global sort. */
  def q109PrioritySample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("w"),
        ((expr("cast(conv(substr(md5(cast(doc_id as string)),1,8),16,10) as bigint)")
          + lit(1L)) / lit(4294967296.0)).as("u"))
      .withColumn("priority", col("w") / col("u"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PRIORITY_K)
      .select(col("doc_id"), col("w"), round(col("priority"), 6).as("priority"))

  val o109 = s"""
    WITH p AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
          / 4294967296.0 AS u
      FROM documents)
    SELECT doc_id, w, ROUND(w / u, 6) AS priority
    FROM p ORDER BY w / u DESC, doc_id LIMIT $PRIORITY_K"""

  // ---- q114: per-group weighted sampling (mixture-balanced) ----

  /** Per-language sample size for q114. */
  val GROUP_K = 10

  /** q114: q109's priority sampling applied PER LANGUAGE — the
    * mixture-balanced form: take the k heaviest-priority documents of
    * every language, so low-resource languages are not crowded out by
    * the head language the way a global top-k would. This is the
    * "sample k per stratum, weighted" primitive mixture design uses to
    * build eval slices.
    *
    * Scale shape: one shuffle on the group key; the rank window is the
    * per-group-top-k idiom that `plans.TopKRewrite` (q68) rewrites
    * into the partial/final heap plan — k rows per group per
    * partition, never a full per-group sort at the final. */
  def q114GroupSample(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("priority").desc, col("doc_id"))
    documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("w"),
        ((expr("cast(conv(substr(md5(cast(doc_id as string)),1,8),16,10) as bigint)")
          + lit(1L)) / lit(4294967296.0)).as("u"))
      .withColumn("priority", col("w") / col("u"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= GROUP_K)
      .select(col("lang"), col("rk"), col("doc_id"), col("w"),
        round(col("priority"), 6).as("priority"))
      .orderBy(col("lang"), col("rk"))
  }

  val o114 = s"""
    WITH p AS (
      SELECT lang, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
          / 4294967296.0 AS u
      FROM documents),
    r AS (
      SELECT lang, doc_id, w, w / u AS priority,
        ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY w / u DESC, doc_id) AS rk
      FROM p)
    SELECT lang, rk, doc_id, w, ROUND(priority, 6) AS priority
    FROM r WHERE rk <= $GROUP_K ORDER BY lang, rk"""

  // ---- q171: deterministic source interleave (curriculum order) ----

  /** q171: the deterministic round-robin interleave of per-source
    * document streams — the "mixing order" step of a training-set
    * build: given per-source ranked streams, emit the globally ordered
    * sequence src0[0], src1[0], …, srck[0], src0[1], … WITHOUT a global
    * sort shuffle. Each row's global position is pure arithmetic over
    * its per-source rank and the source's index (pos = rank·n_sources
    * + src_idx), so the only shuffles are the per-source ranking
    * window and the |sources|-row index broadcast; at 100 TB the
    * interleaved order is consumed by the shard writer as a sort KEY,
    * never materialized as a single ordered partition.
    *
    * (q84/q109/q114 SAMPLE the mixture; this ORDERS it — the two
    * compose into "sample by weight, then interleave deterministically"
    * which is how reproducible curricula ship.) */
  def q171InterleaveMix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("n_sources"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .withColumn("rank_in_src", row_number().over(wSrc).cast("long") - 1)
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        (col("rank_in_src") * col("n_sources") + col("src_idx")).as("pos"))
      .orderBy(col("pos"))
      .limit(40)
  }

  val o171 = """
    WITH si AS (
      SELECT source,
        CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) - 1 AS src_idx
      FROM (SELECT DISTINCT source FROM documents)),
    n AS (SELECT COUNT(*) AS n_sources FROM si),
    r AS (
      SELECT doc_id, source,
        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
          AS BIGINT) - 1 AS rank_in_src
      FROM documents)
    SELECT doc_id, r.source,
      rank_in_src * n_sources + src_idx AS pos
    FROM r JOIN si ON r.source = si.source CROSS JOIN n
    ORDER BY pos LIMIT 40"""

  // ---- q176: n-gram containment decontamination scoring ----

  /** Containment report threshold, in millionths (30% of the eval
    * doc's shingles appearing in the train doc). */
  val CONTAIN_MIN_MICRO = 300000L

  /** Eval selector for the containment gate. Deliberately NOT q85's
    * EVAL_MOD=97: that slice happens to contain no near-duplicate twin
    * of any train doc at the gated SF, so every containment score sits
    * under 6% and the gate would pass on an empty result — proving
    * nothing. mod 7 puts real near-dup pairs (including verbatim
    * twins, containment = 1.0) across the eval/train boundary, so the
    * gate exercises the full score range. */
  val CONTAIN_EVAL_MOD = 7

  /** q176: CONTAINMENT-scored decontamination — for each (eval doc,
    * train doc) pair, C(e,t) = |S(e) ∩ S(t)| / |S(e)| over 3-gram
    * shingle sets, reported where C ≥ 30%. This is the asymmetric
    * metric real decontamination uses (an eval sample fully quoted
    * inside a long train document has low Jaccard — the q40 metric —
    * but containment 1.0), and it complements q85's binary verbatim-
    * span test with a graded score.
    *
    * Determinism: the score never touches floating point — it is
    * reported in millionths via exact int64 `inter·1e6 div |S(e)|`.
    *
    * Scale shape: the eval side is minuscule next to the corpus (the
    * q85 asymmetry), so its shingle inverted index BROADCASTS; train
    * shingles probe it row-locally and only matching (eval, train)
    * candidate rows reach the one keyed aggregate. No self-join, no
    * all-pairs stage; corpus cost is one scan + one bounded-key
    * aggregate. */
  def q176Containment(s: SparkSession, d: String): DataFrame = {
    val arr = Dedup.shingleArrays(s, d)
    val ev = arr.filter(col("doc_id") % CONTAIN_EVAL_MOD === 0)
      .select(col("doc_id").as("eval_id"), explode(col("sgs")).as("sg"))
    val evSize = arr.filter(col("doc_id") % CONTAIN_EVAL_MOD === 0)
      .select(col("doc_id").as("eval_id"),
        size(col("sgs")).cast("long").as("n_eval"))
    val tr = arr.filter(col("doc_id") % CONTAIN_EVAL_MOD =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("sgs")).as("sg"))
    tr.join(broadcast(ev), Seq("sg"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(evSize), Seq("eval_id"))
      .withColumn("cont_micro", expr("inter * 1000000 div n_eval"))
      .filter(col("cont_micro") >= CONTAIN_MIN_MICRO)
      .select(col("eval_id"), col("train_id"), col("inter"),
        col("n_eval"), col("cont_micro"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  val o176 = s"""
    WITH sh AS (${Dedup.ORA_SHINGLES}),
    ev AS (SELECT doc_id AS eval_id, sg FROM sh WHERE doc_id % $CONTAIN_EVAL_MOD = 0),
    evs AS (
      SELECT doc_id AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_eval
      FROM sh WHERE doc_id % $CONTAIN_EVAL_MOD = 0 GROUP BY 1),
    tr AS (SELECT doc_id AS train_id, sg FROM sh WHERE doc_id % $CONTAIN_EVAL_MOD <> 0),
    cand AS (
      SELECT eval_id, train_id, CAST(COUNT(*) AS BIGINT) AS inter
      FROM tr JOIN ev USING (sg) GROUP BY 1, 2)
    SELECT eval_id, train_id, inter, n_eval,
      inter * 1000000 // n_eval AS cont_micro
    FROM cand JOIN evs USING (eval_id)
    WHERE inter * 1000000 // n_eval >= $CONTAIN_MIN_MICRO
    ORDER BY eval_id, train_id"""

  // ---- q203: contamination severity (longest verbatim span) ----

  /** q203: contamination-severity audit — for every (train doc, eval
    * doc) pair that shares at least one verbatim SPAN-token window,
    * the LONGEST contiguous shared token run and the number of
    * matching windows. q85 answers "is this document contaminated?"
    * (set membership, drop it); this answers "how badly?" — the
    * number a contamination report ranks by, and the difference
    * between an 8-token idiom and a wholesale-quoted benchmark item.
    *
    * Overlapping SPAN-grams that match at consecutive train positions
    * on one (train, eval, pos-epos) diagonal form a contiguous shared
    * run of (run_windows + SPAN − 1) tokens; runs are recovered with
    * the standard gaps-and-islands grouping (pos − row_number per
    * diagonal), so only MATCHING windows — contamination-sized, not
    * corpus-sized — ever reach a window function or shuffle. The eval
    * side's positional gram index broadcasts (an eval benchmark is
    * tiny next to a training corpus); the train side streams its
    * grams row-locally against it, the q85 shape plus positions. */
  /** q203's stand-in eval split. q85's 1/97 split leaves zero
    * straddling duplicate pairs at the driver's verify SF (an empty —
    * vacuous — gate); 1/7 exercises the operator at every SF while
    * keeping the eval side the strictly smaller broadcast side. */
  val SPAN_EVAL_MOD = 7

  /** Core over any (doc_id, text) frame — exposed for the spec's
    * constructed-overlap case. */
  private[graft] def contamSpans(docs: DataFrame): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), posexplode(
        graft.functions.SpanHash.span_hashes(col("text"), Dedup.SPAN))
        .as(Seq("pos", "h")))
    val ev = grams(docs.filter(col("doc_id") % SPAN_EVAL_MOD === 0))
      .withColumnsRenamed(Map("doc_id" -> "eval_id", "pos" -> "epos"))
    val m = grams(docs.filter(col("doc_id") % SPAN_EVAL_MOD =!= 0))
      .join(broadcast(ev), Seq("h"))
      .select(col("doc_id"), col("eval_id"),
        col("pos"), (col("pos") - col("epos")).as("diag"))
    val wDiag = Window.partitionBy(col("doc_id"), col("eval_id"), col("diag"))
      .orderBy(col("pos"))
    m.withColumn("grp", col("pos") - row_number().over(wDiag))
      .groupBy(col("doc_id"), col("eval_id"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg((max(col("run")) + lit(Dedup.SPAN - 1)).as("max_span_tokens"),
        sum(col("run")).as("n_windows"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  def q203ContamSpans(s: SparkSession, d: String): DataFrame =
    contamSpans(documents(s, d).select(col("doc_id"), col("text")))

  val o203 = s"""
    WITH tdoc AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
        ('0x' || substr(md5(array_to_string(tk[i:i+${Dedup.SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM tdoc, unnest(range(1, len(tk) - ${Dedup.SPAN - 2})) u(i)
      WHERE len(tk) >= ${Dedup.SPAN}),
    m AS (
      SELECT tr.doc_id, ev.doc_id AS eval_id, tr.pos,
        tr.pos - ev.pos AS diag
      FROM g tr JOIN g ev USING (h)
      WHERE tr.doc_id % $SPAN_EVAL_MOD <> 0 AND ev.doc_id % $SPAN_EVAL_MOD = 0),
    isl AS (
      SELECT doc_id, eval_id, diag, pos,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id, eval_id, diag
                                 ORDER BY pos) AS grp
      FROM m),
    runs AS (
      SELECT doc_id, eval_id, diag, grp, COUNT(*) AS run
      FROM isl GROUP BY doc_id, eval_id, diag, grp)
    SELECT doc_id, eval_id,
      MAX(run) + ${Dedup.SPAN - 1} AS max_span_tokens,
      CAST(SUM(run) AS BIGINT) AS n_windows
    FROM runs GROUP BY doc_id, eval_id
    ORDER BY doc_id, eval_id"""

  // ---- q230: surgical decontamination (span-level eval scrub) ----

  /** q230: surgical decontamination — the remediation step after q203's
    * audit: instead of dropping every contaminated training document
    * (q85's verdict, which wastes the 95% of a long document that is
    * NOT the quoted benchmark item), remove exactly the tokens covered
    * by a verbatim eval-overlapping SPAN-window and keep the rest. The
    * ledger carries per-train-doc tokens before/after, the number of
    * matching windows, and an md5 of the scrubbed string — the whole
    * reassembly is oracle-checked, the q222 contract.
    *
    * Scale shape: the eval-side positional gram index broadcasts (q203's
    * stance — a benchmark is tiny next to a training corpus); matching
    * windows are contamination-sized, the ×SPAN coverage explode and
    * the ordered per-doc collapse likewise; the train corpus is scanned
    * once. No global windows, no driver state. */
  def q230DecontamScrub(s: SparkSession, d: String): DataFrame = {
    val SPAN = Dedup.SPAN
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), posexplode(
        graft.functions.SpanHash.span_hashes(col("text"), SPAN))
        .as(Seq("pos", "h")))
    val ev = grams(docs.filter(col("doc_id") % SPAN_EVAL_MOD === 0))
      .select(col("h")).distinct()
    val train = docs.filter(col("doc_id") % SPAN_EVAL_MOD =!= 0)
    val hits = grams(train).join(broadcast(ev), Seq("h"))
      .select(col("doc_id"), col("pos"))
    val covered = hits
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${SPAN - 1})")).as("idx"))
      .distinct()
    val nWin = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    train
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("idx", "token")))
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "idx"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("cov").isNull, lit(1))).as("n_kept"),
        collect_list(when(col("cov").isNull,
          struct(col("idx"), col("token")))).as("kept"))
      .join(nWin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        md5(concat_ws(" ",
          expr("transform(array_sort(kept), x -> x.token)"))).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  val o230 = {
    val SPAN = Dedup.SPAN
    s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
        ('0x' || substr(md5(array_to_string(tk[i:i+${SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM d, unnest(range(1, len(tk) - ${SPAN - 2})) u(i)
      WHERE len(tk) >= $SPAN),
    ev AS (SELECT DISTINCT h FROM g WHERE doc_id % $SPAN_EVAL_MOD = 0),
    hits AS (
      SELECT g.doc_id, g.pos FROM g JOIN ev USING (h)
      WHERE g.doc_id % $SPAN_EVAL_MOD <> 0),
    nw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows
           FROM hits GROUP BY doc_id),
    cov AS (
      SELECT DISTINCT doc_id, pos + o AS idx
      FROM hits, unnest(range(0, $SPAN)) u(o)),
    tok AS (
      SELECT doc_id, i - 1 AS idx, tk[i] AS token
      FROM d, unnest(range(1, len(tk) + 1)) u(i)
      WHERE doc_id % $SPAN_EVAL_MOD <> 0)
    SELECT t.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(COUNT(*) FILTER (WHERE c.doc_id IS NULL) AS BIGINT) AS n_kept,
      COALESCE(MIN(nw.n_windows), 0) AS n_windows,
      md5(COALESCE(string_agg(t.token, ' ' ORDER BY t.idx)
        FILTER (WHERE c.doc_id IS NULL), '')) AS scrub_md5
    FROM tok t
    LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
    LEFT JOIN nw ON nw.doc_id = t.doc_id
    GROUP BY t.doc_id ORDER BY t.doc_id"""
  }

  // ---- q233: reciprocal-rank fusion for data selection ----

  /** RRF smoothing constant (the standard k=60) and docs kept per
    * source. */
  val RRF_K = 60L
  val RRF_TOP = 3

  /** q233: reciprocal-rank fusion — combine several incomparable
    * per-document quality signals (lexical diversity ppm, content
    * density ppm, mean token length) into one selection ranking by
    * summing 1e6 div (60 + rank_i) over each signal's per-source rank,
    * then keep the top $RRF_TOP documents per source. RRF is the
    * standard way to fuse heterogeneous rankers without calibrating
    * their scales (Cormack et al. 2009); for a curation pipeline it is
    * how "quality" built from multiple filters actually gets ranked.
    * Exact integer throughout: ranks are ints, each contribution is one
    * integral division.
    *
    * Scale shape: the three signals are row-local expressions in the
    * scan; the three rankings and the final selection are windows
    * PARTITIONED BY SOURCE (in-partition sorts over source-sized
    * groups, the q27 shape — never a global single-partition window);
    * ties are broken by doc_id so every rank is total. */
  def q233RrfSelect(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("source"), col("doc_id"), split(col("text"), " ").as("tk"),
        length(regexp_replace(col("text"), " ", "")).cast("long").as("chars"))
      .select(col("source"), col("doc_id"),
        size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_dis"),
        size(expr("filter(tk, t -> t IN ('the','a','of','and'))"))
          .cast("long").as("n_stop"), col("chars"))
      .filter(col("n_tok") > 0)
      .withColumn("s1", expr("n_dis * 1000000L div n_tok"))
      .withColumn("s2", expr("(n_tok - n_stop) * 1000000L div n_tok"))
      .withColumn("s3", expr("chars * 1000L div n_tok"))
    def rk(c: String) = row_number().over(
      Window.partitionBy(col("source"))
        .orderBy(col(c).desc, col("doc_id"))).cast("long")
    val ranked = docs
      .withColumn("r1", rk("s1"))
      .withColumn("r2", rk("s2"))
      .withColumn("r3", rk("s3"))
      .withColumn("fused", expr(
        s"1000000L div ($RRF_K + r1) + 1000000L div ($RRF_K + r2)" +
          s" + 1000000L div ($RRF_K + r3)"))
    ranked
      .withColumn("sel_rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("fused").desc, col("doc_id"))).cast("long"))
      .filter(col("sel_rank") <= RRF_TOP)
      .select(col("source"), col("sel_rank"), col("doc_id"),
        col("r1"), col("r2"), col("r3"), col("fused"))
      .orderBy(col("source"), col("sel_rank"))
  }

  val o233 = s"""
    WITH d AS (
      SELECT source, doc_id, string_split(text, ' ') AS tk,
        CAST(len(replace(text, ' ', '')) AS BIGINT) AS chars
      FROM documents),
    f AS (
      SELECT source, doc_id,
        CAST(len(tk) AS BIGINT) AS n_tok,
        CAST(len(list_distinct(tk)) AS BIGINT) AS n_dis,
        CAST(len(list_filter(tk, t -> t IN ('the','a','of','and')))
          AS BIGINT) AS n_stop, chars
      FROM d WHERE len(tk) > 0),
    sg AS (
      SELECT source, doc_id,
        n_dis * 1000000 // n_tok AS s1,
        (n_tok - n_stop) * 1000000 // n_tok AS s2,
        chars * 1000 // n_tok AS s3
      FROM f),
    rk AS (
      SELECT source, doc_id,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY s1 DESC, doc_id)
          AS r1,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY s2 DESC, doc_id)
          AS r2,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY s3 DESC, doc_id)
          AS r3
      FROM sg),
    fu AS (
      SELECT source, doc_id, r1, r2, r3,
        1000000 // ($RRF_K + r1) + 1000000 // ($RRF_K + r2)
          + 1000000 // ($RRF_K + r3) AS fused
      FROM rk),
    sel AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY fused DESC, doc_id) AS sel_rank
      FROM fu)
    SELECT source, CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
      CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
      CAST(r3 AS BIGINT) AS r3, CAST(fused AS BIGINT) AS fused
    FROM sel WHERE sel_rank <= $RRF_TOP
    ORDER BY source, sel_rank"""

  // ---- q242: stratified k-fold assignment ----

  /** Fold count for q242. */
  val K_FOLDS = 5L

  /** q242: stratified k-fold cross-validation assignment — documents
    * are folded WITHIN each (source, diversity-band) stratum by
    * round-robin over the stratum's doc_id order, so every fold gets
    * the same mix of sources and quality bands to within one document
    * per stratum (the ±1 balance guarantee the spec asserts). Naive
    * `hash mod k` folding only balances in expectation; stratified
    * round-robin balances by CONSTRUCTION, which is what keeps fold
    * metrics comparable when a small stratum matters. q148 solves the
    * adjacent leak-free-split problem (near-dup clusters must not
    * straddle folds); composing the two — stratify over cluster
    * keepers — is the production recipe.
    *
    * With many tiny strata, starting every stratum's round-robin at
    * fold 0 would overload fold 0 globally; the md5-derived per-stratum
    * ROTATION OFFSET spreads the leftover documents evenly while
    * preserving the per-stratum ±1 guarantee (the standard
    * StratifiedKFold shuffle-the-start trick, made deterministic).
    *
    * Scale shape: the stratum key and band are row-local; the
    * round-robin rank is a window PARTITIONED BY STRATUM (in-partition
    * sort over stratum-sized groups); the ledger is k rows. */
  def q242KfoldStrata(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tok"),
        expr("size(array_distinct(tk)) * 10L div size(tk)").as("band"))
    val w = Window.partitionBy(col("source"), col("band"))
      .orderBy(col("doc_id"))
    docs
      .withColumn("off", expr(
        s"""cast(conv(substr(md5(concat(source, ':', band)), 1, 8), 16, 10)
            as bigint) % $K_FOLDS"""))
      .withColumn("fold",
        (row_number().over(w).cast("long") - 1 + col("off")) % K_FOLDS)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("source"), col("band")).as("n_strata"))
      .orderBy(col("fold"))
  }

  val o242 = s"""
    WITH d AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        len(list_distinct(string_split(text, ' '))) * 10
          // len(string_split(text, ' ')) AS band
      FROM documents),
    f AS (
      SELECT doc_id, source, n_tok, band,
        (ROW_NUMBER() OVER (PARTITION BY source, band ORDER BY doc_id) - 1
         + ('0x' || substr(md5(source || ':' || band), 1, 8))::BIGINT
           % $K_FOLDS) % $K_FOLDS AS fold
      FROM d)
    SELECT CAST(fold AS BIGINT) AS fold,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT (source, band)) AS BIGINT) AS n_strata
    FROM f GROUP BY fold ORDER BY fold"""

  // ---- q211: DSIR importance weights (hashed-bigram resampling) ----

  /** Feature-hash buckets, smoothing α (add-one), and the resample size.
    * B is deliberately far below the bigram vocabulary so buckets
    * genuinely collide — the hashed-feature compression IS the method's
    * scale story (two B-row models summarize any corpus size). */
  val DSIR_BUCKETS = 256
  val DSIR_K = 60

  /** Fixed-point scale for per-occurrence log-ratio contributions (the
    * q63/q205 engine-parity stance: round(·1e6) at the ROW level, exact
    * int64 sums after). */
  val DSIR_SCALE = 1e6

  /** q211: Data Selection via Importance Resampling (Xie et al. 2023) —
    * score every raw document by how much it resembles a TARGET
    * distribution (here: the `lang = 'en'` slice) under hashed-bigram
    * bag-of-words models, and take the top-K weights as the selected
    * training subset. Each bigram occurrence is hashed into one of
    * B = $DSIR_BUCKETS buckets; the target and raw bucket-count models
    * get add-one smoothing; a document's log importance weight is the
    * sum of its occurrences' log(p_target/p_raw) bucket ratios.
    *
    * Engine parity: each occurrence contributes
    * round(ln((t_b+1)·(R+B) / ((r_b+1)·(T+B))) · 1e6) — ONE ln call
    * whose argument is a single division of two exact int64 products,
    * so both engines feed libm the identical double; sums are int64.
    *
    * Scale shape: bigram→bucket hashing is row-local md5 arithmetic in
    * the scan; the model fit is ONE aggregate whose result is B rows
    * per class (bounded by the hash width, NOT the corpus — that is
    * DSIR's point), broadcast back; the corpus-sized shuffles are the
    * per-doc collapse and nothing else; the top-K is
    * TakeOrderedAndProject. Selecting from 100 TB costs two passes. */
  def q211DsirWeights(s: SparkSession, d: String): DataFrame = {
    // Pair structs are built in the (interpreted) HOF lambda, but the
    // md5/conv hashing runs AFTER the explode as an ordinary projection
    // — whole-stage codegen, not per-element interpretation (the
    // q207/q217 HOF lesson); the hashed gram table is materialized once
    // and feeds both the model fit and the scoring pass.
    val g = documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))")).as("p"))
      .select(col("doc_id"), col("lang"), expr(
        s"cast(conv(substr(md5(concat(p.w1, ' ', p.w2)), 1, 6), 16, 10)" +
          s" as bigint) % $DSIR_BUCKETS").as("bkt"))
      .localCheckpoint()
    val stats = g.groupBy(col("bkt")).agg(
      count(when(col("lang") === "en", lit(1))).as("t"),
      count(when(col("lang") =!= "en", lit(1))).as("r"))
    val tot = stats.agg(sum(col("t")).as("tt"), sum(col("r")).as("rr"))
    val lr = stats.crossJoin(broadcast(tot))
      .select(col("bkt"), round(log(
        ((col("t") + lit(1L)) * (col("rr") + lit(DSIR_BUCKETS.toLong)))
          .cast("double") /
        ((col("r") + lit(1L)) * (col("tt") + lit(DSIR_BUCKETS.toLong)))
          .cast("double")) * DSIR_SCALE).cast("long").as("c"))
    g.join(broadcast(lr), Seq("bkt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("w_sum"))
      .orderBy(col("w_sum").desc, col("doc_id"))
      .limit(DSIR_K)
  }

  val o211 = s"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    g AS (
      SELECT doc_id, lang,
        ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 6))::BIGINT
          % $DSIR_BUCKETS AS bkt
      FROM d, unnest(range(1, len(toks))) u(i)),
    stats AS (
      SELECT bkt,
        CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t,
        CAST(COUNT(*) FILTER (WHERE lang <> 'en') AS BIGINT) AS r
      FROM g GROUP BY bkt),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(r) AS BIGINT) AS rr
      FROM stats),
    lr AS (
      SELECT bkt, CAST(ROUND(LN(
          ((t + 1) * (rr + $DSIR_BUCKETS))::DOUBLE
            / ((r + 1) * (tt + $DSIR_BUCKETS))::DOUBLE) * 1000000.0) AS BIGINT)
        AS c
      FROM stats, tot)
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(SUM(c) AS BIGINT) AS w_sum
    FROM g JOIN lr USING (bkt)
    GROUP BY g.doc_id ORDER BY w_sum DESC, g.doc_id LIMIT $DSIR_K"""

  // ---- q216: batch perceptron training (integer quality classifier) ----

  /** Full-batch update rounds. Integer features keep every round exact:
    * perceptron training is the all-int64 member of the linear-classifier
    * family (no sigmoid/exp crosses the engine boundary). */
  val PERC_ROUNDS = 4

  /** q216: in-engine classifier TRAINING — a full-batch perceptron over
    * integer document features (bias, token count, distinct-token count,
    * stopword count) with the target-language label (`lang = 'en'` → +1).
    * Round r scores every document under the incoming weights, counts
    * the misclassified set (y·⟨w,x⟩ ≤ 0), and adds Σ y·x over that set —
    * the fastText-lineage "train a cheap linear quality/domain classifier
    * on the corpus itself" primitive, here with fully deterministic
    * integer dynamics so the whole training TRACE (weights per round +
    * error count) is the graded, hash-checked artifact.
    *
    * Scale shape: each round is ONE conditional aggregate over the
    * feature scan (map-side combined to a single 5-value row) with the
    * incoming weights folded in as literals — the q207/k-means k-bounded
    * driver round-trip; features are materialized once (localCheckpoint)
    * so round k doesn't rescan text. Weights grow with Σ|x| and stay in
    * int64 at any corpus size a single label fits (decimal(38) swap-in
    * documented if not). */
  /** Feature frame shared by the q216 trainer and the q262 selector
    * (doc_id rides along; the trainer's aggregates ignore it). */
  private def percFeatures(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      lit(1L).as("x0"),
      expr("cast(size(split(text, ' ')) as bigint)").as("x1"),
      expr("cast(size(array_distinct(split(text, ' '))) as bigint)").as("x2"),
      expr("cast(size(filter(split(text, ' '), " +
        "t -> t IN ('the','a','of','and'))) as bigint)").as("x3"))
      .localCheckpoint()

  /** The PERC_ROUNDS batch-update loop: per-round cumulative weights +
    * miss counts. k-bounded driver iteration (4 aggregates), the q158
    * iterative-fixpoint stance. */
  private def percTrace(s: SparkSession, d: String)
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    val f = percFeatures(s, d)
    var w = Array(0L, 0L, 0L, 0L)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    for (r <- 1 to PERC_ROUNDS) {
      val mis = col("y") * (lit(w(0)) * col("x0") + lit(w(1)) * col("x1")
        + lit(w(2)) * col("x2") + lit(w(3)) * col("x3")) <= 0
      val row = f.agg(
        coalesce(sum(when(mis, col("y") * col("x0"))), lit(0L)).as("d0"),
        coalesce(sum(when(mis, col("y") * col("x1"))), lit(0L)).as("d1"),
        coalesce(sum(when(mis, col("y") * col("x2"))), lit(0L)).as("d2"),
        coalesce(sum(when(mis, col("y") * col("x3"))), lit(0L)).as("d3"),
        count(when(mis, lit(1))).as("miss")).collect().head
      w = Array(w(0) + row.getLong(0), w(1) + row.getLong(1),
                w(2) + row.getLong(2), w(3) + row.getLong(3))
      trace += ((r.toLong, w(0), w(1), w(2), w(3), row.getLong(4)))
    }
    trace.toSeq
  }

  def q216PerceptronQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    percTrace(s, d).toDF("round", "w0", "w1", "w2", "w3", "n_miss")
      .orderBy(col("round"))
  }

  /** Unrolled-round oracle: round r's CTE carries the cumulative weights
    * and re-aggregates the full feature table under them — DuckDB
    * re-trains from scratch, so a wrong Spark-side update diverges. */
  /** Shared unrolled-round CTE prefix (f, r0..rPERC_ROUNDS) — DuckDB
    * re-trains the perceptron from scratch; o216 reads the trace off
    * it, o262 scores with the final round's weights. */
  private val percCtes: String = {
    val sb = new StringBuilder(
      """WITH f AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
          CAST(1 AS BIGINT) AS x0,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
          CAST(len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','of','and'))) AS BIGINT) AS x3
        FROM documents),
      r0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                    CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
                    CAST(0 AS BIGINT) AS miss)""")
    for (r <- 1 to PERC_ROUNDS) {
      val p = s"r${r - 1}"
      val dot = s"($p.w0*x0 + $p.w1*x1 + $p.w2*x2 + $p.w3*x3)"
      sb.append(s""",
      r$r AS (
        SELECT
          CAST($p.w0 + COALESCE(SUM(CASE WHEN y*$dot <= 0 THEN y*x0 END), 0) AS BIGINT) AS w0,
          CAST($p.w1 + COALESCE(SUM(CASE WHEN y*$dot <= 0 THEN y*x1 END), 0) AS BIGINT) AS w1,
          CAST($p.w2 + COALESCE(SUM(CASE WHEN y*$dot <= 0 THEN y*x2 END), 0) AS BIGINT) AS w2,
          CAST($p.w3 + COALESCE(SUM(CASE WHEN y*$dot <= 0 THEN y*x3 END), 0) AS BIGINT) AS w3,
          CAST(COUNT(CASE WHEN y*$dot <= 0 THEN 1 END) AS BIGINT) AS miss
        FROM f, $p GROUP BY $p.w0, $p.w1, $p.w2, $p.w3)""")
    }
    sb.toString
  }

  val o216: String =
    percCtes + "\n      " +
      (1 to PERC_ROUNDS).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, w0, w1, w2, w3, miss AS n_miss FROM r$r")
        .mkString(" UNION ALL ") +
      " ORDER BY round"

  // ---- q262: uncertainty sampling (active-learning batch) ----

  /** Labeling-budget batch size for q262. */
  val UNC_K = 25

  /** q262: active-learning batch selection — score every document with
    * the TRAINED q216 perceptron (final-round cumulative weights,
    * exact integers) and pick the $UNC_K smallest-|margin| documents
    * (doc_id tie-break): the points closest to the decision boundary,
    * i.e. the ones a labeling budget buys the most from. This closes
    * the train (q216) → evaluate (q245) → SELECT-WHAT-TO-LABEL-NEXT
    * loop inside the engine.
    *
    * Scale shape: the weights are 4 driver-side integers (k-bounded,
    * the q158 iterative stance); scoring is a row-local dot product on
    * the shared feature frame, and the batch is TakeOrderedAndProject
    * (per-partition heaps, $UNC_K rows to the driver) — one scan, no
    * shuffle. The oracle re-trains from scratch through the unrolled
    * CTEs and must agree on every selected row. */
  def q262UncertaintySample(s: SparkSession, d: String): DataFrame = {
    val t = percTrace(s, d).last
    val (w0, w1, w2, w3) = (t._2, t._3, t._4, t._5)
    percFeatures(s, d)
      .withColumn("score", lit(w0) * col("x0") + lit(w1) * col("x1")
        + lit(w2) * col("x2") + lit(w3) * col("x3"))
      .select(col("doc_id"), col("y"), col("score"),
        abs(col("score")).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(UNC_K)
  }

  val o262: String =
    percCtes + s""",
      scored AS (
        SELECT doc_id, CAST(y AS BIGINT) AS y,
          CAST(w0*x0 + w1*x1 + w2*x2 + w3*x3 AS BIGINT) AS score
        FROM f, r$PERC_ROUNDS)
      SELECT doc_id, y, score, abs(score) AS margin
      FROM scored ORDER BY abs(score), doc_id LIMIT $UNC_K"""

  // ---- q219: contrastive positive-pair generation (span crops) ----

  /** q219: SimCSE/DPR-lineage positive-pair GENERATION — for every
    * document, two overlapping ⌈2n/3⌉-token crops (prefix anchor,
    * suffix positive) whose guaranteed ≥n/3-token overlap makes them a
    * labeled positive pair for contrastive training; the emitted md5s
    * pin the exact crop strings (off-by-one in either boundary breaks
    * the hash), and the overlap share in exact ppm is the curriculum
    * knob (pairs with smaller overlap are harder positives).
    *
    * Scale shape: pure row-local slicing inside the scan — nothing
    * shuffles but the presentation sort. The generation step of a
    * contrastive-pretraining corpus at 100 TB is exactly this map. */
  def q219CropPairs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        expr("cast((2 * size(toks) + 2) div 3 as int)").as("la"), col("toks"))
      .select(col("doc_id"), col("n_tok"),
        md5(array_join(expr("slice(toks, 1, la)"), " ")).as("anchor_md5"),
        md5(array_join(expr("slice(toks, size(toks) - la + 1, la)"), " "))
          .as("positive_md5"),
        (lit(2) * col("la") - col("n_tok")).cast("long").as("overlap_toks"))
      .withColumn("overlap_ppm",
        expr("overlap_toks * 1000000 div n_tok"))
      .orderBy(col("doc_id"))

  val o219 = """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        (2 * len(string_split(text, ' ')) + 2) // 3 AS la
      FROM documents)
    SELECT doc_id, n AS n_tok,
      md5(array_to_string(toks[1:la], ' ')) AS anchor_md5,
      md5(array_to_string(toks[(n - la + 1):n], ' ')) AS positive_md5,
      CAST(2 * la - n AS BIGINT) AS overlap_toks,
      CAST((2 * la - n) * 1000000 // n AS BIGINT) AS overlap_ppm
    FROM t ORDER BY doc_id"""

  // ---- q224: epoch/repetition budget (data-constrained scaling) ----

  /** Epoch cap and budget multiple (×1.5 the unique corpus, in halves)
    * for q224 — a budget above 1× forces genuine repetition choices at
    * every SF, the cap mirrors the ~4-epoch useful-repetition horizon
    * of Muennighoff et al. 2023. */
  val EPOCH_MAX = 4
  val BUDGET_NUM = 3L
  val BUDGET_DEN = 2L

  /** q224: repetition-aware token-budget allocation — the
    * data-constrained-scaling planner (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): when the compute budget exceeds
    * the unique corpus, which sources should be repeated, and how many
    * times? Each source's epoch k (k ≤ $EPOCH_MAX) is a candidate worth
    * `quality_ppm div 2^(k-1)` (geometrically decaying marginal value —
    * the paper's diminishing returns on repeated data) and costing the
    * source's unique tokens; candidates are taken greedily by (value
    * DESC, source, epoch) until the budget (3/2 × unique corpus) runs
    * out, the boundary candidate taking a PARTIAL epoch with the exact
    * remainder. Quality is the per-source mean type-token ratio (exact
    * ppm, the q214 signal). All integer arithmetic.
    *
    * Scale shape: ONE corpus pass (per-doc TTR ppm + token counts,
    * row-local) collapsing to a |sources|-row ledger; the candidate grid
    * is EPOCH_MAX × |sources| and the greedy prefix is a cumulative sum
    * over that grid — k-bounded driver-scale state (the q190/q207
    * stance), never a corpus-sized window. The budget enters as
    * crossJoin(broadcast(1-row agg)). */
  def q224EpochBudget(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .select(col("source"), split(col("text"), " ").as("tk"))
      .select(col("source"), size(col("tk")).cast("long").as("n_tok"),
        size(array_distinct(col("tk"))).cast("long").as("n_dis"))
      .filter(col("n_tok") > 0)
    val led = perDoc.groupBy(col("source")).agg(
      sum(col("n_tok")).as("u_tokens"),
      expr("sum(n_dis * 1000000L div n_tok) div count(1)").as("q_ppm"))
    val budget = led.agg(
      expr(s"sum(u_tokens) * ${BUDGET_NUM}L div ${BUDGET_DEN}L")
        .as("budget"))
    val cand = led
      .select(col("source"), col("u_tokens"), col("q_ppm"),
        explode(expr(s"sequence(1, $EPOCH_MAX)")).as("epoch"))
      .withColumn("value",
        expr("q_ppm div shiftleft(1L, epoch - 1)"))
    val wRank = Window.orderBy(
      col("value").desc, col("source"), col("epoch"))
    cand.crossJoin(broadcast(budget))
      .withColumn("cum", sum(col("u_tokens")).over(wRank))
      .withColumn("alloc", greatest(lit(0L),
        least(col("u_tokens"), col("budget") - col("cum") + col("u_tokens"))))
      .filter(col("alloc") > 0)
      .groupBy(col("source"))
      .agg(
        max(col("u_tokens")).as("u_tokens"),
        max(col("q_ppm")).as("q_ppm"),
        count(when(col("alloc") === col("u_tokens"), lit(1)))
          .as("epochs_full"),
        max(when(col("alloc") < col("u_tokens"),
          expr("alloc * 1000000L div u_tokens")).otherwise(lit(0L)))
          .as("partial_ppm"),
        sum(col("alloc")).as("tokens_alloc"))
      .orderBy(col("source"))
  }

  val o224 = s"""
    WITH pd AS (
      SELECT source,
        len(string_split(text, ' ')) AS n_tok,
        len(list_distinct(string_split(text, ' '))) AS n_dis
      FROM documents WHERE len(string_split(text, ' ')) > 0),
    led AS (
      SELECT source, SUM(n_tok) AS u_tokens,
        SUM(n_dis * 1000000 // n_tok) // COUNT(*) AS q_ppm
      FROM pd GROUP BY source),
    b AS (SELECT SUM(u_tokens) * $BUDGET_NUM // $BUDGET_DEN AS budget
          FROM led),
    cand AS (
      SELECT source, u_tokens, q_ppm, k AS epoch,
        q_ppm // (1 << (k - 1)) AS value
      FROM led, unnest(range(1, $EPOCH_MAX + 1)) u(k)),
    g AS (
      SELECT source, u_tokens, q_ppm,
        GREATEST(0, LEAST(u_tokens,
          budget - SUM(u_tokens) OVER (ORDER BY value DESC, source, epoch)
          + u_tokens)) AS alloc
      FROM cand, b)
    SELECT source,
      CAST(MAX(u_tokens) AS BIGINT) AS u_tokens,
      CAST(MAX(q_ppm) AS BIGINT) AS q_ppm,
      CAST(COUNT(*) FILTER (WHERE alloc = u_tokens) AS BIGINT)
        AS epochs_full,
      CAST(MAX(CASE WHEN alloc < u_tokens
        THEN alloc * 1000000 // u_tokens ELSE 0 END) AS BIGINT)
        AS partial_ppm,
      CAST(SUM(alloc) AS BIGINT) AS tokens_alloc
    FROM g WHERE alloc > 0
    GROUP BY source ORDER BY source"""

  // ---- q275: quality-curriculum phase schedule ----

  /** q275: curriculum schedule ledger — documents are staged into four
    * quality-quartile phases (phase 1 = cleanest quartile, trained
    * first; the anti-curriculum flips the phase order for free) and
    * the schedule is reported per (phase, source): doc and token mass,
    * the phase's global position range in the curriculum ordering, and
    * each source's exact token share of its phase. This is the
    * schedule a curriculum-training run consumes — the decision ledger
    * ("is phase 1 all wiki? did the tail phase swallow source X?")
    * rather than a per-doc dump.
    *
    * Quartile fences are percentile() over q_micro = round(quality·1e6)
    * int64 (integer operands, the q202 fence stance — both engines
    * interpolate the same IEEE doubles from identical integer
    * multisets); phase membership is an exact bigint-vs-double
    * comparison. Token-share ppm runs in decimal(38,0) (corpus-scale
    * phase token mass × 1e6 exceeds int64 — the q252 stance).
    *
    * Scale shape: quality is row-local (q36's expression); fences are
    * a broadcast 1-row aggregate; the corpus-sized work is ONE
    * (phase, source) cell aggregate, read once: phase mass comes from a
    * (phase) window and the running offset from a phase-ordered window
    * over the ≤ 4·|sources|-row cell table (the q98 offset pattern).
    * No per-doc global ordering is ever materialized — position ranges
    * come from phase mass alone. */
  def q275CurriculumSchedule(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.withQuality(documents(s, d))
      .select(col("source"), col("n_tok"),
        expr("cast(round(quality * 1000000) as bigint)").as("q_micro"))
    val fences = docs.agg(
      expr("percentile(q_micro, 0.75)").as("f75"),
      expr("percentile(q_micro, 0.5)").as("f50"),
      expr("percentile(q_micro, 0.25)").as("f25"))
    val byPhase = Window.partitionBy(col("phase"))
    docs.crossJoin(broadcast(fences))
      .withColumn("phase",
        lit(1L) + when(col("q_micro") < col("f75"), 1L).otherwise(0L)
          + when(col("q_micro") < col("f50"), 1L).otherwise(0L)
          + when(col("q_micro") < col("f25"), 1L).otherwise(0L))
      .groupBy(col("phase"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      // default frame: every cell of this and all earlier phases
      .withColumn("upto", sum(col("n_docs")).over(Window.orderBy(col("phase"))))
      .withColumn("pd", sum(col("n_docs")).over(byPhase))
      .withColumn("pt", sum(col("n_tokens")).over(byPhase))
      .select(col("phase"), col("source"), col("n_docs"), col("n_tokens"),
        (col("upto") - col("pd") + 1L).as("phase_start"),
        col("upto").as("phase_end"),
        expr("""cast(cast(n_tokens as decimal(38,0)) * 1000000
          div pt as bigint)""").as("tok_share_ppm"))
      .orderBy(col("phase"), col("source"))
  }

  val o275 = s"""
    WITH q AS (
      SELECT source,
        CAST(ROUND(${TextOps.ORA_QUALITY} * 1000000) AS BIGINT) AS q_micro,
        ${TextOps.ORA_N_TOK} AS n_tok
      FROM documents),
    f AS (
      SELECT quantile_cont(q_micro, 0.75) AS f75,
        quantile_cont(q_micro, 0.5) AS f50,
        quantile_cont(q_micro, 0.25) AS f25
      FROM q),
    cells AS (
      SELECT CAST(1 + (CASE WHEN q_micro < f75 THEN 1 ELSE 0 END)
           + (CASE WHEN q_micro < f50 THEN 1 ELSE 0 END)
           + (CASE WHEN q_micro < f25 THEN 1 ELSE 0 END) AS BIGINT) AS phase,
        source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM q CROSS JOIN f GROUP BY 1, 2),
    off AS (
      SELECT phase, SUM(n_tokens) AS pt,
        COALESCE(SUM(SUM(n_docs)) OVER (ORDER BY phase
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
        SUM(SUM(n_docs)) OVER (ORDER BY phase
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS upto
      FROM cells GROUP BY phase)
    SELECT cells.phase AS phase, source, n_docs, n_tokens,
      CAST(before + 1 AS BIGINT) AS phase_start,
      CAST(upto AS BIGINT) AS phase_end,
      CAST(n_tokens::HUGEINT * 1000000 // pt AS BIGINT) AS tok_share_ppm
    FROM cells JOIN off ON cells.phase = off.phase
    ORDER BY phase, source"""

  // ---- q285: multinomial Naive-Bayes source classifier ----

  /** q285: in-engine multinomial NAIVE BAYES over unigram counts —
    * the fastText-family generative counterpart to q216's
    * discriminative perceptron, and the model the classic quality /
    * domain filters (CCNet's fastText langid, GPT-3's WebText-vs-
    * CommonCrawl filter) actually are: class-conditional token
    * likelihoods with Laplace smoothing, argmin total NLL. Trained on
    * the corpus's own `source` labels, scored by resubstitution, and
    * reported as the source×source CONFUSION MATRIX — the separability
    * audit read before trusting a provenance classifier to route
    * documents.
    *
    * Model (the `NaiveBayes` kernel): n7(tok,s) = ln((N_s+V)/(c+1)) for
    * seen tokens, u7_s = ln(N_s+V) for unseen, prior7_s = ln(D/D_s), each
    * floor(·1e7) of one exact-int64 division; argmin ties break to the
    * lexicographically smallest source via (nll, source) ordering.
    *
    * Scale shape: the model is ONE (tok, source) aggregate (vocab-
    * bounded, broadcast back) + a |sources|-row class ledger collected
    * on the driver; scoring is one join of the collapsed (doc, tok, n)
    * frame + ONE (doc, source) aggregate; the argmin is a
    * min-of-orderable-struct aggregate over the ≤|sources|-row per-doc
    * ledger, never over occurrences. At 100 TB with an unbounded
    * vocabulary, drop the broadcast hint and the scoring join
    * key-shuffles on `tok` — no other change. */
  def q285NbSource(s: SparkSession, d: String): DataFrame = {
    val docTok = NaiveBayes.tokenCounts(documents(s, d), col("source"))
    val perDoc = NaiveBayes.perDoc(docTok)
    val led = NaiveBayes.ledger(perDoc, "source")
    val vocab = NaiveBayes.vocab(docTok)
    val cnt = NaiveBayes.cells(docTok, "source", "c")
    val v = vocab()
    val L = led()
    val dd = L(None)._2
    // the |cls|-row model ledger is a LocalRelation: its two broadcasts
    // build on the driver with no Spark job
    import s.implicits._
    val clsLedger = L.classes.map { cls =>
      val (ns, ds) = L(Some(cls))
      (cls, ns, NaiveBayes.log7(ns + v), NaiveBayes.log7(dd, ds))
    }.toDF("cls", "ns", "u7", "prior7")
    val scored = cnt.join(broadcast(clsLedger.select(col("cls"), col("ns"))),
        Seq("cls"))
      .withColumn("n7", NaiveBayes.n7(col("ns") + lit(v), col("c") + lit(1L)))
      .select(col("tok"), col("cls"), col("n7"))
    val seen = NaiveBayes.seen(docTok, scored, Seq("tok"))
    // per-doc argmin as a min over an orderable struct ordered (nll7, cls)
    // — the oracle's row_number(orderBy(nll7, cls)) = 1 pick, cls being
    // unique per doc — so the partial aggregate collapses the |cls| rows
    // per doc before the exchange (SortAggregate: a struct buffer is not
    // hash-aggregable)
    perDoc.crossJoin(broadcast(clsLedger.select(col("cls"), col("u7"), col("prior7"))))
      .join(seen, Seq("doc_id", "cls"), "left")
      .withColumn("nll7", NaiveBayes.nll7())
      .groupBy(col("doc_id"), col("source"))
      .agg(min(struct(col("nll7"), col("cls"))).getField("cls")
        .as("predicted"))
      .groupBy(col("source"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("predicted"))
  }

  val o285: String = """
    WITH occ AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    cnt AS (
      SELECT tok, source AS cls, CAST(COUNT(*) AS BIGINT) AS c
      FROM occ GROUP BY 1, 2),
    classes AS (
      SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS ns,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ds
      FROM occ GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cnt),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM documents),
    ledger AS (
      SELECT cls, ns, v,
        CAST(FLOOR(ln((ns + v)::DOUBLE) * 1e7) AS BIGINT) AS u7,
        CAST(FLOOR(ln(dd::DOUBLE / ds::DOUBLE) * 1e7) AS BIGINT) AS prior7
      FROM classes CROSS JOIN vocab CROSS JOIN dtot),
    scored AS (
      SELECT tok, cnt.cls,
        CAST(FLOOR(ln((ns + v)::DOUBLE / (c + 1)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM cnt JOIN ledger ON cnt.cls = ledger.cls),
    seen AS (
      SELECT doc_id, cls, CAST(SUM(n7) AS BIGINT) AS s7,
        CAST(COUNT(*) AS BIGINT) AS n_seen
      FROM occ JOIN scored USING (tok) GROUP BY 1, 2),
    perdoc AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    nll AS (
      SELECT perdoc.doc_id AS doc_id, source, ledger.cls,
        COALESCE(s7, 0) + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7
          AS nll7
      FROM perdoc CROSS JOIN ledger
      LEFT JOIN seen ON seen.doc_id = perdoc.doc_id
        AND seen.cls = ledger.cls),
    pick AS (
      SELECT doc_id, source, cls,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY nll7, cls) AS rn
      FROM nll)
    SELECT source, cls AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pick WHERE rn = 1
    GROUP BY source, cls ORDER BY source, predicted"""

  // ---- q287: K-fold cross-validated NB smoothing sweep ----

  /** q287's fold count and Laplace-α candidate grid. */
  val CV_FOLDS = 5L
  val CV_ALPHAS: Seq[Long] = Seq(1L, 2L, 4L)

  /** q287's prescreen width: larger-α candidates are evaluated only on
    * each doc's top-CV_BEAM classes under the screening α (= CV_ALPHAS
    * .head, which is itself scored against ALL classes). Beam = 2 is an
    * APPROXIMATION of the exact joint sweep (argmin restricted to the
    * screening top-2 for α ≠ α₀), mirrored exactly in the oracle; the
    * beam is a parameter of `q287NbCvBeam` so the exact path (beam ≥
    * |cls|) stays runnable — TrainingSetSpec asserts the beamed and
    * exact sweeps give identical acc_ppm at sf0.001 (the deltas at
    * larger SFs are recorded in docs/SCALE.md). */
  val CV_BEAM = 2L

  /** q287: IN-ENGINE MODEL SELECTION — K-fold cross-validated accuracy
    * of the q285 Naive-Bayes source classifier across a Laplace-α
    * grid, reported per (α, fold). The point is the scale trick: a
    * count-based model is a SUBTRACTABLE LEDGER, so fold f's training
    * model is just global − fold cells (c_train = c − c_f, N_train =
    * N_s − N_{s,f}, V_f = tokens with any out-of-fold occurrence, …) —
    * K folds × |α| candidates cost ONE corpus count pass plus ledger
    * arithmetic, not K·|α| retraining scans. This is how
    * hyperparameter sweeps should run at 100 TB: factor the sufficient
    * statistics once, evaluate every candidate against them.
    *
    * Semantics: fold = md5-draw mod K (the q84/q109 uniform; doc_id mod K would be
    * degenerate here - source is doc_id mod 20, so residue folds put
    * every class in one fold); for a doc in fold
    * f, P(tok|s) = (c_train + α)/(N_train + α·V_f); classes whose
    * out-of-fold doc count is zero are excluded from that fold's
    * candidate set (both engines, same rule). Every NLL term is
    * floor(ln of one exact-int64 division)·1e7, all ≥ 0 (c_train ≤
    * N_train, α ≤ α·V_f), priors ln(D_train/D_{s,train}) ≥ 0; ties
    * break to the lexicographically smallest source.
    *
    * Scale shape: the `NaiveBayes` kernel's count model, with two
    * corpus aggregates — the (tok, cls, fold) cell ledger and ONE
    * (doc, cls) score aggregate; everything else is ledger arithmetic
    * on |cls|·K·|α| rows broadcast back. The sweep is
    * retrieval-then-rerank in its SEMANTICS (the screening α =
    * CV_ALPHAS.head scores ALL classes; larger α candidates rerank only
    * each doc's top-CV_BEAM screening classes, mirrored exactly in the
    * oracle), but every α's score rides ONE occurrence pass: the score
    * ledger is pivoted WIDE (one row per (tok, f, cls) carrying an n7
    * column per α — score-row existence is α-independent, so the pivot
    * is total), so a single docTok ⋈ scoredW join at |cls| fan-out
    * aggregates every α's (s7_α, n_seen) at once, and both the screen
    * window and the rerank argmins run over the beam-sized per-doc
    * ledger. Over an unbounded web vocabulary the cell/cellF
    * broadcasts become key-shuffles on `tok` (drop the hints; q285
    * stance) — no other plan change. */
  def q287NbCv(s: SparkSession, d: String): DataFrame =
    q287NbCvBeam(s, d, CV_BEAM)

  /** q287 with an explicit beam width: beam = CV_BEAM is the graded
    * approximation; beam ≥ |cls| degenerates to the exact joint sweep
    * (every class survives the prescreen), which is how the beamed
    * accuracy numbers are audited against the exact definition. */
  def q287NbCvBeam(s: SparkSession, d: String, beamK: Long): DataFrame = {
    val foldE = expr("cast(conv(substr(md5(cast(doc_id as string)),1,8),16,10) as bigint)") % CV_FOLDS
    val docTok = NaiveBayes.tokenCounts(documents(s, d), foldE.as("f"), col("source"))
    val perDoc = NaiveBayes.perDoc(docTok)
    // ONE cube yields the (cls, f), (cls, ·), (·, f) and (·, ·) totals
    val led = NaiveBayes.ledger[Long](perDoc, "source", Some("f"))
    // the (tok, cls, fold) count cells — |V|·|cls|·K rows; consumed by
    // scoredW's build (twice: cell + the join) and the vocab collect —
    // measured cheaper materialized than recomputed (recomputing
    // re-aggregated docTok twice inside scoredW's job, ~0.5 s net)
    val cellF = NaiveBayes.cells(docTok, "source", "cf", "f")
    val cell = cellF.groupBy(col("tok"), col("cls"))
      .agg(sum(col("cf")).as("c"))
    val foldGen = explode(sequence(lit(0L), lit(CV_FOLDS - 1))).as("f")
    // Per-fold training vocabulary via the exclusive-fold identity:
    // vtrain(f) = #{tok : mass outside f} = V − #{tok exclusively in f}
    // — ONE aggregation over cellF; overlaps the ledger's cube job.
    val exclRows = cellF.groupBy(col("tok"))
      .agg(min(col("f")).as("fmin"), max(col("f")).as("fmax"))
      .groupBy(when(col("fmin") === col("fmax"), col("fmin"))
        .otherwise(lit(-1L)).as("exclf"))
      .agg(count(lit(1)).as("n")).collect()
    val L = led()
    val vTotal = exclRows.map(_.getLong(1)).sum
    val vtrain: Map[Long, Long] = (0L until CV_FOLDS).map(f =>
      f -> (vTotal - exclRows.find(r => r.getLong(0) == f)
        .map(_.getLong(1)).getOrElse(0L))).toMap
    // the (cls, fold, alpha) model ledger on the driver: |cls|·K·|α| rows
    // at any corpus scale
    val dd = L(None)._2
    val ledgerRows: Seq[(String, Long, Long, Long, Long, Long)] = for {
      cls <- L.classes
      f <- 0L until CV_FOLDS
      (ns, ds) = L(Some(cls))
      (nsf, dsf) = L(Some(cls), Some(f))
      nsTr = ns - nsf
      dsTr = ds - dsf
      if dsTr > 0
      df = L(None, Some(f))._2
      alpha <- CV_ALPHAS
      den = nsTr + alpha * vtrain(f)
    } yield (cls, f, alpha, den, NaiveBayes.log7(den, alpha),
      NaiveBayes.log7(dd - df, dsTr))
    // WIDE (cls, f) model ledger — one row per (cls, f) carrying every
    // α's (den, u7) plus the α-independent prior7. ledgerRows is total
    // in α (the α loop sits inside the dsTr > 0 guard), so the pivot
    // is exact; built as an explicit LocalRelation (createDataFrame on
    // a driver list) so its broadcasts need no Spark job.
    val alpha0 = CV_ALPHAS.head
    val ledgerW: DataFrame = {
      import org.apache.spark.sql.types._
      val schema = StructType(
        StructField("cls", StringType, nullable = false) ::
        StructField("f", LongType, nullable = false) ::
        StructField("prior7", LongType, nullable = false) ::
        CV_ALPHAS.toList.flatMap(a => Seq(
          StructField(s"den_$a", LongType, nullable = false),
          StructField(s"u7_$a", LongType, nullable = false))))
      val rows = ledgerRows.groupBy(r => (r._1, r._2)).toSeq
        .sortBy(_._1)
        .map { case ((cls, f), grp) =>
          val byA = grp.map(r => r._3 -> ((r._4, r._5))).toMap
          require(byA.keySet == CV_ALPHAS.toSet,
            s"q287: ledger not total in alpha for ($cls, $f)")
          org.apache.spark.sql.Row.fromSeq(
            cls +: f +: grp.head._6 +:
              CV_ALPHAS.flatMap(a => Seq(byA(a)._1, byA(a)._2)))
        }
      val list = new java.util.ArrayList[org.apache.spark.sql.Row](rows.size)
      rows.foreach(list.add)
      s.createDataFrame(list, schema)
    }
    // vocabulary-bounded WIDE score ledger: one row per (tok, cls, f)
    // with an n7 column per α — |V|·|cls|·K rows. Materialized once; the
    // single scoring pass below broadcasts it whole.
    val scoredW = cell.select(col("tok"), col("cls"), col("c"), foldGen)
      .join(cellF, Seq("tok", "cls", "f"), "left")
      .withColumn("c_tr", col("c") - coalesce(col("cf"), lit(0L)))
      .filter(col("c_tr") > 0)
      .join(broadcast(ledgerW.select(col("cls") +: col("f") +:
        CV_ALPHAS.map(a => col(s"den_$a")): _*)), Seq("cls", "f"))
      .select(col("tok") +: col("f") +: col("cls") +:
        CV_ALPHAS.map(a =>
          NaiveBayes.n7(col(s"den_$a"), col("c_tr") + lit(a)).as(s"n7_$a")): _*)
      .localCheckpoint()
    // ONE doc-level scoring pass for EVERY α: |cls| fan-out per distinct
    // (doc, tok), every α's s7 as its own sum column (n_seen is
    // α-independent because score-row existence is)
    val seen = NaiveBayes.seen(docTok, scoredW, Seq("tok", "f"))
    val wBeam = Window.partitionBy(col("doc_id"))
      .orderBy(col(s"nll7_$alpha0"), col("cls"))
    // per-doc screening ranks over the α0 NLL: rn=1 is the α0
    // prediction, rn ≤ CV_BEAM is the rerank candidate set — and the
    // candidate rows already CARRY every other α's NLL, so the rerank
    // below never touches docTok again. Checkpointed (beam-sized:
    // ≤ CV_BEAM rows per doc): two consumers (win1, the rerank
    // explode), and exchange reuse does NOT dedupe the screen pyramid
    // above it across consumers (measured).
    val nllW = perDoc.join(broadcast(ledgerW.select(col("cls") +: col("f") +:
        col("prior7") +: CV_ALPHAS.map(a => col(s"u7_$a")): _*)),
        Seq("f"))
      .join(seen, Seq("doc_id", "cls"), "left")
      .select(col("doc_id") +: col("f") +: col("source") +: col("cls") +:
        CV_ALPHAS.map(a => NaiveBayes.nll7(s"_$a").as(s"nll7_$a")): _*)
      .withColumn("rn", row_number().over(wBeam))
      .filter(col("rn") <= beamK)
      .select(col("doc_id") +: col("f") +: col("source") +: col("cls") +:
        col("rn") +: CV_ALPHAS.tail.map(a => col(s"nll7_$a")): _*)
      .localCheckpoint()
    val win1 = nllW.filter(col("rn") === 1)
      .select(lit(alpha0).as("alpha"), col("f"), col("source"), col("cls"))
    // RERANK: per remaining α, argmin over the beam classes — a
    // min-of-orderable-struct aggregate ordered (nll7, cls) over the
    // beam-sized ledger (≤ CV_BEAM rows per (doc, α)); f and source
    // are per-doc constants riding behind the ordering fields (cls is
    // unique within a doc, so they never decide). The struct buffer
    // plans as SortAggregate, whose partial combines map-side.
    val winR = nllW
      .select(col("doc_id"), col("f"), col("source"), col("cls"),
        explode(array(CV_ALPHAS.tail.map(a =>
          struct(lit(a).as("alpha"), col(s"nll7_$a").as("nll7"))): _*))
          .as("t"))
      .groupBy(col("doc_id"), col("t.alpha").as("alpha"))
      .agg(min(struct(col("t.nll7").as("nll7"), col("cls"), col("f"),
        col("source"))).as("m"))
      .select(col("alpha"), col("m.f").as("f"),
        col("m.source").as("source"), col("m.cls").as("cls"))
    win1.unionByName(winR)
      .groupBy(col("alpha"), col("f"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls") === col("source"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("alpha"), col("f"), col("n_docs"), col("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
      .orderBy(col("alpha"), col("f"))
  }

  val o287: String = s"""
    WITH occ AS (
      SELECT doc_id, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $CV_FOLDS AS f, source,
        unnest(string_split(text, ' ')) AS tok
      FROM documents),
    cell AS (
      SELECT tok, source AS cls, CAST(COUNT(*) AS BIGINT) AS c
      FROM occ GROUP BY 1, 2),
    cellf AS (
      SELECT tok, source AS cls, f, CAST(COUNT(*) AS BIGINT) AS cf
      FROM occ GROUP BY 1, 2, 3),
    toktot AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS t FROM occ GROUP BY 1),
    tokf AS (SELECT tok, f, CAST(COUNT(*) AS BIGINT) AS tf
             FROM occ GROUP BY 1, 2),
    folds AS (SELECT CAST(unnest(range(0, $CV_FOLDS)) AS BIGINT) AS f),
    vf AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS vtrain
      FROM toktot CROSS JOIN folds
      LEFT JOIN tokf USING (tok, f)
      WHERE t - COALESCE(tf, 0) > 0 GROUP BY f),
    clstot AS (
      SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS ns,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ds
      FROM occ GROUP BY 1),
    clsf AS (
      SELECT source AS cls, f, CAST(COUNT(*) AS BIGINT) AS nsf,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dsf
      FROM occ GROUP BY 1, 2),
    dtot AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS df,
        CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS dd
      FROM (SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $CV_FOLDS AS f FROM documents) GROUP BY f),
    alphas AS (SELECT CAST(unnest([${CV_ALPHAS.mkString(", ")}]) AS BIGINT)
               AS alpha),
    ledger AS (
      SELECT cls, f, alpha, ns_tr + alpha * vtrain AS den,
        CAST(FLOOR(ln((ns_tr + alpha * vtrain)::DOUBLE / alpha::DOUBLE)
          * 1e7) AS BIGINT) AS u7,
        CAST(FLOOR(ln((dd - df)::DOUBLE / ds_tr::DOUBLE) * 1e7) AS BIGINT)
          AS prior7
      FROM (
        SELECT cls, f, ns - COALESCE(nsf, 0) AS ns_tr,
          ds - COALESCE(dsf, 0) AS ds_tr
        FROM clstot CROSS JOIN folds LEFT JOIN clsf USING (cls, f))
      JOIN vf USING (f) JOIN dtot USING (f) CROSS JOIN alphas
      WHERE ds_tr > 0),
    scored AS (
      SELECT cell.tok, folds.f AS f, cell.cls, lg.alpha,
        CAST(FLOOR(ln(lg.den::DOUBLE
          / (c - COALESCE(cf, 0) + lg.alpha)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM cell CROSS JOIN folds
      LEFT JOIN cellf ON cellf.tok = cell.tok AND cellf.cls = cell.cls
        AND cellf.f = folds.f
      JOIN ledger lg ON lg.cls = cell.cls AND lg.f = folds.f
      WHERE c - COALESCE(cf, 0) > 0),
    doctok AS (
      SELECT doc_id, f, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM occ GROUP BY 1, 2, 3),
    perdoc AS (
      SELECT doc_id, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $CV_FOLDS AS f, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    seen1 AS (
      SELECT doc_id, cls, CAST(SUM(n * n7) AS BIGINT) AS s7,
        CAST(SUM(n) AS BIGINT) AS n_seen
      FROM doctok JOIN scored USING (tok, f)
      WHERE alpha = ${CV_ALPHAS.head}
      GROUP BY 1, 2),
    nll1 AS (
      SELECT perdoc.doc_id AS doc_id, perdoc.f AS f, source,
        ledger.cls AS cls,
        ROW_NUMBER() OVER (PARTITION BY perdoc.doc_id ORDER BY
          COALESCE(s7, 0) + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7,
          ledger.cls) AS rn
      FROM perdoc JOIN ledger ON ledger.f = perdoc.f
        AND ledger.alpha = ${CV_ALPHAS.head}
      LEFT JOIN seen1 ON seen1.doc_id = perdoc.doc_id
        AND seen1.cls = ledger.cls),
    beam AS (SELECT doc_id, cls FROM nll1 WHERE rn <= $CV_BEAM),
    win1 AS (
      SELECT CAST(${CV_ALPHAS.head} AS BIGINT) AS alpha, f, source, cls
      FROM nll1 WHERE rn = 1),
    seenr AS (
      SELECT doctok.doc_id AS doc_id, beam.cls AS cls,
        scored.alpha AS alpha,
        CAST(SUM(n * n7) AS BIGINT) AS s7, CAST(SUM(n) AS BIGINT) AS n_seen
      FROM doctok JOIN beam ON beam.doc_id = doctok.doc_id
      JOIN scored ON scored.tok = doctok.tok AND scored.f = doctok.f
        AND scored.cls = beam.cls AND scored.alpha <> ${CV_ALPHAS.head}
      GROUP BY 1, 2, 3),
    winr AS (
      SELECT alpha, f, source, cls FROM (
        SELECT ledger.alpha AS alpha, perdoc.f AS f, source,
          ledger.cls AS cls,
          ROW_NUMBER() OVER (PARTITION BY perdoc.doc_id, ledger.alpha
            ORDER BY COALESCE(s7, 0)
              + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7,
            ledger.cls) AS rn
        FROM perdoc JOIN beam ON beam.doc_id = perdoc.doc_id
        JOIN ledger ON ledger.cls = beam.cls AND ledger.f = perdoc.f
          AND ledger.alpha <> ${CV_ALPHAS.head}
        LEFT JOIN seenr ON seenr.doc_id = perdoc.doc_id
          AND seenr.cls = ledger.cls AND seenr.alpha = ledger.alpha)
      WHERE rn = 1),
    allwin AS (SELECT * FROM win1 UNION ALL SELECT * FROM winr)
    SELECT alpha, f, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN cls = source THEN 1 ELSE 0 END) AS BIGINT)
        AS n_correct,
      CAST(SUM(CASE WHEN cls = source THEN 1 ELSE 0 END) * 1000000
        // COUNT(*) AS BIGINT) AS acc_ppm
    FROM allwin
    GROUP BY alpha, f ORDER BY alpha, f"""

  // ---- q292: leave-one-source-out data valuation ----

  /** q292: LEAVE-ONE-SOURCE-OUT data valuation — the data-attribution
    * primitive (Ghorbani & Zou's data-Shapley family, restricted to
    * the |S| marginal coalitions a curation team actually acts on):
    * for every source S, retrain the q285-style multinomial NB — here
    * predicting LANG, so dropping a source never drops a class — on
    * the train split minus S and score a FIXED md5-10% eval split;
    * delta_ppm = acc_loso − acc_full is S's marginal contribution
    * (negative ⇒ the source was load-bearing, positive ⇒ it was
    * hurting the classifier — the "which domain do I cut" readout).
    *
    * The scale trick is q287's, one axis over: count models are
    * SUBTRACTABLE ledgers, so |S| retrained models cost ONE (tok,
    * lang, source) count pass — every per-holdout quantity (cell
    * counts, class token mass, vocab size, doc priors) is the full
    * ledger minus S's contribution, never a re-scan. Zero-doc classes
    * are excluded per holdout by rule in both engines (q287 stance);
    * a source with no train docs keeps delta = 0 by rule (removing
    * nothing changes nothing). Ledger size is vocab·|langs|·(|S|+1) —
    * vocabulary-bounded, not corpus-bounded; the eval-side scoring
    * join fans out |langs|·(|S|+1) per distinct EVAL (doc, tok) only
    * (the md5-10% split). The count model, its integer log terms and
    * the one corpus explode (train and eval are filters of it) are the
    * `NaiveBayes` kernel's.
    */
  def q292LosoValue(s: SparkSession, d: String): DataFrame = {
    val FULL = "__full__"
    val docs = documents(s, d).withColumn("ev",
      expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 10 = 0"))
    // one explode of the corpus; the train and eval splits are filters
    // of the collapsed frame
    val docTok = NaiveBayes.tokenCounts(docs, col("ev"), col("lang"), col("source"))
    val trainTok = docTok.filter(!col("ev"))
    val evTok = docTok.filter(col("ev"))
    // ONE cube yields the (lang, src), (lang, ·), (·, src) and (·, ·)
    // totals
    val led = NaiveBayes.ledger[String](NaiveBayes.perDoc(trainTok), "lang",
      Some("source"))
    val cellS = NaiveBayes.cells(trainTok, "lang", "cs", "source")
    val cell = cellS.groupBy(col("tok"), col("cls")).agg(sum(col("cs")).as("c"))
    val L = led()
    val srcs = L.keys.sorted
    val dd = L(None)._2
    import s.implicits._
    val holdouts = srcs :+ FULL
    val hs = broadcast(holdouts.toDF("h"))
    // per-holdout cell counts by subtraction; rows that vanish drop out
    val cellH = cell.crossJoin(hs)
      .join(cellS.select(col("tok"), col("cls"), col("source").as("h"),
        col("cs")), Seq("tok", "cls", "h"), "left")
      .withColumn("ch", col("c") - coalesce(col("cs"), lit(0L)))
      .filter(col("ch") > 0)
      .select(col("tok"), col("cls"), col("h"), col("ch"))
      .localCheckpoint()
    // per-holdout training vocabulary: one bounded collect (≤|S|+1 rows)
    val vMap = cellH.groupBy(col("h"))
      .agg(countDistinct(col("tok")).as("v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // (lang, h) model ledger on the driver; zero-doc classes excluded
    // per holdout by rule; holdouts with no surviving vocab drop
    val ledgerRows: Seq[(String, String, Long, Long, Long, Long)] = for {
      lang <- L.classes
      h <- holdouts
      if vMap.contains(h)
      (ns, ds) = L(Some(lang))
      (nsh, dsh) = if (h == FULL) (0L, 0L) else L(Some(lang), Some(h))
      nsl = ns - nsh
      dsl = ds - dsh
      if dsl > 0
      v = vMap(h)
      ddh = dd - (if (h == FULL) 0L else L(None, Some(h))._2)
    } yield (lang, h, nsl, v, NaiveBayes.log7(nsl + v), NaiveBayes.log7(ddh, dsl))
    val ledger = ledgerRows.toDF("cls", "h", "nsl", "v", "u7", "prior7")
    val scored = cellH
      .join(broadcast(ledger.select(col("cls"), col("h"), col("nsl"),
        col("v"))), Seq("cls", "h"))
      .withColumn("n7", NaiveBayes.n7(col("nsl") + col("v"), col("ch") + lit(1L)))
      .select(col("tok"), col("cls"), col("h"), col("n7"))
    val seen = NaiveBayes.seen(evTok, scored, Seq("tok"))
    // per-(doc, holdout) argmin stays a window: with only |langs| rows per
    // (doc, h) group, a min-of-struct aggregate's partial row reduction
    // does not pay for its extra map-side sort of the fan-out frame
    // (SortAggregate: a struct buffer is not hash-aggregable) — window
    // 2.42 s vs aggregate 3.44 s, min-of-7 at sf0.1 on 32 cores
    val wArg = Window.partitionBy(col("doc_id"), col("h"))
      .orderBy(col("nll7"), col("cls"))
    val acc = NaiveBayes.perDoc(evTok)
      .crossJoin(broadcast(ledger.select(col("cls"), col("h"),
        col("u7"), col("prior7"))))
      .join(seen, Seq("doc_id", "cls", "h"), "left")
      .withColumn("nll7", NaiveBayes.nll7())
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("cls") === col("lang"), 1L).otherwise(0L)).as("n_corr"))
      // an empty eval split makes accuracy undefined: fail loudly
      // (DuckDB's // errors on 0 on its own — same loud outcome)
      .withColumn("acc_ppm", expr(
        """case when n_eval = 0
             then cast(raise_error('q292: empty eval split') as bigint)
             else n_corr * 1000000 div n_eval end"""))
    // the (|S|+1)-row accuracy ledger is read twice (full row + the
    // per-source join) — COLLECT it (bounded by |S|+1 at any corpus
    // scale): the whole scoring pass runs once and both consumers
    // become LocalRelations; the raise_error tripwire executes at the
    // collect. Per-source train counts come from the cube collect — no
    // extra train scan.
    val accRows = acc.select(col("h"), col("acc_ppm")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val accFullPpm = accRows(FULL)
    val accLocal = broadcast(accRows.toSeq.sorted
      .toDF("source", "acc_loso_raw"))
    val trainBySrc = broadcast(srcs.map(src => src -> L(None, Some(src))._2)
      .toDF("source", "n_train_docs"))
    documents(s, d).select(col("source")).distinct()
      .join(trainBySrc, Seq("source"), "left")
      .join(accLocal, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        lit(accFullPpm).as("acc_full_ppm"),
        // no train docs ⇒ removing the source is a no-op by rule
        coalesce(col("acc_loso_raw"), lit(accFullPpm)).as("acc_loso_ppm"),
        (coalesce(col("acc_loso_raw"), lit(accFullPpm))
          - lit(accFullPpm)).as("delta_ppm"))
      .orderBy(col("source"))
  }

  val o292: String = """
    WITH docs AS (
      SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10 = 0
        AS ev
      FROM documents),
    train AS (SELECT * FROM docs WHERE NOT ev),
    evl AS (SELECT * FROM docs WHERE ev),
    occ AS (
      SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS tok
      FROM train),
    cellS AS (
      SELECT tok, lang, source, CAST(COUNT(*) AS BIGINT) AS cs
      FROM occ GROUP BY 1, 2, 3),
    cell AS (
      SELECT tok, lang, CAST(SUM(cs) AS BIGINT) AS c
      FROM cellS GROUP BY 1, 2),
    hs AS (
      SELECT DISTINCT source AS h FROM train
      UNION ALL SELECT '__full__'),
    cellH AS (
      SELECT cell.tok, cell.lang, hs.h,
        c - COALESCE(cs, 0) AS ch
      FROM cell CROSS JOIN hs
      LEFT JOIN cellS ON cellS.tok = cell.tok AND cellS.lang = cell.lang
        AND cellS.source = hs.h
      WHERE c - COALESCE(cs, 0) > 0),
    clsall AS (
      SELECT doc_id, lang, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM train),
    clstot AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS ns,
        CAST(COUNT(*) AS BIGINT) AS ds
      FROM clsall GROUP BY 1),
    clsbysrc AS (
      SELECT lang, source AS h, CAST(SUM(n_tok) AS BIGINT) AS nsh,
        CAST(COUNT(*) AS BIGINT) AS dsh
      FROM clsall GROUP BY 1, 2),
    vh AS (
      SELECT h, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      FROM cellH GROUP BY 1),
    ddh AS (
      SELECT hs.h,
        (SELECT COUNT(*) FROM train)
          - CASE WHEN hs.h = '__full__' THEN 0
            ELSE COALESCE(dh, 0) END AS ddh
      FROM hs LEFT JOIN (
        SELECT h, CAST(SUM(dsh) AS BIGINT) AS dh FROM clsbysrc GROUP BY 1
      ) agg ON agg.h = hs.h),
    ledger AS (
      SELECT clstot.lang AS cls, hs.h,
        ns - CASE WHEN hs.h = '__full__' THEN 0
          ELSE COALESCE(nsh, 0) END AS nsl,
        ds - CASE WHEN hs.h = '__full__' THEN 0
          ELSE COALESCE(dsh, 0) END AS dsl,
        v, ddh.ddh AS ddh
      FROM clstot CROSS JOIN hs
      LEFT JOIN clsbysrc ON clsbysrc.lang = clstot.lang
        AND clsbysrc.h = hs.h
      JOIN vh ON vh.h = hs.h
      JOIN ddh ON ddh.h = hs.h
      WHERE ds - CASE WHEN hs.h = '__full__' THEN 0
        ELSE COALESCE(dsh, 0) END > 0),
    ledger7 AS (
      SELECT cls, h, nsl, v,
        CAST(FLOOR(ln((nsl + v)::DOUBLE) * 1e7) AS BIGINT) AS u7,
        CAST(FLOOR(ln(ddh::DOUBLE / dsl::DOUBLE) * 1e7) AS BIGINT) AS prior7
      FROM ledger),
    scored AS (
      SELECT tok, cls, ledger7.h AS h,
        CAST(FLOOR(ln((nsl + v)::DOUBLE / (ch + 1)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM cellH JOIN ledger7 ON cellH.lang = ledger7.cls
        AND cellH.h = ledger7.h),
    eocc AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM evl),
    seen AS (
      SELECT doc_id, cls, h, CAST(SUM(n7) AS BIGINT) AS s7,
        CAST(COUNT(*) AS BIGINT) AS n_seen
      FROM eocc JOIN scored USING (tok) GROUP BY 1, 2, 3),
    perdoc AS (
      SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM evl),
    nll AS (
      SELECT perdoc.doc_id, perdoc.lang, ledger7.cls, ledger7.h,
        COALESCE(s7, 0) + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7
          AS nll7
      FROM perdoc CROSS JOIN ledger7
      LEFT JOIN seen ON seen.doc_id = perdoc.doc_id
        AND seen.cls = ledger7.cls AND seen.h = ledger7.h),
    pick AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, h
        ORDER BY nll7, cls) AS rn
      FROM nll),
    acc AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS n_eval,
        CAST(SUM(CASE WHEN cls = lang THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) AS BIGINT) AS acc_ppm
      FROM pick WHERE rn = 1 GROUP BY h),
    accfull AS (
      SELECT acc_ppm AS acc_full_ppm FROM acc WHERE h = '__full__'),
    trainbysrc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train_docs
      FROM train GROUP BY 1)
    SELECT src.source AS source,
      CAST(COALESCE(n_train_docs, 0) AS BIGINT) AS n_train_docs,
      CAST(acc_full_ppm AS BIGINT) AS acc_full_ppm,
      CAST(COALESCE(acc.acc_ppm, acc_full_ppm) AS BIGINT) AS acc_loso_ppm,
      CAST(COALESCE(acc.acc_ppm, acc_full_ppm) - acc_full_ppm AS BIGINT)
        AS delta_ppm
    FROM (SELECT DISTINCT source FROM documents) src
    LEFT JOIN trainbysrc USING (source)
    LEFT JOIN acc ON acc.h = src.source
    CROSS JOIN accfull
    ORDER BY source"""

  // ---- q299: Neyman allocation with largest-remainder apportionment ----

  /** Total sample budget q299 apportions across sources. */
  val NEYMAN_BUDGET = 1000L

  /** q299: NEYMAN-OPTIMAL stratified sampling design — given a fixed
    * annotation/eval budget B, how many documents to draw from each
    * source to minimize the variance of the corpus-level estimate:
    * n_h ∝ N_h·S_h (big and internally-varied strata earn more
    * samples). The identity that keeps it exact: N_h·S_h =
    * √(N_h·Σy² − (Σy)²) — ONE IEEE sqrt of one exact int64 per
    * stratum (the q221 allowance), scaled ⌊·10³⌋ into an integer
    * weight. Fractional quotas become integer counts by HAMILTON'S
    * largest-remainder method — the apportionment primitive shard
    * balancers and seat allocators share: base = ⌊B·w_h/Σw⌋, the
    * B − Σbase leftover seats go to the largest remainders (ties by
    * source name), so Σ alloc == B EXACTLY, by construction, in both
    * engines.
    *
    * Scale shape: one (source) moment aggregate (count/Σy/Σy²), then
    * pure |sources|-row ledger arithmetic — the remainder rank is a
    * window over that ledger. A degenerate all-constant stratum gets
    * w = 0 and can only receive leftover seats (documented; never a
    * divide-by-zero because Σw = 0 trips raise_error — a corpus where
    * NO stratum varies has no Neyman design). */
  def q299NeymanAlloc(s: SparkSession, d: String): DataFrame = {
    val mom = documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("w", expr(
        "cast(floor(sqrt(cast(n_docs * syy - sy * sy as double)) * 1000) as bigint)"))
    val tot = mom.agg(sum(col("w")).as("sw"))
    val quota = mom.crossJoin(broadcast(tot))
      .withColumn("base", expr(
        s"""case when sw = 0
             then cast(raise_error('q299: zero total weight - no Neyman design') as bigint)
             else $NEYMAN_BUDGET * w div sw end"""))
      .withColumn("rem", expr(s"$NEYMAN_BUDGET * w % sw"))
    val leftover = quota.agg((lit(NEYMAN_BUDGET) - sum(col("base")))
      .as("seats"))
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    quota.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("extra", when(col("rk") <= col("seats"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("w"), col("base"),
        col("extra"), (col("base") + col("extra")).as("alloc"))
      .orderBy(col("source"))
  }

  val o299: String = s"""
    WITH mom AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS syy
      FROM (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS y
            FROM documents)
      GROUP BY 1),
    wtab AS (
      SELECT source, n_docs,
        CAST(FLOOR(sqrt((n_docs * syy - sy * sy)::DOUBLE) * 1000) AS BIGINT)
          AS w
      FROM mom),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM wtab),
    quota AS (
      SELECT source, n_docs, w,
        CAST(CASE WHEN sw = 0
          THEN error('q299: zero total weight - no Neyman design')
          ELSE $NEYMAN_BUDGET * w // sw END AS BIGINT) AS base,
        CAST($NEYMAN_BUDGET * w % sw AS BIGINT) AS rem
      FROM wtab CROSS JOIN tot),
    seats AS (
      SELECT $NEYMAN_BUDGET - CAST(SUM(base) AS BIGINT) AS seats FROM quota),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota)
    SELECT source, n_docs, w, base,
      CAST(CASE WHEN rk <= seats THEN 1 ELSE 0 END AS BIGINT) AS extra,
      CAST(base + CASE WHEN rk <= seats THEN 1 ELSE 0 END AS BIGINT)
        AS alloc
    FROM ranked CROSS JOIN seats
    ORDER BY source"""

  // ---- q302: split-conformal prediction sets ----

  /** Miscoverage grid for q302, in milli (α = 0.1, 0.2). */
  val CONF_ALPHAS: Seq[Long] = Seq(100L, 200L)

  /** q302: SPLIT-CONFORMAL prediction — the distribution-free
    * uncertainty quantifier: calibrate a nonconformity threshold on a
    * held-out split so that eval-time prediction SETS {class : score ≤
    * τ_α} cover the true label with probability ≥ 1−α (marginal,
    * Vovk/Papadopoulos; no model assumptions). The classifier is the
    * q292-style NB over LANG trained on the 60% remainder of a
    * three-way md5 split (cal 20% / eval 20% / train 60%);
    * nonconformity = per-token integer NLL (nll7 div n_tok — length
    * normalization keeps the score exchangeable across doc sizes);
    * τ_α = the ⌈(n_cal+1)(1−α)⌉-th smallest calibration score with
    * ceiling done in exact integer arithmetic. Output per α: the
    * threshold ledger, realized coverage ppm and mean prediction-set
    * size (the efficiency/coverage trade a deployment reads).
    *
    * Scale shape: ONE trained model (the `NaiveBayes` kernel: one
    * corpus explode whose train and held-out splits are filters, a
    * driver-side class ledger, a vocab-bounded score table), scored
    * over the two held-out splits only; the
    * calibration rank is a single window over the calibration scores —
    * bounded BY DESIGN (split-conformal's whole point is that a few
    * thousand calibration points suffice; the split fraction is the
    * knob). A calibration doc whose class vanished from training
    * would carry ∞ nonconformity — excluded by the ledger join by
    * rule in both engines (can't fire while every lang survives the
    * 60% split). */
  def q302Conformal(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).withColumn("sp",
      expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 5"))
    // one explode of the corpus; the train and held-out splits are
    // filters of the collapsed frame
    val docTok = NaiveBayes.tokenCounts(docs, col("sp"), col("lang"))
    val trainTok = docTok.filter(col("sp") >= 2)
    val heldTok = docTok.filter(col("sp") <= 1)
    val led = NaiveBayes.ledger(NaiveBayes.perDoc(trainTok), "lang")
    val vocab = NaiveBayes.vocab(trainTok)
    val cnt = NaiveBayes.cells(trainTok, "lang", "c")
    val v = vocab()
    val L = led()
    val dd = L(None)._2
    import s.implicits._
    val ledger = L.classes.map { cls =>
      val (ns, ds) = L(Some(cls))
      (cls, ns, NaiveBayes.log7(ns + v), NaiveBayes.log7(dd, ds))
    }.toDF("cls", "ns", "u7", "prior7")
    val scored = cnt.join(broadcast(ledger.select(col("cls"), col("ns"))),
        Seq("cls"))
      .withColumn("n7", NaiveBayes.n7(col("ns") + lit(v), col("c") + lit(1L)))
      .select(col("tok"), col("cls"), col("n7"))
    val seen = NaiveBayes.seen(heldTok, scored, Seq("tok"))
    // per-token nonconformity score for every (held doc, class)
    val scores = NaiveBayes.perDoc(heldTok)
      .crossJoin(broadcast(ledger.select(col("cls"), col("u7"), col("prior7"))))
      .join(seen, Seq("doc_id", "cls"), "left")
      .withColumn("nll7", NaiveBayes.nll7())
      .withColumn("score", expr("nll7 div n_tok"))
      .select(col("doc_id"), col("sp"), col("lang"), col("cls"),
        col("score"))
      .localCheckpoint()
    // calibration ranks: true-class scores, single window BY DESIGN
    val cal = scores.filter(col("sp") === 0 && col("cls") === col("lang"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score"), col("doc_id"))))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val alphas = s.createDataFrame(CONF_ALPHAS.map(Tuple1(_)))
      .toDF("alpha_milli")
    val kTab = alphas.crossJoin(broadcast(nCal))
      .withColumn("k_rank", expr(
        "((n_cal + 1) * (1000 - alpha_milli) + 999) div 1000"))
    val thresh = kTab.join(cal.select(col("rn").as("k_rank"), col("score")
        .as("thresh_score")), Seq("k_rank"))
      .select(col("alpha_milli"), col("n_cal"), col("k_rank"),
        col("thresh_score"))
      .localCheckpoint()
    val evalSets = scores.filter(col("sp") === 1)
      .crossJoin(broadcast(thresh.select(col("alpha_milli"),
        col("thresh_score"))))
      .withColumn("inc", when(col("score") <= col("thresh_score"), 1L)
        .otherwise(0L))
      .groupBy(col("doc_id"), col("alpha_milli"))
      .agg(sum(col("inc")).as("set_size"),
        max(when(col("cls") === col("lang"), col("inc")).otherwise(0L))
          .as("covered"))
    evalSets.groupBy(col("alpha_milli"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("covered")).as("n_covered"),
        sum(col("set_size")).as("tot_set"))
      .join(broadcast(thresh), Seq("alpha_milli"))
      .select(col("alpha_milli"), col("n_cal"), col("k_rank"),
        col("thresh_score"), col("n_eval"),
        expr("n_covered * 1000000 div n_eval").as("coverage_ppm"),
        expr("tot_set * 1000 div n_eval").as("avg_set_milli"))
      .orderBy(col("alpha_milli"))
  }

  val o302: String = s"""
    WITH docs AS (
      SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 5
        AS sp
      FROM documents),
    train AS (SELECT * FROM docs WHERE sp >= 2),
    held AS (SELECT * FROM docs WHERE sp <= 1),
    occ AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM train),
    cnt AS (
      SELECT tok, lang AS cls, CAST(COUNT(*) AS BIGINT) AS c
      FROM occ GROUP BY 1, 2),
    clstot AS (
      SELECT lang AS cls, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
          AS ns,
        CAST(COUNT(*) AS BIGINT) AS ds
      FROM train GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cnt),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM train),
    ledger AS (
      SELECT cls, ns, v,
        CAST(FLOOR(ln((ns + v)::DOUBLE) * 1e7) AS BIGINT) AS u7,
        CAST(FLOOR(ln(dd::DOUBLE / ds::DOUBLE) * 1e7) AS BIGINT) AS prior7
      FROM clstot CROSS JOIN vocab CROSS JOIN dtot),
    scored AS (
      SELECT tok, cnt.cls,
        CAST(FLOOR(ln((ns + v)::DOUBLE / (c + 1)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM cnt JOIN ledger ON cnt.cls = ledger.cls),
    hdocs AS (
      SELECT doc_id, sp, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM held),
    htok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM held)
      GROUP BY 1, 2),
    seen AS (
      SELECT doc_id, cls, CAST(SUM(n * n7) AS BIGINT) AS s7,
        CAST(SUM(n) AS BIGINT) AS n_seen
      FROM htok JOIN scored USING (tok) GROUP BY 1, 2),
    scores AS (
      SELECT hdocs.doc_id, sp, lang, ledger.cls,
        CAST((COALESCE(s7, 0) + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7)
          // n_tok AS BIGINT) AS score
      FROM hdocs CROSS JOIN ledger
      LEFT JOIN seen ON seen.doc_id = hdocs.doc_id
        AND seen.cls = ledger.cls),
    cal AS (
      SELECT score, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn
      FROM scores WHERE sp = 0 AND cls = lang),
    ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    alphas AS (SELECT CAST(unnest([${CONF_ALPHAS.mkString(", ")}])
      AS BIGINT) AS alpha_milli),
    ktab AS (
      SELECT alpha_milli, n_cal,
        ((n_cal + 1) * (1000 - alpha_milli) + 999) // 1000 AS k_rank
      FROM alphas CROSS JOIN ncal),
    thresh AS (
      SELECT alpha_milli, n_cal, k_rank, score AS thresh_score
      FROM ktab JOIN cal ON cal.rn = ktab.k_rank),
    evalsets AS (
      SELECT doc_id, alpha_milli,
        CAST(SUM(CASE WHEN score <= thresh_score THEN 1 ELSE 0 END)
          AS BIGINT) AS set_size,
        CAST(MAX(CASE WHEN cls = lang AND score <= thresh_score
          THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM scores CROSS JOIN thresh
      WHERE sp = 1
      GROUP BY 1, 2)
    SELECT thresh.alpha_milli AS alpha_milli,
      CAST(n_cal AS BIGINT) AS n_cal, CAST(k_rank AS BIGINT) AS k_rank,
      CAST(thresh_score AS BIGINT) AS thresh_score,
      CAST(COUNT(*) AS BIGINT) AS n_eval,
      CAST(SUM(covered) * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm,
      CAST(SUM(set_size) * 1000 // COUNT(*) AS BIGINT) AS avg_set_milli
    FROM evalsets JOIN thresh ON thresh.alpha_milli = evalsets.alpha_milli
    GROUP BY 1, 2, 3, 4 ORDER BY alpha_milli"""

  // ---- q300: McNemar paired model comparison ----

  /** The two Laplace strengths q300 compares (endpoints of q287's
    * sweep grid). */
  val MCN_A1 = 1L
  val MCN_A4 = 4L

  /** q300: McNEMAR'S paired test between two classifiers — the
    * model-COMPARISON eval card the accuracy tables (q245, q287)
    * can't give: two models with identical accuracy can disagree on
    * many documents, and only the DISCORDANT pairs b (model A right,
    * B wrong) and c (the reverse) carry evidence that one is better.
    * Compares the q285 NB source classifier at α=1 vs α=4 (both
    * trained and scored on the full corpus — a resubstitution
    * comparison, q294 stance), emits the full 2×2 concordance ledger
    * and the McNemar statistic (b−c)²·10³ div (b+c) in milli (χ²₁
    * under H0); two models that never disagree have no testable
    * difference — mcnemar_milli = −1 sentinel, not an error.
    *
    * Scale shape: the `NaiveBayes` kernel's count model with K=1,
    * |α|=2 — ONE count pass, a |cls|-row wide model ledger, a
    * vocab-bounded score table, one fan-out join, one min-of-struct
    * argmin aggregate per doc for both α, one 1-row concordance
    * aggregate. */
  def q300Mcnemar(s: SparkSession, d: String): DataFrame = {
    val docTok = NaiveBayes.tokenCounts(documents(s, d), col("source"))
    val docLedger = NaiveBayes.perDoc(docTok)
    val led = NaiveBayes.ledger(docLedger, "source")
    val vocab = NaiveBayes.vocab(docTok)
    val cnt = NaiveBayes.cells(docTok, "source", "c")
    val v = vocab()
    val L = led()
    val dd = L(None)._2
    // WIDE |cls|-row model ledger on the driver: one row per cls
    // carrying BOTH alphas' (den, u7) — score-row existence is
    // alpha-independent, so the pivot is total
    val ledgerRows: Seq[(String, Long, Long, Long, Long, Long)] = for {
      cls <- L.classes
      (ns, ds) = L(Some(cls))
      den1 = ns + MCN_A1 * v
      den4 = ns + MCN_A4 * v
    } yield (cls, den1, den4, NaiveBayes.log7(den1, MCN_A1),
      NaiveBayes.log7(den4, MCN_A4), NaiveBayes.log7(dd, ds))
    import s.implicits._
    val ledger = ledgerRows.toDF("cls", "den_1", "den_4", "u7_1", "u7_4",
      "prior7")
    val scored = cnt
      .join(broadcast(ledger.select(col("cls"), col("den_1"), col("den_4"))),
        Seq("cls"))
      .select(col("tok"), col("cls"),
        NaiveBayes.n7(col("den_1"), col("c") + lit(MCN_A1)).as("n7_1"),
        NaiveBayes.n7(col("den_4"), col("c") + lit(MCN_A4)).as("n7_4"))
    // ONE scoring pass for both alphas: |cls| fan-out per distinct
    // (doc, tok), both alphas' sums as extra agg columns
    val seen = NaiveBayes.seen(docTok, scored, Seq("tok"))
    // per-doc argmin as a min over an orderable struct ordered (nll7, cls)
    // — the oracle's row_number(orderBy(nll7, cls)) = 1 pick (cls is
    // unique within a doc, so the trailing rt field never decides) — so
    // the partial aggregate collapses the |cls| rows per doc before the
    // exchange (SortAggregate: a struct buffer is not hash-aggregable)
    def argminRight(a: Long) = min(struct(col(s"nll7_$a"), col("cls"),
      when(col("cls") === col("source"), 1L).otherwise(0L).as("rt")))
      .getField("rt")
    val pred = docLedger
      .crossJoin(broadcast(ledger.select(col("cls"), col("u7_1"),
        col("u7_4"), col("prior7"))))
      .join(seen, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("source"), col("cls"),
        NaiveBayes.nll7(s"_$MCN_A1").as(s"nll7_$MCN_A1"),
        NaiveBayes.nll7(s"_$MCN_A4").as(s"nll7_$MCN_A4"))
      .groupBy(col("doc_id"))
      .agg(argminRight(MCN_A1).as("r1"), argminRight(MCN_A4).as("r4"))
    pred.agg(count(lit(1)).as("n_docs"),
        sum(when(col("r1") === 1L && col("r4") === 1L, 1L).otherwise(0L))
          .as("n_both_right"),
        sum(when(col("r1") === 0L && col("r4") === 0L, 1L).otherwise(0L))
          .as("n_both_wrong"),
        sum(when(col("r1") === 1L && col("r4") === 0L, 1L).otherwise(0L))
          .as("b_a1_only"),
        sum(when(col("r1") === 0L && col("r4") === 1L, 1L).otherwise(0L))
          .as("c_a4_only"))
      .withColumn("mcnemar_milli", expr(
        """case when b_a1_only + c_a4_only = 0 then -1
             else (b_a1_only - c_a4_only) * (b_a1_only - c_a4_only) * 1000
               div (b_a1_only + c_a4_only) end"""))
  }

  val o300: String = s"""
    WITH occ AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    cnt AS (
      SELECT tok, source AS cls, CAST(COUNT(*) AS BIGINT) AS c
      FROM occ GROUP BY 1, 2),
    docledger AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    clstot AS (
      SELECT source AS cls, CAST(SUM(n_tok) AS BIGINT) AS ns,
        CAST(COUNT(*) AS BIGINT) AS ds
      FROM docledger GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cnt),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM documents),
    alphas AS (SELECT CAST(unnest([$MCN_A1, $MCN_A4]) AS BIGINT) AS alpha),
    ledger AS (
      SELECT cls, alpha, ns + alpha * v AS den,
        CAST(FLOOR(ln((ns + alpha * v)::DOUBLE / alpha::DOUBLE) * 1e7)
          AS BIGINT) AS u7,
        CAST(FLOOR(ln(dd::DOUBLE / ds::DOUBLE) * 1e7) AS BIGINT) AS prior7
      FROM clstot CROSS JOIN vocab CROSS JOIN dtot CROSS JOIN alphas),
    scored AS (
      SELECT tok, cnt.cls, alpha,
        CAST(FLOOR(ln(den::DOUBLE / (c + alpha)::DOUBLE) * 1e7) AS BIGINT)
          AS n7
      FROM cnt JOIN ledger ON cnt.cls = ledger.cls),
    doctok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM occ GROUP BY 1, 2),
    seen AS (
      SELECT doc_id, cls, alpha, CAST(SUM(n * n7) AS BIGINT) AS s7,
        CAST(SUM(n) AS BIGINT) AS n_seen
      FROM doctok JOIN scored USING (tok) GROUP BY 1, 2, 3),
    nll AS (
      SELECT docledger.doc_id, docledger.source, ledger.cls, ledger.alpha,
        COALESCE(s7, 0) + (n_tok - COALESCE(n_seen, 0)) * u7 + prior7
          AS nll7
      FROM docledger CROSS JOIN ledger
      LEFT JOIN seen ON seen.doc_id = docledger.doc_id
        AND seen.cls = ledger.cls AND seen.alpha = ledger.alpha),
    pick AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, alpha
        ORDER BY nll7, cls) AS rn
      FROM nll),
    pred AS (
      SELECT doc_id,
        MAX(CASE WHEN alpha = $MCN_A1 AND cls = source THEN 1 ELSE 0 END)
          AS r1,
        MAX(CASE WHEN alpha = $MCN_A4 AND cls = source THEN 1 ELSE 0 END)
          AS r4
      FROM pick WHERE rn = 1 GROUP BY doc_id),
    cc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN r1 = 1 AND r4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_both_right,
        CAST(SUM(CASE WHEN r1 = 0 AND r4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_both_wrong,
        CAST(SUM(CASE WHEN r1 = 1 AND r4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS b_a1_only,
        CAST(SUM(CASE WHEN r1 = 0 AND r4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS c_a4_only
      FROM pred)
    SELECT *, CAST(CASE WHEN b_a1_only + c_a4_only = 0 THEN -1
      ELSE (b_a1_only - c_a4_only) * (b_a1_only - c_a4_only) * 1000
        // (b_a1_only + c_a4_only) END AS BIGINT) AS mcnemar_milli
    FROM cc"""

  // ---- q290: pairwise-preference data card (Copeland / Borda) ----

  /** Neighbor-pairing hash blocks for q290. The knob is the window
    * parallelism control: a block is one executor-local sort, so
    * production sizes it to ~1e6 docs/block; it is part of the query
    * definition (like SNM_WINDOW) — comparisons change with it, the
    * tournament laws (conservation, antisymmetry) do not. */
  val PREF_BLOCKS = 16L

  /** q290: source-level PREFERENCE data card — the RLHF-dataset audit
    * shape: deterministic pairwise matches between documents of
    * DIFFERENT sources, winner = higher q36 quality (exact q_micro
    * integers; equal → tie), tallied into a source tournament ledger:
    * wins / losses / ties (Borda count ≡ wins), Copeland score
    * (2·opponents-beaten + head-to-head draws, over opponents actually
    * drawn), and win-rate ppm. Matches are generated SNM-style (q283):
    * md5-shuffled order inside PREF_BLOCKS hash blocks, each doc
    * compared to its lead(1) neighbor — ≤ n−B comparisons, LINEAR in
    * the corpus, never the all-pairs round-robin. Same-source neighbor
    * pairs are dropped (a source playing itself says nothing about
    * mixture preference).
    *
    * Scale shape: ONE window over hash blocks, one (s, o) aggregate
    * (≤|sources|² rows), ledger arithmetic after; the final
    * all-sources left join keeps never-drawn sources visible with
    * win_ppm = −1 (legitimately-empty sentinel, not an error). */
  def q290PreferenceCard(s: SparkSession, d: String): DataFrame = {
    val docs = TextOps.withQuality(documents(s, d))
      .select(col("doc_id"), col("source"),
        expr("cast(round(quality * 1000000) as bigint)").as("q_micro"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("blk",
        expr(s"cast(conv(substr(h, 1, 6), 16, 10) as bigint) % $PREF_BLOCKS"))
    val w = Window.partitionBy(col("blk")).orderBy(col("h"), col("doc_id"))
    val pairs = docs
      .withColumn("o", lead(col("source"), 1).over(w))
      .withColumn("oq", lead(col("q_micro"), 1).over(w))
      .filter(col("o").isNotNull && col("o") =!= col("source"))
    val cells = pairs.select(col("source").as("s"), col("o"),
        when(col("q_micro") > col("oq"), 1L).otherwise(0L).as("win"),
        when(col("q_micro") < col("oq"), 1L).otherwise(0L).as("loss"),
        when(col("q_micro") === col("oq"), 1L).otherwise(0L).as("tie"))
      .unionAll(pairs.select(col("o").as("s"), col("source").as("o"),
        when(col("oq") > col("q_micro"), 1L).otherwise(0L).as("win"),
        when(col("oq") < col("q_micro"), 1L).otherwise(0L).as("loss"),
        when(col("oq") === col("q_micro"), 1L).otherwise(0L).as("tie")))
    val duo = cells.groupBy(col("s"), col("o"))
      .agg(count(lit(1)).as("n"), sum(col("win")).as("w"),
        sum(col("loss")).as("l"), sum(col("tie")).as("t"))
    val card = duo.groupBy(col("s"))
      .agg(sum(col("n")).as("n_cmp"), sum(col("w")).as("wins"),
        sum(col("l")).as("losses"), sum(col("t")).as("ties"),
        sum(when(col("w") > col("l"), 2L)
          .when(col("w") === col("l"), 1L).otherwise(0L)).as("copeland2"))
    documents(s, d).select(col("source")).distinct()
      .join(card, col("source") === col("s"), "left")
      .select(col("source"),
        coalesce(col("n_cmp"), lit(0L)).as("n_cmp"),
        coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("losses"), lit(0L)).as("losses"),
        coalesce(col("ties"), lit(0L)).as("ties"),
        coalesce(col("copeland2"), lit(0L)).as("copeland2"),
        coalesce(expr("wins * 1000000 div n_cmp"), lit(-1L)).as("win_ppm"))
      .orderBy(col("source"))
  }

  val o290: String = s"""
    WITH dd AS (
      SELECT doc_id, source,
        CAST(ROUND(${TextOps.ORA_QUALITY} * 1000000) AS BIGINT) AS q_micro,
        md5(doc_id::VARCHAR) AS h
      FROM documents),
    bb AS (
      SELECT *, ('0x' || substr(h, 1, 6))::BIGINT % $PREF_BLOCKS AS blk
      FROM dd),
    pr AS (
      SELECT source AS sa, q_micro AS qa,
        lead(source) OVER w AS sb, lead(q_micro) OVER w AS qb
      FROM bb WINDOW w AS (PARTITION BY blk ORDER BY h, doc_id)),
    pf AS (SELECT * FROM pr WHERE sb IS NOT NULL AND sb <> sa),
    cells AS (
      SELECT sa AS s, sb AS o,
        CASE WHEN qa > qb THEN 1 ELSE 0 END AS win,
        CASE WHEN qa < qb THEN 1 ELSE 0 END AS loss,
        CASE WHEN qa = qb THEN 1 ELSE 0 END AS tie
      FROM pf
      UNION ALL
      SELECT sb, sa,
        CASE WHEN qb > qa THEN 1 ELSE 0 END,
        CASE WHEN qb < qa THEN 1 ELSE 0 END,
        CASE WHEN qa = qb THEN 1 ELSE 0 END
      FROM pf),
    duo AS (
      SELECT s, o, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(win) AS BIGINT) AS w, CAST(SUM(loss) AS BIGINT) AS l,
        CAST(SUM(tie) AS BIGINT) AS t
      FROM cells GROUP BY s, o),
    card AS (
      SELECT s, SUM(n) AS n_cmp, SUM(w) AS wins, SUM(l) AS losses,
        SUM(t) AS ties,
        SUM(CASE WHEN w > l THEN 2 WHEN w = l THEN 1 ELSE 0 END) AS copeland2
      FROM duo GROUP BY s)
    SELECT src.source AS source,
      CAST(COALESCE(n_cmp, 0) AS BIGINT) AS n_cmp,
      CAST(COALESCE(wins, 0) AS BIGINT) AS wins,
      CAST(COALESCE(losses, 0) AS BIGINT) AS losses,
      CAST(COALESCE(ties, 0) AS BIGINT) AS ties,
      CAST(COALESCE(copeland2, 0) AS BIGINT) AS copeland2,
      CAST(COALESCE(wins * 1000000 // n_cmp, -1) AS BIGINT) AS win_ppm
    FROM (SELECT DISTINCT source FROM documents) src
    LEFT JOIN card ON src.source = card.s
    ORDER BY source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q299_neyman_alloc"    -> (q299NeymanAlloc _),
    "q300_mcnemar"         -> (q300Mcnemar _),
    "q302_conformal"       -> (q302Conformal _),
    "q292_loso_value"      -> (q292LosoValue _),
    "q290_preference_card" -> (q290PreferenceCard _),
    "q285_nb_source"       -> (q285NbSource _),
    "q287_nb_cv"           -> (q287NbCv _),
    "q275_curriculum_schedule" -> (q275CurriculumSchedule _),
    "q219_crop_pairs"      -> (q219CropPairs _),
    "q216_perceptron"      -> (q216PerceptronQuality _),
    "q262_uncertainty_sample" -> (q262UncertaintySample _),
    "q211_dsir_weights"    -> (q211DsirWeights _),
    "q203_contam_spans"    -> (q203ContamSpans _),
    "q176_containment"     -> (q176Containment _),
    "q171_interleave_mix"  -> (q171InterleaveMix _),
    "q109_priority_sample" -> (q109PrioritySample _),
    "q114_group_sample"    -> (q114GroupSample _),
    "q98_token_budget"     -> (q98TokenBudget _),
    "q224_epoch_budget"    -> (q224EpochBudget _),
    "q230_decontam_scrub"  -> (q230DecontamScrub _),
    "q233_rrf_select"      -> (q233RrfSelect _),
    "q242_kfold_strata"    -> (q242KfoldStrata _),
    "q83_sequence_packing" -> (q83SequencePacking _),
    "q84_mixture_sample"   -> (q84MixtureSample _),
    "q85_decontaminate"    -> (q85Decontaminate _),
    "q96_shard_export"     -> (q96ShardExport _),
    "q86_trainset_build"   -> (q86TrainsetBuild _))

  val oracles: Map[String, String] = Map(
    "q299_neyman_alloc"    -> o299,
    "q300_mcnemar"         -> o300,
    "q302_conformal"       -> o302,
    "q292_loso_value"      -> o292,
    "q290_preference_card" -> o290,
    "q285_nb_source"       -> o285,
    "q287_nb_cv"           -> o287,
    "q275_curriculum_schedule" -> o275,
    "q219_crop_pairs"      -> o219,
    "q216_perceptron"      -> o216,
    "q262_uncertainty_sample" -> o262,
    "q211_dsir_weights"    -> o211,
    "q203_contam_spans"    -> o203,
    "q176_containment"     -> o176,
    "q171_interleave_mix"  -> o171,
    "q83_sequence_packing" -> o83,
    "q84_mixture_sample"   -> o84,
    "q85_decontaminate"    -> o85,
    "q86_trainset_build"   -> o86,
    "q96_shard_export"     -> o96,
    "q98_token_budget"     -> o98,
    "q224_epoch_budget"    -> o224,
    "q230_decontam_scrub"  -> o230,
    "q233_rrf_select"      -> o233,
    "q242_kfold_strata"    -> o242,
    "q109_priority_sample" -> o109,
    "q114_group_sample"    -> o114)
}
