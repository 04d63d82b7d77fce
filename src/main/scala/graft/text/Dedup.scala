package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Deduplication surface for the LLM-data-pipeline extension: exact
  * (hash-groupBy), n-gram Jaccard similarity join, MinHash+LSH, SimHash
  * (SURVEY.md EXT-J6 + north star).
  *
  * Scale design:
  *  - Exact dedup is one hash aggregation on a fingerprint — the only
  *    correct O(n) distributed formulation (dropDuplicates without a
  *    deterministic keeper rule is partitioning-dependent).
  *  - Everything per-document is row-local: shingle sets come from the
  *    codegen ShingleSet expression (one scan, no shuffle), signatures
  *    and set sizes are per-row functions of that array, and candidate
  *    verification intersects the two arrays on the candidate row. The
  *    only corpus-wide shuffles are the inverted-index/bucket keys.
  *  - The Jaccard join is a shingle-inverted-index self-join (a single
  *    reused exchange). At 100 TB add stop-shingle removal (drop
  *    shingles with doc-frequency above a cutoff) — the classic
  *    prefix-filter; candidates here are already bounded (~1.3M pairs
  *    at sf0.1) so no cutoff is applied, keeping the oracle exact.
  *  - MinHash+LSH replaces the all-pairs index join with banded signature
  *    buckets: 48 hashes, 16 bands × 3 rows ⇒ P(candidate | J=0.8) ≈
  *    1 − (1−0.8³)¹⁶ ≈ 1 − 1e-5, P(candidate | J=0.2) ≈ 12%. Candidates
  *    are verified with exact Jaccard, so the output equals the exact
  *    join's at threshold 0.5 (same oracle) while scaling linearly in
  *    corpus size instead of quadratically in the index join.
  */
object Dedup {

  val JACCARD_THRESHOLD = 0.5
  val NUM_HASHES = 48
  val BANDS = 16
  val ROWS_PER_BAND = 3

  /** Per-doc distinct 3-gram shingle ARRAYS — row-local (one scan, zero
    * shuffle). Signatures, set sizes, and pair verification all derive
    * from this column without ever exploding + re-aggregating, which is
    * the 100 TB-relevant property: per-doc state never leaves its row
    * until the (small) candidate or bucket keys shuffle. */
  def shingleArrays(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleSet.shingle_set(col("text")).as("sgs"))
      .filter(size(col("sgs")) > 0)

  /** Distinct (doc_id, 3-gram shingle) pairs — the inverted-index input. */
  def shingles(s: SparkSession, d: String): DataFrame =
    shingleArrays(s, d).select(col("doc_id"), explode(col("sgs")).as("sg"))

  val ORA_SHINGLES = """
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         , unnest(range(1, len(t) - 1)) u(i)
    WHERE len(t) >= 3"""

  /** Exact-verified Jaccard pairs from a candidate set (i < j pairs):
    * two equi-joins pull each side's shingle array onto the candidate
    * row, then |A∩B| is a row-local array_intersect — no exploded
    * re-join, no re-aggregation. AQE broadcasts the (small) candidate
    * side automatically. */
  private def verifyPairs(cand: DataFrame, arr: DataFrame): DataFrame =
    cand
      .join(arr.select(col("doc_id").as("i"), col("sgs").as("si")), Seq("i"))
      .join(arr.select(col("doc_id").as("j"), col("sgs").as("sj")), Seq("j"))
      .select(col("i"), col("j"),
        size(array_intersect(col("si"), col("sj"))).cast("long").as("common"),
        size(col("si")).cast("long").as("ni"),
        size(col("sj")).cast("long").as("nj"))
      .withColumn("jac", col("common").cast("double")
        / (col("ni") + col("nj") - col("common")))
      .filter(col("jac") >= JACCARD_THRESHOLD)
      .select(col("i"), col("j"), col("common"), col("ni"), col("nj"),
              round(col("jac"), 6).as("jaccard"))
      .orderBy(col("i"), col("j"))

  /** Shared CTE list (shingles → pair Jaccard) — reused verbatim by the
    * pair queries (q40/q41) and the clustering oracle (q76). */
  val ORA_PAIR_CTES = s"""sh AS ($ORA_SHINGLES),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sg FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
      GROUP BY i, j),
    jac AS (
      SELECT i, j, common, si.n_sg AS ni, sj.n_sg AS nj,
        CAST(common AS DOUBLE) / (si.n_sg + sj.n_sg - common) AS jac
      FROM common
        JOIN sizes si ON si.doc_id = common.i
        JOIN sizes sj ON sj.doc_id = common.j)"""

  val ORA_JACCARD_PAIRS = s"""
    WITH $ORA_PAIR_CTES
    SELECT i, j, common, ni, nj, ROUND(jac, 6) AS jaccard
    FROM jac WHERE jac >= 0.5 ORDER BY i, j"""

  /** Shared DuckDB connected-components fragment over a `pr(i, j)` pair
    * CTE: symmetric edges → recursive transitive closure → per-node min
    * label (`lab(n, mr)`). Callers must open with WITH RECURSIVE.
    * Reused by o76, o78, and the composed train-set oracle (o86). */
  val ORA_CC_CTES = """edges AS (SELECT i AS a, j AS b FROM pr UNION SELECT j, i FROM pr),
    reach(n, r) AS (
      SELECT a, b FROM edges
      UNION
      SELECT e.a, r.r FROM edges e JOIN reach r ON r.n = e.b),
    lab AS (SELECT n, MIN(r) AS mr FROM reach GROUP BY n)"""

  /** q39: exact dedup via normalized-text fingerprint hash-groupBy. */
  def q39DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("fp", md5(lower(col("text"))))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))

  val o39 = """
    SELECT md5(lower(text)) AS fp, MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents GROUP BY fp ORDER BY keeper_id"""

  /** q40: n-gram Jaccard near-dup join via the shingle inverted index.
    * The intersection size falls straight out of the index self-join
    * (join on shingle → count per pair). On this corpus the direct join
    * beats the prefix-filtered variant (`ppjoinJaccard` below) — the
    * frequent-shingle quadratic term is small at these sizes; at 100 TB
    * with heavy-tailed shingle frequencies the prefix filter wins.
    *
    * No stop-shingle prefilter (candidates only from shingles with
    * df ≤ cutoff, then exact verify): this corpus's ~40-word
    * vocabulary makes nearly every shingle frequent, so a cutoff
    * prunes little while adding a df-join + distinct + verify
    * (measured 5.6 s vs 1.06 s exact at sf0.1; same conclusion as
    * PPJoin). The exact join's floor IS the pair aggregation (1.09 s
    * of the 1.06 s total; scan 0.31 s, min-of-5 stage splits) —
    * intrinsic to exact all-pairs-over-index, which is why the scale
    * story is LSH (q41), not a faster exact join. */
  def q40NgramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(s, shingleArrays(s, d))

  /** The q40 exact pair VERDICT TABLE, materialized once per (session,
    * dataset) — what downstream consumers (q220's agreement audit, the
    * q76 cluster labeling) read. A production pipeline audits the pair
    * lists its engines already produced; it never re-runs both engines
    * to compare them — so consumers get the localCheckpointed table,
    * while q40 itself stays timed as the pair-ENGINE benchmark. */
  def cachedTextPairs(s: SparkSession, d: String): DataFrame =
    perSession(s, s"text-pairs:$d")(
      q40NgramJaccard(s, d).localCheckpoint())

  /** The exact inverted-index Jaccard join over any (doc_id, sgs)
    * DataFrame — q40 runs it on the full corpus; the corpus-curation
    * pipeline (q78) runs it on the filtered survivor set, which is the
    * scale-correct order (shingle AFTER the cheap row-local filters). */
  def jaccardPairs(s: SparkSession, arr: DataFrame): DataFrame = {
    // Inverted-index self-join where both sides are the IDENTICAL
    // subtree (explode → repartition by shingle): ReuseExchange
    // shuffles the postings ONCE and reads them twice, and pairs
    // stream through codegen straight into the partial (i,j)
    // aggregation. Measured (bench harness, same machine, back to
    // back) vs the alternatives: aliased-projection join shuffles the
    // postings twice (~1.7× slower); collect_list posting lists
    // materialize m²/2 pair structs in one row for a shingle shared by
    // m docs — a per-row OOM hazard the streaming join never hits.
    // Set sizes are row-local (no shuffle).
    //
    // The repartition pins an EXPLICIT partition count: the postings
    // shuffle is small in BYTES (~10 MB at sf0.1) so AQE would coalesce
    // it to one partition — but the join's OUTPUT is quadratic in each
    // partition's posting lists, so byte-based coalescing serializes
    // the expensive part onto one core (measured 4.6 s → 0.9 s from
    // this line alone). Classic case of output-heavy operators needing
    // input-size-independent parallelism.
    val sh = arr.select(col("doc_id"), explode(col("sgs")).as("sg"))
      .repartition(shufflePartitions(s), col("sg"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.sg") === col("b.sg")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("common"))
    // Set sizes stay the arr projection (measured r16): deriving them
    // from the postings exchange (groupBy(doc_id).count over sh) is
    // scan-free but adds a doc-keyed shuffle that probed 1.34 s vs
    // 1.12 s for this shape at sf0.1/32c — the two size-only corpus
    // re-scans are column-pruned and cheaper than the extra exchange
    // here, and the pair aggregation (not the scans) is the measured
    // floor of this query (min-of-5 stage splits at sf0.1).
    val sizes = arr.select(col("doc_id"), size(col("sgs")).cast("long").as("n_sg"))
    common
      .join(sizes.select(col("doc_id").as("i"), col("n_sg").as("ni")), Seq("i"))
      .join(sizes.select(col("doc_id").as("j"), col("n_sg").as("nj")), Seq("j"))
      .withColumn("jac", col("common").cast("double")
        / (col("ni") + col("nj") - col("common")))
      .filter(col("jac") >= JACCARD_THRESHOLD)
      .select(col("i"), col("j"), col("common"), col("ni"), col("nj"),
              round(col("jac"), 6).as("jaccard"))
      .orderBy(col("i"), col("j"))
  }

  /** q80 / PPJoin-style prefix-filtered exact Jaccard join — LOSSLESS
    * for threshold τ: shingles globally ordered rarest-first, a document
    * with n shingles indexes only its first n − ⌈τ·n⌉ + 1; any pair
    * with J ≥ τ must collide inside these prefixes. Same output as
    * q40 (shares its oracle, and DedupSpec asserts the equality
    * directly); the scale path when shingle frequencies are
    * heavy-tailed — registered under the gate as q80 so the 100 TB
    * escape hatch is itself oracle-checked, even though on THIS small
    * corpus the direct index join is faster (min-of-5 at sf0.1: 2.65 s vs
    * 0.9 s — tiny vocabulary means prefixes prune little;
    * was 6.45 s before the length+positional filters starved the
    * exact verify from 409k candidates down to 120k). */
  def ppjoinJaccard(s: SparkSession, d: String): DataFrame = {
    val tau = JACCARD_THRESHOLD
    // Shingle arrays materialized ONCE (r16): the un-checkpointed shape
    // re-scanned documents and re-computed shingle_set SIX times in the
    // executed plan (docFreq's input, the prefix join's input, both
    // sides of the candidate self-join via prefixes, and both verify
    // joins) — five extra corpus scans at 100 TB. A real PPJoin
    // materializes its index; the prefix index (a second, prefix-sized
    // checkpoint) is self-joined, so it too is built once.
    val arr = shingleArrays(s, d).localCheckpoint()
    val sh = arr.select(col("doc_id"), explode(col("sgs")).as("sg"))
    val docFreq = sh.groupBy(col("sg")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("sg"))
    val prefixes = sh.join(docFreq, Seq("sg"))
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n_sg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <=
        col("n_sg") - ceil(col("n_sg") * lit(tau)) + 1)
      .select(col("doc_id"), col("sg"), col("pos"), col("n_sg"))
      .localCheckpoint()
    // Candidate generation with PPJoin's two LOSSLESS prunes (profiled:
    // the exact array_intersect verify was ~5 s of the 6.4 s total over
    // 409k candidates of which 256 survive — the filters exist to starve
    // it):
    //  - length filter AT THE JOIN: J >= tau forces
    //    tau * max(ni, nj) <= min(ni, nj);
    //  - positional filter ON THE AGGREGATE: with both docs' shingles in
    //    the same global rarest-first order, matched prefix positions
    //    increase together, so the LAST match (max(pi), max(pj) — both
    //    attained at the same shingle) bounds the total overlap:
    //    c <= cnt + min(ni - max(pi), nj - max(pj)); any common shingle
    //    ordered before the last match sits inside BOTH prefixes and is
    //    already counted, any after it fits in the shorter suffix. Prune
    //    when that bound cannot reach alpha = ceil(tau/(1+tau)*(ni+nj)).
    // The groupBy replaces the old distinct — same shuffle key, now
    // carrying the pruning state instead of discarding it.
    val cand = prefixes.select(col("doc_id").as("i"), col("sg"),
        col("pos").as("pi"), col("n_sg").as("ni"))
      .join(prefixes.select(col("doc_id").as("j"), col("sg"),
        col("pos").as("pj"), col("n_sg").as("nj")), Seq("sg"))
      .filter(col("i") < col("j"))
      .filter(least(col("ni"), col("nj"))
        >= greatest(col("ni"), col("nj")) * lit(tau))
      .groupBy(col("i"), col("j"), col("ni"), col("nj"))
      .agg(count(lit(1)).as("cnt"),
           max(col("pi")).as("mpi"), max(col("pj")).as("mpj"))
      .filter(col("cnt")
          + least(col("ni") - col("mpi"), col("nj") - col("mpj"))
        >= ceil(lit(tau / (1 + tau)) * (col("ni") + col("nj"))))
      .select(col("i"), col("j"))
    verifyPairs(cand, arr)
  }

  val o40 = ORA_JACCARD_PAIRS

  /** Fold one shingle into a NUM_HASHES-minima signature buffer.
    * Two base murmurs + the Kirsch–Mitzenmacher family h_i = h1 + i·h2
    * (mod 2³²): 2 passes over the bytes instead of NUM_HASHES, and the
    * derived family preserves the min-wise property in practice (the
    * band recall math is hash-family-agnostic; q41's output is exact
    * regardless because candidates are verified). */
  private def minhashUpdate(b: Array[Long], sg: String): Array[Long] = {
    val bytes = sg.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0).toLong & 0xffffffffL
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 1).toLong | 1L // odd → full-period
    var i = 0
    while (i < NUM_HASHES) {
      val h = (h1 + i * h2) & 0xffffffffL
      if (h < b(i)) b(i) = h
      i += 1
    }
    b
  }

  /** Row-local MinHash signature of a whole shingle set — when shingles
    * already sit in an array column there is nothing to aggregate: the
    * signature is a per-row function, zero shuffle. */
  def minhashSig(sgs: Seq[String]): Array[Long] =
    sgs.foldLeft(Array.fill(NUM_HASHES)(Long.MaxValue))(minhashUpdate)

  /** q41: MinHash+LSH near-dup join — banded signatures generate the
    * candidate set (linear scale path); exact verification makes the
    * output identical to q40, so it shares the oracle.
    *
    * The equality is margin-based, not universal: with 16 bands × 3
    * rows, P(miss | J) = (1−J³)¹⁶ ≈ 1e-5 at J=0.8 but ≈ 12% at J=0.5.
    * It is exact here because the corpus has a Jaccard margin — every
    * true near-dup pair is ≥ 0.8 and all noise pairs are ≤ 0.2, with
    * nothing near the τ=0.5 threshold (asserted by DedupSpec's
    * "corpus margin" test, which fails loudly if a regenerated corpus
    * ever plants a near-threshold pair). Retuning to 24 bands × 2 rows
    * would push miss(0.5) to 0.1% but raises P(candidate | J=0.2) from
    * 12% to 62% — a near-quadratic verify stage; with the margin
    * asserted, 16×3 is the better operating point. */
  /** Banded MinHash bucket keys `(doc_id, bk)` for any `(doc_id, sgs)`
    * frame — the shared candidate-generation key for the LSH self-join
    * (q41) and the incremental probe join (q99).
    *
    * Codegen MinhashSig expression, not udf(minhashSig _): the udf
    * boxed the whole shingle array per row and broke the
    * WholeStageCodegen span (measured 2.55 s → 5.94 s regression when
    * this line was a udf; see SigFunctions.scala). */
  def bandBuckets(arr: DataFrame): DataFrame = {
    val sigs = arr.select(col("doc_id"),
      graft.functions.MinhashSig.minhash_sig(col("sgs"), NUM_HASHES).as("sig"))
    val bandStructs = (0 until BANDS).map { b =>
      val hs = (0 until ROWS_PER_BAND).map(r =>
        element_at(col("sig"), b * ROWS_PER_BAND + r + 1).as(s"r$r"))
      struct(lit(b).as("band") +: hs: _*)
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
  }

  /** LSH-banded candidates + exact verify over ANY (doc_id, sgs) frame —
    * q41's machinery factored out so composers (q78/q86's curation
    * near-dup stage) can run the linear candidate path on their own
    * survivor sets. Output-identical to `jaccardPairs` whenever the
    * corpus margin holds (DedupSpec asserts the corpus margin; the
    * q41-vs-q40 shared oracle proves the equality every round). */
  def lshVerifiedPairs(s: SparkSession, arr: DataFrame): DataFrame = {
    val buckets = bandBuckets(arr)
    val cand = buckets.select(col("doc_id").as("i"), col("bk"))
      .join(buckets.select(col("doc_id").as("j"), col("bk")), Seq("bk"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()
    verifyPairs(cand, arr)
  }

  def q41MinhashLsh(s: SparkSession, d: String): DataFrame =
    lshVerifiedPairs(s, shingleArrays(s, d))

  val o41 = ORA_JACCARD_PAIRS

  /** 60-bit engine-portable shingle hash: first 15 hex chars of md5,
    * parsed base 16 — identical to Spark's conv(substr(md5(sg),1,15),
    * 16,10) and DuckDB's ('0x'||substr(md5(sg),1,15))::BIGINT. */
  def md5Hash60(sg: String): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = first 7.5 bytes
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
    (h << 4) | ((digest(7) & 0xf0L) >> 4)
  }

  /** Row-local SimHash of a whole shingle set (counterpart of
    * `minhashSig`): per-row function over the array column, zero
    * shuffle. */
  def simhashSig(sgs: Seq[String]): Long = {
    val c = new Array[Int](64)
    sgs.foreach { sg =>
      val h = md5Hash60(sg)
      var j = 0
      while (j < 64) { c(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
    }
    var sig = 0L; var j = 0
    while (j < 64) { if (c(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }


  /** q42: SimHash near-dup pairs — 60-bit per-doc signature from shingle
    * hashes, Hamming ≤ HAM_MAX via 4×16-bit chunk blocking (pigeonhole:
    * any pair within distance 3 shares at least one exact chunk; the
    * blocked join is therefore lossless, so the full-pairs DuckDB oracle
    * matches it exactly). The shingle hash is the first 15 hex chars of
    * md5 parsed base-16 — md5 is bit-identical across engines, which is
    * what makes the signature oracle-checkable (xxhash64 is not).
    *
    * Plan notes: the Hamming filter runs BEFORE the pair distinct, so
    * only ≤-HAM_MAX pairs (the near-final set) enter the dedup
    * exchange — chunk-sharing far pairs die in the codegen stage that
    * produced them (round-9 verdict: the old distinct-first order
    * shuffled every candidate). Hot-chunk stance: a boilerplate-heavy
    * corpus can concentrate signatures so one 16-bit chunk value holds
    * m docs and contributes m² candidate rows; the path stays
    * pigeonhole-LOSSLESS and pays that cost. */
  val HAM_MAX = 3
  def q42Simhash(s: SparkSession, d: String): DataFrame = {
    // Codegen SimhashSig expression (same rationale as q41's MinhashSig).
    val sig = shingleArrays(s, d)
      .select(col("doc_id"),
        graft.functions.SimhashSig.simhash_sig(col("sgs")).as("simhash"))
    val chunks = sig.select(col("doc_id"), col("simhash"), explode(array(
      (0 until 4).map(c => struct(lit(c).as("c"),
        expr(s"(simhash >> ${c * 16}) & 65535").as("v"))): _*)).as("ck"))
    chunks.select(col("doc_id").as("i"), col("simhash").as("si"), col("ck"))
      .join(chunks.select(col("doc_id").as("j"), col("simhash").as("sj"), col("ck")),
            Seq("ck"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
              expr("bit_count(si ^ sj)").cast("long").as("hamming"))
      .filter(col("hamming") <= HAM_MAX)
      .distinct()
      .orderBy(col("i"), col("j"))
  }

  /** Full O(n²)-pairs mirror of q42: per-doc 60-bit SimHash from the
    * md5-derived shingle hash, all pairs at Hamming ≤ 3. The Spark side
    * prunes pairs with 16-bit chunk blocking, which is lossless at
    * distance ≤ 3, so both compute the same set. */
  val o42 = s"""
    WITH sh AS ($ORA_SHINGLES),
    hv AS (SELECT doc_id, ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h FROM sh),
    bits AS (
      SELECT doc_id, jj,
        SUM(CASE WHEN (h >> jj) & 1 = 1 THEN 1 ELSE -1 END) AS c
      FROM hv, unnest(range(0, 60)) b(jj)
      GROUP BY doc_id, jj),
    sig AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN c > 0 THEN 1::BIGINT << jj ELSE 0::BIGINT END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS i, b.doc_id AS j,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= $HAM_MAX
    ORDER BY i, j"""

  /** q79: exact shared-span detection — the substring-level dedup
    * modality (public method family: Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): any SPAN-token
    * window appearing verbatim in two documents links them, regardless
    * of overall document similarity. Complements set-similarity (q40):
    * a long quote inside an otherwise-different document is invisible
    * to Jaccard but decisive here.
    *
    * Scale shape: per-doc distinct windows are row-local (generalized
    * codegen ShingleSet), each span ships as a 60-bit md5-derived LONG
    * (8 bytes through the shuffle instead of a ~50-char string, and
    * engine-portable so the oracle is exact), and the inverted index
    * joins hash-to-hash — same single-exchange pattern as q40. A
    * boilerplate span shared by m documents contributes m²/2 join rows;
    * no doc-frequency cutoff drops it, so `shared_spans` stays exact. */
  val SPAN = 8

  def q79SharedSpans(s: SparkSession, d: String): DataFrame = {
    val spans = documents(s, d)
      .select(col("doc_id"), explode(
        graft.functions.ShingleSet.shingle_set(col("text"), SPAN)).as("span"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(span),1,15),16,10) as bigint)").as("h"))
      .repartition(shufflePartitions(s), col("h"))
    spans.as("a")
      .join(spans.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_spans"))
      .orderBy(col("i"), col("j"))
  }

  val o79 = s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    spans AS (
      SELECT DISTINCT doc_id,
        ('0x' || substr(md5(array_to_string(tk[i:i+${SPAN - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM t, unnest(range(1, len(tk) - ${SPAN - 2})) u(i)
      WHERE len(tk) >= $SPAN)
    SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared_spans
    FROM spans a JOIN spans b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY i, j ORDER BY i, j"""

  // ---- q226: winnowing fingerprints (MOSS document fingerprinting) ----

  /** Token k-gram size and winnowing window for q226. Guarantee
    * threshold t = WIN_K + WIN_W − 1 = 8 tokens: any verbatim match of
    * ≥ t tokens shares at least one selected fingerprint — deliberately
    * equal to SPAN so DedupSpec can cross-validate against q79's exact
    * full-gram pair list. */
  val WIN_K = 5
  val WIN_W = 4

  /** q226: winnowing (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * fingerprinter) — per document, hash every WIN_K-token gram, slide
    * a WIN_W-gram window, and in each window select the LEFTMOST
    * minimal hash; the distinct selected hashes are the document's
    * fingerprint sketch (≈ 2/(w+1) of the grams), and candidate pairs
    * join on SELECTED fingerprints only. Versus q79 (all grams) this
    * is the classic density/guarantee trade: ~w/2× fewer index rows
    * and join candidates, while every match of ≥ k+w−1 tokens is still
    * caught — the winnowing theorem, which DedupSpec asserts against
    * q79's exact pair list.
    *
    * Determinism across engines: selection compares the single int64
    * `(h mod 2^40)·2^20 + pos` — min-reduces to the leftmost minimal
    * hash (relative order, identical for any copy of the run) with no
    * struct/argmin tie ambiguity in either engine.
    *
    * Scale shape: grams and keys are row-local; the selection window is
    * partitioned BY DOCUMENT (in-partition sort, never global); the
    * sketch is w/2× smaller than the gram index before the ONE
    * fingerprint-keyed exchange; the pair join carries Σ bucket²
    * bounded by actual fingerprint reuse. */
  def q226Winnowing(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .select(col("doc_id"), posexplode(
        graft.functions.SpanHash.span_hashes(col("text"), WIN_K))
        .as(Seq("pos", "h")))
      .withColumn("key",
        expr("(h % 1099511627776L) * 1048576L + pos"))
    val wSel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(WIN_W - 1), 0)
    val sel = grams
      .withColumn("mk", min(col("key")).over(wSel))
      .filter(col("pos") >= WIN_W - 1)
      .select(col("doc_id"), expr("mk div 1048576L").as("fp"))
      .distinct()
    val bucketed = sel.repartition(shufflePartitions(s), col("fp"))
    bucketed.as("a")
      .join(bucketed.as("b"), col("a.fp") === col("b.fp")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_fp"))
      .orderBy(col("i"), col("j"))
  }

  val o226 = s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
        ('0x' || substr(md5(array_to_string(tk[i:i+${WIN_K - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM t, unnest(range(1, len(tk) - ${WIN_K - 2})) u(i)
      WHERE len(tk) >= $WIN_K),
    k AS (SELECT doc_id, pos,
        (h % 1099511627776) * 1048576 + pos AS key FROM g),
    w AS (
      SELECT doc_id, pos,
        MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN ${WIN_W - 1} PRECEDING AND CURRENT ROW) AS mk
      FROM k),
    sel AS (
      SELECT DISTINCT doc_id, mk // 1048576 AS fp
      FROM w WHERE pos >= ${WIN_W - 1})
    SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared_fp
    FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY i, j ORDER BY i, j"""

  // ---- q229: LSH operating-point sweep (bands × rows tuning curve) ----

  /** Rows-per-band settings swept by q229 (each divides NUM_HASHES, so
    * every config reads the same 48-value signature). */
  val SWEEP_ROWS = Seq(1, 2, 3, 4, 6)

  /** q229: the LSH tuning table — for each (bands b, rows r) operating
    * point on ONE shared 48-hash MinHash signature, the measured
    * candidate count, recall and precision against the exact q40 pair
    * truth. This is the S-curve P(candidate|J) = 1−(1−J^r)^(48/r) made
    * empirical: the number an engineer reads before committing a (b,r)
    * to a 100 TB dedup run, where r too low explodes the verify stage
    * and r too high silently loses near-dups. q41 ships the chosen
    * point; this query justifies it.
    *
    * Unlike q41's murmur3 signatures (JVM-only), the sweep uses an
    * md5-derived (h1 + i·h2) mod 2³² hash family so DuckDB re-derives
    * the ENTIRE pipeline — signatures, banding, candidates, metrics —
    * and the output is hash-checked end to end, not just floor-gated.
    *
    * Scale shape: signature = one 48-minima aggregate (map-side
    * combined) over the shingle index; ALL configs' band keys explode
    * from that one signature row (Σ 48/r ≈ 108 keys/doc); candidates
    * join on (cfg, band, key) — the identical-subtree self-join that
    * ReuseExchange shuffles once (q40's pattern); the truth join reads
    * the materialized q40 verdict table. */
  def q229LshSweep(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
      .withColumn("h1",
        expr("cast(conv(substr(md5(sg), 1, 8), 16, 10) as bigint)"))
      .withColumn("h2",
        expr("cast(conv(substr(md5(sg), 9, 8), 16, 10) as bigint) | 1"))
    val aggs = (0 until NUM_HASHES).map(i =>
      min(expr(s"(h1 + $i * h2) % 4294967296")).as(s"s$i"))
    val sig = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NUM_HASHES).map(i => col(s"s$i")): _*).as("sig"))
    val keyStructs = SWEEP_ROWS.flatMap { r =>
      (0 until NUM_HASHES / r).map { b =>
        struct(lit(r).as("cfg"), lit(b).as("band"),
          concat_ws(",", (0 until r).map(j =>
            element_at(col("sig"), b * r + j + 1)): _*).as("key"))
      }
    }
    val keys = sig
      .select(col("doc_id"), explode(array(keyStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.cfg").as("cfg"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .repartition(shufflePartitions(s), col("cfg"), col("band"), col("key"))
    val cand = keys.as("a")
      .join(keys.as("b"), col("a.cfg") === col("b.cfg")
        && col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cfg").as("cfg"), col("a.doc_id").as("i"),
        col("b.doc_id").as("j"))
      .distinct()
    val truth = cachedTextPairs(s, d)
      .select(col("i"), col("j"), lit(1L).as("t"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    cand.join(truth, Seq("i", "j"), "left")
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("t"), lit(0L))).as("caught"))
      .crossJoin(broadcast(nTruth))
      .select(col("cfg").cast("long").as("rows_per_band"),
        expr(s"cast($NUM_HASHES div cfg as bigint)").as("bands"),
        col("n_candidates"), col("caught"), col("n_truth"),
        expr("caught * 1000000L div n_truth").as("recall_ppm"),
        expr("""case when n_candidates > 0
                then caught * 1000000L div n_candidates
                else 0L end""").as("precision_ppm"))
      .orderBy(col("rows_per_band"))
  }

  val o229 = s"""
    WITH $ORA_PAIR_CTES,
    truth AS (SELECT i, j FROM jac WHERE jac >= $JACCARD_THRESHOLD),
    hh AS (
      SELECT doc_id,
        ('0x' || substr(md5(sg), 1, 8))::BIGINT AS h1,
        ('0x' || substr(md5(sg), 9, 8))::BIGINT | 1 AS h2
      FROM sh),
    m AS (
      SELECT doc_id, i, MIN((h1 + i * h2) % 4294967296) AS sv
      FROM hh, unnest(range($NUM_HASHES)) u(i) GROUP BY 1, 2),
    sa AS (SELECT doc_id, list(sv ORDER BY i) AS sig FROM m GROUP BY 1),
    k AS (
      SELECT doc_id, r AS cfg, bd,
        array_to_string(sig[bd*r+1 : bd*r+r], ',') AS key
      FROM sa, (VALUES (1), (2), (3), (4), (6)) c(r),
           unnest(range($NUM_HASHES // r)) u(bd)),
    cand AS (
      SELECT DISTINCT k1.cfg, k1.doc_id AS i, k2.doc_id AS j
      FROM k k1 JOIN k k2 ON k1.cfg = k2.cfg AND k1.bd = k2.bd
        AND k1.key = k2.key AND k1.doc_id < k2.doc_id),
    g AS (
      SELECT c.cfg, COUNT(*) AS n_candidates, COUNT(t.i) AS caught
      FROM cand c LEFT JOIN truth t ON t.i = c.i AND t.j = c.j
      GROUP BY c.cfg),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT CAST(cfg AS BIGINT) AS rows_per_band,
      CAST($NUM_HASHES // cfg AS BIGINT) AS bands,
      CAST(n_candidates AS BIGINT) AS n_candidates,
      CAST(caught AS BIGINT) AS caught,
      CAST(n_truth AS BIGINT) AS n_truth,
      caught * 1000000 // n_truth AS recall_ppm,
      CASE WHEN n_candidates > 0 THEN caught * 1000000 // n_candidates
           ELSE 0 END AS precision_ppm
    FROM g, nt ORDER BY rows_per_band"""

  // ---- q247: repeated-span census (boilerplate ranking) ----

  /** Top spans kept by q247. */
  val BOILER_TOP = 20

  /** q247: rank the corpus's most-repeated verbatim SPAN-token windows
    * by document frequency — the boilerplate FINDER that precedes the
    * q212/q222 removers: before a pipeline drops repeated content it
    * ranks it and a human (or a rule) reviews the head (license
    * headers, templates, navigation chrome). Output carries the span
    * TEXT (the review artifact), its document frequency, total
    * occurrences, and the lowest containing doc_id as an exemplar.
    *
    * Scale shape: spans reduce row-locally to (hash, doc, count)
    * partials; the census is ONE span-keyed aggregate where min(text)
    * rides along as the exemplar payload (at 100 TB: group on the
    * 8-byte hash, keep one exemplar string per key — never a
    * text-keyed shuffle of every occurrence); the top-k executes as
    * TakeOrderedAndProject under the (df DESC, span) total order. */
  def q247BoilerSpans(s: SparkSession, d: String): DataFrame = {
    val occ = documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= SPAN)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(tk) - $SPAN),
            i -> array_join(slice(tk, i + 1, $SPAN), ' '))""")).as("span"))
      .withColumn("h",
        expr("cast(conv(substr(md5(span), 1, 15), 16, 10) as bigint)"))
    occ
      .groupBy(col("h"))
      .agg(min(col("span")).as("span"),
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("exemplar_doc"))
      .filter(col("df") >= 2)
      .select(col("span"), col("df"), col("n_occ"), col("exemplar_doc"))
      .orderBy(col("df").desc, col("span"))
      .limit(BOILER_TOP)
  }

  val o247 = s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    occ AS (
      SELECT doc_id, array_to_string(tk[i:i+${SPAN - 1}], ' ') AS span
      FROM t, unnest(range(1, len(tk) - ${SPAN - 2})) u(i)
      WHERE len(tk) >= $SPAN)
    SELECT MIN(span) AS span,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
      CAST(COUNT(*) AS BIGINT) AS n_occ,
      MIN(doc_id) AS exemplar_doc
    FROM occ
    GROUP BY md5(span)
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY df DESC, span LIMIT $BOILER_TOP"""

  // ---- q99: incremental ingest dedup (new batch vs indexed base) ----

  /** Deterministic batch split for q99: doc_id % 4 == 0 is the
    * "incoming" batch (25%), the rest is the already-ingested base. */
  val INC_MOD = 4L

  /** q99: ingest-time dedup — a new document batch checked against the
    * already-ingested corpus, the shape every 100 TB pipeline actually
    * runs (whole-corpus self-dedup is the bootstrap; ingest is the
    * steady state). Each incoming doc gets a status:
    *   exact_dup — its normalized-text fingerprint exists in the base;
    *   near_dup  — some base doc has shingle-Jaccard ≥ 0.5 with it;
    *   accepted  — neither.
    * Exact beats near when both hold (an exact copy also has J = 1).
    *
    * Scale shape — both probes are ASYMMETRIC index lookups, never a
    * self-join over base ∪ batch:
    *  - exact: left-semi join of batch fingerprints against the base
    *    fingerprint set (at scale a persisted index; the batch side is
    *    small → AQE broadcasts it).
    *  - near: MinHash band buckets (same 16×3 keys as q41) probe-joined
    *    batch → base, then exact-verify on the candidate rows. Base
    *    buckets are the persisted LSH index at scale — bucket it by bk
    *    so the probe co-locates, or broadcast the batch's buckets; the
    *    work is O(batch × collision rate), independent of corpus size.
    * Output is exact on this corpus for the same margin reason as q41
    * (every true pair ≥ 0.8, noise ≤ 0.2; DedupSpec asserts it). */
  def q99IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val inc = docs.filter(col("doc_id") % INC_MOD === 0)
    val base = docs.filter(col("doc_id") % INC_MOD =!= 0)
    val exactDup = inc
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .join(base.select(md5(lower(col("text"))).as("fp")).distinct(),
        Seq("fp"), "left_semi")
      .select(col("doc_id"))
    // Deliberately NOT checkpointed (r16 A/B, same era, min-of-7 at
    // sf0.1/32c): materializing arr+buckets probed 0.97 s and buckets
    // alone 0.82 s vs 0.66 s for this lazy shape — the block writes
    // cost more than the duplicate shingle/minhash subtrees they
    // replace at bench scale. At 100 TB the base-side index is a
    // PERSISTED table maintained outside the per-batch probe (the
    // Scaladoc's scale story), not an in-query localCheckpoint, so the
    // lazy shape is also the honest one-shot cost.
    val arr = shingleArrays(s, d)
    val buckets = bandBuckets(arr)
    val cand = buckets.filter(col("doc_id") % INC_MOD === 0)
      .select(col("doc_id").as("i"), col("bk"))
      .join(buckets.filter(col("doc_id") % INC_MOD =!= 0)
        .select(col("doc_id").as("j"), col("bk")), Seq("bk"))
      .select(col("i"), col("j")).distinct()
    val nearDup = verifyPairs(cand, arr).select(col("i").as("doc_id")).distinct()
    inc.select(col("doc_id"))
      .join(exactDup.withColumn("ex", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("nd", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex") === 1, "exact_dup")
          .when(col("nd") === 1, "near_dup")
          .otherwise("accepted").as("status"))
      .orderBy(col("doc_id"))
  }

  val o99 = s"""
    WITH sh AS ($ORA_SHINGLES),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sg FROM sh GROUP BY doc_id),
    ex AS (
      SELECT DISTINCT i.doc_id
      FROM documents i JOIN documents b
        ON md5(lower(i.text)) = md5(lower(b.text))
      WHERE i.doc_id % $INC_MOD = 0 AND b.doc_id % $INC_MOD <> 0),
    common AS (
      SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.sg = b.sg
      WHERE a.doc_id % $INC_MOD = 0 AND b.doc_id % $INC_MOD <> 0
      GROUP BY i, j),
    nd AS (
      SELECT DISTINCT i FROM common
        JOIN sizes si ON si.doc_id = common.i
        JOIN sizes sj ON sj.doc_id = common.j
      WHERE CAST(common AS DOUBLE) / (si.n_sg + sj.n_sg - common)
        >= $JACCARD_THRESHOLD)
    SELECT d.doc_id,
      CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
           WHEN nd.i IS NOT NULL THEN 'near_dup'
           ELSE 'accepted' END AS status
    FROM documents d
      LEFT JOIN ex ON ex.doc_id = d.doc_id
      LEFT JOIN nd ON nd.i = d.doc_id
    WHERE d.doc_id % $INC_MOD = 0
    ORDER BY d.doc_id"""

  // ---- q153: deletion-neighborhood fuzzy join (SymSpell-style) ----

  /** 1-deletion neighborhood of a string column: the string itself
    * plus every variant with one character removed — |s|+1 rows after
    * explode. Shared by both sides of q153 so the candidate condition
    * is a plain equi-join. */
  private def delVariants(c: String): org.apache.spark.sql.Column =
    expr(s"""array_union(array($c), transform(sequence(1, length($c)),
      i -> concat(substring($c, 1, i - 1), substring($c, i + 1))))""")

  /** q153: edit-distance-≤1 fuzzy join via deletion neighborhoods —
    * entity resolution for misspelled keys (the SymSpell idea recast
    * relationally). Two strings are within Levenshtein distance 1 iff
    * their 1-deletion neighborhoods (each including the string itself)
    * intersect: equality (a=b), insertion (a ∈ del1(b)), deletion
    * (b ∈ del1(a)), substitution (deleting the differing position from
    * both sides meets in the middle). So candidate generation is an
    * EQUI-join on exploded variants — O(n·L) index rows instead of the
    * O(n²) all-pairs levenshtein scan — and the distance-2 false
    * positives the intersection clause admits (deletions at DIFFERENT
    * positions) are removed by one exact `levenshtein` check per
    * candidate (filter-verify, the q41/q87 pattern).
    *
    * Probes are derived from the supplier names themselves: delete the
    * character at an md5-chosen position (the q84 cross-engine draw
    * idiom), so the oracle regenerates the identical probe set and the
    * expected matches (each probe's origin, plus any true ≤1
    * neighbors) are data-real, not planted.
    *
    * Scale shape: variant explosion is row-local (codegen HOFs, no
    * udf); the only shuffle is the variant equi-join + pair distinct.
    * A heavy-tail variant (many strings sharing one deletion — think
    * "aaaa…") bounds like q40's stop-shingles: at corpus scale, cap
    * per-variant bucket width with a df cutoff; at this name domain
    * the widest bucket is single digits, so the join stays exact. */
  def q153FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val sup = supplier(s, d).select(col("s_suppkey"), col("s_name"))
    val probes = sup
      .withColumn("pos", expr(
        "1 + pmod(cast(conv(substr(md5(s_name), 1, 8), 16, 10) as bigint), length(s_name))"))
      .select(expr(
        "concat(substring(s_name, 1, pos - 1), substring(s_name, pos + 1))")
        .as("probe"))
      .distinct()
    val probeIdx = probes
      .select(col("probe"), explode(delVariants("probe")).as("variant"))
    val cleanIdx = sup
      .select(col("s_suppkey"), col("s_name"),
              explode(delVariants("s_name")).as("variant"))
    probeIdx.join(cleanIdx, Seq("variant"))
      .select(col("probe"), col("s_suppkey"), col("s_name"))
      .distinct()
      .filter(levenshtein(col("probe"), col("s_name")) <= 1)
      .withColumn("dist",
        levenshtein(col("probe"), col("s_name")).cast("long"))
      .orderBy(col("probe"), col("s_suppkey"))
  }

  val o153 = """
    WITH pr AS (
      SELECT DISTINCT
        concat(substr(s_name, 1, pos - 1), substr(s_name, pos + 1))
          AS probe
      FROM (
        SELECT s_name,
          1 + (('0x' || substr(md5(s_name), 1, 8))::BIGINT
               % length(s_name)) AS pos
        FROM supplier))
    SELECT pr.probe, s.s_suppkey, s.s_name,
      CAST(levenshtein(pr.probe, s.s_name) AS BIGINT) AS dist
    FROM pr, supplier s
    WHERE levenshtein(pr.probe, s.s_name) <= 1
    ORDER BY pr.probe, s.s_suppkey"""

  // ---- q283: sorted-neighborhood (SNM) dedup ----

  /** Neighborhood width: each record is compared with the next
    * SNM_WINDOW−1 records of its block's sorted order, the classic
    * linear-candidate guarantee (≤ (w−1)·N pairs, NO quadratic
    * blow-up inside a hot block — contrast LSH, whose worst-case
    * bucket is unbounded). */
  val SNM_WINDOW = 4
  /** Sorting-key width (tokens) and the verify threshold. */
  val SNM_KEY_TOKS = 4
  val SNM_MIN_PPM = 500000L

  /** One SNM pass: build the sorting key (the first — or, reversed,
    * the last — SNM_KEY_TOKS of the doc's sorted distinct tokens;
    * word-order-insensitive, so shuffled near-dups still sort
    * together), slide a width-SNM_WINDOW window down each block's
    * sorted order, and exact-verify candidates with whole-set Jaccard.
    * The window partitions BY BLOCK (the key's first token), never
    * globally — block counts are vocabulary-bounded, so the sort is
    * distributed; a pathological block (every doc sharing its rarest
    * token) degrades to that block only. */
  private def snmPass(s: SparkSession, d: String, reversed: Boolean)
      : DataFrame = {
    val sorted = "array_sort(array_distinct(split(text, ' ')))"
    val keyArr =
      if (reversed) s"slice(reverse($sorted), 1, $SNM_KEY_TOKS)"
      else s"slice($sorted, 1, $SNM_KEY_TOKS)"
    val base = documents(s, d).select(
      col("doc_id"),
      expr("array_distinct(split(text, ' '))").as("ts"),
      expr(s"array_join($keyArr, ' ')").as("k"))
      .withColumn("blk", split(col("k"), " ").getItem(0))
    val w = Window.partitionBy(col("blk")).orderBy(col("k"), col("doc_id"))
    val leads = base.select(col("doc_id"), col("ts"),
      array((1 until SNM_WINDOW).map(i => struct(
        lead(col("doc_id"), i).over(w).as("b"),
        lead(col("ts"), i).over(w).as("tb"))): _*).as("nbs"))
    leads
      .select(col("doc_id").as("a"), col("ts").as("ta"),
        explode(col("nbs")).as("nb"))
      .filter(col("nb.b").isNotNull)
      .select(least(col("a"), col("nb.b")).as("a_id"),
        greatest(col("a"), col("nb.b")).as("b_id"),
        col("ta"), col("nb.tb").as("tb"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("un", size(array_union(col("ta"), col("tb"))).cast("long"))
      .withColumn("jacc_ppm", expr("inter * 1000000 div un"))
      .filter(col("jacc_ppm") >= SNM_MIN_PPM)
      .select(col("a_id"), col("b_id"), col("jacc_ppm"))
  }

  /** q283: MULTI-PASS sorted-neighborhood dedup — the third classic
    * candidate-generation family next to LSH banding (q41) and prefix
    * filtering (q80): sort once, compare only a fixed-width window.
    * Two passes with independent keys (prefix and suffix of the sorted
    * distinct-token list) union their candidates, the standard
    * multi-pass SNM answer to single-key sort-order blindness. Output
    * is the verified pair ledger (normalized a<b, exact whole-set
    * Jaccard in ppm).
    *
    * Scale shape: per pass, ONE shuffle on the block key, a sort that
    * is distributed across blocks, and ≤ (w−1)·N candidate rows
    * verified row-local — no inverted index, no signature table. The
    * recall/cost trade vs q41 is explicit: SNM misses pairs whose keys
    * land > w apart (mitigated by more passes), but its candidate
    * count is LINEAR by construction, the property that matters when a
    * hot shingle would otherwise flood an LSH bucket. */
  def q283SortedNeighborhood(s: SparkSession, d: String): DataFrame =
    snmPass(s, d, reversed = false)
      .union(snmPass(s, d, reversed = true))
      .distinct()
      .orderBy(col("a_id"), col("b_id"))

  private def oSnmPass(reversed: Boolean): String = {
    val keyExpr =
      if (reversed) s"list_reverse(list_sort(ts))[1:$SNM_KEY_TOKS]"
      else s"list_sort(ts)[1:$SNM_KEY_TOKS]"
    val leads = (1 until SNM_WINDOW).map(i =>
      s"{'b': lead(doc_id, $i) OVER w, 'tb': lead(ts, $i) OVER w}")
      .mkString(",\n          ")
    s"""
      SELECT least(a, nb.b) AS a_id, greatest(a, nb.b) AS b_id,
        CAST(len(list_intersect(ta, nb.tb)) * 1000000
          // len(list_distinct(list_concat(ta, nb.tb))) AS BIGINT) AS jacc_ppm
      FROM (
        SELECT doc_id AS a, ts AS ta,
          unnest([$leads]) AS nb
        FROM (
          SELECT doc_id, ts, array_to_string($keyExpr, ' ') AS k,
            ($keyExpr)[1] AS blk
          FROM dd)
        WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id))
      WHERE nb.b IS NOT NULL
        AND len(list_intersect(ta, nb.tb)) * 1000000
          // len(list_distinct(list_concat(ta, nb.tb))) >= $SNM_MIN_PPM"""
  }

  val o283: String = s"""
    WITH dd AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
      FROM documents)
    SELECT DISTINCT a_id, b_id, jacc_ppm FROM (
      ${oSnmPass(false)}
      UNION ALL
      ${oSnmPass(true)})
    ORDER BY a_id, b_id"""

  // ---- q294: Fellegi–Sunter probabilistic record linkage ----

  /** Hash blocks for the q294 unmatched-pair sample (the q290 pairing
    * knob — block count is the window-parallelism control). */
  val LINK_BLOCKS = 16L

  /** q294: FELLEGI–SUNTER weight ESTIMATION (the Splink model family).
    * q254 scores a blocked linkage with DECLARED log-odds weights (its
    * Scaladoc: "in a trained deployment these come from EM over the
    * comparison-vector frequencies; here they are declared constants");
    * q294 is that missing training step — it LEARNS the m/u
    * probabilities in-engine from deterministic labeled sets and
    * produces the weights plus their resubstitution confusion audit. Labeled sets are engine-internal and
    * deterministic: matches M = the q40 exact-Jaccard verdict pairs
    * (jac ≥ 0.5), non-matches U = md5-block neighbor pairs (q290
    * pairing) not in M — the standard "random pairs are almost surely
    * non-matches" estimator. Four binary comparators (same lang, same
    * source, same n_tok÷16 band, same first token) give m_k/u_k with
    * +1/+2 Laplace smoothing; agreement/disagreement weights are
    * ⌊ln of one exact-int64 ratio · 1e7⌋ (libm parity, q285 stance).
    * Every pair in M ∪ U is scored Σ_k (agree ? wa_k : wd_k) and
    * banded at ±1e7 (≈ likelihood ratio e^±1): the output is the
    * (decision × is_match) confusion ledger with score ranges — the
    * resubstitution audit a linkage team reads before setting
    * production thresholds.
    *
    * Scale shape: M is the graded pair table, U is linear neighbor
    * pairing (ONE block window); featurization is two doc-id equi-joins
    * (the verifyPairs shape); m/u estimation is ONE 1-row aggregate
    * per labeled set; weights broadcast back as a 1-row frame. Nothing
    * enumerates all pairs anywhere. */
  def q294FellegiSunter(s: SparkSession, d: String): DataFrame = {
    val feat = documents(s, d).select(col("doc_id"), col("lang"),
      col("source"),
      expr("cast(size(split(text, ' ')) as bigint) div 16").as("band"),
      expr("split(text, ' ')[0]").as("tok0"))
    val m = cachedTextPairs(s, d)
      .select(col("i").as("a"), col("j").as("b"))
    val docsH = documents(s, d)
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("blk",
        expr(s"cast(conv(substr(h, 1, 6), 16, 10) as bigint) % $LINK_BLOCKS"))
      .select(col("doc_id"), col("h"), col("blk"))
    val wN = Window.partitionBy(col("blk")).orderBy(col("h"), col("doc_id"))
    val neigh = docsH
      .withColumn("nb", lead(col("doc_id"), 1).over(wN))
      .filter(col("nb").isNotNull)
      .select(least(col("doc_id"), col("nb")).as("a"),
        greatest(col("doc_id"), col("nb")).as("b"))
      .distinct()
    val u = neigh.join(m, Seq("a", "b"), "left_anti")
    val pop = m.withColumn("is_match", lit(1L))
      .unionAll(u.withColumn("is_match", lit(0L)))
    // Comparison vectors materialized ONCE (r16): `pairs` feeds both
    // the m/u estimation ledger and the final scoring pass, and the
    // un-checkpointed shape re-ran the whole featurization pyramid
    // (neighbor window + anti-join + two doc-feature joins — 8
    // documents scans in the executed plan) per consumer. This is the
    // EM-training shape too: comparison vectors are built once, every
    // estimation pass reads them.
    val pairs = pop
      .join(feat.select(col("doc_id").as("a"), col("lang").as("la"),
        col("source").as("sa"), col("band").as("ba"), col("tok0").as("ta")),
        Seq("a"))
      .join(feat.select(col("doc_id").as("b"), col("lang").as("lb"),
        col("source").as("sb"), col("band").as("bb"), col("tok0").as("tb")),
        Seq("b"))
      .select(col("a"), col("b"), col("is_match"),
        when(col("la") === col("lb"), 1L).otherwise(0L).as("g1"),
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g2"),
        when(col("ba") === col("bb"), 1L).otherwise(0L).as("g3"),
        when(col("ta") === col("tb"), 1L).otherwise(0L).as("g4"))
      .localCheckpoint()
    // m/u estimation: one 1-row ledger per labeled set, then the
    // 8 weight constants in a single broadcast row
    val led = pairs.groupBy(col("is_match"))
      .agg(count(lit(1)).as("n"), sum(col("g1")).as("a1"),
        sum(col("g2")).as("a2"), sum(col("g3")).as("a3"),
        sum(col("g4")).as("a4"))
    val wts = led.filter(col("is_match") === 1L)
      .select(col("n").as("nm"), col("a1").as("m1"), col("a2").as("m2"),
        col("a3").as("m3"), col("a4").as("m4"))
      .crossJoin(broadcast(led.filter(col("is_match") === 0L)
        .select(col("n").as("nu"), col("a1").as("u1"), col("a2").as("u2"),
          col("a3").as("u3"), col("a4").as("u4"))))
    val wCols = (1 to 4).flatMap { k =>
      Seq(
        expr(s"cast(floor(ln(cast((m$k + 1) * (nu + 2) as double)" +
          s" / cast((nm + 2) * (u$k + 1) as double)) * 1e7) as bigint)")
          .as(s"wa$k"),
        expr(s"cast(floor(ln(cast((nm + 1 - m$k) * (nu + 2) as double)" +
          s" / cast((nm + 2) * (nu + 1 - u$k) as double)) * 1e7) as bigint)")
          .as(s"wd$k"))
    }
    val w = wts.select(wCols: _*)
    pairs.crossJoin(broadcast(w))
      .withColumn("score_e7",
        expr("case when g1 = 1 then wa1 else wd1 end" +
          " + case when g2 = 1 then wa2 else wd2 end" +
          " + case when g3 = 1 then wa3 else wd3 end" +
          " + case when g4 = 1 then wa4 else wd4 end"))
      .withColumn("decision",
        when(col("score_e7") >= 10000000L, "link")
          .when(col("score_e7") <= -10000000L, "nonlink")
          .otherwise("possible"))
      .groupBy(col("decision"), col("is_match"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("score_e7")).as("min_score_e7"),
        max(col("score_e7")).as("max_score_e7"))
      .orderBy(col("decision"), col("is_match"))
  }

  val o294: String = s"""
    WITH $ORA_PAIR_CTES,
    m AS (SELECT i AS a, j AS b FROM jac WHERE jac >= 0.5),
    feat AS (
      SELECT doc_id, lang, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) // 16 AS band,
        string_split(text, ' ')[1] AS tok0
      FROM documents),
    dh AS (
      SELECT doc_id, md5(doc_id::VARCHAR) AS h,
        ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % $LINK_BLOCKS
          AS blk
      FROM documents),
    neigh AS (
      SELECT DISTINCT least(doc_id, nb) AS a, greatest(doc_id, nb) AS b
      FROM (SELECT doc_id, lead(doc_id) OVER w AS nb
            FROM dh WINDOW w AS (PARTITION BY blk ORDER BY h, doc_id))
      WHERE nb IS NOT NULL),
    u AS (SELECT a, b FROM neigh ANTI JOIN m USING (a, b)),
    pop AS (
      SELECT a, b, 1 AS is_match FROM m
      UNION ALL SELECT a, b, 0 FROM u),
    prs AS (
      SELECT pop.a, pop.b, is_match,
        CASE WHEN fa.lang = fb.lang THEN 1 ELSE 0 END AS g1,
        CASE WHEN fa.source = fb.source THEN 1 ELSE 0 END AS g2,
        CASE WHEN fa.band = fb.band THEN 1 ELSE 0 END AS g3,
        CASE WHEN fa.tok0 = fb.tok0 THEN 1 ELSE 0 END AS g4
      FROM pop JOIN feat fa ON fa.doc_id = pop.a
        JOIN feat fb ON fb.doc_id = pop.b),
    led AS (
      SELECT is_match, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(g1) AS BIGINT) AS a1, CAST(SUM(g2) AS BIGINT) AS a2,
        CAST(SUM(g3) AS BIGINT) AS a3, CAST(SUM(g4) AS BIGINT) AS a4
      FROM prs GROUP BY 1),
    wts AS (
      SELECT mm.n AS nm, mm.a1 AS m1, mm.a2 AS m2, mm.a3 AS m3,
        mm.a4 AS m4, uu.n AS nu, uu.a1 AS u1, uu.a2 AS u2, uu.a3 AS u3,
        uu.a4 AS u4
      FROM (SELECT * FROM led WHERE is_match = 1) mm
      CROSS JOIN (SELECT * FROM led WHERE is_match = 0) uu),
    w AS (
      SELECT
        ${(1 to 4).map(k =>
          s"""CAST(FLOOR(ln(((m$k + 1) * (nu + 2))::DOUBLE
            / ((nm + 2) * (u$k + 1))::DOUBLE) * 1e7) AS BIGINT) AS wa$k,
          CAST(FLOOR(ln(((nm + 1 - m$k) * (nu + 2))::DOUBLE
            / ((nm + 2) * (nu + 1 - u$k))::DOUBLE) * 1e7) AS BIGINT)
            AS wd$k""").mkString(",\n        ")}
      FROM wts),
    scored AS (
      SELECT is_match,
        (CASE WHEN g1 = 1 THEN wa1 ELSE wd1 END
          + CASE WHEN g2 = 1 THEN wa2 ELSE wd2 END
          + CASE WHEN g3 = 1 THEN wa3 ELSE wd3 END
          + CASE WHEN g4 = 1 THEN wa4 ELSE wd4 END) AS score_e7
      FROM prs CROSS JOIN w)
    SELECT CASE WHEN score_e7 >= 10000000 THEN 'link'
        WHEN score_e7 <= -10000000 THEN 'nonlink'
        ELSE 'possible' END AS decision,
      CAST(is_match AS BIGINT) AS is_match,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(MIN(score_e7) AS BIGINT) AS min_score_e7,
      CAST(MAX(score_e7) AS BIGINT) AS max_score_e7
    FROM scored GROUP BY 1, 2 ORDER BY decision, is_match"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q294_fellegi_sunter" -> (q294FellegiSunter _),
    "q283_sorted_neighborhood" -> (q283SortedNeighborhood _),
    "q153_fuzzy_join"       -> (q153FuzzyJoin _),
    "q99_incremental_dedup" -> (q99IncrementalDedup _),
    "q39_dedup_exact"    -> (q39DedupExact _),
    "q40_ngram_jaccard"  -> (q40NgramJaccard _),
    "q41_minhash_lsh"    -> (q41MinhashLsh _),
    "q42_simhash"        -> (q42Simhash _),
    "q79_shared_spans"   -> (q79SharedSpans _),
    "q226_winnowing"     -> (q226Winnowing _),
    "q229_lsh_sweep"     -> (q229LshSweep _),
    "q247_boiler_spans"  -> (q247BoilerSpans _),
    "q80_ppjoin_jaccard" -> (ppjoinJaccard _))

  val oracles: Map[String, String] = Map(
    "q294_fellegi_sunter" -> o294,
    "q283_sorted_neighborhood" -> o283,
    "q153_fuzzy_join" -> o153,
    "q39_dedup_exact" -> o39, "q40_ngram_jaccard" -> o40,
    "q41_minhash_lsh" -> o41, "q42_simhash" -> o42,
    "q79_shared_spans" -> o79,
    "q226_winnowing"   -> o226,
    "q229_lsh_sweep"   -> o229,
    "q247_boiler_spans" -> o247,
    "q99_incremental_dedup" -> o99,
    // q80 is the prefix-filtered formulation of the SAME exact join —
    // identical output to q40, identical oracle.
    "q80_ppjoin_jaccard" -> ORA_JACCARD_PAIRS)
}
