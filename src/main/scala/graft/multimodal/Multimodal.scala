package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Multimodal-column plumbing (north star): media payloads as opaque
  * `binary` columns with typed metadata, decode/feature-extract as
  * partition-wise transforms.
  *
  * The IMAGE decode path is REAL as of round 6: q138/q139 encode
  * deterministic tiny PNG/BMP images with `javax.imageio` (pure JDK,
  * no external codecs), decode them back through `ImageIO` readers in
  * a partition-wise iterator, and gate format/width/height/pixel-
  * checksum against a DuckDB oracle that recomputes the planted pixel
  * function arithmetically — a fake decode cannot hash-match it.
  * As of round 11 the audio/video modalities have REAL codecs too —
  * see `Codecs.scala` (q276 G.711 μ-law in RIFF/WAVE, q277 stateful
  * IMA ADPCM, q278 multi-frame animated-GIF LZW video).
  */
object Multimodal {

  /** Frame sampling over a binary payload: every k-th fixed-size block
    * (the video-frame-subsample shape — deterministic, pure expression,
    * no data leaves the executor). */
  def frameSample(payload: org.apache.spark.sql.Column, blockSize: Int,
                  everyK: Int): org.apache.spark.sql.Column =
    transform(
      sequence(lit(0),
        greatest((length(payload) / blockSize).cast("int") - 1, lit(0)),
        lit(everyK)),
      i => payload.substr(i * blockSize + 1, lit(blockSize)))

  /** q45: binary payload + metadata extraction, SQL-expressible part. */
  def q45MultimodalMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        (lit(64) + length(col("payload")) % 512).cast("long").as("width"),
        (lit(64) + (length(col("payload")) * 7) % 512).cast("long").as("height"))
      .orderBy(col("doc_id"))

  val o45 = """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      md5(text) AS digest,
      CAST(64 + strlen(text) % 512 AS BIGINT) AS width,
      CAST(64 + (strlen(text) * 7) % 512 AS BIGINT) AS height
    FROM documents ORDER BY doc_id"""

  /** q71: frame sampling under the oracle. The Spark side materializes
    * the sampled frames (every 4th 16-byte block) and measures them;
    * the oracle derives the same frame count and first/last lengths
    * arithmetically — any off-by-one in the sampling expression breaks
    * the hash match. */
  val FRAME_BLOCK = 16
  val FRAME_EVERY = 4
  def q71FrameStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        frameSample(col("payload"), FRAME_BLOCK, FRAME_EVERY).as("frames"),
        length(col("payload")).as("b"))
      .select(col("doc_id"),
        size(col("frames")).cast("long").as("n_frames"),
        length(element_at(col("frames"), 1)).cast("long").as("first_len"),
        length(element_at(col("frames"), -1)).cast("long").as("last_len"),
        col("b").cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))

  val o71 = s"""
    SELECT doc_id,
      top // $FRAME_EVERY + 1 AS n_frames,
      LEAST($FRAME_BLOCK, b) AS first_len,
      LEAST($FRAME_BLOCK, b - (top // $FRAME_EVERY * $FRAME_EVERY) * $FRAME_BLOCK)
        AS last_len,
      b AS n_bytes
    FROM (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS b,
        GREATEST(CAST(length(text) AS BIGINT) // $FRAME_BLOCK - 1, 0) AS top
      FROM documents)
    ORDER BY doc_id"""

  // ---- real javax.imageio decode (q138) + resize (q139) ----

  /** Planted pixel function: channel c of pixel (x,y) in doc_id's image
    * is (doc_id + 3x + 7y + c) mod 256 — chosen because the DuckDB
    * oracle can re-derive every pixel arithmetically, so the checksum
    * gate proves the PNG/BMP bytes really round-tripped through the
    * codec. Dimensions are doc_id-derived: w = 1 + id%16,
    * h = 1 + (3·id)%16; even ids encode PNG, odd ids BMP (both
    * lossless for TYPE_INT_RGB, both shipped in the JDK). */
  def plantedDims(id: Long): (Int, Int) =
    (1 + (id % 16).toInt, 1 + ((id * 3) % 16).toInt)

  def plantedPixel(id: Long, x: Int, y: Int): Int = {
    def ch(c: Int): Int = ((id + 3L * x + 7L * y + c) % 256).toInt
    (ch(0) << 16) | (ch(1) << 8) | ch(2)
  }

  /** REAL image encode: rasterize the planted pixels and write them
    * through the JDK's PNG or BMP `ImageWriter`. Pure JVM — this is
    * what a fixture/ETL step produces; the interesting direction is
    * the decode below. */
  def encodeImage(id: Long): Array[Byte] = {
    val (w, h) = plantedDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, plantedPixel(id, x, y)); x += 1 }
      y += 1
    }
    val fmt = if (id % 2 == 0) "png" else "bmp"
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** REAL image decode: sniff the container format with the registered
    * `ImageReader`s, parse the payload, and return typed metadata plus
    * an exact pixel checksum (sum of all channel bytes). */
  def decodeImage(payload: Array[Byte]): (String, Int, Int, Long) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no ImageReader recognizes the payload")
      val reader = readers.next()
      reader.setInput(iis)
      val fmt = reader.getFormatName.toLowerCase
      val img = reader.read(0)
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      (fmt, img.getWidth, img.getHeight, sum)
    } finally iis.close()
  }

  /** q138: encode → decode round-trip over a binary image column, with
    * every output column independently recomputed by the oracle from
    * the planted truth. Partition-wise (`mapPartitions`): codec state
    * amortizes across rows, no per-row task overhead — the exact
    * shape a 100 TB image-corpus decode runs (payload column in,
    * metadata struct out; only metadata shuffles for the final sort).
    * A stubbed decode cannot pass: `format` comes from the reader's
    * container sniffing and `pix_sum` from the parsed raster. */
  def q138ImageDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (fmt, w, h, sum) = decodeImage(encodeImage(id))
        (id, fmt, w.toLong, h.toLong, sum)
      })
      .toDF("doc_id", "format", "width", "height", "pix_sum")
      .orderBy(col("doc_id"))
  }

  val o138 = """
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
      FROM documents),
    e AS (SELECT doc_id, w, h, unnest(range(w*h*3)) AS i FROM d)
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
      CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      CAST(SUM((doc_id + 3*((i//3) % w) + 7*(i//(3*w)) + i % 3) % 256)
        AS BIGINT) AS pix_sum
    FROM e GROUP BY doc_id, w, h ORDER BY doc_id"""

  /** Resize bound for q139 (longest side after nearest-neighbor
    * downscale; images already ≤ MAX_SIDE pass through). */
  val MAX_SIDE = 8

  /** REAL nearest-neighbor resize of a decoded raster: output pixel
    * (x,y) samples input pixel (x·w/w2, y·h/h2) — integer floor
    * arithmetic on both engines, so the oracle re-derives the resized
    * checksum exactly. Deliberately NOT Graphics2D scaling: its
    * interpolation is renderer-dependent, which would break the
    * cross-engine gate (and determinism across JVMs). */
  def resizeNearest(img: java.awt.image.BufferedImage, maxSide: Int)
      : java.awt.image.BufferedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    val m = math.max(w, h)
    val (w2, h2) =
      if (m <= maxSide) (w, h)
      else (math.max(1, w * maxSide / m), math.max(1, h * maxSide / m))
    val out = new java.awt.image.BufferedImage(
      w2, h2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        out.setRGB(x, y, img.getRGB(x * w / w2, y * h / h2))
        x += 1
      }
      y += 1
    }
    out
  }

  /** q139: decode + resize, checksummed — the second real image
    * operator (decode is q138's). Same partition-wise shape. */
  def q139ImageResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        // ImageIO.read closes the stream it wraps — no manual close
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(encodeImage(id)))
        val r = resizeNearest(img, MAX_SIDE)
        var sum = 0L
        for (y <- 0 until r.getHeight; x <- 0 until r.getWidth) {
          val rgb = r.getRGB(x, y)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        }
        (id, r.getWidth.toLong, r.getHeight.toLong, sum)
      })
      .toDF("doc_id", "width", "height", "pix_sum")
      .orderBy(col("doc_id"))
  }

  val o139 = s"""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
      FROM documents),
    r AS (
      SELECT doc_id, w, h,
        CASE WHEN GREATEST(w, h) <= $MAX_SIDE THEN w
             ELSE GREATEST(1, w * $MAX_SIDE // GREATEST(w, h)) END AS w2,
        CASE WHEN GREATEST(w, h) <= $MAX_SIDE THEN h
             ELSE GREATEST(1, h * $MAX_SIDE // GREATEST(w, h)) END AS h2
      FROM d),
    e AS (SELECT doc_id, w, h, w2, h2, unnest(range(w2*h2*3)) AS i FROM r)
    SELECT doc_id, CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height,
      CAST(SUM((doc_id + 3*(((i//3) % w2) * w // w2)
        + 7*((i//(3*w2)) * h // h2) + i % 3) % 256) AS BIGINT) AS pix_sum
    FROM e GROUP BY doc_id, w2, h2 ORDER BY doc_id"""

  // ---- q206: perceptual image near-dup (dHash + chunk pigeonhole) ----

  /** dHash geometry: an 8×8 grayscale sample grid, 7 horizontal
    * adjacent-pixel comparisons per row → a 56-bit signature (the
    * classic 9×8/64-bit dHash, trimmed one column so the hash fits a
    * SIGNED BIGINT identically in Spark and DuckDB — the q42 60-bit
    * SimHash precedent). Sampling is integer-floor nearest-neighbor
    * (px = gx·w/8), the q139 resize arithmetic, so the DuckDB oracle
    * re-derives every bit from the planted pixel function. */
  val DHASH_GRID = 8
  val IMG_HAM_MAX = 3

  /** 56-bit difference hash of a decoded raster: gray = (r+g+b)/3
    * integer mean; bit (gy·7+gx) set iff gray(gx+1,gy) > gray(gx,gy)
    * on the 8×8 sample grid. Row-local, O(64) per image regardless of
    * resolution. */
  def dHash(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    def gray(gx: Int, py: Int): Int = {
      val rgb = img.getRGB(gx * w / DHASH_GRID, py)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    }
    var hash = 0L
    var gy = 0
    while (gy < DHASH_GRID) {
      val py = gy * h / DHASH_GRID
      var gx = 0
      while (gx < DHASH_GRID - 1) {
        if (gray(gx + 1, py) > gray(gx, py)) hash |= 1L << (gy * 7 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** q206: perceptual image near-dup — the multimodal column's dedup
    * operator (text has q39-q42/q80; embeddings have q47/q87/q204; the
    * decoded rasters had none). dHash signatures are computed from the
    * REAL codec path (encode → ImageIO decode → raster, exactly q138's
    * plumbing — a stubbed decode cannot pass because the oracle
    * recomputes every bit from the planted pixel truth), then
    * Hamming-≤$IMG_HAM_MAX candidates come from the q42 machinery:
    * 16-bit chunk pigeonhole (4 chunks cover 56 bits; ≤3 differing
    * bits leave ≥1 chunk identical — lossless), exact bit_count verify.
    * Output is the per-image verdict table (keeper = lowest-id
    * Hamming-neighbor, the q204 keeper rule) rather than the raw pair
    * list: the planted gradient corpus is perceptually DEGENERATE
    * (~23% of all pairs land within Hamming 3), so the pair list is
    * Θ(n²)-sized while the verdict is n rows — and multi-chunk
    * candidate duplicates collapse in the min-aggregate for free,
    * where the pair-list form needed a full DISTINCT + sort of the
    * quadratic set (measured 5.7 s → the aggregate form at sf0.1).
    *
    * Scale shape: the signature is a row-local O(1)-per-image map (no
    * raster ever shuffles — 8 bytes/image leave the scan); candidates
    * are an equi-join on (chunk_idx, chunk_value); the only
    * corpus-sized shuffles carry (doc_id, 8-byte hash) rows.
    * Perceptually-flat corpora skew the chunk buckets the same way
    * q42's text corpus does — same documented mitigation: more/wider
    * chunks raise selectivity while staying lossless for the Hamming
    * budget. */
  def q206ImageNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(encodeImage(id)))
        (id, dHash(img))
      }).toDF("doc_id", "dh")
    val sigC = sig.localCheckpoint()
    val chunks = sigC.select(col("doc_id"), col("dh"), explode(array(
      (0 until 4).map(c => struct(lit(c).as("c"),
        expr(s"(dh >> ${c * 16}) & 65535").as("v"))): _*)).as("ck"))
    // No distinct on candidates: multi-chunk duplicates of the same
    // (i, j) collapse inside the min-aggregate.
    val dropped = chunks
      .select(col("doc_id").as("i"), col("dh").as("si"), col("ck"))
      .join(chunks.select(col("doc_id").as("j"), col("dh").as("sj"),
                          col("ck")), Seq("ck"))
      .filter(col("i") < col("j"))
      .filter(expr("bit_count(si ^ sj)") <= IMG_HAM_MAX)
      .groupBy(col("j").as("doc_id"))
      .agg(min(col("i")).as("dup_of"))
    sigC.select(col("doc_id"), col("dh"))
      .join(dropped, Seq("doc_id"), "left")
      .join(sigC.select(col("doc_id").as("dup_of"), col("dh").as("dh_k")),
            Seq("dup_of"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("status"),
        col("dup_of"),
        expr("cast(bit_count(dh ^ dh_k) as bigint)").as("ham_to_keeper"))
      .orderBy(col("doc_id"))
  }

  val o206 = s"""
    WITH dims AS (
      SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
      FROM documents),
    pos AS (
      SELECT doc_id, w, h, b, b % 7 AS gx, b // 7 AS gy
      FROM dims, unnest(range(56)) t(b)),
    px AS (
      SELECT doc_id, b,
        (gx * w) // $DHASH_GRID AS x1, ((gx + 1) * w) // $DHASH_GRID AS x2,
        (gy * h) // $DHASH_GRID AS py
      FROM pos),
    gr AS (
      SELECT doc_id, b,
        ((doc_id + 3*x1 + 7*py) % 256 + (doc_id + 3*x1 + 7*py + 1) % 256
          + (doc_id + 3*x1 + 7*py + 2) % 256) // 3 AS g1,
        ((doc_id + 3*x2 + 7*py) % 256 + (doc_id + 3*x2 + 7*py + 1) % 256
          + (doc_id + 3*x2 + 7*py + 2) % 256) // 3 AS g2
      FROM px),
    sig AS (
      SELECT doc_id,
        CAST(COALESCE(SUM(CASE WHEN g2 > g1 THEN 1::BIGINT << b END), 0)
          AS BIGINT) AS dh
      FROM gr GROUP BY doc_id),
    dropped AS (
      SELECT b.doc_id AS doc_id, MIN(a.doc_id) AS dup_of
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.dh, b.dh)) <= $IMG_HAM_MAX
      GROUP BY b.doc_id)
    SELECT s.doc_id,
      CASE WHEN d.dup_of IS NULL THEN 'keep' ELSE 'drop' END AS status,
      d.dup_of,
      CAST(bit_count(xor(s.dh, k.dh)) AS BIGINT) AS ham_to_keeper
    FROM sig s
    LEFT JOIN dropped d ON d.doc_id = s.doc_id
    LEFT JOIN sig k ON k.doc_id = d.dup_of
    ORDER BY s.doc_id"""

  // ---- q228: image-caption alignment gate (CLIP-style filter) ----

  /** Tone bucket modulus and the caption-corruption schedule: every
    * seventh doc's alt-text carries an off-by-one tone — the planted
    * "noisy alt-text" the gate must catch. */
  val TONE_MOD = 997L
  val CAP_BAD_MOD = 7L

  /** Closed-form Σ channel bytes of the planted raster (the fixture /
    * ETL side — no codec; the GATE decodes the real payload). */
  def plantedPixSum(id: Long): Long = {
    val (w, h) = plantedDims(id)
    var s = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = id + 3L * x + 7L * y
        s += base % 256 + (base + 1) % 256 + (base + 2) % 256
        x += 1
      }
      y += 1
    }
    s
  }

  /** q228: image–caption alignment gate — the LAION/DataComp "CLIP
    * score" filter re-expressed deterministically: each image's
    * alt-text (fixture: derived arithmetically from the planted truth,
    * with every ${CAP_BAD_MOD}th doc's tone corrupted) is scored
    * against features extracted from the REAL ImageIO-decoded payload
    * (grid dims + tone = pix_sum mod $TONE_MOD). s_true counts
    * matching features (0–3) for the doc's own caption, s_swap for the
    * doc_id⊕1 partner's caption (the mismatched-pair control CLIP
    * training uses); verdict keeps only perfectly-aligned pairs, so
    * the corrupted captions are exactly the drops.
    *
    * Scale shape: decode + caption construction are partition-local
    * (q138's mapPartitions shape, codec state amortized); caption
    * feature extraction is row-local regexp over the metadata-sized
    * frame; the ⊕1 swap is a self-join on an involution key — an
    * equi-join the planner broadcasts at this SF and shuffle-joins at
    * scale. Payloads never shuffle; only (id, 4 ints, caption) rows
    * do. The decoded-feature frame is materialized ONCE
    * (localCheckpoint): it feeds THREE plan consumers (img, the true
    * caption join, the ⊕1 swap join), and the decode map is opaque to
    * Spark's subtree dedup — without the barrier every consumer re-ran
    * the full encode→ImageIO-decode pass (3 decodes per image; at
    * 100 TB, 3 payload scans instead of 1 — the guide §8 "decide on
    * small rows, touch heavy bytes once" rule). Measured 2.47 s →
    * 1.0 s at sf0.1/32c. */
  def q228ClipAlign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (_, wd, hd, sumd) = decodeImage(encodeImage(id))
        val (wc, hc) = plantedDims(id)
        val tone = (plantedPixSum(id) % TONE_MOD
          + (if (id % CAP_BAD_MOD == 0) 1L else 0L)) % TONE_MOD
        (id, wd.toLong, hd.toLong, sumd,
          s"img depicts grid ${wc}x$hc tone $tone")
      }).toDF("doc_id", "wd", "hd", "sumd", "caption")
      .localCheckpoint()
    val capt = rows.select(col("doc_id"),
      regexp_extract(col("caption"), "grid (\\d+)x", 1).cast("long").as("wc"),
      regexp_extract(col("caption"), "x(\\d+) tone", 1).cast("long").as("hc"),
      regexp_extract(col("caption"), "tone (\\d+)$", 1).cast("long").as("tc"))
    val img = rows.select(col("doc_id"), col("wd"), col("hd"),
      (col("sumd") % TONE_MOD).as("td"))
    def sc(wc: Column, hc: Column, tc: Column) =
      when(col("wd") === wc, 1L).otherwise(0L) +
        when(col("hd") === hc, 1L).otherwise(0L) +
        when(col("td") === tc, 1L).otherwise(0L)
    img
      .join(capt, Seq("doc_id"))
      .withColumn("s_true", sc(col("wc"), col("hc"), col("tc")))
      .drop("wc", "hc", "tc")
      .join(capt.select(expr("doc_id ^ 1").as("doc_id"),
        col("wc"), col("hc"), col("tc")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("s_true"),
        coalesce(sc(col("wc"), col("hc"), col("tc")), lit(-1L)).as("s_swap"))
      .withColumn("margin", col("s_true") - col("s_swap"))
      .withColumn("verdict",
        when(col("s_true") === 3, "keep").otherwise("drop"))
      .orderBy(col("doc_id"))
  }

  val o228 = s"""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 16 AS w, 1 + (doc_id * 3) % 16 AS h
      FROM documents),
    e AS (SELECT doc_id, w, h, unnest(range(w*h*3)) AS i FROM d),
    ps AS (
      SELECT doc_id, MIN(w) AS w, MIN(h) AS h,
        SUM((doc_id + 3*((i//3) % w) + 7*(i//(3*w)) + i % 3) % 256) AS psum
      FROM e GROUP BY doc_id),
    f AS (
      SELECT doc_id, w AS wd, h AS hd, psum % $TONE_MOD AS td,
        w AS wc, h AS hc,
        (psum % $TONE_MOD + CASE WHEN doc_id % $CAP_BAD_MOD = 0
           THEN 1 ELSE 0 END) % $TONE_MOD AS tc
      FROM ps),
    t AS (
      SELECT a.doc_id,
        (a.wd = a.wc)::BIGINT + (a.hd = a.hc)::BIGINT
          + (a.td = a.tc)::BIGINT AS s_true,
        COALESCE((a.wd = b.wc)::BIGINT + (a.hd = b.hc)::BIGINT
          + (a.td = b.tc)::BIGINT, -1) AS s_swap
      FROM f a LEFT JOIN f b ON b.doc_id = xor(a.doc_id, 1))
    SELECT doc_id, s_true, s_swap, s_true - s_swap AS margin,
      CASE WHEN s_true = 3 THEN 'keep' ELSE 'drop' END AS verdict
    FROM t ORDER BY doc_id"""

  // ---- q181: PCM audio windowed energy over a binary payload ----

  /** Samples per planted clip, samples per analysis window. */
  val PCM_N = 256
  val PCM_WIN = 64

  /** q181: windowed audio energy — 16-bit PCM samples planted into a
    * REAL binary payload (big-endian, via hex round-trip), then parsed
    * BACK out of the bytes and reduced to per-window sum-of-squares
    * energy and peak amplitude, all in exact int64.
    *
    * The gate closes the audio half of the multimodal plumbing story:
    * the oracle never sees the binary — it recomputes each window's
    * energy from the closed-form sample function — so a hash match
    * proves the byte-level encode → slice → decode pipeline
    * (`unhex`/`substr(binary)`/`hex`/`conv`) round-trips every sample
    * exactly. A real codec swaps in at the parse step; window framing,
    * HOF reduction, and schema are unchanged.
    *
    * Scale shape: everything is row-local codegen HOF arithmetic over
    * the payload column (no explode of samples into rows — the windows
    * array stays inside the row until the final 4-per-clip explode);
    * distributable like any per-row transform. */
  def q181AudioEnergy(s: SparkSession, d: String): DataFrame = {
    val sample = (i: String) => s"(doc_id * 31 + $i * $i * 17) % 65536"
    documents(s, d).select(col("doc_id")).filter(col("doc_id") < 40)
      .withColumn("payload", expr(
        s"unhex(concat_ws('', transform(sequence(0, ${PCM_N - 1}), " +
          s"i -> lpad(hex(${sample("i")}), 4, '0'))))"))
      .withColumn("win", explode(sequence(lit(0), lit(PCM_N / PCM_WIN - 1))))
      .withColumn("samples", expr(
        s"transform(sequence(0, ${PCM_WIN - 1}), j -> " +
          s"cast(conv(hex(substring(payload, 2 * (win * $PCM_WIN + j) + 1, 2)), " +
          "16, 10) as bigint))"))
      .select(col("doc_id"), col("win").cast("long").as("win"),
        expr("aggregate(samples, 0L, (acc, x) -> acc + x * x)").as("energy"),
        expr("array_max(samples)").as("peak"))
      .orderBy(col("doc_id"), col("win"))
  }

  val o181 = s"""
    SELECT doc_id, i // $PCM_WIN AS win,
      CAST(SUM(sv * sv) AS BIGINT) AS energy, MAX(sv) AS peak
    FROM (
      SELECT doc_id, i,
        (doc_id * 31 + i * i * 17) % 65536 AS sv
      FROM (SELECT doc_id FROM documents WHERE doc_id < 40),
           unnest(range(0, $PCM_N)) u(i))
    GROUP BY doc_id, win ORDER BY doc_id, win"""

  // ---- q210: audio near-dup via quantized energy-envelope fingerprint ----

  /** Clips planted for the dedup operator (more than q181's 40 so real
    * duplicate groups exist) and the envelope quantizer shift. */
  val PCM_DUP_DOCS = 200
  val ENV_SHIFT = 24

  /** q210: audio near-duplicate detection — the last modality without a
    * dedup operator (text q39-q42/q80, embeddings q47/q87/q204, images
    * q206). Clips are planted with CLASS structure (waveform derives
    * from doc_id % 25; doc_id div 25 adds a ±2 DC offset — re-encodes
    * of the same recording) through the REAL binary path: 16-bit
    * big-endian PCM built via hex, parsed BACK out of the payload bytes
    * (q181's plumbing — a stub that never touches the binary cannot
    * pass, the oracle recomputes from the closed-form sample function).
    * The fingerprint is the coarse-quantized per-window energy envelope
    * (energy div 2^$ENV_SHIFT — the Shazam-style invariant: robust to
    * small amplitude jitter, discriminative across waveforms); verdicts
    * are fingerprint-equality groups under the lowest-id keeper rule.
    *
    * Scale shape: everything to the fingerprint is row-local (payload
    * never shuffles — PCM_N·2 bytes reduce to a short string before
    * any exchange); the dedup is one fingerprint-keyed aggregate +
    * one broadcast-sized join back. Exact duplicates of the envelope,
    * not the waveform — the documented contract (same one q39 has for
    * exact text dedup via md5(lower(text))). */
  def q210AudioNearDup(s: SparkSession, d: String): DataFrame = {
    val sample = (i: String) =>
      s"(((doc_id % 25) * 31 + $i * $i * 17) % 65536 + (doc_id div 25) % 3) % 65536"
    val env = documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < PCM_DUP_DOCS)
      .withColumn("payload", expr(
        s"unhex(concat_ws('', transform(sequence(0, ${PCM_N - 1}), " +
          s"i -> lpad(hex(${sample("i")}), 4, '0'))))"))
      .withColumn("win", explode(sequence(lit(0), lit(PCM_N / PCM_WIN - 1))))
      .withColumn("samples", expr(
        s"transform(sequence(0, ${PCM_WIN - 1}), j -> " +
          s"cast(conv(hex(substring(payload, 2 * (win * $PCM_WIN + j) + 1, 2)), " +
          "16, 10) as bigint))"))
      .select(col("doc_id"), col("win"),
        expr(s"aggregate(samples, 0L, (acc, x) -> acc + x * x)" +
          s" div ${1L << ENV_SHIFT}").as("qe"))
    val fp = env.groupBy(col("doc_id"))
      .agg(concat_ws("-", expr(
        "transform(array_sort(collect_list(struct(win, qe)))," +
          " x -> cast(x.qe as string))")).as("fp"))
    val keeper = fp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    fp.join(keeper, Seq("fp"))
      .select(col("doc_id"),
        when(col("doc_id") === col("keeper_id"), "keep")
          .otherwise("drop").as("status"),
        when(col("doc_id") === col("keeper_id"), lit(null).cast("long"))
          .otherwise(col("keeper_id")).as("dup_of"),
        col("n_copies"))
      .orderBy(col("doc_id"))
  }

  val o210 = s"""
    WITH sv AS (
      SELECT doc_id, i,
        (((doc_id % 25) * 31 + i * i * 17) % 65536
          + (doc_id // 25) % 3) % 65536 AS sv
      FROM (SELECT doc_id FROM documents WHERE doc_id < $PCM_DUP_DOCS),
           unnest(range(0, $PCM_N)) u(i)),
    env AS (
      SELECT doc_id, i // $PCM_WIN AS win,
        SUM(sv * sv) // ${1L << ENV_SHIFT} AS qe
      FROM sv GROUP BY doc_id, win),
    fp AS (
      SELECT doc_id, string_agg(qe::VARCHAR, '-' ORDER BY win) AS fp
      FROM env GROUP BY doc_id),
    k AS (SELECT fp, MIN(doc_id) AS keeper,
                 CAST(COUNT(*) AS BIGINT) AS n_copies
          FROM fp GROUP BY fp)
    SELECT f.doc_id,
      CASE WHEN f.doc_id = k.keeper THEN 'keep' ELSE 'drop' END AS status,
      CASE WHEN f.doc_id = k.keeper THEN NULL ELSE k.keeper END AS dup_of,
      k.n_copies
    FROM fp f JOIN k USING (fp) ORDER BY f.doc_id"""

  // ---- q213: video near-dup via sampled-frame fingerprint containment ----

  /** Planted video geometry: VID_DOCS clips of VID_FRAMES frames ×
    * VID_FRAME_BYTES bytes. Scene class = doc_id % 20; temporal shift =
    * (doc_id div 20) % 4 — clips of the same class show the SAME scene
    * footage offset by 0–3 frames (the trimmed/shifted re-upload case
    * video dedup exists for). Byte k of scene frame f in class c is
    * (7c + 13f + 29k) mod 251 — closed-form, so the oracle re-derives
    * every frame without seeing the binary. */
  val VID_DOCS = 120
  val VID_FRAMES = 16
  val VID_FRAME_BYTES = 16
  /** Containment threshold τ = 4/5 as an exact rational — shift ≤ 3
    * leaves ≥ 13/16 frames shared (match); distinct classes share no
    * frame (no match). The comparison is pure int64. */
  val VID_TAU_NUM = 4
  val VID_TAU_DEN = 5

  /** q213: video near-duplicate detection — the fourth modality's dedup
    * operator (text q39–q42/q80, embeddings q47/q87/q204, images q206,
    * audio q210). The payload is REAL binary (planted via hex, exactly
    * q181's plumbing); frames are sliced back OUT of the bytes with
    * `frameSample` (a stub that never touches the binary cannot pass —
    * the oracle recomputes each frame's hex from the closed form), each
    * frame reduces to an md5 fingerprint, and two clips are duplicates
    * when the shared-distinct-frame count reaches τ·min(|A|,|B|) —
    * frame-SET containment, which is what makes the operator robust to
    * temporal trims/shifts where q210's ordered-envelope equality is
    * not. Verdict output under the lowest-id keeper rule (q206's shape;
    * pair lists go quadratic on degenerate corpora).
    *
    * Scale shape: payload → 16 fingerprints is row-local (frames never
    * shuffle; 16 hashes/clip leave the scan). Candidates come from the
    * inverted-index equi-join on the frame fingerprint — the exact
    * shape audio/video fingerprint stores (Shazam-style) run at scale —
    * so cost is Σ per-fingerprint bucket², bounded by footage reuse,
    * never all-pairs. The per-clip frame-count joins carry |clips|-row
    * tables with no broadcast hint: the planner broadcasts at this SF
    * and shuffle-joins at 100 TB, no plan change needed elsewhere. */
  def q213VideoNearDup(s: SparkSession, d: String): DataFrame = {
    val clips = documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < VID_DOCS)
      .withColumn("payload", expr(
        s"unhex(concat_ws('', transform(sequence(0, ${VID_FRAMES * VID_FRAME_BYTES - 1}), " +
          s"b -> lpad(hex(((doc_id % 20) * 7 " +
          s"+ (b div $VID_FRAME_BYTES + (doc_id div 20) % 4) * 13 " +
          s"+ (b % $VID_FRAME_BYTES) * 29) % 251), 2, '0'))))"))
    val f = clips
      .select(col("doc_id"),
        explode(frameSample(col("payload"), VID_FRAME_BYTES, 1)).as("frame"))
      .select(col("doc_id"), md5(hex(col("frame"))).as("fp"))
      .distinct()
    val fC = f.localCheckpoint()
    val nf = fC.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val m = fC.select(col("doc_id").as("i"), col("fp"))
      .join(fC.select(col("doc_id").as("j"), col("fp")), Seq("fp"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("shared"))
    val mm = m
      .join(nf.select(col("doc_id").as("i"), col("n").as("ni")), Seq("i"))
      .join(nf.select(col("doc_id").as("j"), col("n").as("nj")), Seq("j"))
      .filter(col("shared") * VID_TAU_DEN >=
        least(col("ni"), col("nj")) * VID_TAU_NUM)
      .select(col("i"), col("j"), col("shared"))
    val dr = mm.groupBy(col("j").as("doc_id")).agg(min(col("i")).as("dup_of"))
    clips.select(col("doc_id"))
      .join(dr, Seq("doc_id"), "left")
      .join(mm.select(col("i").as("dup_of"), col("j").as("doc_id"),
        col("shared")), Seq("dup_of", "doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_of").isNull, "keep").otherwise("drop").as("status"),
        col("dup_of"), col("shared"))
      .orderBy(col("doc_id"))
  }

  val o213 = s"""
    WITH c AS (
      SELECT doc_id, doc_id % 20 AS cls, (doc_id // 20) % 4 AS sh
      FROM documents WHERE doc_id < $VID_DOCS),
    fr AS (
      SELECT doc_id, j,
        md5(string_agg(lpad(hex((cls*7 + (j + sh)*13 + k*29) % 251), 2, '0'),
          '' ORDER BY k)) AS fp
      FROM c, unnest(range(0, $VID_FRAMES)) t(j),
           unnest(range(0, $VID_FRAME_BYTES)) u(k)
      GROUP BY doc_id, cls, sh, j),
    f AS (SELECT DISTINCT doc_id, fp FROM fr),
    nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1),
    m AS (
      SELECT a.doc_id AS i, b.doc_id AS j, CAST(COUNT(*) AS BIGINT) AS shared
      FROM f a JOIN f b USING (fp) WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    mm AS (
      SELECT m.i, m.j, m.shared FROM m
      JOIN nf ni ON ni.doc_id = m.i
      JOIN nf nj ON nj.doc_id = m.j
      WHERE m.shared * $VID_TAU_DEN >= LEAST(ni.n, nj.n) * $VID_TAU_NUM),
    dr AS (SELECT j AS doc_id, MIN(i) AS dup_of FROM mm GROUP BY j)
    SELECT c.doc_id,
      CASE WHEN dr.dup_of IS NULL THEN 'keep' ELSE 'drop' END AS status,
      dr.dup_of, k.shared
    FROM c
    LEFT JOIN dr ON dr.doc_id = c.doc_id
    LEFT JOIN mm k ON k.i = dr.dup_of AND k.j = c.doc_id
    ORDER BY c.doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_multimodal_meta" -> (q45MultimodalMeta _),
    "q71_frame_stats"     -> (q71FrameStats _),
    "q138_image_decode"   -> (q138ImageDecode _),
    "q139_image_resize"   -> (q139ImageResize _),
    "q181_audio_energy"   -> (q181AudioEnergy _),
    "q206_image_near_dup" -> (q206ImageNearDup _),
    "q210_audio_near_dup" -> (q210AudioNearDup _),
    "q213_video_near_dup" -> (q213VideoNearDup _),
    "q228_clip_align"     -> (q228ClipAlign _))

  val oracles: Map[String, String] = Map(
    "q45_multimodal_meta" -> o45, "q71_frame_stats" -> o71,
    "q138_image_decode" -> o138, "q139_image_resize" -> o139,
    "q181_audio_energy" -> o181, "q206_image_near_dup" -> o206,
    "q210_audio_near_dup" -> o210, "q213_video_near_dup" -> o213,
    "q228_clip_align" -> o228)
}
