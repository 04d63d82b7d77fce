package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal

/** Binary-column plumbing: schema, frame sampling, real codecs, determinism. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("frame sampling takes every k-th block") {
    val df = Seq("0123456789abcdef").toDF("text")
      .withColumn("payload", col("text").cast("binary"))
    val frames = df.select(Multimodal.frameSample(col("payload"), 4, 2).as("f"))
      .selectExpr("transform(f, b -> cast(b AS STRING)) AS fs")
      .as[Seq[String]].head()
    assert(frames == Seq("0123", "89ab")) // blocks 0 and 2 of size 4
    // works on computed/qualified columns, not just bare names
    val computed = df.alias("t")
      .select(Multimodal.frameSample(col("t.payload"), 4, 2).as("f"))
      .selectExpr("transform(f, b -> cast(b AS STRING)) AS fs")
      .as[Seq[String]].head()
    assert(computed == Seq("0123", "89ab"))
    val fromExpr = df
      .select(Multimodal.frameSample(col("text").cast("binary"), 8, 1).as("f"))
      .selectExpr("transform(f, b -> cast(b AS STRING)) AS fs")
      .as[Seq[String]].head()
    assert(fromExpr == Seq("01234567", "89abcdef"))
  }

  test("real ImageIO decode: PNG/BMP payloads round-trip the planted raster") {
    // hand-checked truths (match the DuckDB oracle's arithmetic):
    // id=0 → 1×1 png, pixels (0,1,2) → sum 3
    // id=1 → 2×4 bmp, sum 336
    val d0 = Multimodal.decodeImage(Multimodal.encodeImage(0L))
    assert(d0 == ("png", 1, 1, 3L), s"got $d0")
    val d1 = Multimodal.decodeImage(Multimodal.encodeImage(1L))
    assert(d1 == ("bmp", 2, 4, 336L), s"got $d1")
    // format comes from container sniffing, not the filename: corrupt
    // payloads must be rejected by the reader lookup
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(Array[Byte](1, 2, 3, 4))
    }
    // resize: 16×16 → 8×8 nearest-neighbor keeps planted values
    val big = Multimodal.encodeImage(15L) // w=16, h=14
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(big))
    val r = Multimodal.resizeNearest(img, 8)
    assert(r.getWidth == 8 && r.getHeight == 7) // 16*8/16=8, 14*8/16=7
    // out(0,0) samples in(0,0); out(1,0) samples in(2,0)
    // (getRGB returns ARGB — mask off the opaque alpha byte)
    assert((r.getRGB(0, 0) & 0xffffff) == Multimodal.plantedPixel(15L, 0, 0))
    assert((r.getRGB(1, 0) & 0xffffff) == Multimodal.plantedPixel(15L, 2, 0))
  }

  test("q206 dHash: planted duplicates collide, perturbations stay near, " +
       "inversions go far") {
    def raster(w: Int, h: Int, f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      img
    }
    def gradient(x: Int, y: Int) = { val v = (3 * x + 7 * y) % 256
      (v << 16) | (v << 8) | v }
    val a = raster(16, 16, gradient)
    // same gradient, one sampled cell brightened: ≤ 2 comparison bits
    // (the cell's left and right neighbors) can flip
    val b = raster(16, 16, (x, y) =>
      if (x == 4 && y == 0) 0xffffff else gradient(x, y))
    // inverted gradient: every comparison reverses
    val c = raster(16, 16, (x, y) => { val v = 255 - (3 * x + 7 * y) % 256
      (v << 16) | (v << 8) | v })
    val (ha, hb, hc) = (Multimodal.dHash(a), Multimodal.dHash(b),
                        Multimodal.dHash(c))
    assert(java.lang.Long.bitCount(ha ^ hb) <= 2)
    assert(java.lang.Long.bitCount(ha ^ hc) > 40)
    // ids congruent mod 256 plant IDENTICAL images (pixel and dims both
    // period-256 in id) → exact dHash collision
    def hashOf(id: Long) = Multimodal.dHash(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeImage(id))))
    assert(hashOf(0L) == hashOf(256L))
    assert(hashOf(17L) == hashOf(273L))
  }

  test("q206 pigeonhole verdicts are lossless vs brute force at Hamming <= 3") {
    val res = Multimodal.q206ImageNearDup(spark, TestSpark.SF).collect()
      .map(r => (r.getLong(0), r.getString(1),
                 if (r.isNullAt(2)) None else Some(r.getLong(2)),
                 if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    // brute-force mirror over the full doc set, computed driver-side
    val ids = graft.Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id")).as[Long].collect().sorted
    def hashOf(id: Long) = Multimodal.dHash(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodeImage(id))))
    val sigs = ids.map(id => id -> hashOf(id)).toMap
    val brute = ids.map { j =>
      val nbrs = ids.filter(i => i < j &&
        java.lang.Long.bitCount(sigs(i) ^ sigs(j)) <= Multimodal.IMG_HAM_MAX)
      if (nbrs.isEmpty) (j, "keep", None, None)
      else {
        val k = nbrs.min
        (j, "drop", Some(k),
         Some(java.lang.Long.bitCount(sigs(k) ^ sigs(j)).toLong))
      }
    }.toSeq
    assert(res == brute)
    // planted exact duplicates: ids congruent mod 256 are identical
    // images, so doc 256 must be dropped at hamming 0
    val r256 = res.find(_._1 == 256L).get
    assert(r256._2 == "drop" && r256._4 == Some(0L))
  }

  test("binary round trip: cast to binary preserves utf-8 bytes") {
    val got = Seq("graft £ ünïcode").toDF("text")
      .withColumn("payload", col("text").cast("binary"))
      .select(col("payload").cast("string"))
      .as[String].head()
    assert(got == "graft £ ünïcode")
  }

  test("binaryFile source ingests raw media files into the opaque-media shape") {
    // the 100 TB ingest shape: media lands as raw files in object
    // storage; Spark's binaryFile source reads (path, length, content)
    // without decoding — decode happens partition-wise downstream
    // TmpWorkspace-managed: deleted at JVM exit instead of accumulating
    // one random-suffixed dir per test run
    val dir = java.nio.file.Paths.get(
      graft.sources.TmpWorkspace.dir("media_spec", "fixture"))
    java.nio.file.Files.createDirectories(dir)
    val payloads = Map("a.jpg" -> Array[Byte](-1, -40, 1, 2, 3), // 0xFFD8 jpeg-ish
                       "b.jpg" -> Array[Byte](-1, -40, 9, 8, 7, 6))
    payloads.foreach { case (n, b) =>
      java.nio.file.Files.write(dir.resolve(n), b) }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg").load(dir.toString)
    assert(files.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val media = files
      .select(element_at(split(col("path"), "/"), -1).as("name"),
              col("length"), col("content"))
      .as[(String, Long, Array[Byte])].collect().sortBy(_._1)
    assert(media.map(_._1).sameElements(Array("a.jpg", "b.jpg")))
    // the opaque column carries the file bytes exactly, undecoded
    media.foreach { case (n, len, bytes) =>
      assert(len == payloads(n).length.toLong)
      assert(bytes.sameElements(payloads(n)), n)
    }
  }

  test("q213 video verdicts match the scene-index-set mirror " +
       "(independent of the binary/hash path)") {
    // The planted truth: clip doc_id shows scene frames
    //   {(cls, sh) .. (cls, sh+15)} with cls = id%20, sh = (id/20)%4.
    // The mirror computes shared-frame containment on those index SETS —
    // never touching the payload bytes, frame slicing, or md5 — so it
    // independently cross-checks the whole binary fingerprint path.
    val ids = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id")).as[Long].collect()
      .filter(_ < Multimodal.VID_DOCS).sorted
    def scenes(id: Long): Set[(Long, Long)] = {
      val (cls, sh) = (id % 20, (id / 20) % 4)
      (sh until sh + Multimodal.VID_FRAMES).map(f => (cls, f)).toSet
    }
    val expect = ids.map { j =>
      val sj = scenes(j)
      val nbrs = ids.filter { i =>
        i < j && {
          val shared = (scenes(i) & sj).size
          shared * Multimodal.VID_TAU_DEN >=
            math.min(scenes(i).size, sj.size) * Multimodal.VID_TAU_NUM
        }
      }
      if (nbrs.isEmpty) (j, "keep", None, None)
      else {
        val k = nbrs.min
        (j, "drop", Some(k), Some((scenes(k) & sj).size.toLong))
      }
    }.toSeq
    val got = Multimodal.q213VideoNearDup(spark, TestSpark.SF).collect()
      .map(r => (r.getLong(0), r.getString(1),
                 if (r.isNullAt(2)) None else Some(r.getLong(2)),
                 if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == expect)
    // the corpus must exercise both outcomes, and every same-class
    // shifted re-upload (shift diff ≤ 3 ⇒ ≥ 13/16 shared) must drop
    assert(got.exists(_._2 == "keep") && got.exists(_._2 == "drop"))
    ids.filter(_ >= 20).foreach { id =>
      assert(got.find(_._1 == id).get._2 == "drop",
        s"clip $id re-shows class ${id % 20} footage and must drop")
    }
  }

  test("CSV and JSON sinks round-trip a cleaned table (S3/S4)") {
    val df = Seq((1L, "addr:street", "Main St"), (2L, "amenity", "cafe"))
      .toDF("id", "key", "value")
    val tmp = graft.sources.TmpWorkspace.fresh("sink").toString
    df.write.option("header", "true").mode("overwrite").csv(s"$tmp/csv")
    df.write.mode("overwrite").json(s"$tmp/json")
    val backCsv = spark.read.option("header", "true").csv(s"$tmp/csv")
      .withColumn("id", col("id").cast("long"))
    val backJson = spark.read.json(s"$tmp/json")
    assert(backCsv.count() == 2 && backJson.count() == 2)
    assert(backJson.select("id", "key", "value").as[(Long, String, String)]
      .collect().toSet == Set((1L, "addr:street", "Main St"), (2L, "amenity", "cafe")))
  }

  test("q228 alignment gate drops exactly the corrupted captions, separates swaps") {
    val rows = multimodal.Multimodal.q228ClipAlign(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, sTrue, sSwap, margin, verdict) =>
      // drops are EXACTLY the planted corrupted alt-texts: tone is off
      // by one, dims still match -> s_true = 2
      if (id % multimodal.Multimodal.CAP_BAD_MOD == 0) {
        assert(verdict == "drop" && sTrue == 2L, s"doc $id")
      } else assert(verdict == "keep" && sTrue == 3L, s"doc $id")
      // a swapped caption never beats the doc's own: id and id^1 differ
      // in the low bit, so w = 1+id%16 (and h, tone) always diverge
      assert(sSwap <= 0L, s"swap score unexpectedly high at $id")
      assert(margin == sTrue - sSwap)
    }
    // both verdicts must be exercised at this SF
    assert(rows.exists(_._5 == "keep") && rows.exists(_._5 == "drop"))
  }
}
