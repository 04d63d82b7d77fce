package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Dedup, TextOps, TrainingSet}

/** Training-set assembly (q83 packing, q84 mixture, q85 decontamination). */
class TrainingSetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q83 two-phase packing == naive single-window global cumsum") {
    // The scale formulation (per-bucket cumsum + broadcast bucket offsets)
    // must equal the formulation it replaces: one global orderBy window.
    val docs = graft.Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
    val naive = docs
      .withColumn("off",
        coalesce(sum(col("n_tok")).over(
          Window.orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("chunk_id", explode(sequence(
        expr(s"off div ${TrainingSet.SEQ_BUDGET}"),
        expr(s"(off + n_tok - 1) div ${TrainingSet.SEQ_BUDGET}"))))
      .select(col("chunk_id"), col("doc_id"),
        (least(col("off") + col("n_tok"),
          (col("chunk_id") + 1) * TrainingSet.SEQ_BUDGET)
          - greatest(col("off"), col("chunk_id") * TrainingSet.SEQ_BUDGET))
          .as("n_tok_in_chunk"))
      .as[(Long, Long, Long)].collect().toSet
    val twoPhase = TrainingSet.q83SequencePacking(spark, TestSpark.SF)
      .as[(Long, Long, Long)].collect().toSet
    assert(twoPhase == naive && naive.nonEmpty)
  }

  test("q83 chunks are exactly SEQ_BUDGET tokens except the last") {
    val perChunk = TrainingSet.q83SequencePacking(spark, TestSpark.SF)
      .groupBy("chunk_id").agg(sum("n_tok_in_chunk").as("tok"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(perChunk.nonEmpty)
    val last = perChunk.last
    perChunk.dropRight(1).foreach { case (id, tok) =>
      assert(tok == TrainingSet.SEQ_BUDGET, s"chunk $id has $tok tokens") }
    assert(last._2 > 0 && last._2 <= TrainingSet.SEQ_BUDGET)
    // chunk ids are dense from 0
    assert(perChunk.map(_._1).toSeq == (0L until perChunk.length).toSeq)
  }

  test("q84 mixture audit: kept <= total and achieved rate near target") {
    val rows = TrainingSet.q84MixtureSample(spark, TestSpark.SF)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (lang, total, kept, rate, achieved) =>
      assert(kept <= total, s"$lang kept>total")
      assert(math.abs(achieved - kept.toDouble / total) < 1e-6)
      // md5-derived u is uniform; at sf0.001 strata are small, so allow a
      // generous tolerance — this is a sanity bound, not a statistics test
      assert(math.abs(achieved - rate) < 0.35, s"$lang achieved=$achieved rate=$rate")
    }
  }

  test("q85 drops exactly the docs sharing a span with the eval slice") {
    // Planted fixture: doc 0 (id % 97 == 0) is eval; doc 1 copies an
    // 8-token span from it; doc 2 shares nothing.
    val span = (1 to Dedup.SPAN).map(i => s"w$i").mkString(" ")
    Seq(
      (0L, s"$span tail0 tail1", "en", "s", 0L),
      (1L, s"lead0 $span", "en", "s", 0L),
      (2L, (1 to 12).map(i => s"z$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet("/tmp/graft_ts_docs/documents.parquet")
    val got = TrainingSet.q85Decontaminate(spark, "/tmp/graft_ts_docs")
      .as[(String, Long, Long, Option[Long])].collect()
    assert(got.toSeq == Seq(("en", 2L, 1L, Some(2L))))
  }

  test("q88 repetition score flags planted spam, passes clean text") {
    // doc 1: one 2-gram repeated 5× → dup_2gram_frac 0.8, top 1.0
    // doc 2: all-distinct tokens → zero duplicate fraction, low top mass
    Seq(
      (1L, "spam spam spam spam spam spam", "en", "s", 0L),
      (2L, (1 to 30).map(i => s"w$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite")
      .parquet("/tmp/graft_rep_docs/documents.parquet")
    val got = TextOps.q88RepetitionScore(spark, "/tmp/graft_rep_docs")
      .as[(Long, Double, Double, Double, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 0.8, 0.75, 1.0, true),
      (2L, 0.0, 0.0, round2(1.0 / 29), false)))
  }
  private def round2(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q86 fused composition == stage-by-stage with materialization") {
    import graft.text.CorpusPipeline
    val d = TestSpark.SF
    // Stage-by-stage: the same four stages, but each one materialized
    // (localCheckpoint cuts the lineage) before the next consumes it —
    // if the fused single-plan form differs, composition leaked.
    val keep = CorpusPipeline.curatedKeepers(spark, d)
      .filter(col("doc_id") % TrainingSet.EVAL_MOD =!= 0).localCheckpoint()
    val cont = TrainingSet.contaminatedDocs(spark, d,
      keep.select(col("doc_id"), col("text"))).localCheckpoint()
    val decon = keep.join(cont, Seq("doc_id"), "left_anti").localCheckpoint()
    val mixed = TrainingSet.withMixtureDraw(decon)
      .filter(col("u") < col("rate")).localCheckpoint()
    val staged = TrainingSet.packSequences(
      mixed.select(col("doc_id"), col("n_tok")))
      .as[(Long, Long, Long)].collect().toSet
    val fused = TrainingSet.q86TrainsetBuild(spark, d)
      .as[(Long, Long, Long)].collect().toSet
    assert(fused == staged && fused.nonEmpty)
    // the composed output honors each stage's contract
    val packedDocs = fused.map(_._2)
    assert(packedDocs.forall(_ % TrainingSet.EVAL_MOD != 0), "eval doc packed")
    val keeperIds = CorpusPipeline.q78CorpusPipeline(spark, d)
      .select("doc_id").as[Long].collect().toSet
    assert(packedDocs.subsetOf(keeperIds), "non-keeper doc packed")
  }

  test("q78 curation: LSH candidate path == exact pair-join path") {
    // Both paths decide each pair on its own, so equality on the full
    // corpus covers every survivor subset q78 hands them.
    val arr = Dedup.shingleArrays(spark, TestSpark.SF)
    def ij(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = ij(Dedup.lshVerifiedPairs(spark, arr))
    val exact = ij(Dedup.jaccardPairs(spark, arr))
    assert(lsh == exact && lsh.nonEmpty,
      s"LSH pairs diverged: ${(lsh diff exact).size} extra, ${(exact diff lsh).size} missing")
  }

  test("q287 beamed CV sweep == exact sweep (beam = |cls|)") {
    val nCls = Tables.documents(spark, TestSpark.SF)
      .select("source").distinct().count()
    // both frames are built before either is collected: each holds its
    // own checkpoint blocks, so building the second leaves the first
    // readable
    val beamedDf = TrainingSet.q287NbCvBeam(spark, TestSpark.SF, TrainingSet.CV_BEAM)
    val exactDf = TrainingSet.q287NbCvBeam(spark, TestSpark.SF, nCls)
    def sweep(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.select("alpha", "f", "n_docs", "acc_ppm")
        .as[(Long, Long, Long, Long)].collect().toSet
    val beamed = sweep(beamedDf)
    val exact = sweep(exactDf)
    assert(nCls > TrainingSet.CV_BEAM)
    assert(beamed == exact && beamed.nonEmpty)
  }

  test("q96 shard manifest partitions the packed set exactly") {
    val packed = TrainingSet.q83SequencePacking(spark, TestSpark.SF)
    val (totChunks, totRows, totToks) = packed
      .agg(countDistinct(col("chunk_id")), count(lit(1)),
        sum(col("n_tok_in_chunk")))
      .as[(Long, Long, Long)].head()
    val shards = TrainingSet.q96ShardExport(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long)].collect()
    assert(shards.forall { case (id, _, _, _) =>
      id >= 0 && id < TrainingSet.N_SHARDS })
    // every chunk lands in exactly one shard: totals must reconcile
    assert(shards.map(_._2).sum == totChunks)
    assert(shards.map(_._3).sum == totRows)
    assert(shards.map(_._4).sum == totToks)
    // md5 keying should spread chunks: no shard takes > 3x its fair share
    val fair = totChunks.toDouble / TrainingSet.N_SHARDS
    assert(shards.forall(_._2 <= 3 * fair), "pathological shard skew")
  }

  test("q98 two-phase budget fill == naive global quality window") {
    val docs = graft.text.TextOps
      .withQuality(Tables.documents(spark, TestSpark.SF))
      .select(col("doc_id"), col("quality"), col("n_tok"))
      .filter(col("n_tok") > 0)
    val naive = docs
      .withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(
          Window.orderBy(col("quality").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < TrainingSet.TOKEN_BUDGET)
      .select(col("doc_id"), col("quality"), col("n_tok"),
        (col("cum_before") + col("n_tok")).as("cum_tokens"))
      .as[(Long, Double, Long, Long)].collect().toSet
    val twoPhase = TrainingSet.q98TokenBudget(spark, TestSpark.SF)
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(twoPhase == naive && naive.nonEmpty)
    // greedy-fill contract: selection is a strict subset, every
    // selected doc starts under budget, and the selected docs are
    // exactly the top-quality prefix
    assert(twoPhase.size < docs.count())
    assert(twoPhase.forall { case (_, _, n, cum) =>
      cum - n < TrainingSet.TOKEN_BUDGET })
    val minSelQuality = twoPhase.map(_._2).min
    val unselectedAbove = docs
      .filter(col("quality") > minSelQuality)
      .as[(Long, Double, Long)].collect()
      .count(r => !twoPhase.exists(_._1 == r._1))
    assert(unselectedAbove == 0, "a higher-quality doc was skipped")
  }

  test("q203 contamination spans: constructed overlap measures exactly") {
    import graft.text.TrainingSet
    // eval doc 7 (7 % SPAN_EVAL_MOD == 0) carries a 12-token passage;
    // train doc 1 quotes those 12 tokens verbatim inside other text;
    // train doc 2 shares nothing. 12 shared tokens = 5 overlapping
    // 8-grams in one contiguous run → max_span_tokens = 12, n_windows = 5.
    val quote = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (7L, s"evalpad $quote evalend"),
      (1L, s"aa bb cc $quote zz yy xx ww"),
      (2L, "totally different words with no overlap here at all")
    ).toDF("doc_id", "text")
    val out = TrainingSet.contamSpans(docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 7L, 12L, 5L)), s"got $out")
  }

  test("q203 pairs are consistent with q85-style span membership") {
    // Every (train, eval) pair q203 reports must share >= 1 verbatim
    // SPAN-token window, i.e. max_span >= SPAN and n_windows >= 1;
    // and the real-file run is nonempty at the verify SF (a 0-row
    // result would make the oracle gate vacuous).
    val rows = graft.text.TrainingSet
      .q203ContamSpans(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (d, e, span, win) =>
      d % graft.text.TrainingSet.SPAN_EVAL_MOD != 0 &&
      e % graft.text.TrainingSet.SPAN_EVAL_MOD == 0 &&
      span >= graft.text.Dedup.SPAN && win >= 1
    })
  }

  test("q211 DSIR weights match an independent driver-side mirror") {
    import graft.text.TrainingSet
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    def bkt(w1: String, w2: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$w1 $w2".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(6), 16) % TrainingSet.DSIR_BUCKETS
    }
    val grams = docs.flatMap { case (id, lang, t) =>
      val toks = t.split(" ")
      toks.sliding(2).filter(_.length == 2).map(p =>
        (id, lang == "en", bkt(p(0), p(1)))).toSeq
    }
    val t = grams.filter(_._2).groupBy(_._3).map { case (b, xs) => b -> xs.length.toLong }
    val r = grams.filterNot(_._2).groupBy(_._3).map { case (b, xs) => b -> xs.length.toLong }
    val (tt, rr) = (t.values.sum, r.values.sum)
    val bkts = (t.keySet ++ r.keySet)
    val c = bkts.map { b =>
      val (tb, rb) = (t.getOrElse(b, 0L), r.getOrElse(b, 0L))
      val x = ((tb + 1) * (rr + TrainingSet.DSIR_BUCKETS)).toDouble /
              ((rb + 1) * (tt + TrainingSet.DSIR_BUCKETS)).toDouble
      b -> BigDecimal(math.log(x) * TrainingSet.DSIR_SCALE)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.toMap
    val expect = grams.groupBy(_._1).map { case (id, xs) =>
      (id, xs.length.toLong, xs.map(g => c(g._3)).sum)
    }.toSeq.sortBy { case (id, _, w) => (-w, id) }.take(TrainingSet.DSIR_K)
    val got = TrainingSet.q211DsirWeights(spark, TestSpark.SF)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // target-resemblance sanity: the selected set must over-represent
    // the target language vs its corpus share (the method's whole point)
    val enAll = docs.count(_._2 == "en").toDouble / docs.length
    val enSel = got.count { case (id, _, _) =>
      docs.find(_._1 == id).get._2 == "en" }.toDouble / got.length
    assert(enSel > enAll,
      s"selected en-share $enSel must exceed corpus en-share $enAll")
  }

  test("q216 perceptron trace matches a driver-side re-training") {
    val stop = Set("the", "a", "of", "and")
    val feats = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
      .map { case (_, lang, t) =>
        val toks = t.split(" ")
        (if (lang == "en") 1L else -1L,
         Array(1L, toks.length.toLong, toks.distinct.length.toLong,
               toks.count(stop).toLong))
      }
    var w = Array(0L, 0L, 0L, 0L)
    val expect = (1 to TrainingSet.PERC_ROUNDS).map { r =>
      val mis = feats.filter { case (y, x) =>
        y * (0 until 4).map(i => w(i) * x(i)).sum <= 0 }
      val miss = mis.length.toLong
      w = Array.tabulate(4)(i => w(i) + mis.map { case (y, x) => y * x(i) }.sum)
      (r.toLong, w(0), w(1), w(2), w(3), miss)
    }
    val got = TrainingSet.q216PerceptronQuality(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // round 1 starts from w = 0: y·⟨0,x⟩ ≤ 0 everywhere, so every
    // document is in the first update batch
    assert(got.head._6 == feats.length.toLong)
    // training must actually separate something: the final round's error
    // count is strictly below the corpus size
    assert(got.last._6 < feats.length.toLong)
  }

  test("q219 crop pairs: boundaries, md5s, and overlap guarantee") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val expect = docs.map { case (id, t) =>
      val toks = t.split(" ")
      val n = toks.length
      val la = (2 * n + 2) / 3
      (id, n.toLong, md5hex(toks.take(la).mkString(" ")),
       md5hex(toks.takeRight(la).mkString(" ")),
       (2L * la - n), (2L * la - n) * 1000000L / n)
    }.sortBy(_._1).toSeq
    val got = TrainingSet.q219CropPairs(spark, TestSpark.SF)
      .as[(Long, Long, String, String, Long, Long)].collect().toSeq
    assert(got == expect)
    // the contrastive contract: every pair overlaps by at least n/3
    assert(got.forall { case (_, n, _, _, ov, _) => ov >= n / 3 })
  }

  test("q224 epoch budget matches a driver-side greedy mirror exactly") {
    import spark.implicits._
    // Mirror: per-source (u, q) ledger from raw text, then the greedy
    // value-ordered prefix with an exact partial boundary epoch.
    val perSrc = Tables.documents(spark, TestSpark.SF)
      .select(col("source"), col("text")).as[(String, String)].collect()
      .filter(_._2.nonEmpty)
      .groupBy(_._1).map { case (src, xs) =>
        val stats = xs.map { case (_, t) =>
          val tk = t.split(" "); (tk.length.toLong, tk.distinct.length.toLong) }
        val u = stats.map(_._1).sum
        val q = stats.map { case (n, d) => d * 1000000L / n }.sum / stats.size
        (src, u, q)
      }.toSeq
    val budget = perSrc.map(_._2).sum * TrainingSet.BUDGET_NUM /
      TrainingSet.BUDGET_DEN
    val cand = perSrc.flatMap { case (src, u, q) =>
      (1 to TrainingSet.EPOCH_MAX).map(k => (src, u, q, k, q >> (k - 1))) }
      .sortBy { case (src, _, _, k, v) => (-v, src, k) }
    var remaining = budget
    val allocs = cand.map { case (src, u, q, k, _) =>
      val a = math.max(0L, math.min(u, remaining)); remaining -= u
      (src, u, q, a)
    }.filter(_._4 > 0)
    val expect = allocs.groupBy(_._1).map { case (src, xs) =>
      (src, xs.head._2, xs.head._3,
       xs.count(x => x._4 == x._2).toLong,
       xs.collectFirst { case (_, u, _, a) if a < u => a * 1000000L / u }
         .getOrElse(0L),
       xs.map(_._4).sum)
    }.toSeq.sortBy(_._1)
    val got = TrainingSet.q224EpochBudget(spark, TestSpark.SF)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // exact budget conservation: candidate mass (4 epochs) exceeds the
    // 1.5x budget, so the greedy fill must land on it to the token
    assert(got.map(_._6).sum == budget)
    // at most one boundary partial; epoch counts within [1, EPOCH_MAX]
    assert(got.count(_._5 > 0) <= 1)
    assert(got.forall(r => r._4 >= 0 && r._4 <= TrainingSet.EPOCH_MAX))
  }

  test("q230 surgical decontamination: untouched docs intact, hits scrubbed") {
    import spark.implicits._
    val got = TrainingSet.q230DecontamScrub(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long, String)].collect()
    val evalIds = Tables.documents(spark, TestSpark.SF)
      .filter(col("doc_id") % TrainingSet.SPAN_EVAL_MOD === 0).count()
    val total = Tables.documents(spark, TestSpark.SF).count()
    // output covers exactly the train side
    assert(got.length.toLong == total - evalIds)
    // clean documents pass through BYTE-identical (md5 of original text)
    val originals = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), md5(col("text")).as("m"))
      .as[(Long, String)].collect().toMap
    got.foreach { case (id, nTok, nKept, nWin, m) =>
      assert(nKept <= nTok)
      if (nWin == 0) assert(nKept == nTok && m == originals(id),
        s"clean doc $id was altered")
      else assert(nKept < nTok, s"contaminated doc $id kept everything")
    }
    // the q203 audit and this remediation must agree on WHO is affected
    val audited = TrainingSet.q203ContamSpans(spark, TestSpark.SF)
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._4 > 0).map(_._1).toSet == audited)
  }

  test("q233 RRF: per-source top list, fused score consistent with ranks") {
    import spark.implicits._
    val got = TrainingSet.q233RrfSelect(spark, TestSpark.SF)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val srcs = Tables.documents(spark, TestSpark.SF)
      .select("source").distinct().count()
    got.groupBy(_._1).foreach { case (src, rows) =>
      // exactly RRF_TOP per source (corpus has > RRF_TOP docs each),
      // sel_rank consecutive from 1
      assert(rows.map(_._2).sorted.toSeq ==
        (1L to TrainingSet.RRF_TOP.toLong), s"bad top list for $src")
      // fused recomputes from the three ranks exactly
      rows.foreach { case (_, _, _, r1, r2, r3, fused) =>
        val k = TrainingSet.RRF_K
        assert(fused == 1000000L / (k + r1) + 1000000L / (k + r2)
          + 1000000L / (k + r3))
      }
      // the selection is ordered by fused desc (doc_id tiebreak)
      val sorted = rows.sortBy(_._2)
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a._7 > b._7 || (a._7 == b._7 && a._3 < b._3))
      }
    }
    assert(got.groupBy(_._1).size.toLong == srcs)
  }

  test("q242 k-fold: per-stratum ±1 balance, every doc folded once") {
    import spark.implicits._
    val K = TrainingSet.K_FOLDS
    val ledger = TrainingSet.q242KfoldStrata(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("source"),
        expr("size(array_distinct(split(text, ' '))) * 10L div size(split(text, ' '))"))
      .as[(Long, String, Long)].collect()
    assert(ledger.map(_._2).sum == docs.length.toLong)
    assert(ledger.map(_._1).sorted.toSeq == (0L until K))
    // mirror the assignment and assert the per-stratum ±1 contract
    def md5off(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var v = 0L
      for (i <- 0 until 4) v = (v << 8) | (h(i) & 0xffL)
      v % K
    }
    docs.groupBy(t => (t._2, t._3)).foreach { case ((src, band), xs) =>
      val off = md5off(s"$src:$band")
      val folds = xs.map(_._1).sorted.zipWithIndex
        .map { case (_, r) => (r + off) % K }
      val counts = (0L until K).map(f => folds.count(_ == f))
      assert(counts.max - counts.min <= 1,
        s"stratum ($src,$band) unbalanced: $counts")
    }
  }
}
