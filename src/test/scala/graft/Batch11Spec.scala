package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Property checks for the round-11 additions past Batch10: q290
  * (pairwise-preference data card). The tournament is replayed in full
  * driver-side from the raw documents table — block assignment,
  * md5-shuffle ordering, neighbor pairing, win/loss/tie tallies,
  * Copeland — so the spec proves the distributed formulation. */
class Batch11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q290 preference card: tournament laws and full driver-side replay") {
    val rows = text.TrainingSet.q290PreferenceCard(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.map(r => r.getAs[String]("source") -> r).toMap
    // census: one row per distinct source
    val sources = Tables.documents(spark, TestSpark.SF)
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(bySrc.keySet == sources)
    // conservation: every win is someone's loss; ties are mutual, so
    // the tie column sums even; comparisons partition into w+l+t
    assert(rows.map(_.getAs[Long]("wins")).sum ==
      rows.map(_.getAs[Long]("losses")).sum)
    assert(rows.map(_.getAs[Long]("ties")).sum % 2 == 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cmp") == r.getAs[Long]("wins") +
        r.getAs[Long]("losses") + r.getAs[Long]("ties"))
    }
    // full replay: blocks, md5 order, lead(1) pairing, tallies
    val docs = text.TextOps.withQuality(Tables.documents(spark, TestSpark.SF))
      .select(col("doc_id"), col("source"),
        expr("cast(round(quality * 1000000) as bigint)").as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val withH = docs.map { case (id, src, q) =>
      val h = md5hex(id.toString)
      (java.lang.Long.parseLong(h.substring(0, 6), 16) %
        text.TrainingSet.PREF_BLOCKS, h, id, src, q)
    }
    val pairs = withH.groupBy(_._1).values.flatMap { blk =>
      val ord = blk.sortBy(t => (t._2, t._3))
      ord.zip(ord.drop(1))
    }.filter { case (a, b) => a._4 != b._4 }.toSeq
    // duo tallies from both perspectives
    case class T(var n: Long = 0, var w: Long = 0, var l: Long = 0,
                 var t: Long = 0)
    val duo = scala.collection.mutable.Map[(String, String), T]()
    pairs.foreach { case (a, b) =>
      val x = duo.getOrElseUpdate((a._4, b._4), T())
      val y = duo.getOrElseUpdate((b._4, a._4), T())
      x.n += 1; y.n += 1
      if (a._5 > b._5) { x.w += 1; y.l += 1 }
      else if (a._5 < b._5) { x.l += 1; y.w += 1 }
      else { x.t += 1; y.t += 1 }
    }
    val expCard = duo.toSeq.groupBy(_._1._1).map { case (s, es) =>
      s -> (es.map(_._2.n).sum, es.map(_._2.w).sum, es.map(_._2.l).sum,
        es.map(_._2.t).sum,
        es.map { case (_, t) =>
          if (t.w > t.l) 2L else if (t.w == t.l) 1L else 0L }.sum)
    }
    sources.foreach { s =>
      val r = bySrc(s)
      expCard.get(s) match {
        case Some((n, w, l, t, cope)) =>
          assert(r.getAs[Long]("n_cmp") == n, s"n_cmp $s")
          assert(r.getAs[Long]("wins") == w, s"wins $s")
          assert(r.getAs[Long]("losses") == l, s"losses $s")
          assert(r.getAs[Long]("ties") == t, s"ties $s")
          assert(r.getAs[Long]("copeland2") == cope, s"copeland $s")
          assert(r.getAs[Long]("win_ppm") == w * 1000000L / n)
        case None =>
          assert(r.getAs[Long]("n_cmp") == 0L)
          assert(r.getAs[Long]("win_ppm") == -1L)
      }
    }
    // the tournament must be non-trivial on the test corpus
    assert(pairs.nonEmpty)
    assert(rows.exists(_.getAs[Long]("wins") > 0))
  }

  test("q291 KMV sketch: estimator replay, degenerate rule, error fence") {
    val rows = text.CorpusStats.q291BottomkDistinct(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val k = text.CorpusStats.KMV_K
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // full replay: distinct 3-gram shingles per source → 60-bit
    // hashes → bottom-k → KMV
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val hBySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap { case (_, txt) =>
        val t = txt.split(" ", -1)
        if (t.length < 3) Seq.empty[String]
        else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      }.distinct
        .map(g => java.lang.Long.parseLong(md5hex(g).substring(0, 15), 16))
        .distinct.sorted
    }
    assert(rows.map(_.getAs[String]("source")).toSet == hBySrc.keySet)
    rows.foreach { r =>
      val hs = hBySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_distinct") == hs.length)
      val sk = hs.take(k)
      assert(r.getAs[Long]("n_sketch") == sk.length)
      assert(r.getAs[Long]("kth_hash") == sk.last)
      // (k−1)·2^60 overflows Long — BigInt mirrors the query's
      // decimal(38,0) numerator
      val est = if (sk.length < k) sk.length.toLong
                else (BigInt(k - 1) * BigInt(1L << 60) / sk.last).toLong
      assert(r.getAs[Long]("est") == est,
        s"KMV estimate for ${r.getAs[String]("source")}")
      val err = math.abs(est - hs.length) * 1000000L / hs.length
      assert(r.getAs[Long]("err_ppm") == err)
      // the shipped fence: anything past 4σ would have raise_error'd
      assert(err <= 508000L)
    }
    // the sketch path must actually engage on the test corpus: at
    // least one source has more than k distinct hashes
    assert(rows.exists(_.getAs[Long]("n_distinct") > k))
  }

  test("q292 LOSO valuation: split census, no-op rule, full NB retrain replay") {
    val rows = text.TrainingSet.q292LosoValue(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ", -1).toSeq)).toSeq
    val (evl, train) = docs.partition { case (id, _, _, _) =>
      java.lang.Long.parseLong(md5hex(id.toString).substring(0, 8), 16) % 10 == 0
    }
    assert(evl.nonEmpty && train.nonEmpty)
    // census: one row per source; n_train_docs matches the split
    val trainBySrc = train.groupBy(_._2).map { case (s, d) => s -> d.size.toLong }
    val allSrc = docs.map(_._2).toSet
    assert(rows.map(_.getAs[String]("source")).toSet == allSrc)
    rows.foreach(r => assert(r.getAs[Long]("n_train_docs") ==
      trainBySrc.getOrElse(r.getAs[String]("source"), 0L)))
    // driver-side NB (predicting lang) trained on an arbitrary doc
    // subset, scored on the eval split — the ground-truth retrainer
    def f7(x: Double): Long = math.floor(math.log(x) * 1e7).toLong
    def accOf(tr: Seq[(Long, String, String, Seq[String])]): Long = {
      val occ = tr.flatMap { case (_, _, l, ts) => ts.map(t => (t, l)) }
      val cnt = occ.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
      val ns = occ.groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
      val ds = tr.groupBy(_._3).map { case (l, v) => l -> v.size.toLong }
      val v = cnt.keys.map(_._1).toSet.size.toLong
      val dd = tr.size.toLong
      val classes = ds.filter(_._2 > 0).keys.toSeq.sorted
      val correct = evl.count { case (_, _, lTrue, ts) =>
        val best = classes.map { l =>
          val u7 = f7((ns(l) + v).toDouble)
          val nll = ts.map { t =>
            cnt.get((t, l)) match {
              case Some(c) => f7((ns(l) + v).toDouble / (c + 1).toDouble)
              case None    => u7
            }
          }.sum + f7(dd.toDouble / ds(l).toDouble)
          (nll, l)
        }.min
        best._2 == lTrue
      }
      correct.toLong * 1000000L / evl.size
    }
    val accFull = accOf(train)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("acc_full_ppm") == accFull, s"full acc ($src row)")
      val expLoso =
        if (trainBySrc.getOrElse(src, 0L) == 0L) accFull // no-op rule
        else accOf(train.filterNot(_._2 == src))
      assert(r.getAs[Long]("acc_loso_ppm") == expLoso, s"LOSO acc for $src")
      assert(r.getAs[Long]("delta_ppm") == expLoso - accFull)
    }
    // the valuation must be non-trivial: some source moves the needle
    // (tiny corpora can be flat — only require internal consistency
    // plus at least one engaged holdout)
    assert(rows.exists(_.getAs[Long]("n_train_docs") > 0))
  }

  test("q293 SPRT: full ladder replay — census, crossing index, end LLR") {
    val rows = ops.Analytics.q293SprtMonitor(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val ev = Tables.events(spark, TestSpark.SF)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"),
        col("event_type")).collect()
      .map(r => (java.lang.Long.parseLong(
        md5hex(r.getLong(0).toString).substring(0, 4), 16) % 2,
        r.getLong(1), r.getLong(2), r.getString(3) == "purchase"))
    val c1 = math.floor(math.log(5.0 / 4.0) * 1e7).toLong
    val c0 = math.floor(math.log(15.0 / 16.0) * 1e7).toLong
    val a7 = math.floor(math.log(19.0) * 1e7).toLong
    val byArm = ev.groupBy(_._1)
    assert(rows.map(_.getAs[Long]("arm")).toSet == byArm.keySet)
    rows.foreach { r =>
      val arm = r.getAs[Long]("arm")
      val stream = byArm(arm).sortBy(t => (t._2, t._3))
      assert(r.getAs[Long]("n_events") == stream.length)
      assert(r.getAs[Long]("n_conv") == stream.count(_._4))
      var llr = 0L
      var cross: Option[(Long, String)] = None
      stream.zipWithIndex.foreach { case ((_, _, _, conv), idx) =>
        llr += (if (conv) c1 else c0)
        if (cross.isEmpty) {
          if (llr >= a7) cross = Some((idx + 1L, "reject_h0"))
          else if (llr <= -a7) cross = Some((idx + 1L, "accept_h0"))
        }
      }
      assert(r.getAs[Long]("llr_end_e7") == llr, s"end LLR arm $arm")
      cross match {
        case Some((i, dec)) =>
          assert(r.getAs[String]("decision") == dec, s"decision arm $arm")
          assert(r.getAs[Long]("n_decide") == i, s"n_decide arm $arm")
        case None =>
          assert(r.getAs[String]("decision") == "continue")
          assert(r.getAs[Long]("n_decide") == -1L)
      }
    }
  }

  test("q294 Fellegi-Sunter: population census and full weight/score replay") {
    val rows = text.Dedup.q294FellegiSunter(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // labeled sets: M from the graded q40 pair engine (independently
    // hash-proven), U replayed from raw block-neighbor pairing
    val m = text.Dedup.cachedTextPairs(spark, TestSpark.SF)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map { r =>
        val t = r.getString(3).split(" ", -1)
        (r.getLong(0), (r.getString(1), r.getString(2),
          t.length.toLong / 16L, t(0)))
      }.toMap
    val withH = docs.keys.toSeq.map { id =>
      val h = md5hex(id.toString)
      (java.lang.Long.parseLong(h.substring(0, 6), 16) %
        text.Dedup.LINK_BLOCKS, h, id)
    }
    val neigh = withH.groupBy(_._1).values.flatMap { blk =>
      val ord = blk.sortBy(t => (t._2, t._3))
      ord.zip(ord.drop(1)).map { case (x, y) =>
        (math.min(x._3, y._3), math.max(x._3, y._3))
      }
    }.toSet
    val u = neigh -- m
    val pop = m.toSeq.map((_, 1L)) ++ u.toSeq.map((_, 0L))
    def gs(p: (Long, Long)): Seq[Long] = {
      val (fa, fb) = (docs(p._1), docs(p._2))
      Seq(if (fa._1 == fb._1) 1L else 0L, if (fa._2 == fb._2) 1L else 0L,
        if (fa._3 == fb._3) 1L else 0L, if (fa._4 == fb._4) 1L else 0L)
    }
    val nm = m.size.toLong
    val nu = u.size.toLong
    val aM = (0 to 3).map(k => m.toSeq.map(p => gs(p)(k)).sum)
    val aU = (0 to 3).map(k => u.toSeq.map(p => gs(p)(k)).sum)
    def f7(x: Double): Long = math.floor(math.log(x) * 1e7).toLong
    val wa = (0 to 3).map(k =>
      f7((aM(k) + 1).toDouble * (nu + 2) / ((nm + 2).toDouble * (aU(k) + 1))))
    val wd = (0 to 3).map(k =>
      f7((nm + 1 - aM(k)).toDouble * (nu + 2)
        / ((nm + 2).toDouble * (nu + 1 - aU(k)))))
    val exp = pop.map { case (p, im) =>
      val g = gs(p)
      val sc = (0 to 3).map(k => if (g(k) == 1L) wa(k) else wd(k)).sum
      val dec = if (sc >= 10000000L) "link"
                else if (sc <= -10000000L) "nonlink" else "possible"
      ((dec, im), sc)
    }.groupBy(_._1).map { case (k2, vs) =>
      k2 -> (vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max)
    }
    val got = rows.map(r => (r.getAs[String]("decision"),
      r.getAs[Long]("is_match")) ->
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("min_score_e7"),
        r.getAs[Long]("max_score_e7"))).toMap
    assert(got == exp, "FS confusion ledger replay")
    // census: every labeled pair is banded exactly once
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nm + nu)
  }

  test("q295 CUSUM: stateful recursion replay proves the prefix-min closed form") {
    val rows = ops.Analytics.q295CusumMonitor(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, TestSpark.SF)
      .select(col("event_type"), expr("(ts div 1000) div 86400000000")
        .as("day")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min
    val d1 = ev.map(_._2).max
    val types = ev.map(_._1).distinct.sorted
    assert(rows.map(_.getAs[String]("event_type")).toSeq == types.toSeq)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val byDay = ev.filter(_._1 == t).groupBy(_._2)
        .map { case (d2, v) => d2 -> v.size.toLong }
      val series = (d0 to d1).map(d2 => d2 -> byDay.getOrElse(d2, 0L))
      assert(r.getAs[Long]("n_days") == series.length)
      // knobs from the first-7-day baseline
      val mu = series.filter(_._1 < d0 + 7).map(_._2).sum / 7
      val slack = math.max(1L, mu / 10)
      assert(r.getAs[Long]("mu") == mu)
      assert(r.getAs[Long]("k_allow") == mu + slack)
      assert(r.getAs[Long]("h_thresh") == 5 * slack)
      // ground truth: the literal stateful recursion
      // S_d = max(0, S_{d-1} + x_d - k)
      var sRec = 0L
      var sMax = 0L
      var alarm = -1L
      series.foreach { case (d2, x) =>
        sRec = math.max(0L, sRec + x - (mu + slack))
        sMax = math.max(sMax, sRec)
        if (alarm == -1L && sRec >= 5 * slack) alarm = d2
      }
      assert(r.getAs[Long]("s_max") == sMax, s"s_max for $t")
      assert(r.getAs[Long]("alarm_day") == alarm, s"alarm_day for $t")
    }
    // the ladder must actually move on the test stream
    assert(rows.exists(_.getAs[Long]("s_max") > 0))
  }

  test("q296 MASE backtest: lag-error replay and normalization identity") {
    val rows = ops.Analytics.q296ForecastBacktest(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, TestSpark.SF)
      .select(col("event_type"), expr("(ts div 1000) div 86400000000")
        .as("day")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val d0 = ev.map(_._2).min
    val d1 = ev.map(_._2).max
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val byDay = ev.filter(_._1 == t).groupBy(_._2)
        .map { case (d2, v) => d2 -> v.size.toLong }
      val xs = (d0 to d1).map(d2 => byDay.getOrElse(d2, 0L))
      assert(r.getAs[Long]("n_days") == xs.length)
      val sae1 = xs.sliding(2).map(p => math.abs(p(1) - p(0))).sum
      val sae7 = (7 until xs.length).map(i => math.abs(xs(i) - xs(i - 7))).sum
      assert(r.getAs[Long]("sae_naive") == sae1, s"naive SAE for $t")
      assert(r.getAs[Long]("sae_snaive") == sae7, s"seasonal SAE for $t")
      val n1 = xs.length - 1L
      val n7 = xs.length - 7L
      assert(sae1 > 0L) // constant series would have raise_error'd
      assert(r.getAs[Long]("mase_ppm") == sae7 * n1 * 1000000L / (n7 * sae1))
    }
  }

  test("q297 Wasserstein: exact 1-D transport replay and metric laws") {
    val rows = text.CorpusStats.q297Wasserstein(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val vals = docs.map(_._2).distinct.sorted
    val nn = docs.length.toLong
    val bySrc = docs.groupBy(_._1)
    assert(rows.map(_.getAs[String]("source")).toSet == bySrc.keySet)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val vs = bySrc(src).map(_._2)
      val ns = vs.length.toLong
      assert(r.getAs[Long]("n_docs") == ns)
      // exact W1: sum over the value grid of |F_s - F_pool| * gap,
      // in counts-cross-multiplied integer form
      val num = vals.sliding(2).map { pair =>
        val v = pair(0); val dv = pair(1) - pair(0)
        val cums = vs.count(_ <= v).toLong
        val cumg = docs.count(_._2 <= v).toLong
        math.abs(cums * nn - cumg * ns) * dv
      }.sum
      assert(r.getAs[Long]("w1_micro") == num * 1000000L / (ns * nn),
        s"W1 for $src")
      assert(r.getAs[Long]("w1_micro") >= 0L)
    }
    // identity law: a source identical to the pool would be 0; the
    // test corpus must show real drift somewhere
    assert(rows.exists(_.getAs[Long]("w1_micro") > 0))
  }

  test("q298 Benford: digit census, Benford constants, mass conservation") {
    val rows = ops.StatShapes.q298Benford(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val cents = Tables.lineitem(spark, TestSpark.SF)
      .select(expr("cast(round(l_extendedprice * 100, 0) as decimal(18,0))")
        .cast("long").as("c")).collect().map(_.getLong(0))
    val expByDigit = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).map { case (d2, v) => d2 -> v.size.toLong }
    assert(rows.map(_.getAs[Long]("digit")).toSet == expByDigit.keySet)
    val nn = cents.length.toLong
    rows.foreach { r =>
      val d2 = r.getAs[Long]("digit")
      assert(d2 >= 1L && d2 <= 9L) // a leading 0 would mean a 0 price
      assert(r.getAs[Long]("n") == expByDigit(d2))
      assert(r.getAs[Long]("obs_ppm") == expByDigit(d2) * 1000000L / nn)
      val ben = math.floor(math.log(1.0 + 1.0 / d2) / math.log(10.0) * 1e6)
        .toLong
      assert(r.getAs[Long]("benford_ppm") == ben)
      assert(r.getAs[Long]("dev_ppm") ==
        math.abs(r.getAs[Long]("obs_ppm") - ben))
    }
    // Benford expectations are a probability mass: they sum to ~1e6
    // (floor deficit < 9)
    val benSum = rows.map(_.getAs[Long]("benford_ppm")).sum
    assert(benSum <= 1000000L && benSum > 1000000L - 9L)
    assert(rows.map(_.getAs[Long]("n")).sum == nn)
  }

  test("q299 Neyman: weight identity, Hamilton conservation, full replay") {
    val rows = text.TrainingSet.q299NeymanAlloc(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val B = text.TrainingSet.NEYMAN_BUDGET
    // THE apportionment law: the budget is conserved exactly
    assert(rows.map(_.getAs[Long]("alloc")).sum == B)
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc") ==
        r.getAs[Long]("base") + r.getAs[Long]("extra"))
      assert(r.getAs[Long]("extra") == 0L || r.getAs[Long]("extra") == 1L)
    }
    // full replay: moments, N_h*S_h = sqrt(n*syy - sy^2), Hamilton
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("y")).collect().map(r => (r.getString(0), r.getLong(1)))
    val mom = docs.groupBy(_._1).map { case (s2, ds) =>
      val ys = ds.map(_._2)
      val n = ys.length.toLong
      val sy = ys.sum
      val syy = ys.map(y => y * y).sum
      s2 -> (n, math.floor(math.sqrt((n * syy - sy * sy).toDouble) * 1000)
        .toLong)
    }
    val sw = mom.values.map(_._2).sum
    assert(sw > 0L)
    val quota = mom.map { case (s2, (n, w)) =>
      (s2, n, w, B * w / sw, B * w % sw)
    }.toSeq
    val seats = B - quota.map(_._4).sum
    val extras = quota.sortBy(q => (-q._5, q._1)).take(seats.toInt)
      .map(_._1).toSet
    val expected = quota.map { case (s2, n, w, base, _) =>
      s2 -> (n, w, base, if (extras(s2)) 1L else 0L)
    }.toMap
    rows.foreach { r =>
      val s2 = r.getAs[String]("source")
      val (n, w, base, extra) = expected(s2)
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("w") == w, s"weight for $s2")
      assert(r.getAs[Long]("base") == base, s"base for $s2")
      assert(r.getAs[Long]("extra") == extra, s"extra for $s2")
    }
  }

  test("q300 McNemar: concordance conservation and consistency with q285") {
    val rows = text.TrainingSet.q300Mcnemar(spark, TestSpark.SF).collect()
    assert(rows.length == 1)
    val r = rows.head
    val n = r.getAs[Long]("n_docs")
    val cells = Seq("n_both_right", "n_both_wrong", "b_a1_only", "c_a4_only")
      .map(r.getAs[Long])
    // 2x2 concordance partitions the corpus
    assert(cells.sum == n)
    assert(cells.forall(_ >= 0L))
    val b = r.getAs[Long]("b_a1_only")
    val c = r.getAs[Long]("c_a4_only")
    val stat = r.getAs[Long]("mcnemar_milli")
    if (b + c == 0L) assert(stat == -1L)
    else assert(stat == (b - c) * (b - c) * 1000L / (b + c))
    // cross-check against the graded q285 confusion matrix: the α=1
    // model here IS q285's model, so α=1 accuracy must match its
    // diagonal mass exactly
    val diag = text.TrainingSet.q285NbSource(spark, TestSpark.SF).collect()
      .filter(x => x.getAs[String]("source") == x.getAs[String]("predicted"))
      .map(_.getAs[Long]("n_docs")).sum
    assert(r.getAs[Long]("n_both_right") + b == diag,
      "alpha=1 accuracy must equal q285 diagonal")
  }

  test("q301 KMV merge: mergeability identity and full estimator replay") {
    val rows = text.CorpusStats.q301KmvOverlap(spark, TestSpark.SF).collect()
    assert(rows.nonEmpty)
    val k = text.CorpusStats.KMV_K
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val full = docs.groupBy(_._1).map { case (s2, ds) =>
      s2 -> ds.flatMap { case (_, txt) =>
        val t = txt.split(" ", -1)
        if (t.length < 3) Seq.empty[String]
        else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      }.distinct
        .map(g => java.lang.Long.parseLong(md5hex(g).substring(0, 15), 16))
        .toSet
    }
    val sketch = full.map { case (s2, hs) => s2 -> hs.toSeq.sorted.take(k) }
    val srcs = full.keys.toSeq.sorted
    val expPairs = for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield (srcs(i), srcs(j))
    assert(rows.map(r => (r.getAs[String]("source_a"),
      r.getAs[String]("source_b"))).toSeq.sorted == expPairs.sorted)
    rows.foreach { r =>
      val (a, b2) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      // MERGEABILITY: bottom-k of (sketchA ∪ sketchB) == bottom-k of
      // the FULL union — the law that lets sketches ship instead of sets
      val mergedFromSketch =
        (sketch(a) ++ sketch(b2)).distinct.sorted.take(k)
      val fromFullUnion = (full(a) ++ full(b2)).toSeq.sorted.take(k)
      assert(mergedFromSketch == fromFullUnion, s"mergeability $a/$b2")
      // estimator replay from the sketches alone
      val m = mergedFromSketch.length.toLong
      val estU = if (m < k) m
                 else (BigInt(k - 1) * BigInt(1L << 60)
                   / mergedFromSketch.last).toLong
      val matched = mergedFromSketch
        .count(h => sketch(a).contains(h) && sketch(b2).contains(h)).toLong
      assert(r.getAs[Long]("est_union") == estU, s"est_union $a/$b2")
      assert(r.getAs[Long]("est_inter") == matched * estU / m)
      assert(r.getAs[Long]("jacc_est_ppm") == matched * 1000000L / m)
      // exact audit columns
      val ni = (full(a) & full(b2)).size.toLong
      val nu = (full(a) | full(b2)).size.toLong
      assert(r.getAs[Long]("n_inter") == ni)
      assert(r.getAs[Long]("n_union") == nu)
      assert(r.getAs[Long]("err_union_ppm") ==
        math.abs(estU - nu) * 1000000L / nu)
    }
  }

  test("q302 conformal: full pipeline replay — splits, threshold, coverage") {
    val rows = text.TrainingSet.q302Conformal(spark, TestSpark.SF).collect()
    assert(rows.length == text.TrainingSet.CONF_ALPHAS.length)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val docs = Tables.documents(spark, TestSpark.SF)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map { r =>
        val sp = java.lang.Long.parseLong(
          md5hex(r.getLong(0).toString).substring(0, 8), 16) % 5
        (r.getLong(0), sp, r.getString(1), r.getString(2).split(" ", -1).toSeq)
      }
    val train = docs.filter(_._2 >= 2)
    // driver-side NB on the train split (q285-style integer terms)
    val occ = train.flatMap { case (_, _, l, ts) => ts.map(t => (t, l)) }
    val cnt = occ.groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val ns = occ.groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
    val ds = train.groupBy(_._3).map { case (l, v) => l -> v.size.toLong }
    val v = cnt.keys.map(_._1).toSet.size.toLong
    val dd = train.size.toLong
    def f7(x: Double): Long = math.floor(math.log(x) * 1e7).toLong
    val classes = ds.keys.toSeq.sorted
    def score(doc: (Long, Long, String, Seq[String]), l: String): Long = {
      val u7 = f7((ns(l) + v).toDouble)
      val nll = doc._4.map { t =>
        cnt.get((t, l)) match {
          case Some(c) => f7((ns(l) + v).toDouble / (c + 1).toDouble)
          case None    => u7
        }
      }.sum + f7(dd.toDouble / ds(l).toDouble)
      // floorDiv semantics match BIGINT div for positive nll
      Math.floorDiv(nll, doc._4.size.toLong)
    }
    val cal = docs.filter(_._2 == 0).map(d2 => (score(d2, d2._3), d2._1))
      .sortBy(identity)
    val evl = docs.filter(_._2 == 1)
    rows.foreach { r =>
      val aM = r.getAs[Long]("alpha_milli")
      assert(r.getAs[Long]("n_cal") == cal.length)
      val k = ((cal.length + 1) * (1000 - aM) + 999) / 1000
      assert(r.getAs[Long]("k_rank") == k)
      val tau = cal(k.toInt - 1)._1
      assert(r.getAs[Long]("thresh_score") == tau, s"threshold at α=$aM")
      val sets = evl.map { d2 =>
        val inc = classes.filter(l => score(d2, l) <= tau)
        (inc.size.toLong, if (inc.contains(d2._3)) 1L else 0L)
      }
      assert(r.getAs[Long]("n_eval") == evl.length)
      assert(r.getAs[Long]("coverage_ppm") ==
        sets.map(_._2).sum * 1000000L / evl.length, s"coverage at α=$aM")
      assert(r.getAs[Long]("avg_set_milli") ==
        sets.map(_._1).sum * 1000L / evl.length)
    }
    // thresholds tighten monotonically as α grows (k_rank decreases)
    val sorted = rows.sortBy(_.getAs[Long]("alpha_milli"))
    assert(sorted.sliding(2).forall(p => p.length < 2 ||
      p(0).getAs[Long]("thresh_score") >= p(1).getAs[Long]("thresh_score")))
  }
}
