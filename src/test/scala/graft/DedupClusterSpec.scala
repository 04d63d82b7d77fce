package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.DedupCluster

/** Connected-components correctness: star contraction must match
  * plain transitive closure on adversarial shapes (long chains are the
  * case where naive min-propagation needs diameter rounds). */
class DedupClusterSpec extends AnyFunSuite {

  test("q148: a near-dup cluster never straddles splits; all splits populated") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = graft.text.DedupCluster
      .q148LeakFreeSplit(spark, TestSpark.SF)
      .as[(Long, Long, String)].collect()
    assert(rows.nonEmpty && rows.map(_._3).toSet == Set("train", "val", "test"))
    // leakage check: one split per cluster, including multi-doc clusters
    val byCluster = rows.groupBy(_._2).map { case (c, rs) =>
      (c, rs.map(_._3).toSet.size, rs.length) }
    assert(byCluster.forall(_._2 == 1), "cluster straddles splits")
    assert(byCluster.exists(_._3 > 1), "no multi-doc cluster exercised the guarantee")
    // deterministic draw → rough proportions (md5 uniform, 500 docs)
    val train = rows.count(_._3 == "train").toDouble / rows.length
    assert(train > 0.7 && train < 0.9, s"train share $train implausible")
  }
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)],
      localMaxEdges: Long = DedupCluster.CC_LOCAL_MAX_EDGES): Map[Long, Long] =
    DedupCluster.connectedComponents(pairs.toDF("i", "j"), localMaxEdges)
      .as[(Long, Long)].collect().toMap

  test("chain, star, singleton-free mix resolves to min roots") {
    // chain 1-2-3-4-5 (diameter 4), star 10-{11,12,13}, pair 20-21,
    // plus a cross link merging chain and star via 5-13
    val got = components(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (5L, 13L)))
    val expect = Map(
      2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 1L, 1L -> 1L,
      20L -> 20L, 21L -> 20L)
    assert(got == expect)
  }

  test("long chain (64 nodes) converges to one root in bounded rounds") {
    val chain = (0L until 63L).map(k => (k, k + 1))
    val got = components(chain)
    assert(got.keySet == (0L until 64L).toSet)
    assert(got.values.toSet == Set(0L))
  }

  test("edge order and orientation do not matter (determinism)") {
    val pairs = Seq((3L, 1L), (2L, 3L), (9L, 7L), (8L, 9L))
    val a = components(pairs)
    val b = components(pairs.reverse.map { case (x, y) => (y, x) })
    assert(a == b && a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                              7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("matches a union-find reference on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val n = 30
      val pairs = Seq.fill(25 + rnd.nextInt(15))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // union-find with union-by-min: every root is its component's min
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inEdges = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      val expected = inEdges.map(x => x -> find(x.toInt).toLong).toMap
      assert(components(pairs) == expected)
    }
  }

  test("driver local-finish and distributed star contraction agree") {
    // Below the localMaxEdges ceiling CC finishes with a driver
    // union-find; force the distributed loop with a 0 ceiling and assert
    // identical labels on the same adversarial + random graphs.
    def both(pairs: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) =
      (components(pairs), components(pairs, localMaxEdges = 0))
    val chain = (0L until 40L).map(k => (k, k + 1))
    val (lc, dc) = both(chain)
    assert(lc == dc && lc.values.toSet == Set(0L))
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(60)(
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
    val (lr, dr) = both(pairs)
    assert(lr == dr && lr.nonEmpty)
  }

  test("q76 labels every document; clusters agree with q40 pairs") {
    val d = TestSpark.SF
    val out = DedupCluster.q76DedupComponents(spark, d)
      .as[(Long, Long, Long)].collect()
    val nDocs = graft.Tables.documents(spark, d).count()
    assert(out.length == nDocs)
    // every q40 pair must land in the same cluster
    val cluster = out.map(r => r._1 -> r._2).toMap
    val pairs = graft.text.Dedup.q40NgramJaccard(spark, d)
      .select("i", "j").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (i, j) =>
      assert(cluster(i) == cluster(j), s"pair ($i,$j) split across clusters") }
    // keeper is the min doc_id of its cluster
    out.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.map(_._1).min == cid) }
    // cluster_size column is consistent
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSet == Set(rows.length.toLong)) }
  }

  test("corpus pipeline: survivors pass all filters, exactly one keeper per cluster") {
    val d = TestSpark.SF
    val kept = graft.text.CorpusPipeline.q78CorpusPipeline(spark, d)
      .as[(Long, Long, Double)].collect()
    assert(kept.nonEmpty)
    // every kept doc satisfies the lang + quality predicates
    val qual = graft.text.TextOps.q36QualityScore(spark, d)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val en = graft.Tables.documents(spark, d)
      .filter(graft.text.TextOps.langGuess(col("text")) === "en")
      .select("doc_id").as[Long].collect().toSet
    kept.foreach { case (id, _, q) =>
      assert(en.contains(id) && q >= graft.text.CorpusPipeline.QUALITY_FLOOR)
      assert(q == qual(id))
    }
    // no two kept docs are near-dups of each other
    val keptIds = kept.map(_._1).toSet
    val pairs = graft.text.Dedup.q40NgramJaccard(spark, d)
      .select("i", "j").as[(Long, Long)].collect()
    pairs.foreach { case (i, j) =>
      assert(!(keptIds.contains(i) && keptIds.contains(j)),
        s"near-dup pair ($i,$j) both kept") }
    // every surviving-but-dropped doc has a kept representative in its cluster
    val surviving = en.filter(id => qual.getOrElse(id, 0.0) >=
      graft.text.CorpusPipeline.QUALITY_FLOOR)
    val adj = pairs.filter { case (i, j) =>
      surviving.contains(i) && surviving.contains(j) }
    val reach = adj.flatMap { case (i, j) => Seq(i -> j, j -> i) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    surviving.diff(keptIds).foreach { dropped =>
      assert(reach.getOrElse(dropped, Set.empty).nonEmpty,
        s"doc $dropped dropped without being anyone's near-dup") }
  }

  test("file report: stat of the produced csv artifact matches its content-derived size") {
    val fr = graft.sources.FileReport.q77FileSizes(spark, TestSpark.SF)
      .as[(String, Long, Long)].collect().toSeq
    // exactly the two artifacts, part names normalized, _SUCCESS pinned 0
    assert(fr.map(_._1) == Seq("_SUCCESS", "part.csv"))
    assert(fr.forall(_._2 == 1L))
    assert(fr.head._3 == 0L)
    // independent expected size: sum of utf-8 line lengths of the dim
    import org.apache.spark.sql.functions._
    val expected = graft.Tables.nation(spark, TestSpark.SF)
      .join(graft.Tables.region(spark, TestSpark.SF),
        col("n_regionkey") === col("r_regionkey"))
      .select(concat(col("n_nationkey").cast("string"), lit(","),
        col("n_name"), lit(","), col("r_name")).as("line"))
      .agg(sum(octet_length(col("line")) + 1)).head().getLong(0)
    assert(fr(1)._3 == expected, s"csv stat ${fr(1)._3} != content-derived $expected")
    // the generic recursive listing still reads arbitrary dirs
    val sf = graft.sources.FileReport.report(spark, TestSpark.SF).collect()
    assert(sf.exists(r => r.getString(0).contains("lineitem") && r.getLong(2) > 0))
  }

  test("q250 funnel: monotone, consistent with its constituent stages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = graft.text.CorpusPipeline
      .q250CurationFunnel(spark, TestSpark.SF)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "lang", "quality", "dedup", "decontam"))
    // monotone shrink in docs and tokens
    rows.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 && b._4 <= a._4, s"funnel grew: $a -> $b") }
    // stage anchors: raw == corpus; dedup == q78's keeper count
    assert(rows(0)._3 == Tables.documents(spark, TestSpark.SF).count())
    assert(rows(3)._3 ==
      graft.text.CorpusPipeline.q78CorpusPipeline(spark, TestSpark.SF).count())
    // retained-ppm recomputes from the counts
    val raw = rows(0)._3
    rows.foreach(r => assert(r._5 == r._3 * 1000000L / raw))
    // the funnel does real work at this SF: the end keeps fewer docs
    assert(rows.last._3 < raw)
  }
}
