package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graph

/** Graph analytics (q156 association rules, q157 triangles, q158
  * PageRank). The DuckDB oracle proves cross-engine values; these specs
  * pin the algorithmic claims the hash can't articulate: the
  * degree-ordered wedge enumeration counts exactly the brute-force
  * triangle set, the scaled-int64 PageRank recurrence equals an
  * imperative replay of the same arithmetic, and the rule metrics are
  * mutually consistent. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val edges: Array[(Long, Long)] = {
    val b = Graph.baskets(spark, TestSpark.SF)
    Graph.pairCounts(b, 2).select("p1", "p2").as[(Long, Long)].collect()
  }

  test("q157 degree-ordered count == brute-force triangle enumeration") {
    val es = edges.toSet
    assert(es.nonEmpty && es.forall { case (a, b) => a < b })
    val nbr = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    // Brute force: for each edge (a,b), common neighbors c > b close a
    // triangle exactly once under a < b < c.
    val brute = edges.map { case (a, b) =>
      (nbr(a) & nbr(b)).count(c => c > b).toLong
    }.sum
    val got = Graph.triangleStats(edges.toSeq.toDF("p1", "p2"))
      .select("n_triangles", "n_edges", "n_vertices", "wedges")
      .as[(Long, Long, Long, Long)].head()
    assert(got._1 == brute, s"degree-ordered ${got._1} != brute $brute")
    assert(got._2 == edges.length.toLong)
    assert(got._3 == nbr.size.toLong)
    val wedges = nbr.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(got._4 == wedges)
    // 3·triangles ≤ wedges always (each triangle closes 3 wedges).
    assert(3 * got._1 <= got._4)
  }

  test("q157 is orientation-invariant: reversed edge input, same count") {
    val flipped = edges.toSeq.map { case (a, b) => (b, a) }
      .toDF("x", "y")
      .select(least(col("x"), col("y")).as("p1"),
              greatest(col("x"), col("y")).as("p2"))
    val a = Graph.triangleStats(edges.toSeq.toDF("p1", "p2"))
      .select("n_triangles").as[Long].head()
    val b = Graph.triangleStats(flipped)
      .select("n_triangles").as[Long].head()
    assert(a == b)
  }

  test("q158 distributed PageRank == imperative replay of the int64 recurrence") {
    val e = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = e.groupBy(_._1).map { case (v, ps) => v -> ps.length.toLong }
    var r = deg.map { case (v, _) => v -> 1000000000000L }
    for (_ <- 1 to 3) {
      val contrib = e.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = contrib.map { case (v, s) => v -> (150000000000L + 17 * s / 20) }
    }
    val got = Graph.pageRanks(edges.toSeq.toDF("p1", "p2"), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == r && got.nonEmpty)
    // Floor division only loses mass: total stays within |V| drops of
    // the float fixpoint's invariant total |V|·10^12.
    val total = got.values.sum
    val n = got.size.toLong
    assert(total <= n * 1000000000000L)
    assert(total > n * 999000000000L)
  }

  test("q156 rule metrics are mutually consistent and both directions present") {
    val b = Graph.baskets(spark, TestSpark.SF)
    val rules = Graph.assocRulesFrom(b, Graph.pairCounts(b, 2))
      .select("antecedent", "consequent", "pair_orders", "support",
              "confidence", "lift")
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(rules.nonEmpty)
    val nb = b.select("o").distinct().count().toDouble
    val ic = b.groupBy("p").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    val byPair = rules.map(r => (r._1, r._2) -> r).toMap
    rules.foreach { case (a, c, po, sup, conf, lift) =>
      // Reversed direction exists with the same pair_orders + lift.
      val rev = byPair((c, a))
      assert(rev._3 == po && math.abs(rev._6 - lift) < 1e-9)
      assert(math.abs(sup - po / nb) < 1e-6)
      assert(math.abs(conf - po.toDouble / ic(a)) < 1e-6)
      assert(math.abs(lift - po * nb / (ic(a).toDouble * ic(c))) < 1e-6)
      assert(conf <= 1.0 + 1e-9 && sup <= 1.0 + 1e-9)
      assert(po <= math.min(ic(a), ic(c)))
    }
  }

  test("q156 margin joins broadcast; basket self-join is the only large shuffle") {
    val plan = Graph.q156AssocRules(spark, TestSpark.SF)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast margin joins:\n$plan")
  }

  test("q163 synchronous LPA == imperative replay (2 rounds, tie → smaller label)") {
    val nbr = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) }
    var lab: Map[Long, Long] = nbr.keys.map(v => v -> v).toMap
    for (_ <- 1 to 2) {
      lab = nbr.map { case (v, ns) =>
        val counts = ns.groupBy(lab).map { case (l, xs) => l -> xs.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Graph.labelProp(edges.toSeq.toDF("p1", "p2"), 2)
      .as[(Long, Long)].collect().toMap
    assert(got == lab && got.nonEmpty)
  }

  test("q164 k-round relaxation == imperative Bellman-Ford over ≤k-edge paths") {
    val ep = Graph.pairCounts(Graph.baskets(spark, TestSpark.SF), 2)
      .select("p1", "p2", "pair_orders").as[(Long, Long, Long)].collect()
    val e = ep.flatMap { case (a, b, po) =>
      val w = 1000000L / po; Seq((a, b, w), (b, a, w))
    }
    var dist: Map[Long, Long] = Map(ep.map(_._1).min -> 0L)
    for (_ <- 1 to 3) {
      val relaxed = e.flatMap { case (s2, d2, w) =>
        dist.get(s2).map(ds => d2 -> (ds + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2).min }
    }
    val epw = ep.toSeq.toDF("p1", "p2", "pair_orders")
      .select(col("p1"), col("p2"), expr("1000000 div pair_orders").as("w"))
    val got = Graph.shortestPaths(epw, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == dist && got.nonEmpty)
    // Distances only shrink with more rounds: 2-round dist dominates 3-round.
    val got2 = Graph.shortestPaths(epw, 2)
      .as[(Long, Long)].collect().toMap
    got2.foreach { case (v, d2) => assert(got(v) <= d2) }
    assert(got2.keySet.subsetOf(got.keySet))
  }

  test("q165 pair-pruned Apriori triples == brute-force triple enumeration") {
    val baskets = Graph.baskets(spark, TestSpark.SF)
      .select("o", "p").as[(Long, Long)].collect()
    val counts = scala.collection.mutable.Map.empty[(Long, Long, Long), Long]
      .withDefaultValue(0L)
    baskets.groupBy(_._1).values.foreach { xs =>
      val s = xs.map(_._2).distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.length; k <- j + 1 until s.length)
        counts((s(i), s(j), s(k))) += 1
    }
    val expected = counts.toSeq.collect { case (t, n) if n >= 2 => (t._1, t._2, t._3, n) }
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(20)
    val got = Graph.q165Itemsets3(spark, TestSpark.SF)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected && got.nonEmpty,
      s"got ${got.size} triples, expected ${expected.size}")
  }

  test("q235 k-core: totality, degree contracts, peel mirror") {
    val got = Graph.q235KCore(spark, TestSpark.SF)
      .as[(Long, String, Long, Long)].collect()
    assert(got.nonEmpty)
    // driver-side mirror of the full peel cascade
    val edges = Graph.pairs2Shared(spark, TestSpark.SF)
      .select("p1", "p2").as[(Long, Long)].collect()
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var alive = adj.keySet
    val expect = scala.collection.mutable.Map.empty[Long, (String, Long, Long)]
    for (r <- 1 to Graph.CORE_ROUNDS) {
      val degs = alive.map(v => v -> (adj(v) & alive).size.toLong).toMap
      val out = degs.filter(_._2 < Graph.K_CORE)
      out.foreach { case (v, dg) => expect(v) = ("peeled", r.toLong, dg) }
      alive = alive -- out.keySet
    }
    alive.foreach { v =>
      expect(v) = ("core", 0L, (adj(v) & alive).size.toLong) }
    assert(got.length == expect.size)
    got.foreach { case (v, st, r, dg) =>
      assert(expect(v) == ((st, r, dg)), s"vertex $v") }
    // contracts: core vertices keep >= K neighbors IN the core;
    // peeled vertices were below K when removed
    got.foreach { case (v, st, _, dg) =>
      if (st == "core") assert(dg >= Graph.K_CORE, s"thin core vertex $v")
      else assert(dg < Graph.K_CORE, s"over-degree peel $v")
    }
    // at sf0.001 the minSup-pruned graph is dense enough that nothing
    // peels (all-core); the peel waves are exercised by the driver's
    // sf0.01 oracle gate (635/167/59/36 peeled there)
    assert(got.exists(_._2 == "core"))
  }
}
