package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftInternal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{NaiveBayes, TrainingSet}

/** The shared Naive-Bayes kernel: integer-log parity between its driver
  * and column forms, the NULL-class rule, and the job group of its
  * overlapped ledger collect. */
class NaiveBayesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("log7 (driver) == n7 (column) row by row over exact-int64 ratios") {
    val dens = Seq(1L, 2L, 7L, 1000003L, (1L << 31) + 11L)
    val nearExp = for {
      k <- 1 to 40
      den <- dens
      base = math.round(math.exp(k.toDouble) * den)
      if base < (1L << 52)
      num <- Seq(base - 1, base, base + 1)
      if num >= den
    } yield (num, den)
    val unit = Seq(1L, 12345L, (1L << 40) + 3L).map(x => (x, x))
    // N_s + V past 2^31, over unseen (den 1) and seen (den c + 1) terms
    val wide = for {
      num <- Seq((1L << 31) - 1, 1L << 31, (1L << 31) + 1, (1L << 33) + 17L,
        3L * (1L << 40) + 5L, (1L << 52) - 1)
      den <- Seq(1L, 2L, 3L, 1L << 20, (1L << 31) + 1)
      if num >= den
    } yield (num, den)
    val grid = (nearExp ++ unit ++ wide).distinct
    // an RDD-backed frame, so the column form runs in generated code
    // rather than being folded over a local relation
    val got = spark.sparkContext.parallelize(grid, 4).toDF("num", "den")
      .select(col("num"), col("den"), NaiveBayes.n7(col("num"), col("den")).as("n7"))
      .as[(Long, Long, Long)].collect()
    assert(got.length == grid.length && grid.length > 300)
    got.foreach { case (num, den, n7) =>
      assert(n7 == NaiveBayes.log7(num, den), s"ln($num/$den): column $n7")
    }
    assert(got.filter(r => r._1 == r._2).forall(_._3 == 0L))
  }

  test("a NULL class fails the kernel's ledger instead of scoring as unseen") {
    val docs = Seq((1L, "a b a", "x"), (2L, "b c", null), (3L, "c", "y"))
      .toDF("doc_id", "text", "source")
    val perDoc = NaiveBayes.perDoc(NaiveBayes.tokenCounts(docs, col("source")))
    val err = intercept[IllegalArgumentException](NaiveBayes.ledger(perDoc, "source")())
    assert(err.getMessage.contains("NULL class"))
    // without the NULL row the same frame gives the exact ledger
    val L = NaiveBayes.ledger(perDoc.filter(col("source").isNotNull), "source")()
    assert(L.classes == Seq("x", "y"))
    assert(L(Some("x")) == ((3L, 1L)) && L(Some("y")) == ((1L, 1L)))
    assert(L(None) == ((4L, 2L)) && L(Some("z")) == ((0L, 0L)))
  }

  test("q285's overlapped ledger collect runs under the caller's job group") {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    def underGroup(g: String): Seq[Option[String]] = {
      GraftInternal.drainListenerBus(sc)
      started.clear()
      sc.setJobGroup(g, s"NaiveBayesSpec $g")
      try TrainingSet.q285NbSource(spark, TestSpark.SF).collect()
      finally sc.clearJobGroup()
      GraftInternal.drainListenerBus(sc)
      started.asScala.toSeq
    }
    try {
      val a = underGroup("nb-group-a")
      val b = underGroup("nb-group-b")
      assert(a.nonEmpty && a.forall(_.contains("nb-group-a")), a)
      assert(b.nonEmpty && b.forall(_.contains("nb-group-b")), b)
    } finally sc.removeSparkListener(listener)
  }
}
