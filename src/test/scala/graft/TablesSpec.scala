package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The lifetime rule of materialized frames (see `Tables`): a
  * `localCheckpoint` frame's blocks live as long as the frame is
  * reachable, `perSession` keeps shared artifacts reachable, and a
  * bounded ledger with one consumer is not materialized at all. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Alternate a GC and a short sleep until `done` holds or 30 s pass. */
  private def gcUntil(done: => Boolean): Boolean = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    var ok = done
    while (!ok && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      ok = done
    }
    ok
  }

  test("unreachable localCheckpoint frames are freed by the ContextCleaner") {
    // Built and collected inside a method, so no reference to the frame
    // outlives it; only the checkpoint RDD ids its plan reads are kept.
    def build(q: String): Set[Int] = {
      val df = SparkEntry.queries(q)(spark, TestSpark.SF)
      assert(df.collect().nonEmpty)
      checkpointIds(df)
    }
    val perBuild = for {
      _ <- 1 to 3
      q <- Seq("q273_simpson_flip", "q80_ppjoin_jaccard")
    } yield build(q)
    // every build materialized its own blocks; none shares another's
    assert(perBuild.forall(_.nonEmpty))
    val created = perBuild.flatten.toSet
    assert(created.size == perBuild.map(_.size).sum)
    val t0 = System.nanoTime()
    assert(gcUntil((created & persistedIds).isEmpty),
      s"still persisted after 30 s of GC: ${created & persistedIds}")
    info(s"${created.size} checkpoint RDDs freed after " +
      s"${(System.nanoTime() - t0) / 1000000} ms of GC polling")
  }

  test("perSession builds once per key; the value stays readable") {
    val key = s"tables-spec:${System.nanoTime()}"
    val builds = new AtomicInteger()
    def shared(k: String): DataFrame = Tables.perSession(spark, k) {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the window in which the second caller waits
      spark.range(0, 100).toDF("id").localCheckpoint()
    }
    val pool = Executors.newFixedThreadPool(2)
    val got = try {
      val start = new CountDownLatch(1)
      val futures = (1 to 2).map(_ => pool.submit(() => { start.await(); shared(key) }))
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get == 1, "build ran more than once for one key")
    assert(got(0) eq got(1))
    val ids = checkpointIds(got(0))
    assert(ids.nonEmpty && ids.subsetOf(persistedIds))
    // reachable from the session map: a GC poll must not free it
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(250) }
    assert(ids.subsetOf(persistedIds))
    assert(shared(key).count() == 100)
    assert(builds.get == 1)
    val other = shared(s"$key:other")
    assert(builds.get == 2)
    assert(!(other eq got(0)))
    assert(other.count() == 100)
  }

  test("one-consumer ledger queries start no localCheckpoint job while built") {
    val sc = spark.sparkContext
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      // the job's call site: set explicitly, or its result stage's name
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try for (q <- Seq("q194_weighted_median", "q245_langid_eval",
        "q252_cluster_ari", "q258_l_diversity", "q265_weekly_profile",
        "q270_cuped_uplift", "q271_rater_kappa", "q272_perm_test",
        "q275_curriculum_schedule")) {
      GraftInternal.drainListenerBus(sc)
      sites.clear()
      SparkEntry.queries(q)(spark, TestSpark.SF)
      GraftInternal.drainListenerBus(sc)
      val checkpoints = sites.asScala.filter(_.contains("localCheckpoint"))
      assert(checkpoints.isEmpty, s"$q built with ${checkpoints.mkString(", ")}")
    } finally sc.removeSparkListener(listener)
  }
}
