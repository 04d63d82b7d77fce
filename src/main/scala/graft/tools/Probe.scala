package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The probe main for registry queries. `<regex>` selects the queries
  * whose name it matches anywhere (anchor with `^…$`). Three modes:
  *
  *  - `time <regex> [reps]` (reps default 5): warms each query once on
  *    the sibling `sf0.001` directory when it exists, then prints per
  *    rep the build seconds (constructing the DataFrame: parquet schema
  *    inference, eager `localCheckpoint` jobs, driver collects), the
  *    action seconds (`.count()`) and the Spark jobs each phase started,
  *    then min/median/max of build + action.
  *  - `plan <regex> [--dump <round>/<suffix>]`: prints the compile-time
  *    formatted plan (the form that shows duplicated subtrees, which
  *    AQE-final plans re-plan lazily) with its Exchange and parquet-scan
  *    counts; `--dump` writes the plan to `plans/<round>/<q>_<suffix>.txt`
  *    instead. No final action runs, but building a query still runs its
  *    eager `localCheckpoint` jobs: `plan` is safe next to a live bench
  *    only because it runs in its own JVM.
  *  - `executed <regex>`: collects each query, then prints its AQE-final
  *    plan.
  *
  * Inputs: SPARK_GRAFT_SF_DIR (required) and SPARK_GRAFT_CPUS (default 4).
  * Run: SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.tools.Probe time q287_nb_cv 5"
  */
object Probe {
  private val usage =
    "usage: Probe time <regex> [reps] | plan <regex> [--dump <round>/<suffix>]" +
      " | executed <regex>   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)"

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private val Reps = "([1-9][0-9]*)".r
  private val Dump = "([^/]+)/([^/]+)".r

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", fail(usage))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val (mode, re, rest) = args.toList match {
      case m :: re :: rest => (m, re.r, rest)
      case _ => fail(usage)
    }
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(re.findFirstIn(_).isDefined)
    if (names.isEmpty) fail(s"no registry query matches /$re/")
    val run: SparkSession => Unit = (mode, rest) match {
      case ("time", Nil) => time(_, sfDir, names, 5)
      case ("time", Reps(n) :: Nil) => time(_, sfDir, names, n.toInt)
      case ("plan", Nil) => plan(_, sfDir, names, None)
      case ("plan", "--dump" :: Dump(round, suffix) :: Nil) =>
        plan(_, sfDir, names, Some((round, suffix)))
      case ("executed", Nil) => executed(_, sfDir, names)
      case _ => fail(usage)
    }
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
                   reps: Int): Unit = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    // seconds and jobs started while `f` ran; the bus is drained on both
    // sides so every job start is counted in the phase that posted it
    def phase[A](f: => A): (A, Double, Int) = {
      GraftInternal.drainListenerBus(sc)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val a = f
      val s = (System.nanoTime() - t0) / 1e9
      GraftInternal.drainListenerBus(sc)
      (a, s, jobs.get() - j0)
    }
    val warmDir = Paths.get(sfDir).toAbsolutePath.resolveSibling("sf0.001")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      if (Files.isDirectory(warmDir)) fn(spark, warmDir.toString).count()
      val totals = (1 to reps).map { rep =>
        val (df, build, buildJobs) = phase(fn(spark, sfDir))
        val (_, action, actionJobs) = phase(df.count())
        println(f"[probe] $name%-28s rep $rep%2d  build $build%7.3f s $buildJobs%4d jobs" +
          f"  action $action%7.3f s $actionJobs%4d jobs")
        build + action
      }.sorted
      println(f"[probe] $name%-28s min ${totals.head}%7.3f  med ${totals(reps / 2)}%7.3f" +
        f"  max ${totals.last}%7.3f s")
    }
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String],
                   dump: Option[(String, String)]): Unit =
    for (name <- names) {
      val text = formatted(graft.SparkEntry.queries(name)(spark, sfDir))
      val counts = s"exchanges=${"\\(\\d+\\) Exchange".r.findAllIn(text).size}" +
        s" parquetScans=${"Scan parquet".r.findAllIn(text).size}"
      dump match {
        case Some((round, suffix)) =>
          val out = Paths.get("plans", round, s"${name}_$suffix.txt")
          Files.createDirectories(out.getParent)
          Files.write(out, text.getBytes(UTF_8))
          println(s"[plan] $name $counts -> $out")
        case None =>
          println(s"[plan] $name $counts")
          println(text)
      }
    }

  private def executed(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      println(s"[executed] $name")
      println(formatted(df))
    }
}
