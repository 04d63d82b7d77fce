package graft.tools

/** Per-job fixed-latency probe (r17): times N trivial Spark jobs to
  * isolate scheduler/driver overhead from compute throughput. The bench
  * calibration query (q229) is compute-bound and so insensitive to
  * per-job latency; the iterative graph family (q158/q163/q164/q235/…)
  * runs tens of tiny jobs per invocation and amplifies it — when those
  * queries drift against their committed floors while q229 does not,
  * this probe tells whether the era's JOB OVERHEAD (not its compute)
  * moved. Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.JobLatencyProbe" */
object JobLatencyProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = 100
    def run(label: String)(job: () => Unit): Unit = {
      (1 to 20).foreach(_ => job())               // warm JIT + codegen
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => job())
      println(f"[joblat] $label%-28s ${(System.nanoTime() - t0) / 1e6 / n}%7.1f ms/job")
    }
    run("1-task, no shuffle")(() => { spark.range(1).count(); () })
    run(s"$cpus-task, one shuffle")(() =>
      { spark.range(1024).repartition(cpus.toInt).count(); () })
    spark.stop()
  }
}
