package graft.tools

/** Replicates the driver's t1 smoke: SparkEntry.entry(spark) rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
