package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per-suite sessions
  * thrash the JVM). Mirrors the driver's Verify config. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession("4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val SF = "/root/testdata/sf0.001"
}
