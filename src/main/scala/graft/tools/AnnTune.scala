package graft.tools

import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Recall/cost sweep for the approximate ANN queries — measures, per SF:
  *   - q55 IVF recall@5-pairs vs the exact baseline for a grid of
  *     (nProbe, kmeansIters), full query set AND the 1-in-EVIDENCE_MOD
  *     audit subsample (the floor is asserted on the subsample);
  *   - q44 LSH recall on the same two query sets;
  *   - wall time per variant (min of 2).
  * Run: sbt "runMain graft.tools.AnnTune" (SPARK_GRAFT_SF_DIR selects SF).
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry
      .localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet

    for (d <- sfs) {
      val exact = pairs(Similarity.q43KnnBruteForce(spark, d))
      val sub10 = exact.filter(_._1 % 10 == 0)
      val sub5 = exact.filter(_._1 % 5 == 0)
      println(s"== $d  exact pairs ${exact.size} (audit 1/10 ${sub10.size}, 1/5 ${sub5.size})")

      for ((cells, probe) <- Seq((16, 7), (16, 8), (16, 9), (16, 10), (16, 11), (16, 12),
                                 (32, 14), (32, 16), (32, 18), (32, 20))) {
        val iters = 2
        val t0 = System.nanoTime()
        val got = pairs(Similarity.ivfTopK(spark, d, probe, iters, 1000, cells))
        val secs = (System.nanoTime() - t0) / 1e9
        val rFull = (exact & got).size.toDouble / exact.size
        val r10 = (sub10 & got).size.toDouble / sub10.size
        val r5 = (sub5 & got).size.toDouble / sub5.size
        println(f"[ivf] $d cells=$cells probe=$probe  recall=$rFull%.3f sub10=$r10%.3f sub5=$r5%.3f  ${secs}%5.2f s")
      }
      val lsh = pairs(Similarity.q44KnnLshBucketed(spark, d)
        .select(col("qid"), col("nid"), lit(0).as("z")).drop("z"))
      val lFull = (exact & lsh).size.toDouble / exact.size
      val l10 = (sub10 & lsh).size.toDouble / sub10.size
      val l5 = (sub5 & lsh).size.toDouble / sub5.size
      println(f"[lsh] $d  recall=$lFull%.3f sub10=$l10%.3f sub5=$l5%.3f")
    }
    spark.stop()
  }
}
