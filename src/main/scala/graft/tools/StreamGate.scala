package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-round streaming evidence: runs the corpus-curation streaming
  * path END TO END — file-source micro-batches (maxFilesPerTrigger=1
  * over a two-file split of the sf0.001 documents), RocksDB state
  * store, file-backed checkpoints, real parquet sink — and writes
  * `STREAMING_r{N}.json` with the sink row counts, order-independent
  * checksums, and batch-equality verdicts. Exits nonzero on any
  * mismatch, so the committed artifact can't silently go stale.
  *
  * Run: sbt "runMain graft.tools.StreamGate 6" */
object StreamGate {
  def main(args: Array[String]): Unit = {
    val round = args.headOption.getOrElse("0").toInt
    // sf0.1 (5000 docs), not sf0.001 (500 — and sf0.01 ALSO ships 500
    // docs, the generator only scales documents at sf0.1): at 500 rows
    // the drain time is all fixed streaming-startup cost, so the
    // measured "rate" (~80 rows/s) said nothing about per-row
    // throughput and the floor could not catch a real regression (r14
    // verdict, optional task). At 5000 rows per-row cost dominates and
    // the floor below is calibrated from a committed idle run at this
    // SF.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry
      .localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.stream.StreamingCuration

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    // two-file split by doc parity → ≥2 micro-batches; cross-parity
    // near-dup pairs exist only if bucket state survives the boundary
    val work = graft.sources.TmpWorkspace.fresh("stream_gate")
    val in = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val docs = spark.read.schema(schema).parquet(s"$sfDir/documents.parquet")
    Seq(0, 1).foreach { half =>
      val tmp = s"$work/half$half"
      docs.filter(col("doc_id") % 2 === half).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(s"$in/half$half.parquet"))
    }
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)

    // elapsed seconds of the drain are recorded per stream so the gate
    // also attests THROUGHPUT, not just equality (see rate leg below)
    val elapsed = scala.collection.mutable.Map.empty[String, Double]
    def runToSink(df: DataFrame, name: String): DataFrame = {
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_$name")
        .format("parquet").option("path", s"$work/sink_$name").start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      elapsed(name) = (System.nanoTime() - t0) / 1e9
      spark.read.parquet(s"$work/sink_$name")
    }
    def xorHash(df: DataFrame, cols: Seq[String]): Long = df
      .agg(coalesce(expr(s"bit_xor(xxhash64(${cols.mkString(",")}))"), lit(0L)))
      .as[Long].head()

    // 1. curation stream: quality + lang + exact fingerprint dedup
    val curSink = runToSink(StreamingCuration.curate(stream), "curate")
    val curBatch = StreamingCuration.curate(
      spark.read.schema(schema).parquet(in))
    val curRows = curSink.count()
    // dropDuplicates keeps an arbitrary representative per fp — the
    // deterministic identity is the fingerprint SET
    val curChk = xorHash(curSink.select(col("fp")).distinct(), Seq("fp"))
    val curOk = curChk == xorHash(curBatch.select(col("fp")).distinct(), Seq("fp")) &&
      curRows == curBatch.count()

    // 2. stateful LSH near-dup: candidates from RocksDB bucket state,
    //    then the SAME exact verification as batch q41
    val candSink = runToSink(
      StreamingCuration.lshCandidatePairs(stream), "lsh")
    val arr = graft.text.Dedup.shingleArrays(spark, sfDir)
    val verified = candSink.distinct()
      .join(arr.select(col("doc_id").as("i"), col("sgs").as("si")), Seq("i"))
      .join(arr.select(col("doc_id").as("j"), col("sgs").as("sj")), Seq("j"))
      .withColumn("common", size(array_intersect(col("si"), col("sj"))))
      .withColumn("jac", col("common").cast("double")
        / (size(col("si")) + size(col("sj")) - col("common")))
      .filter(col("jac") >= graft.text.Dedup.JACCARD_THRESHOLD)
      .select(col("i"), col("j"))
    val batchPairs = graft.text.Dedup.q41MinhashLsh(spark, sfDir)
      .select(col("i"), col("j"))
    val pairRows = verified.count()
    val pairChk = xorHash(verified, Seq("i", "j"))
    val lshOk = pairChk == xorHash(batchPairs, Seq("i", "j")) &&
      pairRows == batchPairs.count()

    val rocksUsed = new java.io.File(s"$work/ckpt_lsh/state").exists()
    // ---- throughput leg: input rows per drained second, with a FLOOR.
    // Calibrated from a committed idle run at sf0.1 (r15, load 0.44:
    // curate 1144 rows/s, lsh 1767 rows/s over 5000 docs in 2
    // micro-batches). 150 leaves ~7.6× headroom below the slower leg —
    // tolerant of heavy host contention (a 4× slow host still clears
    // 280) while catching the catastrophic regressions the leg exists
    // for (accidentally quadratic state, a corpus rescan per
    // micro-batch — each an order-of-magnitude rate drop). Equality
    // stays the primary gate. At sf0.001's 500 rows the old 20-floor
    // measured only startup cost and could not catch anything.
    val inRows = docs.count()
    // Floor keyed on the NORMALIZED basename (a trailing slash or an
    // absolute prefix must not silently fall back to the 20-floor that
    // catches nothing at sf0.1), and the selection is logged + emitted
    // so a fallback is visible in the round artifact.
    val sfBase = new java.io.File(sfDir).getName
    val rateFloor = if (sfBase == "sf0.1") 150.0 else 20.0
    System.err.println(
      s"[streamgate] sf basename '$sfBase' -> rate floor $rateFloor rows/s")
    def rate(name: String): Double =
      BigDecimal(inRows / math.max(elapsed(name), 1e-9))
        .setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble
    val curRate = rate("curate"); val lshRate = rate("lsh")
    val rateOk = curRate >= rateFloor && lshRate >= rateFloor
    val json =
      s"""{"round":$round,"sf":"$sfDir","state_store":"rocksdb","micro_batches":2,
         |"curation":{"sink_rows":$curRows,"fp_xxhash_xor":$curChk,"equals_batch":$curOk},
         |"lsh_near_dup":{"verified_pairs":$pairRows,"pair_xxhash_xor":$pairChk,"equals_batch":$lshOk},
         |"throughput":{"input_rows":$inRows,"curate_rows_per_sec":$curRate,"lsh_rows_per_sec":$lshRate,"floor_rows_per_sec":$rateFloor,"rate_ok":$rateOk},
         |"checkpoint_state_dir":$rocksUsed}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"STREAMING_r$round%02d.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
    if (!curOk || !lshOk || !rateOk) sys.exit(1)
  }
}
