package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-JVM execution gate: re-runs one representative query per
  * operator family under Spark's `local-cluster[2,4,2048]` master —
  * real executor processes, so rows, broadcasts, and custom-Expression
  * `ArrayData` payloads actually SERIALIZE across JVM boundaries — and
  * checks row-count + order-independent content fingerprint equality
  * against the same queries on the in-process `local[*]` master.
  *
  * `local[32]` structurally cannot surface closure-capture, Kryo, or
  * codegen-expression serialization bugs (everything stays on one heap);
  * this gate is the cheapest real evidence that the operators survive a
  * genuine multi-executor deployment, short of a cluster.
  *
  * Needs SPARK_HOME=/opt/spark in the env (the Worker launches executor
  * JVMs from the distribution's launcher). Writes cluster_smoke.json;
  * release_gate.sh stamps it to CLUSTER_r{N}.json.
  *
  * Run: SPARK_HOME=/opt/spark sbt "runMain graft.tools.ClusterSmoke"
  */
object ClusterSmoke {

  /** Fixed half of the panel: one query per family where cross-JVM
    * serialization could genuinely differ from local[*] — the custom
    * Expression / Array[Float] / iterative-lineage paths stay covered
    * every round. */
  private val FIXED = Seq(
    "q41_minhash_lsh",       // codegen MinhashSig Expression, banded LSH
    "q55_knn_ivf",           // ANN index build + probe (Array[Float] payloads)
    "q76_dedup_components",  // iterative CC, localCheckpoint lineage cuts
    "q207_bpe_train",        // driver-loop argmax over a broadcast ledger
    "q287_nb_cv")            // heaviest: count-ledger K-fold CV sweep

  /** Queries whose outputs are not guaranteed string-stable across
    * partitionings (sketch / approx / lossy / file-metadata) — excluded
    * from the rotating half (the fixed half already covers q55). Derived
    * from the registry (a query is hash-stable iff it has an oracle), so
    * a future no-oracle query can never silently join the pool and flake
    * the gate. */
  private[graft] def noOracle: Set[String] =
    graft.SparkEntry.queries.keySet -- graft.SparkEntry.oracleSql.keySet

  /** Rotating picks of rounds before the sampling-without-replacement
    * scheme below existed (from CLUSTER_r12/13.json) — excluded so
    * coverage keeps extending instead of re-drawing the same queries. */
  private[graft] val COVERED_PRE_R14 = Set(
    "q03_revenue_by_nation", "q138_image_decode", "q158_pagerank",
    "q204_semdedup", "q302_conformal", // r12 rotation
    "q179_forget_audit", "q190_quota_alloc", "q202_rfm_segments",
    "q59_grouping_sets", "q69_phone_normalize") // r13 rotation

  /** Rotating half: 5 hash-green registry queries chosen deterministically
    * from the round number, so serialization coverage extends to the whole
    * registry over rounds at zero marginal cost. Seeded MurmurHash order —
    * no RNG state, reproducible from ROUND alone. Sampling is WITHOUT
    * replacement across rounds: every earlier round's picks (recursively
    * reconstructed from this same deterministic rule) leave the pool
    * before seeding, so each round's panel is disjoint from all previous
    * rounds' until the registry is exhausted, then the cycle restarts. */
  private[graft] def rotating(round: Int): Seq[String] = {
    val base = graft.SparkEntry.queries.keys.toSeq
      .filterNot(FIXED.contains).filterNot(noOracle.contains).sorted
    def picksOf(r: Int, covered: Set[String]): Seq[String] =
      base.filterNot(covered.contains)
        .sortBy(n => scala.util.hashing.MurmurHash3.stringHash(s"r$r:$n"))
        .take(5).sorted
    var covered: Set[String] = COVERED_PRE_R14
    var r = 14
    var out = picksOf(r, covered)
    while (r < round) {
      covered ++= out
      // registry exhausted: restart the cycle with an empty covered set
      if (base.count(n => !covered.contains(n)) < 5) covered = Set.empty
      r += 1
      out = picksOf(r, covered)
    }
    out
  }

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** Order-independent content fingerprint: (row count, bit_xor of
    * per-row xxhash64 over all columns cast to string sorted by column
    * name, modular sum of the same hashes). bit_xor alone cancels PAIRS
    * of identical rows ({A,A,B} and {C,C,B} both xor to hash(B)), so a
    * duplicate-multiplicity bug could pass — the modular sum breaks that
    * degeneracy (sum of pmod(h, p) with p < 2^31 cannot overflow a long
    * under ANSI at any realistic row count). NULL and "" stay distinct
    * via a sentinel coalesce. */
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val row = df
      .select(xxhash64(concat_ws("\u0001", cols.toSeq: _*)).as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("s"),
        coalesce(sum(pmod(col("h"), lit(2147483629L))), lit(0L)).as("m"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  private def runAll(queries: Seq[String], master: String, sfDir: String,
                     cluster: Boolean): Map[String, (Long, Long, Long)] = {
    val b = graft.SparkEntry.localSession("8").master(master)
    if (cluster) {
      // Executor JVMs are fresh processes: they need the repo classes on
      // their classpath and the same JDK17 module opens the driver gets
      // from build.sbt.
      val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
      b.config("spark.executor.extraClassPath", classes)
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory", "2g")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      graft.SparkEntry.benchSetup(spark, sfDir)
      queries.map { n =>
        n -> fingerprint(graft.SparkEntry.queries(n)(spark, sfDir))
      }.toMap
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val round = sys.env.get("ROUND").flatMap(_.toIntOption).getOrElse(0)
    // ad-hoc panel: explicit query names as args replace the
    // fixed+rotating panel (dev probe for newly-landed machinery; the
    // round artifact below still only gets written for the full run).
    // Unknown names FAIL FAST (r14 advice): silently dropping a typo'd
    // arg could fall back to the full panel and "pass" a dev probe that
    // never ran the intended queries.
    val unknown = args.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println("[cluster-smoke] unknown queries: " +
        unknown.mkString(", ") + " — not in SparkEntry.queries; aborting")
      sys.exit(2)
    }
    val adHoc = args.toSeq
    val panel = if (adHoc.nonEmpty) adHoc else FIXED ++ rotating(round)
    val clusterMaster = "local-cluster[2,4,2048]"
    if (!sys.env.contains("SPARK_HOME"))
      System.err.println("[cluster-smoke] WARNING: SPARK_HOME unset - " +
        "the Worker needs it to launch executor JVMs")
    val local = runAll(panel, "local[8]", sfDir, cluster = false)
    val clustered = runAll(panel, clusterMaster, sfDir, cluster = true)
    val rows = panel.sorted.map { n =>
      val (ln, lh, lm) = local(n)
      val (cn, ch, cm) = clustered(n)
      val ok = ln == cn && lh == ch && lm == cm
      s""""$n":{"rows_local":$ln,"rows_cluster":$cn,"hash_local":$lh,"hash_cluster":$ch,"modsum_local":$lm,"modsum_cluster":$cm,"match":$ok}"""
    }
    val nMatch = panel.count(n => local(n) == clustered(n))
    val json =
      s"""{"metric":"cluster_smoke","master":"$clusterMaster","sf":"$sfDir","round":$round,"fixed":${FIXED.size},"rotating":${rotating(round).size},"n_queries":${panel.size},"n_match":$nMatch,"results":{${rows.mkString(",")}}}"""
    if (adHoc.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("cluster_smoke.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    if (nMatch != panel.size) sys.exit(1)
  }
}
