package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.OsmShape
import graft.sources.OsmXml

/** The benchmark's JVM side. `run.py` writes a spec (workload, inputs,
  * op order, expected outputs), this runs it in one JVM and writes
  * the measurements back as JSON. It calls only the program's public entry
  * points: `SparkEntry.queries`, `format("osm")`,
  * `OsmXml.parse` and `OsmShape.shapeAll` / `corrupt`. */
object Harness {

  private val mapper = new ObjectMapper()

  /** Output tables of one OSM ingest pass, in write order. */
  val OsmOutputs: Seq[String] =
    Seq("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes", "corrupt")

  /** Registry queries whose input is `.osm` XML (read through format("osm")
    * or the raw-XML census). */
  val OsmQueries: Set[String] = Set(
    "q81_osm_count_tags", "q305_osm_e2e", "q306_osm_way_order", "q307_osm_relation_order")

  final case class OpResult(name: String, ms: Double, ok: Boolean)
  final case class PassResult(traced: Boolean, wallS: Double, cpuS: Double, gcMs: Double,
                              checkMs: Double, liveMb: Double, ops: Seq[OpResult], spanId: Int)

  def main(args: Array[String]): Unit = args match {
    case Array("--dump-oracles", out) =>
      val node = mapper.createObjectNode()
      SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      mapper.writeValue(new File(out), node)
    case Array("--setup", nproc, work) =>
      try {
        println(s"setup_s ${setUp(nproc.toInt, work)._2}")
        System.out.flush()
        // no orderly stop: the caller deletes `work`, and stopping only adds time
        Runtime.getRuntime.halt(0)
      } catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
    case Array(spec) =>
      val code = try { run(mapper.readTree(new File(spec))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      System.exit(code)
    case _ =>
      System.err.println(
        "usage: Harness <spec.json> | --dump-oracles <out.json> | --setup <nproc> <work>")
      System.exit(2)
  }

  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One set-up round: load the program's objects and start a session with
    * the benchmark's configuration. Returns the session and the seconds
    * since the JVM started. */
  def setUp(nproc: Int, work: String): (SparkSession, Double) = {
    SparkEntry.queries.size
    val spark = session(nproc, work)
    (spark, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap still in use after full collections: what the program keeps.
    * A collection lets Spark's cleaner drop the blocks of unreachable RDDs,
    * broadcasts and shuffles, which the next collection frees; so collect
    * until the figure stops falling. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { mem.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, rounds) = (Double.MaxValue, collect(), 1)
    while (prev - cur > 0.5 && rounds < 8) {
      Thread.sleep(100)
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** One workload: how to run one pass over its inputs. */
  trait Workload {
    /** Runs every op once; `check` compares outputs with the expectations
      * and adds its wall and CPU nanoseconds to `checkNs(0)` and `(1)`. */
    def pass(spark: SparkSession, dir: String, trace: Option[Trace], check: Boolean,
             checkNs: Array[Long]): Seq[OpResult]
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
  }

  private def within[T](tr: Option[Trace], kind: String, name: String)(body: => T): T =
    tr.fold(body)(_.span(kind, name)(body))

  final class Queries(order: Seq[String], expected: Map[String, String]) extends Workload {
    def pass(spark: SparkSession, dir: String, tr: Option[Trace], check: Boolean,
             checkNs: Array[Long]): Seq[OpResult] = order.map { name =>
      try {
        val ((cols, rows), ms) = timed(within(tr, "op", name) {
          val df = within(tr, "construct", name)(SparkEntry.queries(name)(spark, dir))
          tr.foreach(_.span("plan", name)(df.queryExecution.executedPlan))
          val rows = within(tr, "execute", name)(df.collect())
          (df.columns.toSeq, rows)
        })
        val (t0, c0) = (System.nanoTime(), cpuNs())
        val ok = !check || within(tr, "check", name)(expected.get(name).contains(Digest(cols, rows)))
        checkNs(0) += System.nanoTime() - t0
        checkNs(1) += cpuNs() - c0
        if (!ok) System.err.println(s"[graftbench] $name: output differs from the oracle")
        OpResult(name, ms, ok)
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $name failed: $e")
          OpResult(name, Double.NaN, ok = false)
      }
    }
  }

  final class OsmIngest(file: String, outDir: String, mapping: Map[String, String],
                        expected: Map[String, Map[String, Long]]) extends Workload {
    private val aggs: Map[String, org.apache.spark.sql.Column] = Map(
      "rows" -> count(lit(1)), "id" -> sum(col("id")), "uid" -> sum(col("uid")),
      "changeset" -> sum(col("changeset")), "value_len" -> sum(length(col("value"))),
      "key_len" -> sum(length(col("key"))), "node_id" -> sum(col("node_id")),
      "position" -> sum(col("position")))

    /** The five ETL tables and the corrupt rows of one elements frame. */
    def outputs(elements: DataFrame): Map[String, DataFrame] =
      OsmShape.shapeAll(elements, mapping) + ("corrupt" -> OsmShape.corrupt(elements))

    /** Row counts and integer checksums of one written output. */
    def checksums(spark: SparkSession, table: String): Map[String, Long] = {
      val keys = expected(table).keys.toSeq.sorted
      val row = spark.read.parquet(s"$outDir/$table")
        .agg(aggs(keys.head), keys.tail.map(aggs): _*).head()
      keys.indices.map(i => keys(i) -> (if (row.isNullAt(i)) 0L else row.getLong(i))).toMap
    }

    def pass(spark: SparkSession, dir: String, tr: Option[Trace], check: Boolean,
             checkNs: Array[Long]): Seq[OpResult] = {
      val outs = within(tr, "construct", "osm")(outputs(spark.read.format("osm").load(file)))
      val written = OsmOutputs.map { name =>
        try {
          val (_, ms) = timed(within(tr, "op", name)(within(tr, "execute", name)(
            outs(name).write.mode("overwrite").parquet(s"$outDir/$name"))))
          (name, ms, true)
        } catch {
          case e: Throwable =>
            System.err.println(s"[graftbench] osm $name failed: $e")
            (name, Double.NaN, false)
        }
      }
      written.map { case (name, ms, wrote) =>
        val (t0, c0) = (System.nanoTime(), cpuNs())
        val ok = wrote && (!check || within(tr, "check", name) {
          val got = checksums(spark, name)
          if (got != expected(name))
            System.err.println(s"[graftbench] osm $name: got $got, expected ${expected(name)}")
          got == expected(name)
        })
        checkNs(0) += System.nanoTime() - t0
        checkNs(1) += cpuNs() - c0
        OpResult(name, ms, ok)
      }
    }

    /** Layer probes on the same file: raw Hadoop stream read, single-core
      * XML parse, a scan-only job (format("osm") into the noop sink), and
      * the shaper alone over elements already parsed into memory. */
    def probes(spark: SparkSession, tr: Trace, nproc: Int): Map[String, Double] = {
      val p = new Path(file)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mb = fs.getFileStatus(p).getLen / 1e6
      val readMs = median((1 to 3).map { _ =>
        timed {
          val in = fs.open(p); val buf = new Array[Byte](1 << 20)
          try while (in.read(buf) >= 0) () finally in.close()
        }._2
      })
      val (elements, parseMs) = timed(OsmXml.parse(fs.open(p)).size)
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      tr.span("probe", "osm.scan")(noop(spark.read.format("osm").load(file)))
      val scan = tr.spans.last
      val scanJobs = tr.jobsIn(Set(scan.id))
      val parsed = spark.read.format("osm").load(file).persist(StorageLevel.MEMORY_ONLY)
      noop(parsed)
      val shapeMs = timed(outputs(parsed).values.foreach(noop))._2
      parsed.unpersist(blocking = true)
      Map(
        "osm.read.mb_per_s" -> mb / (readMs / 1000),
        "osm.parse.mb_per_s" -> mb / (parseMs / 1000),
        "osm.parse.elements" -> elements.toDouble,
        "osm.scan.ms" -> scan.ms,
        "osm.scan.tasks" -> scanJobs.map(_.tasks).sum.toDouble,
        "osm.scan.core_util" -> scanJobs.map(_.runMs).sum / (scan.ms * nproc),
        "osm.shape.ms" -> shapeMs)
    }
  }

  /** Per-layer metrics of one traced pass, from its span subtree. */
  def layers(tr: Trace, pass: PassResult, nproc: Int, workload: Workload): Map[String, Double] = {
    val ids = tr.subtree(pass.spanId)
    val spans = tr.spans.filter(s => ids(s.id))
    def ofKind(k: String) = spans.filter(_.kind == k)
    def jobsOf(ss: Seq[Span]) = tr.jobsIn(ss.flatMap(s => tr.subtree(s.id)).toSet)
    // the benchmark's own checks read the OSM outputs back; leave their jobs out
    val all = tr.jobsIn(ids -- ofKind("check").flatMap(s => tr.subtree(s.id)))
    val construct = jobsOf(ofKind("construct").toSeq)
    val exec = jobsOf(ofKind("execute").toSeq)
    val writes = all.filter(_.outBytes > 0)
    val mb = 1e6
    val osmExec = jobsOf(ofKind("execute").filter(s => OsmQueries(s.name)).toSeq)
    val osmExecMs = ofKind("execute").filter(s => OsmQueries(s.name)).map(_.ms).sum
    val base = Map(
      "construct.ms" -> ofKind("construct").map(_.ms).sum,
      "construct.jobs" -> construct.size.toDouble,
      "construct.tables_jobs" -> construct.count(j =>
        j.callSite.contains("Tables.scala") && !j.callSite.contains("heckpoint")).toDouble,
      "construct.checkpoint_jobs" -> construct.count(_.callSite.contains("heckpoint")).toDouble,
      "plan.ms" -> ofKind("plan").map(_.ms).sum,
      "exec.jobs" -> exec.size.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.sched_ms" -> exec.map(_.schedMs).sum.toDouble,
      "task.run_ms" -> all.map(_.runMs).sum.toDouble,
      "task.cpu_ms" -> all.map(_.cpuNs).sum / 1e6,
      "task.gc_ms" -> all.map(_.gcMs).sum.toDouble,
      "task.core_util" -> all.map(_.runMs).sum / (pass.wallS * 1000 * nproc),
      "scan.input_mb" -> all.map(_.inBytes).sum / mb,
      "scan.records" -> all.map(_.inRecords).sum.toDouble,
      "shuffle.read_mb" -> all.map(_.shuffleReadBytes).sum / mb,
      "shuffle.write_mb" -> all.map(_.shuffleWriteBytes).sum / mb,
      "shuffle.fetch_wait_ms" -> all.map(_.fetchWaitMs).sum.toDouble,
      "spill.mb" -> all.map(_.spillBytes).sum / mb,
      "write.ms" -> writes.map(_.wallMs).sum.toDouble,
      "output.mb" -> writes.map(_.outBytes).sum / mb,
      "output.files" -> writes.map(_.writeTasks).sum.toDouble,
      "jvm.gc_ms" -> pass.gcMs,
      "check.ms" -> pass.checkMs)
    val osm = workload match {
      case _: OsmIngest =>
        OsmOutputs.map { t =>
          s"osm.rows.$t" -> jobsOf(ofKind("op").filter(_.name == t).toSeq)
            .map(_.outRecords).sum.toDouble
        }.toMap
      case _ =>
        Map("osm.scan.ms" -> osmExecMs,
          "osm.scan.tasks" -> osmExec.map(_.tasks).sum.toDouble,
          "osm.scan.core_util" ->
            (if (osmExecMs > 0) osmExec.map(_.runMs).sum / (osmExecMs * nproc) else 0.0))
    }
    base ++ osm
  }

  def run(spec: JsonNode): Unit = {
    val nproc = spec.get("nproc").asInt()
    val work = spec.get("work").asText()
    val (spark, setupS) = setUp(nproc, work)
    val seconds = spec.get("seconds").asDouble()
    val trace = spec.get("trace").asBoolean()
    val warmup = spec.get("warmup_passes").asInt()
    val dir = spec.get("dir").asText()
    val workload: Workload = spec.get("workload").asText() match {
      case "osm_ingest" =>
        val osm = spec.get("osm")
        val mapping = osm.get("mapping").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        val exp = osm.get("expected").fields().asScala.map { e =>
          e.getKey -> e.getValue.fields().asScala.map(f => f.getKey -> f.getValue.asLong()).toMap
        }.toMap
        new OsmIngest(osm.get("file").asText(), s"$work/osm_out", mapping, exp)
      case _ =>
        val order = spec.get("queries").elements().asScala.map(_.asText()).toSeq
        val exp = spec.get("expected").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        new Queries(order, exp)
    }
    // Every pass ends with a full collection, outside its time, so each one
    // starts from the same heap state and the live heap can be read.
    val noChecks = Array(0L, 0L)
    val warmS = (1 to warmup).map { _ =>
      val s = timed(workload.pass(spark, dir, None, check = false, noChecks))._2 / 1000
      liveHeapMb()
      s
    }

    val tr = if (trace) Some(new Trace(spark)) else None
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // Traced runs interleave untraced and traced passes as U T T U, so a
    // warm-up trend weighs on both sides alike.
    val minPasses = if (trace) 4 else 1
    while (passes.size < minPasses || elapsed < seconds) {
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      val checkNs = Array(0L, 0L)
      val (c0, g0, t0) = (cpuNs(), gcMs(), System.nanoTime())
      val ptr = if (traced) tr else None
      var spanId = -1
      val ops = within(ptr, "pass", s"pass${passes.size}") {
        ptr.foreach(t => spanId = t.spans.last.id)
        workload.pass(spark, dir, ptr, check = true, checkNs)
      }
      val wall = (System.nanoTime() - t0 - checkNs(0)) / 1e9
      val (cpu, gc) = ((cpuNs() - c0 - checkNs(1)) / 1e9, (gcMs() - g0).toDouble)
      passes += PassResult(traced, wall, cpu, gc, checkNs(0) / 1e6, liveHeapMb(), ops, spanId)
    }

    val out = mapper.createObjectNode()
    val warmArr = out.putArray("warmup_pass_s"); warmS.foreach(warmArr.add)
    out.put("setup_s", setupS)
    out.put("spark_version", spark.version)
    out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    val passArr = out.putArray("passes")
    passes.foreach { p =>
      val n = passArr.addObject()
      n.put("traced", p.traced); n.put("wall_s", p.wallS); n.put("cpu_s", p.cpuS)
      n.put("gc_ms", p.gcMs); n.put("check_ms", p.checkMs); n.put("live_heap_mb", p.liveMb)
      val ops = n.putArray("ops")
      p.ops.foreach { o =>
        val on = ops.addObject(); on.put("name", o.name); on.put("ms", o.ms); on.put("ok", o.ok)
      }
    }

    tr.foreach { t =>
      val probes = workload match {
        case w: OsmIngest => w.probes(spark, t, nproc)
        case _ => Map.empty[String, Double]
      }
      val perPass = passes.filter(_.traced).map(layers(t, _, nproc, workload))
      val layerNode = out.putObject("layers")
      perPass.flatMap(_.keys).distinct.sorted.foreach { k =>
        layerNode.put(k, median(perPass.map(_.getOrElse(k, 0.0)).toSeq))
      }
      probes.foreach { case (k, v) => layerNode.put(k, v) }
      t.detach()
      writeSpans(t, spec.get("spans").asText())
    }
    out.put("peak_rss_mb", peakRssMb())
    spark.stop()
    mapper.writeValue(new File(spec.get("result").asText()), out)
  }

  /** All spans of the run, one JSON object a line, with self time and the
    * jobs attributed to each. */
  def writeSpans(tr: Trace, path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = new PrintWriter(path)
    try tr.spans.foreach { s =>
      val n: ObjectNode = mapper.createObjectNode()
      n.put("id", s.id); n.put("parent", s.parent); n.put("op", s.op)
      n.put("kind", s.kind); n.put("name", s.name)
      n.put("ms", s.ms); n.put("self_ms", tr.selfMs(s))
      val jobs = tr.jobsIn(Set(s.id))
      n.put("jobs", jobs.size); n.put("tasks", jobs.map(_.tasks).sum)
      val sites = n.putArray("call_sites"); jobs.map(_.callSite).distinct.foreach(sites.add)
      w.println(mapper.writeValueAsString(n))
    } finally w.close()
  }
}
