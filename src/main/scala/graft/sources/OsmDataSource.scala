package graft.sources

import java.io.{ByteArrayInputStream, SequenceInputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.google.common.io.ByteStreams
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** OSM XML as a first-class DataSource V2: `spark.read.format("osm")
  * .load(path)` (SURVEY §2.1 S1's honest form behind the standard
  * source API).
  *
  * Connector anatomy, all public Spark 4 interfaces:
  *  - `TableProvider` + `DataSourceRegister` → short name "osm";
  *  - partition planning = byte ranges, listed once per scan: a file
  *    longer than Spark's own split size (the `FilePartition
  *    .maxSplitBytes` rule over `spark.sql.files.maxPartitionBytes`,
  *    `openCostInBytes` and `minPartitionNum`) is cut into equal ranges,
  *    so one large extract parses on every core; a file at or below it,
  *    and every file under `mode=permissive`, is one range;
  *  - `SupportsPushDownRequiredColumns` and the `type` filter are
  *    handed to `OsmXml.parse`, the one StAX scanner, which decodes only
  *    the required columns of the wanted element types: a `select(id)`
  *    never materializes tags/nds arrays, and `count()` (every column
  *    pruned) only walks the elements — there is no separate count path;
  *  - each `PartitionReader` streams its range through that scanner —
  *    constant memory per task — applies the pushed limit and closes.
  *
  * A range owns exactly the node/way/relation elements whose `<` lies
  * inside it. Its reader re-syncs forward from its start to the first
  * `<node`, `<way` or `<relation` followed by whitespace, `/` or `>`,
  * and stops where the next range's first element begins. That rests
  * on two properties of OSM files: node, way and relation are children
  * of the root, and their start tags do not occur inside comments or
  * CDATA. The permissive contract — every complete element before the
  * corruption point — is a property of the whole file, so permissive
  * files are never split.
  */
class OsmDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osm"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmXml.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new OsmTable(properties.get("path"))
}

class OsmTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"osm:$path"
  override def schema(): StructType = OsmXml.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // mode=permissive: a malformed file keeps its salvageable prefix
    // instead of failing the task (failfast default — see OsmXml.parse)
    val permissive = options.getOrDefault("mode", "failfast").toLowerCase match {
      case "permissive" => true
      case "failfast"   => false
      case other => throw new IllegalArgumentException(
        s"osm source: unknown mode '$other' (expected permissive|failfast)")
    }
    new OsmScanBuilder(Option(path).getOrElse(options.get("path")), permissive)
  }
}

class OsmScanBuilder(path: String, permissive: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}

  private var required: StructType = OsmXml.schema
  private var types: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  /** LIMIT n: each range's parser stops after n emitted rows — a
    * per-partition (partial) limit; Spark keeps its global Limit on
    * top, so this is purely an early-termination optimization (`take a
    * few rows to look at them` never parses whole extracts). */
  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false // partial: Spark still applies the global limit
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `type = 'node'` / `type IN (...)` is absorbed COMPLETELY: the
    * StAX parser skips non-matching elements before any Row is built,
    * so no residual evaluation is needed. Everything else stays with
    * Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (absorbed, residual) = filters.partition {
      case EqualTo("type", _: String) => true
      case In("type", vs) => vs.forall(_.isInstanceOf[String])
      case IsNotNull("type") => true // parser never emits a null type
      case _ => false
    }
    if (absorbed.nonEmpty) {
      val wanted = absorbed.flatMap {
        case EqualTo("type", v: String) => Seq(Set(v))
        case In("type", vs) => Seq(vs.map(_.asInstanceOf[String]).toSet)
        case _ => Seq.empty // IsNotNull constrains nothing
      }
      // conjunctive filters: intersect with any previous absorption
      wanted.foreach(w => types = Some(types.fold(w)(_ intersect w)))
      pushed = absorbed
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new OsmScan(path, required, types, limit, permissive)
}

class OsmScan(path: String, required: StructType,
              types: Option[Set[String]] = None,
              limit: Option[Int] = None,
              permissive: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The byte ranges of every visible file, listed once per scan:
    * planning and statistics read the same listing. */
  private lazy val partitions: Array[OsmInputPartition] = {
    if (path == null) throw new IllegalArgumentException(
      "the osm source requires exactly one path: spark.read.format(\"osm\").load(dir)")
    val session = SparkSession.active
    // the SESSION's hadoop conf (spark.hadoop.*, fs credentials/impls),
    // not a bare default Configuration — an s3a:// extract dir must
    // resolve here exactly like it does for the built-in sources
    val p = new Path(path)
    val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty) throw new java.io.FileNotFoundException(
      s"osm source: no files match $path")
    // Hadoop's hiddenFileFilter convention (also applied by the RDD
    // path's binaryFiles): ignore _SUCCESS markers, dotfiles and other
    // system files so a stray non-XML artifact can't fail the scan and
    // the two readers agree on inputs.
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val files = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(s => s.isFile && visible(s.getPath)).toSeq
      else Seq(st)
    }.map(st => st.getPath.toString -> st.getLen).sortBy(_._1)
    if (files.isEmpty) throw new java.io.FileNotFoundException(
      s"osm source: no visible files under $path")
    val openCost = SQLConf.get.filesOpenCostInBytes
    val splitBytes =
      if (permissive) Long.MaxValue
      else FilePartition.maxSplitBytes(session, files.map(_._2 + openCost).sum)
    files.flatMap { case (f, len) => OsmScan.ranges(f, len, splitBytes) }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitions.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmReaderFactory(required, types, limit, permissive,
      new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration))

  /** File-length statistics so Catalyst's size estimate reflects the
    * actual extract bytes (a small regional dim joins as the broadcast
    * side instead of defaulting to the conservative unknown-size
    * estimate). Rows are unknown without parsing — only bytes are
    * reported. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(partitions.map(_.length).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

object OsmScan {
  /** `file` as ceil(len / splitBytes) byte ranges of equal length (the
    * first len % n one byte longer); one range when it fits. */
  def ranges(file: String, len: Long, splitBytes: Long): Seq[OsmInputPartition] = {
    val n = if (len <= splitBytes) 1L else (len - 1) / splitBytes + 1
    val (size, extra) = (len / n, len % n)
    (0L until n).map { i =>
      OsmInputPartition(file, i * size + math.min(i, extra), size + (if (i < extra) 1 else 0))
    }
  }

  private val elementNames = Array("node", "way", "relation").map(_.getBytes(US_ASCII))

  /** Offset of the first `<node`, `<way` or `<relation` followed by
    * whitespace, `/` or `>` at or after `from`, or -1 when the file has
    * none. Reads forward from `from` only, in 8 KB steps. */
  def nextElement(in: FSDataInputStream, from: Long): Long = {
    in.seek(from)
    val buf = new Array[Byte](8192)
    var base = from // file offset of buf(0)
    var n = 0       // bytes held
    var i = 0       // next candidate `<`
    var eof = false
    var found = -1L
    def startTagAt(j: Int): Boolean = elementNames.exists { name =>
      val k = j + name.length
      k < n && java.util.Arrays.equals(buf, j, k, name, 0, name.length) &&
        (buf(k) match { case ' ' | '\t' | '\r' | '\n' | '/' | '>' => true; case _ => false })
    }
    while (found < 0 && !(eof && i >= n)) {
      if (!eof && n - i <= 9) { // "<relation" and its delimiter are 10 bytes
        System.arraycopy(buf, i, buf, 0, n - i)
        base += i; n -= i; i = 0
        val got = in.read(buf, n, buf.length - n)
        if (got < 0) eof = true else n += got
      } else {
        if (buf(i) == '<' && startTagAt(i + 1)) found = base + i
        i += 1
      }
    }
    found
  }
}

/** Bytes [start, start + length) of `file`: the elements whose `<` lies
  * in that range. */
case class OsmInputPartition(file: String, start: Long, length: Long) extends InputPartition

class OsmReaderFactory(required: StructType, types: Option[Set[String]],
                       limit: Option[Int], permissive: Boolean,
                       conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPartitionReader(partition.asInstanceOf[OsmInputPartition], required, types,
      limit, permissive, conf.value)
}

/** Streams one byte range through `OsmXml.parse`, which emits only the
  * REQUIRED columns of the PUSHED element types; stops at the pushed
  * limit. The parser sees `[first, stop)`: `first` is 0 for the range at
  * the file's head (prolog and root included) and otherwise the first
  * element start tag in the range, behind a synthetic `<osm>`; `stop`
  * is the next range's first element, before a synthetic `</osm>`, or
  * the end of the file, whose own `</osm>` closes the root. Nothing
  * before `start` is read, and nothing past the range but the element
  * that straddles its end and the re-sync to the next one. */
class OsmPartitionReader(range: OsmInputPartition, required: StructType,
                         types: Option[Set[String]],
                         limit: Option[Int],
                         permissive: Boolean,
                         conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val p = new Path(range.file)
  private val in = p.getFileSystem(conf).open(p)
  private val rows: Iterator[InternalRow] = {
    val end = range.start + range.length
    val first = if (range.start == 0) 0L else OsmScan.nextElement(in, range.start)
    // the head range always parses: its prolog and root are checked
    // even when it owns no element (an empty file still fails failfast)
    if (range.start > 0 && (first < 0 || first >= end)) Iterator.empty
    else {
      val stop = OsmScan.nextElement(in, end)
      in.seek(first)
      def bytes(s: String) = new ByteArrayInputStream(s.getBytes(US_ASCII))
      val parts = Seq(
        bytes(if (range.start == 0) "" else "<osm>"),
        if (stop < 0) in else ByteStreams.limit(in, stop - first),
        bytes(if (stop < 0) "" else "</osm>"))
      OsmXml.parse(new SequenceInputStream(parts.iterator.asJavaEnumeration),
        required, types, permissive)
    }
  }
  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean =
    if (limit.exists(emitted >= _) || !rows.hasNext) false
    else { current = rows.next(); emitted += 1; true }

  override def get(): InternalRow = current

  /** parse() closes the stream at EOF, but an early-terminated scan
    * (limit, task kill) never reaches EOF — close here too so the
    * handle can't leak; FSDataInputStream.close is idempotent. */
  override def close(): Unit = in.close()
}
