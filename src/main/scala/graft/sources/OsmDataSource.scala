package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
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
  *  - partition planning = one `InputPartition` per file, listed once
  *    per scan (OSM ships as many per-region extracts, so file
  *    granularity is the natural split — a planet-scale single file
  *    ships as PBF, which is block-splittable, not XML);
  *  - `SupportsPushDownRequiredColumns` and the `type` filter are
  *    handed to `OsmXml.parse`, the one StAX scanner, which decodes only
  *    the required columns of the wanted element types: a `select(id)`
  *    never materializes tags/nds arrays, and `count()` (every column
  *    pruned) only walks the elements — there is no separate count path;
  *  - each `PartitionReader` opens its file, streams it through that
  *    scanner — constant memory per task — applies the pushed limit and
  *    closes.
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

  /** LIMIT n: each file's parser stops after n emitted rows — a
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

  /** One InputPartition per visible file, listed once per scan: planning
    * and statistics read the same listing. */
  private lazy val partitions: Array[OsmInputPartition] = {
    if (path == null) throw new IllegalArgumentException(
      "the osm source requires exactly one path: spark.read.format(\"osm\").load(dir)")
    // the SESSION's hadoop conf (spark.hadoop.*, fs credentials/impls),
    // not a bare default Configuration — an s3a:// extract dir must
    // resolve here exactly like it does for the built-in sources
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
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
    }.map(st => OsmInputPartition(st.getPath.toString, st.getLen)).sortBy(_.file)
    if (files.isEmpty) throw new java.io.FileNotFoundException(
      s"osm source: no visible files under $path")
    files.toArray
  }

  override def planInputPartitions(): Array[InputPartition] =
    partitions.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmReaderFactory(required, types, limit, permissive,
      new SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))

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

case class OsmInputPartition(file: String, length: Long) extends InputPartition

class OsmReaderFactory(required: StructType, types: Option[Set[String]],
                       limit: Option[Int], permissive: Boolean,
                       conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPartitionReader(
      partition.asInstanceOf[OsmInputPartition].file, required, types,
      limit, permissive, conf.value)
}

/** Streams one file through `OsmXml.parse`, which emits only the
  * REQUIRED columns of the PUSHED element types; stops at the pushed
  * limit. */
class OsmPartitionReader(file: String, required: StructType,
                         types: Option[Set[String]],
                         limit: Option[Int],
                         permissive: Boolean,
                         conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val p = new Path(file)
  private val in = p.getFileSystem(conf).open(p)
  private val rows = OsmXml.parse(in, required, types, permissive)
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
