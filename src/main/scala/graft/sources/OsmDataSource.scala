package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** OSM XML as a first-class DataSource V2: `spark.read.format("osm")
  * .load(path)` (SURVEY §2.1 S1's honest form behind the standard
  * source API).
  *
  * Connector anatomy, all public Spark 4 interfaces:
  *  - `TableProvider` + `DataSourceRegister` → short name "osm";
  *  - partition planning = one `InputPartition` per file (driver lists
  *    the directory; OSM ships as many per-region extracts, so
  *    file granularity is the natural split — a planet-scale single
  *    file ships as PBF, which is block-splittable, not XML);
  *  - `SupportsPushDownRequiredColumns` → column pruning reaches the
  *    source: a `select(id)` never materializes tags/nds arrays;
  *  - each `PartitionReader` STREAMS its file through the same StAX
  *    pull parser as `OsmXml.parse` — constant memory per task.
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
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}

  private var required: StructType = OsmXml.schema
  private var types: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var aggPushed = false
  private var aggGrouped = false
  private var aggCounts = 0
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

  /** COUNT(*) — optionally grouped by `type` — is answered by a
    * count-only StAX pass that never materializes a row (no attribute
    * parsing, no array children, no Catalyst conversion). Partial
    * pushdown (`supportCompletePushDown` stays false): each file
    * partition emits its per-type counts and Spark's final aggregate
    * sums them — correct for any number of per-region extract files.
    * At 100 TB this is the difference between "count the corpus" being
    * a metadata-speed pass vs a full decode. Any other aggregate (or
    * grouping) declines the pushdown and takes the row path. */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    val groups = aggregation.groupByExpressions
    val groupedOnType = groups.length == 1 && (groups(0) match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference =>
        n.fieldNames.sameElements(Array("type"))
      case _ => false
    })
    val ok = (groups.isEmpty || groupedOnType) &&
      aggregation.aggregateExpressions.nonEmpty &&
      aggregation.aggregateExpressions.forall(_.isInstanceOf[CountStar])
    if (ok) {
      aggPushed = true
      aggGrouped = groups.nonEmpty
      aggCounts = aggregation.aggregateExpressions.length
    }
    ok
  }

  override def build(): Scan =
    if (aggPushed) new OsmCountScan(path, aggGrouped, aggCounts, types, permissive)
    else new OsmScan(path, required, types, limit, permissive)
}

object OsmScan {
  /** One InputPartition per visible file — shared by the row scan and
    * the count-pushdown scan so both read exactly the same inputs. */
  def listPartitions(path: String): Array[InputPartition] = {
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
    }.map(_.getPath.toString).sorted
    if (files.isEmpty) throw new java.io.FileNotFoundException(
      s"osm source: no visible files under $path")
    files.map(f => OsmInputPartition(f): InputPartition).toArray
  }

  def serializableConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
}

class OsmScan(path: String, required: StructType,
              types: Option[Set[String]] = None,
              limit: Option[Int] = None,
              permissive: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    OsmScan.listPartitions(path)

  override def createReaderFactory(): PartitionReaderFactory =
    new OsmReaderFactory(required, types, limit, permissive,
      OsmScan.serializableConf())

  /** File-length statistics so Catalyst's size estimate reflects the
    * actual extract bytes (a small regional dim joins as the broadcast
    * side instead of defaulting to the conservative unknown-size
    * estimate). Rows are unknown without parsing — only bytes are
    * reported. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = {
      val conf = org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration
      OsmScan.listPartitions(path).map { p =>
        val f = new Path(p.asInstanceOf[OsmInputPartition].file)
        f.getFileSystem(conf).getFileStatus(f).getLen
      }.sum
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
}

/** Aggregate-pushdown scan: COUNT(*) (optionally grouped by `type`)
  * served by `OsmXml.countTypes` — a StAX pass that parses element
  * names only. Emits PARTIAL counts (one row per present type per
  * file, or one total row per file ungrouped); Spark's final aggregate
  * sums partials, so multi-file extracts compose exactly like the row
  * path. Output column order follows the V2 pushdown contract: group
  * columns first, then one long per pushed COUNT. */
class OsmCountScan(path: String, grouped: Boolean, nCounts: Int,
                   types: Option[Set[String]],
                   permissive: Boolean = false) extends Scan with Batch {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def readSchema(): StructType = {
    val base = if (grouped) new StructType().add("type", StringType, false)
               else new StructType()
    (0 until nCounts).foldLeft(base)((s, i) => s.add(s"count_$i", LongType, false))
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    OsmScan.listPartitions(path)
  override def createReaderFactory(): PartitionReaderFactory =
    new OsmCountReaderFactory(grouped, nCounts, types, permissive,
      OsmScan.serializableConf())
  override def description(): String =
    s"OsmCountScan(grouped=$grouped, pushedTypes=$types)"
}

class OsmCountReaderFactory(grouped: Boolean, nCounts: Int,
                            types: Option[Set[String]],
                            permissive: Boolean,
                            conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val file = partition.asInstanceOf[OsmInputPartition].file
      private lazy val rows: Iterator[InternalRow] = {
        val p = new Path(file)
        val counts = OsmXml.countTypes(
          p.getFileSystem(conf.value).open(p), types, permissive)
        def row(prefix: Seq[Any], c: Long): InternalRow = {
          val out = new GenericInternalRow(prefix.length + nCounts)
          prefix.zipWithIndex.foreach { case (v, i) => out.update(i, v) }
          (0 until nCounts).foreach(i => out.update(prefix.length + i, c))
          out
        }
        if (grouped)
          counts.toSeq.sortBy(_._1).iterator.map { case (t, c) =>
            row(Seq(UTF8String.fromString(t)), c) }
        else Iterator.single(row(Seq.empty, counts.values.sum))
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = () // countTypes closes its stream
    }
}

case class OsmInputPartition(file: String) extends InputPartition

class OsmReaderFactory(required: StructType, types: Option[Set[String]],
                       limit: Option[Int], permissive: Boolean,
                       conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new OsmPartitionReader(
      partition.asInstanceOf[OsmInputPartition].file, required, types,
      limit, permissive, conf.value)
}

/** Streams one file; converts only the REQUIRED columns to Catalyst
  * form (pruned columns cost nothing beyond the parse) and only the
  * PUSHED element types (others never leave the parser). */
class OsmPartitionReader(file: String, required: StructType,
                         types: Option[Set[String]],
                         limit: Option[Int],
                         permissive: Boolean,
                         conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val p = new Path(file)
  private val in = p.getFileSystem(conf).open(p)
  private val rows = OsmXml.parse(in, types, permissive)
  // ordinal in the FULL schema for each required field
  private val fullOrdinals: Array[Int] =
    required.fields.map(f => OsmXml.schema.fieldIndex(f.name))
  /** Nested-pruning support: Catalyst's nestedSchemaPruning can request
    * the tags/members ELEMENT struct with a SUBSET (or reorder) of its
    * fields — e.g. `posexplode(members)` under a bare count() prunes the
    * element to one field. Emitting the full struct then feeds codegen
    * the wrong ordinals (observed: getLong(ref) landing on mtype's
    * UTF8String). Map each required sub-field to its full-struct ordinal
    * by NAME and emit exactly the required shape. */
  private def subOrdinals(name: String): Array[Int] = {
    val fullElem = OsmXml.schema(name).dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    required.fields.find(_.name == name) match {
      case Some(f) => f.dataType.asInstanceOf[ArrayType].elementType
        .asInstanceOf[StructType].fields.map(sf => fullElem.fieldIndex(sf.name))
      case None => fullElem.fields.indices.toArray
    }
  }
  private val tagSub = subOrdinals("tags")
  private val memberSub = subOrdinals("members")
  private var current: InternalRow = _
  private var emitted = 0

  override def next(): Boolean =
    if (limit.exists(emitted >= _) || !rows.hasNext) false
    else { current = convert(rows.next()); emitted += 1; true }

  override def get(): InternalRow = current

  /** parse() closes the stream at EOF, but an early-terminated scan
    * (limit, task kill) never reaches EOF — close here too so the
    * handle can't leak; FSDataInputStream.close is idempotent. */
  override def close(): Unit = in.close()

  private def convert(r: org.apache.spark.sql.Row): InternalRow = {
    val out = new GenericInternalRow(fullOrdinals.length)
    var k = 0
    while (k < fullOrdinals.length) {
      out.update(k, toCatalyst(r, fullOrdinals(k)))
      k += 1
    }
    out
  }

  private def toCatalyst(r: org.apache.spark.sql.Row, i: Int): Any = {
    if (r.isNullAt(i)) return null
    i match {
      case 0 | 4 | 6 => UTF8String.fromString(r.getString(i)) // type/user/version
      case 1 | 5 | 7 => r.getLong(i)                          // id/uid/changeset
      case 2 | 3     => r.getDouble(i)                        // lat/lon
      case 8         => // timestamp → micros
        val ts = r.getAs[java.sql.Timestamp](8)
        ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
      case 9         => // tags: array<struct<k,v>>, nested-pruned shape
        val tags = r.getSeq[org.apache.spark.sql.Row](9)
        new GenericArrayData(tags.map { t =>
          val s = new GenericInternalRow(tagSub.length)
          var j = 0
          while (j < tagSub.length) {
            s.update(j, Option(t.getString(tagSub(j)))
              .map(UTF8String.fromString).orNull)
            j += 1
          }
          s: Any
        }.toArray)
      case 10        => // nds: array<long>; parser may leave null members
        val nds = r.getSeq[Any](10)
        new GenericArrayData(nds.toArray): ArrayData
      case 11        => // members: array<struct<mtype,ref,role>>,
                        // nested-pruned shape (ref is the one long field)
        val ms = r.getSeq[org.apache.spark.sql.Row](11)
        new GenericArrayData(ms.map { m =>
          val s = new GenericInternalRow(memberSub.length)
          var j = 0
          while (j < memberSub.length) {
            val fi = memberSub(j)
            s.update(j,
              if (m.isNullAt(fi)) null
              else if (fi == 1) m.getLong(fi)
              else UTF8String.fromString(m.getString(fi)))
            j += 1
          }
          s: Any
        }.toArray)
      case other     => throw new IllegalStateException(s"ordinal $other")
    }
  }
}
