package graft.sources

import java.io.InputStream
import java.sql.Timestamp
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S1 in its honest form: OSM XML → the `elements` rows (`schema`,
  * `parse`) that `format("osm")` serves to `OsmShape.shapeAll` (SURVEY.md §2.1 S1 — the reference family's
  * actual entry point is a streaming XML `iterparse` over `.osm` files;
  * the reconstructed checkout is empty, so no file:line citation is
  * possible).
  *
  * Execution model: one task per file, each task STREAMING its file
  * through a StAX pull parser — constant memory per task regardless of
  * file size (the iterparse property), no DOM, no whole-file string.
  * `binaryFiles` is used instead of `wholeTextFiles` precisely so the
  * bytes are consumed incrementally from the stream.
  *
  * Scale stance: OSM distributes data as many per-region extracts, so
  * file-granularity parallelism is the natural partitioning for XML
  * input (a single planet-scale file ships as PBF, whose block
  * structure is splittable; XML is not record-splittable without a
  * start-tag-scanning InputFormat — out of scope here and of the
  * reference, which is single-file single-pass anyway). Everything
  * after this source is ordinary DataFrame code: parse once, write
  * parquet, and all downstream queries scan columnar data.
  *
  * Untrusted input: DTDs and external entities are disabled (XXE); a
  * malformed attribute value parses to NULL rather than failing the
  * task — validation is `OsmShape.isValid`'s job, which routes bad rows
  * to the corrupt side instead of dropping or throwing.
  */
object OsmXml {

  val schema: StructType = StructType(Seq(
    StructField("type", StringType), StructField("id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("user", StringType), StructField("uid", LongType),
    StructField("version", StringType), StructField("changeset", LongType),
    StructField("timestamp", TimestampType),
    StructField("tags", ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("v", StringType))))),
    StructField("nds", ArrayType(LongType)),
    // ordered <member> children of a <relation> (null for node/way)
    StructField("members", ArrayType(StructType(Seq(
      StructField("mtype", StringType), StructField("ref", LongType),
      StructField("role", StringType)))))))

  /** A1 in its raw-XML form (the reference family's `count_tags`): a
    * census of EVERY element tag name in the document — including the
    * structure the row model doesn't carry (`osm` root, `bounds`,
    * nested `tag`/`nd`/`member`) — as (tag, count). Same execution
    * model as the `osm` source: one streaming StAX pass per file, constant
    * memory (the per-file map is bounded by the XML vocabulary, ~10
    * names), partial counts merged by one tiny reduceByKey. */
  def countTags(spark: SparkSession, path: String): DataFrame = {
    val counts = spark.sparkContext.binaryFiles(path)
      .flatMap { case (_, pds) => countStartElements(pds.open()).iterator }
      .reduceByKey(_ + _)
      .map { case (t, n) => Row(t, n) }
    spark.createDataFrame(counts, StructType(Seq(
      StructField("tag", StringType), StructField("count", LongType))))
  }

  /** Streaming count of start-element names in one XML byte stream. */
  def countStartElements(in: InputStream): Map[String, Long] = {
    val factory = XMLInputFactory.newFactory()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = factory.createXMLStreamReader(in)
    val m = scala.collection.mutable.Map.empty[String, Long]
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) {
          val n = r.getLocalName
          m.update(n, m.getOrElse(n, 0L) + 1L)
        }
      }
    } finally { r.close(); in.close() }
    m.toMap
  }

  /** Count-only pass for the aggregate-pushdown path (COUNT over the
    * `osm` source): per-type row counts WITHOUT building a single Row —
    * no attribute parsing, no child collection, no string conversion.
    * Mirrors `parse`'s emission rule exactly: an element counts iff
    * parse would emit it — top-of-scan node/way/relation matching the
    * pushed type set, whose subtree is then consumed (so a nested
    * row-named element inside a MATCHED element never double-counts,
    * exactly as readElement consumes it; inside a NON-matched element
    * it scans through, exactly as parse's loop does). */
  def countTypes(in: InputStream,
                 wantedTypes: Option[Set[String]] = None,
                 permissive: Boolean = false): Map[String, Long] = {
    val factory = XMLInputFactory.newFactory()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = factory.createXMLStreamReader(in)
    val m = scala.collection.mutable.Map.empty[String, Long]
    var skipDepth = 0
    var pending: String = null
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            if (skipDepth > 0) skipDepth += 1
            else {
              val n = r.getLocalName
              if ((n == "node" || n == "way" || n == "relation") &&
                  wantedTypes.forall(_.contains(n))) {
                pending = n
                skipDepth = 1 // consume the subtree, like readElement
              }
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (skipDepth > 0) {
              skipDepth -= 1
              // count at element COMPLETION, not start: on a truncated
              // document the permissive counts then agree exactly with
              // parse()'s salvaged rows (an element in flight at the
              // corruption point is dropped by both)
              if (skipDepth == 0) m.update(pending, m.getOrElse(pending, 0L) + 1L)
            }
          case _ => ()
        }
      }
    } catch {
      // permissive keeps the counts of every element completed before
      // the corruption point — same contract as parse()
      case e: javax.xml.stream.XMLStreamException if permissive => ()
    } finally { r.close(); in.close() }
    m.toMap
  }

  /** Streaming element iterator over an XML byte stream. Emits one Row
    * per <node>/<way>/<relation>; non-element structure (bounds, the
    * osm root, …) is skipped — use `countTags` for raw tag-name
    * censuses over the full document. `wantedTypes` is the pushed-down
    * `type` predicate — a non-matching element's subtree is skipped by
    * the pull parser without building a Row at all. Closes the stream
    * when exhausted. */
  def parse(in: InputStream,
            wantedTypes: Option[Set[String]] = None,
            permissive: Boolean = false): Iterator[Row] = new Iterator[Row] {
    private val factory = XMLInputFactory.newFactory()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    private val r = factory.createXMLStreamReader(in)
    private var nextRow: Row = _
    advance()

    override def hasNext: Boolean = nextRow != null

    override def next(): Row = {
      val out = nextRow
      advance()
      out
    }

    /** Permissive mode: a malformed document (truncated extract,
      * unbalanced tags, bad entity) ends THIS file's iteration at the
      * corruption point — every complete element before it is kept,
      * other file partitions are unaffected. Failfast (default) lets
      * the XMLStreamException fail the task: in an analytics gate a
      * silently-shortened corpus is the worse failure mode, so
      * tolerance is opt-in (`option("mode","permissive")`), unlike the
      * CSV/JSON sources' permissive default. */
    private def advance(): Unit = {
      nextRow = null
      try {
        while (nextRow == null && r.hasNext) {
          if (r.next() == XMLStreamConstants.START_ELEMENT) {
            val name = r.getLocalName
            if ((name == "node" || name == "way" || name == "relation") &&
                wantedTypes.forall(_.contains(name)))
              nextRow = readElement(name)
          }
        }
      } catch {
        case e: javax.xml.stream.XMLStreamException =>
          nextRow = null
          closeQuietly()
          if (!permissive) throw e
      }
      if (nextRow == null) closeQuietly()
    }

    private def closeQuietly(): Unit = {
      try r.close() catch { case _: Exception => () }
      try in.close() catch { case _: Exception => () }
    }

    /** Reader is ON the element's START_ELEMENT; consume through its
      * END_ELEMENT, collecting <tag>/<nd> children. */
    private def readElement(name: String): Row = {
      val id = longAttr("id")
      val lat = if (name == "node") dblAttr("lat") else null
      val lon = if (name == "node") dblAttr("lon") else null
      val user = r.getAttributeValue(null, "user")
      val uid = longAttr("uid")
      val version = r.getAttributeValue(null, "version")
      val changeset = longAttr("changeset")
      val ts = tsAttr("timestamp")
      val tags = Seq.newBuilder[Row]
      val nds = Seq.newBuilder[Any]
      val members = Seq.newBuilder[Row]
      var depth = 1
      while (depth > 0 && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            if (depth == 2) r.getLocalName match {
              case "tag" => tags += Row(r.getAttributeValue(null, "k"),
                                        r.getAttributeValue(null, "v"))
              case "nd"  => nds += longAttr("ref")
              case "member" => members += Row(
                r.getAttributeValue(null, "type"), longAttr("ref"),
                r.getAttributeValue(null, "role"))
              case _     => ()
            }
          case XMLStreamConstants.END_ELEMENT => depth -= 1
          case _ => ()
        }
      }
      Row(name, id, lat, lon, user, uid, version, changeset, ts,
          tags.result(), if (name == "way") nds.result() else null,
          if (name == "relation") members.result() else null)
    }

    private def longAttr(n: String): Any = {
      val v = r.getAttributeValue(null, n)
      if (v == null) null else v.toLongOption.map(Long.box).orNull
    }

    private def dblAttr(n: String): Any = {
      val v = r.getAttributeValue(null, n)
      if (v == null) null else v.toDoubleOption.map(Double.box).orNull
    }

    private def tsAttr(n: String): Any = {
      val v = r.getAttributeValue(null, n)
      if (v == null) null
      else
        try Timestamp.from(java.time.Instant.parse(v))
        catch { case _: java.time.format.DateTimeParseException => null }
    }
  }
}
