package graft.sources

import java.io.InputStream
import java.time.Instant
import java.time.format.DateTimeParseException
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants.{END_ELEMENT, START_ELEMENT}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S1 in its honest form: OSM XML → the `elements` rows (`schema`,
  * `parse`) that `format("osm")` serves to `OsmShape.shapeAll` (SURVEY.md §2.1 S1 — the reference family's
  * actual entry point is a streaming XML `iterparse` over `.osm` files;
  * the reconstructed checkout is empty, so no file:line citation is
  * possible).
  *
  * One scanner: `parse` is the only element loop. It walks the
  * top-level node/way/relation start elements of one byte stream
  * through a StAX pull parser — constant memory, no DOM, no whole-file
  * string (the iterparse property) — and writes Catalyst values
  * directly (`UTF8String`, longs, doubles, µs timestamps,
  * `GenericArrayData`). Pruning happens inside it: only the attributes
  * and children of the `required` columns are read, in exactly the
  * requested (possibly nested-pruned) shape, and element types outside
  * the pushed `type` set are never decoded. With every column pruned,
  * as under `count()`, it only walks start and end elements.
  *
  * Scale stance: a large file is parsed as byte ranges in parallel
  * (`OsmDataSource`): each range re-syncs on the first `<node`, `<way`
  * or `<relation` start tag at or after its offset and hands `parse` a
  * bounded stream of the elements it owns inside a synthetic `<osm>`
  * root. That split rests on two properties of OSM files: node, way and
  * relation are children of the root (never nested in one another), and
  * their start tags do not occur inside comments, CDATA sections or
  * processing instructions. The files are UTF-8, so an ASCII tag never
  * matches inside a multibyte character. A document that breaks either
  * property must be read with `mode=permissive`, which never splits.
  * Everything after this source is ordinary DataFrame code: parse once,
  * write parquet, and all downstream queries scan columnar data.
  *
  * Untrusted input: `reader` refuses DTDs and external entities (XXE)
  * for every loop here; a malformed attribute value — including a
  * timestamp outside the µs range — parses to NULL rather than failing
  * the task — validation is `OsmShape.isValid`'s job, which routes bad
  * rows to the corrupt side instead of dropping or throwing.
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

  /** The one StAX reader factory: DTDs and external entities off. */
  private def reader(in: InputStream): XMLStreamReader = {
    val factory = XMLInputFactory.newFactory()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    factory.createXMLStreamReader(in)
  }

  /** A1 in its raw-XML form (the reference family's `count_tags`): a
    * census of EVERY element tag name in the document — including the
    * structure the row model doesn't carry (`osm` root, `bounds`,
    * nested `tag`/`nd`/`member`) — as (tag, count). One streaming
    * StAX pass per whole file (the root and prolog are counted too, so
    * this census is not split into byte ranges), constant
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
    val r = reader(in)
    val m = scala.collection.mutable.Map.empty[String, Long]
    try {
      while (r.hasNext) {
        if (r.next() == START_ELEMENT) {
          val n = r.getLocalName
          m.update(n, m.getOrElse(n, 0L) + 1L)
        }
      }
    } finally { r.close(); in.close() }
    m.toMap
  }

  private val typeNames: Map[String, UTF8String] =
    Seq("node", "way", "relation").map(n => n -> UTF8String.fromString(n)).toMap

  /** XML attribute behind each field of the tags / members element
    * structs (`ref` is the one long-valued one). */
  private val childAttr = Map("k" -> "k", "v" -> "v",
    "mtype" -> "type", "ref" -> "ref", "role" -> "role")

  /** Streaming element iterator over an XML byte stream: one row in the
    * `required` shape per top-level <node>/<way>/<relation> whose type
    * is in `wantedTypes`; any other structure (bounds, the osm root, …)
    * is skipped — use `countTags` for raw tag-name censuses over the
    * full document. Every node/way/relation's whole subtree is consumed,
    * wanted or not, so an element nested inside one is never emitted
    * and a pushed type filter returns exactly the matching rows of the
    * unfiltered read. Closes the stream when exhausted.
    *
    * Permissive mode: a malformed document (truncated extract,
    * unbalanced tags, bad entity) ends THIS stream at the corruption
    * point — every complete element before it is kept, the one in
    * flight is dropped. Failfast (default) rethrows the
    * XMLStreamException: in an analytics gate a silently-shortened
    * corpus is the worse failure mode, so tolerance is opt-in
    * (`option("mode","permissive")`), unlike the CSV/JSON sources'
    * permissive default. */
  def parse(in: InputStream,
            required: StructType = schema,
            wantedTypes: Option[Set[String]] = None,
            permissive: Boolean = false): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val r = reader(in)
    // full-schema ordinal of each required column, in required order
    private val cols = required.fieldNames.map(schema.fieldIndex)
    // output ordinal of each array column, -1 when pruned
    private val Array(tagsAt, ndsAt, membersAt) = Array(9, 10, 11).map(cols.indexOf(_))
    private def elementAttrs(at: Int): Array[String] =
      if (at < 0) null
      else required(at).dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType].fieldNames.map(childAttr)
    private val tagAttrs = elementAttrs(tagsAt)
    private val memberAttrs = elementAttrs(membersAt)
    private var nextRow: InternalRow = _
    advance()

    override def hasNext: Boolean = nextRow != null

    override def next(): InternalRow = {
      val out = nextRow
      advance()
      out
    }

    private def advance(): Unit = {
      nextRow = null
      try {
        while (nextRow == null && r.hasNext) {
          if (r.next() == START_ELEMENT) {
            val name = r.getLocalName
            if (typeNames.contains(name)) {
              if (wantedTypes.forall(_.contains(name))) nextRow = readElement(name)
              else consume(null, null, null)
            }
          }
        }
      } catch {
        case e: XMLStreamException =>
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

    /** Reader is ON the element's START_ELEMENT: read the required
      * attributes, then the required children. lat/lon belong to nodes,
      * nds to ways and members to relations; tags is never null. */
    private def readElement(name: String): InternalRow = {
      val row = new GenericInternalRow(cols.length)
      var i = 0
      while (i < cols.length) {
        row.update(i, cols(i) match {
          case 0 => typeNames(name)
          case 1 => longAttr("id")
          case 2 => if (name == "node") dblAttr("lat") else null
          case 3 => if (name == "node") dblAttr("lon") else null
          case 4 => strAttr("user")
          case 5 => longAttr("uid")
          case 6 => strAttr("version")
          case 7 => longAttr("changeset")
          case 8 => tsAttr("timestamp")
          case _ => null // arrays: filled from the children below
        })
        i += 1
      }
      val tags = if (tagsAt >= 0) new ArrayBuffer[Any] else null
      val nds = if (ndsAt >= 0 && name == "way") new ArrayBuffer[Any] else null
      val members =
        if (membersAt >= 0 && name == "relation") new ArrayBuffer[Any] else null
      consume(tags, nds, members)
      if (tags != null) row.update(tagsAt, new GenericArrayData(tags.toArray))
      if (nds != null) row.update(ndsAt, new GenericArrayData(nds.toArray))
      if (members != null) row.update(membersAt, new GenericArrayData(members.toArray))
      row
    }

    /** Consume through the current element's END_ELEMENT, appending its
      * <tag>/<nd>/<member> children to the non-null buffers. Every
      * node/way/relation goes through here, wanted or not, so an element
      * nested inside one is never emitted. */
    private def consume(tags: ArrayBuffer[Any], nds: ArrayBuffer[Any],
                        members: ArrayBuffer[Any]): Unit = {
      val collect = tags != null || nds != null || members != null
      var depth = 1
      while (depth > 0 && r.hasNext) r.next() match {
        case START_ELEMENT =>
          depth += 1
          if (depth == 2 && collect) r.getLocalName match {
            case "tag" if tags != null => tags += struct(tagAttrs)
            case "nd" if nds != null => nds += longAttr("ref")
            case "member" if members != null => members += struct(memberAttrs)
            case _ => ()
          }
        case END_ELEMENT => depth -= 1
        case _ => ()
      }
    }

    /** One tags/members element struct, fields in the requested order. */
    private def struct(attrs: Array[String]): InternalRow = {
      val s = new GenericInternalRow(attrs.length)
      var j = 0
      while (j < attrs.length) {
        s.update(j, if (attrs(j) == "ref") longAttr("ref") else strAttr(attrs(j)))
        j += 1
      }
      s
    }

    private def strAttr(n: String): UTF8String =
      UTF8String.fromString(r.getAttributeValue(null, n))

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
      if (v == null) null else timestampMicros(v)
    }
  }

  /** Epoch µs of an OSM `timestamp`; an unparseable or out-of-range
    * instant reads as NULL. The form OSM writes takes the integer fast
    * path; anything else `Instant.parse` decides. */
  private[graft] def timestampMicros(v: String): Any = {
    val fast = secondsInstantMicros(v)
    if (fast != Long.MinValue) fast
    else
      try {
        val t = Instant.parse(v)
        Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L)
      } catch { case _: DateTimeParseException | _: ArithmeticException => null }
  }

  /** Epoch µs of exactly `YYYY-MM-DDTHH:MM:SSZ` with every field in
    * range (proleptic Gregorian, as `Instant`), or Long.MinValue to
    * decline: lowercase `t`/`z`, fractions, offsets, second 60, hour 24,
    * signed years and impossible dates are left to `Instant.parse`. */
  private[graft] def secondsInstantMicros(v: String): Long = {
    def digits(from: Int, to: Int): Int = {
      var n = 0
      var i = from
      while (i < to) {
        val d = v.charAt(i) - '0'
        if (d < 0 || d > 9) return -1
        n = n * 10 + d
        i += 1
      }
      n
    }
    if (v.length != 20 || v.charAt(4) != '-' || v.charAt(7) != '-' || v.charAt(10) != 'T' ||
        v.charAt(13) != ':' || v.charAt(16) != ':' || v.charAt(19) != 'Z') return Long.MinValue
    val y = digits(0, 4)
    val mo = digits(5, 7)
    val d = digits(8, 10)
    val h = digits(11, 13)
    val mi = digits(14, 16)
    val s = digits(17, 19)
    val leap = y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)
    val monthDays =
      if (mo == 2) (if (leap) 29 else 28) else if (mo == 4 || mo == 6 || mo == 9 || mo == 11) 30 else 31
    if (y < 0 || mo < 1 || mo > 12 || d < 1 || d > monthDays || h < 0 || h > 23 ||
        mi < 0 || mi > 59 || s < 0 || s > 59) return Long.MinValue
    // days from 0000-03-01, counting years from March so the leap day
    // falls last, then shifted to 1970-01-01 (719468 days later)
    val ym = if (mo <= 2) y - 1 else y
    val era = Math.floorDiv(ym, 400)
    val yoe = ym - era * 400
    val doy = (153 * (if (mo > 2) mo - 3 else mo + 9) + 2) / 5 + d - 1
    val days = era * 146097L + yoe * 365 + yoe / 4 - yoe / 100 + doy - 719468
    (days * 86400L + h * 3600 + mi * 60 + s) * 1000000L
  }
}
