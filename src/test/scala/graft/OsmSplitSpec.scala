package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate}
import java.time.format.DateTimeParseException
import javax.xml.stream.XMLStreamException

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{OsmPartitionReader, OsmScan, OsmXml, TmpWorkspace}

/** Byte-range splits of the osm source: every split of a file yields
  * exactly the rows of the whole-file parse, and the timestamp fast
  * path agrees with `Instant.parse`. */
class OsmSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val hadoopConf = new Configuration()

  /** An OSM-shaped document: self-closing and parent nodes, ways with
    * nd and tag children, relations with members, multibyte and
    * entity-escaped values, a comment, `nl` line ends and `ind` indent. */
  private def osmDoc(seed: Int, nl: String, ind: String): String = {
    val rnd = new scala.util.Random(seed)
    val values = Seq("Straße", "東京", "a &amp; b", "&lt;node x&gt;", "plain", "café ü", "")
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def ts = pick(Seq("2019-03-04T05:06:07Z", "2012-02-29T23:59:59Z", "2019-03-04T05:06:07.891Z",
      "not-a-time", "2001-10-10t10:10:10z"))
    def attrs(id: Int) = s"""${pick(Seq(" ", "\t", nl))}id="$id" user="${pick(values)}" uid="${id % 7}"""" +
      s""" version="${1 + id % 3}" changeset="${id * 11}" timestamp="$ts""""
    def tags = (0 until rnd.nextInt(3)).map(i =>
      s"""$ind$ind<tag k="k$i" v="${pick(values)}"/>$nl""").mkString
    val elements = (1 to 30).map { id =>
      rnd.nextInt(7) match {
        case 0 => s"""$ind<node${attrs(id)} lat="1.5" lon="-2.25"/>$nl"""
        case 1 | 2 => s"""$ind<node${attrs(id)} lat="${id % 90}" lon="3">$nl$tags$ind</node>$nl"""
        case 3 => s"""$ind<way${attrs(id)}/>$nl"""
        case 4 | 5 =>
          val nds = (0 to rnd.nextInt(4)).map(i => s"""$ind$ind<nd ref="${id * 10 + i}"/>$nl""").mkString
          s"""$ind<way${attrs(id)}>$nl$nds$tags$ind</way>$nl"""
        case _ =>
          val members = (0 until rnd.nextInt(3)).map(i =>
            s"""$ind$ind<member type="${pick(Seq("node", "way"))}" ref="$i" role="${pick(values)}"/>$nl""").mkString
          s"""$ind<relation${attrs(id)}>$nl$members$tags$ind</relation>$nl"""
      }
    }
    s"""<?xml version="1.0" encoding="UTF-8"?>$nl<osm version="0.6" generator="spec">$nl""" +
      s"""$ind<bounds minlat="0" minlon="0" maxlat="1" maxlon="1"/>$nl""" +
      elements.take(12).mkString + s"$ind<!-- a comment -->$nl" + elements.drop(12).mkString +
      s"</osm>$nl"
  }

  private lazy val docs: Seq[Path] = {
    val dir = TmpWorkspace.fresh("osm_split_docs")
    Seq((1, "\n", "  "), (2, "\r\n", "\t"), (3, "\n", "\t ")).map { case (seed, nl, ind) =>
      val f = dir.resolve(s"doc$seed.osm")
      Files.write(f, osmDoc(seed, nl, ind).getBytes(UTF_8))
      f
    }
  }

  private def toRows(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                     required: StructType): Seq[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(required)
    it.map(r => conv(r).asInstanceOf[Row]).toList
  }

  private def wholeFile(f: Path, required: StructType = OsmXml.schema,
                        types: Option[Set[String]] = None): Seq[Row] =
    toRows(OsmXml.parse(Files.newInputStream(f), required, types), required)

  /** Every range of `f` at `splitBytes`, read in order by the source's reader. */
  private def split(f: Path, splitBytes: Long, required: StructType = OsmXml.schema,
                    types: Option[Set[String]] = None): Seq[Row] =
    OsmScan.ranges(f.toUri.toString, Files.size(f), splitBytes).flatMap { r =>
      val reader = new OsmPartitionReader(r, required, types, None, false, hadoopConf)
      try toRows(Iterator.continually(reader).takeWhile(_.next()).map(_.get()), required)
      finally reader.close()
    }

  test("ranges: equal, contiguous and covering; a file that fits is one range") {
    for (len <- Seq(1L, 7L, 100L, 1001L); split <- Seq(1L, 3L, 10L, 99L, 100L, 5000L)) {
      val rs = OsmScan.ranges("f", len, split)
      assert(rs.size == (if (len <= split) 1 else (len + split - 1) / split), s"$len $split")
      assert(rs.head.start == 0 && rs.map(_.length).sum == len)
      assert(rs.sliding(2).forall(p => p.size < 2 || p(0).start + p(0).length == p(1).start))
      assert(rs.map(_.length).max - rs.map(_.length).min <= 1)
    }
    // the maxSplitBytes rule for 30 MB on 4 cores: (30 MB + 4 MB open cost) / 4
    val len = 30L * 1000 * 1000
    assert(OsmScan.ranges("f", len, (len + (4L << 20)) / 4).size == 4)
  }

  test("re-sync finds the first node/way/relation start tag at or after every offset") {
    val bytes = ("<osm><nodes/><nd ref=\"1\"/><node\tid=\"1\"/><!-- x --><way/>" +
      "<relations/><relation>\r\n</relation><node\nid=\"2\"></node><way>" +
      "</way></osm><node").getBytes(UTF_8)
    val f = TmpWorkspace.fresh("osm_split_sync").resolve("a.osm")
    Files.write(f, bytes)
    val text = new String(bytes, UTF_8)
    val tag = "<(node|way|relation)[ \t\r\n/>]".r
    val p = new org.apache.hadoop.fs.Path(f.toUri)
    val in = p.getFileSystem(hadoopConf).open(p)
    try for (from <- 0 to bytes.length) {
      val want = tag.findFirstMatchIn(text.substring(from)).map(_.start + from.toLong).getOrElse(-1L)
      assert(OsmScan.nextElement(in, from) == want, s"from $from")
    } finally in.close()
  }

  test("every split size gives the whole-file rows, in order") {
    for (f <- docs) {
      val whole = wholeFile(f)
      assert(whole.size == 30)
      val len = Files.size(f)
      for (s <- 1L to len + 1) assert(split(f, s) == whole, s"${f.getFileName} split $s")
    }
  }

  test("split rows equal the whole-file rows for every pruned column and pushed type") {
    val names = OsmXml.schema.fieldNames
    val sizes = Seq(1L, 2L, 7L, 13L, 64L, 100L, 257L, 511L, 1000L, 1999L)
    for (f <- docs; s <- sizes) {
      for (c <- names) {
        val req = StructType(Seq(OsmXml.schema(c)))
        assert(split(f, s, req) == wholeFile(f, req), s"${f.getFileName} $s $c")
      }
      for (t <- Seq(Set("node"), Set("way"), Set("relation"), Set("node", "relation"))) {
        assert(split(f, s, types = Some(t)) == wholeFile(f, types = Some(t)), s"$s $t")
      }
      // every column pruned, as under count()
      assert(split(f, s, StructType(Nil)).size == 30)
    }
  }

  test("a truncated tail fails the split read under failfast, whatever the split") {
    val f = docs.head
    val bytes = Files.readAllBytes(f)
    val dir = TmpWorkspace.fresh("osm_split_cut")
    // cut inside an element's tag, between elements, inside </osm>, and to nothing
    for (cut <- Seq(bytes.length / 2, bytes.length - 40, bytes.length - 12, bytes.length - 3, 0)) {
      val g = dir.resolve(s"cut$cut.osm")
      Files.write(g, bytes.take(cut))
      intercept[XMLStreamException](wholeFile(g))
      for (s <- Seq(1L, 5L, 50L, 300L, cut.toLong)) {
        intercept[XMLStreamException](split(g, s))
      }
    }
  }

  test("format(osm) splits a large file: rows, count, limit and statistics unchanged") {
    val dir = TmpWorkspace.fresh("osm_split_scan")
    val cutDir = TmpWorkspace.fresh("osm_split_scan_cut")
    docs.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val first = Files.readAllBytes(docs.head)
    Files.write(cutDir.resolve("a.osm"), first.take(first.length / 2))
    def read(mode: String, d: Path) =
      spark.read.format("osm").option("mode", mode).load(d.toString)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toString).sorted
    // the whole-file reads, at the default split size
    val full = read("failfast", dir)
    assert(full.rdd.getNumPartitions == docs.size)
    val want = rows(full)
    val wantCols = OsmXml.schema.fieldNames.map(c => c -> rows(full.select(c))).toMap
    val wantNodes = rows(full.filter(col("type") === "node"))
    val salvaged = rows(read("permissive", cutDir))
    val bytes = docs.map(Files.size).sum

    val conf = Seq("spark.sql.files.maxPartitionBytes" -> "300",
      "spark.sql.files.openCostInBytes" -> "0")
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = read("failfast", dir)
      assert(df.rdd.getNumPartitions >= bytes / 300)
      assert(rows(df) == want)
      OsmXml.schema.fieldNames.foreach(c => assert(rows(df.select(c)) == wantCols(c), c))
      assert(rows(df.filter(col("type") === "node")) == wantNodes)
      assert(df.count() == 90L)
      assert(df.limit(7).collect().length == 7 && df.limit(1000).collect().length == 90)
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
      // failfast still fails on a truncated tail; permissive is one range per file
      intercept[org.apache.spark.SparkException](read("failfast", cutDir).collect())
      val pm = read("permissive", cutDir)
      assert(pm.rdd.getNumPartitions == 1)
      assert(rows(pm) == salvaged && pm.count() == salvaged.size.toLong)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Today's route: `Instant.parse`, then exact µs arithmetic. */
  private def viaInstant(v: String): Any =
    try {
      val t = Instant.parse(v)
      Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L)
    } catch { case _: DateTimeParseException | _: ArithmeticException => null }

  test("timestamp fast path equals Instant.parse for every day 1600-2400") {
    var day = LocalDate.of(1600, 1, 1)
    val last = LocalDate.of(2400, 12, 31)
    while (!day.isAfter(last)) {
      for (time <- Seq("00:00:00", "07:05:09", "12:34:56", "23:59:59")) {
        val v = s"${day}T${time}Z"
        val fast = OsmXml.secondsInstantMicros(v)
        assert(fast != Long.MinValue && fast == viaInstant(v), v)
      }
      day = day.plusDays(1)
    }
  }

  test("timestamp fast path declines or agrees on every mutated string") {
    val bases = Seq("2020-02-29T23:59:59Z", "1970-01-01T00:00:00Z", "1900-12-31T12:30:45Z",
      "0000-03-01T00:00:00Z", "9999-12-31T23:59:59Z")
    val alphabet = "0123456789-:TtZz+. a".toSeq
    val mutants = bases.flatMap { b =>
      b.indices.flatMap { i =>
        alphabet.map(c => b.updated(i, c)) :+ (b.take(i) + b.drop(i + 1)) :+ (b.take(i) + "0" + b.drop(i))
      }
    } ++ Seq("2020-01-01t00:00:00z", "2020-01-01T00:00:00.5Z", "2020-01-01T00:00:00+01:00",
      "2016-12-31T23:59:60Z", "2020-01-01T24:00:00Z", "+2020-01-01T00:00:00Z", "-0001-01-01T00:00:00Z",
      "12020-01-01T00:00:00Z", "2021-02-29T00:00:00Z", "2020-02-30T00:00:00Z", "1900-02-29T00:00:00Z",
      "2020-04-31T00:00:00Z", "2020-13-01T00:00:00Z", "2020-00-01T00:00:00Z", "2020-01-00T00:00:00Z")
    for (v <- mutants) {
      val fast = OsmXml.secondsInstantMicros(v)
      assert(fast == Long.MinValue || fast == viaInstant(v), v)
      assert(OsmXml.timestampMicros(v) == viaInstant(v), v)
    }
    assert(OsmXml.secondsInstantMicros("2020-02-30T00:00:00Z") == Long.MinValue)
    assert(OsmXml.secondsInstantMicros("2020-01-01t00:00:00Z") == Long.MinValue)
    assert(OsmXml.timestampMicros("2020-01-01t00:00:00z") == 1577836800000000L)
  }
}
