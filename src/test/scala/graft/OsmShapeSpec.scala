package graft

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.OsmShape
import org.apache.spark.sql.functions.col

/** E2 pipeline golden test: raw OSM-like elements → 5 shaped tables
  * (FIXTURES.md §B model), with cleaning + validation fused in. */
class OsmShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("type", StringType), StructField("id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("user", StringType), StructField("uid", LongType),
    StructField("version", StringType), StructField("changeset", LongType),
    StructField("timestamp", TimestampType),
    StructField("tags", ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("v", StringType))))),
    StructField("nds", ArrayType(LongType))))

  private val ts = Timestamp.valueOf("2020-01-01 00:00:00")

  private def elems = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("node", 1L, 39.0, -76.5, "alice", 10L, "1", 100L, ts,
        Seq(Row("addr:street", "Main St"), Row("amenity", "cafe"),
            Row("name with space", "bad")), null),
      Row("node", 2L, 95.0, -76.5, "bob", 11L, "1", 101L, ts,
        Seq(), null), // invalid: lat out of range
      Row("way", 7L, null, null, "carol", 12L, "2", 102L, ts,
        Seq(Row("highway", "residential")), Seq(1L, 3L, 2L)))), schema)

  private val mapping = Map("St" -> "Street", "Ave" -> "Avenue")

  test("shapes 5 tables with validation and cleaning fused") {
    val out = OsmShape.shapeAll(elems, mapping)

    val nodes = out("nodes").collect()
    assert(nodes.map(_.getLong(0)).toSeq == Seq(1L)) // node 2 invalid

    val nt = out("nodes_tags").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    // problem-char key dropped; addr:street split + canonicalized
    assert(nt == Set(("street", "Main Street", "addr"), ("amenity", "cafe", "regular")))

    assert(out("ways").collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(out("ways_tags").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet ==
      Set(("highway", "residential", "regular")))

    val wn = out("ways_nodes").collect()
      .map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2)
    assert(wn.toSeq == Seq((1L, 0), (3L, 1), (2L, 2))) // <nd> order preserved

    assert(OsmShape.corrupt(elems).collect().map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("OsmXml round-trips fixture XML → elements → 5 shaped tables") {
    val xml = """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="fixture">
      |  <bounds minlat="38.9" minlon="-77.1" maxlat="39.1" maxlon="-76.4"/>
      |  <node id="1" lat="39.0" lon="-76.5" user="alice" uid="10"
      |        version="1" changeset="100" timestamp="2020-01-01T00:00:00Z">
      |    <tag k="addr:street" v="Main St"/>
      |    <tag k="amenity" v="cafe"/>
      |    <tag k="name with space" v="bad"/>
      |  </node>
      |  <node id="2" lat="95.0" lon="-76.5" user="bob" uid="11"
      |        version="1" changeset="101" timestamp="2020-01-01T00:00:00Z"/>
      |  <node id="3" lat="oops" lon="-76.6" user="eve" uid="13"
      |        version="1" changeset="103" timestamp="2020-01-01T00:00:00Z"/>
      |  <way id="7" user="carol" uid="12" version="2" changeset="102"
      |       timestamp="2020-01-01T00:00:00Z">
      |    <nd ref="1"/><nd ref="3"/><nd ref="2"/>
      |    <tag k="highway" v="residential"/>
      |  </way>
      |  <relation id="9" user="dan" uid="14" version="1" changeset="104"
      |            timestamp="2020-01-01T00:00:00Z">
      |    <member type="way" ref="7" role="outer"/>
      |    <tag k="type" v="multipolygon"/>
      |    <tag k="addr:street" v="Main St"/>
      |  </relation>
      |</osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm")
    val f = dir.resolve("fixture.osm")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))

    val elems = spark.read.format("osm").load(f.toString)
    assert(elems.schema == graft.sources.OsmXml.schema)
    // 3 nodes + 1 way + 1 relation, all 12 columns in document order;
    // node 3's bad lat parses to NULL (validated later), lat/lon belong
    // to nodes, nds to ways, members to relations, tags is never null
    val t0 = Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z"))
    assert(elems.collect().toSeq == Seq(
      Row("node", 1L, 39.0, -76.5, "alice", 10L, "1", 100L, t0,
        Seq(Row("addr:street", "Main St"), Row("amenity", "cafe"),
          Row("name with space", "bad")), null, null),
      Row("node", 2L, 95.0, -76.5, "bob", 11L, "1", 101L, t0, Seq(), null, null),
      Row("node", 3L, null, -76.6, "eve", 13L, "1", 103L, t0, Seq(), null, null),
      Row("way", 7L, null, null, "carol", 12L, "2", 102L, t0,
        Seq(Row("highway", "residential")), Seq(1L, 3L, 2L), null),
      Row("relation", 9L, null, null, "dan", 14L, "1", 104L, t0,
        Seq(Row("type", "multipolygon"), Row("addr:street", "Main St")), null,
        Seq(Row("way", 7L, "outer")))))
    assert(elems.count() == 5)
    // relation round-trips with ordered members (type, ref, role)
    val rel = elems.filter(col("type") === "relation").collect()
    assert(rel.length == 1 && rel.head.getLong(1) == 9L)
    assert(rel.head.getAs[scala.collection.Seq[Row]]("members")
      .map(m => (m.getString(0), m.getLong(1), m.getString(2))).toSeq ==
      Seq(("way", 7L, "outer")))

    val out = OsmShape.shapeAll(elems, mapping)
    assert(out("nodes").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val nt = out("nodes_tags").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(nt == Set(("street", "Main Street", "addr"), ("amenity", "cafe", "regular")))
    assert(out("ways").collect().map(_.getLong(0)).toSeq == Seq(7L))
    val wn = out("ways_nodes").collect()
      .map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2)
    assert(wn.toSeq == Seq((1L, 0), (3L, 1), (2L, 2)))
    // relation tags flow through the SAME shapeTags rules (P4 colon
    // split, P7 street canonicalization) as node/way tags
    val rt = OsmShape.shapeTags(elems, "relation", mapping).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rt == Set(("type", "multipolygon", "regular"),
      ("street", "Main Street", "addr")))
    // and relation members shape to typed ordered rows
    val rm = OsmShape.shapeRelationMembers(elems).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getInt(4))).toSeq
    assert(rm == Seq((9L, "way", 7L, "outer", 0)))
    // corrupt side: node 2 (lat out of range) and node 3 (unparseable lat)
    assert(OsmShape.corrupt(elems).collect().map(_.getLong(1)).toSet == Set(2L, 3L))
  }

  test("DataSourceV2: format(\"osm\") reads the fixture with column pruning") {
    val xml = """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6">
      |  <node id="1" lat="39.0" lon="-76.5" user="alice" uid="10"
      |        version="1" changeset="100" timestamp="2020-01-01T00:00:00Z">
      |    <tag k="amenity" v="cafe"/>
      |  </node>
      |  <way id="7" user="carol" uid="12" version="2" changeset="102"
      |       timestamp="2020-01-02T03:04:05Z">
      |    <nd ref="1"/><nd ref="2"/>
      |  </way>
      |</osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_v2")
    java.nio.file.Files.write(dir.resolve("a.osm"), xml.getBytes("UTF-8"))

    val df = spark.read.format("osm").load(dir.toString)
    assert(df.schema == graft.sources.OsmXml.schema)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "node" && rows(0).getLong(1) == 1L)
    assert(rows(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("tags")
      .map(t => (t.getString(0), t.getString(1))).toSeq == Seq(("amenity", "cafe")))
    assert(rows(1).getString(0) == "way" &&
      rows(1).getAs[scala.collection.Seq[Long]]("nds").toSeq == Seq(1L, 2L))
    assert(rows(1).getAs[java.sql.Timestamp]("timestamp") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2020-01-02T03:04:05Z")))

    // column pruning reaches the source: ReadSchema carries only the
    // selected columns
    val pruned = df.select("id", "uid")
    val scan = pruned.queryExecution.executedPlan.toString
    assert("BatchScan[^\\n]*\\[id#\\d+L, uid#\\d+L\\]".r.findFirstIn(scan).isDefined,
      s"pruning not pushed:\n$scan")
    assert(pruned.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (7L, 12L)))

    // every column of both elements
    def at(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    assert(df.orderBy("id").collect().toSeq == Seq(
      Row("node", 1L, 39.0, -76.5, "alice", 10L, "1", 100L,
        at("2020-01-01T00:00:00Z"), Seq(Row("amenity", "cafe")), null, null),
      Row("way", 7L, null, null, "carol", 12L, "2", 102L,
        at("2020-01-02T03:04:05Z"), Seq(), Seq(1L, 2L), null)))

    // type filter is absorbed by the source (no residual Filter node):
    // the parser skips non-matching elements before building rows
    val nodesOnly = df.filter(col("type") === "node")
    assert(nodesOnly.collect().map(_.getLong(1)).toSeq == Seq(1L))
    val nPlan = nodesOnly.queryExecution.executedPlan.toString
    // no Filter OPERATOR may remain ("RuntimeFilters: []" in the scan
    // line is unrelated)
    assert("(\\)|-) Filter ".r.findFirstIn(nPlan).isEmpty,
      s"type filter not absorbed:\n$nPlan")
  }

  test("DataSourceV2: nested schema pruning on tags/members element structs") {
    // Catalyst's nestedSchemaPruning can hand the source a tags/members
    // ELEMENT struct with a SUBSET (or reorder) of its fields; the
    // reader must emit exactly that shape. Regression for the q307 bug:
    // the reader always emitted the full 3-field member struct, so a
    // pruned read of `ref` (LongType) landed on mtype's UTF8String and
    // codegen threw ClassCastException.
    import org.apache.spark.sql.functions.{explode, posexplode, sum}
    val xml = """<?xml version="1.0"?>
      |<osm>
      |  <node id="1" lat="1" lon="2" uid="10" timestamp="2020-01-01T00:00:00Z">
      |    <tag k="amenity" v="cafe"/><tag k="name" v="x"/>
      |  </node>
      |  <relation id="9" uid="10" timestamp="2020-01-01T00:00:00Z">
      |    <member type="node" ref="1" role="stop"/>
      |    <member type="way" ref="7" role="path"/>
      |  </relation>
      |</osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_nested_prune")
    java.nio.file.Files.write(dir.resolve("a.osm"), xml.getBytes("UTF-8"))
    def df = spark.read.format("osm").load(dir.toString)

    // members pruned to the single LONG field (the crash shape): a bare
    // aggregate over exploded refs only needs m.ref
    val refSum = df.filter(col("type") === "relation")
      .select(explode(col("members")).as("m"))
      .agg(sum(col("m.ref"))).collect().head.getLong(0)
    assert(refSum == 8L)
    // members pruned to a reordered (role, ref) subset
    val roleRef = df.filter(col("type") === "relation")
      .select(explode(col("members")).as("m"))
      .select(col("m.role"), col("m.ref")).orderBy(col("m.ref")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(roleRef == Seq(("stop", 1L), ("path", 7L)))
    // tags pruned to v only
    val vs = df.filter(col("type") === "node")
      .select(explode(col("tags")).as("t"))
      .select(col("t.v")).orderBy(col("t.v")).collect()
      .map(_.getString(0)).toSeq
    assert(vs == Seq("cafe", "x"))
    // bare count over posexplode(members) — the q307 count() path
    assert(df.filter(col("type") === "relation")
      .select(posexplode(col("members"))).count() == 2L)
  }

  test("DataSourceV2: every pruned column equals the full read's column") {
    // the scanner reads only the required attributes and children; each
    // single-column read (unfiltered, per pushed type, and permissive on
    // a truncated copy) must equal that column of the unpruned read
    val xml = """<?xml version="1.0"?>
      |<osm>
      |  <bounds minlat="0" minlon="0" maxlat="1" maxlon="1"/>
      |  <node id="1" lat="oops" lon="2.5" user="a" uid="10" version="1"
      |        changeset="5" timestamp="2020-01-01T00:00:00Z">
      |    <tag k="amenity" v="cafe"/><note text="unknown child"/><tag k="only-k"/>
      |  </node>
      |  <node id="2"/>
      |  <way id="7" user="b" uid="x" timestamp="not-a-time">
      |    <nd ref="1"/><nd ref="bad"/><nd ref="2"/>
      |    <node id="99" lat="1" lon="1"/>
      |    <tag k="highway" v="path"/>
      |  </way>
      |  <relation id="9" version="3" changeset="6"
      |            timestamp="1969-12-31T23:59:59.500123Z">
      |    <member type="way" ref="7" role="outer"/>
      |    <member type="node" ref="x" role="via"/>
      |    <tag k="type" v="route"/>
      |  </relation>
      |  <node id="3" lat="1" lon="1" uid="11"><tag k="a" v="b"/></node>
      |</osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_prune_eq")
    val full = dir.resolve("full"); val cut = dir.resolve("cut")
    java.nio.file.Files.createDirectories(full)
    java.nio.file.Files.createDirectories(cut)
    java.nio.file.Files.write(full.resolve("a.osm"), xml.getBytes("UTF-8"))
    // truncated inside node 3's tag: nodes 1/2, way 7 and relation 9 survive
    java.nio.file.Files.write(cut.resolve("a.osm"),
      xml.substring(0, xml.indexOf("<tag k=\"a\"") + 8).getBytes("UTF-8"))
    val names = graft.sources.OsmXml.schema.fieldNames

    def check(path: java.nio.file.Path, mode: String, ids: Seq[Long]): Unit = {
      def df = spark.read.format("osm").option("mode", mode).load(path.toString)
      val rows = df.collect().toSeq
      assert(rows.map(_.getLong(1)) == ids) // the nested node 99 is never emitted
      assert(df.count() == ids.length)
      for (t <- Seq(None, Some("node"), Some("way"), Some("relation"));
           (c, i) <- names.zipWithIndex) {
        val filtered = t.fold(df)(v => df.filter(col("type") === v))
        val want = rows.filter(r => t.forall(_ == r.getString(0))).map(_.get(i))
        assert(filtered.select(c).collect().toSeq.map(_.get(0)) == want, s"$c $t $mode")
      }
    }
    check(full, "failfast", Seq(1L, 2L, 7L, 9L, 3L))
    check(cut, "permissive", Seq(1L, 2L, 7L, 9L))

    val byId = spark.read.format("osm").load(full.toString).collect()
      .map(r => r.getLong(1) -> r).toMap
    // bad lat → NULL; missing attributes → NULL; unknown child ignored
    assert(byId(1L).isNullAt(2) && byId(1L).getDouble(3) == 2.5)
    assert(byId(1L).getSeq[Row](9) == Seq(Row("amenity", "cafe"), Row("only-k", null)))
    assert((4 to 8).forall(byId(2L).isNullAt) && byId(2L).getSeq[Row](9).isEmpty)
    // bad uid and timestamp → NULL; a bad <nd ref> is a NULL element
    assert(byId(7L).isNullAt(5) && byId(7L).isNullAt(8))
    assert(byId(7L).getSeq[Any](10) == Seq(1L, null, 2L))
    assert(byId(9L).getSeq[Row](11) == Seq(Row("way", 7L, "outer"), Row("node", null, "via")))
  }

  test("osm timestamps: µs exact before the epoch, out-of-range instants read as NULL") {
    val xml = """<?xml version="1.0"?>
      |<osm>
      |  <node id="1" lat="1" lon="1" uid="1" timestamp="2020-01-01T00:00:00Z"/>
      |  <node id="2" lat="1" lon="1" uid="1" timestamp="+300000-01-01T00:00:00Z"/>
      |  <node id="3" lat="1" lon="1" uid="1" timestamp="+1000000000-01-01T00:00:00Z"/>
      |  <node id="4" lat="1" lon="1" uid="1" timestamp="1969-12-31T23:59:59.500123Z"/>
      |</osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_ts")
    java.nio.file.Files.write(dir.resolve("a.osm"), xml.getBytes("UTF-8"))
    val e = spark.read.format("osm").load(dir.toString)
    val us = e.select(col("id"), org.apache.spark.sql.functions.expr("unix_micros(timestamp)"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(us.toSeq == Seq(1L -> Some(1577836800000000L), 2L -> None, 3L -> None,
      4L -> Some(-499877L)))
    // µs overflow no longer wraps into a valid-looking node
    assert(OsmShape.shapeNodes(e).collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(OsmShape.corrupt(e).collect().map(_.getLong(1)).toSeq == Seq(2L, 3L))
  }

  test("DataSourceV2: counts, statistics and limits on the fully pruned scanner") {
    // two files → partial counts per file must sum correctly
    val xml1 = """<?xml version="1.0"?>
      |<osm><node id="1" lat="1" lon="2"/><node id="2" lat="1" lon="2"/>
      |<way id="7"><nd ref="1"/></way></osm>""".stripMargin
    val xml2 = """<?xml version="1.0"?>
      |<osm><node id="3" lat="1" lon="2"/>
      |<relation id="9"><member type="node" ref="3" role=""/></relation></osm>""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_agg")
    java.nio.file.Files.write(dir.resolve("a.osm"), xml1.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.osm"), xml2.getBytes("UTF-8"))
    val df = spark.read.format("osm").load(dir.toString)

    // grouped: partial counts of both file partitions sum correctly
    val grouped = df.groupBy("type").count()
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("node" -> 3L, "way" -> 1L, "relation" -> 1L))

    // ungrouped count
    val total = df.count()
    assert(total == 5L)

    // pushed type filter composes with the count
    val nodes = df.filter(col("type") === "node").groupBy("type").count()
    assert(nodes.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("node" -> 3L))

    // a non-count aggregate over the same scan
    val sums = df.groupBy("type").agg(org.apache.spark.sql.functions.sum("id"))
    assert(sums.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("node" -> 6L, "way" -> 7L, "relation" -> 9L))

    // reported statistics: Catalyst's size estimate equals the actual
    // file bytes (not the conservative unknown default), so a small
    // extract can qualify as a broadcast side
    val bytes = Seq("a.osm", "b.osm")
      .map(n => java.nio.file.Files.size(dir.resolve(n))).sum
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))

    // pushed limit still returns exact results under the global limit
    assert(df.limit(2).collect().length == 2)
    assert(df.limit(100).collect().length == 5)
  }

  test("q81 raw tag census matches golden counts (count_tags parity)") {
    val got = graft.sources.OsmCensus
      .q81OsmCountTags(spark, TestSpark.SF)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hand-counted from OsmCensus.fixtureXml: every start-element name,
    // including the structure the row model doesn't carry (osm, bounds)
    assert(got == Map(
      "osm" -> 2L, "bounds" -> 1L, "node" -> 3L, "way" -> 1L,
      "relation" -> 1L, "tag" -> 4L, "nd" -> 2L, "member" -> 2L))
  }

  test("q305 extract round-trips every event row losslessly") {
    // parquet → XML serializer → DSv2 scan: parsed node set must be the
    // events table exactly (ids, uids, second-floored timestamps), with
    // zero rows routed to the corrupt side by shape validation.
    import org.apache.spark.sql.functions._
    val dir = graft.sources.OsmE2e.ensureExtract(spark, TestSpark.SF)
    val e = spark.read.format("osm").load(dir)
    assert(OsmShape.corrupt(e).count() == 0)
    val parsed = OsmShape.shapeNodes(e)
      .select(col("id"), col("uid"), unix_timestamp(col("timestamp")).as("s"))
    val expected = graft.Tables.events(spark, TestSpark.SF)
      .select(col("event_id").as("id"), col("user_id").as("uid"),
        expr("ts div 1000000000").as("s")) // integer div: ts exceeds 2^53
    assert(parsed.count() == expected.count())
    assert(parsed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(parsed).count() == 0)
    // multi-file layout: one well-formed document per partition
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".osm"))
    assert(files.length == graft.sources.OsmE2e.N_FILES)
  }

  test("q306 way extract preserves exact member ORDER per way") {
    // (way, node, position) triples must equal the row_number order of
    // each user's events — a single transposition anywhere fails
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = graft.sources.OsmE2e.ensureWayExtract(spark, TestSpark.SF)
    val parsed = OsmShape
      .shapeWayNodes(spark.read.format("osm").load(dir))
      .select(col("id"), col("node_id"), col("position").cast("long").as("p"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val expected = graft.Tables.events(spark, TestSpark.SF)
      .select(col("user_id").as("id"), col("event_id").as("node_id"),
        (row_number().over(w) - 1).cast("long").as("p"))
    assert(parsed.count() == expected.count())
    assert(parsed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(parsed).count() == 0)
  }

  test("q307 relation extract preserves TYPED ordered members with roles") {
    // (relation, member_type, ref, role, position) tuples must equal the
    // row_number order of each user's events with role = event_type,
    // plus the trailing way member at position = that user's event count
    // — a transposition, a swapped role, or a retyped member all fail.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dir = graft.sources.OsmE2e.ensureRelationExtract(spark, TestSpark.SF)
    val parsed = OsmShape
      .shapeRelationMembers(spark.read.format("osm").load(dir))
      .select(col("id"), col("member_type"), col("member_ref"),
        col("role"), col("position").cast("long").as("p"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = graft.Tables.events(spark, TestSpark.SF)
    val nodeLeg = ev.select(col("user_id").as("id"),
      lit("node").as("member_type"), col("event_id").as("member_ref"),
      col("event_type").as("role"),
      (row_number().over(w) - 1).cast("long").as("p"))
    val wayLeg = ev.groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).cast("long").as("p"))
      .select(col("id"), lit("way").as("member_type"),
        col("id").as("member_ref"), lit("history").as("role"), col("p"))
    val expected = nodeLeg.unionByName(wayLeg)
    assert(parsed.count() == expected.count())
    assert(parsed.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(parsed).count() == 0)
  }

  test("street canonicalization leaves unmapped values untouched") {
    val nt = OsmShape.shapeTags(elems, "node", Map("Rd" -> "Road")).collect()
      .map(r => (r.getString(1), r.getString(2))).toMap
    assert(nt("street") == "Main St") // 'St' not in this mapping
  }

  test("osm source modes: failfast throws on truncation, permissive salvages") {
    val good = """<?xml version="1.0"?>
      |<osm><node id="1" lat="1" lon="2"/><node id="2" lat="1" lon="2"/></osm>
      |""".stripMargin
    // truncated mid-way-element: nodes 10/11 are complete, way 12 is
    // cut inside its subtree (in an attribute, no closing tags)
    val corrupt = """<?xml version="1.0"?>
      |<osm><node id="10" lat="1" lon="2"/><node id="11" lat="1" lon="2"/>
      |<way id="12"><nd ref="10"/><nd re""".stripMargin
    val dir = graft.sources.TmpWorkspace.fresh("osm_mode")
    java.nio.file.Files.write(dir.resolve("a.osm"), good.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.osm"), corrupt.getBytes("UTF-8"))

    // default (failfast): the corrupt partition fails the job, whether
    // columns are read or (count) every column is pruned
    val ff = spark.read.format("osm").load(dir.toString)
    intercept[org.apache.spark.SparkException] {
      ff.select("id").collect()
    }
    intercept[org.apache.spark.SparkException] { ff.count() }

    // permissive: every complete element before the corruption point
    // survives; the in-flight way 12 is dropped, and count() agrees
    // because it is the same scan with every column pruned
    val pm = spark.read.format("osm")
      .option("mode", "permissive").load(dir.toString)
    val ids = pm.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 10L, 11L))
    assert(pm.count() == 4L)
    // pushed type filter still composes with permissive parsing
    assert(pm.filter(col("type") === "node").count() == 4L)
    assert(pm.filter(col("type") === "way").count() == 0L)

    // an unknown mode is rejected loudly
    intercept[IllegalArgumentException] {
      spark.read.format("osm").option("mode", "lenient")
        .load(dir.toString).count()
    }
  }
}
