package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A1 in its raw-XML form, under the gate: the reference family's
  * `count_tags` counts EVERY element tag name in the document —
  * `osm`, `bounds`, `relation`, `member`, … — not just the row-model
  * types. q81 runs that census over a deterministic `.osm` fixture
  * (written fresh per run, like q62's sink round-trip) and
  * cross-checks it inline against the structured `format("osm")`
  * source: for every tag name the row model carries (node/way/
  * relation rows; tag/nd/member children as array columns) the two
  * independent passes must agree, enforced with a `raise_error`
  * tripwire. The census itself also covers the names the row model
  * does NOT carry, which is exactly the semantic gap this query
  * closes (a DuckDB oracle cannot read XML → rows-only check +
  * golden counts in OsmShapeSpec).
  */
object OsmCensus {

  /** Two per-region-extract-style files (multi-file, each below the
    * split size: one task per file) + a `_SUCCESS` marker that BOTH
    * readers must ignore (Hadoop hiddenFileFilter convention). */
  private[sources] def fixtureXml: Seq[String] = Seq(
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="graft-fixture">
      |  <bounds minlat="38.9" minlon="-77.1" maxlat="39.1" maxlon="-76.4"/>
      |  <node id="1" lat="39.0" lon="-76.5" user="alice" uid="10"
      |        version="1" changeset="100" timestamp="2020-01-01T00:00:00Z">
      |    <tag k="amenity" v="cafe"/>
      |    <tag k="addr:street" v="Main St"/>
      |  </node>
      |  <node id="2" lat="39.01" lon="-76.51" user="bob" uid="11"
      |        version="1" changeset="101" timestamp="2020-01-01T00:00:01Z"/>
      |  <way id="7" user="carol" uid="12" version="2" changeset="102"
      |       timestamp="2020-01-01T00:00:02Z">
      |    <nd ref="1"/><nd ref="2"/>
      |    <tag k="highway" v="residential"/>
      |  </way>
      |</osm>""".stripMargin,
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm version="0.6" generator="graft-fixture">
      |  <node id="3" lat="39.02" lon="-76.52" user="dan" uid="13"
      |        version="1" changeset="103" timestamp="2020-01-01T00:00:03Z"/>
      |  <relation id="9" user="eve" uid="14" version="1" changeset="104"
      |            timestamp="2020-01-01T00:00:04Z">
      |    <member type="way" ref="7" role="outer"/>
      |    <member type="node" ref="3" role=""/>
      |    <tag k="type" v="multipolygon"/>
      |  </relation>
      |</osm>""".stripMargin)

  private[sources] def writeFixture(d: String): String = {
    // path-keyed, written once per process, shutdown-cleaned — the same
    // lifecycle as q82's partitioned layout (TmpWorkspace)
    val base = TmpWorkspace.dir("osm_census", d)
    TmpWorkspace.once(base) {
      val dir = java.nio.file.Paths.get(base)
      fixtureXml.zipWithIndex.foreach { case (xml, i) =>
        java.nio.file.Files.write(dir.resolve(s"extract_$i.osm"),
          xml.getBytes("UTF-8"))
      }
      java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    }
    base
  }

  def q81OsmCountTags(s: SparkSession, d: String): DataFrame = {
    val dir = writeFixture(d)
    val census = OsmXml.countTags(s, dir)
    // Independent second pass through the structured source: row
    // counts per type + array sizes must reproduce the raw census for
    // every name the row model carries.
    val e = s.read.format("osm").load(dir)
    val byType = e.groupBy(col("type").as("tag"))
      .agg(count(lit(1)).as("derived"))
    val nested = e.agg(
      sum(coalesce(size(col("tags")), lit(0))).as("tag"),
      sum(coalesce(size(col("nds")), lit(0))).as("nd"),
      sum(coalesce(size(col("members")), lit(0))).as("member"))
    val derived = byType.union(
      nested.select(explode(map(
        lit("tag"), col("tag"), lit("nd"), col("nd"),
        lit("member"), col("member"))).as(Seq("tag", "derived")))
        .filter(col("derived") > 0))
    census.join(derived, Seq("tag"), "left")
      .filter(when(col("derived").isNull || col("derived") === col("count"),
                   lit(true))
        .otherwise(raise_error(concat(
          lit("q81: structured source disagrees with raw census for "),
          col("tag"), lit(": "), col("derived"), lit(" vs "), col("count")))))
      .select(col("tag"), col("count"))
      .orderBy(col("tag"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_osm_count_tags" -> (q81OsmCountTags _))

  /** DuckDB cannot read XML, but it doesn't need to: the fixture is
    * STATIC content, so the census has exactly one right answer — a
    * golden-constant oracle pins it (r14, same counts OsmShapeSpec
    * hand-verifies), graduating the gate from rows-only to
    * hash-equality over the whole XML-scan pipeline. The in-query
    * raise_error tripwire independently cross-checks the structured
    * `format("osm")` pass against the raw census either way. */
  val oracles: Map[String, String] = Map(
    "q81_osm_count_tags" -> """
      SELECT tag, CAST(n AS BIGINT) AS "count" FROM (VALUES
        ('bounds', 1), ('member', 2), ('nd', 2), ('node', 3),
        ('osm', 2), ('relation', 1), ('tag', 4), ('way', 1))
        t(tag, n)
      ORDER BY tag""")
}
