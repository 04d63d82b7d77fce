package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.OsmShape

/** S1 at BENCH scale: the full OSM pipeline end-to-end over a
  * data-sized extract, under the hash gate.
  *
  * q81 proves the XML scan on a hand-written two-file fixture; this
  * module proves the whole pipeline at the same scale as every other
  * bench query: the EVENTS table is serialized as a multi-file `.osm`
  * extract (one well-formed document per partition — the per-region
  * extract layout real OSM dumps ship in), scanned back through the
  * DSv2 `format("osm")` source, shaped with `OsmShape.shapeNodes`/
  * `shapeTags` (the reference's E2 ETL), and audited with an
  * aggregate whose expected value DuckDB computes DIRECTLY from the
  * same events parquet — so a row lost, mangled, or duplicated by the
  * serializer, the StAX parser, the row model, or the shaper breaks
  * the cross-engine hash.
  *
  * Determinism: file CONTENT depends on partitioning, but the parsed
  * row SET does not, and the audit is an aggregate over that set.
  * Every audited column round-trips exactly: ids/uids are integers,
  * timestamps are serialized at whole-second precision (floor — same
  * as the oracle's epoch_ns div 1e9), and value rides as the repo's
  * exact DECIMAL(12,2) string (the dsum discipline). lat/lon exist to
  * satisfy node validation, not the audit.
  *
  * Scale shape: serialization is one row-local projection + an
  * O(#partitions) file fan-out (`TaskFiles.write`: executor-side
  * streaming writes, never a driver collect); the scan is one task per
  * byte range (OsmScan's partitioning: these extract files are below
  * Spark's split size, so one range each); the audit is one
  * map-side-combined aggregate. At 100 TB the extract count scales
  * with partitions, a file above the split size is cut into ranges,
  * and each range streams through constant StAX memory.
  */
object OsmE2e {

  val N_FILES = 8

  /** XML attribute-value guard: the generator writes attribute values
    * UNESCAPED, which is only correct while the vocabulary is
    * XML-clean — enforced, not assumed (raise_error on violation). */
  private def xmlClean(c: Column): Column =
    when(c.rlike("""[&<>"']"""), raise_error(
      concat(lit("osm-e2e: value needs XML escaping: "), c)).cast("string"))
      .otherwise(c)

  /** Writes `payload`'s one string column as `nFiles` `.osm` documents
    * through `TaskFiles.write`. Returns the total row count written. */
  private def writeExtract(base: String, prefix: String, payload: DataFrame,
                           nFiles: Int): Long =
    TaskFiles.write(payload, nFiles, base, i => s"${prefix}_$i.osm") { (rows, out) =>
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write("<osm version=\"0.6\" generator=\"graft-e2e\">\n")
      rows.foreach(r => w.write(r.getString(0)))
      w.write("</osm>\n")
      w.flush()
    }

  /** One-time per (process, sfDir): serialize events as an N_FILES
    * `.osm` extract. */
  def ensureExtract(s: SparkSession, d: String): String = {
    val base = TmpWorkspace.dir("osm_e2e", d)
    TmpWorkspace.once(base) {
      val ev = graft.Tables.events(s, d)
      val node = concat(
        lit("  <node id=\""), col("event_id"),
        lit("\" lat=\""),
        expr("cast(cast((user_id % 1800) - 900 as double) / 10 as string)"),
        lit("\" lon=\""),
        expr("cast(cast((event_id % 3600) - 1800 as double) / 10 as string)"),
        lit("\" user=\"u"), col("user_id"),
        lit("\" uid=\""), col("user_id"),
        lit("\" version=\"1\" changeset=\""), col("event_id") % 1000,
        lit("\" timestamp=\""),
        date_format(col("ts_us"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit("\">\n    <tag k=\"type\" v=\""), xmlClean(col("event_type")),
        lit("\"/>\n    <tag k=\"value\" v=\""),
        graft.Tables.dec2(col("value")).cast("string"),
        lit("\"/>\n  </node>\n"))
      val written = writeExtract(base, "extract", ev.select(node.as("x")), N_FILES)
      require(written > 0, s"q305: empty extract at $base")
    }
    base
  }

  /** q305: parquet → XML serializer → DSv2 scan → shape → audit,
    * hash-checked against the direct-SQL computation of the same
    * aggregate from the same events table. */
  def q305OsmE2e(s: SparkSession, d: String): DataFrame = {
    val dir = ensureExtract(s, d)
    val e = s.read.format("osm").load(dir)
    val nodes = OsmShape.shapeNodes(e)
    val tags = OsmShape.shapeTags(e, "node")
    val ty = tags.filter(col("key") === "type" && col("type") === "regular")
      .select(col("id"), col("value").as("event_type"))
    val vc = tags.filter(col("key") === "value" && col("type") === "regular")
      .select(col("id"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)).as("v"))
    nodes.select(col("id"), col("uid"),
        unix_timestamp(col("timestamp")).as("ts_s"))
      .join(ty, Seq("id"))
      .join(vc, Seq("id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_nodes"),
           countDistinct(col("uid")).as("n_users"),
           min(col("ts_s")).as("min_ts_s"),
           max(col("ts_s")).as("max_ts_s"),
           sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("event_type"))
  }

  val o305 = """
    SELECT event_type,
      COUNT(*) AS n_nodes,
      COUNT(DISTINCT user_id) AS n_users,
      MIN(epoch_ns(ts) // 1000000000) AS min_ts_s,
      MAX(epoch_ns(ts) // 1000000000) AS max_ts_s,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type"""

  // ---- q306: ORDERED way membership at bench scale (J2 + P-track
  //      shapeWayNodes under the hash gate) ----

  val WAY_FILES = 4

  /** One-time per (process, sfDir): each user's event history becomes a
    * `<way>` whose ordered `<nd>` refs are that user's event_ids sorted
    * by (ts, event_id) — ~1500 ways × ~67 refs at sf0.1. ORDER is the
    * payload here: q305 proves the row SET round-trips; this extract
    * exists to prove SEQUENCE survives serializer → parser → posexplode.
    * The per-way collect_list is user-history-bounded (the q24 grouped-
    * collect shape), never corpus-bounded. */
  def ensureWayExtract(s: SparkSession, d: String): String = {
    val base = TmpWorkspace.dir("osm_e2e_ways", d)
    TmpWorkspace.once(base) {
      val ev = graft.Tables.events(s, d)
      val way = ev
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"))))
          .as("seq"))
        .select(concat(
          lit("  <way id=\""), col("user_id"),
          lit("\" user=\"u"), col("user_id"),
          lit("\" uid=\""), col("user_id"),
          lit("\" version=\"1\" changeset=\"1\""),
          lit(" timestamp=\"2020-01-01T00:00:00Z\">\n"),
          concat_ws("", expr(
            "transform(seq, x -> concat('    <nd ref=\"', x.event_id, '\"/>\n'))")),
          lit("  </way>\n")).as("x"))
      val written = writeExtract(base, "ways", way, WAY_FILES)
      require(written > 0, s"q306: empty way extract at $base")
    }
    base
  }

  /** q306: ordered-membership audit. shapeWayNodes posexplodes the
    * parsed ways into (way id, node_id, position); joining back to the
    * q305 node extract recovers each member's event_type, and the
    * audit aggregates BOTH the membership counts and the POSITION sums
    * — a single swapped pair anywhere in a 67-element sequence moves
    * sum_pos, so the hash certifies order, not just multiplicity.
    * DuckDB replays position as row_number()−1 over the same
    * (ts, event_id) sort. */
  def q306OsmWayOrder(s: SparkSession, d: String): DataFrame = {
    val nodesDir = ensureExtract(s, d)
    val waysDir = ensureWayExtract(s, d)
    val wn = OsmShape.shapeWayNodes(s.read.format("osm").load(waysDir))
      .select(col("id").as("way_id"), col("node_id"), col("position"))
    val ty = OsmShape.shapeTags(s.read.format("osm").load(nodesDir), "node")
      .filter(col("key") === "type" && col("type") === "regular")
      .select(col("id").as("node_id"), col("value").as("event_type"))
    wn.join(ty, Seq("node_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_members"),
           countDistinct(col("way_id")).as("n_ways"),
           sum(col("position").cast("long")).as("sum_pos"),
           max(col("position").cast("long")).as("max_pos"))
      .orderBy(col("event_type"))
  }

  val o306 = """
    WITH pos AS (
      SELECT event_type, user_id AS way_id,
        row_number() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) - 1 AS position
      FROM events)
    SELECT event_type,
      COUNT(*) AS n_members,
      COUNT(DISTINCT way_id) AS n_ways,
      CAST(SUM(position) AS BIGINT) AS sum_pos,
      CAST(MAX(position) AS BIGINT) AS max_pos
    FROM pos GROUP BY event_type ORDER BY event_type"""

  // ---- q307: TYPED + ORDERED relation membership at bench scale (the
  //      last S1 corner: <relation> parsed and shaped under the hash
  //      gate, like q305 did for nodes and q306 for ways) ----

  val REL_FILES = 4

  /** One-time per (process, sfDir): each user's event history becomes a
    * `<relation>` whose ordered `<member>` children are that user's
    * events sorted by (ts, event_id), each member TYPED (`type="node"`)
    * and ROLED (role = the event_type — XML-clean enforced, same guard
    * as q305), plus one trailing `type="way" role="history"` member
    * referencing the user — so one relation exercises every attribute
    * the member model carries (mtype, ref, role) AND a mixed-type
    * sequence. Per-relation collect_list is user-history-bounded (the
    * q24 grouped-collect shape), never corpus-bounded. */
  def ensureRelationExtract(s: SparkSession, d: String): String = {
    val base = TmpWorkspace.dir("osm_e2e_rels", d)
    TmpWorkspace.once(base) {
      val ev = graft.Tables.events(s, d)
      val rel = ev
        .select(col("user_id"), col("ts"), col("event_id"),
          xmlClean(col("event_type")).as("role"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("role")))).as("seq"))
        .select(concat(
          lit("  <relation id=\""), col("user_id"),
          lit("\" user=\"u"), col("user_id"),
          lit("\" uid=\""), col("user_id"),
          lit("\" version=\"1\" changeset=\"1\""),
          lit(" timestamp=\"2020-01-01T00:00:00Z\">\n"),
          concat_ws("", expr(
            "transform(seq, x -> concat('    <member type=\"node\" ref=\"', " +
              "x.event_id, '\" role=\"', x.role, '\"/>\n'))")),
          lit("    <member type=\"way\" ref=\""), col("user_id"),
          lit("\" role=\"history\"/>\n  </relation>\n")).as("x"))
      val written = writeExtract(base, "rels", rel, REL_FILES)
      require(written > 0, s"q307: empty relation extract at $base")
    }
    base
  }

  /** q307: typed-ordered-membership audit. shapeRelationMembers
    * posexplodes the parsed relations into (id, member_type,
    * member_ref, role, position); the audit groups by (member_type,
    * role) and aggregates membership counts, POSITION sums (order
    * certificate, as in q306), and REF sums (a mangled ref anywhere
    * moves sum_ref even when counts survive). The trailing way member
    * sits at position = that user's event count, so its sum_pos leg
    * re-certifies every sequence's LENGTH independently of the node
    * legs. DuckDB replays position as row_number()−1 over the same
    * (ts, event_id) sort and the way member from the per-user count. */
  def q307OsmRelationOrder(s: SparkSession, d: String): DataFrame = {
    val relsDir = ensureRelationExtract(s, d)
    val rm = OsmShape.shapeRelationMembers(s.read.format("osm").load(relsDir))
    rm.groupBy(col("member_type"), col("role"))
      .agg(count(lit(1)).as("n_members"),
           countDistinct(col("id")).as("n_relations"),
           sum(col("position").cast("long")).as("sum_pos"),
           max(col("position").cast("long")).as("max_pos"),
           sum(col("member_ref")).as("sum_ref"))
      .orderBy(col("member_type"), col("role"))
  }

  val o307 = """
    WITH pos AS (
      SELECT user_id AS rel_id, 'node' AS member_type, event_type AS role,
        event_id AS ref,
        row_number() OVER (PARTITION BY user_id
          ORDER BY ts, event_id) - 1 AS position
      FROM events),
    wm AS (
      SELECT user_id AS rel_id, 'way' AS member_type, 'history' AS role,
        user_id AS ref, COUNT(*) AS position
      FROM events GROUP BY user_id),
    m AS (SELECT * FROM pos UNION ALL SELECT * FROM wm)
    SELECT member_type, role,
      COUNT(*) AS n_members,
      COUNT(DISTINCT rel_id) AS n_relations,
      CAST(SUM(position) AS BIGINT) AS sum_pos,
      CAST(MAX(position) AS BIGINT) AS max_pos,
      CAST(SUM(ref) AS BIGINT) AS sum_ref
    FROM m GROUP BY member_type, role ORDER BY member_type, role"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q305_osm_e2e" -> (q305OsmE2e _),
    "q306_osm_way_order" -> (q306OsmWayOrder _),
    "q307_osm_relation_order" -> (q307OsmRelationOrder _))

  val oracles: Map[String, String] = Map(
    "q305_osm_e2e" -> o305,
    "q306_osm_way_order" -> o306,
    "q307_osm_relation_order" -> o307)
}
