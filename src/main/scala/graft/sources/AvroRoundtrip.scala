package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** S3/S4 family closure: an Avro Object-Container-File sink + scan.
  *
  * The container ships avro-core (1.12) but NOT the `spark-avro`
  * module, so `df.write.format("avro")` is unavailable — this is the
  * real row-oriented-binary leg of the sink/source matrix (CSV/JSON
  * text = q62, ORC columnar = q89, XML = S1) built directly on the
  * bundled codec library, the same "real codec, no shim" stance as
  * `multimodal/Codecs.scala`:
  *
  *  - WRITE: one `DataFileWriter` per file (header magic, embedded
  *    writer schema, deflate-compressed blocks, 16-byte sync markers),
  *    committed by `TaskFiles.write`.
  *  - READ: `TaskFiles.read` → `DataFileStream` per container, schema
  *    taken from the FILE (the binary-format contract, like q89's ORC
  *    and unlike q62's schema-on-read text), records decoded through
  *    the real deflate/varint/zigzag path.
  *  - The `segment` field is a ["null","string"] UNION (null exactly
  *    when c_custkey % 7 == 0), so the branch-index encoding is
  *    exercised, not just flat primitives.
  *
  * Money crosses the container as exact integer cents
  * (round(acctbal·100) — the q201/q270 stance), so the aggregate is
  * integer-exact and the single cents→double division happens once,
  * after the sum, identically in both engines.
  *
  * Scale: the writer parallelism is fixed at N_FILES (data-sized, not
  * cluster-sized — q62's small-files note); the read side is one task
  * per container file with only decoded rows shuffling into the
  * aggregate. At 100 TB both sides are embarrassingly parallel and the
  * per-task state is one open container stream.
  */
object AvroRoundtrip {

  private val N_FILES = 4

  /** Writer schema, parsed from JSON inside each task (avro `Schema`
    * is not reliably task-serializable across avro versions). */
  private val SCHEMA_JSON = """{
    "type": "record", "name": "customer_dim", "namespace": "graft",
    "fields": [
      {"name": "c_custkey", "type": "long"},
      {"name": "c_name", "type": "string"},
      {"name": "n_name", "type": "string"},
      {"name": "acct_cents", "type": "long"},
      {"name": "segment", "type": ["null", "string"], "default": null}
    ]}"""

  /** Avro OCF sink: one deflate container per file, written through
    * `TaskFiles.write`. Returns rows written. */
  private[graft] def writeAvro(base: String, payload: DataFrame): Long =
    TaskFiles.write(payload, N_FILES, base, i => s"dim_$i.avro") { (rows, out) =>
      import org.apache.avro.Schema
      import org.apache.avro.file.{CodecFactory, DataFileWriter}
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val schema = new Schema.Parser().parse(SCHEMA_JSON)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
        .setCodec(CodecFactory.deflateCodec(6))
        .create(schema, out)
      rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        rec.put("c_custkey", r.getLong(0))
        rec.put("c_name", r.getString(1))
        rec.put("n_name", r.getString(2))
        rec.put("acct_cents", r.getLong(3))
        rec.put("segment", if (r.isNullAt(4)) null else r.getString(4))
        w.append(rec)
      }
      w.flush()
    }

  /** OCF scan through `TaskFiles.read`: embedded schema, codec asserted
    * from the file header (a reader silently falling back to
    * uncompressed bytes would be a fake decode). */
  private[graft] def readAvro(s: SparkSession, base: String): DataFrame =
    TaskFiles.read(s, base + "/*.avro", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("n_name", StringType), StructField("acct_cents", LongType),
      StructField("segment", StringType)))) { (_, in) =>
      import org.apache.avro.file.DataFileStream
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      import scala.jdk.CollectionConverters._
      val recs = new DataFileStream(in, new GenericDatumReader[GenericRecord]())
      val codec = recs.getMetaString("avro.codec")
      if (codec != "deflate")
        throw new java.io.IOException(s"unexpected avro codec: $codec")
      recs.iterator.asScala.map { rec =>
        def str(f: String): String = Option(rec.get(f)).map(_.toString).orNull
        Row(rec.get("c_custkey").asInstanceOf[Long], str("c_name"),
            str("n_name"), rec.get("acct_cents").asInstanceOf[Long],
            str("segment"))
      }
    }

  /** The dim that crosses the container: customer ⋈ nation with exact
    * integer cents and the %7 null schedule on the union field. */
  private def dim(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("acct_cents"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .otherwise(col("c_mktsegment")).as("segment"))

  /** q308: parquet → executor-written Avro containers → distributed
    * container scan → aggregate, hash-checked against the direct-SQL
    * computation from the same tables. Writing the sink IS the
    * operator (q62 stance), so each invocation uses a fresh scratch
    * dir — no overwrite window for a concurrent reader to cross. */
  def q308AvroRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = TmpWorkspace.fresh("avro_roundtrip").toString
    val written = writeAvro(base, dim(s, d))
    require(written > 0, s"q308: empty avro extract at $base")
    readAvro(s, base)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           count(col("segment")).as("n_with_segment"),
           (sum(col("acct_cents")).cast("double") / 100).as("total_acctbal"),
           min(col("c_name")).as("first_customer"))
      .orderBy(col("n_name"))
  }

  val o308 = """
    SELECT n_name, COUNT(*) AS n_customers,
      COUNT(CASE WHEN c_custkey % 7 <> 0 THEN c_mktsegment END) AS n_with_segment,
      CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_acctbal,
      MIN(c_name) AS first_customer
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q308_avro_roundtrip" -> (q308AvroRoundtrip _))

  val oracles: Map[String, String] = Map(
    "q308_avro_roundtrip" -> o308)
}
