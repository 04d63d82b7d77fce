package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** S3/S4 family: a Thrift COMPACT-protocol record sink + scan — the
  * RPC-wire-format leg of the sink/source matrix (text = q62, ORC =
  * q89, Avro row-binary = q308, Arrow columnar IPC = q309). The
  * container ships `libthrift` 0.16 (Spark's hive-thriftserver dep),
  * and the records here are encoded through its real
  * `TCompactProtocol` — zigzag varints, field-id DELTA encoding,
  * BOOL-IN-FIELD-HEADER (compact's signature trick: a bool's value
  * rides in the field-type nibble, zero payload bytes), and
  * MAP headers — with no generated stubs: fields are written/read
  * through the protocol API directly, the same "real codec, no shim"
  * stance as q308/q309.
  *
  * Thrift defines a WIRE format, not a FILE format, so the container
  * framing is ours and documented: 4-byte magic "TCP1", then per
  * record a 0x01 marker followed by one compact-encoded struct, then
  * a 0x00 terminator. A reader hitting EOF before the terminator (a
  * truncated file) or a bad magic fails loudly — never partial rows.
  *
  * The payload exercises the compact encodings specifically: i64
  * (suppkey, cents — zigzagged), string, a BOOL field on the %3
  * schedule, and a map<string,i32> of per-supplier returnflag counts
  * (written in sorted key order for determinism; ABSENT lines = empty
  * map, exercising the zero-size map header). The post-reread
  * aggregate consumes the bool (n_flagged), map totals (n_lines) and
  * one keyed lookup (n_returns) separately, so each encoding breaks
  * the oracle hash independently if mangled.
  *
  * Scale: N_FILES write parallelism (data-sized), one task per
  * container on read, only decoded rows shuffle into the aggregate —
  * the q308/q309 shape. Files are written and scanned through
  * `TaskFiles`.
  */
object ThriftRoundtrip {

  private val N_FILES = 4
  private val MAGIC = "TCP1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Compact-protocol sink: one framed container per file, written
    * through `TaskFiles.write`. Returns rows written. */
  private[graft] def writeThrift(base: String, payload: DataFrame): Long =
    TaskFiles.write(payload, N_FILES, base, i => s"dim_$i.tcp") { (rows, out) =>
      import org.apache.thrift.protocol.{TCompactProtocol, TField, TMap, TStruct, TType}
      import org.apache.thrift.transport.TIOStreamTransport
      val t = new TIOStreamTransport(out)
      val p = new TCompactProtocol(t)
      t.write(MAGIC, 0, MAGIC.length)
      val one = Array[Byte](1)
      rows.foreach { r =>
        t.write(one, 0, 1)
        p.writeStructBegin(new TStruct("supplier_dim"))
        p.writeFieldBegin(new TField("suppkey", TType.I64, 1))
        p.writeI64(r.getLong(0)); p.writeFieldEnd()
        p.writeFieldBegin(new TField("name", TType.STRING, 2))
        p.writeString(r.getString(1)); p.writeFieldEnd()
        // compact encodes the bool VALUE in the field-type nibble
        p.writeFieldBegin(new TField("flagged", TType.BOOL, 3))
        p.writeBool(r.getBoolean(2)); p.writeFieldEnd()
        p.writeFieldBegin(new TField("acct_cents", TType.I64, 4))
        p.writeI64(r.getLong(3)); p.writeFieldEnd()
        p.writeFieldBegin(new TField("nation", TType.STRING, 5))
        p.writeString(r.getString(4)); p.writeFieldEnd()
        val m = r.getMap[String, Int](5)
        p.writeFieldBegin(new TField("flag_counts", TType.MAP, 6))
        p.writeMapBegin(new TMap(TType.STRING, TType.I32, m.size))
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          p.writeString(k); p.writeI32(v)
        }
        p.writeMapEnd(); p.writeFieldEnd()
        p.writeFieldStop(); p.writeStructEnd()
      }
      t.write(Array[Byte](0), 0, 1)
      t.flush()
    }

  /** Framed scan through `TaskFiles.read`: magic + per-record markers +
    * terminator asserted, structs decoded field-by-field through the
    * real compact readers (unknown field ids would be a schema break
    * and fail loudly rather than being skipped). */
  private[graft] def readThrift(s: SparkSession, base: String): DataFrame =
    TaskFiles.read(s, base + "/*.tcp", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("flagged", BooleanType), StructField("acct_cents", LongType),
      StructField("n_name", StringType),
      StructField("flag_counts", MapType(StringType, IntegerType,
        valueContainsNull = false))))) { (name, in) =>
      import org.apache.thrift.protocol.{TCompactProtocol, TType}
      import org.apache.thrift.transport.TIOStreamTransport
      val t = new TIOStreamTransport(in)
      val p = new TCompactProtocol(t)
      val magic = new Array[Byte](4)
      t.readAll(magic, 0, 4)
      if (!java.util.Arrays.equals(magic, MAGIC))
        throw new java.io.IOException(s"bad thrift container magic in $name")
      val buf = Vector.newBuilder[Row]
      val marker = new Array[Byte](1)
      var done = false
      while (!done) {
        t.readAll(marker, 0, 1) // EOF here throws: truncated container
        if (marker(0) == 0) done = true
        else {
          var suppkey = 0L; var sname: String = null; var flagged = false
          var cents = 0L; var nation: String = null
          var m = Map.empty[String, Int]
          p.readStructBegin()
          var stop = false
          while (!stop) {
            val f = p.readFieldBegin()
            if (f.`type` == TType.STOP) stop = true
            else {
              f.id match {
                case 1 => suppkey = p.readI64()
                case 2 => sname = p.readString()
                case 3 => flagged = p.readBool()
                case 4 => cents = p.readI64()
                case 5 => nation = p.readString()
                case 6 =>
                  val mh = p.readMapBegin()
                  var k = 0
                  while (k < mh.size) {
                    m += (p.readString() -> p.readI32()); k += 1
                  }
                  p.readMapEnd()
                case other =>
                  throw new java.io.IOException(
                    s"unexpected thrift field id $other in $name")
              }
              p.readFieldEnd()
            }
          }
          p.readStructEnd()
          buf += Row(suppkey, sname, flagged, cents, nation, m)
        }
      }
      buf.result().iterator
    }

  /** The dim that crosses the wire: supplier ⋈ nation with exact
    * integer cents, the %3 bool schedule, and each supplier's
    * returnflag→count map from lineitem (empty map when no lines). */
  private def dim(s: SparkSession, d: String): DataFrame = {
    val lc = lineitem(s, d)
      .groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(count(lit(1)).cast("int").as("c"))
      .groupBy(col("l_suppkey"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("l_returnflag"), col("c"))))).as("flag_counts"))
    supplier(s, d)
      .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(lc, col("s_suppkey") === col("l_suppkey"), "left")
      .select(col("s_suppkey"), col("s_name"),
        (col("s_suppkey") % 3 === 0).as("flagged"),
        expr("cast(round(s_acctbal * 100) as bigint)").as("acct_cents"),
        col("n_name"),
        coalesce(col("flag_counts"),
          map_from_entries(expr("array()")
            .cast("array<struct<l_returnflag:string,c:int>>")))
          .as("flag_counts"))
  }

  /** q310: parquet → executor-written thrift compact containers →
    * distributed framed scan → aggregate, hash-checked against the
    * direct-SQL computation. The aggregate reads the bool, the map's
    * totals, and one keyed map lookup separately, so each compact
    * encoding independently breaks the hash if mangled. Fresh scratch
    * dir per invocation (q62/q308/q309 stance). */
  def q310ThriftRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = TmpWorkspace.fresh("thrift_roundtrip").toString
    val written = writeThrift(base, dim(s, d))
    require(written > 0, s"q310: empty thrift extract at $base")
    readThrift(s, base)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
           sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
           (sum(col("acct_cents")).cast("double") / 100).as("total_acctbal"),
           sum(expr("aggregate(map_values(flag_counts), 0L, (a, x) -> a + x)"))
             .as("n_lines"),
           sum(coalesce(element_at(col("flag_counts"), "R").cast("long"),
             lit(0L))).as("n_returns"),
           min(col("s_name")).as("min_supplier"))
      .orderBy(col("n_name"))
  }

  val o310 = """
    WITH lc AS (
      SELECT l_suppkey AS k, l_returnflag AS f, COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2),
    agg AS (
      SELECT k, CAST(SUM(c) AS BIGINT) AS n_lines,
        CAST(COALESCE(SUM(CASE WHEN f = 'R' THEN c END), 0) AS BIGINT)
          AS n_returns
      FROM lc GROUP BY 1)
    SELECT n_name,
      COUNT(*) AS n_suppliers,
      CAST(SUM(CASE WHEN s_suppkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged,
      CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100
        AS total_acctbal,
      CAST(COALESCE(SUM(agg.n_lines), 0) AS BIGINT) AS n_lines,
      CAST(COALESCE(SUM(agg.n_returns), 0) AS BIGINT) AS n_returns,
      MIN(s_name) AS min_supplier
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    LEFT JOIN agg ON s_suppkey = agg.k
    GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q310_thrift_roundtrip" -> (q310ThriftRoundtrip _))

  val oracles: Map[String, String] = Map(
    "q310_thrift_roundtrip" -> o310)
}
