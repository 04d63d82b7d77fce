package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** S3/S4 family: an Arrow IPC *file-format* sink + scan — the
  * columnar-binary interchange leg of the sink/source matrix (CSV/JSON
  * text = q62, ORC columnar-on-disk = q89, Avro row-binary = q308,
  * XML = S1). Arrow IPC is the lingua franca of ML data tooling
  * (pandas/polars/duckdb/torch readers all speak it), and Spark ships
  * the reference Java implementation (`arrow-vector` 18.x powers its
  * own Pandas-UDF exchange), so both sides here are built on the real
  * codec library — the q308 "real codec, no shim" stance:
  *
  *  - WRITE: one `ArrowFileWriter` per file — magic bytes, schema
  *    message, length-prefixed record batches (validity bitmaps +
  *    offset + data buffers), footer with batch offsets — in 256-row
  *    batches so multi-batch files cross the wire at the driver-gate
  *    SF, committed by `TaskFiles.write`.
  *  - READ: `TaskFiles.read` → `ArrowFileReader` per container; the
  *    schema is asserted from the FILE footer (the binary-format
  *    contract), batches load through the real flatbuffer/buffer-
  *    reconstruction path, and values are read back out of the
  *    vectors. One container's rows are materialized per task (the
  *    file is task-bounded by construction — N_FILES write
  *    parallelism, the q62 small-files stance).
  *
  * What crosses the container is deliberately Arrow-shaped: besides
  * primitives (Int64, Utf8) the payload carries a NULLABLE
  * `list<int32>` column — the per-order line-number list — so LIST
  * offsets, child data buffers, and the list-level validity bitmap
  * (orders with no lineitems are real NULLs, 687 of them in the sf0.1
  * subset) are all exercised, not just flat fixed-width vectors.
  * Money crosses as exact integer cents (the q308 stance); the one
  * cents→double division happens after the aggregate, identically in
  * both engines. The post-reread aggregate consumes every column —
  * list VALIDITY (null count), list SHAPE (element count), and list
  * CONTENT (element sum) each break the hash independently if the
  * round-trip mangles them.
  *
  * Scale: writer parallelism is fixed at N_FILES (data-sized, not
  * cluster-sized); the read side is one task per container with only
  * decoded rows shuffling into the aggregate. At 100 TB both sides
  * are embarrassingly parallel and per-task state is one container's
  * buffers.
  */
object ArrowRoundtrip {

  private val N_FILES = 4
  private val BATCH_ROWS = 256

  /** Arrow schema built inside the task (pojo.Schema is not
    * task-serializable across versions; rebuilding from constants is
    * the q308 SCHEMA_JSON stance). */
  private def arrowSchema(): org.apache.arrow.vector.types.pojo.Schema = {
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    import scala.jdk.CollectionConverters._
    new org.apache.arrow.vector.types.pojo.Schema(Seq(
      new Field("o_orderkey",
        FieldType.notNullable(new ArrowType.Int(64, true)), null),
      new Field("o_orderstatus",
        FieldType.notNullable(ArrowType.Utf8.INSTANCE), null),
      new Field("total_cents",
        FieldType.notNullable(new ArrowType.Int(64, true)), null),
      new Field("lines", FieldType.nullable(ArrowType.List.INSTANCE),
        Seq(new Field("item",
          FieldType.notNullable(new ArrowType.Int(32, true)), null)).asJava)
    ).asJava)
  }

  /** Arrow IPC sink: one file per partition in 256-row record batches,
    * written through `TaskFiles.write`. Returns rows written. */
  private[graft] def writeArrow(base: String, payload: DataFrame): Long =
    TaskFiles.write(payload, N_FILES, base, i => s"dim_$i.arrow") { (rows, out) =>
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
      import org.apache.arrow.vector.complex.ListVector
      import org.apache.arrow.vector.ipc.ArrowFileWriter
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(arrowSchema(), alloc)
      val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(out))
      try {
        w.start()
        val keyV = root.getVector("o_orderkey").asInstanceOf[BigIntVector]
        val stV = root.getVector("o_orderstatus").asInstanceOf[VarCharVector]
        val centsV = root.getVector("total_cents").asInstanceOf[BigIntVector]
        val linesV = root.getVector("lines").asInstanceOf[ListVector]
        while (rows.hasNext) {
          root.allocateNew()
          val lw = linesV.getWriter
          var r = 0
          while (r < BATCH_ROWS && rows.hasNext) {
            val row = rows.next()
            keyV.setSafe(r, row.getLong(0))
            stV.setSafe(r,
              row.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            centsV.setSafe(r, row.getLong(2))
            if (!row.isNullAt(3)) {
              // a skipped position stays invalid in the validity
              // bitmap = NULL list; only non-null rows get offsets
              lw.setPosition(r)
              lw.startList()
              row.getSeq[Int](3).foreach(v => lw.integer().writeInt(v))
              lw.endList()
            }
            r += 1
          }
          root.setRowCount(r)
          w.writeBatch()
        }
        w.end()
      } finally {
        root.close(); alloc.close()
      }
    }

  /** IPC scan through `TaskFiles.read`: schema asserted from the file
    * FOOTER (a reader that guessed the layout instead of honoring the
    * footer would be a fake decode). */
  private[graft] def readArrow(s: SparkSession, base: String): DataFrame =
    TaskFiles.read(s, base + "/*.arrow", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("total_cents", LongType),
      StructField("lines", ArrayType(IntegerType, containsNull = false))))) { (name, in) =>
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{BigIntVector, VarCharVector}
      import org.apache.arrow.vector.complex.ListVector
      import org.apache.arrow.vector.ipc.ArrowFileReader
      import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
      val alloc = new RootAllocator()
      val reader = new ArrowFileReader(
        new ByteArrayReadableSeekableByteChannel(in.readAllBytes()), alloc)
      try {
        val got = reader.getVectorSchemaRoot.getSchema.getFields
        val names = new java.util.ArrayList[String]()
        got.forEach(f => { names.add(f.getName); () })
        if (names.toString !=
            "[o_orderkey, o_orderstatus, total_cents, lines]")
          throw new java.io.IOException(
            s"unexpected arrow footer schema in $name: $names")
        val buf = Vector.newBuilder[Row]
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          val keyV = root.getVector("o_orderkey").asInstanceOf[BigIntVector]
          val stV = root.getVector("o_orderstatus").asInstanceOf[VarCharVector]
          val centsV = root.getVector("total_cents").asInstanceOf[BigIntVector]
          val linesV = root.getVector("lines").asInstanceOf[ListVector]
          var r = 0
          while (r < root.getRowCount) {
            val lines: Seq[Int] =
              if (linesV.isNull(r)) null
              else {
                val l = linesV.getObject(r)
                val b = Vector.newBuilder[Int]
                l.forEach(v => { b += v.asInstanceOf[Integer].intValue; () })
                b.result()
              }
            buf += Row(keyV.get(r),
              new String(stV.get(r), java.nio.charset.StandardCharsets.UTF_8),
              centsV.get(r), lines)
            r += 1
          }
        }
        buf.result().iterator
      } finally { reader.close(); alloc.close() }
    }

  /** The dim that crosses the container: a %4 order subset with exact
    * integer cents and each order's SORTED line-number list — NULL
    * (not empty) when the order has no lineitems, so the list-level
    * validity bitmap carries real information. */
  private def dim(s: SparkSession, d: String): DataFrame = {
    val ln = lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
    orders(s, d).filter(col("o_orderkey") % 4 === 0)
      .join(ln, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("total_cents"),
        col("lines"))
  }

  /** q309: parquet → executor-written Arrow IPC files → distributed
    * footer-checked scan → aggregate, hash-checked against the
    * direct-SQL computation from the same tables. The aggregate
    * consumes list validity (n_no_lines), list shape (n_lines) and
    * list content (line_sum) separately, so each buffer family of the
    * LIST column independently breaks the hash if mangled. Writing
    * the sink IS the operator (q62/q308 stance) — fresh scratch dir
    * per invocation. */
  def q309ArrowRoundtrip(s: SparkSession, d: String): DataFrame = {
    val base = TmpWorkspace.fresh("arrow_roundtrip").toString
    val written = writeArrow(base, dim(s, d))
    require(written > 0, s"q309: empty arrow extract at $base")
    readArrow(s, base)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           sum(when(col("lines").isNull, 1L).otherwise(0L)).as("n_no_lines"),
           (sum(col("total_cents")).cast("double") / 100).as("total_value"),
           sum(when(col("lines").isNull, 0L)
             .otherwise(size(col("lines")).cast("long"))).as("n_lines"),
           sum(coalesce(expr("aggregate(lines, 0L, (a, x) -> a + x)"),
             lit(0L))).as("line_sum"),
           min(col("o_orderkey")).as("min_orderkey"))
      .orderBy(col("o_orderstatus"))
  }

  val o309 = """
    WITH sel AS (
      SELECT o_orderkey, o_orderstatus,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 4 = 0),
    ln AS (
      SELECT l_orderkey AS k, COUNT(*) AS n, SUM(l_linenumber) AS s
      FROM lineitem GROUP BY 1)
    SELECT o_orderstatus,
      COUNT(*) AS n_orders,
      CAST(SUM(CASE WHEN ln.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_no_lines,
      CAST(SUM(cents) AS DOUBLE) / 100 AS total_value,
      CAST(COALESCE(SUM(ln.n), 0) AS BIGINT) AS n_lines,
      CAST(COALESCE(SUM(ln.s), 0) AS BIGINT) AS line_sum,
      MIN(o_orderkey) AS min_orderkey
    FROM sel LEFT JOIN ln ON sel.o_orderkey = ln.k
    GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q309_arrow_roundtrip" -> (q309ArrowRoundtrip _))

  val oracles: Map[String, String] = Map(
    "q309_arrow_roundtrip" -> o309)
}
