package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ArrowRoundtrip

/** q309: the Arrow IPC sink/scan must round-trip rows exactly —
  * including the nullable list<int32> column's validity (NULL vs
  * present), offsets (element counts) and child data (element values)
  * — split multi-batch files at realistic row counts, and fail loudly
  * on a corrupted file, never yielding partial rows from garbage. */
class ArrowRoundtripSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def dim(d: String) = {
    val ln = graft.Tables.lineitem(spark, d).groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
    graft.Tables.orders(spark, d).filter(col("o_orderkey") % 4 === 0)
      .join(ln, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("total_cents"),
        col("lines"))
  }

  test("q309 runs and the no-lineitem orders survive as list NULLs") {
    val out = SparkEntry.queries("q309_arrow_roundtrip")(spark, sf).collect()
    assert(out.nonEmpty)
    val noLines = out.map(_.getLong(out.head.fieldIndex("n_no_lines"))).sum
    assert(noLines > 0,
      "expected orders without lineitems to cross as NULL lists")
    // list shape vs content sanity: line_sum >= n_lines (linenumbers >= 1)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("line_sum")) >=
        r.getLong(r.fieldIndex("n_lines")))
    }
  }

  test("IPC round-trip is row-exact including the list column") {
    val in = dim(sf)
    val base = sources.TmpWorkspace.fresh("arrow_spec").toString
    val written = ArrowRoundtrip.writeArrow(base, in)
    assert(written == in.count())
    val back = ArrowRoundtrip.readArrow(spark, base)
    assert(back.count() == written)
    // exact multiset equality — exceptAll compares array columns
    // element-wise, so a reordered/mangled list is a diff row
    val diff = in.exceptAll(back).count() + back.exceptAll(in).count()
    assert(diff == 0, s"arrow round-trip lost/mangled $diff rows")
    // NULL list (no lineitems) vs present list is preserved exactly
    val inNull = in.filter(col("lines").isNull)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val backNull = back.filter(col("lines").isNull)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(inNull == backNull, "list validity bitmap drifted")
    assert(inNull.nonEmpty, "fixture must exercise NULL lists")
    // no empty lists exist on either side (NULL and [] stay distinct)
    assert(back.filter(size(col("lines")) === 0).count() == 0)
  }

  test("files are multi-batch once rows exceed the batch size") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    // the writer repartitions to 4 files; 8 copies of the 375-row dim
    // = 3000 rows -> ~750 rows/file -> 3 batches/file at 256-row batches
    val one = dim(sf)
    val in = Seq.fill(8)(one).reduce(_ unionAll _)
    val base = sources.TmpWorkspace.fresh("arrow_batches").toString
    val written = ArrowRoundtrip.writeArrow(base, in)
    assert(written == 8 * 375)
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      try {
        val b = Vector.newBuilder[java.nio.file.Path]
        s.filter(_.toString.endsWith(".arrow")).forEach(p => { b += p; () })
        b.result()
      } finally s.close()
    }
    assert(files.nonEmpty)
    files.foreach { f =>
      val alloc = new RootAllocator()
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(
        java.nio.file.Files.readAllBytes(f)), alloc)
      try {
        val nBlocks = r.getRecordBlocks.size
        var rows = 0
        while (r.loadNextBatch())
          rows += r.getVectorSchemaRoot.getRowCount
        // footer block count must equal ceil(rows/256), and with ~750
        // rows per file every file is genuinely multi-batch
        assert(nBlocks == (rows + 255) / 256,
          s"footer blocks $nBlocks != ceil($rows/256) in $f")
        assert(nBlocks >= 2, s"expected a multi-batch file, got $nBlocks")
      } finally { r.close(); alloc.close() }
    }
  }

  test("a corrupted file fails loudly, not with partial rows") {
    import java.nio.file.{Files, Paths}
    val base = sources.TmpWorkspace.fresh("arrow_corrupt").toString
    ArrowRoundtrip.writeArrow(base, dim(sf))
    val f = Files.list(Paths.get(base)).filter(_.toString.endsWith(".arrow"))
      .findFirst().get()
    val bytes = Files.readAllBytes(f)
    bytes(0) = 'X'.toByte // break the ARROW1 magic
    Files.write(f, bytes)
    val ex = intercept[org.apache.spark.SparkException] {
      ArrowRoundtrip.readArrow(spark, base).count()
    }
    assert(ex.getMessage != null)
  }
}
