package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ThriftRoundtrip

/** q310: the thrift compact-protocol sink/scan must round-trip rows
  * exactly — including the map<string,i32> field and the
  * bool-in-field-header encoding — keep empty maps distinct from
  * missing rows, and fail loudly on bad magic or a truncated
  * container, never yielding partial rows. */
class ThriftRoundtripSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The module's dim, but with lineitem restricted to l_suppkey <=
    * cut so suppliers above the cut cross the wire with EMPTY maps
    * (the natural sf0.001 data gives every supplier lines). */
  private def dimWithCut(cut: Int) = {
    val lc = graft.Tables.lineitem(spark, sf)
      .filter(col("l_suppkey") <= cut)
      .groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(count(lit(1)).cast("int").as("c"))
      .groupBy(col("l_suppkey"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("l_returnflag"), col("c"))))).as("flag_counts"))
    graft.Tables.supplier(spark, sf)
      .join(graft.Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
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

  test("q310 runs and the %3 bool schedule survives the header encoding") {
    val out = SparkEntry.queries("q310_thrift_roundtrip")(spark, sf).collect()
    assert(out.nonEmpty)
    val (flagged, total) = out.map(r =>
      (r.getLong(r.fieldIndex("n_flagged")),
       r.getLong(r.fieldIndex("n_suppliers"))))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(flagged > 0 && flagged < total,
      "expected a mixed bool schedule across suppliers")
    // keyed map lookups are a subset of the map totals
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_returns")) <=
        r.getLong(r.fieldIndex("n_lines")))
    }
  }

  test("compact round-trip is row-exact including the map field") {
    val in = dimWithCut(5)
    val base = sources.TmpWorkspace.fresh("thrift_spec").toString
    val written = ThriftRoundtrip.writeThrift(base, in)
    assert(written == in.count())
    val back = ThriftRoundtrip.readThrift(spark, base)
    assert(back.count() == written)
    // map columns don't support exceptAll; compare via a canonical
    // (sorted-entries) projection instead
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("s_suppkey"), col("s_name"), col("flagged"), col("acct_cents"),
      col("n_name"),
      expr("array_join(transform(sort_array(map_keys(flag_counts)), " +
        "k -> concat(k, ':', element_at(flag_counts, k))), ',')")
        .as("m"))
    val diff = canon(in).exceptAll(canon(back)).count() +
      canon(back).exceptAll(canon(in)).count()
    assert(diff == 0, s"thrift round-trip lost/mangled $diff rows")
    // suppliers above the cut crossed as EMPTY maps, not dropped rows
    val empties = back.filter(size(map_keys(col("flag_counts"))) === 0)
      .select(col("s_suppkey")).collect().map(_.getLong(0)).toSet
    assert(empties.nonEmpty && empties.forall(_ > 5),
      s"expected empty maps exactly above the lineitem cut, got $empties")
  }

  test("a bad container magic fails loudly") {
    import java.nio.file.{Files, Paths}
    val base = sources.TmpWorkspace.fresh("thrift_magic").toString
    ThriftRoundtrip.writeThrift(base, dimWithCut(10))
    val f = Files.list(Paths.get(base)).filter(_.toString.endsWith(".tcp"))
      .findFirst().get()
    val bytes = Files.readAllBytes(f)
    bytes(0) = 'X'.toByte
    Files.write(f, bytes)
    val ex = intercept[org.apache.spark.SparkException] {
      ThriftRoundtrip.readThrift(spark, base).count()
    }
    assert(ex.getMessage != null)
  }

  test("a truncated container fails loudly, not with partial rows") {
    import java.nio.file.{Files, Paths}
    val base = sources.TmpWorkspace.fresh("thrift_trunc").toString
    ThriftRoundtrip.writeThrift(base, dimWithCut(10))
    val f = Files.list(Paths.get(base)).filter(_.toString.endsWith(".tcp"))
      .findFirst().get()
    val bytes = Files.readAllBytes(f)
    assert(bytes.length > 10)
    // chop off the terminator and the tail of the last record
    Files.write(f, bytes.take(bytes.length - 5))
    val ex = intercept[org.apache.spark.SparkException] {
      ThriftRoundtrip.readThrift(spark, base).count()
    }
    assert(ex.getMessage != null)
  }
}
