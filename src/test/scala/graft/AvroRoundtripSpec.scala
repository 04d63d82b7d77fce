package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.AvroRoundtrip

/** q308: the Avro OCF sink/scan must round-trip rows exactly, really
  * compress (deflate codec in the header, honored on read), encode the
  * ["null","string"] union per the %7 schedule, and fail loudly on a
  * corrupted container — never yield partial rows from garbage. */
class AvroRoundtripSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("q308 runs, groups by nation, and counts the union nulls") {
    val out = SparkEntry.queries("q308_avro_roundtrip")(spark, sf).collect()
    assert(out.nonEmpty)
    // every group: 0 <= n_with_segment <= n_customers, and globally some
    // customers (custkey % 7 == 0) must have lost their segment
    val (withSeg, total) = out.map(r =>
      (r.getLong(r.fieldIndex("n_with_segment")),
       r.getLong(r.fieldIndex("n_customers"))))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(withSeg < total, "expected union-null rows under the %7 schedule")
    assert(out.forall { r =>
      r.getLong(r.fieldIndex("n_with_segment")) <=
        r.getLong(r.fieldIndex("n_customers"))
    })
  }

  test("container round-trip is row-exact and the codec is deflate") {
    import spark.implicits._
    val in = graft.Tables.customer(spark, sf)
      .join(graft.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("acct_cents"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .otherwise(col("c_mktsegment")).as("segment"))
    // write through the module's writer, then re-read the scratch dir
    // through the module's reader
    val base = sources.TmpWorkspace.fresh("avro_spec").toString
    val written = AvroRoundtrip.writeAvro(base, in)
    assert(written == in.count())
    val back = AvroRoundtrip.readAvro(spark, base)
    // exact multiset equality, column by column
    assert(back.count() == written)
    val diff = in.exceptAll(back).count() + back.exceptAll(in).count()
    assert(diff == 0, s"avro round-trip lost/mangled $diff rows")
    // union-null schedule survived the container
    assert(back.filter(col("segment").isNull)
      .filter(col("c_custkey") % 7 =!= 0).count() == 0)
    assert(back.filter(col("c_custkey") % 7 === 0)
      .filter(col("segment").isNotNull).count() == 0)
  }

  test("a corrupted container fails loudly, not with partial rows") {
    import java.nio.file.{Files, Paths}
    val base = sources.TmpWorkspace.fresh("avro_corrupt").toString
    val in = graft.Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long").as("c_custkey"),
        col("n_name").as("c_name"),
        col("n_name"), lit(0L).as("acct_cents"),
        lit(null).cast("string").as("segment"))
    AvroRoundtrip.writeAvro(base, in)
    // flip the container magic of one file
    val f = Files.list(Paths.get(base)).filter(_.toString.endsWith(".avro"))
      .findFirst().get()
    val bytes = Files.readAllBytes(f)
    bytes(0) = 'X'.toByte
    Files.write(f, bytes)
    val ex = intercept[org.apache.spark.SparkException] {
      AvroRoundtrip.readAvro(spark, base).count()
    }
    assert(ex.getMessage != null)
  }
}
