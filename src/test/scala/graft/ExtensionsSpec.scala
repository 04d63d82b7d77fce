package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RollingHash
import graft.ops.Cleaning

/** Custom-expression registration + golden values + P9 phone fn. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rolling_hash golden value and incremental property") {
    // "abc" → ((98)·257 + 99)·257 + 100 computed by hand
    assert(RollingHash.hashBytes("abc".getBytes("UTF-8")) == 6498345L)
    val viaCol = Seq("abc").toDF("t")
      .select(RollingHash.rolling_hash(col("t"))).as[Long].head()
    assert(viaCol == 6498345L)
    // polynomial property: h(s + c) = h(s)·B + c + 1 (mod M)
    val hs = RollingHash.hashBytes("spark".getBytes)
    val hsx = RollingHash.hashBytes("sparkx".getBytes)
    assert(hsx == (RollingHash.mulMod(hs, RollingHash.BASE) + 'x'.toInt + 1) % RollingHash.MOD)
  }

  test("SQL registration exposes cosine_sim and rolling_hash") {
    GraftFunctions.register(spark)
    val sim = spark.sql(
      "SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS s")
      .as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-12)
    val rh = spark.sql("SELECT rolling_hash('abc') AS h").as[Long].head()
    assert(rh == 6498345L)
  }

  test("SQL registration exposes shingle_set, token_counts, dot_product") {
    GraftFunctions.register(spark)
    val sgs = spark.sql("SELECT shingle_set('a b c d') AS s")
      .as[Seq[String]].head()
    assert(sgs == Seq("a b c", "b c d"))
    val tc = spark.sql(
      "SELECT token_counts('x y x') AS t")
      .selectExpr("transform(t, e -> concat(e.term, ':', e.tf)) AS f")
      .as[Seq[String]].head()
    assert(tc == Seq("x:2", "y:1"))
    val dot = spark.sql(
      "SELECT dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .as[Double].head()
    assert(math.abs(dot - 11.0) < 1e-12)
  }

  test("GraftExtensions injects functions into a fresh session") {
    val before = org.apache.spark.sql.SparkSession.getDefaultSession
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val s2 = SparkEntry.localSession("2")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val rh = s2.sql("SELECT rolling_hash('abc') AS h")
        .collect().head.getLong(0)
      assert(rh == 6498345L)
    } finally {
      before.foreach { b =>
        org.apache.spark.sql.SparkSession.setDefaultSession(b)
        org.apache.spark.sql.SparkSession.setActiveSession(b)
      }
    }
  }

  test("P9 phone normalization") {
    val got = Seq("+1 (410) 555-1234", "410.555.1234", "1-410-555-1234")
      .toDF("p").select(col("p"), Cleaning.normalizePhone(col("p")).as("n"))
      .as[(String, String)].collect().toMap
    assert(got.values.toSet == Set("4105551234"))
  }
}
