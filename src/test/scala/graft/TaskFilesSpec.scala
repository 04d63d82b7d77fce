package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.sources.{TaskFiles, TmpWorkspace}

/** A local file system bound to the `graftsession` scheme. Hadoop knows
  * the scheme only through a session's `fs.graftsession.impl`, so a
  * write that resolves paths with a default `Configuration` fails. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def getScheme: String = "graftsession"
}

/** The task-commit protocol of `TaskFiles.write`: one whole visible file
  * per partition index however often it is committed, nothing visible
  * after a failed encode, and paths resolved through the session's
  * Hadoop conf. */
class TaskFilesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** Lines `tag:id` between a BEGIN and an END line: a file that ends in
    * END and holds one tag was written whole by one attempt. */
  private def writeTagged(base: String, tag: String, nFiles: Int): Long =
    TaskFiles.write(spark.range(0, 200).toDF("id"), nFiles, base, i => s"part_$i.txt") {
      (rows, out) =>
        out.write("BEGIN\n".getBytes(UTF_8))
        rows.foreach(r => out.write(s"$tag:${r.getLong(0)}\n".getBytes(UTF_8)))
        out.write("END\n".getBytes(UTF_8))
    }

  private def names(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("committing a partition index twice leaves one whole file and no temp file") {
    val base = TmpWorkspace.fresh("taskfiles_twice").toString
    assert(writeTagged(base, "a", 2) == 200)
    assert(writeTagged(base, "b", 2) == 200)
    val all = names(base)
    assert(!all.exists(_.contains(".tmp")), s"temp file left: $all")
    assert(all.filterNot(_.startsWith(".")) == Seq("part_0.txt", "part_1.txt"))
    val ids = all.filterNot(_.startsWith(".")).flatMap { n =>
      val lines = Files.readAllLines(Paths.get(base, n), UTF_8).asScala.toSeq
      assert(lines.head == "BEGIN" && lines.last == "END", s"$n is not whole")
      val body = lines.drop(1).dropRight(1)
      val tags = body.map(_.takeWhile(_ != ':')).toSet
      assert(tags.size == 1, s"$n mixes attempts: $tags")
      body.map(_.dropWhile(_ != ':').drop(1).toLong)
    }
    assert(ids.sorted == (0L until 200L))
  }

  test("an encode that throws fails the job and leaves no file at the destination") {
    val base = TmpWorkspace.fresh("taskfiles_fail").toString
    val ex = intercept[org.apache.spark.SparkException] {
      // one task: the job fails only after that task's cleanup ran
      TaskFiles.write(spark.range(0, 50).toDF("id"), 1, base, i => s"part_$i.txt") {
        (rows, out) =>
          out.write("BEGIN\n".getBytes(UTF_8))
          rows.foreach(_ => throw new IllegalStateException("encode failed"))
      }
    }
    assert(ex.getMessage.contains("encode failed"))
    assert(names(base).isEmpty, s"left behind: ${names(base)}")
  }

  test("a scheme bound only in the session's Hadoop conf is written and read back") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftsession.impl", classOf[SessionOnlyFileSystem].getName)
    // no FileSystem cache: a default Configuration must not find an
    // instance the session created earlier
    conf.setBoolean("fs.graftsession.impl.disable.cache", true)
    try {
      val local = TmpWorkspace.fresh("taskfiles_scheme").toString
      val base = "graftsession://" + local
      assert(writeTagged(base, "s", 3) == 200)
      assert(names(local).filterNot(_.startsWith(".")) ==
        Seq("part_0.txt", "part_1.txt", "part_2.txt"))
      val back = TaskFiles.read(spark, base + "/*.txt",
          StructType(Seq(StructField("id", LongType)))) { (_, in) =>
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.startsWith("s:")).map(l => Row(l.drop(2).toLong))
      }
      assert(back.agg(count(lit(1)), countDistinct(col("id")), sum(col("id")))
        .head() == Row(200L, 200L, (0L until 200L).sum))
    } finally {
      conf.unset("fs.graftsession.impl")
      conf.unset("fs.graftsession.impl.disable.cache")
    }
  }
}
