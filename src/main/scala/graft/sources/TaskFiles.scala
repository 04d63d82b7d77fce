package graft.sources

import java.io.{InputStream, OutputStream}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The executor-side file sink and container scan shared by the format
  * modules (the OSM extracts of q305–q307, Avro q308, Arrow q309, Thrift
  * q310). Those modules supply only their codec; this object owns the
  * file protocol.
  *
  * Write: one file per partition of `payload.repartition(nFiles)`. Each
  * task streams into a hidden, task-attempt-unique temp file and commits
  * it with one rename, so a speculative or zombie duplicate attempt never
  * interleaves bytes into a visible file: the rename winner is a whole
  * file, and a loser that finds the destination committed drops its own
  * temp (both attempts encoded the same partition). A failed `encode`
  * deletes its temp and fails the job. Paths resolve through the
  * session's Hadoop conf (`spark.hadoop.*`, fs implementations,
  * credentials), shipped to the tasks as a `SerializableConfiguration`
  * exactly as `OsmScan` ships it, so both sides resolve a path the same
  * way.
  *
  * Read: one task per matched file through `binaryFiles`, which skips
  * hidden files; the stream is opened here and closed when the task ends,
  * so `decode` may return a lazy iterator.
  */
object TaskFiles {

  /** Writes `payload` as `nFiles` files `base/fileName(i)`; `encode`
    * writes one partition's rows to the stream and flushes any writer it
    * wraps around it (the stream itself is closed here). Returns the
    * number of rows written. */
  def write(payload: DataFrame, nFiles: Int, base: String, fileName: Int => String)(
      encode: (Iterator[Row], OutputStream) => Unit): Long = {
    val conf = new SerializableConfiguration(
      payload.sparkSession.sparkContext.hadoopConfiguration)
    payload.repartition(nFiles).rdd.mapPartitionsWithIndex { (i, it) =>
      val name = fileName(i)
      val dst = new Path(base, name)
      val tmp = new Path(base, s".$name.${TaskContext.get().taskAttemptId()}.tmp")
      val fs = dst.getFileSystem(conf.value)
      var n = 0L
      val out = fs.create(tmp, true)
      var encoded = false
      try {
        encode(it.map { r => n += 1; r }, out)
        encoded = true
      } finally {
        out.close()
        if (!encoded) fs.delete(tmp, false)
      }
      if (!fs.rename(tmp, dst)) {
        if (fs.exists(dst)) fs.delete(tmp, false)
        else throw new java.io.IOException(s"task commit failed: $tmp -> $dst")
      }
      Iterator.single(n)
    }.fold(0L)(_ + _)
  }

  /** The rows `decode` yields for every file matching `glob`, one task
    * per file; `decode` gets the file's path and its open stream. */
  def read(spark: SparkSession, glob: String, schema: StructType)(
      decode: (String, InputStream) => Iterator[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.binaryFiles(glob).flatMap { case (name, pds) =>
      val in = pds.open()
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      decode(name, in)
    }, schema)
}
