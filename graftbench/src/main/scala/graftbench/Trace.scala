package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One wall-clock span. Spans of one op share `op`; `parent` links the
  * tree (pass → op → construct / plan / execute, pass → check). */
final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
                      startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the scheduler did for one job, attributed to a span by job group. */
final class JobRec(val span: Int, val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var outRecords = 0L
  var writeTasks = 0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallMs: Long = endMs - startMs

  /** Job wall time during which no task of the job was running. */
  def schedMs: Long = {
    val sorted = taskIntervals.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    sorted.foreach { case (s0, e0) =>
      val s = math.max(s0, startMs); val e = math.min(e0, endMs)
      if (e > s) {
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    }
    covered += curE - curS
    math.max(0L, (endMs - startMs) - covered)
  }
}

/** In-memory trace: spans, and the jobs and tasks a SparkListener sees.
  * Jobs are tied to the open span through `setJobGroup`; everything is kept
  * in memory and written once at the end. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private var open = List.empty[Span]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(-1)
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
      val j = new JobRec(span, site, e.time)
      jobById(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
      jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobById.remove(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillBytes += m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRecords += m.outputMetrics.recordsWritten
          if (m.outputMetrics.bytesWritten > 0) j.writeTasks += 1
        }
      }
    }
  }

  sc.addSparkListener(listener)

  def detach(): Unit = sc.removeSparkListener(listener)

  /** Run `body` inside a new span whose jobs carry its id as job group. */
  def span[T](kind: String, name: String)(body: => T): T = {
    val parent = open.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
      if (kind == "op") spans.size else parent.map(_.op).getOrElse(-1),
      kind, name, System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s.id.toString, s"$kind $name", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, s"${p.kind} ${p.name}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      // deliver this span's job and task events before the next span reads them
      org.apache.spark.graftbench.BusDrain(sc)
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(s => go(s.id))
    go(root).toSet
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def jobsIn(ids: Set[Int]): Seq[JobRec] = synchronized(jobs.filter(j => ids(j.span)).toSeq)
}
