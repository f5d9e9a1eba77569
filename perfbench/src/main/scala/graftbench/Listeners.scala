package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the listener saw it. Times are epoch milliseconds;
  * `site` is the source file of the job's call site.
  */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, site: String,
                           tasks: Long, cpuNs: Long, shuffleBytes: Long,
                           inputBytes: Long, inputRecords: Long)

/** Collects jobs with their call-site file and their tasks' metrics. */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val startMs: Long, val site: String) {
    var tasks = 0L; var cpuNs = 0L; var shuffle = 0L; var inBytes = 0L; var inRecs = 0L
  }
  private val open = mutable.Map.empty[Int, Acc]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRecord]

  def jobs: Seq[JobRecord] = synchronized(done.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // jobs run by a stream carry the stream's start site as their call
    // site, so look first at the engine frame of the thread blocked on
    // the job; otherwise the result stage is named by the call site
    val site = JobListener.submitterSite().getOrElse(
      if (e.stageInfos.isEmpty) "" else JobListener.fileOf(e.stageInfos.maxBy(_.stageId).name))
    synchronized {
      open(e.jobId) = new Acc(e.jobId, e.time, site)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageToJob.get(e.stageId); a <- open.get(job)) {
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecs += m.inputMetrics.recordsRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      done += JobRecord(a.id, a.startMs, e.time, a.site, a.tasks, a.cpuNs,
        a.shuffle, a.inBytes, a.inRecs)
    }
  }
}

object JobListener {
  private def isEngine(f: StackTraceElement): Boolean = {
    val c = f.getClassName
    (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.graft.")) && f.getFileName != null
  }

  private def waitsOnJob(f: StackTraceElement): Boolean =
    (f.getClassName == "org.apache.spark.scheduler.DAGScheduler" && f.getMethodName == "runJob") ||
      f.getClassName == "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"

  /** The source file of the innermost engine frame of a thread that waits
    * on a job: in `DAGScheduler.runJob`, or in an adaptive plan whose stage
    * jobs it submitted. Listener events arrive just after the job starts,
    * while its submitter still waits.
    */
  def submitterSite(): Option[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.valuesIterator
      .filter(_.exists(waitsOnJob))
      .flatMap(_.find(isEngine)).map(_.getFileName).toSeq.headOption
  }

  /** "collect at ManifestTable.scala:123" -> "ManifestTable.scala". */
  def fileOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val loc = if (at >= 0) callSite.substring(at + 4) else callSite
    val colon = loc.lastIndexOf(':')
    if (colon > 0) loc.substring(0, colon) else loc
  }
}

/** One streaming trigger's phase durations, in milliseconds. */
final case class Progress(queryId: String, batchId: Long, numInputRows: Long,
                          durations: Map[String, Long])

/** Collects each streaming trigger that processed a batch. */
final class StreamListener extends StreamingQueryListener {
  private val seen = mutable.ArrayBuffer.empty[Progress]
  def progress: Seq[Progress] = synchronized(seen.toSeq)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { seen += Progress(p.id.toString, p.batchId, p.numInputRows, d) }
  }
}
