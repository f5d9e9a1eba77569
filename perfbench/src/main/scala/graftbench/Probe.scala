package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload operation: a CDC batch, a SQL statement or a registered
  * query run. `kind` is the statement or query name; `read` says whether
  * the operation only reads. `fs` holds the CountingFs deltas over the
  * operation (empty when untraced).
  */
final case class OpRec(id: Long, kind: String, read: Boolean, startNs: Long,
                       endNs: Long, ok: Boolean, rows: Long, fs: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times workload operations and, in a traced session, the layer spans
  * inside them. Every operation is a root span; `span` nests a layer call
  * inside the current operation.
  */
final class Probe(val spark: SparkSession, val traced: Boolean) {
  val tracer = new Tracer
  val jobs: Option[JobListener] =
    if (traced) Some(new JobListener) else None
  val streams: Option[StreamListener] =
    if (traced) Some(new StreamListener) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  streams.foreach(spark.streams.addListener)

  /** nanoTime -> epoch ms, to place listener job times among the spans. */
  private val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Long = (ns + epochOffsetNs) / 1000000L
  def nanoOf(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  private val recs = mutable.ArrayBuffer.empty[OpRec]
  def ops: Seq[OpRec] = recs.toSeq

  /** Run one operation; `body` returns the rows it produced and whether its
    * own checks passed. An exception marks the operation failed.
    */
  def op(kind: String, read: Boolean)(body: => (Long, Boolean)): OpRec = {
    val id = recs.size.toLong
    val before = if (traced) CountingFs.snapshot() else Map.empty[String, Long]
    val start = System.nanoTime()
    val (rows, ok) =
      try tracer.op(id, kind)(body)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $kind failed: $e")
        (0L, false)
      }
    val end = System.nanoTime()
    val fs = if (traced) CountingFs.delta(before, CountingFs.snapshot()) else Map.empty[String, Long]
    val r = OpRec(id, kind, read, start, end, ok, rows, fs)
    recs += r
    r
  }

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Every finished job with the innermost benchmark span open at the
    * job's start, if any.
    */
  def placedJobs(): Seq[(JobRecord, Option[Span])] = {
    val spans = tracer.all
    jobs.map(_.jobs).getOrElse(Nil).map { j =>
      val holder = spans.filter(s => epochMs(s.startNs) <= j.startMs && j.startMs <= epochMs(s.endNs))
        .sortBy(s => -s.startNs).headOption
      j -> holder
    }
  }

  /** The benchmark's spans plus one child span per placed job, named by the
    * job's call-site file, in layer `spark`.
    */
  def allSpans(): Seq[Span] = tracer.all ++ placedJobs().collect { case (j, Some(parent)) =>
    Span(-1L - j.id, parent.id, j.site, "spark", parent.op, nanoOf(j.startMs), nanoOf(j.endMs))
  }
}
