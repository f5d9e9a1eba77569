package graftbench

import org.apache.spark.sql.SparkSession

/** What a workload hands back after its timed phase.
  *
  * @param latencies per-operation seconds behind `latency_p50_s`
  * @param attempted operations attempted in the timed phase
  * @param opsPerS   operations (envelopes, statements, queries) per second
  * @param named     the workload's own metrics, as JSON values by name
  * @param problems  failed correctness checks found in the JVM
  * @param failedOps operations counted as failed
  * @param layers    workload-specific per-layer metrics (traced runs)
  */
final case class Report(latencies: Seq[Double], attempted: Int, opsPerS: Double,
                        named: Seq[(String, String)], problems: Seq[String],
                        failedOps: Int, layers: Seq[(String, Double)])

trait Workload {
  def name: String
  /** Create this session's inputs under `dir`: the part of a run that is
    * timed as `setup_s`.
    */
  def setup(spark: SparkSession, dir: String): Unit
  /** Untimed first use of every operation kind, after the last set-up. */
  def warmup(): Unit
  /** The timed closed loop; every operation goes through `probe.op`. */
  def run(probe: Probe): Unit
  /** Stop anything still running; safe to call twice. */
  def stop(): Unit
  /** Correctness checks and metrics, after the timed phase. */
  def finish(spark: SparkSession, probe: Probe): Report
}

object Workload {
  /** Whole cycles of work measured for a `--seconds` budget. The count
    * depends only on the budget, never on how fast this machine runs, so
    * every commit measures the same work.
    */
  def cycles(seconds: Int, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)

  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else f.listFiles.map(c => bytesUnder(c.getPath)).sum
  }

  /** A tail as JSON: value, percentile and sample count, or null values
    * when too few samples leave ten beyond any percentile.
    */
  def tailJson(xs: Seq[Double]): String = Stats.tail(xs) match {
    case Some(t) => Json.obj(Seq("value" -> Json.num(t.value),
      "percentile" -> Json.num(t.percentile), "n" -> t.n.toString))
    case None => Json.obj(Seq("value" -> "null", "percentile" -> "null",
      "n" -> xs.size.toString))
  }

  def apply(name: String, seed: Long, seconds: Int, data: String): Workload = name match {
    case "cdc_pipeline" => new CdcPipeline(seed, seconds)
    case "warehouse_sql" => new WarehouseSql(seed, seconds, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
