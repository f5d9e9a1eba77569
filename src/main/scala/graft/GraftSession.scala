package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{Checkpoints, GraftFunctions}

/** The one session factory for every graft main (Bench, Verify, StressBench,
  * Dev): local mode on `cpus` cores, one shuffle partition per core, UTC,
  * the runtime Bloom filter, no UI, ERROR logging and the engine's optimizer
  * rules. `getOrCreate` semantics: a live default session (the test suites'
  * shared one, when BenchSpec drives `Bench.run` in-process) is reused.
  */
object GraftSession {
  /** Cores for a main: `SPARK_GRAFT_CPUS`, else 32. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: localCheckpoint WARN lines would otherwise fill the
    // short stdout tail a bench capture keeps, crowding out the timings
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.installOptimizations(spark)
    spark
  }

  /** Drop what a consumed frame left behind: cached relations, and the
    * localCheckpoint blocks iterative results keep alive by design, which
    * `clearCache()` does not free; left in place they pile up across runs
    * and slow every later query.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Checkpoints.sweep(spark)
  }

  /** One harness run: build `frame` and noop-write it (every row and column
    * evaluated), then [[reset]]. Returns the seconds of the build and write
    * only; the reset runs outside the timed window, even when the run throws.
    */
  def noopRun(spark: SparkSession)(frame: => DataFrame): Double =
    try {
      val t0 = System.nanoTime()
      frame.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally reset(spark)
}
