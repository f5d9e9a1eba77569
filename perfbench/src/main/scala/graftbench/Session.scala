package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session: the same settings as `graft.Bench` (local mode
  * on every core, shuffle partitions = cores, UTC, runtime Bloom filter,
  * the engine's optimizer rules). A traced session additionally routes the
  * local file system through [[CountingFs]]; listeners are attached by the
  * caller.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def build(traced: Boolean): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a cached FileSystem from an earlier session would bypass (or keep)
    // the counting wrapper; every session starts from a clean cache
    org.apache.hadoop.fs.FileSystem.closeAll()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.spark.sql.graft.GraftFunctions.installOptimizations(spark)
    if (traced) {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFs], s"traced session uses ${fs.getClass}, not CountingFs")
    }
    spark
  }
}
