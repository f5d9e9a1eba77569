package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{ManifestTable, PartSpec}

/** Forked-JVM writer for the MULTI-PROCESS commit-race test
  * (SourcesSpec "two separate JVMs racing disjoint merges"): every prior
  * race test exercised [[ManifestTable.publishStaged]] from threads of ONE
  * JVM, which shares the process's page cache and JVM-level memory fences —
  * a genuinely separate process is the honest local stand-in for two
  * executor-cluster drivers committing to shared storage.
  *
  * Args: `root writerId partsCsv rounds`. The writer waits for the parent's
  * `start.flag` (so both processes enter the commit loop together after
  * their slow Spark init), then performs `rounds` carry-forward rewrites of
  * ITS OWN partitions — disjoint across writers, so every commit must land
  * via the optimistic rebase path; any conflict abort or corruption exits
  * nonzero / is caught by the parent's final read-back.
  */
object RaceWriterMain {
  def main(args: Array[String]): Unit = {
    val Array(root, wid, partsCsv, roundsS) = args
    val rounds = roundsS.toInt
    val parts = partsCsv.split(",").toSeq
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"race-$wid-wh").toString)
      .appName(s"race-writer-$wid")
      .getOrCreate()
    try {
      import spark.implicits._
      val dir = java.nio.file.Paths.get(root).getParent
      // signal readiness, then barrier on the parent's start flag
      java.nio.file.Files.createFile(dir.resolve(s"ready.$wid"))
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(dir.resolve("start.flag"))) {
        if (System.currentTimeMillis() > deadline)
          sys.error("race writer: parent never raised start.flag")
        Thread.sleep(20)
      }
      for (r <- 1 to rounds) {
        val df = parts.flatMap(p => Seq((r.toLong, s"$wid-$r", p)))
          .toDF("k", "v", "p")
        ManifestTable.commit(df, root, Some(PartSpec.Identity("p")))
      }
      println(s"[race-$wid] done: $rounds commits")
    } finally spark.stop()
  }
}
