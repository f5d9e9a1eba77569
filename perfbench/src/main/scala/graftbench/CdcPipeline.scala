package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** `cdc_pipeline`: the reference's lake -> CDC -> warehouse dataflow as two
  * long-running streams. Envelope files land one per batch; the CDC stream
  * (`Dispatch.runMergeOnRead`) merges them into a partitioned target with
  * inline compaction and vacuum; a change-feed stream replicates the target
  * into a replica. Closed loop: the next file lands only after the replica
  * has committed the previous batch.
  */
final class CdcPipeline(seed: Long, seconds: Int) extends Workload {
  import CdcPipeline._

  val name = "cdc_pipeline"
  private val batches = Workload.cycles(seconds, CycleNominalS) * CompactEvery

  private var dir: String = _
  private var gen: CdcGen = _
  private var cdc: StreamingQuery = _
  private var replica: StreamingQuery = _
  private var nextBatch = 0
  private var timedFrom = 0
  private def env = s"$dir/envelopes"
  def target = s"$dir/target"
  def replicaPath = s"$dir/replica"

  /** Write the next batch beside the envelope directory; `land` moves it in
    * with one atomic rename.
    */
  private def stage(inserts: Int = -1): (java.nio.file.Path, Int) = {
    val b = nextBatch
    nextBatch += 1
    val es = gen.batch(b, inserts)
    val tmp = Paths.get(dir, f"staging-$b%06d.json")
    Files.write(tmp, CdcGen.bytes(es))
    (tmp, es.size)
  }

  private def land(tmp: java.nio.file.Path, b: Int): Unit =
    Files.move(tmp, Paths.get(env, f"batch-$b%06d.json"), StandardCopyOption.ATOMIC_MOVE)

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    Files.createDirectories(Paths.get(env))
    gen = new CdcGen(seed, Partitions, BatchSize)
    nextBatch = 0
    val (seedFile, _) = stage(inserts = SeedRows)
    land(seedFile, 0)
    cdc = graft.cdc.Dispatch.runMergeOnRead(spark, env, target, s"$dir/ckpt-cdc",
      DocSchema, identity, "id", "id", "v", "p",
      trigger = Trigger.ProcessingTime(0L), compactEvery = DispatchCompactEvery)
    cdc.processAllAvailable()
    replica = spark.readStream.format("graft").schema(DocSchema)
      .option("key", "id").load(target)
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
      .option("compactEvery", CompactEvery.toString)
      .option("checkpointLocation", s"$dir/ckpt-replica")
      .trigger(Trigger.ProcessingTime(0L))
      .start(replicaPath)
    replica.processAllAvailable()
  }

  /** One ordinary merge batch through both streams. */
  def warmup(): Unit = {
    val (tmp, _) = stage()
    land(tmp, nextBatch - 1)
    cdc.processAllAvailable()
    replica.processAllAvailable()
  }

  def run(probe: Probe): Unit = {
    timedFrom = nextBatch
    for (_ <- 0 until batches) {
      val (tmp, n) = stage()
      val b = nextBatch - 1
      probe.op("batch", read = false) {
        land(tmp, b)
        probe.span("cdc.processAllAvailable", "cdc")(cdc.processAllAvailable())
        probe.span("replica.processAllAvailable", "change_feed")(replica.processAllAvailable())
        (n.toLong, true)
      }
    }
  }

  def stop(): Unit = {
    Option(cdc).foreach(_.stop())
    Option(replica).foreach(_.stop())
  }

  /** Conservation check: target rows == replica rows == distinct generated
    * keys, and both tables equal the generator's last-wins state exactly.
    */
  def finish(spark: SparkSession, probe: Probe): Report = {
    stop()
    val want = gen.expected.values.map(d => (d.id, d.p, d.v, d.amt.toDouble, d.note)).toSet
    def rowsOf(path: String): Seq[(String, String, Long, Double, String)] = {
      import spark.implicits._
      ManifestTable.read(spark, path, DocSchema).select("id", "p", "v", "amt", "note")
        .as[(String, String, Long, Double, String)].collect().toSeq
    }
    val tRows = rowsOf(target)
    val rRows = rowsOf(replicaPath)
    val problems = Seq(
      (tRows.size != gen.distinctKeys) -> s"target rows ${tRows.size} != keys ${gen.distinctKeys}",
      (rRows.size != gen.distinctKeys) -> s"replica rows ${rRows.size} != keys ${gen.distinctKeys}",
      (tRows.toSet != want) -> s"target differs from the last-wins state in ${(tRows.toSet diff want).size} rows",
      (rRows.toSet != want) -> s"replica differs from the last-wins state in ${(rRows.toSet diff want).size} rows"
    ).collect { case (true, msg) => msg }

    val plain = s"$dir/plain"
    ManifestTable.read(spark, target, DocSchema).write.parquet(plain)
    val spaceAmp = (Workload.bytesUnder(target) + Workload.bytesUnder(replicaPath)).toDouble /
      (2.0 * Workload.bytesUnder(plain))

    val ops = probe.ops
    val fresh = ops.map(_.seconds)
    val wall = (ops.last.endNs - ops.head.startNs) / 1e9
    val envelopes = ops.map(_.rows).sum
    val tables = Seq(target, replicaPath)
    Report(
      latencies = fresh,
      attempted = ops.size,
      opsPerS = envelopes / wall,
      named = Seq(
        "freshness_p50_s" -> Json.num(Stats.median(fresh)),
        "freshness_tail_s" -> Workload.tailJson(fresh),
        "pipeline_rows_per_s" -> Json.num(envelopes / wall),
        "pipeline_space_amp" -> Json.num(spaceAmp),
        "batches" -> batches.toString,
        "compactions" -> (batches / CompactEvery).toString,
        "distinct_keys" -> gen.distinctKeys.toString),
      problems = problems,
      failedOps = if (problems.nonEmpty) ops.size else ops.count(!_.ok),
      layers = if (probe.traced) streamLayers(probe) ++ Seq(
        "manifest.versions_live" -> tables.map(ManifestTable.versions(spark, _).size).sum.toDouble,
        "manifest.files_live" -> tables.map(ManifestTable.detail(spark, _).map(_._3).sum).sum.toDouble)
      else Nil)
  }

  /** Mean per-batch phase times of the two streams over the timed batches. */
  private def streamLayers(probe: Probe): Seq[(String, Double)] = {
    val prog = probe.streams.map(_.progress).getOrElse(Nil)
    def of(q: StreamingQuery) = prog.filter(_.queryId == q.id.toString)
    val c = of(cdc).filter(_.batchId >= timedFrom)
    // the replica numbers its own batches; take its last `batches` triggers
    val r = of(replica).filter(_.numInputRows > 0).takeRight(batches)
    def mean(ps: Seq[Progress], keys: String*): Double =
      if (ps.isEmpty) 0.0
      else ps.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum / 1000.0 / ps.size
    // the replica sink compacts on batch ids divisible by CompactEvery
    val compacting = r.filter(p => p.batchId > 0 && p.batchId % CompactEvery == 0)
    Seq(
      "cdc.batch_s" -> mean(c, "triggerExecution"),
      "cdc.add_batch_s" -> mean(c, "addBatch"),
      "cdc.get_batch_s" -> mean(c, "getBatch"),
      "cdc.compact_batch_s" -> mean(compacting, "triggerExecution"),
      "change_feed.latest_offset_s" -> mean(r, "latestOffset", "getOffset"),
      "change_feed.get_batch_s" -> mean(r, "getBatch"),
      "stream_sink.add_batch_s" -> mean(r, "addBatch"),
      "stream.wal_s" -> (mean(c, "walCommit", "commitOffsets") + mean(r, "walCommit", "commitOffsets")))
  }
}

object CdcPipeline {
  val Partitions = 4
  val BatchSize = 200
  val SeedRows = 2000
  /** The replica sink folds its append log every CompactEvery batches; a
    * run measures whole cycles of it.
    */
  val CompactEvery = 4
  /** The CDC stream never compacts within a run. With inline compaction,
    * `runMergeOnRead` publishes two versions in one batch and its
    * `vacuum(retainVersions = 1)` then deletes the deletion vectors of the
    * version the change-feed replica, one batch behind, still has to read:
    * the replica fails with FAILED_READ_FILE.FILE_NOT_EXIST. Until that is
    * fixed in the engine, the CDC stream's merge-on-read log grows through
    * the run and only the replica compacts.
    */
  val DispatchCompactEvery: Int = Int.MaxValue
  /** Expected seconds per compaction cycle on the reference box (4 cores),
    * which maps `--seconds` to a whole number of cycles.
    */
  val CycleNominalS = 28.0

  val DocSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("p", StringType),
    StructField("v", LongType), StructField("amt", DoubleType),
    StructField("note", StringType)))
}
