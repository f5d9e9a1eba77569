package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col

import graft.sources.ManifestTable

/** Structured-Streaming SINK for [[graft.sources.ManifestTable]] —
  * `df.writeStream.format("graft").option(…).start(root)` — the write half
  * of the continuous lakehouse loop (the read half is
  * [[GraftChangeFeedSource]]) and the ONE keyed-apply path for change
  * batches. Three callers drive it:
  *
  *  - `writeStream.format("graft")` ([[graft.sources.GraftSource]]);
  *  - [[graft.cdc.Dispatch.runMergeOnRead]], which hands it each CDC
  *    micro-batch's deduped upsert leg;
  *  - [[graft.sources.ManifestTable.replicate]], which hands it the source
  *    snapshot as its seed batch and then one change-feed batch per source
  *    version, the version as the batch id.
  *
  * Three per-batch commit shapes:
  *
  *  - default: BLIND APPEND (O(batch) write, commutes with any concurrent
  *    commit) — the event-log / audit-log sink.
  *  - `mergeKey = k1[,k2…]`: keyed MERGE per micro-batch
  *    ([[ManifestTable.mergeDv]], O(batch + accumulated deletes) written:
  *    the DV's one bitmap file is rewritten whole until `compactEvery`
  *    folds it) — the continuously-upserted table.
  *  - `mergeKey` + `cdf = true`: the batch carries `_change_type` rows (a
  *    [[GraftChangeFeedSource]] feed): inserts/update-postimages upsert,
  *    deletes delete, preimages drop — so
  *    `readStream.format("graft") → writeStream.format("graft")` IS
  *    continuous replication, the reference's Mongo→BigQuery loop
  *    (src/process_insert_update_weather_data.py:166-187) as one
  *    declarative pipeline with no driver code in the middle.
  *
  * The first batch creates the table in every shape.
  *
  * MAINTENANCE, when `compactEvery > 0`: batch `b` compacts when
  * `b > 0 && b % compactEvery == 0`, and every batch ends with a vacuum
  * keeping one version per version it published (2 on a compaction batch,
  * else 1), so a change-feed reader one batch behind still finds the
  * version it resumes from. `compactEvery = 0` does no maintenance.
  *
  * EXACTLY-ONCE: Structured Streaming replays the same `batchId` after a
  * crash; every table commit of a batch carries a `#batch\t<id>` directive
  * INSIDE the manifest ([[ManifestTable.withBatchId]]) — commit and
  * batch-id record appear in ONE atomic rename, so there is no window
  * where the data landed but the id didn't (the marker-after-commit gap
  * that would double-append a replayed blind-append batch). A numbered
  * `_sink.batch.<id>` marker file is still written after the commit as a
  * listing fast path (the id rides the file NAME so it appears
  * atomically) and as the record that survives a vacuum or compaction
  * past the last batch commit; recovery takes the max of both
  * ([[lastCommitted]]). One streaming writer per table, like every
  * manifest committer; the keyed-merge shapes are additionally idempotent
  * per batch content.
  *
  * Lives in `org.apache.spark.sql.graft`: the V1 sink seam
  * (`execution.streaming.Sink`) and the streaming→batch plan re-rooting
  * (`internalCreateDataFrame`) are package-private to Spark.
  */
class GraftStreamSink(sqlContext: SQLContext, root: String,
                      partCol: Option[String], mergeKeys: Seq[String],
                      cdf: Boolean, compactEvery: Int = 0) extends Sink {

  private val spark = sqlContext.sparkSession

  // fast-path marker: the batch id rides the file's NAME, not its content
  // (create+close of an empty file appears atomically — no
  // truncate-then-write window where a crash leaves a partial marker that
  // wedges every restart); the highest number wins, older markers are
  // best-effort swept after each commit. The ATOMIC record is the
  // manifest's own #batch directive; the marker additionally survives a
  // vacuum that trims history past the last sink commit.
  private val MarkerPrefix = "_sink.batch."

  private def fs0 = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def markerIds(): Seq[Long] = {
    val fs = fs0
    val rootP = new Path(root)
    if (!fs.exists(rootP)) Nil
    else fs.listStatus(rootP).map(_.getPath.getName)
      .filter(_.startsWith(MarkerPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(MarkerPrefix).toLong).toOption)
      .toSeq
  }

  /** The highest batch id this sink committed at `root`, -1 when none: the
    * progress record a caller resumes from. The manifest directive is the
    * atomic truth; markers are a fast path that can lag one batch behind
    * after a crash in the marker-write window.
    */
  def lastCommitted(): Long =
    (markerIds() ++ ManifestTable.lastBatchId(spark, root)).foldLeft(-1L)(math.max)

  private def writeMarker(batchId: Long): Unit = {
    val fs = fs0
    fs.create(new Path(root, MarkerPrefix + batchId), true).close()
    markerIds().filter(_ < batchId).foreach(i =>
      fs.delete(new Path(root, MarkerPrefix + i), false))
  }

  /** The ACTIVE partition spec, resolved per batch: a sidecar-declared
    * spec (identity or hidden transform — and any partition EVOLUTION
    * between restarts) wins over the stream's static `partitionBy`
    * option, which stays the identity fallback for path-first targets.
    */
  private def activeSpec: Option[graft.sources.PartSpec] =
    graft.sources.PartSpecs.currentOf(spark, root)
      .orElse(partCol.map(graft.sources.PartSpec.Identity))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (batchId <= lastCommitted()) return // crash-replay of a committed batch
    // re-root the micro-batch plan as a batch relation (the engine hands a
    // streaming-tagged plan; writes need the batch form), materialized once
    // because the merge shapes consume it several times.
    //
    // Batch statistics RIDE the checkpoint's materialization pass (r22):
    // the emptiness probes (`ups.limit(1).count()`, `dels.limit(1).count()`)
    // and the delete-partition-hint collect were three more driver actions
    // per micro-batch over an already-materialized tiny relation — pure
    // scheduler round-trips. Accumulators can over-count on task retry,
    // which is harmless for BOTH uses: emptiness (a retried task re-adds
    // rows it HAS, never inventing one for an empty batch) and the delete
    // partition-value SET (re-added values dedupe driver-side).
    val rerooted = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(data.queryExecution.toRdd, data.schema,
        isStreaming = false)
    // classify ONLY in cdf mode: a non-cdf stream may legitimately carry a
    // _change_type column (change-feed rows appended verbatim) — there the
    // old emptiness probe counted every row, so must we
    val ctIdx = if (cdf) data.schema.fieldNames.indexOf("_change_type") else -1
    val spec = activeSpec
    val srcIdx = spec.filter(_.isIdentity)
      .map(sp => data.schema.fieldNames.indexOf(sp.source)).getOrElse(-1)
    val upsAcc = spark.sparkContext.longAccumulator(s"graft.sink.ups.$batchId")
    val delAcc = spark.sparkContext.longAccumulator(s"graft.sink.dels.$batchId")
    val delVals = spark.sparkContext
      .collectionAccumulator[Any](s"graft.sink.delvals.$batchId")
    val enc = org.apache.spark.sql.Encoders.row(data.schema)
    val batch = rerooted.mapPartitions { it =>
      it.map { r =>
        if (ctIdx < 0) upsAcc.add(1L)
        else r.getString(ctIdx) match {
          case "delete" =>
            delAcc.add(1L)
            if (srcIdx >= 0) delVals.add(r.get(srcIdx))
          case "insert" | "update_postimage" => upsAcc.add(1L)
          case _ => ()
        }
        r
      }
    }(enc).localCheckpoint()
    val nUps = upsAcc.value; val nDels = delAcc.value
    val delValsDistinct: Seq[Any] = {
      import scala.jdk.CollectionConverters._
      delVals.value.asScala.toSeq.distinct
    }
    try {
      if (cdf) {
        require(mergeKeys.nonEmpty,
          "graft sink: cdf mode requires option 'mergeKey' (the table's merge key columns)")
        require(batch.columns.contains("_change_type"),
          "graft sink: cdf mode expects a _change_type column (a graft change-feed stream)")
      }
      // cdf: inserts and update postimages land, deletes mask, preimages drop
      val ups = if (!cdf) batch
        else batch.filter(col("_change_type").isin("insert", "update_postimage"))
          .drop("_change_type")
      // CHECK constraints guard the rows that LAND; delete rows carry keys
      // only and are masks, not writes
      val checked = graft.sources.Checks.enforce(ups,
        graft.sources.Checks.forTable(spark, root))
      // a delete leg only when the batch holds delete rows: without one, the
      // position scan stays on the touched partitions whatever the spec
      val dels = Option.when(nDels > 0)(batch.filter(col("_change_type") === "delete")
        .select((mergeKeys ++ spec.filter(_.isIdentity).map(_.source)).distinct.map(col): _*))
      // the delete-leg partition hint only holds for identity specs: a
      // hidden transform's dir value is derivable but an EVOLVED table may
      // hold old-layout dirs — mergeDv full-scans there
      val delParts = spec.filter(_.isIdentity).map { sp =>
        delValsDistinct.map(v => ManifestTable.partDirName(sp.source, v))
      }
      ManifestTable.withBatchId(batchId) {
        if (!ManifestTable.exists(spark, root)) {
          ManifestTable.commit(checked, root, spec)
          // a mixed first cdf batch (dst dropped while the source checkpoint
          // survived) must not silently drop its delete rows
          dels.foreach(d => ManifestTable.mergeDv(checked.limit(0), root, ups.schema,
            mergeKeys, spec, Nil, Nil, Some(d), delParts))
        } else if (nUps + nDels > 0) {
          if (mergeKeys.isEmpty) ManifestTable.append(checked, root, spec)
          else ManifestTable.mergeDv(checked, root, ups.schema, mergeKeys, spec,
            Nil, Nil, dels, delParts)
        }
      }
      writeMarker(batchId)
      // the merge-on-read + OPTIMIZE pairing, inline: per-batch appends
      // accrete files and DV rows; every `compactEvery` batches the sink
      // folds the append log into one clean version. The vacuum keeps one
      // version per version this batch published (merge, plus the compact
      // on a compaction batch): the version the batch started from is where
      // a change-feed reader one batch behind resumes, and where a
      // concurrent reader's resolved snapshot may still be mid-scan
      if (compactEvery > 0) {
        val compacting = batchId > 0 && batchId % compactEvery == 0
        if (compacting)
          ManifestTable.compact(spark, root, ManifestTable.inferSchema(spark, root), spec)
        ManifestTable.vacuum(spark, root, retainVersions = if (compacting) 2 else 1)
      }
    } finally Checkpoints.release(batch)
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
