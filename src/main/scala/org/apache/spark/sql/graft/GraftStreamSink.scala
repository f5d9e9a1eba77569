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
  * batches, driven by `writeStream.format("graft")`
  * ([[graft.sources.GraftSource]]), [[graft.cdc.Dispatch.runMergeOnRead]]
  * (each CDC micro-batch's deduped upsert leg) and
  * [[graft.sources.ManifestTable.replicate]] (the source snapshot as seed
  * batch, then one change-feed batch per source version, the version as
  * the batch id). Three per-batch commit shapes, the first batch creating
  * the table in each:
  *
  *  - default: BLIND APPEND (O(batch) write, commutes with any concurrent
  *    commit) — the event-log / audit-log sink.
  *  - `mergeKey = k1[,k2…]`: keyed MERGE per micro-batch
  *    ([[ManifestTable.mergeDv]], O(batch + accumulated deletes) written)
  *    — the continuously-upserted table.
  *  - `mergeKey` + `cdf = true`: the batch carries `_change_type` rows (a
  *    [[GraftChangeFeedSource]] feed): inserts/update-postimages upsert,
  *    deletes delete, preimages drop — so
  *    `readStream.format("graft") → writeStream.format("graft")` IS
  *    continuous replication, the reference's Mongo→BigQuery loop
  *    (src/process_insert_update_weather_data.py:166-187) with no driver
  *    code in the middle.
  *
  * ONE PASS per batch, with no materialization job: the batch's rows pass
  * one tap ([[KeyProbe.tap]]) into the stage write of its commit, which in
  * cdf mode also gathers the delete rows' keys and partition values — the
  * delete leg mergeDv reads after staging. A batch that lands no row and
  * deletes no key publishes no version; the marker still records it.
  *
  * MAINTENANCE, when `compactEvery > 0`: batch `b` compacts when
  * `b > 0 && b % compactEvery == 0`, and every batch ends with a vacuum
  * keeping one version per version it published (2 on a compaction batch,
  * else 1), so a change-feed reader one batch behind still finds the
  * version it resumes from; `compactEvery = 0` does none.
  *
  * EXACTLY-ONCE: Structured Streaming replays the same `batchId` after a
  * crash; every table commit of a batch carries a `#batch\t<id>` directive
  * INSIDE the manifest ([[ManifestTable.withBatchId]]), so commit and
  * batch-id record appear in ONE atomic rename. A `_sink.batch.<id>` marker
  * file written after the commit is a listing fast path (the id rides the
  * file NAME, so it appears atomically) and the record that survives a
  * vacuum or compaction past the last batch commit; recovery takes the max
  * of both ([[lastCommitted]]). One streaming writer per table, like every
  * manifest committer.
  *
  * Lives in `org.apache.spark.sql.graft`: the V1 sink seam
  * (`execution.streaming.Sink`) and the streaming→batch plan re-rooting
  * (`internalCreateDataFrame`) are package-private to Spark.
  */
class GraftStreamSink(sqlContext: SQLContext, root: String,
                      partCol: Option[String], mergeKeys: Seq[String],
                      cdf: Boolean, compactEvery: Int = 0) extends Sink {

  private val spark = sqlContext.sparkSession

  /** The highest batch id this sink committed at `root`, -1 when none: the
    * progress record a caller resumes from. The manifest directive is the
    * atomic truth; markers are a fast path that can lag one batch behind
    * after a crash in the marker-write window. Both come from one root
    * listing.
    */
  def lastCommitted(): Long = lastCommitted(ManifestTable.listRoot(spark, root))

  private def lastCommitted(l: ManifestTable.RootListing): Long =
    (l.sinkBatches ++ ManifestTable.lastBatchId(l)).foldLeft(-1L)(math.max)

  /** Mark `batchId` committed. The fast-path marker
    * ([[ManifestTable.SinkMarkerPrefix]] + id) carries the id in its NAME:
    * create+close of an empty file appears atomically, so no crash leaves
    * a partial marker that wedges every restart. The ATOMIC record is the
    * manifest's own #batch directive; the marker additionally survives a
    * vacuum that trims history past the last sink commit. The highest
    * number wins; the older markers `l` listed are swept (this sink is the
    * table's one marker writer).
    */
  private def writeMarker(batchId: Long, l: ManifestTable.RootListing): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(root, ManifestTable.SinkMarkerPrefix + batchId), true).close()
    l.sinkBatches.filter(_ < batchId).foreach(i =>
      fs.delete(new Path(root, ManifestTable.SinkMarkerPrefix + i), false))
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // one listing answers progress, the older markers and the snapshot the
    // batch's first commit lands on; its later commits resolve afresh
    val listed = ManifestTable.listRoot(spark, root)
    if (batchId <= lastCommitted(listed)) return // crash-replay of a committed batch
    if (cdf) {
      require(mergeKeys.nonEmpty,
        "graft sink: cdf mode requires option 'mergeKey' (the table's merge key columns)")
      require(data.columns.contains("_change_type"),
        "graft sink: cdf mode expects a _change_type column (a graft change-feed stream)")
    }
    val snap = ManifestTable.snapshot(spark, root, listed, None)
    // the ACTIVE spec, resolved per batch: a declared table's (identity or
    // hidden transform — and any partition EVOLUTION between restarts,
    // unpartitioning included) wins over the stream's static `partitionBy`
    // option, which stays the identity spec of path-first targets
    val spec = snap.spec(partCol.map(graft.sources.PartSpec.Identity))
    val idSrc = spec.filter(_.isIdentity).map(_.source)
    // ONE pass: the re-rooted batch feeds the stage write inside commit/
    // append/mergeDv, which gathers the cdf delete rows' key tuples
    val ct = data.schema.fieldNames.indexOf("_change_type")
    val delCols = if (cdf) (mergeKeys ++ idSrc).distinct else Nil
    val tap = KeyProbe.tap(data, delCols,
      r => !r.isNullAt(ct) && r.getUTF8String(ct).toString == "delete")
    // cdf: inserts and update postimages land, deletes mask, preimages drop
    val ups = if (!cdf) tap.frame
      else tap.frame.filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
    // CHECK constraints guard the rows that LAND; delete rows carry keys
    // only and are masks, not writes
    val checked = graft.sources.Checks.enforce(ups, snap.checks)
    // a delete leg only when the batch held delete rows: without one, the
    // position scan stays on the touched partitions whatever the spec
    lazy val delRows = tap.picked().collect() // a local frame: no job
    lazy val dels = Option.when(delRows.nonEmpty)(tap.picked())
    // the partition hint only holds for identity specs: an EVOLVED table
    // may hold a hidden transform's old-layout dirs — mergeDv full-scans
    lazy val delParts = idSrc.map(s =>
      delRows.toSeq.map(r => ManifestTable.partDirName(s, r.get(delCols.indexOf(s)))).distinct)
    ManifestTable.withBatchId(batchId) {
      if (snap.version.isEmpty) {
        ManifestTable.commit(checked, snap, spec, true, Nil, Nil)
        // a mixed first cdf batch (dst dropped while the source checkpoint
        // survived) must not silently drop its delete rows
        dels.foreach(d => ManifestTable.mergeDv(checked.limit(0), root, ups.schema,
          mergeKeys, spec, Nil, Nil, Some(d), delParts))
      } else if (mergeKeys.isEmpty) ManifestTable.append(checked, snap, spec, Nil, Nil)
      else ManifestTable.mergeDv(checked, snap, ups.schema, mergeKeys, spec,
        Nil, Nil, dels, delParts)
    }
    writeMarker(batchId, listed)
    // the merge-on-read + OPTIMIZE pairing, inline; the version the batch
    // started from is where a change-feed reader one batch behind resumes,
    // and where a concurrent reader's snapshot may still be mid-scan
    if (compactEvery > 0) {
      val compacting = batchId > 0 && batchId % compactEvery == 0
      if (compacting) {
        val head = ManifestTable.snapshot(spark, root)
        ManifestTable.compact(spark, head, ManifestTable.inferSchema(spark, head), spec)
      }
      ManifestTable.vacuum(spark, root, retainVersions = if (compacting) 2 else 1)
    }
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
