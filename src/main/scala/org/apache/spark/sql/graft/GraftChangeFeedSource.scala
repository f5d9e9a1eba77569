package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.ManifestTable

/** Structured-Streaming CHANGE FEED over a [[graft.sources.ManifestTable]]
  * — `spark.readStream.format("graft").option("key", …).load(root)` — the
  * continuous restatement of the reference's change stream
  * (reference: src/process_insert_update_weather_data.py:168): each
  * committed manifest version becomes (up to batching) one micro-batch of
  * `_change_type`-tagged rows, exactly [[ManifestTable.changes]]' net-diff
  * output, so a `foreachBatch` consumer folds the feed with one
  * [[ManifestTable.mergeDv]] per batch and a downstream replica stays
  * continuously converged instead of poll-replicated.
  *
  * Offsets are the source table's committed manifest versions (a
  * monotonic long — restart-safe through the checkpoint log). The FIRST
  * batch seeds: the snapshot at the stream's starting version emitted as
  * `insert` rows (Delta `readChangeFeed` + `startingVersion` semantics;
  * default = the earliest manifest still on disk). `maxVersionsPerBatch`
  * (default 1) bounds how many source commits fold into one micro-batch;
  * net-diff semantics make ANY chunking correct — intermediate states
  * collapse, which is the scale posture: a consumer that fell hours
  * behind reads each changed partition once, not once per missed commit.
  *
  * Run inside the source's vacuum retention window, the standard
  * CDC-consumer contract ([[ManifestTable.changes]] needs both boundary
  * manifests on disk).
  *
  * Lives in `org.apache.spark.sql.graft` because the V1 streaming seam
  * (`execution.streaming.Source`, `internalCreateDataFrame`) is
  * package-private to Spark.
  */
class GraftChangeFeedSource(sqlContext: SQLContext, root: String,
                            tableSchema: StructType, keys: Seq[String],
                            startingVersion: Option[Long],
                            maxVersionsPerBatch: Int) extends Source {

  private val spark = sqlContext.sparkSession

  override val schema: StructType = GraftChangeFeedSource.cdfSchema(tableSchema)

  /** Highest version already offered to the engine — chunking state only:
    * correctness never depends on it (a restart resets it and the
    * checkpointed offsets drive [[getBatch]] directly).
    */
  private var lastOffered: Option[Long] = None

  override def getOffset: Option[Offset] = {
    val listed = ManifestTable.listRoot(spark, root)
    val cur = listed.head.getOrElse(return None)
    val target = lastOffered match {
      case None =>
        // first batch = the seed snapshot at the starting version
        val vs = listed.versions
        startingVersion.map(v => math.min(math.max(v, vs.head), cur))
          .getOrElse(vs.head)
      case Some(x) => math.min(cur, x + maxVersionsPerBatch)
    }
    // never regress past what the engine already has (e.g. a restart where
    // the checkpoint is ahead of this instance's chunking state)
    val off = lastOffered.map(math.max(_, target)).getOrElse(target)
    lastOffered = Some(off)
    Some(LongOffset(off))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    def ver(o: Offset): Long = o.json.trim.toLong
    val endV = ver(end)
    lastOffered = Some(lastOffered.map(math.max(_, endV)).getOrElse(endV))
    val out = start.map(ver) match {
      case Some(s) if s >= endV =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      case Some(s) =>
        ManifestTable.changes(spark, root, tableSchema, keys, s, endV)
      case None =>
        ManifestTable.read(spark, root, tableSchema, Some(endV))
          .select(lit("insert").as("_change_type")
            +: tableSchema.fieldNames.toSeq.map(col): _*)
    }
    // the engine requires an isStreaming plan; re-root the batch relation
    // (FileStreamSource does exactly this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(out.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftChangeFeedSource[$root]"
}

object GraftChangeFeedSource {
  def cdfSchema(tableSchema: StructType): StructType =
    StructType(StructField("_change_type", StringType) +: tableSchema.fields)
}
