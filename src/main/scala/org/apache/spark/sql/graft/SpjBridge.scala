package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FilePartitionReader}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.roaringbitmap.RoaringBitmap

/** One scan task's files, each tagged with its layout's index in
  * [[GraftReaderFactory]]: Spark's own [[FilePartition]], plus the tags.
  */
private[graft] class GraftFilePartition(idx: Int, fs0: Array[PartitionedFile],
                                        val layouts: Array[Int])
    extends FilePartition(idx, fs0)

/** A storage-partitioned scan's partition: also carries the partition
  * tuple `KeyGroupedPartitioning` groups on ([[HasPartitionKey]]).
  */
private[graft] class KeyedFilePartition(idx: Int, fs0: Array[PartitionedFile],
                                        layouts: Array[Int], key: Array[Any])
    extends GraftFilePartition(idx, fs0, layouts) with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(key)
}

/** One partition layout: the columns its dirs supply (`partCols`, read-
  * schema order) and the table columns its files hold (`dataSchema`).
  */
final case class ScanLayout(partCols: Seq[String], dataSchema: StructType)

/** Shim-package seam for `graft.sources.GraftScan`, whose file packing and
  * reader are Spark's `private[sql]` machinery: Spark's OWN V2 parquet
  * factory reads every file, so vectorized reads, field ids, type
  * widening, row-group filters and the row index work as in a plain read.
  */
object SpjBridge {

  /** Scheme-free path of a data file — `file:///a/b` and `file:/a/b` both
    * render `/a/b`: the `__f` key deletion vectors store.
    */
  def fileKey(urlEncodedPath: String): String =
    urlEncodedPath.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")

  /** `schema` nullable at every depth, as a file source reports it. */
  def nullable(schema: StructType): StructType = schema.asNullable

  /** A DataFrame over `table`'s one V2 relation (no catalog). */
  def frame(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty()))

  /** `files` (status, partition values, layout index) split and packed as
    * Spark packs a file-source scan (`FilePartition.maxSplitBytes` /
    * `getFilePartitions`): the same task count.
    */
  def packedPartitions(spark: SparkSession,
                       files: Seq[(FileStatus, InternalRow, Int)]): Seq[InputPartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_._1.getLen + openCost).sum)
    val layoutOf = new java.util.IdentityHashMap[PartitionedFile, Int]()
    val split = files.flatMap { case (st, values, layout) =>
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(st, Map.empty), st.getPath,
        isSplitable = true, maxSplit, values).map { f => layoutOf.put(f, layout); f }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, split, maxSplit).map(p =>
      new GraftFilePartition(p.index, p.files, p.files.map(layoutOf.get)))
  }

  /** One partition of whole, unsplit files for the partition tuple `key`
    * (Int bucket ids, Long time-transform values): the tuple is the
    * co-location quantum a storage-partitioned join keys on.
    */
  def keyedPartition(index: Int, key: Seq[Any],
                     files: Seq[(FileStatus, InternalRow, Int)]): InputPartition =
    new KeyedFilePartition(index, files.map { case (st, values, _) =>
      new PartitionedFile(values, SparkPath.fromPath(st.getPath), 0L, st.getLen,
        Array.empty, st.getModificationTime, st.getLen, Map.empty)
    }.toArray, files.map(_._3).toArray, key.toArray)

  /** Spark's V2 parquet factory for one layout: `readDataSchema` from the
    * files, `partitionSchema` appended from each file's partition values.
    */
  private def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                                   readDataSchema: StructType, partitionSchema: StructType,
                                   filters: Array[Filter]): ParquetPartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    // the SESSION SQLConf snapshot: session timezone, vectorization flags,
    // and the field-id read flag (`graft.sources.FieldIds` enables it on
    // the session the moment an id-carrying table is scanned) all carry over
    val sqlConf = spark.sessionState.conf.clone()
    // the task-side hadoop configuration Spark's own ParquetScan ships to
    // its reader factory — the read-support class and requested schema are
    // read with NO default inside the task (absent keys NPE there)
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readDataSchema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, sqlConf.parquetFieldIdReadEnabled)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(sqlConf, bc, dataSchema, readDataSchema,
      partitionSchema, filters, None, new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** The one reader factory of a scan producing `readSchema`: a parquet
    * factory per layout, `__f` (the [[fileKey]]) and `__pos` (the row
    * index) filled where named, rows `dv` masks dropped. Columnar batches
    * when no mask and no metadata column is involved.
    */
  def readerFactory(spark: SparkSession, readSchema: StructType, layouts: Seq[ScanLayout],
                    filters: Array[Filter],
                    dv: Option[Map[String, RoaringBitmap]]): PartitionReaderFactory = {
    val needPos = readSchema.fieldNames.contains("__pos") || dv.isDefined
    val cols = readSchema.fields.filterNot(f => f.name == "__f" || f.name == "__pos")
    val built = layouts.map { l =>
      val part = StructType(cols.filter(f => l.partCols.contains(f.name)))
      val data = StructType(cols.filterNot(f => l.partCols.contains(f.name)) ++
        (if (needPos) Seq(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          LongType)) else Nil))
      // reader row = data ++ part, then the file key: each output column's ordinal
      val names = data.fieldNames ++ part.fieldNames
      val ordinals = readSchema.fieldNames.map {
        case "__f" => names.length
        case "__pos" => data.length - 1
        case n => names.indexOf(n)
      }
      (parquetReaderFactory(spark, l.dataSchema, data, part, filters), ordinals)
    }
    val meta = readSchema.fieldNames.exists(n => n == "__f" || n == "__pos")
    new GraftReaderFactory(built.map(_._1).toArray, built.map(_._2).toArray, readSchema,
      dv.map(spark.sparkContext.broadcast(_)), columnar = !meta && dv.isEmpty &&
        built.nonEmpty && built.forall(_._1.supportColumnarReads(null)))
  }
}

/** See [[SpjBridge.readerFactory]]: per layout, `ordinals` place each
  * read-schema column in (data ++ partition columns ++ file key); the row
  * index, when read, is the last data column.
  */
private[graft] class GraftReaderFactory(parquet: Array[ParquetPartitionReaderFactory],
                                        ordinals: Array[Array[Int]], readSchema: StructType,
                                        dv: Option[Broadcast[Map[String, RoaringBitmap]]],
                                        columnar: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  private def layoutOf(p: InputPartition): PartitionedFile => Int = {
    val gp = p.asInstanceOf[GraftFilePartition]
    val m = new java.util.IdentityHashMap[PartitionedFile, Int]()
    gp.files.indices.foreach(i => m.put(gp.files(i), gp.layouts(i)))
    m.get
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val layout = layoutOf(partition)
    val projections = new Array[UnsafeProjection](parquet.length)
    new FilePartitionReader[InternalRow](partition.asInstanceOf[FilePartition].files.iterator,
      { file =>
        val l = layout(file)
        if (projections(l) == null) projections(l) = UnsafeProjection.create(
          ordinals(l).toSeq.zip(readSchema.fields).map { case (o, f) =>
            BoundReference(o, f.dataType, nullable = true) })
        val proj = projections(l)
        val key = SpjBridge.fileKey(file.urlEncodedPath)
        val masked = dv.flatMap(_.value.get(key))
        val pos = parquet(l).readDataSchema.length - 1
        val keyRow = new GenericInternalRow(Array[Any](UTF8String.fromString(key)))
        val joined = new JoinedRow
        val inner = parquet(l).buildReader(file)
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              if (masked.forall { b =>
                  val i = r.getLong(pos); i > Int.MaxValue || !b.contains(i.toInt) }) {
                cur = proj(joined(r, keyRow))
                return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
      }, parquet.head.options)
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val layout = layoutOf(partition)
    new FilePartitionReader[ColumnarBatch](partition.asInstanceOf[FilePartition].files.iterator,
      { file =>
        val order = ordinals(layout(file))
        val inner = parquet(layout(file)).buildColumnarReader(file)
        // files hand back data ++ partition columns: reorder to the read schema
        if (order.sameElements(order.indices)) inner
        else new PartitionReader[ColumnarBatch] {
          override def next(): Boolean = inner.next()
          override def get(): ColumnarBatch = {
            val b = inner.get()
            new ColumnarBatch(order.map(b.column): Array[ColumnVector], b.numRows())
          }
          override def close(): Unit = inner.close()
        }
      }, parquet.head.options)
  }
}
