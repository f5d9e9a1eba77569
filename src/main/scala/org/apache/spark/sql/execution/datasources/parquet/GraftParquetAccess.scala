package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.types.StructType

/** `readSchema`, the footer fold behind a `mergeSchema` read, is
  * `private[parquet]`; `parsePartitions`, a directory read's dir-column
  * typing, is `private[datasources]`.
  */
object GraftParquetAccess {
  def readSchema(footers: Seq[org.apache.parquet.hadoop.Footer],
                 spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)

  /** The dir columns of `dirs` under `base`, typed as a directory read types them. */
  def partitionSchema(spark: SparkSession, base: Path, dirs: Seq[Path]): StructType = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(dirs, typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(base), userSpecifiedSchema = None, caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths).partitionColumns
  }
}
