package org.apache.spark.sql.execution.datasources.parquet

/** `readSchema`, the footer fold behind a `mergeSchema` read, is `private[parquet]`. */
object GraftParquetAccess {
  def readSchema(footers: Seq[org.apache.parquet.hadoop.Footer],
                 spark: org.apache.spark.sql.SparkSession): Option[org.apache.spark.sql.types.StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
