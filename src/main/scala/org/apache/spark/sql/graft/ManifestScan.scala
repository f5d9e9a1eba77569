package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetAccess
import org.apache.spark.sql.types.StructType

/** Dir columns and schema inference over a manifest snapshot's live data files. */
object ManifestScan {

  /** `(column, raw value)` of each hive-style segment of `dir`, relative to
    * its data version dir `base`.
    */
  def dirColumns(base: Path, dir: Path): Seq[(String, String)] =
    dir.toString.stripPrefix(base.toString).split('/').toSeq
      .filter(_.contains('=')).map { s =>
        val i = s.indexOf('=')
        (unescapePathName(s.take(i)), s.drop(i + 1))
      }

  /** The schema of `files`: `footers` (one per data version, ascending)
    * merged on the driver as a `mergeSchema` read folds its files, plus the
    * hive-style dir columns, typed by Spark's own partition inference as a
    * directory read types them (the first data version's type wins).
    */
  def inferSchema(spark: SparkSession, files: Seq[(Path, FileStatus)],
                  footers: Seq[Footer]): StructType = {
    val data = GraftParquetAccess.readSchema(footers, spark).getOrElse(new StructType())
    // inference takes one base dir and one layout per call
    val dirCols = files.groupBy { case (base, f) =>
        (base, dirColumns(base, f.getPath.getParent).map(_._1)) }
      .toSeq.sortBy(_._1._1.toString).flatMap { case ((base, _), fs) =>
        GraftParquetAccess.partitionSchema(spark, base, fs.map(_._2.getPath.getParent).distinct).fields
      }
    dirCols.foldLeft(data)((s, f) => if (s.fieldNames.contains(f.name)) s else s.add(f))
      .asNullable
  }
}
