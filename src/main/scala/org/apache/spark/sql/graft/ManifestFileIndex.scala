package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, unescapePathName}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetAccess, ParquetFileFormat}
import org.apache.spark.sql.types.StructType

/** File index over data files a manifest snapshot has ALREADY listed
  * (`dirs`, each under one of the data version dirs `bases`): no glob, no
  * exists check, and never a listing job (`InMemoryFileIndex` turns to a
  * parallel listing job above `parallelPartitionDiscovery.threshold`
  * paths). Spark's own partition-filter pruning still runs in the
  * inherited `listFiles`. Without a `spec` the partitioning is inferred
  * from the dir names, as a directory read infers it.
  */
private[graft] class ManifestFileIndex(spark: SparkSession, bases: Seq[Path],
                                       dirs: Map[Path, Array[FileStatus]],
                                       spec: Option[PartitionSpec])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  private lazy val resolved = spec.getOrElse(inferPartitioning())
  override def partitionSpec(): PartitionSpec = resolved
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = dirs
  override val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap.from(dirs.values.flatten.map(f => f.getPath -> f))
  override def rootPaths: Seq[Path] = bases
  override def allFiles(): Seq[FileStatus] = leafFiles.values.toSeq
  override def refresh(): Unit = ()
  // equal file sets scan equal rows — lets exchange reuse match two reads
  // of one snapshot, as `InMemoryFileIndex`'s root-path equality did
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex =>
      m.partitionSpec() == partitionSpec() && m.leafFiles.keySet == leafFiles.keySet
    case _ => false
  }
  override def hashCode: Int = leafFiles.keySet.hashCode
}

/** Scan relations over a manifest snapshot's live data files. */
object ManifestScan {

  /** `(column, raw value)` of each hive-style segment of `dir`, relative to
    * its data version dir `base`.
    */
  private def dirColumns(base: Path, dir: Path): Seq[(String, String)] =
    dir.toString.stripPrefix(base.toString).split('/').toSeq
      .filter(_.contains('=')).map { s =>
        val i = s.indexOf('=')
        (unescapePathName(s.take(i)), s.drop(i + 1))
      }

  /** One parquet relation per partition layout over `files` (each paired
    * with its qualified data version dir), read under `schema`. A dir
    * column named in `schema` is a partition column, its value cast from
    * the dir name to the schema's type (`__HIVE_DEFAULT_PARTITION__` is
    * NULL); a hidden transform's dir column is not, since the files carry
    * its source column. Entries of one layout share one relation, whatever
    * data version holds them.
    */
  def relations(spark: SparkSession, schema: StructType,
                files: Seq[(Path, FileStatus)]): Seq[DataFrame] = {
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val byDir = files.groupBy(_._2.getPath.getParent).toSeq.map { case (dir, fs) =>
      val parts = dirColumns(fs.head._1, dir).filter(c => schema.fieldNames.contains(c._1))
      (dir, parts, fs.map(_._2).toArray)
    }
    byDir.groupBy(_._2.map(_._1)).toSeq.map { case (layout, dirs) =>
      // nullable, as any file-source read: files and dir names may hold NULLs
      val partSchema = StructType(layout.map(schema(_))).asNullable
      val paths = dirs.map { case (dir, parts, _) =>
        PartitionPath(InternalRow.fromSeq(parts.zip(partSchema).map { case ((_, raw), f) =>
          if (raw == DEFAULT_PARTITION_NAME) null
          else Cast(Literal(unescapePathName(raw)), f.dataType, Some(tz)).eval()
        }), dir)
      }
      val index = new ManifestFileIndex(spark, files.map(_._1).distinct,
        dirs.map(d => d._1 -> d._3).toMap, Some(PartitionSpec(partSchema, paths)))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
        StructType(schema.filterNot(f => layout.contains(f.name))).asNullable, None,
        new ParquetFileFormat, Map.empty)(spark))
    }
  }

  /** The schema of `files`: `footers` (one per data version, ascending)
    * merged on the driver as a `mergeSchema` read folds its files, plus the
    * hive-style dir columns, typed by inference as a directory read types
    * them (the first data version's type wins).
    */
  def inferSchema(spark: SparkSession, files: Seq[(Path, FileStatus)],
                  footers: Seq[Footer]): StructType = {
    val data = GraftParquetAccess.readSchema(footers, spark).getOrElse(new StructType())
    // inference takes one base dir and one layout per call
    val dirCols = files.groupBy { case (base, f) =>
        (base, dirColumns(base, f.getPath.getParent).map(_._1)) }
      .toSeq.sortBy(_._1._1.toString).flatMap { case (_, fs) =>
        new ManifestFileIndex(spark, Seq(fs.head._1),
          fs.groupBy(_._2.getPath.getParent).map { case (d, g) => d -> g.map(_._2).toArray },
          None).partitionSchema.fields
      }
    dirCols.foldLeft(data)((s, f) => if (s.fieldNames.contains(f.name)) s else s.add(f))
      .asNullable
  }
}
