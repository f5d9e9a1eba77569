package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** SQL front door for [[ManifestTable]] (VERDICT r12 #4): registers the
  * `graft` format so manifest tables resolve through the standard reader
  * and `spark.sql` —
  *
  * {{{
  *   spark.read.format("graft").load(root)                   // schema inferred
  *   spark.read.format("graft").option("versionAsOf", 3)...  // time travel
  *   df.write.format("graft").option("partitionBy", "p")
  *     .mode("overwrite").save(root)                         // snapshot commit
  *   spark.read.format("graft").load(root).createOrReplaceTempView("t")
  *   spark.sql("SELECT ... FROM t WHERE k = 5")              // pruned scan
  * }}}
  *
  * Built on the STABLE DataSource V1 relation API
  * (`org.apache.spark.sql.sources`) rather than V2: V1's
  * [[PrunedFilteredScan]] receives the pushed column set + filters and may
  * return a SUPERSET (Spark re-applies every filter on top), which is
  * exactly the manifest's file-skipping contract — zone maps and Bloom
  * sidecars prune FILES, the engine's own scan applies the predicate. The
  * V2 route needs Spark's internal parquet reader factories (private[sql])
  * for no additional pushdown power here. Filters surface in
  * `explain()` as the relation's `PushedFilters`, asserted in PlanSpec.
  *
  * Reads honor deletion vectors, multi-version partition entries, and time
  * travel because they delegate to [[ManifestTable.read]]/`readPruned`;
  * the relation's `buildScan` hands back the delegated plan's columnar RDD
  * (`needConversion = false`), so no row-format re-conversion happens.
  */
class GraftSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path — spark.read.format(\"graft\").load(root)"))

  /** `versionAsOf` accepts a manifest version number OR a snapshot tag
    * name ([[ManifestTable.setTag]]) — the same resolution the catalog's
    * `VERSION AS OF` does.
    */
  private def asOfOf(sqlContext: SQLContext,
                     parameters: Map[String, String]): Option[Long] =
    parameters.get("versionAsOf").map { v =>
      v.toLongOption.orElse {
        val r = root(parameters)
        ManifestTable.tags(sqlContext.sparkSession, r).get(v.trim)
          .orElse(ManifestTable.refs(sqlContext.sparkSession, r).get(v.trim))
      }.getOrElse {
        val r = root(parameters)
        throw new IllegalArgumentException(
          s"versionAsOf takes a manifest version number, a tag name, or a " +
            s"branch name, got '$v' — known tags: " +
            ManifestTable.tags(sqlContext.sparkSession, r)
              .keys.toSeq.sorted.mkString(", ") + "; branches: " +
            ManifestTable.refs(sqlContext.sparkSession, r)
              .keys.toSeq.sorted.mkString(", "))
      }
    }

  // ------------------- streaming change feed (CDF) --------------------
  //
  //   spark.readStream.format("graft").option("key", "id").load(root)
  //
  // emits `_change_type`-tagged net-diff rows, one micro-batch per source
  // commit (see [[org.apache.spark.sql.graft.GraftChangeFeedSource]]).
  // Options: `key` (comma-separated merge key columns, REQUIRED),
  // `startingVersion` (seed snapshot version; default earliest on disk),
  // `maxVersionsPerBatch` (default 1). An explicit `.schema(…)` names the
  // TABLE columns (no `_change_type`); omitted, the schema is inferred.

  private def streamSchema(sqlContext: SQLContext, schema: Option[StructType],
                           parameters: Map[String, String]): StructType =
    schema.orElse( // declared-over-inferred, as in the batch createRelation
      GraftDdl.load(sqlContext.sparkSession, root(parameters)).flatMap(_.schema))
      .getOrElse(ManifestTable.inferSchema(sqlContext.sparkSession,
        ManifestTable.snapshot(sqlContext.sparkSession, root(parameters))))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), org.apache.spark.sql.graft.GraftChangeFeedSource.cdfSchema(
      streamSchema(sqlContext, schema, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val keys = parameters.getOrElse("key", throw new IllegalArgumentException(
      "graft stream requires option 'key' — the table's merge key column(s), " +
        "comma-separated")).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    new org.apache.spark.sql.graft.GraftChangeFeedSource(
      sqlContext, root(parameters), streamSchema(sqlContext, schema, parameters),
      keys, parameters.get("startingVersion").map(_.toLong),
      parameters.get("maxVersionsPerBatch").map(_.toInt).getOrElse(1))
  }

  /** `readChangeFeed = true` (+ `key`, `startingVersion`, optional
    * `endingVersion`, default current) serves the BATCH change feed
    * through the front door — `_change_type`-tagged net-diff rows between
    * the two manifests, Delta's `readChangeFeed` shape over
    * [[ManifestTable.changes]].
    */
  private def cdfRelation(sqlContext: SQLContext, parameters: Map[String, String],
                          tableSchema: StructType): BaseRelation = {
    val r = root(parameters)
    val keys = parameters.getOrElse("key", throw new IllegalArgumentException(
      "graft readChangeFeed requires option 'key' — the table's merge key column(s), " +
        "comma-separated")).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val from = parameters.getOrElse("startingVersion",
      throw new IllegalArgumentException(
        "graft readChangeFeed requires option 'startingVersion'")).toLong
    val to = parameters.get("endingVersion").map(_.toLong).getOrElse(
      ManifestTable.currentVersion(sqlContext.sparkSession, r).getOrElse(
        throw new IllegalStateException(s"graft table $r has no committed version")))
    GraftCdfRelation(sqlContext, r, tableSchema, keys, from, to)
  }

  private def wantsCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val r = root(parameters)
    val asOf = asOfOf(sqlContext, parameters)
    // prefer the DECLARED schema when a DDL sidecar exists: footer
    // inference over a renamed field-id table would surface BOTH the old
    // and new column names (the union across file generations), where the
    // declared schema reads every generation under the current names by id
    val schema = GraftDdl.load(sqlContext.sparkSession, r).flatMap(_.schema)
      .getOrElse(ManifestTable.inferSchema(sqlContext.sparkSession,
        ManifestTable.snapshot(sqlContext.sparkSession, r, asOf)))
    if (wantsCdf(parameters)) cdfRelation(sqlContext, parameters, schema)
    else GraftRelation(sqlContext, r, schema, asOf)
  }

  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    if (wantsCdf(parameters)) cdfRelation(sqlContext, parameters, schema)
    else GraftRelation(sqlContext, root(parameters), schema,
      asOfOf(sqlContext, parameters))

  /** Streaming write side — see
    * [[org.apache.spark.sql.graft.GraftStreamSink]]. Options:
    * `partitionBy` (physical partition column), `mergeKey`
    * (comma-separated: per-batch keyed merge instead of blind append),
    * `cdf` (with `mergeKey`: fold a `_change_type` change-feed batch —
    * upserts + deletes — making readStream→writeStream continuous
    * replication), `compactEvery` (fold the merge-on-read append log into
    * one clean version every N batches — the inline OPTIMIZE cadence — and
    * vacuum after every batch, keeping one version per version the batch
    * published, so a change-feed reader one batch behind keeps its
    * version; 0, the default, does no maintenance). The batch id rides a
    * `#batch` directive inside each manifest commit (one atomic rename),
    * so crash replays are exactly-once in every mode, blind append
    * included.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val keys = parameters.get("mergeKey")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val r = root(parameters)
    val cdf = parameters.get("cdf").exists(_.toBoolean)
    // writeStream.toTable on a MISSING table auto-creates it with the
    // STREAM's schema — for a change-feed input that declares the
    // `_change_type` metadata column, which a CDF-folding sink consumes
    // and never writes (the declared column would read NULL forever).
    // Heal the just-created DDL sidecar here, at stream start — but ONLY
    // for the auto-create case (ADVICE r16): the unguarded heal silently
    // altered ANY pre-existing target that legitimately declared a
    // `_change_type` data column, hiding that column's batch-written data.
    // "Just auto-created" is pinned as "no committed manifest yet" — the
    // analyzer's auto-create writes only the DDL sidecar, the first data
    // commit happens in addBatch after this point, and a restarted stream
    // finds the already-healed sidecar (no-op). A POPULATED table whose
    // declared schema still carries `_change_type` is contradictory with a
    // cdf sink by construction, so fail loudly instead of mutating it.
    if (cdf) {
      val spark = sqlContext.sparkSession
      GraftDdl.load(spark, r).foreach { d =>
        d.schema.filter(_.fieldNames.contains("_change_type")).foreach { s =>
          if (ManifestTable.currentVersion(spark, r).isEmpty)
            GraftDdl.save(spark, r,
              StructType(s.filterNot(_.name == "_change_type")), d.partCol, d.props)
          else throw new IllegalArgumentException(
            s"cdf sink target $r declares a `_change_type` DATA column and already holds " +
              "committed data — a change-feed-folding sink consumes `_change_type` and " +
              "never writes it, so this stream would silently shadow that column. Drop " +
              "or rename the column, or write to a different table.")
        }
      }
    }
    new org.apache.spark.sql.graft.GraftStreamSink(sqlContext, r,
      parameters.get("partitionBy").orElse(partitionColumns.headOption),
      keys, cdf,
      parameters.get("compactEvery").map(_.toInt).getOrElse(0))
  }

  /** Write side: `Overwrite` = snapshot commit, `Append` = blind append
    * (commutes with any concurrent commit); `partitionBy` option names the
    * physical partition column (Spark's own `.partitionBy` is not routed
    * through V1 sources, hence the option). `ErrorIfExists`/`Ignore`
    * follow their standard semantics against table existence.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data0: DataFrame): BaseRelation = {
    val r = root(parameters)
    // mergeSchema=true: absorb the frame's new columns into the declared
    // sidecar schema BEFORE the write (one metadata write), then conform
    // the frame — the Delta write-path evolution shape ([[SchemaEvolve]]).
    // An EXISTING sidecar-less (path-first) table has no declared schema
    // to evolve: fail loudly via SchemaEvolve.evolve's message rather than
    // silently dropping the option (ADVICE r19 — a user appending a
    // drifted frame got neither evolution nor an error). A fresh root is
    // different: the first write DEFINES the schema, nothing can drift.
    val spark = sqlContext.sparkSession
    val data1 =
      if (parameters.get("mergeSchema").exists(_.equalsIgnoreCase("true"))) {
        if (ManifestTable.listRoot(spark, r).isTable) {
          val evolved = SchemaEvolve.evolve(spark, r, data0.schema)
          SchemaEvolve.alignTo(data0, evolved)
        } else data0
      } else data0
    // an explicit partitionBy option wins — it accepts the full rendered
    // spec grammar (a bare column name = identity, as ever; transforms and
    // comma-separated composites too: `days(ts),bucket(4,k)`); otherwise a
    // sidecar-declared spec drives the write, so path-addressed saves land
    // partitioned like the catalog table they extend
    val optSpec: Option[PartSpec] = parameters.get("partitionBy")
      .map(rd => PartSpec.validate(PartSpec.parse(rd, data1.schema), data1.schema))
    val snap0 = ManifestTable.snapshot(spark, r)
    // a TRANSFORM spec on a sidecar-less root bootstraps the DDL sidecar:
    // the spec must live SOMEWHERE for pruning to map predicates through
    // it and for reads to resolve the declared (derived-column-free)
    // schema — without this, the hidden layout would leak its dir columns
    // into inferred reads and never prune (an identity partitionBy keeps
    // the legacy sidecar-less behavior byte-for-byte)
    val snap =
      if (snap0.declared || !optSpec.exists(!_.isIdentity)) snap0
      else {
        GraftDdl.save(spark, r, data1.schema, optSpec.map(_.render), Map.empty)
        ManifestTable.snapshot(spark, r)
      }
    val spec: Option[PartSpec] = optSpec.orElse(snap.spec(None))
    val data = Checks.enforce(data1, snap.checks)
    val statsCols = parameters.get("statsCols").map(_.split(",").toSeq).getOrElse(Nil)
    val bloomCols = parameters.get("bloomCols").map(_.split(",").toSeq).getOrElse(Nil)
    def create(): Long = ManifestTable.commit(data, snap, spec, true, statsCols, bloomCols)
    val exists = snap.version.isDefined
    mode match {
      case SaveMode.Overwrite =>
        ManifestTable.commit(data, snap, spec, carryForward = false, statsCols, bloomCols)
      case SaveMode.Append =>
        if (exists) ManifestTable.append(data, snap, spec, statsCols, bloomCols)
        else create()
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table $r already exists (ErrorIfExists)")
      case SaveMode.ErrorIfExists => create()
      case SaveMode.Ignore => if (!exists) create()
    }
    GraftRelation(sqlContext, r, data.schema, None)
  }
}

/** One manifest-table snapshot as a Spark relation. Equality/range/IN
  * filters pushed by Spark become zone-map ranges + Bloom point probes —
  * the same hint extraction contract as [[ManifestTable.readAuto]] — and
  * prune FILES; Spark applies the exact predicates on top (this relation
  * deliberately claims no filter as fully handled, the correct posture for
  * a file-skipping layer).
  */
final case class GraftRelation(sqlContext: SQLContext, root: String,
                               schema: StructType, asOf: Option[Long])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def spark: SparkSession = sqlContext.sparkSession

  /** SQL write side (VERDICT r13 #4): `INSERT INTO <graft view> SELECT …`
    * commits a blind append (commutes with any concurrent commit);
    * `INSERT OVERWRITE` commits a fresh snapshot. The physical partition
    * column is recovered from the table's own manifest so inserted rows
    * land partitioned like the rows they join. Spark has already coerced
    * `data` to this relation's schema by position. MERGE INTO stays
    * programmatic ([[ManifestTable.mergeDv]]) — the honest V1 limit.
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty,
      "cannot INSERT into a time-travel (versionAsOf) graft relation — load the " +
        "current snapshot instead")
    // the snapshot's write contract: its spec (a sidecar is authoritative,
    // partCol absent = declared unpartitioned; only sidecar-LESS path-first
    // tables keep the identity column of their own directory names), its
    // CHECK constraints, enforced inside the write, and its skipping columns
    val snap = ManifestTable.snapshot(spark, root)
    val aligned = Checks.enforce(data.toDF(schema.fieldNames.toIndexedSeq: _*), snap.checks)
    if (overwrite)
      ManifestTable.commit(aligned, snap, snap.spec, carryForward = false, Nil, Nil)
    else
      ManifestTable.append(aligned, snap, snap.spec, Nil, Nil)
  }

  // buildScan hands back InternalRow-backed RDDs from the delegated plan
  override def needConversion: Boolean = false

  /** The pinned (or current) snapshot's plan, pruned by the filters' hints. */
  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val (ranges, points, pointsAny) = GraftRelation.hints(filters)
    val plan = ManifestTable.planPrune(ManifestTable.snapshot(spark, root, asOf),
      ranges, points, pointsAny)
    ManifestTable.scanFiles(spark, schema, plan, withMeta = false)
      .select(requiredColumns.map(col).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  /** V1 `Filter` → (zone ranges, bloom points, IN-list any-of probes).
    * Unrecognized shapes yield no hint — an unpruned (correct, superset)
    * scan. Shared by the relation's own pruned scan and the catalog
    * scan's plan ([[GraftScanBuilder]]).
    */
  def hints(filters: Array[Filter])
      : (Seq[ManifestTable.ColRange], Seq[(String, Any)], Seq[(String, Seq[Any])]) = {
    import ManifestTable.ColRange
    def pointable(v: Any): Boolean = v match {
      case _: String | _: java.lang.Long | _: java.lang.Integer => true
      case _ => false
    }
    def rangeable(v: Any): Boolean = v match {
      case _: String | _: Number | _: java.sql.Timestamp => true
      case _ => false
    }
    filters.foldLeft((Seq.empty[ColRange], Seq.empty[(String, Any)],
        Seq.empty[(String, Seq[Any])])) { case ((rs, ps, as), f) =>
      def anyProbe(a: String, vs: Array[Any]): Seq[(String, Seq[Any])] =
        if (vs.length <= 64 && vs.forall(pointable)) Seq(a -> vs.toSeq) else Nil
      f match {
        case EqualTo(a, v) if rangeable(v) =>
          (rs :+ ColRange(a, v, v), if (pointable(v)) ps :+ (a -> v) else ps, as)
        case GreaterThan(a, v) if rangeable(v) => (rs :+ ColRange(a, v, null), ps, as)
        case GreaterThanOrEqual(a, v) if rangeable(v) => (rs :+ ColRange(a, v, null), ps, as)
        case LessThan(a, v) if rangeable(v) => (rs :+ ColRange(a, null, v), ps, as)
        case LessThanOrEqual(a, v) if rangeable(v) => (rs :+ ColRange(a, null, v), ps, as)
        case In(a, vs) if vs.nonEmpty && vs.forall(rangeable) =>
          val sorted = vs.sortBy {
            case n: Number => n.doubleValue()
            case s: String => 0.0
            case t: java.sql.Timestamp => t.getTime.toDouble
          }
          vs.head match {
            case _: String =>
              val ss = vs.collect { case s: String => s }
              if (ss.length == vs.length)
                (rs :+ ColRange(a, ss.min, ss.max), ps, as ++ anyProbe(a, vs))
              else (rs, ps, as)
            case _ =>
              (rs :+ ColRange(a, sorted.head, sorted.last), ps, as ++ anyProbe(a, vs))
          }
        case And(l, r) =>
          val (r1, p1, a1) = hints(Array(l)); val (r2, p2, a2) = hints(Array(r))
          (rs ++ r1 ++ r2, ps ++ p1 ++ p2, as ++ a1 ++ a2)
        case StringStartsWith(a, p) if p.nonEmpty =>
          // prefix-matched strings all sort in [p, nextPrefix(p)): increment
          // the last non-￿ char for the exclusive upper bound (zone
          // ranges are inclusive — a strictly larger bound stays a correct
          // superset); an all-￿ prefix gets only the lower bound
          val i = p.lastIndexWhere(_ != '￿')
          val hi = if (i < 0) null
            else p.substring(0, i) + (p.charAt(i) + 1).toChar
          (rs :+ ColRange(a, p, hi), ps, as)
        case _ => (rs, ps, as) // Or / IsNull / other string ops: no hint, full universe
      }
    }
  }

}

/** The BATCH change feed as a relation —
  * `spark.read.format("graft").option("readChangeFeed", "true")
  * .option("key", …).option("startingVersion", a)[.option("endingVersion",
  * b)].load(root)` — `_change_type`-tagged net-diff rows from
  * [[ManifestTable.changes]] (I/O proportional to the changed partitions).
  * `tableSchema` is the TABLE's columns; the relation prepends
  * `_change_type`. Spark applies any predicate on top (no pushdown — the
  * feed is already change-pruned).
  */
final case class GraftCdfRelation(sqlContext: SQLContext, root: String,
                                  tableSchema: StructType, keys: Seq[String],
                                  fromV: Long, toV: Long)
    extends BaseRelation with PrunedScan {

  override val schema: StructType =
    org.apache.spark.sql.graft.GraftChangeFeedSource.cdfSchema(tableSchema)

  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    ManifestTable.changes(sqlContext.sparkSession, root, tableSchema, keys, fromV, toV)
      .select(requiredColumns.map(col).toIndexedSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
