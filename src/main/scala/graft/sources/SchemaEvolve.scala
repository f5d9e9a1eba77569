package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._

/** Write-path schema evolution (Delta's `mergeSchema`): absorb an
  * incoming frame's NEW columns into the table's declared schema as part
  * of the write, instead of refusing the drifted frame. CDC pipelines hit
  * this whenever upstream adds a field (the reference's change-stream
  * documents are schemaless — reference
  * src/process_insert_update_weather_data.py upserts whatever fields the
  * Mongo document carries); without it every upstream field addition
  * needs a coordinated `ALTER TABLE ADD COLUMNS` before the pipeline can
  * resume.
  *
  * What evolves, per [[evolve]]:
  *  - NEW top-level columns and NEW fields of existing STRUCT columns
  *    append (nullable — committed files read NULL for them; a DEFAULT
  *    needs the explicit ALTER, which stamps EXISTS_DEFAULT).
  *  - An existing column whose incoming type is a LOSSLESS widening of
  *    the declared one ([[TypeWidening]]) takes the wider type.
  *  - Everything else — incompatible types, case-variant names,
  *    array/map element changes — refuses loudly. An incoming NARROWER
  *    type keeps the declared one (the frame upcasts on write).
  *
  * Field-id discipline matches `ALTER ADD COLUMNS`: new paths allocate
  * ABOVE the high-water mark (`graft.fieldIds.next`), never reusing a
  * dropped column's retired id — by-id resurrection stays impossible. One
  * sidecar write per evolution; a no-op diff writes nothing.
  *
  * SQL `MERGE` evolves too (r20), behind the explicit keyword: `MERGE
  * WITH SCHEMA EVOLUTION INTO …` — [[graft.sources.GraftV2Table]]
  * advertises `TableCapability.AUTOMATIC_SCHEMA_EVOLUTION`, so Spark's
  * own `ResolveMergeIntoSchemaEvolution` diffs the MERGE source against
  * the target and applies the additive delta through
  * [[graft.sources.GraftCatalog.alterTable]] (fresh field ids, sidecar
  * write) BEFORE resolving the assignments. An un-annotated MERGE keeps
  * refusing drift on explicit assignments and ignoring extra source
  * columns on star assignments — the Delta opt-in posture. The seams that
  * evolve without SQL are the DataFrame front door
  * (`df.write.format("graft").option("mergeSchema", "true")`) and
  * programmatic callers ([[evolve]] + [[alignTo]] before
  * `ManifestTable.mergeDv`/`append`).
  */
object SchemaEvolve {

  /** Merge `incoming`'s shape into `root`'s declared sidecar schema and
    * return the evolved schema. Metadata-only: one `_ddl.json` write when
    * something changed, nothing otherwise. Requires a sidecar (only
    * catalog/DDL tables have an authoritative schema to evolve).
    */
  def evolve(spark: SparkSession, root: String, incoming: StructType): StructType = {
    val d = GraftDdl.load(spark, root).getOrElse(throw new IllegalStateException(
      s"mergeSchema: $root has no DDL sidecar — only declared-schema tables evolve"))
    val declared = d.schema.getOrElse(throw new IllegalStateException(
      s"mergeSchema: $root's sidecar declares no schema"))
    val specLeaves: Seq[PartSpec] =
      (d.partCol.toSeq ++ PartSpecs.parseHistory(d.props))
        .flatMap(r => PartSpec.parse(r, declared).leaves)
    val bucketSources = specLeaves.collect { case b: PartSpec.Bucket => b.source }.toSet
    val specPhys = specLeaves.filterNot(_.isIdentity).map(_.physName).toSet
    val merged = mergeStruct(declared, incoming, "", bucketSources)
    if (merged == declared) return declared // no drift — zero writes
    // the same door guards as CREATE/ALTER: no dotted names (field-id
    // paths are dot-separated), no collision with a derived dir column
    FieldIds.walk(merged).foreach { case (p, f) =>
      require(FieldIds.validName(f.name),
        s"mergeSchema: column name ${f.name} (at $p) may not contain '.'")
    }
    merged.fieldNames.filterNot(declared.fieldNames.contains).foreach { n =>
      require(!specPhys.contains(n),
        s"mergeSchema: cannot add column $n — a hidden partition spec " +
          "derives a directory column of that name")
    }
    var props = d.props
    val ids = FieldIds.parse(props)
    if (ids.nonEmpty) { // id tables register every new path above high-water
      var next = FieldIds.nextId(props, ids) - 1
      val fresh = FieldIds.walk(merged).filterNot { case (p, _) => ids.contains(p) }
      val withNew = ids ++ fresh.map { case (p, _) => next += 1; p -> next }
      props += (FieldIds.Prop -> FieldIds.render(withNew))
      props += (FieldIds.NextProp -> (next + 1).toString)
    }
    GraftDdl.save(spark, root, merged, d.partCol, props)
    merged
  }

  /** Declared-first merge: declared fields keep their order (widened in
    * place, structs recursed), incoming-only fields append nullable.
    */
  private def mergeStruct(declared: StructType, incoming: StructType,
                          path: String, bucketSources: Set[String]): StructType = {
    val updated = declared.fields.map { df =>
      incoming.fields.find(_.name.equalsIgnoreCase(df.name)) match {
        case None => df
        case Some(inf) =>
          require(inf.name == df.name,
            s"mergeSchema: incoming column $path${inf.name} differs from " +
              s"declared $path${df.name} only by case — a case-variant name " +
              "would corrupt by-name reads")
          (df.dataType, inf.dataType) match {
            case (ds: StructType, is: StructType) =>
              df.copy(dataType = mergeStruct(ds, is, s"$path${df.name}.", bucketSources))
            case (a, b) if a == b => df
            case (a, b) if TypeWidening.widens(a, b) =>
              require(!bucketSources.contains(path + df.name),
                s"mergeSchema: cannot widen $path${df.name} — it feeds a " +
                  "bucket partition transform, whose hash is type-dependent")
              df.copy(dataType = b)
            case (a, b) if TypeWidening.widens(b, a) => df // frame upcasts on write
            case (a, b) => throw new IllegalArgumentException(
              s"mergeSchema: incoming type ${b.simpleString} for column " +
                s"$path${df.name} is incompatible with declared ${a.simpleString} " +
                "(only lossless widenings evolve)")
          }
      }
    }
    val added = incoming.fields
      .filterNot(f => declared.fields.exists(_.name.equalsIgnoreCase(f.name)))
      .map(f => f.copy(nullable = true))
    StructType(updated ++ added)
  }

  /** Conform `df` to the (evolved) declared schema: present columns cast
    * to the declared type, absent ones fill their CURRENT_DEFAULT (the
    * INSERT convention) or NULL, output in declared order. Nested shape
    * mismatches surface as cast errors — evolution widened the DECLARED
    * side, so only a frame older than the declaration can still misfit.
    */
  def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      val c =
        if (have.contains(f.name)) col("`" + f.name.replace("`", "``") + "`")
        else if (f.metadata.contains(Defaults.CurrentKey))
          expr(f.metadata.getString(Defaults.CurrentKey))
        else lit(null)
      c.cast(f.dataType).as(f.name)
    }: _*)
  }
}
