package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Dispatch
import graft.sources.PartSpec

/** Golden CDC-sequence coverage (SURVEY.md §5.5): a scripted
  * insert/update/delete/unknown envelope stream must produce a known final
  * table, drop deletes, fail fast on unknown ops, and be idempotent under
  * replay.
  */
class CdcSpec extends SparkSuite {

  private val docSchema = StructType(Seq(
    StructField("id", StringType), StructField("v", LongType)))

  private def env(op: String, key: String, doc: String, t: String) =
    (op, key, doc, java.sql.Timestamp.valueOf(t))

  private def envelopes(rows: Seq[(String, String, String, java.sql.Timestamp)]) = {
    import spark.implicits._
    rows.toDF("operationType", "documentKey", "fullDocument", "clusterTime")
  }

  private def emptyTarget = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], docSchema)

  test("golden sequence: insert, update, delete -> final state") {
    import spark.implicits._
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("update", "a", """{"id":"a","v":2}""", "2024-01-01 00:00:01"),
      env("insert", "b", """{"id":"b","v":7}""", "2024-01-01 00:00:02"),
      env("delete", "c", null, "2024-01-01 00:00:03")))
    val got = Dispatch.applyBatch(emptyTarget, batch, docSchema, identity,
      rawKey = "id", mergeKey = "id", tieCol = "v")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L), ("b", 7L))) // last-wins for a; delete ignored
  }

  test("schema-drift envelopes: unknown/missing fields quarantine to dead letters") {
    import spark.implicits._
    // the schemaless-lake boundary (reference README.md:9): an upstream API
    // change lands as fullDocument drift — shapeAudit must catch it BEFORE
    // from_json silently drops the new field / nulls the missing one
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("insert", "b", """{"id":"b","v":2,"battery_pct":93}""", "2024-01-01 00:00:01"),
      env("insert", "c", """{"id":"c"}""", "2024-01-01 00:00:02")))
    val (ok, drifted) = graft.ops.Integrity.shapeAudit(batch, "fullDocument", docSchema)
    assert(ok.select("documentKey").as[String].collect().toSet == Set("a"))
    val d = drifted
      .select(col("documentKey"), concat_ws(",", col("unknown_fields")).as("u"),
        concat_ws(",", col("missing_fields")).as("m"))
      .as[(String, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(d == Map("b" -> (("battery_pct", "")), "c" -> (("", "v"))))
    // quarantine leg: the drifted rows dead-letter with a dense stable index
    val dir = Files.createTempDirectory("drift").toFile.getAbsolutePath
    graft.sources.Sinks.deadLetter(
      drifted.withColumn("unknown_fields", concat_ws(",", col("unknown_fields")))
        .withColumn("missing_fields", concat_ws(",", col("missing_fields"))),
      dir, java.sql.Timestamp.valueOf("2024-01-01 00:00:03"))
    val dl = spark.read.json(s"$dir/failed_20240101000003")
    assert(dl.count() == 2)
    assert(dl.select("failed_index").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("unknown operationType fails fast like the reference's os._exit(1)") {
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("replace", "a", """{"id":"a","v":9}""", "2024-01-01 00:00:01")))
    // the check is a lazy raise_error folded into the batch's single scan, so
    // it surfaces when the batch executes (same point the reference exits)
    val e = intercept[Throwable] {
      Dispatch.applyBatch(emptyTarget, batch, docSchema, identity, "id", "id", "v")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("replace")))
  }

  test("extended-JSON envelopes decode to the plain shape: golden sequence") {
    import spark.implicits._
    val raw = Seq(
      ("insert", """{"_id": {"$oid": "64b8f0a1c2d3e4f5a6b7c8d9"}}""",
        """{"id": {"$oid": "64b8f0a1c2d3e4f5a6b7c8d9"}, "v": 1}""",
        """{"$timestamp": {"t": 1704067200, "i": 1}}"""),
      ("update", """{"_id": {"$oid": "64b8f0a1c2d3e4f5a6b7c8d9"}}""",
        """{"id": {"$oid": "64b8f0a1c2d3e4f5a6b7c8d9"}, "v": 2}""",
        """{"$date": "2024-01-01T00:00:01Z"}"""),
      ("insert", """{"_id": "b"}""", """{"id": "b", "v": 7}""",
        """{"$date": {"$numberLong": "1704067202000"}}"""),
      ("delete", """{"_id": {"$oid": "aaaabbbbccccddddeeeeffff"}}""",
        null, "2024-01-01 00:00:03"))
      .toDF("operationType", "documentKey", "fullDocument", "clusterTime")
    val dec = Dispatch.decodeExtendedEnvelopes(raw)
    assert(dec.select("documentKey").as[String].collect().toSeq ==
      Seq("64b8f0a1c2d3e4f5a6b7c8d9", "64b8f0a1c2d3e4f5a6b7c8d9",
        "b", "aaaabbbbccccddddeeeeffff"))
    // $timestamp (stream seconds), ISO $date, millis $date, plain string —
    // all land on the same µs timeline
    assert(dec.select(col("clusterTime").cast("string")).as[String].collect().toSeq ==
      Seq("2024-01-01 00:00:00", "2024-01-01 00:00:01",
        "2024-01-01 00:00:02", "2024-01-01 00:00:03"))
    // downstream path unchanged: same golden final state as the plain form
    val got = Dispatch.applyBatch(emptyTarget, dec, docSchema, identity,
      rawKey = "id", mergeKey = "id", tieCol = "v")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("64b8f0a1c2d3e4f5a6b7c8d9", 2L), ("b", 7L)))
  }

  test("document-level $date fields: both wire forms land on ONE string shape") {
    import spark.implicits._
    // ADVICE r08: the millis form used to decode to a bare NUMBER while the
    // ISO form stayed a quoted string — the same logical field changed JSON
    // type with the wire form, so a typed from_json on the document nulled
    // one of them. Both now decode to strings, and parseWireDate recovers
    // the identical timestamp from either.
    val raw = Seq(
      ("insert", """{"_id": "a"}""",
        """{"id": "a", "seen": {"$date": "2024-01-01T00:00:02Z"}}""", "2024-01-01 00:00:00"),
      ("insert", """{"_id": "b"}""",
        """{"id": "b", "seen": {"$date": {"$numberLong": "1704067202000"}}}""", "2024-01-01 00:00:01"))
      .toDF("operationType", "documentKey", "fullDocument", "clusterTime")
    val seenSchema = StructType(Seq(
      StructField("id", StringType), StructField("seen", StringType)))
    val dec = Dispatch.decodeExtendedEnvelopes(raw)
      .select(from_json(col("fullDocument"), seenSchema).as("d"))
      .select(col("d.id"), Dispatch.parseWireDate(col("d.seen")).cast("string").as("seen"))
      .as[(String, String)].collect().toMap
    // same instant out of both wire forms, neither nulled by the string schema
    assert(dec == Map("a" -> "2024-01-01 00:00:02", "b" -> "2024-01-01 00:00:02"))
  }

  test("extended-JSON positional fidelity: array-nested wrappers decode in place, string content never rewritten") {
    import spark.implicits._
    // the adversarial envelope the stripExtended proof sketch is pinned by:
    //  - wrappers nested inside ARRAYS (both $date wire forms, $oid, $numberInt
    //    mixed with plain values) must collapse each IN PLACE, positions intact
    //  - string CONTENT that looks like a wrapper (escaped quotes — the only
    //    way a quote can appear inside valid JSON string content) must survive
    //    byte-identical, including content ending in '{' right before a real
    //    '$'-named key, the closest a string can get to faking a wrapper head
    val doc = """{"id": "a", """ +
      """"times": [{"$date": "2024-01-01T00:00:00Z"}, {"$date": {"$numberLong": "1704067202000"}}], """ +
      """"refs": [{"$oid": "aaaabbbbccccddddeeeeffff"}, "plain"], """ +
      """"counts": [{"$numberInt": "7"}, 8], """ +
      """"note": "see {\"$oid\": \"deadbeef\"} and {\"$date\": \"x\"}", """ +
      """"brace": "ends with {", """ +
      """"$oid_like": "not a wrapper"}"""
    val raw = Seq(("insert", """{"_id": "a"}""", doc, "2024-01-01 00:00:00"))
      .toDF("operationType", "documentKey", "fullDocument", "clusterTime")
    val decSchema = StructType(Seq(
      StructField("id", StringType),
      StructField("times", ArrayType(StringType)),
      StructField("refs", ArrayType(StringType)),
      StructField("counts", ArrayType(LongType)),
      StructField("note", StringType),
      StructField("brace", StringType),
      StructField("$oid_like", StringType)))
    val row = Dispatch.decodeExtendedEnvelopes(raw)
      .select(from_json(col("fullDocument"), decSchema).as("d"))
      .select("d.*").head()
    // array wrappers collapsed element-wise, order and siblings intact
    assert(row.getSeq[String](1) == Seq("2024-01-01T00:00:00Z", "1704067202000"))
    assert(row.getSeq[String](2) == Seq("aaaabbbbccccddddeeeeffff", "plain"))
    assert(row.getSeq[Long](3) == Seq(7L, 8L))
    // wrapper-looking STRING CONTENT untouched (the old scaladoc's caveat —
    // impossible by the quoting argument, now pinned)
    assert(row.getString(4) == """see {"$oid": "deadbeef"} and {"$date": "x"}""")
    assert(row.getString(5) == "ends with {")
    // a $-prefixed user FIELD NAME in a multi-key object is not a wrapper
    assert(row.getString(6) == "not a wrapper")
    // both $date wire forms in the array land on the same instant via the
    // promote-time parse, positions preserved
    val ts = Dispatch.decodeExtendedEnvelopes(raw)
      .select(from_json(col("fullDocument"), decSchema).as("d"))
      .select(explode(col("d.times")).as("t"))
      .select(Dispatch.parseWireDate(col("t")).cast("string")).as[String].collect()
    assert(ts.toSeq == Seq("2024-01-01 00:00:00", "2024-01-01 00:00:02"))
  }

  test("ST1 extended-JSON file stream: raw object capture + decode + merge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("xjson-cdc").toString
    // envelope fields are nested JSON OBJECTS in the file (the real wire
    // shape) — the string-typed schema captures them as raw text
    Files.writeString(java.nio.file.Path.of(dir, "b1.json"),
      """{"operationType":"insert","documentKey":{"_id":{"$oid":"64b8f0a1c2d3e4f5a6b7c8d9"}},"fullDocument":{"id":{"$oid":"64b8f0a1c2d3e4f5a6b7c8d9"},"v":1},"clusterTime":{"$timestamp":{"t":1704067200,"i":1}}}
        |{"operationType":"update","documentKey":{"_id":{"$oid":"64b8f0a1c2d3e4f5a6b7c8d9"}},"fullDocument":{"id":{"$oid":"64b8f0a1c2d3e4f5a6b7c8d9"},"v":5},"clusterTime":{"$date":"2024-01-01T00:00:01Z"}}""".stripMargin)
    val q = Dispatch.fileCdcSourceExtended(spark, dir).writeStream
      .format("memory").queryName("xjson_dec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val dec = spark.table("xjson_dec")
    assert(dec.schema("clusterTime").dataType == TimestampType)
    val got = Dispatch.applyBatch(emptyTarget, dec, docSchema, identity,
      rawKey = "id", mergeKey = "id", tieCol = "v")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("64b8f0a1c2d3e4f5a6b7c8d9", 5L)))
  }

  test("ST3 idempotence: replaying the same batch is a no-op") {
    import spark.implicits._
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("update", "a", """{"id":"a","v":2}""", "2024-01-01 00:00:01")))
    val once = Dispatch.applyBatch(emptyTarget, batch, docSchema, identity, "id", "id", "v")
    val twice = Dispatch.applyBatch(once, batch, docSchema, identity, "id", "id", "v")
    assert(once.as[(String, Long)].collect().toSet ==
      twice.as[(String, Long)].collect().toSet)
  }

  test("promotion with key rename: rawKey _id -> mergeKey id") {
    import spark.implicits._
    val rawSchema = StructType(Seq(
      StructField("_id", StringType), StructField("v", LongType)))
    val batch = envelopes(Seq(
      env("insert", "a", """{"_id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("update", "a", """{"_id":"a","v":5}""", "2024-01-01 00:00:01")))
    val promote = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumnRenamed("_id", "id")
    val target = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], docSchema)
    val got = Dispatch.applyBatch(target, batch, rawSchema, promote, "_id", "id", "v")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 5L)))
  }

  test("FIXTURES.md golden sequence: insert, replay, update, upsert-leg, delete, unknown") {
    import spark.implicits._
    def apply1(target: org.apache.spark.sql.DataFrame,
               e: (String, String, String, java.sql.Timestamp)) =
      Dispatch.applyBatch(target, envelopes(Seq(e)), docSchema, identity, "id", "id", "v")
    var tgt: org.apache.spark.sql.DataFrame = emptyTarget
    tgt = apply1(tgt, env("insert", "A", """{"id":"A","v":1}""", "2024-01-01 00:00:00"))
    assert(tgt.as[(String, Long)].collect().toSet == Set(("A", 1L)))
    // replayed insert -> dedup no-op
    tgt = apply1(tgt, env("insert", "A", """{"id":"A","v":1}""", "2024-01-01 00:00:00"))
    assert(tgt.as[(String, Long)].collect().toSet == Set(("A", 1L)))
    tgt = apply1(tgt, env("update", "A", """{"id":"A","v":2}""", "2024-01-01 00:00:01"))
    assert(tgt.as[(String, Long)].collect().toSet == Set(("A", 2L)))
    // update of a missing key -> upsert insert leg (reference bug §2.10.1 fixed)
    tgt = apply1(tgt, env("update", "B", """{"id":"B","v":9}""", "2024-01-01 00:00:02"))
    assert(tgt.as[(String, Long)].collect().toSet == Set(("A", 2L), ("B", 9L)))
    // delete -> tombstone drop, target untouched
    tgt = apply1(tgt, env("delete", "A", null, "2024-01-01 00:00:03"))
    assert(tgt.as[(String, Long)].collect().toSet == Set(("A", 2L), ("B", 9L)))
    // unknown op -> raise at execution
    val bad = apply1(tgt, env("replace", "A", """{"id":"A","v":7}""", "2024-01-01 00:00:04"))
    intercept[Throwable](bad.collect())
  }

  test("ST6 dead-letter variant processes known ops and banks the unknown") {
    import spark.implicits._
    val dlq = Files.createTempDirectory("cdc-dlq").toString
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("replace", "z", """{"id":"z","v":9}""", "2024-01-01 00:00:01")))
    val got = Dispatch.applyBatchOrDeadLetter(emptyTarget, batch, docSchema,
      identity, "id", "id", "v", dlq, java.sql.Timestamp.valueOf("2024-03-01 07:30:00"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L)))
    val banked = spark.read.json(s"$dlq/failed_20240301073000")
    assert(banked.count() == 1)
    assert(banked.select("operationType").head().getString(0) == "replace")
  }

  test("null operationType routes to the dead-letter leg, not the void") {
    import spark.implicits._
    val dlq = Files.createTempDirectory("cdc-dlq-null").toString
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env(null, "z", """{"id":"z","v":9}""", "2024-01-01 00:00:01")))
    val got = Dispatch.applyBatchOrDeadLetter(emptyTarget, batch, docSchema,
      identity, "id", "id", "v", dlq, java.sql.Timestamp.valueOf("2024-03-01 08:00:00"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L)))
    assert(spark.read.json(s"$dlq/failed_20240301080000").count() == 1)
  }

  test("malformed fullDocument fails fast instead of merging a null-key row") {
    val batch = envelopes(Seq(
      env("insert", "a", """not json at all""", "2024-01-01 00:00:00")))
    val out = Dispatch.applyBatch(emptyTarget, batch, docSchema, identity, "id", "id", "v")
    val e = intercept[Throwable](out.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("malformed fullDocument")))
  }

  // the doc schema of the merge-on-read stream tests, partitioned by `p`
  private val partSchema = StructType(Seq(
    StructField("id", StringType), StructField("p", StringType),
    StructField("v", LongType)))

  // promote for `docSchema` streams: a partition column derived from the
  // key, so it is immutable per key as the merge-on-read contract requires
  private val withPart: DataFrame => DataFrame =
    _.withColumn("p", substring(col("id"), 1, 1))

  test("restarted stream resumes from checkpoint and ACCUMULATES the target") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-env2").toFile
    val tgt = Files.createTempDirectory("cdc-tgt2").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-ckpt2").toFile.getAbsolutePath
    Files.write(new java.io.File(dir, "b1.json").toPath,
      """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}"""
        .getBytes("UTF-8"))
    val q1 = Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt, docSchema,
      withPart, "id", "id", "v", partCol = "p")
    q1.awaitTermination(60000)
    // second run, same checkpoint: must read the EXISTING target back (the
    // regression fixed here: a wrong-FS existence check read it as empty and
    // replaced all accumulated state with just the new batch)
    Files.write(new java.io.File(dir, "b2.json").toPath,
      """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"v\":2}","clusterTime":"2024-01-02T00:00:00.000Z"}"""
        .getBytes("UTF-8"))
    val q2 = Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt, docSchema,
      withPart, "id", "id", "v", partCol = "p")
    q2.awaitTermination(60000)
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L), ("b", 2L)))
    // the inline vacuum retains ONE version behind current: a concurrent
    // reader that resolved manifest 1 just before commit 2 can finish its
    // scan (v1 + _manifest.1 must survive the commit cycle)
    assert(graft.sources.ManifestTable.currentVersion(spark, tgt).contains(2L))
    assert(new java.io.File(s"$tgt/v00000001").exists())
    assert(new java.io.File(s"$tgt/_manifest.00000001").exists())
    // an offline retain-0 vacuum (no concurrent readers) reclaims them once
    // a compaction has folded v1's files, which the merge-on-read commit 2
    // carried forward, into a fresh version
    graft.sources.ManifestTable.compact(spark, graft.sources.ManifestTable.snapshot(spark, tgt),
      partSchema, Some(PartSpec.Identity("p")))
    graft.sources.ManifestTable.vacuum(spark, tgt)
    assert(!new java.io.File(s"$tgt/v00000001").exists())
    assert(!new java.io.File(s"$tgt/_manifest.00000001").exists())
  }

  test("a runMergeOnRead batch replayed after its commit landed publishes no new version") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val dir = Files.createTempDirectory("cdc-replay-env").toFile
    val tgt = Files.createTempDirectory("cdc-replay-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-replay-ckpt").toFile.getAbsolutePath
    def land(name: String, lines: String*): Unit =
      Files.write(new java.io.File(dir, name).toPath, lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p").awaitTermination(60000)
    land("b1.json",
      """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""")
    runOnce()
    land("b2.json",
      """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":5}","clusterTime":"2024-01-02T00:00:00.000Z"}""",
      """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"p\":\"y\",\"v\":2}","clusterTime":"2024-01-02T00:00:01.000Z"}""")
    runOnce()
    assert(ManifestTable.currentVersion(spark, tgt).contains(2L))
    // a crash after batch 1's commit landed but before the checkpoint logged
    // it: the restarted stream re-delivers batch 1 with the same offsets
    for (n <- Seq("1", ".1.crc")) new java.io.File(s"$ckpt/commits/$n").delete()
    runOnce()
    assert(ManifestTable.currentVersion(spark, tgt).contains(2L),
      "the replayed batch must not publish a second commit")
    assert(ManifestTable.read(spark, tgt, partSchema).select("id", "v")
      .as[(String, Long)].collect().toSet == Set(("a", 5L), ("b", 2L)))
  }

  test("ST6 retry: shrinking failure set converges within the attempt budget") {
    import spark.implicits._
    val dlq = Files.createTempDirectory("cdc-retry").toString
    // b and c are poisoned (uppercase op -> invalid); the repair hook fixes b
    // on attempt 2 and c on attempt 3, so the failure set shrinks 2 -> 1 -> 0
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("INSERT", "b", """{"id":"b","v":2}""", "2024-01-01 00:00:01"),
      env("INSERT", "c", """{"id":"c","v":3}""", "2024-01-01 00:00:02")))
    val retriedCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val repair = (df: org.apache.spark.sql.DataFrame, attempt: Int) => {
      retriedCounts += df.count()
      val fixKey = if (attempt == 2) "b" else "c"
      df.withColumn("operationType",
        when(col("documentKey") === fixKey, lower(col("operationType")))
          .otherwise(col("operationType")))
    }
    val (tgt, failures) = graft.cdc.Retry.reprocess(emptyTarget, batch, docSchema,
      identity, "id", "id", "v", dlq, java.sql.Timestamp.valueOf("2024-03-01 09:00:00"),
      repair, maxAttempts = 3)
    assert(failures.isEmpty)
    assert(tgt.as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(retriedCounts.toSeq == Seq(2L, 1L)) // the set SHRINKS per attempt
    assert(new java.io.File(dlq).listFiles() == null ||
      new java.io.File(dlq).listFiles().isEmpty) // nothing dead-lettered
  }

  test("ST6 retry: unfixable residue is dead-lettered after the budget") {
    import spark.implicits._
    val dlq = Files.createTempDirectory("cdc-retry-dlq").toString
    val batch = envelopes(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("zap", "z", """{"id":"z","v":9}""", "2024-01-01 00:00:01")))
    val (tgt, failures) = graft.cdc.Retry.reprocess(emptyTarget, batch, docSchema,
      identity, "id", "id", "v", dlq, java.sql.Timestamp.valueOf("2024-03-01 09:30:00"),
      maxAttempts = 3)
    assert(tgt.as[(String, Long)].collect().toSet == Set(("a", 1L)))
    assert(failures.count() == 1)
    val banked = spark.read.json(s"$dlq/failed_20240301093000")
    assert(banked.count() == 1)
    assert(banked.select("operationType").head().getString(0) == "zap")
  }

  test("partitioned streaming sink leaves untouched partitions byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-part-env").toFile
    val tgt = Files.createTempDirectory("cdc-part-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-part-ckpt").toFile.getAbsolutePath
    Files.write(new java.io.File(dir, "b1.json").toPath,
      Seq(
        """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""",
        """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"p\":\"y\",\"v\":2}","clusterTime":"2024-01-01T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    val q1 = graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
    q1.awaitTermination(60000)
    // partition p=y's physical files live in version 1's dir and must never
    // be rewritten by a batch that doesn't touch p=y
    def yFiles(): Map[String, (Long, Int)] =
      new java.io.File(s"$tgt/v00000001/p=y").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          (f.lastModified(), java.util.Arrays.hashCode(Files.readAllBytes(f.toPath))))
        .toMap
    val yBefore = yFiles()
    // second micro-batch touches ONLY partition x
    Files.write(new java.io.File(dir, "b2.json").toPath,
      """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":5}","clusterTime":"2024-01-02T00:00:00.000Z"}"""
        .getBytes("UTF-8"))
    val q2 = graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
    q2.awaitTermination(60000)
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "p", "v").as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "x", 5L), ("b", "y", 2L)))
    // untouched partition p=y: carried forward by manifest ENTRY — same
    // files, same mtimes, same bytes, and version 2 holds no p=y dir
    assert(yFiles() == yBefore)
    assert(!new java.io.File(s"$tgt/v00000002/p=y").exists())
    assert(new java.io.File(s"$tgt/v00000002/p=x").exists())
  }

  test("CDC -> warehouse DML loop: golden sequence lands in Derby equal to the parquet merge") {
    import spark.implicits._
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("derby-cdc").resolve("derby.log").toString)
    val url = s"jdbc:derby:memory:graftcdcdml${System.nanoTime()};create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(driver)
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().execute("CREATE TABLE wh (id VARCHAR(16), v BIGINT)")
    c.close()
    val dir = Files.createTempDirectory("cdc-dml-env").toFile
    val ckpt = Files.createTempDirectory("cdc-dml-ckpt").toFile.getAbsolutePath
    val dlq = Files.createTempDirectory("cdc-dml-dlq").toString
    // batch 1: inserts a,b
    Files.write(new java.io.File(dir, "b1.json").toPath,
      Seq(
        """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""",
        """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"v\":2}","clusterTime":"2024-01-01T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    Dispatch.runDml(spark, dir.getAbsolutePath, ckpt, docSchema, identity,
      "id", "id", "v", url, driver, "wh", dlq).awaitTermination(60000)
    // batch 2: update a (existing -> keyed UPDATE), insert c, and an
    // intra-batch double-update of a (last-wins dedupe before the split)
    Files.write(new java.io.File(dir, "b2.json").toPath,
      Seq(
        """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":7}","clusterTime":"2024-01-02T00:00:00.000Z"}""",
        """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":9}","clusterTime":"2024-01-02T00:00:05.000Z"}""",
        """{"operationType":"insert","documentKey":"c","fullDocument":"{\"id\":\"c\",\"v\":3}","clusterTime":"2024-01-02T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    Dispatch.runDml(spark, dir.getAbsolutePath, ckpt, docSchema, identity,
      "id", "id", "v", url, driver, "wh", dlq).awaitTermination(60000)
    val wh = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "wh").option("driver", driver).load()
      .as[(String, Long)].collect().toSet
    // the parquet-merge semantics over the same envelopes
    val expect = applyViaMerge(Seq(
      env("insert", "a", """{"id":"a","v":1}""", "2024-01-01 00:00:00"),
      env("insert", "b", """{"id":"b","v":2}""", "2024-01-01 00:00:01"),
      env("update", "a", """{"id":"a","v":7}""", "2024-01-02 00:00:00"),
      env("update", "a", """{"id":"a","v":9}""", "2024-01-02 00:00:05"),
      env("insert", "c", """{"id":"c","v":3}""", "2024-01-02 00:00:01")))
    assert(wh == expect)
    assert(wh == Set(("a", 9L), ("b", 2L), ("c", 3L)))
  }

  private def applyViaMerge(rows: Seq[(String, String, String, java.sql.Timestamp)]): Set[(String, Long)] = {
    import spark.implicits._
    Dispatch.applyBatch(emptyTarget, envelopes(rows), docSchema,
      identity, "id", "id", "v").as[(String, Long)].collect().toSet
  }

  test("merge-on-read streaming sink: O(batch) writes, same state as copy-on-write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-mor-env").toFile
    val tgt = Files.createTempDirectory("cdc-mor-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-mor-ckpt").toFile.getAbsolutePath
    // batch 1 seeds two partitions; p=y gets many rows so a rewrite would show
    val seed = (0 until 2000).map { i =>
      s"""{"operationType":"insert","documentKey":"y$i","fullDocument":"{\\"id\\":\\"y$i\\",\\"p\\":\\"y\\",\\"v\\":$i}","clusterTime":"2024-01-01T00:00:00.000Z"}"""
    } :+ """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":1}","clusterTime":"2024-01-01T00:00:01.000Z"}"""
    Files.write(new java.io.File(dir, "b1.json").toPath,
      seed.mkString("\n").getBytes("UTF-8"))
    graft.cdc.Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
      .awaitTermination(60000)
    def dirBytes(d: String): Long = {
      val f = new java.io.File(d)
      if (!f.exists) 0L
      else f.listFiles.map(x => if (x.isDirectory) dirBytes(x.getPath) else x.length).sum
    }
    val v1Bytes = dirBytes(s"$tgt/v00000001")
    // batch 2: ONE update in hot partition y + one insert in x — merge-on-read
    // must append O(2 rows), never rewrite y's 2000
    Files.write(new java.io.File(dir, "b2.json").toPath,
      Seq(
        """{"operationType":"update","documentKey":"y7","fullDocument":"{\"id\":\"y7\",\"p\":\"y\",\"v\":-7}","clusterTime":"2024-01-02T00:00:00.000Z"}""",
        """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"p\":\"x\",\"v\":2}","clusterTime":"2024-01-02T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    graft.cdc.Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
      .awaitTermination(60000)
    val written = dirBytes(s"$tgt/v00000002") + dirBytes(s"$tgt/d00000002")
    assert(written < v1Bytes / 4, s"written=$written v1=$v1Bytes")
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
    assert(got.count() == 2002L)
    assert(got.filter(col("id").isin("y7", "a", "b")).select("id", "v")
      .as[(String, Long)].collect().toSet ==
      Set(("y7", -7L), ("a", 1L), ("b", 2L)))
  }

  test("CDC commits publish zone maps: point-lookup range prunes the target's files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-zm-env").toFile
    val tgt = Files.createTempDirectory("cdc-zm-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-zm-ckpt").toFile.getAbsolutePath
    Files.write(new java.io.File(dir, "b1.json").toPath,
      (0 until 8).map(i =>
        s"""{"operationType":"insert","documentKey":"k$i","fullDocument":"{\\"id\\":\\"k$i\\",\\"p\\":\\"p${i % 4}\\",\\"v\\":$i}","clusterTime":"2024-01-01T00:00:0$i.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    val q = graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p",
      statsCols = Seq("v"))
    q.awaitTermination(60000)
    // the merge commit wrote its sidecar; a v-range lookup skips the
    // partitions' files whose zone can't match
    val (kept, total) = graft.sources.ManifestTable.pruneCounts(spark, tgt,
      Seq(graft.sources.ManifestTable.ColRange("v", 6L, 7L)))
    assert(total >= 4 && kept < total && kept >= 1, s"kept=$kept total=$total")
    val rows = graft.sources.ManifestTable.readPruned(spark, tgt, partSchema,
        Seq(graft.sources.ManifestTable.ColRange("v", 6L, 7L)))
      .filter(col("v") >= 6).select("id").as[String].collect().toSet
    assert(rows == Set("k6", "k7"))
  }

  test("manifest commit is atomic: a crash mid-commit leaves the OLD snapshot readable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-crash-env").toFile
    val tgt = Files.createTempDirectory("cdc-crash-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-crash-ckpt").toFile.getAbsolutePath
    Files.write(new java.io.File(dir, "b1.json").toPath,
      Seq(
        """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""",
        """{"operationType":"insert","documentKey":"c","fullDocument":"{\"id\":\"c\",\"p\":\"x\",\"v\":3}","clusterTime":"2024-01-01T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    val q1 = graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
    q1.awaitTermination(60000)
    // simulate dying INSIDE the next commit, after the data write but
    // before the manifest rename: an orphan version-2 data dir (partial,
    // garbage) and a stray staged manifest exist — neither is visible to a
    // reader, because only the _manifest.N rename publishes a version
    new java.io.File(s"$tgt/v00000002/p=x").mkdirs()
    Files.write(new java.io.File(s"$tgt/v00000002/p=x/part-zzz.parquet").toPath,
      "not parquet at all".getBytes("UTF-8"))
    Files.write(new java.io.File(s"$tgt/.manifest-2.tmp").toPath,
      "p=x\t2\n".getBytes("UTF-8"))
    assert(graft.sources.ManifestTable.currentVersion(spark, tgt).contains(1L))
    val old = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "v").as[(String, Long)].collect().toSet
    assert(old == Set(("a", 1L), ("c", 3L))) // the OLD snapshot, intact
    // the replayed/next batch re-commits version 2 over the orphan debris
    // and converges — key c (not in the batch) survives via the merge read
    Files.write(new java.io.File(dir, "b2.json").toPath,
      """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":9}","clusterTime":"2024-01-02T00:00:00.000Z"}"""
        .getBytes("UTF-8"))
    val q2 = graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
    q2.awaitTermination(60000)
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "p", "v").as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "x", 9L), ("c", "x", 3L)))
    assert(graft.sources.ManifestTable.currentVersion(spark, tgt).contains(2L))
    // vacuum swept the stray commit temp
    assert(!new java.io.File(s"$tgt/.manifest-2.tmp").exists())
  }

  test("compact interleaves with merge commits: later batches carry forward from the compacted snapshot") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-cpt-env").toFile
    val tgt = Files.createTempDirectory("cdc-cpt-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-cpt-ckpt").toFile.getAbsolutePath
    Files.write(new java.io.File(dir, "b1.json").toPath,
      Seq(
        """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""",
        """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"p\":\"y\",\"v\":2}","clusterTime":"2024-01-01T00:00:01.000Z"}"""
      ).mkString("\n").getBytes("UTF-8"))
    graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
      .awaitTermination(60000)
    // out-of-band OPTIMIZE between micro-batches: atomic v2, self-contained
    val v = graft.sources.ManifestTable.compact(spark,
      graft.sources.ManifestTable.snapshot(spark, tgt), partSchema, Some(PartSpec.Identity("p")))
    assert(v == 2L)
    graft.sources.ManifestTable.vacuum(spark, tgt)
    assert(!new java.io.File(s"$tgt/v00000001").exists())
    // the NEXT merge batch reads the compacted snapshot and carries its
    // untouched partition forward from the compacted version dir
    Files.write(new java.io.File(dir, "b2.json").toPath,
      """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"p\":\"x\",\"v\":9}","clusterTime":"2024-01-02T00:00:00.000Z"}"""
        .getBytes("UTF-8"))
    graft.cdc.Dispatch.runPartitioned(spark, dir.getAbsolutePath, tgt, ckpt,
      partSchema, identity, "id", "id", "v", partCol = "p")
      .awaitTermination(60000)
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "p", "v").as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "x", 9L), ("b", "y", 2L)))
    // p=y still lives in the compacted v2 dir; v3 holds only p=x
    assert(new java.io.File(s"$tgt/v00000002/p=y").exists())
    assert(!new java.io.File(s"$tgt/v00000003/p=y").exists())
  }

  test("merge-on-read CDC with inline compaction feeds a change-feed replica one batch behind") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ManifestTable
    val base = Files.createTempDirectory("cdc-mor-cdf").toFile.getAbsolutePath
    val env = new java.io.File(base, "env")
    assert(env.mkdirs())
    val (tgt, rep) = (s"$base/target", s"$base/replica")
    // the last-wins state the envelopes describe: id -> (p, v)
    var want = Map.empty[String, (String, Long)]
    val rnd = new scala.util.Random(17)
    // one batch file, written beside the watched dir and renamed in: each
    // batch inserts 6 fresh keys and updates 4 existing ones
    def land(b: Int): Unit = {
      val fresh = (0 until 6).map(i => s"k$b-$i")
      val upd = rnd.shuffle(want.keys.toSeq.sorted).take(4)
      val lines = (fresh ++ upd).zipWithIndex.map { case (id, i) =>
        val op = if (want.contains(id)) "update" else "insert"
        val p = want.get(id).map(_._1).getOrElse("p" + rnd.nextInt(4))
        val v = b * 100L + i
        want += id -> (p, v)
        f"""{"operationType":"$op","documentKey":"$id","fullDocument":"{\\"id\\":\\"$id\\",\\"p\\":\\"$p\\",\\"v\\":$v}","clusterTime":"2024-01-01T00:$b%02d:$i%02d.000Z"}"""
      }
      val tmp = new java.io.File(base, s"b$b.json")
      Files.write(tmp.toPath, lines.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp.toPath, new java.io.File(env, s"b$b.json").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def rowsOf(root: String) = ManifestTable.read(spark, root, partSchema)
      .as[(String, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    land(0)
    val cdc = Dispatch.runMergeOnRead(spark, env.getAbsolutePath, tgt, s"$base/ck-cdc",
      partSchema, identity, "id", "id", "v", partCol = "p",
      trigger = Trigger.ProcessingTime(0L), compactEvery = 2)
    try {
      cdc.processAllAvailable()
      val replica = spark.readStream.format("graft").schema(partSchema)
        .option("key", "id").load(tgt)
        .writeStream.format("graft")
        .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
        .option("checkpointLocation", s"$base/ck-replica")
        .trigger(Trigger.ProcessingTime(0L))
        .start(rep)
      try {
        replica.processAllAvailable()
        // closed loop: the replica trails each CDC batch, and every second
        // CDC batch publishes two versions (merge, then compact)
        for (b <- 1 to 6) {
          land(b)
          cdc.processAllAvailable()
          replica.processAllAvailable()
        }
      } finally replica.stop()
    } finally cdc.stop()
    assert(rowsOf(tgt) == want)
    assert(rowsOf(rep) == want)
  }

  test("ST1-ST7 end-to-end: file-replayed stream -> foreachBatch -> parquet target") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cdc-env").toFile
    val tgt = Files.createTempDirectory("cdc-tgt").toFile.getAbsolutePath + "/target"
    val ckpt = Files.createTempDirectory("cdc-ckpt").toFile.getAbsolutePath
    val lines = Seq(
      """{"operationType":"insert","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":1}","clusterTime":"2024-01-01T00:00:00.000Z"}""",
      """{"operationType":"update","documentKey":"a","fullDocument":"{\"id\":\"a\",\"v\":3}","clusterTime":"2024-01-01T00:00:01.000Z"}""",
      """{"operationType":"insert","documentKey":"b","fullDocument":"{\"id\":\"b\",\"v\":7}","clusterTime":"2024-01-01T00:00:02.000Z"}""",
      """{"operationType":"delete","documentKey":"b","fullDocument":null,"clusterTime":"2024-01-01T00:00:03.000Z"}""")
    Files.write(new java.io.File(dir, "batch1.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    val q = Dispatch.runMergeOnRead(spark, dir.getAbsolutePath, tgt, ckpt, docSchema,
      withPart, rawKey = "id", mergeKey = "id", tieCol = "v", partCol = "p")
    q.awaitTermination(60000)
    val got = graft.sources.ManifestTable.read(spark, tgt, partSchema)
      .select("id", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 3L), ("b", 7L)))
  }
}
