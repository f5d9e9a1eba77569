package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{PartSpec, Sinks, Sources}

/** File sources and sinks (S2/S3/S9/S13/S14) against real temp files —
  * the reference's place_names.json / place_coordinates.json shapes.
  */
class SourcesSpec extends SparkSuite {

  test("S3 array-shaped JSON file reads one row per element") {
    import spark.implicits._
    val f = Files.createTempFile("names", ".json")
    Files.writeString(f,
      """[{"id":"p1","en":"Hanoi","vi":"Ha Noi"},
         {"id":"p2","en":"Da Nang","vi":"Da Nang"}]""")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("en", StringType), StructField("vi", StringType)))
    val got = Sources.jsonArrayFile(spark, f.toString, schema)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("p1", "Hanoi", "Ha Noi"), ("p2", "Da Nang", "Da Nang")))
  }

  test("S2 map-shaped JSON file explodes to (key, value) rows") {
    import spark.implicits._
    val f = Files.createTempFile("coords", ".json")
    Files.writeString(f,
      """{"p1": {"lat": "21.03N", "lon": "105.85E"},
         "p2": {"lat": "16.07N", "lon": "108.22E"}}""")
    val valueSchema = StructType(Seq(StructField("lat", StringType),
      StructField("lon", StringType)))
    val got = Sources.jsonMapFile(spark, f.toString, valueSchema)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("p1", "21.03N", "105.85E"), ("p2", "16.07N", "108.22E")))
  }

  test("mongoexport dump reader collapses every wrapper form; malformed lines flagged") {
    import spark.implicits._
    val f = Files.createTempFile("dump", ".json")
    Files.writeString(f, Seq(
      """{"_id": {"$oid": "65f1a2b3c4d5e6f7a8b9c0d1"}, "ts": {"$date": "2024-03-01T07:00:00Z"}, "n": {"$numberLong": "42"}, "price": {"$numberDecimal": "19.99"}, "tag": "plain"}""",
      """{"_id": {"$oid": "65f1a2b3c4d5e6f7a8b9c0d2"}, "ts": {"$date": {"$numberLong": "1709275600000"}}, "n": {"$numberInt": "7"}, "price": {"$numberDouble": "2.5"}, "tag": "millis"}""",
      """{"_id": {"$oid": "65f1a2b3c4d5e6f7a8b9c0d3"}, "ts": {"$date": "2024-03-01T07:00:00Z"}, "n": {"$numberLong": "1"}, "price": {"$numberDouble": "-.5"}, "tag": "leadingdot"}""",
      """{"_id": {"$oid": "65f1a2b3c4d5e6f7a8b9c0d4"}, "ts": {"$date": "2024-03-01T07:00:00Z"}, "n": {"$numberLong": "2"}, "price": {"$numberDouble": "NaN"}, "tag": "nonfinite"}""",
      """{}""",
      """this line is not json"""
    ).mkString("\n"))
    val schema = StructType(Seq(
      StructField("_id", StringType), StructField("ts", StringType),
      StructField("n", LongType), StructField("price", DoubleType),
      StructField("tag", StringType)))
    val rows = Sources.mongoExportFile(spark, f.toString, schema)
    val good = rows.filter(!col("_malformed") && col("_id").isNotNull)
      .select("_id", "ts", "n", "price", "tag")
      .as[(String, String, Long, Double, String)].collect().toSet
    assert(good.filterNot(_._5 == "nonfinite") == Set(
      ("65f1a2b3c4d5e6f7a8b9c0d1", "2024-03-01T07:00:00Z", 42L, 19.99, "plain"),
      ("65f1a2b3c4d5e6f7a8b9c0d2", "1709275600000", 7L, 2.5, "millis"),
      ("65f1a2b3c4d5e6f7a8b9c0d3", "2024-03-01T07:00:00Z", 1L, -0.5, "leadingdot")))
    assert(good.find(_._5 == "nonfinite").exists(_._4.isNaN))
    // ONLY the unparseable line is malformed — the legitimately empty
    // document ({}: all schema fields absent) is a valid all-NULL row
    assert(rows.filter(col("_malformed")).count() == 1)
    assert(rows.filter(!col("_malformed")).count() == 5)
    assert(rows.filter(!col("_malformed") && col("_id").isNull).count() == 1)
    // both wire-form dates parse to the same convention via parseWireDate
    val ts = rows.filter(!col("_malformed") && col("ts").isNotNull)
      .select(graft.cdc.Dispatch.parseWireDate(col("ts")).cast("string"))
      .as[String].collect().toSet
    assert(ts == Set("2024-03-01 07:00:00", "2024-03-01 06:46:40"))
  }

  test("S13 dead-letter sink writes enumerated JSON under a stamped path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dlq").toString
    val failed = Seq((1L, "bad row")).toDF("id", "why")
    Sinks.deadLetter(failed, dir, java.sql.Timestamp.valueOf("2024-03-01 07:30:00"))
    val out = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(out.contains("failed_20240301073000"))
    val rows = spark.read.json(s"$dir/failed_20240301073000")
    assert(rows.columns.toSet == Set("id", "why", "failed_index"))
    assert(rows.count() == 1)
  }

  test("S15 audited append: NOT NULL violators dead-letter, conformant rows land") {
    import spark.implicits._
    val base = Files.createTempDirectory("audit").toString
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("place_id", StringType, nullable = false),
      StructField("temp_c", DoubleType)))
    val batch = Seq(
      (Some("w1"), Some("p1"), Some(1.5)),
      (None: Option[String], Some("p2"), Some(2.5)),   // id null
      (Some("w3"), None: Option[String], None: Option[Double]), // place_id null
      (None: Option[String], None: Option[String], Some(4.5))   // both null
    ).toDF("id", "place_id", "temp_c")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 07:30:00")
    val nBad = Sinks.appendAudited(batch, s"$base/t", schema, s"$base/dlq", ts)
    assert(nBad == 3)
    val landed = spark.read.parquet(s"$base/t")
    assert(landed.select("id").as[String].collect().toSeq == Seq("w1"))
    val dlq = spark.read.json(s"$base/dlq/failed_20240301073000")
    val tags = dlq.select("null_violations").as[String].collect().toSet
    assert(tags == Set("id", "place_id", "id,place_id"))
    assert(dlq.count() == 3)
  }

  test("S15 nullAudit counts a declared-but-absent required column as violated") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("missing_col", StringType, nullable = false)))
    val (ok, bad) = graft.ops.Integrity.nullAudit(
      Seq("a", "b").toDF("id"), schema)
    assert(ok.count() == 0)
    assert(bad.select("null_violations").as[Seq[String]].collect()
      .forall(_ == Seq("missing_col")))
  }

  test("CSV with corrupt routing parses good rows and banks bad ones") {
    import spark.implicits._
    val f = Files.createTempFile("rows", ".csv")
    Files.writeString(f,
      """id,v
        |a,1
        |b,not-a-number
        |c,3""".stripMargin)
    val dlq = Files.createTempDirectory("csv-dlq").toString
    val schema = StructType(Seq(StructField("id", StringType), StructField("v", LongType)))
    val good = Sources.csvWithCorruptRouting(spark, f.toString, schema, dlq,
      java.sql.Timestamp.valueOf("2024-03-04 09:00:00"))
    assert(good.as[(String, Long)].collect().toSet == Set(("a", 1L), ("c", 3L)))
    assert(spark.read.json(s"$dlq/failed_20240304090000").count() == 1)
  }

  test("ORC round-trips through write and read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("orc").toString + "/t"
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "x")
    df.write.orc(dir)
    val back = spark.read.orc(dir)
    // file formats read everything back nullable; compare names/types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("binaryFile source ingests whole files with metadata, glob-filtered") {
    val dir = Files.createTempDirectory("bin")
    Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("b.img"), Array[Byte](4, 5))
    Files.write(dir.resolve("skip.txt"), "text".getBytes)
    val got = Sources.binaryDir(spark, dir.toString, "*.img")
      .select("path", "length", "content").collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    val byName = got.map(r => r.getString(0).split('/').last ->
      r.getAs[Array[Byte]](2).toSeq).toMap
    assert(byName("a.img") == Seq[Byte](1, 2, 3))
  }

  test("schema evolution: mergeSchema unions parquet columns across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("evolve").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    import org.apache.spark.sql.functions.col
    val rows = merged.select(col("id"), col("score")).as[(Long, Option[Double])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some(9.5)))
  }

  test("corrupt JSON lines route to the dead-letter sink; good rows parse") {
    import spark.implicits._
    val f = Files.createTempFile("mixed", ".json")
    Files.writeString(f,
      """{"id":"a","v":1}
        |this is not json
        |{"id":"b","v":2}
        |{"id": 3, "v": "not-a-long"}""".stripMargin)
    val dlq = Files.createTempDirectory("json-dlq").toString
    val schema = StructType(Seq(StructField("id", StringType), StructField("v", LongType)))
    val good = Sources.jsonWithCorruptRouting(spark, f.toString, schema, dlq,
      java.sql.Timestamp.valueOf("2024-03-03 11:00:00"))
    assert(good.as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 2L)))
    val banked = spark.read.json(s"$dlq/failed_20240303110000")
    assert(banked.count() == 2)
    assert(banked.select("raw").as[String].collect().exists(_.contains("not json")))
  }

  test("S13 dead-letter index is dense 0..n-1 and stable across replays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dlq-dense").toString
    // multiple partitions: monotonically_increasing_id would jump by 2^33 at
    // each partition boundary; the enumerated index must stay dense
    val failed = (0L until 10L).map(i => (i, s"row$i")).toDF("id", "why")
      .repartition(3)
    val ts = java.sql.Timestamp.valueOf("2024-03-02 10:00:00")
    Sinks.deadLetter(failed, dir, ts)
    val rows = spark.read.json(s"$dir/failed_20240302100000")
    assert(rows.select("failed_index").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
    // stable: replaying the same batch numbers rows identically
    val dir2 = Files.createTempDirectory("dlq-dense2").toString
    Sinks.deadLetter(failed, dir2, ts)
    val a = rows.select("id", "failed_index").as[(Long, Long)].collect().toSet
    val b = spark.read.json(s"$dir2/failed_20240302100000")
      .select("id", "failed_index").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("co-bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val facts = (1L to 200L).map(i => (i % 40, i, s"f$i")).toDF("k", "id", "v")
    val dim = (0L to 39L).map(i => (i, s"d$i")).toDF("k", "name")
    Sinks.writeBucketed(facts, "b_facts", "k", 8)
    Sinks.writeBucketed(dim, "b_dim", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_facts").join(spark.table("b_dim"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 200)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("connector seam resolves format/path/options from session conf") {
    import spark.implicits._
    // offline default: plain parquet at the caller's path
    val pq = Files.createTempDirectory("conn").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(pq)
    assert(graft.sources.Connectors.read(spark, "warehouse", pq).count() == 2)
    // flip the endpoint to a json "connector" purely via conf — no code change
    val js = Files.createTempDirectory("conn-js").toString + "/t"
    Seq((3L, "c")).toDF("id", "v").write.json(js)
    spark.conf.set("spark.graft.conn.warehouse.format", "json")
    spark.conf.set("spark.graft.conn.warehouse.path", js)
    spark.conf.set("spark.graft.conn.warehouse.option.primitivesAsString", "true")
    try {
      val got = graft.sources.Connectors.read(spark, "warehouse", pq)
      assert(got.count() == 1)
      // the pass-through option reached the reader: primitives arrive as strings
      assert(got.schema("id").dataType == StringType)
      // write side follows the same resolution
      graft.sources.Connectors.write(Seq((4L, "d")).toDF("id", "v"),
        "warehouse", pq)
      assert(spark.read.json(js).count() == 2)
    } finally {
      spark.conf.unset("spark.graft.conn.warehouse.format")
      spark.conf.unset("spark.graft.conn.warehouse.path")
      spark.conf.unset("spark.graft.conn.warehouse.option.primitivesAsString")
    }
    // Tables routes through the seam: an unconfigured name stays parquet
    assert(Tables(spark, "/root/testdata/sf0.001", "nation").count() > 0)
  }

  test("connector seam drives a full write->read round trip on a second format (csv)") {
    import spark.implicits._
    // both legs go THROUGH the seam — proving the conf actually selects the
    // format and its options end to end (the offline stand-in for flipping
    // an endpoint between parquet and mongodb/bigquery), not just that the
    // option map parses
    val dir = Files.createTempDirectory("conn-csv").toString + "/t"
    spark.conf.set("spark.graft.conn.mart.format", "csv")
    spark.conf.set("spark.graft.conn.mart.path", dir)
    spark.conf.set("spark.graft.conn.mart.option.header", "true")
    spark.conf.set("spark.graft.conn.mart.option.inferSchema", "true")
    try {
      val out = Seq((1L, "a", 2.5), (2L, "b", -1.0)).toDF("id", "v", "x")
      graft.sources.Connectors.write(out, "mart", sys.error("must not fall back"))
      val got = graft.sources.Connectors.read(spark, "mart", sys.error("must not fall back"))
      // header+inferSchema reached the reader: names survive, types recover
      assert(got.schema("id").dataType == org.apache.spark.sql.types.LongType ||
        got.schema("id").dataType == org.apache.spark.sql.types.IntegerType, got.schema)
      assert(got.schema("x").dataType == org.apache.spark.sql.types.DoubleType, got.schema)
      assert(got.select("id", "v", "x").as[(Long, String, Double)].collect().toSet ==
        Set((1L, "a", 2.5), (2L, "b", -1.0)))
    } finally {
      spark.conf.unset("spark.graft.conn.mart.format")
      spark.conf.unset("spark.graft.conn.mart.path")
      spark.conf.unset("spark.graft.conn.mart.option.header")
      spark.conf.unset("spark.graft.conn.mart.option.inferSchema")
    }
  }

  test("connector seam proves out on a THIRD engine: embedded-Derby JDBC round trip") {
    import spark.implicits._
    // S10 typed append + S4 read through the seam against a real second
    // database engine (Derby embedded, on the Spark-provided classpath) —
    // the deployment story the mongodb/bigquery connectors use, with zero
    // code change at the call site: only session conf differs.
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("derby").resolve("derby.log").toString)
    val url = s"jdbc:derby:memory:graftconn${System.nanoTime()};create=true"
    val conf = Map(
      "spark.graft.conn.wh.format" -> "jdbc",
      "spark.graft.conn.wh.option.url" -> url,
      "spark.graft.conn.wh.option.dbtable" -> "WEATHER",
      "spark.graft.conn.wh.option.driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      // typed DDL mapping (S10): Derby's default StringType is CLOB, which
      // rejects pushed comparisons — declare the key columns VARCHAR
      "spark.graft.conn.wh.option.createTableColumnTypes" ->
        "id VARCHAR(64), place_id VARCHAR(64)")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val batch1 = Seq(("w1", "p1", 1.5), ("w2", "p2", 2.5)).toDF("id", "place_id", "temp_c")
      val batch2 = Seq(("w3", "p3", 3.5)).toDF("id", "place_id", "temp_c")
      def noDefault: String = sys.error("offline parquet default must not be consulted")
      graft.sources.Connectors.write(batch1, "wh", noDefault)
      graft.sources.Connectors.write(batch2, "wh", noDefault) // append accumulates
      val back = graft.sources.Connectors.read(spark, "wh", noDefault)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq(("id", StringType), ("place_id", StringType), ("temp_c", DoubleType)))
      assert(back.as[(String, String, Double)].collect().toSet ==
        Set(("w1", "p1", 1.5), ("w2", "p2", 2.5), ("w3", "p3", 3.5)))
      // pushdown reaches the remote engine: the seam read is a JDBCRelation,
      // so a key predicate ships to Derby rather than filtering in Spark
      val one = graft.sources.Connectors.read(spark, "wh", noDefault)
        .filter(col("id") === "w2")
      assert(one.queryExecution.executedPlan.toString.contains("PushedFilters"))
      assert(one.as[(String, String, Double)].collect().toSeq == Seq(("w2", "p2", 2.5)))
    } finally conf.keys.foreach(spark.conf.unset)
  }

  test("DML rendering sink: rendered INSERT/UPDATE statements execute on Derby and round-trip") {
    import spark.implicits._
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("derby-dml").resolve("derby.log").toString)
    val url = s"jdbc:derby:memory:graftdml${System.nanoTime()};create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE weather (id VARCHAR(64), place_id VARCHAR(64), temp_c DOUBLE, " +
        "ok BOOLEAN, last_updated TIMESTAMP)")
    conn.close()
    val ts = java.sql.Timestamp.valueOf("2024-03-01 07:00:00")
    val batch = Seq(
      ("w1", "p1", Some(1.5), true, ts),
      ("w2", "p'2", Some(2.5), false, ts),            // quote in value: escaping leg
      ("w3", null.asInstanceOf[String], None: Option[Double], true, ts)) // NULLs
      .toDF("id", "place_id", "temp_c", "ok", "last_updated")
    // golden: the reference's literal typing rules with proper escaping
    val stmts = graft.sources.Sinks.renderInserts(batch, "weather")
      .as[String].collect().toSet
    assert(stmts.contains("INSERT INTO weather (id, place_id, temp_c, ok, last_updated) " +
      "VALUES ('w2', 'p''2', 2.5, false, TIMESTAMP('2024-03-01 07:00:00.000000'))"))
    assert(stmts.exists(_.contains("'w3', NULL, NULL, true,")))
    assert(graft.sources.Sinks.executeDml(
      graft.sources.Sinks.renderInserts(batch, "weather"), url, driver) == 3L)
    def readBack = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "weather").option("driver", driver).load()
    assert(readBack.count() == 3)
    assert(readBack.filter(col("id") === "w2")
      .select("place_id").as[String].head() == "p'2")
    // keyed UPDATE leg: bump w1's temp, flip its flag
    val upd = Seq(("w1", "p1", 9.5, false, ts))
      .toDF("id", "place_id", "temp_c", "ok", "last_updated")
    assert(graft.sources.Sinks.executeDml(
      graft.sources.Sinks.renderUpdates(upd, "weather", "id"), url, driver) == 1L)
    val w1 = readBack.filter(col("id") === "w1")
      .select("temp_c", "ok").as[(Double, Boolean)].head()
    assert(w1 == (9.5, false))
  }

  test("executeDmlAudited: failed statements dead-letter as data, the rest land, counts reconcile") {
    import spark.implicits._
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("derby-aud").resolve("derby.log").toString)
    val url = s"jdbc:derby:memory:graftaud${System.nanoTime()};create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(16))")
    conn.close()
    // 40 statements, every 7th a PK duplicate of the previous id — failures
    // land INSIDE batches (batchSize=10), exercising mid-batch isolation
    val rows = (0 until 40).map(i =>
      (if (i % 7 == 3) i - 1 else i, s"v$i")).toDF("id", "v")
    val stmts = graft.sources.Sinks.renderInserts(rows, "t")
    val (ok, failures) = graft.sources.Sinks.executeDmlAudited(
      stmts, url, driver, batchSize = 10)
    val fails = failures.as[(String, String)].collect()
    val expectedDups = (0 until 40).count(i => i % 7 == 3)
    assert(fails.length == expectedDups, fails.mkString("; "))
    assert(ok == 40L - expectedDups)
    // SQLState 23505 = unique-constraint violation, attributed per statement
    assert(fails.forall(_._2 == "23505"), fails.mkString("; "))
    // every non-duplicate row actually landed
    val landed = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "t").option("driver", driver).load()
    assert(landed.count() == 40L - expectedDups)
    // errors-as-data can ride the standard dead-letter sink
    val dlq = Files.createTempDirectory("dml-dlq").toString
    graft.sources.Sinks.deadLetter(failures, dlq,
      java.sql.Timestamp.valueOf("2024-03-05 08:00:00"))
    assert(spark.read.json(s"$dlq/failed_20240305080000").count() == expectedDups)
  }

  test("S1 keyed fetch: per-partition client, shrinking retry, dead-letter residue") {
    import spark.implicits._
    // scripted per-attempt clients (file-scope so the closure ships without
    // dragging the spec along): k2 succeeds only from attempt 2 (a transient
    // failure the retry must recover), k3 never succeeds (a permanent
    // failure the dead-letter must bank)
    val dlq = Files.createTempDirectory("fetch-dlq").toString
    val keys = Seq("k1", "k2", "k3").toDF("place")
    val (fetched, failures) = graft.sources.Fetch.fetchWithRetry(
      keys, "place", a => new ScriptedClient(a), dlq,
      java.sql.Timestamp.valueOf("2024-03-05 08:00:00"), maxAttempts = 3)
    // k1 fetched on attempt 1 and NOT re-fetched on later attempts; k2
    // recovered on attempt 2
    assert(fetched.as[(String, String)].collect().toSet ==
      Set(("k1", "payload-k1-a1"), ("k2", "payload-k2-a2")))
    assert(failures.as[(String, String)].collect().toSet == Set(("k3", "permanent")))
    // the residue is banked through the standard dead-letter sink
    val banked = spark.read.json(s"$dlq/failed_20240305080000")
    assert(banked.select("key", "error").as[(String, String)].collect().toSet ==
      Set(("k3", "permanent")))
  }

  test("S1 keyed fetch succeeds first pass: no retry, no dead-letter output") {
    import spark.implicits._
    val dlq = Files.createTempDirectory("fetch-dlq-ok").toString
    var attemptsMade = 0
    val (fetched, failures) = graft.sources.Fetch.fetchWithRetry(
      Seq("a", "b").toDF("k"), "k",
      { a => attemptsMade = math.max(attemptsMade, a); OkClient }, dlq,
      java.sql.Timestamp.valueOf("2024-03-05 09:00:00"), maxAttempts = 3)
    assert(attemptsMade == 1) // clean first pass short-circuits the budget
    assert(fetched.count() == 2 && failures.isEmpty)
    assert(new java.io.File(dlq).list().forall(_ == "_SUCCESS") ||
      new java.io.File(dlq).list().isEmpty)
  }

  test("ManifestTable: snapshot versions flip atomically; vacuum keeps only live data") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    assert(!ManifestTable.exists(spark, root))
    intercept[IllegalStateException](ManifestTable.read(spark, root, schema))
    assert(ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      root, spec = None) == 1L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // next snapshot replaces wholesale (non-partitioned contract); the old
    // version stays readable until vacuum reclaims it
    assert(ManifestTable.commit(Seq((1L, "a2")).toDF("id", "v"),
      root, spec = None) == 2L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((1L, "a2")))
    assert(new java.io.File(s"$root/v00000001").exists())
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/v00000001").exists())
    assert(!new java.io.File(s"$root/_manifest.00000001").exists())
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((1L, "a2")))
  }

  test("ManifestTable.deleteWhere: merge-on-read deletes, DV carry-forward, compact purges") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-dv").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    def snap() = ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet
    ManifestTable.commit(
      Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 30L), (4L, "y", 40L))
        .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    // logical delete: no data file rewritten — the claimed version dir is
    // an EMPTY claim vehicle (the staged-commit protocol's arbitration),
    // referenced by no manifest entry
    val dv1 = ManifestTable.deleteWhere(spark, root, schema, col("id") === 2L)
    assert(dv1 == 2L)
    val vdir2 = new java.io.File(s"$root/v00000002")
    assert(!vdir2.exists() || vdir2.listFiles().forall(f =>
      !f.getName.endsWith(".parquet")), "delete must not write data")
    assert(new java.io.File(s"$root/d00000002").exists(), "DV dataset missing")
    assert(snap() == Set((1L, "x", 10L), (3L, "y", 30L), (4L, "y", 40L)))
    // time travel to the pre-delete manifest still shows the row
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(1L))
      .as[(Long, String, Long)].collect().toSet.contains((2L, "x", 20L)))
    // second delete accumulates into a fresh DV version
    ManifestTable.deleteWhere(spark, root, schema, col("v") >= 40L)
    assert(snap() == Set((1L, "x", 10L), (3L, "y", 30L)))
    // a merge commit rewriting ONLY p=x carries the DV forward: p=y's
    // deleted row (id=4) stays masked, p=x's rewrite is authoritative
    ManifestTable.commit(Seq((1L, "x", 11L), (2L, "x", 21L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p")))
    assert(snap() == Set((1L, "x", 11L), (2L, "x", 21L), (3L, "y", 30L)))
    // readPruned applies the DV too (no ranges = plain assembly path)
    assert(ManifestTable.readPruned(spark, root, schema, Nil)
      .as[(Long, String, Long)].collect().toSet == snap())
    // compact materializes the deletes: content identical, no #dv pointer,
    // and vacuum reclaims every DV dataset
    val before = snap()
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")))
    assert(snap() == before)
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/d00000002").exists())
    assert(!new java.io.File(s"$root/d00000003").exists())
    assert(snap() == before)
  }

  test("ManifestTable.changes: tagged row feed; untouched partitions never opened") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-cdf").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(
      Seq((1L, "x", 10L), (2L, "x", 20L), (3L, "y", 30L), (4L, "z", 40L))
        .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    // v2 rewrites p=x: id=1 updated, id=2 deleted, id=5 inserted
    ManifestTable.commit(Seq((1L, "x", 11L), (5L, "x", 50L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p")))
    // v3 masks p=y's id=3 via a deletion vector
    ManifestTable.deleteWhere(spark, root, schema, col("id") === 3L)
    val feed = ManifestTable.changes(spark, root, schema, Seq("id"), 1L, 3L)
      .as[(String, Long, String, Long)].collect().toSet
    assert(feed == Set(
      ("update_preimage", 1L, "x", 10L), ("update_postimage", 1L, "x", 11L),
      ("delete", 2L, "x", 20L), ("insert", 5L, "x", 50L),
      ("delete", 3L, "y", 30L)))
    // an adjacent window sees only its own commit's changes
    assert(ManifestTable.changes(spark, root, schema, Seq("id"), 2L, 3L)
      .as[(String, Long, String, Long)].collect().toSet
      == Set(("delete", 3L, "y", 30L)))
    assert(ManifestTable.changes(spark, root, schema, Seq("id"), 3L, 3L).count() == 0L)
    // pruning proof: destroy the untouched p=z partition's data — the feed
    // must still compute, because neither side ever opens that partition
    val zdir = new java.io.File(s"$root/v00000001/p=z")
    assert(zdir.exists())
    zdir.listFiles().foreach(f => assert(f.delete()))
    assert(zdir.delete())
    assert(ManifestTable.changes(spark, root, schema, Seq("id"), 1L, 3L)
      .count() == 5L)
  }

  test("ManifestTable: partition-scheme evolution via full-snapshot rewrite") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-pev").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("q", org.apache.spark.sql.types.LongType)))
    val rows = Seq((1L, "x", 10L), (2L, "y", 10L), (3L, "x", 20L))
    ManifestTable.commit(rows.toDF("id", "p", "q"), root, Some(PartSpec.Identity("p")))
    // repartition the TABLE (not just files) to a different column: a full
    // snapshot rewrite under the new scheme, carryForward=false — the
    // Iceberg-style partition-evolution move, atomic like any commit
    ManifestTable.commit(ManifestTable.read(spark, root, schema), root,
      Some(PartSpec.Identity("q")), carryForward = false)
    assert(new java.io.File(s"$root/v00000002/q=10").exists())
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet == rows.toSet)
    // time travel across the scheme change still serves the old layout
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(1L))
      .as[(Long, String, Long)].collect().toSet == rows.toSet)
    // subsequent merge commits carry forward under the NEW scheme
    ManifestTable.commit(Seq((4L, "z", 20L)).toDF("id", "p", "q")
      .unionByName(ManifestTable.read(spark, root, schema).filter(col("q") === 20L)),
      root, Some(PartSpec.Identity("q")))
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet == rows.toSet + ((4L, "z", 20L)))
  }

  test("ManifestTable.detail + deletedRowCount report live versions, files, purge backlog") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-det").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((3L, "x")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p"))) // p=y carries from v1
    val d = ManifestTable.detail(spark, root)
    assert(d.map(_._1) == Seq(1L, 2L)) // both data versions live
    assert(d.map(_._2).sum == 2)       // two partition entries total
    assert(d.forall(x => x._3 >= 1 && x._4 > 0L))
    assert(ManifestTable.deletedRowCount(spark, root) == 0L)
    ManifestTable.deleteWhere(spark, root, schema, col("id") === 2L)
    assert(ManifestTable.deletedRowCount(spark, root) == 1L)
  }

  test("end-to-end lakehouse chain: CDC merge commits -> change feed -> SCD2 dimension") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-chain").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("tier", org.apache.spark.sql.types.StringType)))
    // three commits = three observation times of each key's tier attribute
    ManifestTable.commit(Seq((1L, "x", "gold"), (2L, "x", "silver"))
      .toDF("id", "p", "tier"), root, Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((1L, "x", "gold"), (2L, "x", "gold"), (3L, "x", "bronze"))
      .toDF("id", "p", "tier"), root, Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((1L, "x", "silver"), (2L, "x", "gold"), (3L, "x", "bronze"))
      .toDF("id", "p", "tier"), root, Some(PartSpec.Identity("p")))
    // change feed per adjacent version pair -> change-log rows at ts = toV;
    // insert/update_postimage carry each key's newly observed state
    val log = Seq((1L, 2L), (2L, 3L)).map { case (a, b) =>
      ManifestTable.changes(spark, root, schema, Seq("id"), a, b)
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("id"), lit(b).as("ts"), lit(b).as("tie"), col("tier"))
    }.reduce(_ unionByName _)
      // the initial snapshot seeds the log at ts = 1
      .unionByName(ManifestTable.read(spark, root, schema, asOfVersion = Some(1L))
        .select(col("id"), lit(1L).as("ts"), lit(1L).as("tie"), col("tier")))
    val dim = graft.ops.Scd.type2(log, "id", "ts", Seq("tier"), "tie")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))).toSet
    assert(dim == Set(
      (1L, "gold", 1L, Some(3L), false), (1L, "silver", 3L, None, true),
      (2L, "silver", 1L, Some(2L), false), (2L, "gold", 2L, None, true),
      (3L, "bronze", 2L, None, true)))
  }

  test("ManifestTable.mergeDv: merge-on-read equals copy-on-write; bytes written scale with batch") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mandv").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    // 40k rows across 4 partitions; the batch touches 20 keys in ONE partition
    val base = (0L until 40000L).map(i => (i, s"p${i % 4}", i * 10L)).toDF("id", "p", "v")
    ManifestTable.commit(base, root, Some(PartSpec.Identity("p")))
    def dirBytes(d: String): Long = {
      val f = new java.io.File(d)
      if (!f.exists) 0L
      else f.listFiles.map(x => if (x.isDirectory) dirBytes(x.getPath) else x.length).sum
    }
    val v1Bytes = dirBytes(s"$root/v00000001")
    val batch = (0L until 20L).map(i => (i * 4, "p0", -1L)).toDF("id", "p", "v")
      .unionByName(Seq((90001L, "p0", 7L)).toDF("id", "p", "v")) // one insert
    ManifestTable.mergeDv(batch, root, schema, Seq("id"), Some(PartSpec.Identity("p")))
    // write amplification: the commit wrote the batch + matched positions,
    // NOT a rewrite of partition p0 (10k rows) — orders of magnitude smaller
    val written = dirBytes(s"$root/v00000002") + dirBytes(s"$root/d00000002")
    assert(written < v1Bytes / 20, s"written=$written v1=$v1Bytes")
    // result equals the copy-on-write merge
    val expect = graft.ops.Upsert.mergeUnique(base, batch, "id")
      .as[(Long, String, Long)].collect().toSet
    val got = ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet
    assert(got == expect)
    // untouched partitions' files were not rewritten: v2 holds only p0
    assert(!new java.io.File(s"$root/v00000002/p=p1").exists())
    assert(new java.io.File(s"$root/v00000002/p=p0").exists())
    // a second round updates an APPENDED row (DV must mask the v2 copy too)
    val batch2 = Seq((0L, "p0", -2L), (90001L, "p0", 8L)).toDF("id", "p", "v")
    ManifestTable.mergeDv(batch2, root, schema, Seq("id"), Some(PartSpec.Identity("p")))
    val expect2 = graft.ops.Upsert.mergeUnique(
      graft.ops.Upsert.mergeUnique(base, batch, "id"), batch2, "id")
      .as[(Long, String, Long)].collect().toSet
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet == expect2)
    // time travel: pre-merge and mid-merge snapshots intact
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(1L))
      .filter(col("id") === 0L).as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "p0", 0L)))
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(2L))
      .filter(col("id") === 0L).as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "p0", -1L)))
    // change feed across the DV-merge commit classifies correctly
    val ch = ManifestTable.changes(spark, root, schema, Seq("id"), 2L, 3L)
      .as[(String, Long, String, Long)].collect().toSet
    assert(ch == Set(("update_preimage", 0L, "p0", -1L),
      ("update_postimage", 0L, "p0", -2L),
      ("update_preimage", 90001L, "p0", 7L),
      ("update_postimage", 90001L, "p0", 8L)))
    // compact folds the append log into one clean version, same rows
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")))
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet == expect2)
    assert(ManifestTable.deletedRowCount(spark, root) == 0L)
  }

  test("graft format: SQL front door reads/writes manifest tables with pushdown + time travel") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mansql").toString + "/t"
    // snapshot write through the format, partitioned + zone-mapped
    val df1 = (0L until 8000L).map(i => (i, s"p${i % 4}", i * 3L)).toDF("id", "p", "v")
      .repartitionByRange(8, col("id"))
    df1.write.format("graft").option("partitionBy", "p")
      .option("statsCols", "id").mode("overwrite").save(root)
    // blind append through the format
    val df2 = Seq((90000L, "p1", 1L)).toDF("id", "p", "v")
    df2.write.format("graft").mode("append").option("partitionBy", "p").save(root)
    // schema-less load infers (data + partition column) and reads both versions
    val loaded = spark.read.format("graft").load(root)
    assert(loaded.schema.fieldNames.toSet == Set("id", "p", "v"))
    assert(loaded.count() == 8001L)
    // spark.sql over a temp view; filter lands in the relation's PushedFilters
    loaded.createOrReplaceTempView("graft_t")
    val q = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM graft_t WHERE id BETWEEN 100 AND 200")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(id,100)"), p)
    assert(q.as[(Long, Long)].collect().toSeq ==
      Seq((101L, (100L to 200L).map(_ * 3).sum)))
    // the pushed range actually SKIPS files (8 range-split files per version)
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ManifestTable.ColRange("id", 100L, 200L)))
    assert(kept < total, s"kept=$kept total=$total")
    // time travel through the option
    assert(spark.read.format("graft").option("versionAsOf", "1").load(root)
      .count() == 8000L)
    // deletes are honored through the front door
    ManifestTable.deleteWhere(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))),
      col("id") < 1000L)
    assert(spark.read.format("graft").load(root).count() == 7001L)
    // zero-column scans (count(*) after analysis prunes all columns) work
    assert(spark.sql("SELECT count(*) FROM graft_t WHERE p = 'p1'").first().getLong(0) > 0)
  }

  test("additive column evolution through mergeDv: old versions read NULL, new carry the column") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manevo").toString + "/t"
    val v1Schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val v2Schema = org.apache.spark.sql.types.StructType(v1Schema.fields :+
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))
    ManifestTable.commit(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    // the merge batch carries the NEW column; the widened schema drives the
    // position scan, reading the old files' missing column as NULL
    ManifestTable.mergeDv(Seq((2L, "a", 99L, "x"), (4L, "b", 40L, "y"))
      .toDF("id", "p", "v", "tag"), root, v2Schema, Seq("id"), Some(PartSpec.Identity("p")))
    val got = ManifestTable.read(spark, root, v2Schema)
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(got == Set((1L, "a", 10L, None), (2L, "a", 99L, Some("x")),
      (3L, "b", 30L, None), (4L, "b", 40L, Some("y"))))
    // schema inference (the front door's load path) reports the union
    assert(ManifestTable.inferSchema(spark, ManifestTable.snapshot(spark, root)).fieldNames.toSet ==
      Set("id", "p", "v", "tag"))
    assert(spark.read.format("graft").load(root).count() == 4L)
  }

  test("nested-column zone maps and Blooms prune files (dotted-path skipping, r18)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mannest").toString + "/t"
    // parquet footers key chunk stats by the DOTTED leaf path and the
    // Bloom harvest selects by it, so statsCols/bloomCols accept nested
    // paths; the predicate side folds GetStructField chains to the same
    // dotted name — nested document models prune like flat ones
    val df = spark.range(0, 8000).select(col("id").as("k"),
      struct(
        struct(col("id").as("key"),
          concat(lit("t"), col("id")).as("tag")).as("m"),
        (col("id") * 2).cast("double").as("price")).as("o"))
      .repartitionByRange(8, col("k"))
    ManifestTable.commit(df, root, None,
      statsCols = Seq("o.m.key"), bloomCols = Seq("o.m.tag"))
    // hint extraction folds the nested reference to its dotted path
    val (ranges, points, _) = ManifestTable.extractHintsFor(spark, df.schema,
      col("o.m.key") >= 100L && col("o.m.key") <= 200L && col("o.m.tag") === "t111")
    assert(ranges.map(_.col).contains("o.m.key"), ranges.toString)
    assert(points == Seq("o.m.tag" -> "t111"), points.toString)
    // zone pruning on the range-clustered nested key
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ManifestTable.ColRange("o.m.key", 100L, 200L)))
    assert(total == 8 && kept < total, s"kept=$kept total=$total")
    // Bloom probing on the unclustered unique nested tag
    val (keptB, totalB) = ManifestTable.pruneCounts(spark, root, Nil,
      points = Seq(("o.m.tag", "t111")))
    assert(totalB == 8 && keptB <= 2, s"keptB=$keptB totalB=$totalB")
    // readAuto end-to-end: derives the nested hints from the predicate
    // itself and stays exact
    val got = ManifestTable.readAuto(spark, root, df.schema,
      col("o.m.key").between(100L, 105L) && col("o.m.tag") =!= "t103")
      .select("k").as[Long].collect().toSet
    assert(got == (100L to 105L).toSet - 103L, got.toString)
  }

  test("IN-list Bloom probing: any-of point probes skip files on unclustered keys") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manin").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    // round-robin: every file's [min,max] id span covers the whole domain,
    // so the IN-list's zone range is blind — only the any-of Bloom can skip
    val df = (0 until 20000).map(i => (s"k$i", i.toLong)).toDF("id", "v")
      .repartition(16)
    ManifestTable.commit(df, root, spec = None,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val keys = Seq("k111", "k12345", "k19999")
    val (kept, total) = ManifestTable.pruneCounts(spark, root, Nil,
      pointsAny = Seq(("id", keys)))
    assert(total == 16 && kept <= 8 && kept >= 1, s"kept=$kept total=$total")
    // readAuto derives the probe from isin() itself and stays exact
    val got = ManifestTable.readAuto(spark, root, schema,
      col("id").isin(keys: _*)).as[(String, Long)].collect().toSet
    assert(got == Set(("k111", 111L), ("k12345", 12345L), ("k19999", 19999L)))
    // ... and through the SQL front door
    spark.read.format("graft").load(root).createOrReplaceTempView("in_t")
    assert(spark.sql("SELECT sum(v) FROM in_t WHERE id IN ('k111','k12345','k19999')")
      .first().getLong(0) == 111L + 12345L + 19999L)
  }

  test("graft format: StringStartsWith prunes via the prefix zone range") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manpfx").toString + "/t"
    // 8 range-split files over a string key: prefix predicates get tight zones
    (0L until 8000L).map(i => (f"k$i%05d", i)).toDF("s", "v")
      .repartitionByRange(8, col("s"))
      .write.format("graft").option("statsCols", "s").mode("overwrite").save(root)
    spark.read.format("graft").load(root).createOrReplaceTempView("pfx_t")
    val q = spark.sql("SELECT count(*) AS n FROM pfx_t WHERE s LIKE 'k0012%'")
    assert(q.first().getLong(0) == 10L)
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ManifestTable.ColRange("s", "k0012", "k0013")))
    assert(total == 8 && kept <= 2, s"kept=$kept total=$total")
    // the relation's own hint path: LIKE 'prefix%' compiles to StartsWith
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith(s,k0012)"), p)
  }

  test("replicate: change feed replays into a replica, idempotent and incremental") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("manrep").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(
      (0L until 2000L).map(i => (i, s"p${i % 3}", i)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p")))
    // seed
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    def checksum(root: String) = graft.ops.Integrity.tableChecksum(
      ManifestTable.read(spark, root, schema), Seq("p"), schema.fieldNames.toSeq)
      .collect().map(_.toString).sorted.toSeq
    assert(checksum(dst) == checksum(src))
    // nothing new: zero versions applied, replica untouched
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 0)
    // src moves twice: merge-on-read upsert + DV delete
    ManifestTable.mergeDv(Seq((7L, "p1", -7L), (90001L, "p0", 1L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p")))
    ManifestTable.deleteWhere(spark, src, schema, col("id").between(100L, 199L))
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 2)
    assert(checksum(dst) == checksum(src))
    assert(ManifestTable.read(spark, dst, schema).count() == 2000L + 1 - 100)
    // replica write amplification: the replayed versions are O(changed rows)
    def dirBytes(d: String): Long = {
      val f = new java.io.File(d)
      if (!f.exists) 0L
      else f.listFiles.map(x => if (x.isDirectory) dirBytes(x.getPath) else x.length).sum
    }
    assert(dirBytes(s"$dst/v00000002") + dirBytes(s"$dst/v00000003")
      < dirBytes(s"$dst/v00000001") / 4)
  }

  test("replicate resumes from its sink record after the replica is compacted and vacuumed") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("manrepmaint").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType), StructField("v", LongType)))
    ManifestTable.commit((0L until 30L).map(i => (i, s"p${i % 3}", i)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p"))) // v1
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    ManifestTable.mergeDv(Seq((1L, "p1", -1L), (100L, "p1", 100L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p"))) // v2
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    // maintenance on the replica: the compacted manifest is the only one
    // left, and it carries no #batch record of its own
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, dst),
      schema, Some(PartSpec.Identity("p")))
    ManifestTable.vacuum(spark, dst)
    assert(ManifestTable.versions(spark, dst) == Seq(3L))
    ManifestTable.mergeDv(Seq((2L, "p2", -2L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p"))) // v3
    ManifestTable.deleteWhere(spark, src, schema, col("id") === 4L) // v4
    // progress survived: exactly v3 and v4 apply, nothing replays twice
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 2)
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 0)
    def snap(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, String, Long)].collect().toSet
    assert(snap(dst) == snap(src))
    assert(snap(dst).size == 30)
  }

  test("replicate refuses a target that holds no replica progress record") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("manrepnot").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType), StructField("v", LongType)))
    ManifestTable.commit(Seq((1L, "a", 1L)).toDF("id", "p", "v"), src, Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((9L, "a", 9L)).toDF("id", "p", "v"), dst, Some(PartSpec.Identity("p")))
    val e = intercept[IllegalArgumentException](
      ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")))
    assert(e.getMessage.contains("not a replica"), e.getMessage)
  }

  test("optimistic commit retry: disjoint-partition writers both land; overlap conflicts") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manocc").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p"))) // v1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the LOSER stages its p=b rewrite against base v1 ...
    val stage = new org.apache.hadoop.fs.Path(root, ".stage-loser1")
    Seq((2L, "b", 99L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage.toString)
    // ... meanwhile the winner commits a p=a rewrite and takes v2
    ManifestTable.commit(Seq((1L, "a", 50L)).toDF("id", "p", "v"), root,
      Some(PartSpec.Identity("p")))
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    // the loser's publish from the stale base must REBASE and land at v3
    val landed = ManifestTable.publishStaged(spark, root, stage,
      ManifestTable.snapshot(spark, root, Some(1L)), Seq("p=b"), Nil, Nil,
      ManifestTable.CommitShape.Rewrite)
    assert(landed == 3L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 50L), (2L, "b", 99L))) // BOTH writers' updates visible
    // an overlapping loser (p=a also rewritten since its base) must conflict
    val stage2 = new org.apache.hadoop.fs.Path(root, ".stage-loser2")
    Seq((1L, "a", 77L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage2.toString)
    val e = intercept[IllegalStateException](
      ManifestTable.publishStaged(spark, root, stage2,
        ManifestTable.snapshot(spark, root, Some(1L)), Seq("p=a"), Nil, Nil,
        ManifestTable.CommitShape.Rewrite))
    assert(e.getMessage.contains("commit conflict"))
    // the conflicting writer changed nothing
    assert(ManifestTable.currentVersion(spark, root).contains(3L))
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("p") === "a").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 50L)))
  }

  test("commit reclaims a crashed writer's orphaned claimed dir and converges") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manorph").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "p"), root, Some(PartSpec.Identity("p"))) // v1
    // a crashed writer claimed v2 (dir present, manifest never published)
    Seq((9L, "a")).toDF("id", "p").write.partitionBy("p").parquet(s"$root/v00000002")
    // replay: the next commit grace-waits, reclaims the orphan, lands at v2
    val landed = ManifestTable.commit(Seq((2L, "a")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p")))
    assert(landed == 2L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((2L, "a")))
    // a crashed stage dir is reclaimed by vacuum
    Seq((8L, "a")).toDF("id", "p").write.parquet(s"$root/.stage-crashed")
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/.stage-crashed").exists())
  }

  test("ManifestTable: a commit colliding with an already-published version fails loudly") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-race").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(Seq(1L).toDF("id"), root, spec = None)
    // simulate a racing writer that resolved the same base version and
    // already published manifest 2 (its data under v00000099); the loser's
    // publish step — driven directly, since commit() would re-resolve and
    // target 3 — must detect the occupied slot instead of clobbering it
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$root/_manifest.00000002"), "\t99\n")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException](
      ManifestTable.publishManifest(fs, new org.apache.hadoop.fs.Path(root),
        2L, Seq("" -> 2L), None))
    assert(e.getMessage.contains("commit collision"))
    // the winner's manifest is intact (not clobbered by the loser's rename)
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    assert(java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$root/_manifest.00000002")) == "\t99\n")
  }

  test("ManifestTable.readAuto: hints extracted from the predicate prune files; result == plain filter") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-auto").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    // 8 files, each a tight contiguous id range -> zone maps are selective
    val df = spark.range(800).select(col("id"), concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(8, col("id"))
    ManifestTable.commit(df, root, spec = None,
      statsCols = Seq("id"), bloomCols = Seq("s"))
    // conjunctive range + equality; the unrecognized OR leg adds no hint
    val pred = col("id") >= 100L && col("id") < 300L &&
      (col("s") === "v150" || col("s") === "v150")
    val (ranges, points, _) = ManifestTable.extractHintsFor(spark, schema, pred)
    assert(ranges.map(r => (r.col, r.lo, r.hi)).toSet
      == Set(("id", 100L, null), ("id", null, 300L)))
    assert(points.isEmpty) // equality sits under an OR: no point hint
    val got = ManifestTable.readAuto(spark, root, schema, pred)
      .as[(Long, String)].collect().toSet
    assert(got == Set((150L, "v150")))
    // a bare equality on the bloom'd column yields a point probe + range
    val (r2, p2, _) = ManifestTable.extractHintsFor(spark, schema, col("s") === "v7")
    assert(p2 == Seq("s" -> "v7") && r2.map(_.col) == Seq("s"))
    assert(ManifestTable.readAuto(spark, root, schema, col("s") === "v7")
      .as[(Long, String)].collect().toSet == Set((7L, "v7")))
    // the extracted range hints genuinely skip files
    val (kept, total) = ManifestTable.pruneCounts(spark, root, ranges, points)
    assert(total == 8 && kept <= 3, s"kept=$kept of $total")
    // IN-list folds to its enclosing [min, max] zone range
    val inPred = col("id").isin(120L, 140L, 130L)
    val (r3, p3, a3) = ManifestTable.extractHintsFor(spark, schema, inPred)
    assert(r3.map(r => (r.col, r.lo, r.hi)) == Seq(("id", 120L, 140L)) && p3.isEmpty)
    assert(a3 == Seq("id" -> Seq(120L, 140L, 130L))) // any-of Bloom probe
    assert(ManifestTable.readAuto(spark, root, schema, inPred)
      .as[(Long, String)].collect().map(_._1).toSet == Set(120L, 130L, 140L))
    val (k3, t3) = ManifestTable.pruneCounts(spark, root, r3, Nil)
    assert(t3 == 8 && k3 <= 2, s"IN kept=$k3 of $t3")
  }

  test("ManifestTable.vacuum retainVersions: the retained manifest's snapshot stays fully readable") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab-ret").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((3L, "x")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p"))) // v2: touches only p=x
    // compact rewrites everything into v3 with carryForward=false, so v1/v2
    // data is referenced ONLY by the retained manifests 1 and 2
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")))
    ManifestTable.vacuum(spark, root, retainVersions = 1)
    // manifest 2 is inside the retention window: its whole snapshot (v1's
    // p=y carry-forward + v2's p=x) must remain time-travel-readable
    assert(new java.io.File(s"$root/_manifest.00000002").exists())
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(2L))
      .as[(Long, String)].collect().toSet == Set((3L, "x"), (2L, "y")))
    // manifest 1 is outside the window and reclaimed
    assert(!new java.io.File(s"$root/_manifest.00000001").exists())
    // dropping to retain-0 reclaims everything but current
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/v00000001").exists())
    assert(!new java.io.File(s"$root/v00000002").exists())
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((3L, "x"), (2L, "y")))
  }

  test("ManifestTable: partitioned read assembles partitions across version dirs") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab2").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p")))
    // second commit touches ONLY p=x: p=y must carry forward from v1
    ManifestTable.commit(Seq((3L, "x")).toDF("id", "p"), root, Some(PartSpec.Identity("p")))
    val got = ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet
    assert(got == Set((3L, "x"), (2L, "y")))
    // v1 still holds the live p=y files; vacuum must RETAIN it
    ManifestTable.vacuum(spark, root)
    assert(new java.io.File(s"$root/v00000001/p=y").exists())
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == got)
  }

  test("a snapshot commit staged from a superseded snapshot fails loudly, never drops the winner's rows") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manstale").toString + "/t"
    val schema = StructType.fromDDL("id BIGINT, p STRING, v BIGINT")
    val spec = Some(PartSpec.Identity("p"))
    ManifestTable.commit(Seq((1L, "a", 1L)).toDF("id", "p", "v"), root, spec)
    // a compaction reads and rewrites v1 ...
    val base = ManifestTable.snapshot(spark, root)
    val rewrite = ManifestTable.read(spark, base, schema)
    // ... while a blind append lands v2
    ManifestTable.append(Seq((2L, "b", 2L)).toDF("id", "p", "v"), root, spec)
    val e = intercept[IllegalStateException](
      ManifestTable.commit(rewrite, base, spec, carryForward = false, Nil, Nil))
    assert(e.getMessage.contains("commit collision"), e.getMessage)
    assert(ManifestTable.read(spark, root, schema).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (2L, "b", 2L)))
  }

  test("ManifestTable.compact: row-identical snapshot, one file per partition, old versions reclaimable") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantab3").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    // two fragmented merge commits: each writes its rows pre-split over 4
    // tasks, so every partition dir accretes several small files
    ManifestTable.commit((0L until 40L).map(i => (i, s"p${i % 2}"))
      .toDF("id", "p").repartition(4), root, Some(PartSpec.Identity("p")))
    ManifestTable.commit((40L until 60L).map(i => (i, "p0"))
      .toDF("id", "p").repartition(4), root, Some(PartSpec.Identity("p")))
    val before = ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet
    def filesIn(dir: String) = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0 else d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    assert(filesIn(s"$root/v00000002/p=p0") > 1, "fixture must be fragmented")
    val v = ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")))
    assert(v == 3L)
    // content identical, every partition dir down to ONE file
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == before)
    assert(filesIn(s"$root/v00000003/p=p0") == 1)
    assert(filesIn(s"$root/v00000003/p=p1") == 1)
    // the compacted manifest references only v3 → vacuum reclaims v1/v2
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/v00000001").exists())
    assert(!new java.io.File(s"$root/v00000002").exists())
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == before)
    // filesPerPartition > 1 bounds rather than pins the per-dir file count
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")), filesPerPartition = 2)
    assert(filesIn(s"$root/v00000004/p=p0") <= 2
      && filesIn(s"$root/v00000004/p=p0") >= 1)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == before)
  }

  test("ManifestTable zone maps: range prunes files; pruned read == filtered full read") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("manzm").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    // range-partitioned write → files carry disjoint id ranges, the
    // clustered layout zone maps exist for
    val df = (0L until 10000L).map(i => (i, f"k$i%05d")).toDF("id", "s")
      .repartitionByRange(8, col("id"))
    ManifestTable.commit(df, root, spec = None, statsCols = Seq("id", "s"))
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("id", 100L, 200L)))
    assert(total >= 8 && kept >= 1 && kept < total, s"kept=$kept total=$total")
    val pruned = ManifestTable.readPruned(spark, root, schema,
        Seq(ColRange("id", 100L, 200L)))
      .filter(col("id").between(100, 200)).as[(Long, String)].collect().toSet
    val full = ManifestTable.read(spark, root, schema)
      .filter(col("id").between(100, 200)).as[(Long, String)].collect().toSet
    assert(pruned == full && full.size == 101)
    // string zone maps prune too, and no-range readPruned == read
    val (keptS, totalS) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("s", "k00100", "k00200")))
    assert(keptS < totalS && keptS >= 1, s"keptS=$keptS totalS=$totalS")
    assert(ManifestTable.readPruned(spark, root, schema, Nil).count() == 10000L)
  }

  test("ManifestTable zone maps: stats-less versions read whole; all-NULL prunes everything") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("manzm2").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    // v1 (p=a) commits WITHOUT stats; v2 (p=b) with stats. Pruning must
    // fall back to reading v1 whole while still skipping inside v2.
    ManifestTable.commit(Seq((5L, "a")).toDF("id", "p"), root, Some(PartSpec.Identity("p")))
    ManifestTable.commit((0L until 1000L).map(i => (i, "b")).toDF("id", "p")
      .repartitionByRange(4, col("id")), root, Some(PartSpec.Identity("p")), statsCols = Seq("id"))
    val r = ManifestTable.readPruned(spark, root, schema,
        Seq(ColRange("id", 0L, 10L)))
      .filter(col("id") <= 10).as[(Long, String)].collect().toSet
    assert(r == ((0L to 10L).map((_, "b")).toSet + ((5L, "a"))))
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("id", 0L, 10L)))
    assert(total >= 4 && kept == 1, s"kept=$kept total=$total") // v2 files only
    // an all-NULL column can never satisfy a range: every stats-bearing
    // file is skipped
    val root2 = java.nio.file.Files.createTempDirectory("manzm3").toString + "/t"
    ManifestTable.commit(Seq((1L, null: String), (2L, null: String))
      .toDF("id", "s"), root2, spec = None, statsCols = Seq("s"))
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    assert(ManifestTable.readPruned(spark, root2, schema2,
      Seq(ColRange("s", "a", "z"))).count() == 0L)
  }

  test("ManifestTable zone maps: vacuum reclaims dead sidecars, keeps live ones") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("manzm4").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit((0L until 100L).map(i => (i, s"p${i % 2}"))
      .toDF("id", "p"), root, Some(PartSpec.Identity("p")), statsCols = Seq("id"))
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p")), statsCols = Seq("id"))
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/_stats.00000001").exists())
    assert(new java.io.File(s"$root/_stats.00000002").exists())
    // pruning still functional on the surviving snapshot
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("id", 0L, 1L)))
    assert(total >= 2 && kept >= 1, s"kept=$kept total=$total")
    assert(ManifestTable.readPruned(spark, root, schema,
      Seq(ColRange("id", 0L, 1L))).filter(col("id") <= 1).count() == 2L)
  }

  test("compactZOrder: zone maps prune on BOTH dimensions after one rewrite") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("manzo").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType)))
    // two independent dimensions on a uniform grid — a linear sort can
    // cluster at most one of them
    val df = (0 until 20000).map(i => (i.toLong, (i / 141).toLong, (i % 141).toLong))
      .toDF("id", "a", "b")
    ManifestTable.commit(df.repartition(4), root, spec = None)
    ManifestTable.compactZOrder(spark, ManifestTable.snapshot(spark, root),
      schema, None, Seq("a", "b"),
      targetFiles = 16)
    // row-identical snapshot
    assert(ManifestTable.readPruned(spark, root, schema, Nil)
      .as[(Long, Long, Long)].collect().toSet ==
      df.as[(Long, Long, Long)].collect().toSet)
    // a narrow range in EITHER dimension skips at least half the files —
    // the Z-curve's bounding-box property
    val (ka, ta) = ManifestTable.pruneCounts(spark, root, Seq(ColRange("a", 0L, 8L)))
    val (kb, tb) = ManifestTable.pruneCounts(spark, root, Seq(ColRange("b", 0L, 8L)))
    assert(ta == 16 && tb == 16, s"ta=$ta tb=$tb")
    assert(ka <= 8 && ka >= 1, s"ka=$ka")
    assert(kb <= 8 && kb >= 1, s"kb=$kb")
    // the conjunctive box prunes harder than either dimension alone
    val (kab, _) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("a", 0L, 8L), ColRange("b", 0L, 8L)))
    assert(kab <= 4, s"kab=$kab")
    // pruned + filtered == full + filtered on the 2-d box
    val boxed = ManifestTable.readPruned(spark, root, schema,
        Seq(ColRange("a", 0L, 8L), ColRange("b", 0L, 8L)))
      .filter(col("a") <= 8 && col("b") <= 8).count()
    assert(boxed == df.filter(col("a") <= 8 && col("b") <= 8).count())
  }

  test("bloom sidecars: point lookups skip files zone maps cannot") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("manbl").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    // round-robin distribution: every file's [min,max] id range spans the
    // whole domain, so zone maps are blind here — the bloom's home turf
    val df = (0 until 20000).map(i => (s"k$i", i.toLong)).toDF("id", "v")
      .repartition(16)
    ManifestTable.commit(df, root, spec = None,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val (kz, tz) = ManifestTable.pruneCounts(spark, root,
      Seq(ColRange("id", "k12345", "k12345")))
    assert(tz == 16 && kz == 16, s"zone maps should be blind: kz=$kz tz=$tz")
    // the bloom pin-points the key's file (± the ~4% false-positive tail)
    val (kb, tb) = ManifestTable.pruneCounts(spark, root, Nil,
      points = Seq(("id", "k12345")))
    assert(tb == 16 && kb <= 4 && kb >= 1, s"kb=$kb tb=$tb")
    val hit = ManifestTable.readPruned(spark, root, schema, Nil,
        points = Seq(("id", "k12345")))
      .filter(col("id") === "k12345").as[(String, Long)].collect().toSeq
    assert(hit == Seq(("k12345", 12345L)))
    // an absent key prunes (almost) everything and finds nothing — blooms
    // have no false negatives, so correctness never depends on the filter
    val (km, _) = ManifestTable.pruneCounts(spark, root, Nil,
      points = Seq(("id", "definitely-not-here")))
    assert(km <= 4, s"km=$km")
    assert(ManifestTable.readPruned(spark, root, schema, Nil,
      points = Seq(("id", "definitely-not-here")))
      .filter(col("id") === "definitely-not-here").count() == 0L)
    // vacuum keeps the live bloom sidecar
    ManifestTable.vacuum(spark, root)
    assert(new java.io.File(s"$root/_bloom.00000001").exists())
  }

  test("pruned scans keep files missing a sidecar entry (all-NULL bloom column)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    val root = java.nio.file.Files.createTempDirectory("mannull").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    // ids 0..999 carry NULL in the bloom'd column and cluster into one file
    // via the range repartition — that file writes NO _bloom entry, and with
    // bloomCols but no statsCols the old sidecar-keyed universe dropped it
    // from every pruned scan (ADVICE r12 medium: row loss, not a superset)
    val df = (0L until 4000L).map(i =>
      (i, if (i < 1000) null else s"k$i")).toDF("id", "s")
      .repartitionByRange(4, col("id"))
    ManifestTable.commit(df, root, spec = None, bloomCols = Seq("s"))
    // no hints: the pruned read must be the FULL table
    assert(ManifestTable.readPruned(spark, root, schema, Nil).count() == 4000L)
    // a range on an un-stats'd column cannot prune anything either
    assert(ManifestTable.readPruned(spark, root, schema,
      Seq(ColRange("id", 0L, 500L))).filter(col("id") <= 500).count() == 501L)
    // a point probe may prune the all-NULL file (it provably lacks the key)
    // but must still find the key's own file
    assert(ManifestTable.readPruned(spark, root, schema, Nil,
      points = Seq(("s", "k2345"))).filter(col("s") === "k2345").count() == 1L)
  }

  test("ManifestTable time travel: historical snapshots readable until vacuum") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mantt").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), root, None)
    ManifestTable.commit(Seq((1L, "b"), (2L, "c")).toDF("id", "v"), root, None)
    assert(ManifestTable.versions(spark, root) == Seq(1L, 2L))
    assert(ManifestTable.read(spark, root, schema, asOfVersion = Some(1L))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet == Set((1L, "b"), (2L, "c")))
    ManifestTable.vacuum(spark, root)
    assert(ManifestTable.versions(spark, root) == Seq(2L))
    intercept[IllegalStateException](
      ManifestTable.read(spark, root, schema, asOfVersion = Some(1L)))
    // every pinned reader refuses with the table's own error, not a raw
    // FileNotFoundException of the vacuumed manifest
    val pinned = Seq[() => Any](() => ManifestTable.readWithMeta(spark, root, schema, Some(1L)),
      () => ManifestTable.inferSchema(spark, ManifestTable.snapshot(spark, root, Some(1L))))
    pinned.foreach { f =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("has no version 1 on disk (vacuumed or never committed)"),
        e.getMessage)
    }
  }

  test("ManifestTable schema evolution: columns absent from old files read as NULL") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manse").toString + "/t"
    // v1 (p=x) written BEFORE the score column existed; v2 (p=y) carries it.
    // The widened read schema must serve both partitions, old rows at NULL.
    ManifestTable.commit(Seq((1L, "x")).toDF("id", "p"), root, Some(PartSpec.Identity("p")))
    ManifestTable.commit(Seq((2L, "y", 0.5)).toDF("id", "p", "score"),
      root, Some(PartSpec.Identity("p")))
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    val got = ManifestTable.read(spark, root, widened)
      .select("id", "p", "score")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(got == Set((1L, "x", None), (2L, "y", Some(0.5))))
  }

  test("mergeDv rebases past a concurrent blind append: both land") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mandvrace").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType)))
    ManifestTable.commit(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p"))) // v1
    // the MERGE stages its batch + DV delta against base v1 — exactly what
    // mergeDv does before its claim (positions of id=2 in the v1 snapshot)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(root, ".stage-merge1")
    Seq((2L, "b", 99L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage.toString)
    // the staged DV = the single superseded position (p=b's v1 file, row 0)
    val dvStage = new org.apache.hadoop.fs.Path(root, ".stage-merge1-dv")
    val pbFile = new java.io.File(s"$root/v00000001/p=b").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head.getAbsolutePath
    Seq((pbFile, 0L)).toDF("__f", "__pos").write.parquet(dvStage.toString)
    // ... meanwhile a blind append lands v2 (p=c)
    ManifestTable.append(Seq((3L, "c", 3L)).toDF("id", "p", "v"), root,
      Some(PartSpec.Identity("p")))
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    // the merge's publish from the stale base must REBASE and land at v3
    val landed = ManifestTable.publishStaged(spark, root, stage,
      ManifestTable.snapshot(spark, root, Some(1L)), Seq("p=b"), Nil, Nil,
      ManifestTable.CommitShape.Merge, dvStage = Some(dvStage))
    assert(landed == 3L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (2L, "b", 99L), (3L, "c", 3L))) // append AND merge visible
    // a merge racing a DELETE (DV changed under it) must conflict loudly
    val stage2 = new org.apache.hadoop.fs.Path(root, ".stage-merge2")
    Seq((2L, "b", 77L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage2.toString)
    val dvStage2 = new org.apache.hadoop.fs.Path(root, ".stage-merge2-dv")
    Seq((pbFile, 0L)).toDF("__f", "__pos").write.parquet(dvStage2.toString)
    ManifestTable.deleteWhere(spark, root, schema, col("id") === 1L) // v4: DV moves
    val e = intercept[IllegalStateException](
      ManifestTable.publishStaged(spark, root, stage2,
        ManifestTable.snapshot(spark, root, Some(3L)), Seq("p=b"), Nil, Nil,
        ManifestTable.CommitShape.Merge, dvStage = Some(dvStage2)))
    assert(e.getMessage.contains("commit conflict"))
  }

  test("commit-rule matrix: every commit shape against every kind of concurrent winner") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import ManifestTable.CommitShape._
    type Rows = Set[(Long, String, Long)]
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType), StructField("v", LongType)))
    def rows(root: String): Rows =
      ManifestTable.read(spark, root, schema).as[(Long, String, Long)].collect().toSet
    val v1Rows: Rows = Set((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L))
    val v1Entries = Seq("p=a" -> 1L, "p=b" -> 1L)
    // winners land v2 over base v1: (name, commit, effect on the rows)
    val winners: Seq[(String, String => Unit, Rows => Rows)] = Seq(
      ("blind append to p=c", root => ManifestTable.append(
        Seq((4L, "c", 4L)).toDF("id", "p", "v"), root, Some(PartSpec.Identity("p"))),
        _ + ((4L, "c", 4L))),
      ("rewrite of p=a", root => ManifestTable.commit(
        Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "p", "v"), root,
        Some(PartSpec.Identity("p"))),
        rs => rs.filterNot(_._2 == "a") ++ Set((1L, "a", 10L), (2L, "a", 20L))),
      ("DV-only delete in p=a", root => ManifestTable.deleteWhere(spark, root, schema,
        col("id") === 2L), _.filterNot(_._1 == 2L)))
    // losers stage against base v1: (name, shape, staged rows, masks id=1 by
    // DV, base entries, touched names, effect on the rows)
    val losers: Seq[(String, ManifestTable.CommitShape, Seq[(Long, String, Long)], Boolean,
        Seq[(String, Long)], Seq[String], Rows => Rows)] = Seq(
      ("snapshot", Snapshot, Seq((1L, "a", 100L), (3L, "b", 300L)), false, Nil,
        Seq("p=a", "p=b"), _ => Set((1L, "a", 100L), (3L, "b", 300L))),
      ("rewrite p=a", Rewrite, Seq((1L, "a", 11L), (2L, "a", 21L)), false, v1Entries,
        Seq("p=a"), rs => rs.filterNot(_._2 == "a") ++ Set((1L, "a", 11L), (2L, "a", 21L))),
      ("append to p=a", Append, Seq((5L, "a", 5L)), false, v1Entries, Seq("p=a"),
        _ + ((5L, "a", 5L))),
      ("merge id=1 with a DV", Merge, Seq((1L, "a", 12L)), true, v1Entries, Seq("p=a"),
        rs => rs.filterNot(_._1 == 1L) + ((1L, "a", 12L))),
      ("insert-only merge", Merge, Seq((5L, "a", 5L)), false, v1Entries, Seq("p=a"),
        _ + ((5L, "a", 5L))),
      ("delete id=1", Delete, Nil, true, v1Entries, Nil, _.filterNot(_._1 == 1L)))
    // "lands" or the refusal the loser's publish must raise, per winner
    val expected = Map(
      "snapshot" -> Seq("commit collision", "commit collision", "commit collision"),
      "rewrite p=a" -> Seq("lands", "commit conflict", "commit conflict"),
      "append to p=a" -> Seq("lands", "lands", "lands"),
      "merge id=1 with a DV" -> Seq("lands", "commit conflict", "commit conflict"),
      "insert-only merge" -> Seq("lands", "commit conflict", "commit conflict"),
      "delete id=1" -> Seq("commit collision", "commit collision", "commit collision"))
    for ((lName, shape, staged, masks, base, touched, lEffect) <- losers;
         ((wName, win, wEffect), want) <- winners.zip(expected(lName))) {
      val root = Files.createTempDirectory("manmatrix").toString + "/t"
      ManifestTable.commit(v1Rows.toSeq.toDF("id", "p", "v"), root,
        Some(PartSpec.Identity("p"))) // v1
      val stage = new org.apache.hadoop.fs.Path(root, ".stage-loser")
      if (staged.isEmpty) new java.io.File(stage.toString).mkdirs()
      else staged.toDF("id", "p", "v").write.partitionBy("p").parquet(stage.toString)
      val dvStage = Option.when(masks) {
        val dir = new org.apache.hadoop.fs.Path(root, ".stage-loser-dv")
        ManifestTable.readWithMeta(spark, root, schema).filter(col("id") === 1L)
          .select("__f", "__pos").write.parquet(dir.toString)
        dir
      }
      win(root) // v2
      val v1 = ManifestTable.snapshot(spark, root, Some(1L))
      // a snapshot commit carries no base state; every other shape carries v1's
      assert(shape == Snapshot || v1.entries.sorted == base.sorted)
      def publish(): Long = ManifestTable.publishStaged(spark, root, stage, v1,
        touched, Nil, Nil, shape, dvStage)
      withClue(s"$lName vs $wName: ") {
        if (want == "lands") {
          assert(publish() == 3L)
          assert(rows(root) == lEffect(wEffect(v1Rows)))
        } else {
          val e = intercept[IllegalStateException](publish())
          assert(e.getMessage.contains(want), e.getMessage)
          assert(ManifestTable.currentVersion(spark, root).contains(2L))
          assert(rows(root) == wEffect(v1Rows))
        }
      }
    }
  }

  test("carry-forward rewrite racing a DV-only delete in its partition conflicts (no resurrect)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mandvdel").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType)))
    ManifestTable.commit(
      Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 3L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p"))) // v1
    // the loser stages a p=a rewrite computed from the PRE-delete snapshot
    val stage = new org.apache.hadoop.fs.Path(root, ".stage-rw")
    Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage.toString)
    // a concurrent DELETE commits v2: entries unchanged, only the DV moves
    ManifestTable.deleteWhere(spark, root, schema, col("id") === 2L)
    // entry sets are IDENTICAL to the base, so the old check would rebase
    // "cleanly" and resurrect id=2 — the DV-delta check must conflict
    val e = intercept[IllegalStateException](
      ManifestTable.publishStaged(spark, root, stage,
        ManifestTable.snapshot(spark, root, Some(1L)), Seq("p=a"), Nil, Nil,
        ManifestTable.CommitShape.Rewrite))
    assert(e.getMessage.contains("commit conflict"))
    assert(e.getMessage.contains("deletion vector"))
    // ... while the same race on a DIFFERENT partition commutes
    val stage2 = new org.apache.hadoop.fs.Path(root, ".stage-rw2")
    Seq((3L, "b", 30L)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(stage2.toString)
    val landed = ManifestTable.publishStaged(spark, root, stage2,
      ManifestTable.snapshot(spark, root, Some(1L)), Seq("p=b"), Nil, Nil,
      ManifestTable.CommitShape.Rewrite)
    assert(landed == 3L)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 1L), (3L, "b", 30L))) // delete held, rewrite landed
  }

  test("mergeDv end-to-end: staged commit, composite keys, delete-partition restriction") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mandvck").toString + "/t"
    val schema = StructType(Seq(
      StructField("k1", LongType), StructField("k2", LongType),
      StructField("p", StringType), StructField("v", LongType)))
    // dup-heavy natural keys: k1 repeats with different k2 (the lineitem trap)
    val base = Seq((1L, 1L, "a", 10L), (1L, 2L, "a", 11L),
      (2L, 1L, "b", 20L), (2L, 2L, "b", 21L), (3L, 1L, "b", 30L))
      .toDF("k1", "k2", "p", "v")
    ManifestTable.commit(base, root, Some(PartSpec.Identity("p"))) // v1
    // composite-key upsert touches ONLY (1,2); (1,1) must survive
    ManifestTable.mergeDv(Seq((1L, 2L, "a", 110L)).toDF("k1", "k2", "p", "v"),
      root, schema, Seq("k1", "k2"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, Long, String, Long)].collect().toSet ==
      Set((1L, 1L, "a", 10L), (1L, 2L, "a", 110L), (2L, 1L, "b", 20L),
        (2L, 2L, "b", 21L), (3L, 1L, "b", 30L)))
    // delete leg with a partition hint covering the key's partition: deletes
    ManifestTable.mergeDv(spark.emptyDataFrame
      .withColumn("k1", lit(0L)).withColumn("k2", lit(0L))
      .withColumn("p", lit("z")).withColumn("v", lit(0L)).limit(0),
      root, schema, Seq("k1", "k2"), Some(PartSpec.Identity("p")), Nil, Nil,
      Some(Seq((2L, 2L)).toDF("k1", "k2")),
      Some(Seq(ManifestTable.partDirName("p", "b"))))
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("k1") === 2L).as[(Long, Long, String, Long)].collect().toSet ==
      Set((2L, 1L, "b", 20L)))
    // a hint EXCLUDING the key's partition proves the scan is restricted:
    // the delete silently misses (documented caller contract)
    ManifestTable.mergeDv(spark.emptyDataFrame
      .withColumn("k1", lit(0L)).withColumn("k2", lit(0L))
      .withColumn("p", lit("z")).withColumn("v", lit(0L)).limit(0),
      root, schema, Seq("k1", "k2"), Some(PartSpec.Identity("p")), Nil, Nil,
      Some(Seq((3L, 1L)).toDF("k1", "k2")),
      Some(Seq(ManifestTable.partDirName("p", "a"))))
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("k1") === 3L).count() == 1L) // survived: scan never read p=b
    // no version number was occupied during staging: all versions readable
    assert(ManifestTable.versions(spark, root).size == 4)
  }

  test("changes() over a mergeDv batch that appends to every partition runs no Spark job") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mandvcover").toString + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", StringType), StructField("v", LongType)))
    def rows(xs: (Long, String, Long)*) = xs.toDF("k", "p", "v")
    def part(p: String) = ManifestTable.partDirName("p", p)
    def feed(a: Long, b: Long) = ManifestTable.changes(spark, root, schema, Seq("k"), a, b)
      .as[(String, Long, String, Long)].collect().toSet
    ManifestTable.commit(rows((1L, "a", 10L), (2L, "b", 20L), (3L, "b", 30L)), root,
      Some(PartSpec.Identity("p")))
    // appends to p=a only: deleting k=3 changes p=b's masking, not its
    // entries, so changes() must diff the DVs to find it
    val v1 = ManifestTable.mergeDv(rows((1L, "a", 11L)), root, schema, Seq("k"),
      Some(PartSpec.Identity("p")),
      Nil, Nil, Some(Seq(3L).toDF("k")), Some(Seq(part("b"))))
    assert(feed(v1 - 1, v1) == Set(("update_preimage", 1L, "a", 10L),
      ("update_postimage", 1L, "a", 11L), ("delete", 3L, "b", 30L)))
    // appends to both partitions: every DV change lies inside them
    val v2 = ManifestTable.mergeDv(rows((4L, "a", 40L), (5L, "b", 50L)), root, schema,
      Seq("k"), Some(PartSpec.Identity("p")), Nil, Nil, Some(Seq(2L).toDF("k")),
        Some(Seq(part("b"))))
    assert(jobsIn(ManifestTable.changes(spark, root, schema, Seq("k"), v2 - 1, v2)) == 0)
    assert(feed(v2 - 1, v2) ==
      Set(("insert", 4L, "a", 40L), ("insert", 5L, "b", 50L), ("delete", 2L, "b", 20L)))
  }

  test("a two-leg mergeDv runs no more Spark jobs than the same batch upsert-only") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", StringType), StructField("v", LongType)))
    def rows(xs: (Long, String, Long)*) = xs.toDF("k", "p", "v")
    def part(p: String) = ManifestTable.partDirName("p", p)
    // two tables in the same state, each already carrying a DV
    val roots = Seq("a", "b").map(n =>
      java.nio.file.Files.createTempDirectory(s"mandvjobs-$n").toString + "/t")
    roots.foreach { root =>
      ManifestTable.commit((1L to 40L).map(k => (k, s"q${k % 4}", k)).toDF("k", "p", "v"),
        root, Some(PartSpec.Identity("p")))
      ManifestTable.mergeDv(rows((1L, "q1", 100L)), root, schema, Seq("k"),
        Some(PartSpec.Identity("p")),
        Nil, Nil, None, None)
    }
    val batch = rows((5L, "q1", 500L), (41L, "q1", 41L), (2L, "q2", 200L))
    val upsertOnly = jobsIn(ManifestTable.mergeDv(batch, roots(0), schema, Seq("k"),
      Some(PartSpec.Identity("p")), Nil, Nil, None, None))
    val twoLeg = jobsIn(ManifestTable.mergeDv(batch, roots(1), schema, Seq("k"),
      Some(PartSpec.Identity("p")), Nil, Nil, Some(Seq(3L, 7L).toDF("k")), Some(Seq(part("q3")))))
    assert(twoLeg <= upsertOnly, s"two-leg $twoLeg jobs, upsert-only $upsertOnly")
    assert(ManifestTable.read(spark, roots(1), schema).select("k").as[Long].collect().toSet ==
      (1L to 41L).toSet -- Set(3L, 7L))
  }

  test("composite-key changes() and replicate() fold a dup-keyed table correctly") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val baseDir = java.nio.file.Files.createTempDirectory("manckrep").toString
    val src = s"$baseDir/src"; val dst = s"$baseDir/dst"
    val schema = StructType(Seq(
      StructField("k1", LongType), StructField("k2", LongType),
      StructField("p", StringType), StructField("v", LongType)))
    val keys = Seq("k1", "k2")
    ManifestTable.commit(
      Seq((1L, 1L, "a", 1L), (1L, 2L, "a", 2L), (2L, 1L, "b", 3L))
        .toDF("k1", "k2", "p", "v"), src, Some(PartSpec.Identity("p"))) // v1
    assert(ManifestTable.replicate(spark, src, dst, schema, keys, Some("p")) == 1)
    // v2: update one copy of the dup k1, insert a new composite key
    ManifestTable.mergeDv(
      Seq((1L, 2L, "a", 22L), (2L, 2L, "b", 4L)).toDF("k1", "k2", "p", "v"),
      src, schema, keys, Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    // v3: delete the OTHER copy of the dup k1
    ManifestTable.deleteWhere(spark, src, schema,
      col("k1") === 1L && col("k2") === 1L)
    val ch = ManifestTable.changes(spark, src, schema, keys, 1L, 3L)
      .select("_change_type", "k1", "k2")
      .as[(String, Long, Long)].collect().toSet
    assert(ch == Set(("update_preimage", 1L, 2L), ("update_postimage", 1L, 2L),
      ("insert", 2L, 2L), ("delete", 1L, 1L)))
    assert(ManifestTable.replicate(spark, src, dst, schema, keys, Some("p")) == 2)
    def snap(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, Long, String, Long)].collect().toSet
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((1L, 2L, "a", 22L), (2L, 1L, "b", 3L), (2L, 2L, "b", 4L)))
  }

  test("deleteWhere racing a blind append: either serial order, never corruption") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    for (round <- 1 to 3) {
      val root = java.nio.file.Files.createTempDirectory(s"mandelrace$round")
        .toString + "/t"
      ManifestTable.commit(
        (0L until 40L).map(i => (i, "p" + (i % 2))).toDF("id", "p"), root,
          Some(PartSpec.Identity("p")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def submit(f: => Long) = pool.submit(
        new java.util.concurrent.Callable[Either[Throwable, Long]] {
          def call() = try Right(f) catch { case e: IllegalStateException => Left(e) }
        })
      val del = submit(ManifestTable.deleteWhere(spark, root, schema,
        col("id") < 10L))
      val app = submit(ManifestTable.append(
        (100L until 110L).map(i => (i, "p0")).toDF("id", "p"), root, Some(PartSpec.Identity("p"))))
      val (dr, ar) = (del.get(120, java.util.concurrent.TimeUnit.SECONDS),
        app.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      // blind appends commute with everything — the append must land
      assert(ar.isRight, s"round $round append: $ar")
      // the delete either landed or failed LOUDLY (non-retryable collision)
      dr.left.foreach(e =>
        assert(e.getMessage.contains("commit collision"), e.getMessage))
      val ids = ManifestTable.read(spark, root, schema)
        .as[(Long, String)].collect().map(_._1).toSet
      val expected =
        if (dr.isRight) (10L until 40L).toSet ++ (100L until 110L).toSet
        else (0L until 40L).toSet ++ (100L until 110L).toSet
      // NOTE: the delete's predicate ran against its resolved base snapshot;
      // appended rows (ids >= 100) never match id < 10 either way
      assert(ids == expected, s"round $round: delete=${dr.isRight}")
      // every on-disk manifest stays fully readable (no vanished dirs)
      ManifestTable.versions(spark, root).foreach(v =>
        ManifestTable.read(spark, root, schema, asOfVersion = Some(v)).count())
    }
  }

  test("concurrent disjoint-partition committers: no manifest ever references a vanished dir") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manstress").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    ManifestTable.commit(
      (0 until 4).map(i => (i.toLong, s"p$i")).toDF("id", "p"), root, Some(PartSpec.Identity("p")))
    // racing writers: each rewrites its OWN partition (disjoint — commutes);
    // the claim-marker protocol must prevent any silent nesting/clobber
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val results = (0 until 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] =
          try Right(ManifestTable.commit(
            Seq((i + 100L, s"p$i")).toDF("id", "p"), root, Some(PartSpec.Identity("p"))))
          catch { case e: IllegalStateException => Left(e) }
      })
    }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val landedParts = results.zipWithIndex.collect { case (Right(_), i) => i }
    // disjoint writers never conflict; only retry-budget exhaustion may throw
    results.collect { case Left(e) => e }.foreach(e =>
      assert(e.getMessage.contains("commit collision"), e.getMessage))
    // INVARIANT: every entry of every on-disk manifest resolves to a live dir
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestTable.versions(spark, root).foreach { v =>
      val snap = ManifestTable.read(spark, root, schema, asOfVersion = Some(v))
      snap.count() // scans every referenced dir: throws if one vanished
    }
    // every writer that reported success is visible in the final snapshot
    val finalIds = ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().map(_._1).toSet
    landedParts.foreach(i => assert(finalIds.contains(i + 100L),
      s"writer $i landed but its row is missing — silent lost update"))
    assert(landedParts.nonEmpty)
  }

  test("disk-resident ANN index: probed-cell IN-list prunes index files (q180 composition)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mannidx").toString + "/t"
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("sub", IntegerType),
      StructField("code", LongType), StructField("cell", LongType)))
    // 8 cells × 100 codes, range-clustered on cell -> each file holds ~1 cell
    val codes = (0L until 800L).map(i => (i, (i % 4).toInt, i % 16, i / 100))
      .toDF("vec_id", "sub", "code", "cell")
    ManifestTable.commit(codes.repartitionByRange(8, col("cell"), col("vec_id")),
      root, None, statsCols = Seq("cell"), bloomCols = Seq("cell"))
    // a 2-cell probe set must open a fraction of the files, not all of them
    val pred = col("cell").isin(2L, 5L)
    val (ranges, points, anyOf) = ManifestTable.extractHintsFor(spark, schema, pred)
    val (kept, total) = ManifestTable.pruneCounts(spark, root, ranges, points, anyOf)
    assert(total == 8 && kept <= 5, s"kept=$kept of $total")
    val got = ManifestTable.readAuto(spark, root, schema, pred)
    assert(got.count() == 200L)
    assert(got.select("cell").distinct().as[Long].collect().toSet == Set(2L, 5L))
  }

  test("renderMongoExport round-trips through the mongoexport reader, escapes and nulls intact") {
    import spark.implicits._
    val rows = Seq(
      (1L, """he said "hi" \ bye""", 12.5, Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678")), Some(true)),
      (2L, null.asInstanceOf[String], -0.25, None, Some(false)),
      // control characters must NOT split the NDJSON line or emit raw bytes
      (3L, "line1\nline2\ttabctl", 0.5, None, Some(true)),
      (255L, "plain", 3.0, Some(java.sql.Timestamp.valueOf("1996-01-02 00:00:00")), None))
    val df = rows.toDF("id", "s", "x", "ts", "b")
    val rendered = graft.sources.Sinks.renderMongoExport(df, "id")
    val docs = rendered.as[String].collect()
    assert(docs.forall(d => d.startsWith("{\"_id\":{\"$oid\":\"") && d.endsWith("}")))
    assert(docs.forall(d => !d.contains("\n") && !d.contains("\t"))) // controls escaped
    assert(docs.exists(_.contains("\"$oid\":\"0000000000000000000000ff\"")))
    assert(docs.exists(_.contains("\"s\":null")))
    assert(docs.exists(_.contains("{\"$date\":\"2024-01-02T03:04:05.678Z\"}")))
    // every line parses as JSON and the reader recovers the exact values
    val dir = java.nio.file.Files.createTempDirectory("mexp").toString
    rendered.coalesce(1).write.text(s"$dir/dump")
    val schema = StructType(Seq(
      StructField("_id", StringType), StructField("id", LongType),
      StructField("s", StringType), StructField("x", DoubleType),
      StructField("ts", StringType), StructField("b", BooleanType)))
    val back = graft.sources.Sources.mongoExportFile(spark, s"$dir/dump", schema)
    assert(back.filter(col("_malformed")).count() == 0)
    val got = back.select("id", "s", "x", "b").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getBoolean(3)))).toSet
    assert(got == rows.map(r => (r._1, Option(r._2), r._3, r._5)).toSet)
    // wire dates come back as strings the CDC date parser promotes
    val ts = back.filter(col("id") === 1L)
      .select(graft.cdc.Dispatch.parseWireDate(col("ts"))).head().getTimestamp(0)
    assert(ts == java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678"))
  }

  test("additive schema evolution flows through mergeDv: old files read NULL for new columns") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manevo").toString + "/t"
    ManifestTable.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p"))) // v1: no `score` column yet
    val widened = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType), StructField("score", DoubleType)))
    // the merge batch carries the NEW column; the position scan reads the
    // old files under the widened schema (score = NULL there)
    ManifestTable.mergeDv(
      Seq((2L, "b", 22L, 0.5), (3L, "a", 30L, 0.9)).toDF("id", "p", "v", "score"),
      root, widened, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    val got = ManifestTable.read(spark, root, widened)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(got == Set((1L, "a", 10L, None), (2L, "b", 22L, Some(0.5)),
      (3L, "a", 30L, Some(0.9))))
    // inferSchema reports the union across live data versions
    assert(ManifestTable.inferSchema(spark, ManifestTable.snapshot(spark, root)).fieldNames.toSet
      == Set("id", "p", "v", "score"))
  }

  test("disk-resident ANN index takes incremental appends; search equals wholesale re-encode") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.llm.ProductQuant
    val root = java.nio.file.Files.createTempDirectory("manannapp").toString + "/t"
    // deterministic synthetic embeddings, 64-dim
    def vec(seed: Long) = (0 until 64).map(i =>
      ((seed * 31 + i * 7) % 13).toDouble / 13.0).toArray
    val base = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch = (200L until 240L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val frac = ProductQuant.trainFracFor(base, 4096)
    val sample = ProductQuant.sampleFor(base, frac, "vec_id")
    val coarse = ProductQuant.trainCodebooks(base, 1, 64, 8, 2, 4, "vec_id", frac, sample)
    val cb = ProductQuant.trainCodebooks(base, 8, 8, 8, 2, 8, "vec_id", frac, sample)
    ProductQuant.releaseSample(sample)
    val idxSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("sub", IntegerType),
      StructField("code", LongType), StructField("cell", LongType)))
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      ProductQuant.encodeBatch(df, coarse, cb, 8, 8, "vec_id")
        .select(idxSchema.fieldNames.map(col): _*)
    ManifestTable.commit(codesOf(base).repartitionByRange(4, col("cell"), col("vec_id")),
      root, None, statsCols = Seq("cell"), bloomCols = Seq("cell"))
    // CDC leg: the new vectors' codes land as a BLIND APPEND (frozen model)
    ManifestTable.append(codesOf(batch), root, None)
    val q = base.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def top(codes: org.apache.spark.sql.DataFrame) =
      ProductQuant.ivfPqSearch(q, codes, coarse, cb, 5, 8, 8, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val stored = top(ManifestTable.read(spark, root, idxSchema))
    val rebuilt = top(codesOf(base.unionByName(batch)))
    assert(stored == rebuilt) // append-maintained index == wholesale re-encode
  }

  test("catalog DDL: CREATE TABLE USING graft serves SELECT and INSERT INTO") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manddl").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "p"), root,
      Some(PartSpec.Identity("p")))
    spark.sql("DROP TABLE IF EXISTS graft_ddl_t")
    spark.sql(s"CREATE TABLE graft_ddl_t USING graft OPTIONS (path '$root')")
    try {
      assert(spark.sql("SELECT sum(id) FROM graft_ddl_t").head().getLong(0) == 3L)
      spark.sql("INSERT INTO graft_ddl_t SELECT id + 10, p FROM graft_ddl_t")
      assert(spark.sql("SELECT count(*) FROM graft_ddl_t").head().getLong(0) == 4L)
      // the insert landed as a real manifest commit, partitioned like the base
      assert(ManifestTable.currentVersion(spark, root).contains(2L))
      assert(ManifestTable.read(spark, root, schema)
        .as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (11L, "a"), (12L, "b")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_t")
  }

  test("Connectors streaming seam: the replication pipeline assembles from conf alone") {
    import spark.implicits._
    import graft.sources.{Connectors, ManifestTable}
    val baseDir = java.nio.file.Files.createTempDirectory("connstr").toString
    val src = s"$baseDir/src"; val dst = s"$baseDir/dst"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType)))
    ManifestTable.commit(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p")))
    // the whole reference pipeline as TWO conf-driven endpoints
    spark.conf.set("spark.graft.conn.lakecdc.format", "graft")
    spark.conf.set("spark.graft.conn.lakecdc.option.key", "id")
    spark.conf.set("spark.graft.conn.lakecdc.path", src)
    spark.conf.set("spark.graft.conn.replica.format", "graft")
    spark.conf.set("spark.graft.conn.replica.option.mergeKey", "id")
    spark.conf.set("spark.graft.conn.replica.option.cdf", "true")
    spark.conf.set("spark.graft.conn.replica.option.partitionBy", "p")
    spark.conf.set("spark.graft.conn.replica.path", dst)
    try {
      val stream = Connectors.readStream(spark, "lakecdc",
        sys.error("path set in conf"))
      val q = Connectors.startStream(stream, "replica",
        sys.error("path set in conf"), s"$baseDir/ckpt")
      q.processAllAvailable()
      ManifestTable.mergeDv(Seq((2L, "b", 22L)).toDF("id", "p", "v"),
        src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
      q.processAllAvailable()
      q.stop()
      assert(ManifestTable.read(spark, dst, schema)
        .as[(Long, String, Long)].collect().toSet ==
        Set((1L, "a", 1L), (2L, "b", 22L)))
    } finally Seq("lakecdc", "replica").foreach { n =>
      spark.conf.getAll.keys.filter(_.startsWith(s"spark.graft.conn.$n."))
        .foreach(spark.conf.unset)
    }
  }

  test("partition-dir pruning: equality/IN hints on the partition column skip whole dirs") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manpp").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType)))
    ManifestTable.commit(
      (0L until 80L).map(i => (i, "p" + (i % 8), i * 2)).toDF("id", "p", "v")
        .repartition(col("p")), // one file per partition dir
      root, Some(PartSpec.Identity("p")), statsCols = Seq("id"))
    // equality on the partition column: ONE dir's files listed, 1/8 kept
    val (k1, t1) = ManifestTable.pruneCounts(spark, root, Nil,
      points = Seq("p" -> "p3"))
    assert(t1 == 1 && k1 == 1, s"kept=$k1 total=$t1")
    assert(ManifestTable.readAuto(spark, root, schema, col("p") === "p3")
      .count() == 10L)
    // IN-list on the partition column: two dirs
    val inPred = col("p").isin("p1", "p5")
    val (r2, p2, a2) = ManifestTable.extractHintsFor(spark, schema, inPred)
    val (k2, t2) = ManifestTable.pruneCounts(spark, root, r2, p2, a2)
    assert(t2 == 2, s"total=$t2")
    assert(ManifestTable.readAuto(spark, root, schema, inPred).count() == 20L)
    // a value matching NO partition: zero files, empty (not an error)
    assert(ManifestTable.readAuto(spark, root, schema, col("p") === "nope")
      .count() == 0L)
    // conjunctive with a non-partition hint still correct
    assert(ManifestTable.readAuto(spark, root, schema,
      col("p") === "p3" && col("id") === 11L).as[(Long, String, Long)]
      .collect().toSeq == Seq((11L, "p3", 22L)))
  }

  test("restore is metadata-only and rowCount serves count(*) from footers minus live DV rows") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("manres").toString + "/t"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("v", LongType)))
    ManifestTable.commit((0L until 100L).map(i => (i, "p" + (i % 3), i))
      .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p"))) // v1
    assert(ManifestTable.rowCount(spark, root) == 100L)
    // merge appends + masks (count unchanged), delete masks 10 rows
    ManifestTable.mergeDv(Seq((7L, "p1", 700L)).toDF("id", "p", "v"),
      root, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None) // v2
    assert(ManifestTable.rowCount(spark, root) == 100L)
    ManifestTable.deleteWhere(spark, root, schema, col("id") < 10L) // v3
    assert(ManifestTable.rowCount(spark, root) == 90L)
    assert(ManifestTable.rowCount(spark, root)
      == ManifestTable.read(spark, root, schema).count())
    // a key in BOTH merge legs masks its old position ONCE — an undeduped
    // DV would double-subtract here
    ManifestTable.mergeDv(Seq((20L, "p2", 2000L)).toDF("id", "p", "v"),
      root, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil,
      Some(Seq((20L, "p2")).toDF("id", "p")), None) // v4
    assert(ManifestTable.rowCount(spark, root) == 90L)
    assert(ManifestTable.rowCount(spark, root)
      == ManifestTable.read(spark, root, schema).count())
    // nine original sub-10 ids + key 7's original AND its v2 copy (both
    // masked by the delete) + key 20's superseded copy — each exactly once
    assert(ManifestTable.deletedRowCount(spark, root) == 12L)
    // a compact rewrites the survivors; the OLD DV's positions go inert —
    // rowCount must not subtract them against the new files
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, root),
      schema, Some(PartSpec.Identity("p"))) // v5, no #dv
    assert(ManifestTable.rowCount(spark, root) == 90L)
    // restore to the pre-delete snapshot: pure metadata, rows return
    val bytesBefore = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    val nv = ManifestTable.restore(spark, root, 2L)
    assert(nv == 6L)
    val bytesAfter = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName).toSet
    assert(bytesBefore == bytesAfter) // no data dir written
    assert(ManifestTable.rowCount(spark, root) == 100L)
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("id") === 7L).as[(Long, String, Long)].head() == ((7L, "p1", 700L)))
    // restoring a vacuumed version fails loudly
    ManifestTable.vacuum(spark, root)
    val e = intercept[IllegalStateException](ManifestTable.restore(spark, root, 3L))
    assert(e.getMessage.contains("no version"))
  }

  test("publishManifest leaves no orphaned crc sidecars in the table root") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = java.nio.file.Files.createTempDirectory("mancrc").toString + "/t"
    (1 to 3).foreach(i =>
      ManifestTable.commit(Seq((i.toLong, "a")).toDF("id", "p"), root,
        Some(PartSpec.Identity("p"))))
    val stray = new java.io.File(root).listFiles()
      .map(_.getName).filter(n => n.endsWith(".crc") && n.contains(".manifest-"))
    assert(stray.isEmpty, s"orphaned crc sidecars: ${stray.mkString(", ")}")
  }

  test("queries registry and oracle map stay consistent") {
    // every oracle refers to a registered query; both maps non-trivial
    assert(Queries.oracleSql.keySet.subsetOf(Queries.queries.keySet))
    assert(Queries.queries.size >= 35)
    assert(Queries.oracleSql.size >= 30)
    // entry() must be one of the registered queries on sf0.001 (smoke)
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("zone maps are NaN-safe: NaN files never pruned, colBounds declines") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.ColRange
    // Spark's parquet writer drops double min/max ENTIRELY when a chunk
    // contains NaN (probed r15: mixed [1,3,NaN] comes back with no bounds,
    // numNulls=0) — and Spark ranks NaN above every value, so `x > 100`
    // MATCHES NaN. A harvest that mislabels such a file all-null would let
    // pruning drop the NaN rows and colBounds answer NULL.
    val root = java.nio.file.Files.createTempDirectory("mannan").toString + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType)))
    // file A: clean [1.0, 3.0]; file B: mixed with NaN; file C: all-NaN
    val df = Seq((1L, 1.0, 0), (2L, 3.0, 0),
      (3L, 2.0, 1), (4L, Double.NaN, 1),
      (5L, Double.NaN, 2), (6L, Double.NaN, 2))
      .toDF("id", "x", "f").repartition(3, col("f")).drop("f")
    ManifestTable.commit(df, root, spec = None, statsCols = Seq("x"))
    // aggregate pushdown must decline: the footer answer (max=3.0) would
    // differ from the scan answer (NaN)
    assert(ManifestTable.colBounds(spark, root, "x").isEmpty)
    // x > 100 matches the three NaN rows under Spark semantics; pruning
    // must keep the NaN-bearing files even though no finite bound survives
    val got = ManifestTable.readPruned(spark, root, schema,
        Seq(ColRange("x", 100.0, null)))
      .filter(col("x") > 100.0).select("id").as[Long].collect().toSet
    assert(got == Set(4L, 5L, 6L), s"got=$got")
    // genuinely all-NULL double column still prunes and answers NULL bounds
    val root2 = java.nio.file.Files.createTempDirectory("mannan2").toString + "/t"
    ManifestTable.commit(
      Seq((1L, null: java.lang.Double), (2L, null: java.lang.Double))
        .toDF("id", "x"), root2, spec = None, statsCols = Seq("x"))
    assert(ManifestTable.colBounds(spark, root2, "x") == Some(None))
    // mixed physical tags across data versions (long x then double x):
    // colBounds declines rather than throwing on .toLong of a double string
    val root3 = java.nio.file.Files.createTempDirectory("mannan3").toString + "/t"
    ManifestTable.commit(Seq((1L, 5L)).toDF("id", "x"), root3, None,
      statsCols = Seq("x"))
    ManifestTable.append(Seq((2L, 7.5)).toDF("id", "x"), root3, None,
      statsCols = Seq("x"))
    assert(ManifestTable.colBounds(spark, root3, "x").isEmpty)
  }

  test("time-based vacuum: olderThan keeps the window, count window unions (r19)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-vt").toString + "/t"
    (1 to 5).foreach { i =>
      ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), root, None)
    }
    // cutoff = v3's commit stamp: versions 3..5 are inside the window
    val ts3 = ManifestTable.history(spark, root)
      .find(_._1 == 3L).flatMap(_._5).get
    ManifestTable.vacuum(spark, root, retainVersions = 0, olderThanMicros = Some(ts3))
    assert(ManifestTable.versions(spark, root) == Seq(3L, 4L, 5L))
    // reclaimed data versions are gone from disk, retained ones read
    val vdirs = new java.io.File(root).listFiles()
      .map(_.getName).filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
    assert(vdirs.map(_.drop(1).toLong).toSet == Set(3L, 4L, 5L), vdirs.mkString(","))
    assert(spark.read.format("graft").option("versionAsOf", 3).load(root).count() == 1)
    // the count window unions in: retain 4 behind head keeps v2.. — but v2
    // is already gone; a fresh table shows the min() compose
    val root2 = Files.createTempDirectory("graft-vt2").toString + "/t"
    (1 to 5).foreach { i =>
      ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), root2, None)
    }
    val ts5 = ManifestTable.history(spark, root2)
      .find(_._1 == 5L).flatMap(_._5).get
    // time window alone would keep only v5; retain=3 keeps v2.. — union wins
    ManifestTable.vacuum(spark, root2, retainVersions = 3, olderThanMicros = Some(ts5))
    assert(ManifestTable.versions(spark, root2) == Seq(2L, 3L, 4L, 5L))
  }

  test("compact to a target file size bin-packs under partition skew (r19)") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("graft-tb").toString + "/t"
    // skewed: partition A ~40k near-incompressible rows, partition B tiny
    val big = (0L until 40000L).map(i => (i, "A",
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes).map(b => f"${b & 0xff}%02x").mkString * 2))
    val small = (0L until 50L).map(i => (i + 100000L, "B", "tiny" + i))
    val df = (big ++ small).toDF("k", "p", "payload")
    // land it fragmented first: many small files
    ManifestTable.commit(df.repartition(40), root, Some(PartSpec.Identity("p")))
    val schema = df.schema
    val target = 256L * 1024L
    ManifestTable.compactTargetBytes(spark, ManifestTable.snapshot(spark, root), schema,
      Some(graft.sources.PartSpec.Identity("p")), target)
    // row identity
    val back = spark.read.format("graft").load(root)
    assert(back.count() == 40050L)
    assert(back.agg(sum("k")).as[Long].head() ==
      (big.map(_._1).sum + small.map(_._1).sum))
    val cur = ManifestTable.currentVersion(spark, root).get
    def filesOf(dir: String): Seq[java.io.File] = {
      val d = new java.io.File(f"$root/v$cur%08d/$dir")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).toSeq
    }
    val aFiles = filesOf("p=A")
    val bFiles = filesOf("p=B")
    assert(bFiles.size == 1, s"tiny partition should emit one file: ${bFiles.size}")
    assert(aFiles.size >= 4, s"skewed partition should split: ${aFiles.size} files")
    // every file within 2x of target; all but the boundary stragglers at
    // least ~0.4x (range tasks straddling a dir boundary split their output)
    assert(aFiles.forall(_.length() <= target * 2),
      aFiles.map(_.length()).sorted.mkString(","))
    assert(aFiles.count(_.length() < (target * 2) / 5) <= 2,
      aFiles.map(_.length()).sorted.mkString(","))
  }

  test("S14 jsonDump writes a JSON dir that reads back row for row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jdump").toString + "/out"
    val rows = Seq(("p1", 21.03, Some("Ha Noi")), ("p2", 16.07, None))
    Sinks.jsonDump(rows.toDF("id", "lat", "vi"), dir)
    Sinks.jsonDump(rows.take(1).toDF("id", "lat", "vi"), dir) // overwrites
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("lat", DoubleType), StructField("vi", StringType)))
    assert(spark.read.schema(schema).json(dir).as[(String, Double, Option[String])]
      .collect().toSeq == rows.take(1))
  }

  /** Merge-on-read table: a 120-row commit over 12 int partitions, then
    * `batches` mergeDv commits each updating one key and inserting one per
    * partition — 12 × (batches + 1) live dirs and a deletion vector. Returns
    * (root, schema, the last-wins model).
    */
  private def morTable(batches: Int): (String, StructType, Set[(Long, Int, Long)]) = {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("mansnap").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    val base = (0L until 120L).map(i => (i, (i % 12).toInt, 0L))
    ManifestTable.commit(base.toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    var model = base.map(r => r._1 -> r).toMap
    for (b <- 1 to batches) {
      val batch = (0 until 12).flatMap(p => Seq((p.toLong, p, b.toLong),
        (1000L * b + p, p, b.toLong)))
      ManifestTable.mergeDv(batch.toDF("id", "p", "v"), root, schema, Seq("id"),
        Some(PartSpec.Identity("p")))
      model ++= batch.map(r => r._1 -> r)
    }
    (root, schema, model.values.toSet)
  }

  private def graftScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if s.scan.isInstanceOf[graft.sources.GraftScan] => s }

  /** The data files a frame's graft scans read, after partition pruning. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame) =
    graftScans(df).flatMap(_.inputPartitions).flatMap {
      case p: org.apache.spark.sql.execution.datasources.FilePartition => p.files.map(_.toPath)
    }

  test("snapshot read: 36+ live dirs over 4 data versions build one relation and run no job") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val (root, schema, model) = morTable(3)
    var df: org.apache.spark.sql.DataFrame = null
    // an InMemoryFileIndex over this many dirs starts a parallel listing job
    assert(jobsIn { df = ManifestTable.read(spark, root, schema) } == 0)
    val dirs = scannedFiles(df).map(_.getParent)
    assert(dirs.distinct.length >= 36, dirs.distinct.length)
    // exactly one scan, whatever the number of data versions: the deletion
    // vector masks rows inside it, not as a second (joined) scan
    val scans = graftScans(df)
    assert(scans.size == 1 && scans.count(_.output.exists(_.name == "id")) == 1,
      scans.map(_.output.map(_.name).mkString(",")).mkString(" | "))
    var got: Set[(Long, Int, Long)] = null
    assert(jobsIn { got = df.as[(Long, Int, Long)].collect().toSet } == 1)
    assert(got == model)
    assert(jobsIn { df = ManifestTable.readWithMeta(spark, root, schema) } == 0)
    assert(df.count() == model.size)
    assert(ManifestTable.readPruned(spark, root, schema, Nil)
      .as[(Long, Int, Long)].collect().toSet == model)
    // schema inference: one footer per data version, read on the driver
    var inferred: StructType = null
    assert(jobsIn {
      inferred = ManifestTable.inferSchema(spark, ManifestTable.snapshot(spark, root)) } == 0)
    // the dir column comes last, as a directory read reports it
    assert(inferred == StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("p", IntegerType))))
  }

  test("snapshot read: int, date and string partition values round-trip; a filter lists one dir") {
    import graft.sources.ManifestTable
    val cases: Seq[(DataType, Seq[Any])] = Seq(
      IntegerType -> Seq(1, -5, null),
      DateType -> Seq(java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("1999-12-31"), null),
      StringType -> Seq("a b", "x/y", "k=v", null))
    for ((dt, values) <- cases) {
      val root = Files.createTempDirectory("manpart").toString + "/t"
      val schema = StructType(Seq(StructField("id", LongType), StructField("p", dt)))
      val rows = values.zipWithIndex.flatMap { case (v, i) =>
        Seq(org.apache.spark.sql.Row(i.toLong, v), org.apache.spark.sql.Row(i + 10L, v)) }
      ManifestTable.commit(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema), root, Some(PartSpec.Identity("p")))
      val df = ManifestTable.read(spark, root, schema)
      assert(df.collect().toSet == rows.toSet, dt)
      for (v <- values.filter(_ != null)) {
        val hit = df.filter(col("p") === lit(v))
        assert(hit.collect().toSet == rows.filter(_.get(1) == v).toSet, v)
        val listed = scannedFiles(hit).map(_.getParent.getName).distinct
        assert(listed.toSeq == Seq(ManifestTable.partDirName("p", v)), listed.mkString(","))
      }
      assert(df.filter(col("p").isNull).count() == 2, dt)
      // a deletion vector masks exactly one row per value under every dir
      // name, and its driver-side readers key the same files
      val v2 = ManifestTable.deleteWhere(spark, root, schema, col("id") >= 10L)
      val live = rows.filter(_.getLong(0) < 10L).toSet
      assert(ManifestTable.read(spark, root, schema).collect().toSet == live, dt)
      assert(ManifestTable.readWithMeta(spark, root, schema).drop("__f", "__pos")
        .collect().toSet == live, dt)
      assert(ManifestTable.readPruned(spark, root, schema, Nil).collect().toSet == live, dt)
      for (v <- values.filter(_ != null))
        assert(ManifestTable.readPruned(spark, root, schema, Nil, points = Seq("p" -> v))
          .filter(col("p") === lit(v)).collect().toSet == live.filter(_.get(1) == v), v)
      assert(ManifestTable.rowCount(spark, root) == live.size, dt)
      assert(ManifestTable.deletedRowCount(spark, root) == values.size, dt)
      assert(ManifestTable.changes(spark, root, schema, Seq("id"), v2 - 1, v2)
        .select("_change_type", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == rows.filter(_.getLong(0) >= 10L).map(r => ("delete", r.getLong(0))).toSet, dt)
    }
  }

  test("DV readers run no Spark job: rowCount, deletedRowCount, a deleteWhere window's feed") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("mandvjobs").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    val v1 = ManifestTable.commit((0L until 40L).map(i => (i, (i % 4).toInt, i))
      .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    // the delete lands in one of four partitions: the feed's window misses
    // three, so only the DV comparison can find the one it touched
    val v2 = ManifestTable.deleteWhere(spark, root, schema, col("id") === 5L)
    var n = 0L
    assert(jobsIn { n = ManifestTable.rowCount(spark, root) } == 0)
    assert(n == 39L)
    assert(jobsIn { n = ManifestTable.deletedRowCount(spark, root) } == 0)
    assert(n == 1L)
    var feed: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { feed = ManifestTable.changes(spark, root, schema, Seq("id"), v1, v2) } == 0)
    assert(feed.select("_change_type", "id").as[(String, Long)].collect().toSeq
      == Seq(("delete", 5L)))
  }

  test("a deletion vector refuses a row index at or past 2^31 instead of truncating it") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("mandvbig").toString + "/t"
    val v1 = ManifestTable.commit(Seq((1L, 1, 1L)).toDF("id", "p", "v"), root,
      Some(PartSpec.Identity("p")))
    val f = ManifestTable.readWithMeta(spark, root, StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))).select("__f").as[String].head()
    val e = intercept[Exception](ManifestTable.commitDelta(spark,
      ManifestTable.snapshot(spark, root, Some(v1)), None,
      Some(ManifestTable.collectDv(Seq((f, 1L << 31)).toDF("__f", "__pos"))),
      Some(PartSpec.Identity("p"))))
    assert(e.getMessage.contains("2^31"), e.getMessage)
    assert(ManifestTable.currentVersion(spark, root).contains(v1))
  }

  test("a deletion vector written as parquet by an older build still masks the same rows") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("mandvlegacy").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    val v1 = ManifestTable.commit((0L until 60L).map(i => (i, (i % 3).toInt, i))
      .toDF("id", "p", "v"), root, Some(PartSpec.Identity("p")))
    val v2 = ManifestTable.deleteWhere(spark, root, schema, col("id") % 7 === 0L)
    val expect = ManifestTable.read(spark, root, schema).as[(Long, Int, Long)].collect().toSet
    assert(expect.size == 51)
    // the same (__f, __pos) rows, in the parquet form older builds wrote
    val ddir = f"$root/d$v2%08d"
    ManifestTable.readWithMeta(spark, root, schema, Some(v1)).filter(col("id") % 7 === 0L)
      .select("__f", "__pos").write.mode("overwrite").parquet(ddir)
    assert(!new java.io.File(ddir).list().exists(_.endsWith(".roaring")))
    assert(ManifestTable.read(spark, root, schema).as[(Long, Int, Long)].collect().toSet == expect)
    assert(ManifestTable.rowCount(spark, root) == 51L)
    assert(ManifestTable.deletedRowCount(spark, root) == 9L)
    assert(ManifestTable.changes(spark, root, schema, Seq("id"), v1, v2).count() == 9L)
    // the next DV commit carries the legacy positions into its bitmaps
    ManifestTable.mergeDv(Seq((1L, 1, -1L)).toDF("id", "p", "v"), root, schema, Seq("id"),
      Some(PartSpec.Identity("p")))
    assert(ManifestTable.read(spark, root, schema).as[(Long, Int, Long)].collect().toSet
      == expect - ((1L, 1, 1L)) + ((1L, 1, -1L)))
  }

  test("job budget: a mergeDv on a table carrying a DV, and one replicate step of it") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val base = Files.createTempDirectory("mandvbudget").toString
    val (src, dst) = (base + "/src", base + "/dst")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    ManifestTable.commit((0L until 40L).map(i => (i, (i % 4).toInt, i)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p")))
    ManifestTable.mergeDv(Seq((1L, 1, -1L), (2L, 2, -2L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p"))) // the DV the measured merge builds on
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    val merge = jobsIn {
      ManifestTable.mergeDv(Seq((5L, 1, -5L), (41L, 1, 41L)).toDF("id", "p", "v"),
        src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil,
        Some(Seq((6L, 2)).toDF("id", "p")), Some(Seq("p=2")))
    }
    var applied = 0
    val step = jobsIn { applied = ManifestTable.replicate(spark, src, dst, schema, Seq("id"),
      Some("p")) }
    assert(applied == 1)
    assert(ManifestTable.read(spark, dst, schema).as[(Long, Int, Long)].collect().toSet
      == ManifestTable.read(spark, src, schema).as[(Long, Int, Long)].collect().toSet)
    // merge: the stage write (which gathers the batch's keys) and the
    // positions collect. Step: the same merge on the replica plus the change
    // feed's two-sided diff (the parquet-DV build ran 4 and 12: DV write
    // job, broadcast joins and the feed's 4-job DV diff; the key-set
    // broadcast join and the sink's checkpoint ran 3 and 6)
    assert((merge, step) == ((2, 4)))
  }

  test("a point read on 12 partition dirs lists only the dir that survives pruning") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val local = Files.createTempDirectory("manlist").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    ManifestTable.commit((0L until 120L).map(i => (i, (i % 12).toInt, i)).toDF("id", "p", "v"),
      local, Some(PartSpec.Identity("p")), statsCols = Seq("v"))
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val root = "cntfs://" + local
    ListCountingFs.listed.clear()
    val df = ManifestTable.readPruned(spark, root, schema, Nil, points = Seq("p" -> 7))
    val vdirLists = ListCountingFs.listed.toArray.map(_.toString).filter(_.contains("/v0"))
    assert(vdirLists.toSeq == Seq(s"cntfs:$local/v00000001/p=7"), vdirLists.mkString(", "))
    assert(df.as[(Long, Int, Long)].collect().toSet
      == (0L until 120L).filter(_ % 12 == 7).map(i => (i, 7, i)).toSet)
  }

  test("unhinted read, changes and rowCount list each live dir once and open no sidecar") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val local = Files.createTempDirectory("manunh").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    val spec = Some(PartSpec.Identity("p"))
    val base = (0L until 120L).map(i => (i, (i % 12).toInt, i))
    ManifestTable.commit(base.toDF("id", "p", "v"), local, spec,
      statsCols = Seq("v"), bloomCols = Seq("id"))
    ManifestTable.append(Seq((500L, 3, 500L)).toDF("id", "p", "v"), local, spec,
      statsCols = Seq("v"), bloomCols = Seq("id")) // v2 joins p=3's entries
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val root = "cntfs://" + local
    val live = (0 until 12).map(p => s"v00000001/p=$p") :+ "v00000002/p=3"
    def sidecarOpens: Seq[String] = ListCountingFs.opened.toArray.toSeq.map(_.toString)
      .filter(s => s.contains("/_stats.") || s.contains("/_bloom.") || s.endsWith("/_ddl.json"))
    def check(what: String)(f: => Unit): Unit = {
      ListCountingFs.clear()
      f
      assert(sidecarOpens.isEmpty, s"$what: ${sidecarOpens.mkString(", ")}")
    }
    val all = base.toSet + ((500L, 3, 500L))
    check("read") {
      val df = ManifestTable.read(spark, root, schema)
      assert(ListCountingFs.listedDataDirs.sorted == live.sorted, "read")
      assert(df.as[(Long, Int, Long)].collect().toSet == all)
    }
    check("rowCount") {
      assert(ManifestTable.rowCount(spark, root) == all.size)
      assert(ListCountingFs.listedDataDirs.sorted == live.sorted, "rowCount")
    }
    check("changes") {
      val feed = ManifestTable.changes(spark, root, schema, Seq("id"), 1L, 2L)
      // each side lists its own snapshot's dirs of the one changed partition
      assert(ListCountingFs.listedDataDirs.sorted ==
        Seq("v00000001/p=3", "v00000001/p=3", "v00000002/p=3"), "changes")
      assert(feed.select("_change_type", "id").as[(String, Long)].collect().toSeq ==
        Seq(("insert", 500L)))
    }
    // a pinned read prunes by its hints like a current one
    ListCountingFs.clear()
    val pinned = spark.read.format("graft").schema(schema).option("versionAsOf", "1")
      .load(root).filter($"p" === 7).select("id").as[Long].collect().toSet
    assert(pinned == (0L until 120L).filter(_ % 12 == 7).toSet)
    assert(ListCountingFs.listedDataDirs == Seq("v00000001/p=7"),
      ListCountingFs.listedDataDirs.mkString(", "))
    // t.files' source: lengths from the plan's listing, no per-file stat
    ListCountingFs.clear()
    val files = ManifestTable.liveFileSkipping(spark, ManifestTable.snapshot(spark, root))
    assert(files.size == ManifestTable.detail(spark, local).map(_._3).sum)
    val fileStats = ListCountingFs.statted.toArray.toSeq.map(_.toString)
      .filter(_.contains("/part-"))
    assert(fileStats.isEmpty, fileStats.mkString(", "))
  }

  test("vacuum reads the table root once: one listing, no exists or status probe of the root") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val local = Files.createTempDirectory("manvac1").toString + "/t"
    val spec = Some(PartSpec.Identity("p"))
    ManifestTable.commit(Seq((1L, 1, 1L), (2L, 2, 2L)).toDF("id", "p", "v"), local, spec)
    for (i <- 3L to 5L)
      ManifestTable.append(Seq((i, (i % 2).toInt, i)).toDF("id", "p", "v"), local, spec)
    ManifestTable.setTag(spark, local, "pinned", Some(2L))
    ManifestTable.createBranch(spark, local, "wip")
    ManifestTable.append(Seq((6L, 1, 6L)).toDF("id", "p", "v"), local, spec)
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    ListCountingFs.clear()
    assert(ManifestTable.vacuum(spark, "cntfs://" + local, retainVersions = 1).contains(5L))
    assert((ListCountingFs.listsOf(local), ListCountingFs.probesOf(local)) == ((1, 0)),
      s"root listings ${ListCountingFs.listsOf(local)}, root probes ${ListCountingFs.probesOf(local)}")
    // the head, the window behind it, the tag and the branch head survive
    assert(ManifestTable.versions(spark, local) == Seq(2L, 4L, 5L))
    assert(ManifestTable.read(spark, local, StructType.fromDDL("id BIGINT, p INT, v BIGINT"))
      .count() == 6)
  }

  test("currentVersion of a missing root is None from one listing and no exists probe") {
    import graft.sources.ManifestTable
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val missing = Files.createTempDirectory("manmiss").toString + "/none"
    ListCountingFs.clear()
    assert(ManifestTable.currentVersion(spark, "cntfs://" + missing).isEmpty)
    assert((ListCountingFs.listsOf(missing), ListCountingFs.probesOf(missing)) == ((1, 0)),
      s"root listings ${ListCountingFs.listsOf(missing)}, " +
        s"root probes ${ListCountingFs.probesOf(missing)}")
  }

  test("vacuum sweeps a crashed sidecar install's temp file and keeps the live sidecars") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manvacddl").toString + "/t"
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), root, None)
    val ddl = s"""{"schema": ${new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(StructType.fromDDL("k BIGINT, v STRING").json)}, "props": {}}"""
    def plant(name: String): java.nio.file.Path =
      Files.write(java.nio.file.Paths.get(root, name), ddl.getBytes("UTF-8"))
    val live = plant("_ddl.json")
    // the staged sidecar the newest manifest's #ddl directive names holds
    // schema authority until promoted: vacuum must keep it
    val staged = plant(".ddl-livestaged.json")
    ManifestTable.withDirective("#ddl\t.ddl-livestaged.json") {
      ManifestTable.commit(Seq((2L, "b")).toDF("k", "v"), root, None)
    }
    val tmp = plant("._ddl.json-deadbeef.tmp") // a save that crashed before its rename
    ManifestTable.vacuum(spark, root, retainVersions = 1)
    assert(!Files.exists(tmp), "the crashed install's temp survived vacuum")
    assert(Files.exists(live) && Files.exists(staged))
  }

  test("CALL system.vacuum lists the table root at most twice") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val dir = Files.createTempDirectory("graft-cat-vac").toString
    spark.conf.set("spark.sql.catalog.gvac", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvac.warehouse", "cntfs://" + dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gvac.db")
    spark.sql("CREATE TABLE gvac.db.t (k BIGINT, v STRING) PARTITIONED BY (v)")
    for (i <- 1 to 3) spark.sql(s"INSERT INTO gvac.db.t VALUES ($i, 'a')")
    ListCountingFs.clear()
    val out = spark.sql("CALL gvac.system.vacuum(table => 'db.t', retain => 1)").collect()
    val lists = ListCountingFs.listsOf(s"$dir/db/t")
    assert(out.map(_.getLong(0)).toSeq ==
      graft.sources.ManifestTable.currentVersion(spark, s"$dir/db/t").toSeq)
    assert(lists <= 2, s"CALL system.vacuum listed the table root $lists times")
  }

  test("a path-first mergeDv resolves its table once: 2 root listings, 2 manifest and 1 _ddl.json status") {
    import spark.implicits._
    import graft.sources.ManifestTable
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val local = Files.createTempDirectory("manmbud").toString + "/t"
    val root = "cntfs://" + local
    val schema = StructType.fromDDL("id BIGINT, p STRING, v BIGINT")
    val spec = Some(PartSpec.Identity("p"))
    ManifestTable.commit(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "v"), root, spec)
    for (i <- 1 to 3)
      ManifestTable.mergeDv(Seq((1L, "a", i * 10L)).toDF("id", "p", "v"), root, schema,
        Seq("id"), spec)
    ListCountingFs.clear()
    ManifestTable.mergeDv(Seq((2L, "b", 99L)).toDF("id", "p", "v"), root, schema, Seq("id"), spec)
    val io = (ListCountingFs.listsOf(local),
      ListCountingFs.statusCallsOf(local)(_.startsWith("_manifest.")),
      ListCountingFs.statusCallsOf(local)(_ == "_ddl.json"))
    assert(io._1 <= 2 && io._2 <= 2 && io._3 <= 1,
      s"(root listings, manifest status, _ddl.json status) = $io")
    assert(ManifestTable.read(spark, local, schema).as[(Long, String, Long)].collect().toSet ==
      Set((1L, "a", 30L), (2L, "b", 99L)))
  }

  test("SQL UPDATE and MERGE resolve their table once: 3 root listings, 2 manifest status") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val dir = Files.createTempDirectory("graft-cat-bud").toString
    spark.conf.set("spark.sql.catalog.gbud", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbud.warehouse", "cntfs://" + dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbud.db")
    spark.sql("CREATE TABLE gbud.db.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('statsCols'='k', 'bloomCols'='v')")
    spark.sql("INSERT INTO gbud.db.t SELECT id, 'a', CAST(id % 3 AS STRING) FROM range(30)")
    spark.range(25, 35).selectExpr("id AS k", "'m' AS v", "CAST(id % 3 AS STRING) AS p")
      .createOrReplaceTempView("gbud_src")
    val local = s"$dir/db/t"
    def io(sql: String): (Int, Int) = {
      ListCountingFs.clear()
      spark.sql(sql)
      (ListCountingFs.listsOf(local), ListCountingFs.statusCallsOf(local)(_.startsWith("_manifest.")))
    }
    val update = io("UPDATE gbud.db.t SET v = 'u' WHERE k = 3")
    val merge = io("MERGE INTO gbud.db.t t USING gbud_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
    assert(update._1 <= 3 && update._2 <= 2 && merge._1 <= 3 && merge._2 <= 2,
      s"(root listings, manifest status): UPDATE $update, MERGE $merge")
    assert(spark.sql("SELECT count(*), count_if(v = 'm'), count_if(v = 'u') FROM gbud.db.t")
      .collect().head.toSeq == Seq(35L, 10L, 1L))
  }

  test("a catalog scan resolves one snapshot: an unpushed global aggregate lists the root twice") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val dir = Files.createTempDirectory("graft-cat-one").toString
    spark.conf.set("spark.sql.catalog.gone", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gone.warehouse", "cntfs://" + dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gone.db")
    spark.sql("CREATE TABLE gone.db.t (k BIGINT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO gone.db.t SELECT id % 3, id FROM range(30)")
    val local = s"$dir/db/t"
    ListCountingFs.clear()
    // SUM declines the metadata-only pushdown: the scan builder plans the
    // aggregate and the read from one snapshot (the table load lists once)
    assert(spark.sql("SELECT sum(v) FROM gone.db.t").collect().head.getLong(0) == 435L)
    assert(ListCountingFs.listsOf(local) <= 2, ListCountingFs.listsOf(local))
  }

  test("CALL compact resolves the table's snapshot once: 4 root listings") {
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val dir = Files.createTempDirectory("graft-cat-cmp").toString
    spark.conf.set("spark.sql.catalog.gcmp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcmp.warehouse", "cntfs://" + dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcmp.db")
    spark.sql("CREATE TABLE gcmp.db.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    for (i <- 0 until 3)
      spark.sql(s"INSERT INTO gcmp.db.t SELECT id, 'a', CAST(id % 3 AS STRING) " +
        s"FROM range(${i * 10}, ${i * 10 + 10})")
    val local = s"$dir/db/t"
    ListCountingFs.clear()
    spark.sql("CALL gcmp.system.compact('db.t')").collect()
    assert(ListCountingFs.listsOf(local) <= 4, ListCountingFs.listsOf(local))
    assert(spark.sql("SELECT count(*), sum(k) FROM gcmp.db.t").collect().head.toSeq ==
      Seq(30L, 435L))
  }

  test("snapshot read: __f and __pos are a plain parquet read's scheme-free file_path and row_index") {
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manfkey").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType), StructField("p", StringType)))
    val rows = Seq(org.apache.spark.sql.Row(1L, "a b"), org.apache.spark.sql.Row(2L, "k=v"),
      org.apache.spark.sql.Row(3L, "x%y"), org.apache.spark.sql.Row(4L, null),
      org.apache.spark.sql.Row(5L, "a b"))
    ManifestTable.commit(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema),
      root, Some(PartSpec.Identity("p")))
    val ours = ManifestTable.readWithMeta(spark, root, schema).select("__f", "__pos")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val files = scannedFiles(ManifestTable.read(spark, root, schema)).map(_.toString)
    val plain = spark.read.parquet(files: _*)
      .select(regexp_replace(col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"),
        col("_metadata.row_index"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ours.size == rows.size && ours == plain, s"$ours vs $plain")
  }

  test("two path-first reads of one snapshot share one exchange") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manreuse").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    ManifestTable.commit((0L until 100L).map(i => (i, (i % 4).toInt, i)).toDF("id", "p", "v"),
      root, Some(PartSpec.Identity("p")))
    def agg() = ManifestTable.read(spark, root, schema).groupBy("p").agg(sum("v").as("s"))
    val u = agg().union(agg())
    assert(u.collect().length == 8)
    val p = u.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p)
  }

  test("two catalog reads of one snapshot share one exchange") {
    val dir = Files.createTempDirectory("graft-cat-reuse").toString
    spark.conf.set("spark.sql.catalog.greuse", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.greuse.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS greuse.db")
    spark.sql("CREATE TABLE greuse.db.t (k BIGINT, v BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO greuse.db.t SELECT id, id, CAST(id % 4 AS STRING) FROM range(100)")
    val c = spark.sql("SELECT p, sum(v) FROM greuse.db.t GROUP BY p UNION ALL " +
      "SELECT p, sum(v) FROM greuse.db.t GROUP BY p")
    assert(c.collect().length == 8)
    val cp = c.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(cp.contains("ReusedExchange"), cp)
  }

  test("snapshot read: an unpartitioned-era layout beside an identity layout reads every row once") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = Files.createTempDirectory("manmix").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("p", IntegerType), StructField("v", LongType)))
    val base = (0L until 40L).map(i => (i, (i % 4).toInt, 0L))
    ManifestTable.commit(base.toDF("id", "p", "v"), root, None) // the "" entry
    var model = base.map(r => r._1 -> r).toMap
    for (b <- 1 to 2) {
      val batch = Seq((b.toLong, b % 4, b.toLong), (100L + b, 1, b.toLong))
      ManifestTable.mergeDv(batch.toDF("id", "p", "v"), root, schema, Seq("id"),
        Some(PartSpec.Identity("p")))
      model ++= batch.map(r => r._1 -> r)
    }
    val df = ManifestTable.read(spark, root, schema)
    assert(df.as[(Long, Int, Long)].collect().toSet == model.values.toSet)
    // one scan for both layouts and every data version
    assert(graftScans(df).size == 1)
    assert(ManifestTable.inferSchema(spark, ManifestTable.snapshot(spark, root)) == StructType(Seq(
      StructField("id", LongType), StructField("p", IntegerType), StructField("v", LongType))))
  }
}

/** Local file system under the `cntfs` scheme that records every path it
  * lists, opens, stats and probes — the I/O spy for partition-pruning and
  * listing-budget tests. Stats the local listing makes of each child itself
  * are not recorded: only a caller's own `getFileStatus` is.
  */
class ListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  // RawLocalFileSystem answers `exists` from java.io.File without calling
  // getFileStatus, so without this override every `exists` probe would go
  // uncounted and the spy would under-count status round trips
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    ListCountingFs.probed.add(p)
    super.exists(p)
  }
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListCountingFs.listed.add(p)
    ListCountingFs.listing.set(true)
    try super.listStatus(p) finally ListCountingFs.listing.set(false)
  }
  override def open(p: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ListCountingFs.opened.add(p)
    super.open(p, bufferSize)
  }
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!ListCountingFs.listing.get) ListCountingFs.statted.add(p)
    super.getFileStatus(p)
  }
}

object ListCountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
  val statted = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
  val probed = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.hadoop.fs.Path]()
  private val listing = ThreadLocal.withInitial[Boolean](() => false)
  def clear(): Unit = { listed.clear(); opened.clear(); statted.clear(); probed.clear() }
  private def at(q: java.util.Collection[org.apache.hadoop.fs.Path], dir: String): Int =
    q.toArray.count(p => p.asInstanceOf[org.apache.hadoop.fs.Path].toUri.getPath == dir)
  /** Listings of the directory `dir` (a scheme-free local path). */
  def listsOf(dir: String): Int = at(listed, dir)
  /** `exists` and `getFileStatus` probes of `dir` itself. */
  def probesOf(dir: String): Int = at(probed, dir) + at(statted, dir)
  /** `getFileStatus` calls on the files directly under `dir` whose name passes `name`. */
  def statusCallsOf(dir: String)(name: String => Boolean): Int = statted.toArray.count { x =>
    val p = x.asInstanceOf[org.apache.hadoop.fs.Path]
    p.getParent != null && p.getParent.toUri.getPath == dir && name(p.getName)
  }
  /** The data version dirs listed, as `v########/<partition dir>` strings. */
  def listedDataDirs: Seq[String] = listed.toArray.toSeq.map(_.toString)
    .flatMap(s => "/(v\\d{8}/.*)$".r.findFirstMatchIn(s).map(_.group(1)))
}

/** Deterministic fake fetch client for the S1 keyed-fetch tests — file-scope
  * so executor closures serialize it without the enclosing spec.
  */
class ScriptedClient(attempt: Int) extends graft.sources.FetchClient {
  override def fetch(key: String): Either[String, String] = key match {
    case "k2" if attempt < 2 => Left(s"transient-$attempt")
    case "k3"                => Left("permanent")
    case k                   => Right(s"payload-$k-a$attempt")
  }
}

/** Always-succeeds fake client (clean-first-pass case). */
object OkClient extends graft.sources.FetchClient {
  override def fetch(key: String): Either[String, String] = Right(s"p-$key")
}
