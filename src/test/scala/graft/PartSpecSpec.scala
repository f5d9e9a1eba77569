package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftCatalog, ManifestTable, PartSpec, PartSpecs}

/** Hidden partitioning (Iceberg-style partition transforms) + partition-
  * spec evolution over the manifest-table layout: transform parity
  * (Spark-side derive vs driver-side pruning replay), SQL end-to-end with
  * directory-level pruning, the evolution lifecycle (metadata-only spec
  * change, mixed-layout correctness under DML, carry-forward refusal,
  * compact ending the mix), and the ALTER guards that protect spec
  * source columns.
  */
class PartSpecSpec extends SparkSuite {

  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-ps-wh").toString
    spark.conf.set("spark.sql.catalog.gps", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gps.db")
    dir
  }

  private def rootOf(name: String): String = { wh; s"$wh/db/$name" }

  // ---------------------------------------------------------------------
  // transform parity: PartSpec.derive (Spark) == PartSpec.applyValue
  // (driver) — the invariant all pruning correctness rests on
  // ---------------------------------------------------------------------

  test("days/hours parity: Spark derive == driver applyValue, incl. pre-epoch") {
    val micros = Seq(0L, 1L, -1L, 86399999999L, 86400000000L, -86400000000L,
      -1L * 86400000000L - 1L, 1690000000123456L, -123456789L)
    val df = micros.toDF("us").select(timestamp_micros(col("us")).as("ts"), col("us"))
    for (spec <- Seq(PartSpec.Days("ts"), PartSpec.Hours("ts"))) {
      val derived = spec.derive(df).select(col("us"), col(spec.physName))
        .as[(Long, Long)].collect().toMap
      micros.foreach { us =>
        assert(spec.applyValue(java.lang.Long.valueOf(us)) == Some(derived(us)),
          s"${spec.render} applyValue($us) != derived ${derived(us)}")
        // external (V1 sources.Filter) convention agrees too
        val ts = java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L))
        assert(spec.applyValue(ts) == Some(derived(us)), s"${spec.render} Timestamp($us)")
      }
    }
  }

  test("months/years parity across year boundaries and pre-epoch dates") {
    val days = Seq(0L, 30L, 31L, 364L, 365L, 366L, -1L, -365L, -366L, 19723L, 10000L)
    val df = days.toDF("d").select(date_add(to_date(lit("1970-01-01")),
      col("d").cast("int")).as("dt"), col("d"))
    for (spec <- Seq(PartSpec.Months("dt"), PartSpec.Years("dt"))) {
      val derived = spec.derive(df).select(col("d"), col(spec.physName))
        .as[(Long, Long)].collect().toMap
      days.foreach { d =>
        assert(spec.applyValue(java.lang.Integer.valueOf(d.toInt)) == Some(derived(d)),
          s"${spec.render} applyValue(day $d) != derived ${derived(d)}")
        assert(spec.applyValue(java.time.LocalDate.ofEpochDay(d)) == Some(derived(d)),
          s"${spec.render} LocalDate(day $d)")
      }
    }
  }

  test("bucket parity: xxhash64 replay matches Spark per source type") {
    val longs = Seq(0L, 1L, -5L, 123456789L, Long.MaxValue)
    val dfL = longs.toDF("k")
    val specL = PartSpec.Bucket(16, "k", LongType)
    val dL = specL.derive(dfL).select(col("k"), col("k_bucket")).as[(Long, Long)]
      .collect().toMap
    longs.foreach(k => assert(specL.applyValue(java.lang.Long.valueOf(k)) == Some(dL(k))))

    val ints = Seq(0, 1, -5, 4093)
    val dfI = ints.toDF("k")
    val specI = PartSpec.Bucket(16, "k", IntegerType)
    val dI = specI.derive(dfI).select(col("k"), col("k_bucket")).as[(Int, Long)]
      .collect().toMap
    ints.foreach(k => assert(specI.applyValue(java.lang.Integer.valueOf(k)) == Some(dI(k))))
    // int and long MUST be allowed to hash differently — the parity is per
    // declared type, which is why widening a bucket source is refused
    val strs = Seq("", "a", "vietnam", "héllo", "x")
    val dfS = strs.toDF("s")
    val specS = PartSpec.Bucket(8, "s", StringType)
    val dS = specS.derive(dfS).select(col("s"), col("s_bucket")).as[(String, Long)]
      .collect().toMap
    strs.foreach(s => assert(specS.applyValue(s) == Some(dS(s)), s"bucket('$s')"))
  }

  test("truncate parity: codepoint strings and floor-div integrals") {
    val strs = Seq("", "a", "abcd", "abcdefgh", "héllo", "ab😀cd")
    val dfS = strs.toDF("s")
    val specS = PartSpec.Truncate(3, "s", StringType)
    val dS = specS.derive(dfS).select(col("s"), col("s_trunc")).as[(String, String)]
      .collect().toMap
    strs.foreach(s => assert(specS.applyValue(s) == Some(dS(s)), s"truncate('$s')"))

    val longs = Seq(0L, 1L, 99L, 100L, 101L, -1L, -100L, -101L)
    val dfL = longs.toDF("k")
    val specL = PartSpec.Truncate(100, "k", LongType)
    val dL = specL.derive(dfL).select(col("k"), col("k_trunc")).as[(Long, Long)]
      .collect().toMap
    longs.foreach(k => assert(specL.applyValue(java.lang.Long.valueOf(k)) == Some(dL(k)),
      s"truncate($k)"))
  }

  test("parse/render round-trips and validates") {
    val sch = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", LongType), StructField("s", StringType)))
    for (r <- Seq("k", "days(ts)", "hours(ts)", "months(ts)", "years(ts)",
        "bucket(16,k)", "truncate(4,s)"))
      assert(PartSpec.parse(r, sch).render == r)
    intercept[Exception](PartSpec.parse("days(k)", sch) match {
      case s => PartSpec.validate(s, sch)
    })
    intercept[Exception](PartSpec.parse("days(nope)", sch))
    intercept[Exception](PartSpec.parse("median(k)", sch))
  }

  // ---------------------------------------------------------------------
  // hidden partitioning end-to-end (SQL catalog)
  // ---------------------------------------------------------------------

  test("days-partitioned table: schema stays clean, dirs carry ts_day, ranges prune dirs") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.h1")
    spark.sql(
      """CREATE TABLE gps.db.h1 (k BIGINT, v STRING, ts TIMESTAMP)
        |PARTITIONED BY (days(ts))""".stripMargin)
    val day = 86400000000L
    (0L until 40L).map(i => (i, s"v$i", (i / 10) * day + i * 1000000L))
      .toDF("k", "v", "us")
      .select(col("k"), col("v"), timestamp_micros(col("us")).as("ts"))
      .createOrReplaceTempView("h1_src")
    spark.sql("INSERT INTO gps.db.h1 SELECT * FROM h1_src")
    // declared schema carries NO ts_day
    assert(spark.table("gps.db.h1").schema.fieldNames.toSeq == Seq("k", "v", "ts"))
    // dirs carry the derived day
    val root = rootOf("h1")
    val v1 = new java.io.File(s"$root/v00000001")
    val dirs = v1.listFiles().map(_.getName).filter(_.startsWith("ts_day=")).sorted
    assert(dirs.toSeq == Seq("ts_day=0", "ts_day=1", "ts_day=2", "ts_day=3"), dirs.mkString(","))
    // full-table read is complete and clean
    assert(spark.table("gps.db.h1").count() == 40)
    // a ts range on the SOURCE column prunes directories
    val rows = spark.sql(
      "SELECT k FROM gps.db.h1 WHERE ts >= TIMESTAMP '1970-01-02 00:00:00' " +
        "AND ts < TIMESTAMP '1970-01-03 00:00:00'").as[Long].collect().toSet
    assert(rows == (10L until 20L).toSet)
    val (kept, total) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts", java.sql.Timestamp.valueOf("1970-01-02 00:00:00"),
        java.sql.Timestamp.valueOf("1970-01-02 23:00:00"))))
    assert(total == 4 && kept == 1, s"expected 1/4 dirs kept, got $kept/$total")
  }

  test("bucket-partitioned table: key equality prunes to one directory") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.h2")
    spark.sql(
      """CREATE TABLE gps.db.h2 (k BIGINT, v STRING)
        |PARTITIONED BY (bucket(8, k))""".stripMargin)
    (0L until 64L).map(i => (i, s"v$i")).toDF("k", "v").createOrReplaceTempView("h2_src")
    spark.sql("INSERT INTO gps.db.h2 SELECT * FROM h2_src")
    assert(spark.sql("SELECT v FROM gps.db.h2 WHERE k = 17").as[String].collect().toSeq
      == Seq("v17"))
    val (kept, total) = ManifestTable.prunePartitionCounts(spark, rootOf("h2"),
      Nil, points = Seq("k" -> java.lang.Long.valueOf(17L)))
    assert(kept == 1 && total >= 2, s"expected 1/$total dirs kept, got $kept")
    // IN-lists prune to the union of buckets
    val in = spark.sql("SELECT v FROM gps.db.h2 WHERE k IN (3, 17)").as[String]
      .collect().toSet
    assert(in == Set("v3", "v17"))
  }

  test("truncate-partitioned table prunes on string prefix equality") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.h3")
    spark.sql(
      """CREATE TABLE gps.db.h3 (s STRING, n BIGINT)
        |PARTITIONED BY (truncate(2, s))""".stripMargin)
    Seq(("aaX", 1L), ("aaY", 2L), ("abZ", 3L), ("zq", 4L)).toDF("s", "n")
      .createOrReplaceTempView("h3_src")
    spark.sql("INSERT INTO gps.db.h3 SELECT * FROM h3_src")
    assert(spark.sql("SELECT n FROM gps.db.h3 WHERE s = 'aaY'").as[Long].collect().toSeq
      == Seq(2L))
    val (kept, total) = ManifestTable.prunePartitionCounts(spark, rootOf("h3"),
      Nil, points = Seq("s" -> "aaY"))
    assert(total == 3 && kept == 1, s"expected 1/3 dirs kept, got $kept/$total")
    // monotone range on the source maps through the truncation
    val (kr, _) = ManifestTable.prunePartitionCounts(spark, rootOf("h3"),
      Seq(ManifestTable.ColRange("s", "ab", "ac")))
    assert(kr == 1, s"range [ab, ac] should keep only s_trunc=ab, kept $kr")
  }

  test("DML over a hidden layout: UPDATE/DELETE/MERGE stay correct") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.h4")
    spark.sql(
      """CREATE TABLE gps.db.h4 (k BIGINT, v STRING, ts TIMESTAMP)
        |PARTITIONED BY (days(ts))""".stripMargin)
    val day = 86400000000L
    (0L until 20L).map(i => (i, s"v$i", (i % 4) * day)).toDF("k", "v", "us")
      .select(col("k"), col("v"), timestamp_micros(col("us")).as("ts"))
      .createOrReplaceTempView("h4_src")
    spark.sql("INSERT INTO gps.db.h4 SELECT * FROM h4_src")
    spark.sql("UPDATE gps.db.h4 SET v = 'upd' WHERE k < 3")
    spark.sql("DELETE FROM gps.db.h4 WHERE k = 10")
    spark.sql(
      """MERGE INTO gps.db.h4 t USING (SELECT 5L AS k, 'merged' AS v,
        |TIMESTAMP '1970-01-09 00:00:00' AS ts) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table("gps.db.h4").select("k", "v").as[(Long, String)].collect().toMap
    assert(got.size == 19 && !got.contains(10L))
    assert(got(0L) == "upd" && got(2L) == "upd" && got(5L) == "merged" && got(7L) == "v7")
  }

  // ---------------------------------------------------------------------
  // partition evolution
  // ---------------------------------------------------------------------

  test("evolution identity->days: metadata-only, both layouts read + prune, compact ends the mix") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.e1")
    spark.sql(
      """CREATE TABLE gps.db.e1 (k BIGINT, region STRING, ts TIMESTAMP)
        |PARTITIONED BY (region)""".stripMargin)
    val day = 86400000000L
    def src(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, if (i % 2 == 0) "ASIA" else "EUROPE", (i % 3) * day))
        .toDF("k", "region", "us")
        .select(col("k"), col("region"), timestamp_micros(col("us")).as("ts"))
    src(0, 12).createOrReplaceTempView("e1_a")
    spark.sql("INSERT INTO gps.db.e1 SELECT * FROM e1_a")
    val root = rootOf("e1")
    val vBefore = ManifestTable.currentVersion(spark, root).get

    val out = spark.sql("CALL gps.system.set_partitioning('db.e1', 'days(ts)')").collect()
    assert(out.head.getString(0) == "days(ts)" && out.head.getString(1) == "region")
    // METADATA-ONLY: no new manifest version, no data rewrite
    assert(ManifestTable.currentVersion(spark, root).get == vBefore)

    src(12, 24).createOrReplaceTempView("e1_b")
    spark.sql("INSERT INTO gps.db.e1 SELECT * FROM e1_b")
    // generation 2 landed under ts_day dirs, generation 1 kept region dirs
    val dirsNow = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(_.listFiles()).map(_.getName).filter(_.contains("=")).toSet
    assert(dirsNow.exists(_.startsWith("region=")) && dirsNow.exists(_.startsWith("ts_day=")),
      dirsNow.mkString(","))
    // the full read spans both layouts
    assert(spark.table("gps.db.e1").count() == 24)
    // pruning works PER LAYOUT: a region point prunes gen-1 dirs, a ts
    // range prunes gen-2 dirs, and neither touches the other generation
    val (k1, t1) = ManifestTable.prunePartitionCounts(spark, root,
      Nil, points = Seq("region" -> "ASIA"))
    assert(t1 == 5 && k1 == 4, s"region=ASIA should keep 1 old + all 3 new dirs: $k1/$t1")
    val (k2, _) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts",
        java.sql.Timestamp.valueOf("1970-01-03 00:00:00"), null)))
    assert(k2 == 3, s"ts >= day2 should keep 2 old dirs + ts_day=2, kept $k2")

    // a MERGE across the mixed layout updates rows in BOTH generations
    spark.sql(
      """MERGE INTO gps.db.e1 t USING (SELECT * FROM VALUES (2L), (14L) AS s(k))
        |s ON t.k = s.k WHEN MATCHED THEN UPDATE SET region = 'MIXED'""".stripMargin)
    val regions = spark.table("gps.db.e1").select("k", "region")
      .as[(Long, String)].collect().toMap
    assert(regions(2L) == "MIXED" && regions(14L) == "MIXED" && regions.size == 24)

    // carry-forward commits refuse the mixed layout with a compact hint
    val sch = spark.table("gps.db.e1").schema
    val ex = intercept[IllegalStateException] {
      ManifestTable.commit(spark.table("gps.db.e1").limit(1),
        root, Some(PartSpec.Days("ts")))
    }
    assert(ex.getMessage.contains("compact"))

    // compact rewrites everything under days(ts) and clears the history
    spark.sql("CALL gps.system.compact('db.e1')")
    val dirsAfter = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("v") && !f.getName.contains("."))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .map(_.getName).filter(_.contains("="))
    val cur = ManifestTable.currentVersion(spark, root).get
    assert(spark.table("gps.db.e1").count() == 24)
    assert(ManifestTable.snapshot(spark, root).ddl.specs.size == 1, // history cleared
      ManifestTable.snapshot(spark, root).ddl.specs.map(_.render).mkString(","))
    // and carry-forward reopens
    ManifestTable.commit(
      src(0, 1).select(col("k"), lit("X").as("region"), col("ts")),
      root, Some(PartSpec.Days("ts")))
    assert(ManifestTable.currentVersion(spark, root).get > cur)
  }

  test("evolution guards: source columns are protected, phys collisions refused") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.e2")
    spark.sql(
      """CREATE TABLE gps.db.e2 (k BIGINT, ts TIMESTAMP, n INT)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql("INSERT INTO gps.db.e2 VALUES (1, TIMESTAMP '2020-01-01 00:00:00', 5)")
    // rename/drop of a spec source refused (current spec)
    assert(intercept[Exception](
      spark.sql("ALTER TABLE gps.db.e2 RENAME COLUMN k TO kk")
    ).getMessage.contains("partition-spec source"))
    assert(intercept[Exception](
      spark.sql("ALTER TABLE gps.db.e2 DROP COLUMN k")
    ).getMessage.contains("partition-spec source"))
    // widening a NON-source column stays allowed (control; the bucket-source
    // refusal is covered in the e4 test)
    spark.sql("ALTER TABLE gps.db.e2 ALTER COLUMN n TYPE BIGINT")
    assert(spark.table("gps.db.e2").schema("n").dataType == LongType)
    spark.sql("CALL gps.system.set_partitioning('db.e2', 'days(ts)')")
    // k remains protected as a HISTORICAL source
    assert(intercept[Exception](
      spark.sql("ALTER TABLE gps.db.e2 DROP COLUMN k")
    ).getMessage.contains("partition-spec source"))
    // a column named like the hidden derived column is refused
    assert(intercept[Exception](
      spark.sql("ALTER TABLE gps.db.e2 ADD COLUMNS (ts_day INT)")
    ).getMessage.contains("derives a"))
    // a second spec re-using a historical phys name with different
    // semantics is refused; re-activating the SAME spec is fine
    assert(intercept[Exception](
      spark.sql("CALL gps.system.set_partitioning('db.e2', 'bucket(8, k)')")
    ).getMessage.contains("compact"))
    spark.sql("CALL gps.system.set_partitioning('db.e2', 'bucket(4, k)')")
    assert(ManifestTable.snapshot(spark, rootOf("e2")).ddl.specs.head.render == "bucket(4,k)")
  }

  test("time travel reads the pre-evolution snapshot under its own layout") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.e3")
    spark.sql(
      """CREATE TABLE gps.db.e3 (k BIGINT, p STRING)
        |PARTITIONED BY (p)""".stripMargin)
    spark.sql("INSERT INTO gps.db.e3 VALUES (1, 'a'), (2, 'b')")
    val root = rootOf("e3")
    val v1 = ManifestTable.currentVersion(spark, root).get
    spark.sql("CALL gps.system.set_partitioning('db.e3', 'bucket(4, k)')")
    spark.sql("INSERT INTO gps.db.e3 VALUES (3, 'c')")
    assert(spark.sql(s"SELECT * FROM gps.db.e3 VERSION AS OF $v1").count() == 2)
    assert(spark.table("gps.db.e3").count() == 3)
  }

  test("bucket widening refused, unsetting partitioning works") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.e4")
    spark.sql(
      """CREATE TABLE gps.db.e4 (k INT, v STRING)
        |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.sql("INSERT INTO gps.db.e4 VALUES (1, 'a')")
    assert(intercept[Exception](
      spark.sql("ALTER TABLE gps.db.e4 ALTER COLUMN k TYPE BIGINT")
    ).getMessage.contains("bucket"))
    spark.sql("CALL gps.system.set_partitioning('db.e4', '')")
    spark.sql("INSERT INTO gps.db.e4 VALUES (2, 'b')")
    assert(spark.table("gps.db.e4").count() == 2)
  }

  test("pruning stays exact under randomized predicates, NULL sources included") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.rp")
    spark.sql(
      """CREATE TABLE gps.db.rp (k BIGINT, ts TIMESTAMP, s STRING)
        |PARTITIONED BY (days(ts))""".stripMargin)
    val day = 86400000000L
    val rnd = new scala.util.Random(42)
    // 8 days of data + NULL timestamps (the __HIVE_DEFAULT_PARTITION__ dir)
    val rows = (0 until 300).map { i =>
      val us: java.lang.Long =
        if (i % 17 == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(8).toLong * day + rnd.nextInt(86400) * 1000000L)
      (i.toLong, us, s"s${rnd.nextInt(5)}")
    }
    rows.toDF("k", "us", "s")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("s"))
      .createOrReplaceTempView("rp_src")
    spark.sql("INSERT INTO gps.db.rp SELECT * FROM rp_src")
    def expect(pred: String): Set[Long] =
      spark.sql(s"SELECT k FROM rp_src WHERE $pred").as[Long].collect().toSet
    def got(pred: String): Set[Long] =
      spark.sql(s"SELECT k FROM gps.db.rp WHERE $pred").as[Long].collect().toSet
    for (_ <- 0 until 30) {
      val a = rnd.nextInt(9).toLong * day + rnd.nextInt(86400) * 1000000L
      val b = a + rnd.nextInt(3 * 86400) * 1000000L
      val preds = Seq(
        s"ts >= timestamp_micros($a) AND ts < timestamp_micros($b)",
        s"ts = timestamp_micros($a)",
        s"ts >= timestamp_micros($a) AND s = 's${rnd.nextInt(5)}'",
        s"ts IS NULL OR ts < timestamp_micros($a)") // OR: no hint, full scan
      preds.foreach(p => assert(got(p) == expect(p), s"mismatch under: $p"))
    }
  }

  test("streaming sink follows partition evolution between runs of one checkpoint") {
    wh
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("DROP TABLE IF EXISTS gps.db.sev")
    spark.sql(
      """CREATE TABLE gps.db.sev (k BIGINT, ts TIMESTAMP, p STRING)
        |PARTITIONED BY (p)""".stripMargin)
    val root = rootOf("sev")
    val ckpt = Files.createTempDirectory("sev-ckpt").toString
    val src = MemoryStream[(Long, Long, String)]
    def run(): Unit = {
      val q = src.toDF().toDF("k", "us", "p")
        .select(col("k"), timestamp_micros(col("us")).as("ts"), col("p"))
        .writeStream.format("graft")
        .option("path", root).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    val day = 86400000000L
    src.addData((1L, 0L, "a"), (2L, day, "b"))
    run() // generation 1 lands under identity p dirs
    spark.sql("CALL gps.system.set_partitioning('db.sev', 'days(ts)')")
    src.addData((3L, 2 * day, "c"), (4L, 3 * day, "d"))
    run() // generation 2: the sink re-resolves the spec per batch
    val dirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .map(_.getName).filter(_.contains("=")).toSet
    assert(dirs.exists(_.startsWith("p=")) && dirs.exists(_.startsWith("ts_day=")),
      dirs.mkString(","))
    assert(spark.table("gps.db.sev").count() == 4)
    // both layouts prune under their own spec
    val (k1, t1) = ManifestTable.prunePartitionCounts(spark, root,
      Nil, points = Seq("p" -> "a"))
    assert(t1 == 4 && k1 == 3, s"p=a keeps 1 identity dir + 2 day dirs: $k1/$t1")
    val (k2, _) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts",
        java.lang.Long.valueOf(3 * day), null)))
    assert(k2 == 3, s"ts >= day3 keeps 2 identity dirs + ts_day=3, kept $k2")
  }

  test("V1 path-addressed INSERT derives the hidden partition column") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.h5")
    spark.sql(
      """CREATE TABLE gps.db.h5 (k BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql("INSERT INTO gps.db.h5 VALUES (1, TIMESTAMP '1970-01-01 12:00:00')")
    val root = rootOf("h5")
    val df = Seq((2L, 86400000000L)).toDF("k", "us")
      .select(col("k"), timestamp_micros(col("us")).as("ts"))
    df.write.format("graft").mode("append").save(root)
    assert(spark.table("gps.db.h5").count() == 2)
    val dirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .map(_.getName).filter(_.startsWith("ts_day=")).toSet
    assert(dirs == Set("ts_day=0", "ts_day=1"), dirs.mkString(","))
  }

  test("evolution unpartitioned->partitioned: mergeDv sees the '' layout (ADVICE r18)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.e5")
    spark.sql("CREATE TABLE gps.db.e5 (k BIGINT, region STRING, v BIGINT)")
    (0L until 6L).map(i => (i, if (i % 2 == 0) "ASIA" else "EUROPE", i))
      .toDF("k", "region", "v").createOrReplaceTempView("e5_src")
    spark.sql("INSERT INTO gps.db.e5 SELECT * FROM e5_src")
    spark.sql("CALL gps.system.set_partitioning('db.e5', 'region')")
    val root = rootOf("e5")
    val sch = spark.table("gps.db.e5").schema
    // upsert EXISTING keys through the partitioned spec: their old rows
    // live in the unpartitioned ("") layout — the position scan must fall
    // back to the full snapshot or the stale copies stay visible
    val batch = Seq((0L, "ASIA", 100L), (1L, "EUROPE", 101L)).toDF("k", "region", "v")
    ManifestTable.mergeDv(batch, root, sch, Seq("k"),
      Some(PartSpec.Identity("region")))
    val rows = spark.table("gps.db.e5").as[(Long, String, Long)].collect()
    assert(rows.length == 6, s"stale '' layout rows visible: ${rows.sorted.mkString(",")}")
    val m = rows.map(r => r._1 -> r._3).toMap
    assert(m(0L) == 100L && m(1L) == 101L && m(2L) == 2L)
    // carry-forward snapshot commits refuse the mixed '' layout too
    val ex = intercept[IllegalStateException] {
      ManifestTable.commit(batch, root, Some(PartSpec.Identity("region")))
    }
    assert(ex.getMessage.contains("compact"))
    // compact under the current spec ends the mix; the fast path reopens
    spark.sql("CALL gps.system.compact('db.e5')")
    ManifestTable.mergeDv(Seq((2L, "ASIA", 200L)).toDF("k", "region", "v"),
      root, sch, Seq("k"), Some(PartSpec.Identity("region")))
    val m2 = spark.table("gps.db.e5").as[(Long, String, Long)].collect()
    assert(m2.length == 6 && m2.map(r => r._1 -> r._3).toMap.apply(2L) == 200L)
  }

  test("FLOAT bound equal to the dir value keeps the dir (ADVICE r18)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.f1")
    spark.sql("CREATE TABLE gps.db.f1 (k BIGINT, fv FLOAT) PARTITIONED BY (fv)")
    Seq((1L, 0.1f), (2L, 0.5f), (3L, 2.5f)).toDF("k", "fv")
      .createOrReplaceTempView("f1_src")
    spark.sql("INSERT INTO gps.db.f1 SELECT * FROM f1_src")
    val root = rootOf("f1")
    // (double)0.1f != "0.1".toDouble — the bound must compare in FLOAT domain
    val (k1, t1) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("fv", java.lang.Float.valueOf(0.1f), null)))
    assert(t1 == 3 && k1 == 3, s"fv >= 0.1f must keep fv=0.1: $k1/$t1")
    val (k2, _) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("fv", null, java.lang.Float.valueOf(0.1f))))
    assert(k2 == 1, s"fv <= 0.1f keeps exactly fv=0.1: $k2")
    assert(spark.sql(
      "SELECT count(*) FROM gps.db.f1 WHERE fv >= CAST(0.1 AS FLOAT)")
      .as[Long].head() == 3L)
  }

  test("composite spec days(ts) x bucket(4,k): nested dirs, both dimensions prune") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.c1")
    spark.sql(
      """CREATE TABLE gps.db.c1 (k BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts), bucket(4, k))""".stripMargin)
    val day = 86400000000L
    // 3 days x 16 keys -> every (day, bucket) pair occupied: 12 dirs
    (0L until 48L).map(i => (i % 16, (i / 16) * day, i.toDouble))
      .toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
      .createOrReplaceTempView("c1_src")
    spark.sql("INSERT INTO gps.db.c1 SELECT * FROM c1_src")
    val root = rootOf("c1")
    // nested physical layout: v*/ts_day=<d>/k_bucket=<b>, data files carry
    // only the declared schema
    val dayDirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("ts_day="))
    assert(dayDirs.map(_.getName).toSet == Set("ts_day=0", "ts_day=1", "ts_day=2"),
      dayDirs.map(_.getName).mkString(","))
    val bucketDirs = dayDirs.flatMap(d => d.listFiles()).map(_.getName)
      .filter(_.startsWith("k_bucket="))
    assert(bucketDirs.length == 12, bucketDirs.mkString(","))
    assert(spark.table("gps.db.c1").schema.fieldNames.toSeq == Seq("k", "ts", "v"))

    // time dimension prunes: ts >= day1 keeps 8 of 12 dirs
    val (k1, t1) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(86400L)), null)))
    assert(t1 == 12 && k1 == 8, s"ts range should keep 8/12: $k1/$t1")
    // hash dimension prunes: k = 5 keeps one bucket per day (3 of 12)
    val (k2, _) = ManifestTable.prunePartitionCounts(spark, root,
      Nil, points = Seq("k" -> java.lang.Long.valueOf(5L)))
    assert(k2 == 3, s"k=5 should keep 1 bucket x 3 days: $k2")
    // both dimensions intersect: exactly 2 dirs survive
    val (k3, _) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(86400L)), null)),
      points = Seq("k" -> java.lang.Long.valueOf(5L)))
    assert(k3 == 2, s"both dims should keep 2 dirs: $k3")
    // SQL answers stay exact through the pruned scans
    assert(spark.sql(
      "SELECT count(*) FROM gps.db.c1 WHERE ts >= TIMESTAMP'1970-01-02 00:00:00'")
      .as[Long].head() == 32L)
    assert(spark.sql("SELECT count(*) FROM gps.db.c1 WHERE k = 5").as[Long].head() == 3L)

    // row-level DML over the composite layout
    spark.sql("UPDATE gps.db.c1 SET v = -1.0 WHERE k = 5")
    spark.sql("DELETE FROM gps.db.c1 WHERE k = 7")
    assert(spark.table("gps.db.c1").count() == 45)
    assert(spark.sql("SELECT sum(v) FROM gps.db.c1 WHERE k = 5")
      .as[Double].head() == -3.0)

    // blind appends land under the composite spec and commute
    spark.sql("INSERT INTO gps.db.c1 VALUES (99, TIMESTAMP'1970-01-01 01:00:00', 9.0)")
    assert(spark.table("gps.db.c1").count() == 46)

    // partitions metadata table renders the comma spec per dir
    val specs = spark.table("gps.db.c1.partitions")
      .select("spec").distinct().as[String].collect().toSet
    assert(specs == Set("days(ts),bucket(4,k)"), specs.mkString("|"))
  }

  test("evolution single->composite: mixed guards, DML correct, compact ends the mix") {
    wh
    spark.sql("DROP TABLE IF EXISTS gps.db.c2")
    spark.sql(
      """CREATE TABLE gps.db.c2 (k BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (days(ts))""".stripMargin)
    val day = 86400000000L
    def src(lo: Long, hi: Long) =
      (lo until hi).map(i => (i % 8, (i % 3) * day, i.toDouble)).toDF("k", "us", "v")
        .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    src(0, 12).createOrReplaceTempView("c2_a")
    spark.sql("INSERT INTO gps.db.c2 SELECT * FROM c2_a")
    val root = rootOf("c2")
    val vBefore = ManifestTable.currentVersion(spark, root).get
    // evolve to the composite spec: metadata-only
    spark.sql("CALL gps.system.set_partitioning('db.c2', 'days(ts),bucket(4,k)')")
    assert(ManifestTable.currentVersion(spark, root).get == vBefore)
    src(12, 24).createOrReplaceTempView("c2_b")
    spark.sql("INSERT INTO gps.db.c2 SELECT * FROM c2_b")
    // both layouts live: flat ts_day dirs + nested ts_day/k_bucket dirs
    val entries = spark.table("gps.db.c2.partitions").select("partition")
      .as[String].collect().toSet
    assert(entries.exists(e => e.startsWith("ts_day=") && !e.contains("/")), entries)
    assert(entries.exists(e => e.contains("/k_bucket=")), entries)
    // pruning works on both layouts at once: a ts hint maps through days()
    // in BOTH generations
    val (kd, td) = ManifestTable.prunePartitionCounts(spark, root,
      Seq(ManifestTable.ColRange("ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2 * 86400L)), null)))
    assert(kd < td, s"ts hint should prune some dirs of 15: $kd/$td")
    // a k hint prunes ONLY the composite generation's dirs
    val (kk, _) = ManifestTable.prunePartitionCounts(spark, root,
      Nil, points = Seq("k" -> java.lang.Long.valueOf(1L)))
    assert(kk < td && kk >= 3, s"k hint prunes nested dirs only: $kk/$td")
    // DML across the mixed layouts
    spark.sql("UPDATE gps.db.c2 SET v = -1.0 WHERE k = 1")
    assert(spark.table("gps.db.c2").count() == 24)
    assert(spark.sql("SELECT count(*) FROM gps.db.c2 WHERE v = -1.0")
      .as[Long].head() == 3L)
    // carry-forward refusal while mixed
    val ex = intercept[IllegalStateException] {
      ManifestTable.commit(spark.table("gps.db.c2").limit(1), root,
        Some(PartSpec.parse("days(ts),bucket(4,k)", spark.table("gps.db.c2").schema)))
    }
    assert(ex.getMessage.contains("compact"))
    // compact rewrites all rows under the composite spec
    spark.sql("CALL gps.system.compact('db.c2')")
    assert(spark.table("gps.db.c2").count() == 24)
    val after = spark.table("gps.db.c2.partitions").select("partition")
      .as[String].collect()
    assert(after.forall(_.contains("/k_bucket=")), after.mkString(","))
    assert(ManifestTable.snapshot(spark, root).ddl.specs.size == 1)
  }

  test("V1 front door partitionBy option accepts transform renders (r19)") {
    val root = java.nio.file.Files.createTempDirectory("graft-fd-spec").toString + "/t"
    val day = 86400000000L
    val df = (0L until 24L).map(i => (i % 8, (i % 3) * day, i.toDouble))
      .toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    df.write.format("graft").option("partitionBy", "days(ts),bucket(4,k)")
      .mode("overwrite").save(root)
    val dirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.startsWith("ts_day="))
    assert(dirs.length == 3, dirs.map(_.getName).mkString(","))
    assert(dirs.flatMap(_.listFiles()).count(_.getName.startsWith("k_bucket=")) > 3)
    val back = spark.read.format("graft").load(root)
    assert(back.count() == 24)
    // data files carry only the declared columns (hidden layout): the
    // transform write BOOTSTRAPPED a sidecar, so reads resolve the
    // declared schema and pruning maps predicates through the spec
    assert(back.schema.fieldNames.toSet == Set("k", "ts", "v"))
    val (kp, tp) = ManifestTable.prunePartitionCounts(spark, root, Nil,
      points = Seq("k" -> java.lang.Long.valueOf(5L)))
    assert(kp < tp && kp >= 1, s"bootstrap spec should prune: $kp/$tp")
  }

  test("first ALTER on a path-first partitioned table keeps its layout (ADVICE r18)") {
    wh
    val root = rootOf("pf9")
    ManifestTable.commit(Seq((1L, "ASIA"), (2L, "EUROPE")).toDF("k", "region"),
      root, Some(PartSpec.Identity("region")))
    // the first ALTER creates the sidecar: it must RECOVER the physical
    // layout from the manifest, not freeze partCol=None
    spark.sql("ALTER TABLE gps.db.pf9 SET TBLPROPERTIES ('note'='x')")
    spark.sql("INSERT INTO gps.db.pf9 VALUES (3, 'ASIA')")
    val dirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v"))
      .flatMap(v => Option(v.listFiles()).getOrElse(Array.empty))
      .map(_.getName).filter(_.startsWith("region="))
    assert(dirs.length >= 3, s"catalog write landed unpartitioned: ${dirs.mkString(",")}")
  }
}
