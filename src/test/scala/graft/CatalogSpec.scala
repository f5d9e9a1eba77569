package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, ManifestTable, PartSpec}

/** The DSv2 catalog front door (`GraftCatalog`): SQL DDL + the full DML
  * surface (INSERT / DELETE / UPDATE / MERGE INTO) over manifest tables,
  * including the merge-on-read row-level path (SupportsDelta) and the
  * metadata-only DELETE (SupportsDeleteV2). Mirrors the reference's
  * SQL-first warehouse surface (reference: src/create_tables.sql,
  * src/process_insert_update_weather_data.py:110-162).
  */
class CatalogSpec extends SparkSuite {

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-cat-wh").toString
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcat.db")
    dir
  }

  private def freshTable(name: String): String = {
    wh // force catalog registration
    spark.sql(s"DROP TABLE IF EXISTS gcat.db.$name")
    spark.sql(
      s"""CREATE TABLE gcat.db.$name (k BIGINT, v STRING, p STRING)
         |PARTITIONED BY (p)""".stripMargin)
    s"gcat.db.$name"
  }

  private def rowsOf(t: String): Set[(Long, String, String)] = {
    import spark.implicits._
    spark.table(t).select("k", "v", "p").as[(Long, String, String)].collect().toSet
  }

  test("CREATE TABLE + INSERT INTO + SELECT round-trips partitioned data") {
    val t = freshTable("t1")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
    // second INSERT is a blind append, not a replace
    spark.sql(s"INSERT INTO $t VALUES (4, 'd', 'y')")
    assert(rowsOf(t).size == 4)
    // physically partitioned: the table root holds p=... dirs under v dirs
    val root = s"$wh/db/t1"
    val v1 = new java.io.File(s"$root/v00000001")
    assert(v1.exists() && v1.listFiles().exists(_.getName.startsWith("p=")),
      s"expected hive-style partition dirs under $v1")
  }

  test("INSERT OVERWRITE replaces the snapshot") {
    val t = freshTable("t2")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 'z', 'x')")
    assert(rowsOf(t) == Set((9L, "z", "x")))
  }

  test("simple-predicate DELETE is a metadata-only DV commit") {
    val t = freshTable("t3")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    val root = s"$wh/db/t3"
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.sql(s"DELETE FROM $t WHERE k < 3")
    assert(rowsOf(t) == Set((3L, "c", "x")))
    val vAfter = ManifestTable.currentVersion(spark, root).get
    assert(vAfter == vBefore + 1)
    // metadata-only: the delete wrote a DV dir, no new data version dir
    val dDir = new java.io.File(f"$root/d$vAfter%08d")
    val vDir = new java.io.File(f"$root/v$vAfter%08d")
    assert(dDir.exists(), s"expected deletion-vector dir $dDir")
    assert(!vDir.exists() || vDir.listFiles().forall(!_.getName.endsWith(".parquet")),
      "a simple DELETE must not rewrite data files")
  }

  test("UPDATE lands as a merge-on-read delta (O(changed rows) write)") {
    val t = freshTable("t4")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    spark.sql(s"UPDATE $t SET v = 'B' WHERE k = 2")
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "B", "y"), (3L, "c", "x")))
    // the delta version's data dir holds only the 1 reinserted row
    val root = s"$wh/db/t4"
    val v = ManifestTable.currentVersion(spark, root).get
    val reinserted = spark.read.parquet(f"$root/v$v%08d")
    assert(reinserted.count() == 1)
  }

  test("complex-predicate DELETE routes through the row-level delta path") {
    val t = freshTable("t5")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x'), (4, 'd', 'y')")
    spark.sql(s"DELETE FROM $t WHERE k % 2 = 0") // % is not V2Predicate-translatable
    assert(rowsOf(t) == Set((1L, "a", "x"), (3L, "c", "x")))
  }

  test("MERGE INTO: matched update, matched delete, not-matched insert, one commit") {
    val t = freshTable("t6")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    val root = s"$wh/db/t6"
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.createDataFrame(Seq(
      (2L, "B2", "y"), (3L, "DEL", "x"), (5L, "e", "y")))
      .toDF("k", "v", "p").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING merge_src src ON tgt.k = src.k
         |WHEN MATCHED AND src.v = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "B2", "y"), (5L, "e", "y")))
    assert(ManifestTable.currentVersion(spark, root).get == vBefore + 1,
      "the whole MERGE must land as ONE commit")
  }

  test("a catalog SELECT on a table with a deletion vector plans with no job, collects with one") {
    val t = freshTable("tdvjobs")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    spark.sql(s"DELETE FROM $t WHERE k = 2")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { df = spark.sql(s"SELECT k, v FROM $t"); df.queryExecution.executedPlan } == 0)
    var got: Array[org.apache.spark.sql.Row] = null
    assert(jobsIn { got = df.collect() } == 1)
    assert(got.map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("DV masking is exact under partition values 'a b', 'k=v' and 'x/y' through SQL DML") {
    import spark.implicits._
    val t = freshTable("tesc")
    val root = s"$wh/db/tesc"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING, p STRING")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'a b'), (2, 'b', 'a b'), (3, 'c', 'k=v'), " +
      "(4, 'd', 'k=v'), (5, 'e', 'x/y'), (6, 'f', 'x/y')")
    var model = rowsOf(t)
    def check(step: String): Unit = {
      assert(rowsOf(t) == model, step)
      assert(ManifestTable.read(spark, root, schema).as[(Long, String, String)]
        .collect().toSet == model, step)
      assert(ManifestTable.rowCount(spark, root) == model.size, step)
    }
    spark.sql(s"DELETE FROM $t WHERE k = 1") // the metadata-only DV commit
    model -= ((1L, "a", "a b"))
    check("delete")
    spark.sql(s"UPDATE $t SET v = 'D' WHERE k = 4")
    model = model - ((4L, "d", "k=v")) + ((4L, "D", "k=v"))
    check("update")
    Seq((5L, "DEL", "x/y"), (6L, "F", "x/y"), (7L, "g", "a b")).toDF("k", "v", "p")
      .createOrReplaceTempView("esc_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING esc_src src ON tgt.k = src.k
         |WHEN MATCHED AND src.v = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    model = model - ((5L, "e", "x/y")) - ((6L, "f", "x/y")) + ((6L, "F", "x/y")) + ((7L, "g", "a b"))
    check("merge")
    assert(ManifestTable.deletedRowCount(spark, root) == 4L)
    // t.files' paths are the __f keys under every partition value: each
    // live row's file resolves through the metadata table
    val provenance = spark.sql(s"SELECT DISTINCT __f FROM $t").as[String].collect().toSet
    val joined = spark.sql(s"SELECT DISTINCT r.__f FROM (SELECT DISTINCT __f FROM $t) r " +
      s"JOIN $t.files f ON r.__f = f.path").as[String].collect().toSet
    assert(provenance.size >= 3 && joined == provenance, (provenance -- joined).mkString(", "))
  }

  test("SQL MERGE lists each live dir once; UPDATE and DELETE by key range list only its dirs") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val dir = Files.createTempDirectory("graft-cat-cnt").toString
    spark.conf.set("spark.sql.catalog.gcnt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcnt.warehouse", "cntfs://" + dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcnt.db")
    val t = "gcnt.db.o"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING) PARTITIONED BY (truncate(2000, k))")
    spark.sql(s"INSERT INTO $t SELECT id, 'a' FROM range(15000)")
    var model = (0L until 15000L).map(_ -> "a").toMap
    // (partition dir, times listed) over the data version dirs a statement lists
    def run(sql: String): Map[String, Int] = {
      ListCountingFs.clear()
      spark.sql(sql)
      val listed = ListCountingFs.listedDataDirs
      assert(listed.distinct.size == listed.size, s"$sql listed a dir twice: $listed")
      listed.groupBy(_.split('/').drop(1).mkString("/")).map { case (p, ds) => p -> ds.size }
    }
    def check(step: String): Unit =
      assert(spark.table(t).as[(Long, String)].collect().toMap == model, step)
    val merged = run(s"MERGE INTO $t t USING (SELECT * FROM VALUES (100L, 'm'), " +
      "(16100L, 'n') AS s(k, v)) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    model ++= Map(100L -> "m", 16100L -> "n")
    assert(merged == (0 until 8).map(i => s"k_trunc=${i * 2000}" -> 1).toMap, merged)
    check("merge")
    // k_trunc=0 now lives in two data versions (the MERGE appended k=100)
    val updated = run(s"UPDATE $t SET v = 'u' WHERE k BETWEEN 100 AND 124")
    model ++= (100L to 124L).map(_ -> "u")
    assert(updated == Map("k_trunc=0" -> 2), updated)
    check("update")
    val deleted = run(s"DELETE FROM $t WHERE k BETWEEN 300 AND 309")
    model --= (300L to 309L)
    assert(deleted.keySet == Set("k_trunc=0"), deleted)
    check("delete")
  }

  test("a retired partition layout's dirs stay readable by pinned, restored and pre-REPLACE reads") {
    // truncate(2000, k) -> unset -> compact retires the spec history, so
    // truncate(1000, k) may reuse the dir column k_trunc with another width:
    // k = 3500 lives in the old layout's k_trunc=2000 but maps to
    // k_trunc=3000 under the new spec
    import spark.implicits._
    wh
    def ks(sql: String): Set[Long] = spark.sql(sql).as[Long].collect().toSet
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_relayout")
    spark.sql("CREATE TABLE gcat.db.t_relayout (k BIGINT, v STRING) " +
      "PARTITIONED BY (truncate(2000, k))")
    spark.sql("INSERT INTO gcat.db.t_relayout SELECT id * 500, 'a' FROM range(10)")
    val root = s"$wh/db/t_relayout"
    val v1 = ManifestTable.currentVersion(spark, root).get
    spark.sql("CALL gcat.system.set_partitioning('db.t_relayout', '')")
    spark.sql("CALL gcat.system.compact('db.t_relayout')")
    spark.sql("CALL gcat.system.set_partitioning('db.t_relayout', 'truncate(1000, k)')")
    spark.sql("INSERT INTO gcat.db.t_relayout VALUES (3501, 'b')")
    assert(ks(s"SELECT k FROM gcat.db.t_relayout VERSION AS OF $v1 WHERE k = 3500") == Set(3500L))
    assert(spark.read.format("graft").option("versionAsOf", v1).load(root)
      .filter("k = 3500").select("k").as[Long].collect().toSet == Set(3500L))
    assert(ks("SELECT k FROM gcat.db.t_relayout WHERE k IN (3500, 3501)") == Set(3500L, 3501L))
    // the new layout's own dirs still prune
    assert(ManifestTable.prunePartitionCounts(spark, root, Nil, Seq("k" -> 3501L)) == ((1, 1)))
    assert(ManifestTable.prunePartitionCounts(spark, root, Nil, Seq("k" -> 4700L)) == ((0, 1)))
    spark.sql(s"CALL gcat.system.restore('db.t_relayout', $v1)")
    assert(ks("SELECT k FROM gcat.db.t_relayout WHERE k = 3500") == Set(3500L))
    assert(ManifestTable.prunePartitionCounts(spark, root, Nil, Seq("k" -> 3500L)) == ((3, 3)))
    // REPLACE TABLE with the new width: the pre-REPLACE snapshot's dirs
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_relayout")
    spark.sql("CREATE TABLE gcat.db.t_relayout (k BIGINT, v STRING) " +
      "PARTITIONED BY (truncate(2000, k))")
    spark.sql("INSERT INTO gcat.db.t_relayout SELECT id * 500, 'a' FROM range(10)")
    val r1 = ManifestTable.currentVersion(spark, root).get
    spark.sql("REPLACE TABLE gcat.db.t_relayout PARTITIONED BY (truncate(1000, k)) " +
      "AS SELECT k, v FROM gcat.db.t_relayout WHERE k > 4000")
    assert(ks(s"SELECT k FROM gcat.db.t_relayout VERSION AS OF $r1 WHERE k = 3500") == Set(3500L))
    assert(ks("SELECT k FROM gcat.db.t_relayout WHERE k = 4500") == Set(4500L))
    spark.sql("DROP TABLE gcat.db.t_relayout")
  }

  test("mergeDv after a restore to a retired partition layout masks the old layout's row") {
    // the restored snapshot's dirs were written under truncate(2000, k); the
    // current spec truncate(1000, k) reuses the dir column, so k = 3500 maps
    // to k_trunc=3000 while its row lives in the old k_trunc=2000
    import spark.implicits._
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_relayout_merge")
    spark.sql("CREATE TABLE gcat.db.t_relayout_merge (k BIGINT, v STRING) " +
      "PARTITIONED BY (truncate(2000, k))")
    spark.sql("INSERT INTO gcat.db.t_relayout_merge SELECT id * 500, 'a' FROM range(10)")
    val root = s"$wh/db/t_relayout_merge"
    val v1 = ManifestTable.currentVersion(spark, root).get
    spark.sql("CALL gcat.system.set_partitioning('db.t_relayout_merge', '')")
    spark.sql("CALL gcat.system.compact('db.t_relayout_merge')")
    spark.sql("CALL gcat.system.set_partitioning('db.t_relayout_merge', 'truncate(1000, k)')")
    spark.sql(s"CALL gcat.system.restore('db.t_relayout_merge', $v1)")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")
    ManifestTable.mergeDv(Seq((3500L, "z")).toDF("k", "v"), root, schema, Seq("k"),
      ManifestTable.snapshot(spark, root).spec)
    assert(ManifestTable.read(spark, root, schema).filter("k = 3500").select("v")
      .as[String].collect().toSeq == Seq("z"))
    assert(ManifestTable.read(spark, root, schema).count() == 10)
    spark.sql("DROP TABLE gcat.db.t_relayout_merge")
  }

  test("VERSION AS OF time travel reads the pinned snapshot") {
    val t = freshTable("t7")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y')")
    spark.sql(s"DELETE FROM $t WHERE k = 1")
    import spark.implicits._
    val asOf1 = spark.sql(s"SELECT k FROM $t VERSION AS OF 1").as[Long].collect().toSet
    val asOf2 = spark.sql(s"SELECT k FROM $t VERSION AS OF 2").as[Long].collect().toSet
    val now = spark.sql(s"SELECT k FROM $t").as[Long].collect().toSet
    assert(asOf1 == Set(1L) && asOf2 == Set(1L, 2L) && now == Set(2L))
  }

  test("TIMESTAMP AS OF floor-resolves to the snapshot live at that instant") {
    val t = freshTable("t_tsasof")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')") // v1
    Thread.sleep(20)
    val mid = System.currentTimeMillis() // strictly after v1, before v2
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y')") // v2
    import spark.implicits._
    // session TZ is UTC; render the captured instant in it
    val iso = java.time.Instant.ofEpochMilli(mid)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    val atMid = spark.sql(s"SELECT k FROM $t TIMESTAMP AS OF '$iso'")
      .as[Long].collect().toSet
    assert(atMid == Set(1L), s"at $iso only v1 was committed, got $atMid")
    // at now(), both commits are visible
    val nowIso = java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1000)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    assert(spark.sql(s"SELECT k FROM $t TIMESTAMP AS OF '$nowIso'")
      .as[Long].collect().toSet == Set(1L, 2L))
    // earlier than the first retained commit: loud refusal
    val early = java.time.Instant.ofEpochMilli(mid - 3600L * 1000)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM $t TIMESTAMP AS OF '$early'").collect()
    }
    assert(e.getMessage.contains("TIMESTAMP AS OF") ||
      Option(e.getCause).exists(_.getMessage.contains("TIMESTAMP AS OF")))
    // t.history surfaces the commit wall-clock, monotone across versions
    val ts = spark.sql(s"SELECT version, commit_ts FROM $t.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(ts.length == 2 && ts.forall(_._2 != null))
    assert(!ts(0)._2.after(ts(1)._2), s"commit_ts must be monotone: ${ts.toSeq}")
  }

  test("metadata columns __f/__pos surface row provenance") {
    val t = freshTable("t8")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'x')")
    val got = spark.sql(s"SELECT k, __f, __pos FROM $t").collect()
    assert(got.length == 2)
    assert(got.forall(r => r.getString(1).endsWith(".parquet")))
    assert(got.forall(r => r.getLong(2) >= 0))
    assert(got.map(r => (r.getString(1), r.getLong(2))).distinct.length == 2,
      "each row must carry a distinct (file, pos) identity")
  }

  test("a stale-base delta commit rebases past a concurrent blind append") {
    val t = freshTable("t9")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val root = s"$wh/db/t9"
    val schema = spark.table(t).schema
    // pin the base version (what a row-level op does at planning time) …
    val base = ManifestTable.currentVersion(spark, root).get
    val positions = ManifestTable.readWithMeta(spark, root, schema, Some(base))
      .filter(col("k") === 1).select("__f", "__pos")
    val reinsert = spark.createDataFrame(Seq((1L, "A", "x"))).toDF("k", "v", "p")
    // … a blind append lands in between …
    ManifestTable.append(
      spark.createDataFrame(Seq((7L, "g", "x"))).toDF("k", "v", "p"),
      root, Some(PartSpec.Identity("p")))
    // … and the delta commit (deliberately stale base) must rebase, not lose it
    ManifestTable.commitDelta(spark, ManifestTable.snapshot(spark, root, Some(base)), Some(reinsert),
      Some(ManifestTable.collectDv(positions)), Some(PartSpec.Identity("p")))
    assert(rowsOf(t) == Set((1L, "A", "x"), (2L, "b", "y"), (7L, "g", "x")))
  }

  test("SQL MERGE racing a concurrent DELETE conflicts loudly, never resurrects") {
    val t = freshTable("t_mrgrace")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'x'), (3, 'c', 'y')")
    val root = s"$wh/db/t_mrgrace"
    val schema = spark.table(t).schema
    spark.createDataFrame(Seq((2L, "B2", "x"), (9L, "i", "y")))
      .toDF("k", "v", "p").createOrReplaceTempView("mrg_race_src")
    val mergeSql =
      s"""MERGE INTO $t tgt USING mrg_race_src src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    // ordering A: a DELETE lands INSIDE the merge's claim→publish window —
    // injected through the commit-arbiter seam at the merge's own publish
    // point, the exact interleaving a second cluster driver produces
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val prev = ManifestTable.commitArbiter
    ManifestTable.commitArbiter = new ManifestTable.CommitArbiter {
      override def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                    tmp: org.apache.hadoop.fs.Path,
                                    dst: org.apache.hadoop.fs.Path): Boolean = {
        if (fired.compareAndSet(false, true))
          ManifestTable.deleteWhere(spark, root, schema, col("k") === 1L)
        ManifestTable.FsCommitArbiter.publishExclusive(fs, tmp, dst)
      }
    }
    val e = try intercept[Exception] { spark.sql(mergeSql) }
    finally ManifestTable.commitArbiter = prev
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("commit conflict")),
      s"expected a loud commit conflict, got: ${messages(e)}")
    // state equals the serial order "DELETE only": the aborted merge left
    // nothing, and the deleted row did not resurrect
    assert(rowsOf(t) == Set((2L, "b", "x"), (3L, "c", "y")))
    // ordering B: rerun the merge against the current snapshot — serial
    // delete→merge state
    spark.sql(mergeSql)
    assert(rowsOf(t) == Set((2L, "B2", "x"), (3L, "c", "y"), (9L, "i", "y")))
    // and a DELETE after the merge holds too (merge→delete serial order)
    spark.sql(s"DELETE FROM $t WHERE k = 9")
    assert(rowsOf(t) == Set((2L, "B2", "x"), (3L, "c", "y")))
  }

  test("DROP TABLE and RENAME TABLE") {
    val t = freshTable("t10")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME TO db.t10r")
    assert(rowsOf("gcat.db.t10r") == Set((1L, "a", "x")))
    spark.sql("DROP TABLE gcat.db.t10r")
    assert(!spark.catalog.tableExists("gcat.db.t10r"))
  }

  test("ALTER TABLE ADD COLUMNS backfills NULL and accepts new-schema inserts") {
    val t = freshTable("t12")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (score DOUBLE)")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y', 0.5)")
    val got = spark.sql(s"SELECT k, score FROM $t").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> None, 2L -> Some(0.5)))
    // history-rewriting changes refuse loudly (RENAME/DROP COLUMN are
    // supported via field ids — see the field-id tests below)
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE DOUBLE") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ADD COLUMNS (nn BIGINT NOT NULL)") }
  }

  test("ALTER TABLE SET TBLPROPERTIES feeds the next commit's skipping sidecars") {
    val t = freshTable("t13")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('statsCols' = 'k')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (9, 'b', 'y')")
    val root = s"$wh/db/t13"
    val v = ManifestTable.currentVersion(spark, root).get
    val stats = new java.io.File(f"$root/_stats.$v%08d")
    assert(stats.exists(), s"expected zone-map sidecar $stats from the statsCols property")
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("statsCols").contains("k"))
  }

  test("TRUNCATE TABLE is one empty snapshot commit") {
    val t = freshTable("t14")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val root = s"$wh/db/t14"
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.table(t).count() == 0)
    assert(ManifestTable.currentVersion(spark, root).get == vBefore + 1)
    // and the table stays writable afterwards
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 'x')")
    assert(rowsOf(t) == Set((3L, "c", "x")))
  }

  test("CALL system procedures: row_count, detail, compact, restore, vacuum") {
    val t = freshTable("t15")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')") // v1
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 'x')") // v2
    spark.sql(s"DELETE FROM $t WHERE k = 3") // v3 (DV)
    val rc = spark.sql("CALL gcat.system.row_count('db.t15')").collect()(0)
    assert(rc.getLong(0) == 2 && rc.getLong(1) == 1,
      s"expected 2 live / 1 deleted, got $rc")
    assert(spark.sql("CALL gcat.system.detail('db.t15')").count() == 2,
      "two live data versions before compaction")
    val cv = spark.sql("CALL gcat.system.compact('db.t15')").collect()(0).getLong(0)
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "b", "y")))
    assert(spark.sql("CALL gcat.system.detail('db.t15')").count() == 1,
      "compaction folds the snapshot into one data version")
    spark.sql(s"CALL gcat.system.restore('db.t15', ${cv - 3})") // back to v1
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "b", "y")))
    spark.sql("CALL gcat.system.vacuum('db.t15', 1)")
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "b", "y")),
      "vacuum must not reclaim data referenced by the retained manifests")
  }

  test("CALL zorder rewrites clustered and value-identical") {
    val t = freshTable("t16")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(100)")
    val before = rowsOf(t)
    spark.sql("CALL gcat.system.zorder('db.t16', 'k', 4)")
    assert(rowsOf(t) == before)
  }

  test("metadata tables t.history and t.files answer from metadata") {
    val t = freshTable("t17")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')") // v1
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 'x')") // v2
    spark.sql(s"DELETE FROM $t WHERE k = 1") // v3 (DV)
    val hist = spark.sql(s"SELECT version, dv, is_current FROM $t.history ORDER BY version")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    assert(hist.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(hist.last == ((3L, Some(3L), true)), s"v3 must carry the DV pointer: ${hist.toSeq}")
    assert(hist.count(_._3) == 1)
    val files = spark.sql(s"SELECT path, partition, bytes FROM $t.files").collect()
    assert(files.length >= 2 && files.forall(_.getString(0).endsWith(".parquet")))
    assert(files.map(_.getString(1)).toSet == Set("p=x", "p=y"))
    assert(files.forall(_.getLong(2) > 0))
    // files.path joins directly against __f row provenance
    val joined = spark.sql(
      s"SELECT count(*) FROM (SELECT DISTINCT __f FROM $t) r JOIN $t.files f ON r.__f = f.path")
      .collect()(0).getLong(0)
    assert(joined >= 1, "live __f provenance must resolve through t.files")
  }

  test("t.files skipping columns explain exactly which files a predicate keeps") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_skip")
    spark.sql(
      """CREATE TABLE gcat.db.t_skip (k BIGINT, v STRING, p STRING)
        |PARTITIONED BY (p) TBLPROPERTIES ('statsCols'='k', 'bloomCols'='v')""".stripMargin)
    val t = "gcat.db.t_skip"
    // two data versions with disjoint k ranges per partition → prunable files
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(1000, 1100)")
    val root = s"$wh/db/t_skip"
    val lo = 500L
    // the observable pruning effect of k >= 500 …
    val (kept, total) = ManifestTable.pruneCounts(spark, root,
      Seq(ManifestTable.ColRange("k", lo, null)))
    assert(total > kept && kept > 0, s"fixture must actually prune ($kept/$total)")
    // … must equal evaluating the SAME predicate over t.files' zone columns
    val files = spark.sql(
      s"""SELECT path, CAST(zone_mins['k'] AS BIGINT) AS mn,
         |  CAST(zone_maxs['k'] AS BIGINT) AS mx,
         |  array_contains(zone_null_only, 'k') AS k_null_only,
         |  bloom_cols FROM $t.files""".stripMargin).collect()
    assert(files.nonEmpty)
    val metaKept = files.count { r =>
      !r.getBoolean(3) && (r.isNullAt(2) || r.getLong(2) >= lo)
    }
    assert(metaKept == kept,
      s"metadata-table predicate evaluation ($metaKept) must match pruneCounts ($kept)")
    assert(files.forall(_.getSeq[String](4).contains("v")),
      "every file must report its Bloom column")
  }

  test("CTAS creates and loads in one statement") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t11")
    spark.sql("CREATE TABLE gcat.db.t11 AS SELECT 1L AS k, 'a' AS v")
    import spark.implicits._
    assert(spark.table("gcat.db.t11").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a failed CTAS leaves NO table and no staging debris") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_ctasfail")
    // ANSI division by zero throws mid-write, after the staged table exists
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db.t_ctasfail AS " +
        "SELECT id AS k, 10 / (id - 5) AS v FROM range(10)")
    }
    assert(!spark.catalog.tableExists("gcat.db.t_ctasfail"),
      "a failed CTAS must not leave a (partial or empty) table behind")
    val debris = new java.io.File(s"$wh/db").listFiles()
      .map(_.getName).filter(_.startsWith(".stage-ctas-"))
    assert(debris.isEmpty, s"aborted staging dirs must be cleaned up: ${debris.toSeq}")
    // and the name stays usable
    spark.sql("CREATE TABLE gcat.db.t_ctasfail AS SELECT 1L AS k")
    assert(spark.table("gcat.db.t_ctasfail").count() == 1)
    spark.sql("DROP TABLE gcat.db.t_ctasfail")
  }

  test("REPLACE TABLE AS SELECT flips atomically and keeps old versions readable") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_rtas")
    spark.sql("CREATE TABLE gcat.db.t_rtas (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gcat.db.t_rtas VALUES (1, 'a', 'x'), (2, 'b', 'y')") // v1
    val preVersion = ManifestTable.currentVersion(spark, s"$wh/db/t_rtas").get
    // a FAILED replace must leave the old table fully intact
    intercept[Exception] {
      spark.sql("REPLACE TABLE gcat.db.t_rtas AS " +
        "SELECT id AS k, 10 / (id - 3) AS bad FROM range(10)")
    }
    assert(rowsOf("gcat.db.t_rtas") == Set((1L, "a", "x"), (2L, "b", "y")),
      "failed REPLACE must not touch the table")
    // a successful replace is one snapshot commit; the old snapshot stays
    // time-travelable
    spark.sql("REPLACE TABLE gcat.db.t_rtas AS " +
      "SELECT id AS k, concat('n', id) AS name FROM range(3)")
    val now = spark.sql("SELECT k, name FROM gcat.db.t_rtas").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(now == Set((0L, "n0"), (1L, "n1"), (2L, "n2")))
    import spark.implicits._
    val old = spark.sql(s"SELECT k FROM gcat.db.t_rtas VERSION AS OF $preVersion")
      .as[Long].collect().toSet
    assert(old == Set(1L, 2L), "pre-REPLACE snapshot must stay readable")
    // RTAS moved the staged files (no rewrite): exactly one new data version
    assert(ManifestTable.currentVersion(spark, s"$wh/db/t_rtas").get == preVersion + 1)
    spark.sql("DROP TABLE gcat.db.t_rtas")
  }

  test("RTAS flips data AND schema in one atomic manifest commit (#ddl directive)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_rtas_schema")
    spark.sql("CREATE TABLE gcat.db.t_rtas_schema (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gcat.db.t_rtas_schema VALUES (1, 'a', 'x')")
    spark.sql("REPLACE TABLE gcat.db.t_rtas_schema AS " +
      "SELECT id AS k2, concat('s', id) AS s FROM range(2)")
    val root = s"$wh/db/t_rtas_schema"
    // the replacing commit carries the schema flip as a manifest directive —
    // the ONE atomic rename that also published the data
    val v = ManifestTable.currentVersion(spark, root).get
    val dir = ManifestTable.directiveOf(spark, root, v, "ddl")
    assert(dir.exists(_.startsWith(".ddl-")), s"expected a #ddl directive on v$v, got $dir")
    // the renamed-away column is GONE (not NULL under the old schema)
    assert(spark.table("gcat.db.t_rtas_schema").columns.toSeq == Seq("k2", "s"))
    assert(spark.sql("SELECT k2, s FROM gcat.db.t_rtas_schema").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((0L, "s0"), (1L, "s1")))
    // promotion completed: sidecar authoritative again, staged copy retired
    val files = new java.io.File(root).listFiles().map(_.getName)
    assert(!files.exists(_.startsWith(".ddl-")), "staged DDL must be promoted away")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_ddl.json"))).contains("k2"))
    spark.sql("DROP TABLE gcat.db.t_rtas_schema")
  }

  test("a crashed RTAS (manifest flipped, sidecar not yet installed) self-heals on load") {
    val t = freshTable("t_ddlheal")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    val root = s"$wh/db/t_ddlheal"
    // hand-build the exact torn state a crash between the RTAS manifest
    // rename and the sidecar install leaves behind: new data committed
    // whose manifest names a staged-but-never-promoted DDL sidecar
    val newSchema = new org.apache.spark.sql.types.StructType()
      .add("k2", org.apache.spark.sql.types.LongType)
      .add("s", org.apache.spark.sql.types.StringType)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("schema", newSchema.json)
    node.putObject("props")
    val stagedName = ".ddl-healtest.json"
    Files.write(java.nio.file.Paths.get(root, stagedName), m.writeValueAsBytes(node))
    import spark.implicits._
    ManifestTable.withDirective(s"#ddl\t$stagedName") {
      ManifestTable.commit(Seq((10L, "zz")).toDF("k2", "s"), root, None,
        carryForward = false)
    }
    // a fresh load serves the NEW schema (never new data under old schema)
    val out = spark.table(t)
    assert(out.columns.toSeq == Seq("k2", "s"),
      s"torn RTAS must heal to the new schema, got ${out.columns.toSeq}")
    assert(out.as[(Long, String)].collect().toSet == Set((10L, "zz")))
    // ... and self-heals durably: sidecar installed, staged authority retired
    assert(!Files.exists(java.nio.file.Paths.get(root, stagedName)),
      "load must promote the staged DDL into the sidecar")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_ddl.json"))).contains("k2"))
    // subsequent loads (sidecar-authoritative path) agree
    assert(spark.table(t).columns.toSeq == Seq("k2", "s"))
    spark.sql(s"DROP TABLE $t")
  }

  test("CALL compact(partition => ...) rewrites ONLY the hot partition, carry-forward") {
    val t = freshTable("t_pcompact")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (100, 'q', 'y'), (101, 'r', 'y')") // v1
    for (i <- 2 to 5) spark.sql(s"INSERT INTO $t VALUES ($i, 'a$i', 'x')") // v2..v5: small files
    spark.sql(s"DELETE FROM $t WHERE k = 3 OR k = 100") // v6: DV masks one row per partition
    val before = rowsOf(t)
    spark.sql("CALL gcat.system.compact('db.t_pcompact', 1, 'x')").collect()
    assert(rowsOf(t) == before, "partition-scoped compact must be value-identical")
    val files = spark.sql(s"SELECT path FROM $t.files").collect().map(_.getString(0))
    val xs = files.filter(_.contains("p=x")); val ys = files.filter(_.contains("p=y"))
    assert(xs.length == 1, s"p=x must collapse to one file, got ${xs.toSeq}")
    assert(ys.nonEmpty && ys.forall(_.contains("v00000001")),
      s"p=y must stay in its ORIGINAL data version (zero rewrite), got ${ys.toSeq}")
    // the baked-out row stays gone and the carried DV keeps masking p=y's
    assert(!rowsOf(t).exists(r => r._1 == 3L || r._1 == 100L))
    spark.sql(s"DROP TABLE $t")
  }

  test("vacuum sweeps RTAS staged-DDL debris but keeps an unpromoted live authority") {
    val t = freshTable("t_ddlvac")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    val root = s"$wh/db/t_ddlvac"
    // debris: a staged DDL referenced by no manifest (crashed before commit)
    val junk = java.nio.file.Paths.get(root, ".ddl-junk.json")
    Files.write(junk, "{}".getBytes("UTF-8"))
    // live authority: staged DDL named by the newest manifest, unpromoted
    val newSchema = new org.apache.spark.sql.types.StructType()
      .add("k2", org.apache.spark.sql.types.LongType)
      .add("s", org.apache.spark.sql.types.StringType)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("schema", newSchema.json)
    node.putObject("props")
    val liveName = ".ddl-livetest.json"
    val live = java.nio.file.Paths.get(root, liveName)
    Files.write(live, m.writeValueAsBytes(node))
    import spark.implicits._
    ManifestTable.withDirective(s"#ddl\t$liveName") {
      ManifestTable.commit(Seq((10L, "zz")).toDF("k2", "s"), root, None,
        carryForward = false)
    }
    ManifestTable.vacuum(spark, root, retainVersions = 3)
    assert(!Files.exists(junk), "unreferenced staged DDL must be reclaimed")
    assert(Files.exists(live), "the newest #ddl authority must survive vacuum")
    // the heal still completes after the sweep
    assert(spark.table(t).columns.toSeq == Seq("k2", "s"))
    assert(!Files.exists(live), "load must still promote after vacuum")
    spark.sql(s"DROP TABLE $t")
  }

  test("an orphan staged DDL file at an id-less root blocks neither reads nor appends") {
    import spark.implicits._
    val root = Files.createTempDirectory("ddlorphan").toString + "/t"
    // debris of an RTAS that staged its DDL and crashed before its commit:
    // no manifest's #ddl directive names the file, and the root has no
    // _ddl.json, so the table is id-less and the file is not authority
    val orphan = java.nio.file.Paths.get(root, ".ddl-orphan.json")
    Files.createDirectories(orphan.getParent)
    Files.write(orphan, "{}".getBytes("UTF-8"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("s", org.apache.spark.sql.types.StringType)
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "s"), root, None)
    ManifestTable.append(Seq((2L, "b")).toDF("k", "s"), root, None)
    assert(ManifestTable.read(spark, root, schema).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(Files.exists(orphan), "only vacuum sweeps the debris")
  }

  test("CREATE OR REPLACE TABLE works on both missing and existing tables") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_corp")
    spark.sql("CREATE OR REPLACE TABLE gcat.db.t_corp AS SELECT 1L AS k")
    import spark.implicits._
    assert(spark.table("gcat.db.t_corp").as[Long].collect().toSeq == Seq(1L))
    spark.sql("CREATE OR REPLACE TABLE gcat.db.t_corp AS SELECT 2L AS k")
    assert(spark.table("gcat.db.t_corp").as[Long].collect().toSeq == Seq(2L))
    spark.sql("DROP TABLE gcat.db.t_corp")
  }

  // ------------- metadata-only aggregate pushdown (q190 seam) -------------

  private def aggTable(name: String): String = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS gcat.db.$name")
    spark.sql(
      s"""CREATE TABLE gcat.db.$name (k BIGINT, v STRING, p STRING)
         |PARTITIONED BY (p) TBLPROPERTIES ('statsCols'='k')""".stripMargin)
    s"gcat.db.$name"
  }

  test("compaction keeps the table's declared skipping columns on every rewritten file") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.t_keepcols")
    spark.sql(
      """CREATE TABLE gcat.db.t_keepcols (k BIGINT, v STRING, p STRING)
        |PARTITIONED BY (p) TBLPROPERTIES ('statsCols'='k', 'bloomCols'='v')""".stripMargin)
    val t = "gcat.db.t_keepcols"
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), " +
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END FROM range(0, 40)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), 'x' FROM range(40, 60)")
    def declaredOnEveryFile(what: String): Unit = {
      val files = spark.sql(s"SELECT zone_mins, bloom_cols FROM $t.files").collect()
      assert(files.nonEmpty && files.forall(r =>
        r.getMap[String, String](0).contains("k") && r.getSeq[String](1).contains("v")),
        s"$what: ${files.mkString("; ")}")
    }
    declaredOnEveryFile("insert")
    spark.sql("CALL gcat.system.compact(table => 'db.t_keepcols')")
    declaredOnEveryFile("compact")
    spark.sql(s"INSERT INTO $t VALUES (100, '100', 'x')")
    spark.sql("CALL gcat.system.compact(table => 'db.t_keepcols', partition => 'x')")
    declaredOnEveryFile("compact(partition)")
    spark.sql("CALL gcat.system.zorder(table => 'db.t_keepcols', columns => 'k', target_files => 2)")
    declaredOnEveryFile("zorder")
    assert(spark.table(t).count() == 61)
    // a point read on the Bloom column still prunes after the rewrites
    val root = s"$wh/db/t_keepcols"
    val (kept, total) = ManifestTable.pruneCounts(spark, root, Nil, points = Seq("v" -> "17"))
    assert(kept < total, s"$kept of $total files kept")
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("global COUNT(*)/MIN/MAX answer from metadata, no data scan") {
    val t = aggTable("agg1")
    spark.sql(s"INSERT INTO $t VALUES (5,'a','x'), (2,'b','y'), (9,'c','x'), (7,'d','y')")
    spark.sql(s"INSERT INTO $t VALUES (11,'e','x')") // second data version: bounds merge
    val df = spark.sql(s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM $t")
    val plan = planOf(df)
    assert(plan.contains("LocalTableScan"), s"expected metadata-only plan, got:\n$plan")
    assert(!plan.contains("GraftScan") && !plan.contains("Scan graft"),
      s"expected no data scan, got:\n$plan")
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (5L, 2L, 11L))
  }

  test("a deletion vector keeps COUNT(*) pushed but declines MIN/MAX") {
    val t = aggTable("agg2")
    spark.sql(s"INSERT INTO $t VALUES (5,'a','x'), (2,'b','y'), (9,'c','x'), (7,'d','y')")
    spark.sql(s"DELETE FROM $t WHERE k = 2") // DV commit: min row is masked
    val cdf = spark.sql(s"SELECT count(*) AS n FROM $t")
    assert(planOf(cdf).contains("LocalTableScan"),
      s"count(*) should stay metadata-only under a DV:\n${planOf(cdf)}")
    assert(cdf.collect()(0).getLong(0) == 3L)
    val mdf = spark.sql(s"SELECT min(k) AS mn FROM $t")
    assert(!planOf(mdf).contains("LocalTableScan"),
      s"min under a DV must scan (the zone bound is unattained):\n${planOf(mdf)}")
    assert(mdf.collect()(0).getLong(0) == 5L)
  }

  test("aggregate pushdown declines on filters, grouping, and uncovered columns") {
    val t = aggTable("agg3")
    spark.sql(s"INSERT INTO $t VALUES (5,'a','x'), (2,'b','y'), (9,'c','x')")
    for (sql <- Seq(
      s"SELECT count(*) AS n FROM $t WHERE p = 'x'", // residual filter
      s"SELECT p, count(*) AS n FROM $t GROUP BY p", // grouping
      s"SELECT min(v) AS mv FROM $t", // string: truncatable stats
      s"SELECT min(p) AS mp FROM $t", // partition column: no zones
      s"SELECT count(*) AS n, avg(k) AS a FROM $t")) { // unsupported agg
      assert(!planOf(spark.sql(sql)).contains("LocalTableScan"),
        s"should not push: $sql\n${planOf(spark.sql(sql))}")
    }
    // and the scan-backed answers stay right
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE p = 'x'")
      .collect()(0).getLong(0) == 2L)
    assert(spark.sql(s"SELECT min(v) AS mv FROM $t").collect()(0).getString(0) == "a")
  }

  test("empty and all-NULL tables push NULL bounds and zero counts") {
    val t = aggTable("agg4")
    val df = spark.sql(s"SELECT count(*) AS n, min(k) AS mn FROM $t")
    assert(planOf(df).contains("LocalTableScan"), planOf(df))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    spark.sql(s"INSERT INTO $t VALUES (CAST(NULL AS BIGINT),'a','x')")
    val r2 = spark.sql(s"SELECT count(*) AS n, max(k) AS mx FROM $t").collect()(0)
    assert(r2.getLong(0) == 1L && r2.isNullAt(1))
  }

  test("insert-only MERGE stays a pure append: no DV staged, pushdown alive") {
    val t = freshTable("t_insonly")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val root = s"$wh/db/t_insonly"
    def dvDirs: Set[String] = new java.io.File(root).listFiles()
      .map(_.getName).filter(n => n.startsWith("d") && n.drop(1).forall(_.isDigit)).toSet
    assert(dvDirs.isEmpty)
    spark.createDataFrame(Seq((5L, "e", "y"), (6L, "f", "x")))
      .toDF("k", "v", "p").createOrReplaceTempView("ins_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING ins_src src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rowsOf(t) == Set((1L, "a", "x"), (2L, "b", "y"), (5L, "e", "y"), (6L, "f", "x")))
    // no source row matched → zero delete positions → NO deletion vector is
    // written; a DV-free table stays DV-free so MIN/MAX pushdown survives
    assert(dvDirs.isEmpty,
      s"insert-only MERGE must not stage a deletion vector, found $dvDirs")
    // and on a table that already HAS a DV, an insert-only MERGE must not
    // rewrite the accumulated DV (no NEW d-dir beyond the existing ones)
    spark.sql(s"DELETE FROM $t WHERE k = 1")
    val dvAfterDelete = dvDirs
    assert(dvAfterDelete.size == 1)
    spark.createDataFrame(Seq((7L, "g", "x"))).toDF("k", "v", "p")
      .createOrReplaceTempView("ins_src2")
    spark.sql(
      s"""MERGE INTO $t tgt USING ins_src2 src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(dvDirs == dvAfterDelete,
      "insert-only MERGE must carry the existing DV pointer forward, not rewrite it")
    assert(rowsOf(t) == Set((2L, "b", "y"), (5L, "e", "y"), (6L, "f", "x"), (7L, "g", "x")))
  }

  // ----------------- field-id column renames (VERDICT r16 #6) -----------------

  test("RENAME COLUMN is metadata-only: old files resolve by field id") {
    import spark.implicits._
    val t = freshTable("fid1")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val root = s"$wh/db/fid1"
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    // metadata-only: no new manifest version, no data rewrite
    assert(ManifestTable.currentVersion(spark, root).get == vBefore)
    // pre-rename files' values surface under the NEW name
    assert(spark.table(t).select("k", "label").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    intercept[Exception] { spark.table(t).select("v").collect() }
    // post-rename inserts land under the new name; one read spans both
    // file generations (old files by id, new files by id)
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 'x')")
    assert(spark.table(t).select("k", "label").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("post-rename DML and compaction keep both file generations intact") {
    import spark.implicits._
    val t = freshTable("fid2")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, 'c', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    spark.sql(s"INSERT INTO $t VALUES (4, 'd', 'y')")
    // row-level UPDATE keyed on the renamed column, hitting an OLD file's row
    spark.sql(s"UPDATE $t SET label = 'B' WHERE label = 'b'")
    // metadata-only DELETE with a predicate on the renamed column
    spark.sql(s"DELETE FROM $t WHERE label = 'c'")
    // MERGE through the delta writer (staged files must round-trip by id)
    spark.createDataFrame(Seq((4L, "D", "y"), (5L, "e", "x")))
      .toDF("k", "label", "p").createOrReplaceTempView("fid2_src")
    spark.sql(
      s"""MERGE INTO $t tgt USING fid2_src src ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET label = src.label
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    def state: Set[(Long, String)] =
      spark.table(t).select("k", "label").as[(Long, String)].collect().toSet
    assert(state == Set((1L, "a"), (2L, "B"), (4L, "D"), (5L, "e")))
    // OPTIMIZE rewrites by id: mixed-generation files fold into one clean
    // version with every value intact (a by-name rewrite would NULL the
    // renamed column for pre-rename files — silent data loss)
    spark.sql(s"CALL gcat.system.compact(`table` => 'db.fid2')")
    assert(state == Set((1L, "a"), (2L, "B"), (4L, "D"), (5L, "e")))
  }

  test("time travel after a rename reads old versions under the NEW name") {
    import spark.implicits._
    val t = freshTable("fid3")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')") // v1
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y')") // v2
    // the rename applies retroactively (current schema, old data — the
    // Iceberg name-resolution rule): v1 reads under `label`
    assert(spark.sql(s"SELECT k, label FROM $t VERSION AS OF 1")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(spark.sql(s"SELECT k, label FROM $t VERSION AS OF 2")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("RENAME refuses pre-field-id tables, partition columns, and collisions") {
    val t = freshTable("fid4")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    // partition column: directory names embed it
    val e1 = intercept[Exception] { spark.sql(s"ALTER TABLE $t RENAME COLUMN p TO q") }
    assert(e1.getMessage.contains("partition"), e1.getMessage)
    // collision with an existing column (case-insensitive)
    val e2 = intercept[Exception] { spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO K") }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // a pre-field-id table (its files are un-annotated): loud refusal, not
    // a silent by-name read that would NULL old files
    val legacyRoot = s"$wh/db/fid_legacy"
    ManifestTable.commit(
      spark.createDataFrame(Seq((1L, "a", "x"))).toDF("k", "v", "p"),
      legacyRoot, Some(PartSpec.Identity("p")))
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE gcat.db.fid_legacy RENAME COLUMN v TO label")
    }
    assert(e3.getMessage.contains("field id"), e3.getMessage)
  }

  test("ADD COLUMN after a rename extends the id space; skipping keys follow") {
    import spark.implicits._
    val t = freshTable("fid5")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('statsCols' = 'v')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    // the statsCols property followed the rename (old sidecars simply stop
    // matching — unpruned, never wrong)
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("statsCols").contains("label"), props.toString)
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (extra BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y', 20)")
    assert(spark.table(t).select("k", "label", "extra")
      .as[(Long, String, Option[Long])].collect().toSet
      == Set((1L, "a", None), (2L, "b", Some(20L))))
    // and the new column is renamable in turn (it got a registered id)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN extra TO bonus")
    assert(spark.table(t).select("k", "bonus").as[(Long, Option[Long])]
      .collect().toSet == Set((1L, None), (2L, Some(20L))))
  }

  test("DROP COLUMN is metadata-only and a re-added same name NEVER resurrects") {
    import spark.implicits._
    val t = freshTable("fid7")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val root = s"$wh/db/fid7"
    val vBefore = ManifestTable.currentVersion(spark, root).get
    spark.sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(ManifestTable.currentVersion(spark, root).get == vBefore,
      "DROP COLUMN must not rewrite data")
    assert(spark.table(t).columns.toSeq == Seq("k", "p"))
    intercept[Exception] { spark.table(t).select("v").collect() }
    // re-ADD the SAME name: the old files still hold 'a'/'b' bytes under
    // column name `v`, but the new column has a FRESH field id — the
    // resurrection guard means every pre-existing row reads NULL
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (v STRING)")
    assert(spark.table(t).select("k", "v").as[(Long, Option[String])]
      .collect().toSet == Set((1L, None), (2L, None)),
      "a re-added same-name column must NOT resurrect dropped values")
    // and new writes to it round-trip normally
    spark.sql(s"INSERT INTO $t VALUES (3, 'z', 'c')")
    assert(spark.table(t).select("k", "v").as[(Long, Option[String])]
      .collect().toSet == Set((1L, None), (2L, None), (3L, Some("c"))))
    // guard rails: partition column and sole-column drops refuse
    intercept[Exception] { spark.sql(s"ALTER TABLE $t DROP COLUMN p") }
  }

  test("schema-less V1 loads of a renamed table read the declared schema") {
    import spark.implicits._
    val t = freshTable("fid8")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y')")
    // footer inference would union BOTH generations' column names (v AND
    // label, each half-NULL); the declared sidecar schema reads every
    // generation under the current names by id
    val df = spark.read.format("graft").load(s"$wh/db/fid8")
    assert(df.columns.toSeq == Seq("k", "label", "p"), df.columns.toSeq)
    assert(df.select("k", "label").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
  }

  test("ALTER COLUMN TYPE widens losslessly; old files promote at scan time") {
    import org.apache.spark.sql.types._
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.fid9")
    val t = "gcat.db.fid9"
    spark.sql(s"""CREATE TABLE $t (k INT, f FLOAT, d DECIMAL(5,2), p STRING)
                 |PARTITIONED BY (p)""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, CAST(1.5 AS FLOAT), CAST(9.75 AS DECIMAL(5,2)), 'x')")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(12,2)")
    assert(spark.table(t).schema("k").dataType == LongType)
    // post-widen inserts exceed the OLD types' ranges — one read spans both
    // file generations, the old one promoted by the reader
    spark.sql(s"INSERT INTO $t VALUES " +
      s"(${Long.MaxValue}, 1e100, CAST(1234567890.12 AS DECIMAL(12,2)), 'y')")
    val got = spark.table(t).select("k", "f", "d")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDecimal(2).toPlainString)).toSet
    assert(got == Set((1L, 1.5d, "9.75"), (Long.MaxValue, 1e100, "1234567890.12")), got)
    // refusals: narrowing back, and decimal growth that shrinks the
    // integer-digit room (the reader TOLERATES narrowing — silently
    // overflowing — which is exactly why the catalog is the safety gate)
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ALTER COLUMN k TYPE INT") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ALTER COLUMN d TYPE DECIMAL(12,6)") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE STRING") }
    // widening composes with field-id renames: old generation resolves by
    // id AND promotes to the widened type under the new name
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO kk")
    import spark.implicits._
    assert(spark.table(t).select("kk").as[Long].collect().toSet
      == Set(1L, Long.MaxValue))
    // PARTITION column widening: dir names are the value's string form, so
    // int dirs parse unchanged at the wider type; post-widen inserts land
    // values outside int range in NEW dirs
    spark.sql("DROP TABLE IF EXISTS gcat.db.fid9p")
    spark.sql("CREATE TABLE gcat.db.fid9p (v STRING, pk INT) PARTITIONED BY (pk)")
    spark.sql("INSERT INTO gcat.db.fid9p VALUES ('a', 5)")
    spark.sql("ALTER TABLE gcat.db.fid9p ALTER COLUMN pk TYPE BIGINT")
    spark.sql(s"INSERT INTO gcat.db.fid9p VALUES ('b', ${Long.MaxValue})")
    assert(spark.table("gcat.db.fid9p").select("v", "pk").as[(String, Long)]
      .collect().toSet == Set(("a", 5L), ("b", Long.MaxValue)))
    // and the partition filter still directory-prunes at the new type
    assert(spark.table("gcat.db.fid9p").filter(col("pk") === 5L)
      .select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("an out-of-band sidecar rename (another process) refreshes the id memo by stamp") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    val t = freshTable("fid10")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')") // warms FieldIds memo {v->id}
    val sidecar = new java.io.File(s"$wh/db/fid10/_ddl.json").toPath
    val originalBytes = JFiles.readAllBytes(sidecar)
    // capture the RENAMED sidecar, then restore the original so the memo
    // (re-warmed below) holds the PRE-rename mapping
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    val renamedBytes = JFiles.readAllBytes(sidecar)
    def installOutOfBand(bytes: Array[Byte]): Unit = {
      // byte-for-byte what a foreign process's GraftDdl.save does: a
      // Hadoop-FS temp write + rename (keeps the LocalFileSystem CRC
      // sidecar in sync), WITHOUT this process's FieldIds.invalidate hook
      val p = new org.apache.hadoop.fs.Path(sidecar.toString)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(p.getParent, "._ddl-oob.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(p, false)
      assert(fs.rename(tmp, p))
    }
    installOutOfBand(originalBytes)
    spark.sql(s"INSERT INTO $t VALUES (2, 'b', 'y')") // re-warms memo {v->id}
    assert(spark.table(t).select("k", "v").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    // the "other process" renames; the stale in-process memo still maps the
    // OLD name — a pure memo would write the next file with NO id for
    // `label` (and the later by-id read would fail loudly); the (mtime, len)
    // stamp must refresh it instead
    installOutOfBand(renamedBytes)
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 'x')")
    assert(spark.table(t).select("k", "label").as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("SHOW CREATE TABLE renders; column comments are sidecar metadata") {
    val t = freshTable("fid11")
    val ddl = spark.sql(s"SHOW CREATE TABLE $t").collect()(0).getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("PARTITIONED BY"), ddl)
    spark.sql(s"ALTER TABLE $t ALTER COLUMN v COMMENT 'the value column'")
    val desc = spark.sql(s"DESCRIBE TABLE $t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc.get("v").contains("the value column"), desc.toString)
    // the comment survives subsequent evolution (rename keeps metadata)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    val desc2 = spark.sql(s"DESCRIBE TABLE $t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc2.get("label").contains("the value column"), desc2.toString)
  }

  test("RTAS keeps shared columns' field ids; CTAS assigns fresh ones") {
    import spark.implicits._
    val t = freshTable("fid6")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    // RTAS with a shared column name: pre-REPLACE versions stay readable
    // under the same ids
    spark.sql(
      s"REPLACE TABLE $t USING graft AS SELECT k, label, p FROM $t WHERE k >= 1")
    assert(spark.table(t).select("k", "label").as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
    // and the replaced table's columns keep renaming cleanly
    spark.sql(s"ALTER TABLE $t RENAME COLUMN label TO tag")
    assert(spark.table(t).select("k", "tag").as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  // ------------- nested-field schema evolution (VERDICT r17 #1) ----------
  // The reference's document model is nested (current.condition.text —
  // reference src/process_insert_update_weather_data.py:87-90); these pin
  // the whole ALTER surface below top level: struct members, array
  // elements, map values, across file generations and time travel.

  private def nestedTable(name: String): String = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS gcat.db.$name")
    spark.sql(
      s"""CREATE TABLE gcat.db.$name (
         |  id BIGINT,
         |  cur STRUCT<cond: STRUCT<text: STRING, code: INT>, temp_c: DOUBLE>,
         |  tags ARRAY<STRUCT<name: STRING, conf: DOUBLE>>)""".stripMargin)
    s"gcat.db.$name"
  }

  test("nested RENAME spans file generations: struct member and array element") {
    import spark.implicits._
    val t = nestedTable("nest1")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('cond', named_struct('text','Sunny','code',1000),'temp_c',31.5)," +
      " array(named_struct('name','hot','conf',0.9)))")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN cur.cond.text TO description")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN tags.element.conf TO confidence")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2, named_struct('cond', named_struct('description','Rain','code',1063),'temp_c',22.0)," +
      " array(named_struct('name','wet','confidence',0.8)))")
    // both generations' values surface under the NEW names (by-id reads;
    // a by-name engine would NULL the pre-rename file's column)
    assert(spark.sql(s"SELECT id, cur.cond.description, tags[0].confidence " +
      s"FROM $t ORDER BY id").as[(Long, String, Double)].collect().toSeq
      == Seq((1L, "Sunny", 0.9), (2L, "Rain", 0.8)))
    // renames apply RETROACTIVELY under time travel (the r17 contract)
    assert(spark.sql(s"SELECT cur.cond.description FROM $t VERSION AS OF 1")
      .as[String].collect().toSeq == Seq("Sunny"))
  }

  test("nested ADD backfills NULL; nested DROP + re-add never resurrects") {
    import spark.implicits._
    val t = nestedTable("nest2")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('cond', named_struct('text','Sunny','code',1000),'temp_c',31.5)," +
      " array(named_struct('name','hot','conf',0.9)))")
    spark.sql(s"ALTER TABLE $t ADD COLUMN cur.humidity INT")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2, named_struct('cond', named_struct('text','Fog','code',1030),'temp_c',15.0,'humidity',97)," +
      " array(named_struct('name','grey','conf',0.5)))")
    assert(spark.sql(s"SELECT id, cur.humidity FROM $t ORDER BY id")
      .as[(Long, Option[Int])].collect().toSeq
      == Seq((1L, None), (2L, Some(97))))
    // drop + re-add the same nested name: the retired id never resurrects
    // the dropped files' values (they read NULL under the fresh id)
    spark.sql(s"ALTER TABLE $t DROP COLUMN cur.humidity")
    spark.sql(s"ALTER TABLE $t ADD COLUMN cur.humidity INT")
    assert(spark.sql(s"SELECT id, cur.humidity FROM $t ORDER BY id")
      .as[(Long, Option[Int])].collect().toSeq
      == Seq((1L, None), (2L, None)))
  }

  test("dropping a struct retires its whole id subtree") {
    import spark.implicits._
    val t = nestedTable("nest3")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('cond', named_struct('text','Sunny','code',1000),'temp_c',31.5)," +
      " array(named_struct('name','hot','conf',0.9)))")
    spark.sql(s"ALTER TABLE $t DROP COLUMN cur")
    // re-add a struct with the SAME nested names: every leaf got a fresh
    // id, so the dropped generation's values must stay dead at EVERY depth
    spark.sql(s"ALTER TABLE $t ADD COLUMN cur STRUCT<cond: STRUCT<text: STRING, code: INT>, temp_c: DOUBLE>")
    assert(spark.sql(s"SELECT id, cur.cond.text, cur.temp_c FROM $t")
      .as[(Long, Option[String], Option[Double])].collect().toSeq
      == Seq((1L, None, None)))
  }

  test("nested ALTER COLUMN TYPE widens losslessly; old files promote at scan") {
    import spark.implicits._
    val t = nestedTable("nest4")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, named_struct('cond', named_struct('text','Sunny','code',1000),'temp_c',31.5)," +
      " array(named_struct('name','hot','conf',0.9)))")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN cur.cond.code TYPE BIGINT")
    spark.sql(s"INSERT INTO $t VALUES " +
      "(2, named_struct('cond', named_struct('text','Rain','code',4294967296L),'temp_c',22.0)," +
      " array(named_struct('name','wet','conf',0.8)))")
    assert(spark.sql(s"SELECT id, cur.cond.code FROM $t ORDER BY id")
      .as[(Long, Long)].collect().toSeq
      == Seq((1L, 1000L), (2L, 4294967296L)))
    // a change outside the whitelist still refuses even when Spark's
    // analyzer would allow the upcast (long -> double re-interprets the
    // committed int64 bytes at the parquet layer)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN cur.cond.code TYPE DOUBLE")
    }
    assert(e.getMessage.contains("lossless"), e.getMessage)
  }

  test("nested rename/drop refuse at positions without field ids") {
    wh
    // a pre-field-id table (path-first commit, no sidecar): nested renames
    // must refuse as loudly as top-level ones — its files carry no ids at
    // ANY depth, so old files could not resolve the new name
    val root = s"$wh/db/nest_legacy"
    val df = spark.sql(
      "SELECT 1L AS id, named_struct('a', 1, 'b', 'x') AS s, 'p0' AS p")
    ManifestTable.commit(df, root, Some(PartSpec.Identity("p")))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE gcat.db.nest_legacy RENAME COLUMN s.a TO z")
    }
    assert(e.getMessage.contains("field id"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE gcat.db.nest_legacy DROP COLUMN s.a")
    }
    assert(e2.getMessage.contains("field id"), e2.getMessage)
  }

  test("legacy comma-format field-id sidecars (r17 tables) still parse and rename") {
    import spark.implicits._
    val t = freshTable("legfmt")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    // rewrite the sidecar's id map to the pre-r18 comma-joined form, as an
    // r17-created table would carry (out-of-band edit; the stamp-validated
    // memo picks it up)
    val sidecar = java.nio.file.Paths.get(s"$wh/db/legfmt/_ddl.json")
    val body = java.nio.file.Files.readString(sidecar)
    assert(body.contains("{\\\"k\\\":1"), body) // JSON form today
    val legacy = body.replace("{\\\"k\\\":1,\\\"v\\\":2,\\\"p\\\":3}", "k:1,v:2,p:3")
    assert(legacy != body, "substitution must hit")
    java.nio.file.Files.writeString(sidecar, legacy)
    // the NIO write bypassed hadoop's LocalFS checksum shadow — drop it
    java.nio.file.Files.deleteIfExists(
      sidecar.getParent.resolve("._ddl.json.crc"))
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    assert(spark.table(t).select("k", "label").as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  test("RENAME COLUMN follows the mergeKey property (ADVICE r17)") {
    val t = freshTable("mkren")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('mergeKey' = 'k')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a', 'x')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO kid")
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("mergeKey").contains("kid"), props.toString)
  }

  test("dotted column names refuse at CREATE, ADD and RENAME (path safety)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.dotty")
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.db.dotty (`a.b` INT, c STRING)")
    }
    assert(e1.getMessage.contains("may not contain"), e1.getMessage)
    val t = freshTable("dotty2")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (`x.y` INT)")
    }
    assert(e2.getMessage.contains("may not contain"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO `v.2`")
    }
    assert(e3.getMessage.contains("may not contain"), e3.getMessage)
  }

  test("map-value rename and array-element ADD evolve by id too") {
    import spark.implicits._
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.nest6")
    spark.sql("""CREATE TABLE gcat.db.nest6 (
      id BIGINT,
      m MAP<STRING, STRUCT<v: INT>>,
      tags ARRAY<STRUCT<name: STRING>>)""")
    spark.sql("INSERT INTO gcat.db.nest6 VALUES " +
      "(1, map('a', named_struct('v', 7)), array(named_struct('name', 'x')))")
    spark.sql("ALTER TABLE gcat.db.nest6 RENAME COLUMN m.value.v TO score")
    spark.sql("ALTER TABLE gcat.db.nest6 ADD COLUMN tags.element.w INT")
    spark.sql("INSERT INTO gcat.db.nest6 VALUES " +
      "(2, map('b', named_struct('score', 8)), array(named_struct('name', 'y', 'w', 3)))")
    // gen-1's map value resolves under the new name BY ID; gen-1's array
    // elements backfill NULL for the added member
    assert(spark.sql("SELECT id, m[CASE WHEN id = 1 THEN 'a' ELSE 'b' END].score, " +
      "tags[0].w FROM gcat.db.nest6 ORDER BY id")
      .as[(Long, Option[Int], Option[Int])].collect().toSeq
      == Seq((1L, Some(7), None), (2L, Some(8), Some(3))))
  }

  test("CALL rebuild_index drops the delete mask and re-stamps #basedOn") {
    wh
    import graft.llm.SimSearch
    import org.apache.spark.sql.functions.{array, broadcast, lit, pmod}
    spark.sql("DROP TABLE IF EXISTS gcat.db.acorp")
    spark.sql("DROP TABLE IF EXISTS gcat.db.aidx")
    val emb = spark.range(0, 256).select(col("id").as("vec_id"),
      array((0 until 4).map(j =>
        (pmod(col("id") * (j + 3), lit(17)) + lit(j)).cast("float")): _*)
        .as("embedding"))
    spark.sql("CREATE TABLE gcat.db.acorp (vec_id BIGINT, embedding ARRAY<FLOAT>)")
    emb.createOrReplaceTempView("ac_src")
    spark.sql("INSERT INTO gcat.db.acorp SELECT * FROM ac_src")
    val corpusRoot = s"$wh/db/acorp"; val idxRoot = s"$wh/db/aidx"
    val cents = SimSearch.trainCentroids(emb, centroidStride = 32, iters = 1)
    spark.sql("""CREATE TABLE gcat.db.aidx (
      vec_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>)
      TBLPROPERTIES ('statsCols' = 'cell', 'bloomCols' = 'cell')""")
    val corpusV = ManifestTable.currentVersion(spark, corpusRoot).get
    ManifestTable.withBasedOn(corpusV) {
      ManifestTable.commit(
        emb.join(SimSearch.assignCells(emb, cents), Seq("vec_id"))
          .select(col("vec_id"), col("cell"), col("embedding"))
          .repartitionByRange(4, col("cell"), col("vec_id")),
        idxRoot, None, carryForward = false,
        statsCols = Seq("cell"), bloomCols = Seq("cell"))
    }
    spark.sql("DELETE FROM gcat.db.acorp WHERE vec_id % 5 = 2")
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // pre-rebuild: the q194 shape — anti-join mask over deletions since
    // the index's #basedOn corpus version
    val dead = ManifestTable.deletedKeysSince(spark, corpusRoot,
      spark.table("gcat.db.acorp").schema, Seq("vec_id"), corpusV)
    val before = SimSearch.ivfTopKStored(q,
      spark.table("gcat.db.aidx").join(broadcast(dead), Seq("vec_id"), "left_anti"),
      cents, 3, nprobe = 2).collect().toSeq
    // a gauge under threshold refuses (pure metadata, no rewrite)
    val skip = spark.sql("""CALL gcat.system.rebuild_index(index => 'db.aidx',
      corpus => 'db.acorp', key => 'vec_id', threshold => 0.9,
      cluster_by => 'cell')""").collect()(0)
    assert(!skip.getBoolean(0) && skip.getDouble(1) > 0.1, skip.toString)
    // over threshold: rewrite to survivors, re-stamp #basedOn
    val res = spark.sql("""CALL gcat.system.rebuild_index(index => 'db.aidx',
      corpus => 'db.acorp', key => 'vec_id', threshold => 0.1,
      cluster_by => 'cell')""").collect()(0)
    assert(res.getBoolean(0), res.toString)
    // post-rebuild: NO mask needed — results identical
    val after = SimSearch.ivfTopKStored(q, spark.table("gcat.db.aidx"),
      cents, 3, nprobe = 2).collect().toSeq
    assert(after.sortBy(_.toString) == before.sortBy(_.toString),
      s"before=$before after=$after")
    // deleted keys are physically gone from the new snapshot
    assert(spark.table("gcat.db.aidx")
      .filter(pmod(col("vec_id"), lit(5)) === 2).count() == 0)
    // the re-stamped base makes the next gauge read zero churn
    val again = spark.sql("""CALL gcat.system.rebuild_index(index => 'db.aidx',
      corpus => 'db.acorp', key => 'vec_id', threshold => 0.0,
      cluster_by => 'cell')""").collect()(0)
    assert(!again.getBoolean(0) && again.getDouble(1) == 0.0, again.toString)
    assert(ManifestTable.basedOnVersion(spark, idxRoot)
      .contains(ManifestTable.currentVersion(spark, corpusRoot).get))
  }

  test("#basedOn survives incremental index appends; nested renames carry statsCols") {
    import spark.implicits._
    wh
    // 1) an APPEND between rebuilds must not clobber the base pointer:
    //    newest-DIRECTIVE-wins, not newest-manifest-wins
    val root = s"$wh/db/bo_idx"
    ManifestTable.withBasedOn(7L) {
      ManifestTable.commit(Seq((1L, 10L)).toDF("vec_id", "cell"), root, None)
    }
    ManifestTable.append(Seq((2L, 11L)).toDF("vec_id", "cell"), root, None)
    ManifestTable.append(Seq((3L, 12L)).toDF("vec_id", "cell"), root, None)
    assert(ManifestTable.basedOnVersion(spark, root).contains(7L))
    ManifestTable.withBasedOn(9L) {
      ManifestTable.commit(Seq((1L, 10L)).toDF("vec_id", "cell"), root, None,
        carryForward = false)
    }
    assert(ManifestTable.basedOnVersion(spark, root).contains(9L))
    // 2) skipping-column properties follow a NESTED rename by path prefix
    spark.sql("DROP TABLE IF EXISTS gcat.db.nest7")
    spark.sql("CREATE TABLE gcat.db.nest7 (id BIGINT, s STRUCT<a: STRUCT<k: BIGINT>>) " +
      "TBLPROPERTIES ('statsCols' = 's.a.k', 'bloomCols' = 's.a.k,id')")
    spark.sql("ALTER TABLE gcat.db.nest7 RENAME COLUMN s.a TO b")
    val props = spark.sql("SHOW TBLPROPERTIES gcat.db.nest7").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("statsCols").contains("s.b.k"), props.toString)
    assert(props.get("bloomCols").contains("s.b.k,id"), props.toString)
    // ... and a nested DROP removes the dotted subtree from the lists
    spark.sql("ALTER TABLE gcat.db.nest7 ADD COLUMN s.c BIGINT")
    spark.sql("ALTER TABLE gcat.db.nest7 DROP COLUMN s.b")
    val props2 = spark.sql("SHOW TBLPROPERTIES gcat.db.nest7").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!props2.contains("statsCols"), props2.toString)
    assert(props2.get("bloomCols").contains("id"), props2.toString)
  }

  test("cannot drop the only field of a struct (parquet groups cannot be empty)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gcat.db.nest5")
    spark.sql("CREATE TABLE gcat.db.nest5 (id BIGINT, s STRUCT<only: INT>)")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gcat.db.nest5 DROP COLUMN s.only")
    }
    assert(e.getMessage.contains("only field"), e.getMessage)
    // dropping the struct itself is the documented way out
    spark.sql("ALTER TABLE gcat.db.nest5 DROP COLUMN s")
    assert(spark.table("gcat.db.nest5").schema.fieldNames.toSeq == Seq("id"))
  }
}
