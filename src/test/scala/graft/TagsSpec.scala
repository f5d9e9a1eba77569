package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, ManifestTable}

/** Snapshot tags (named, vacuum-proof version pins) + the `tags` /
  * `partitions` metadata tables: `VERSION AS OF '<name>'` resolution,
  * tag-aware vacuum retention, re-tag/drop lifecycle, and the path-first
  * (sidecar-less) API surface.
  */
class TagsSpec extends SparkSuite {

  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-tag-wh").toString
    spark.conf.set("spark.sql.catalog.gtag", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtag.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtag.db")
    dir
  }

  test("create_tag pins, VERSION AS OF resolves by name, re-tag moves, drop_tag removes") {
    wh
    spark.sql("DROP TABLE IF EXISTS gtag.db.t1")
    spark.sql("CREATE TABLE gtag.db.t1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtag.db.t1 VALUES (1, 'a')")
    val out = spark.sql("CALL gtag.system.create_tag('db.t1', 'baseline')").collect()
    assert(out.head.getString(0) == "baseline" && out.head.getLong(1) == 1L)
    spark.sql("INSERT INTO gtag.db.t1 VALUES (2, 'b')")
    assert(spark.sql("SELECT * FROM gtag.db.t1 VERSION AS OF 'baseline'").count() == 1)
    assert(spark.table("gtag.db.t1").count() == 2)
    // explicit version arg + re-tag moves the pin
    spark.sql("CALL gtag.system.create_tag('db.t1', 'baseline', 2)")
    assert(spark.sql("SELECT * FROM gtag.db.t1 VERSION AS OF 'baseline'").count() == 2)
    // metadata table lists it
    val tags = spark.table("gtag.db.t1.tags").as[(String, Long)].collect().toMap
    assert(tags == Map("baseline" -> 2L))
    assert(spark.sql("CALL gtag.system.drop_tag('db.t1', 'baseline')")
      .collect().head.getBoolean(0))
    assert(spark.table("gtag.db.t1.tags").count() == 0)
    // unknown tags fail loudly, listing the known set
    spark.sql("CALL gtag.system.create_tag('db.t1', 'known')")
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM gtag.db.t1 VERSION AS OF 'nope'").collect())
    assert(ex.getMessage.contains("known"))
  }

  test("numeric tag names and missing versions are refused") {
    wh
    spark.sql("DROP TABLE IF EXISTS gtag.db.t2")
    spark.sql("CREATE TABLE gtag.db.t2 (k BIGINT)")
    spark.sql("INSERT INTO gtag.db.t2 VALUES (1)")
    intercept[Exception](
      spark.sql("CALL gtag.system.create_tag('db.t2', '42')").collect())
    // '-5' is number-shaped too: VERSION AS OF resolves numbers before
    // tags, so it would be permanently unreachable (ADVICE r18)
    intercept[Exception](
      spark.sql("CALL gtag.system.create_tag('db.t2', '-5')").collect())
    intercept[Exception](
      spark.sql("CALL gtag.system.create_tag('db.t2', 'ghost', 99)").collect())
  }

  test("vacuum never reclaims a tagged snapshot; untagged history goes") {
    wh
    spark.sql("DROP TABLE IF EXISTS gtag.db.t3")
    spark.sql("CREATE TABLE gtag.db.t3 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gtag.db.t3 VALUES (1, 'a')") // v1
    spark.sql("CALL gtag.system.create_tag('db.t3', 'gen1')")
    spark.sql("INSERT OVERWRITE gtag.db.t3 VALUES (2, 'b')") // v2 (snapshot!)
    spark.sql("INSERT OVERWRITE gtag.db.t3 VALUES (3, 'c')") // v3
    spark.sql("CALL gtag.system.vacuum('db.t3', 0)")
    // v2's manifest AND data are gone (snapshot overwrite, unreferenced)...
    val gone2 = intercept[IllegalStateException](
      spark.sql("SELECT * FROM gtag.db.t3 VERSION AS OF 2").collect())
    assert(gone2.getMessage.contains("has no version 2 on disk (vacuumed or never committed)"),
      gone2.getMessage)
    // ...but the tagged v1 still answers, data intact
    assert(spark.sql("SELECT v FROM gtag.db.t3 VERSION AS OF 'gen1'")
      .as[String].collect().toSeq == Seq("a"))
    assert(spark.table("gtag.db.t3").as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // history shows exactly the retained manifests
    val vs = spark.table("gtag.db.t3.history").select("version")
      .as[Long].collect().toSet
    assert(vs == Set(1L, 3L), vs.mkString(","))
    // dropping the tag releases it: the next vacuum reclaims v1
    spark.sql("CALL gtag.system.drop_tag('db.t3', 'gen1')")
    spark.sql("CALL gtag.system.vacuum('db.t3', 0)")
    val gone1 = intercept[IllegalStateException](
      spark.sql("SELECT * FROM gtag.db.t3 VERSION AS OF 1").collect())
    assert(gone1.getMessage.contains("has no version 1 on disk (vacuumed or never committed)"),
      gone1.getMessage)
  }

  test("path-first tables tag through the ManifestTable API") {
    val root = Files.createTempDirectory("graft-tag-path").toString + "/t"
    val df1 = Seq((1L, "a")).toDF("k", "v")
    ManifestTable.commit(df1, root, None)
    ManifestTable.setTag(spark, root, "first")
    ManifestTable.commit(Seq((2L, "b")).toDF("k", "v"), root, None)
    ManifestTable.vacuum(spark, root, retainVersions = 0)
    val sch = df1.schema
    assert(ManifestTable.read(spark, root, sch, Some(1L)).count() == 1)
    assert(ManifestTable.tags(spark, root) == Map("first" -> 1L))
    // the V1 front door resolves the tag too
    assert(spark.read.format("graft").option("versionAsOf", "first")
      .load(root).count() == 1)
    intercept[Exception](spark.read.format("graft")
      .option("versionAsOf", "nope").load(root).count())
    assert(ManifestTable.deleteTag(spark, root, "first"))
    assert(!ManifestTable.deleteTag(spark, root, "first"))
  }

  test("partitions metadata table reports per-dir layout, spec, and mixed state") {
    wh
    spark.sql("DROP TABLE IF EXISTS gtag.db.t4")
    spark.sql("""CREATE TABLE gtag.db.t4 (k BIGINT, p STRING)
      PARTITIONED BY (p)""")
    spark.sql("INSERT INTO gtag.db.t4 VALUES (1, 'x'), (2, 'y')")
    spark.sql("CALL gtag.system.set_partitioning('db.t4', 'bucket(4, k)')")
    spark.sql("INSERT INTO gtag.db.t4 VALUES (3, 'z')")
    val parts = spark.table("gtag.db.t4.partitions")
      .select("partition", "spec").as[(String, String)].collect().toMap
    assert(parts("p=x") == "p" && parts("p=y") == "p")
    assert(parts.keys.exists(_.startsWith("k_bucket=")))
    assert(parts.collect { case (d, s) if d.startsWith("k_bucket=") => s }
      .forall(_ == "bucket(4,k)"))
    val counts = spark.table("gtag.db.t4.partitions")
      .agg(sum("files"), sum("bytes")).collect().head
    assert(counts.getLong(0) >= 3 && counts.getLong(1) > 0)
  }
}
