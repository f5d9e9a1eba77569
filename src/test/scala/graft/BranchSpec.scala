package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, ManifestTable}

/** Branches + write-audit-publish: branch writes isolate from main,
  * `VERSION AS OF '<branch>'` audits the branch head, `fast_forward`
  * publishes metadata-only (refused on divergence), vacuum pins branch
  * heads, and main keeps committing while a branch is ahead (shared
  * manifest log, per-ref heads).
  */
class BranchSpec extends SparkSuite {

  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-br-wh").toString
    spark.conf.set("spark.sql.catalog.gbr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbr.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbr.db")
    dir
  }

  private def rootOf(name: String): String = { wh; s"$wh/db/$name" }

  test("WAP: branch writes isolate, audit reads the branch, fast-forward publishes") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t1")
    spark.sql("""CREATE TABLE gbr.db.t1 (k BIGINT, v STRING)
      TBLPROPERTIES ('graft.check.kpos' = 'k > 0')""")
    spark.sql("INSERT INTO gbr.db.t1 VALUES (1, 'a')")
    val out = spark.sql("CALL gbr.system.create_branch('db.t1', 'audit')").collect()
    assert(out.head.getString(0) == "audit" && out.head.getLong(1) == 1L)
    // stage two commits on the branch — CHECK constraints still enforce
    ManifestTable.onBranch("audit") {
      spark.sql("INSERT INTO gbr.db.t1 VALUES (2, 'b')")
      spark.sql("INSERT INTO gbr.db.t1 VALUES (3, 'c')")
      intercept[Exception](
        spark.sql("INSERT INTO gbr.db.t1 VALUES (-9, 'bad')"))
      // reads inside the scope audit the branch
      assert(spark.table("gbr.db.t1").count() == 3)
    }
    // main untouched; the branch audits by name from outside too
    assert(spark.table("gbr.db.t1").count() == 1)
    assert(spark.sql("SELECT * FROM gbr.db.t1 VERSION AS OF 'audit'").count() == 3)
    // time travel by number is intact across lineages
    assert(spark.sql("SELECT * FROM gbr.db.t1 VERSION AS OF 1").count() == 1)
    // metadata table lists the refs
    val brs = spark.table("gbr.db.t1.branches").as[(String, Long)].collect().toMap
    assert(brs.keySet == Set("main", "audit") && brs("audit") > brs("main"), brs)
    // audit passed -> publish
    val ff = spark.sql("CALL gbr.system.fast_forward('db.t1', 'audit')").collect()
    assert(ff.head.getLong(0) == brs("audit"))
    assert(spark.table("gbr.db.t1").count() == 3)
    // main keeps committing after the publish
    spark.sql("INSERT INTO gbr.db.t1 VALUES (4, 'd')")
    assert(spark.table("gbr.db.t1").count() == 4)
  }

  test("fast-forward refuses a diverged main; main commits slide past branch numbers") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t2")
    spark.sql("CREATE TABLE gbr.db.t2 (k BIGINT)")
    spark.sql("INSERT INTO gbr.db.t2 VALUES (1)")
    spark.sql("CALL gbr.system.create_branch('db.t2', 'wip')")
    ManifestTable.onBranch("wip") {
      spark.sql("INSERT INTO gbr.db.t2 VALUES (2)") // takes version 2
    }
    // main commits WHILE the branch is ahead: must slide to a free number
    spark.sql("INSERT INTO gbr.db.t2 VALUES (10)")
    assert(spark.table("gbr.db.t2").as[Long].collect().toSet == Set(1L, 10L))
    ManifestTable.onBranch("wip") {
      assert(spark.table("gbr.db.t2").as[Long].collect().toSet == Set(1L, 2L))
    }
    // main diverged -> fast-forward refuses with the divergence story
    val ex = intercept[Exception](
      spark.sql("CALL gbr.system.fast_forward('db.t2', 'wip')").collect())
    assert(ex.getMessage.contains("not an ancestor"), ex.getMessage)
  }

  test("branch DML (UPDATE/MERGE) stays on the branch; drop_branch releases it") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t3")
    spark.sql("CREATE TABLE gbr.db.t3 (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gbr.db.t3 VALUES (1, 1.0), (2, 2.0)")
    spark.sql("CALL gbr.system.create_branch('db.t3', 'fix')")
    ManifestTable.onBranch("fix") {
      spark.sql("UPDATE gbr.db.t3 SET v = -1.0 WHERE k = 1")
      spark.sql("""MERGE INTO gbr.db.t3 t USING (SELECT 3L AS k, 3.0 AS v) s
        ON t.k = s.k WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.table("gbr.db.t3").count() == 3)
    }
    assert(spark.table("gbr.db.t3").orderBy("k").as[(Long, Double)].collect().toSeq
      == Seq((1L, 1.0), (2L, 2.0)))
    assert(spark.sql("SELECT sum(v) FROM gbr.db.t3 VERSION AS OF 'fix'")
      .as[Double].head() == 4.0)
    assert(spark.sql("CALL gbr.system.drop_branch('db.t3', 'fix')")
      .collect().head.getBoolean(0))
    intercept[Exception](
      spark.sql("SELECT * FROM gbr.db.t3 VERSION AS OF 'fix'").count())
    // main still writable after the drop
    spark.sql("INSERT INTO gbr.db.t3 VALUES (9, 9.0)")
    assert(spark.table("gbr.db.t3").count() == 3)
  }

  test("vacuum pins branch heads; dropped branches become reclaimable") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t4")
    spark.sql("CREATE TABLE gbr.db.t4 (k BIGINT)")
    spark.sql("INSERT INTO gbr.db.t4 VALUES (1)")
    spark.sql("CALL gbr.system.create_branch('db.t4', 'keepme')")
    ManifestTable.onBranch("keepme") {
      spark.sql("INSERT INTO gbr.db.t4 VALUES (2)")
    }
    // advance main well past the fork, then vacuum the whole window
    (10L to 13L).foreach(i => spark.sql(s"INSERT INTO gbr.db.t4 VALUES ($i)"))
    spark.sql("CALL gbr.system.vacuum('db.t4', 0)")
    // the branch head survived the vacuum and still reads
    assert(spark.sql("SELECT * FROM gbr.db.t4 VERSION AS OF 'keepme'")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.table("gbr.db.t4").count() == 5)
    // released branches vacuum away
    spark.sql("CALL gbr.system.drop_branch('db.t4', 'keepme')")
    spark.sql("CALL gbr.system.vacuum('db.t4', 0)")
    val manifests = new java.io.File(rootOf("t4")).listFiles()
      .map(_.getName).filter(_.startsWith("_manifest.")).toSeq
    assert(manifests.size == 1, s"only the main head should remain: $manifests")
  }

  test("branch/tag namespace guards and the V1 front door resolve branches") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t5")
    spark.sql("CREATE TABLE gbr.db.t5 (k BIGINT)")
    spark.sql("INSERT INTO gbr.db.t5 VALUES (1)")
    spark.sql("CALL gbr.system.create_tag('db.t5', 'pinned')")
    intercept[Exception]( // tag name collision refused
      spark.sql("CALL gbr.system.create_branch('db.t5', 'pinned')").collect())
    spark.sql("CALL gbr.system.create_branch('db.t5', 'dev')")
    intercept[Exception]( // and the reverse
      spark.sql("CALL gbr.system.create_tag('db.t5', 'dev')").collect())
    intercept[Exception]( // numeric / dotted names refused
      spark.sql("CALL gbr.system.create_branch('db.t5', '-3')").collect())
    ManifestTable.onBranch("dev") {
      spark.sql("INSERT INTO gbr.db.t5 VALUES (2)")
    }
    // path-addressed read of a branch head
    val viaPath = spark.read.format("graft").option("versionAsOf", "dev")
      .load(rootOf("t5"))
    assert(viaPath.count() == 2)
    // writing inside a scope for a branch that does not exist fails loudly
    val ex = intercept[Exception](ManifestTable.onBranch("ghost") {
      spark.sql("INSERT INTO gbr.db.t5 VALUES (3)")
    })
    assert(ex.getMessage.contains("no such branch"), ex.getMessage)
  }

  test("change feed across a fast-forward chains; cross-lineage windows refuse") {
    wh
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.sql("DROP TABLE IF EXISTS gbr.db.t7")
    spark.sql("CREATE TABLE gbr.db.t7 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gbr.db.t7 VALUES (1, 'a')") // v1 = main head
    val root = rootOf("t7")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    spark.sql("CALL gbr.system.create_branch('db.t7', 'wip')")
    ManifestTable.onBranch("wip") {
      spark.sql("INSERT INTO gbr.db.t7 VALUES (2, 'b')") // v2, parent 1, ref wip
    }
    spark.sql("INSERT INTO gbr.db.t7 VALUES (3, 'c')") // v3, parent 1, ref main
    // a consumer at main's head sequence: (1, 3) chains via #parent — valid
    val mainFeed = ManifestTable.changes(spark, root, schema, Seq("k"), 1L, 3L)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(mainFeed == Set(("insert", 3L)), mainFeed)
    // raw numeric window across the two lineages: refused loudly (the old
    // behavior silently diffed two unrelated snapshots — branch row
    // reported deleted, main row inserted)
    val ex = intercept[IllegalStateException](
      ManifestTable.changes(spark, root, schema, Seq("k"), 2L, 3L).collect())
    assert(ex.getMessage.contains("not an ancestor"), ex.getMessage)
    // fast-forward re-enters the branch lineage: refused while main has
    // its own commit, valid after branching from the merged state
    spark.sql("CALL gbr.system.create_branch('db.t7', 'wip2')")
    ManifestTable.onBranch("wip2") {
      spark.sql("INSERT INTO gbr.db.t7 VALUES (4, 'd')") // v4, parent 3
    }
    val before = ManifestTable.refs(spark, root)("main")
    spark.sql("CALL gbr.system.fast_forward('db.t7', 'wip2')")
    val after = ManifestTable.refs(spark, root)("main")
    // the consumer's (previous head, new head) window stays valid across
    // the fast-forward — no re-seed
    val ffFeed = ManifestTable.changes(spark, root, schema, Seq("k"), before, after)
      .select("_change_type", "k").as[(String, Long)].collect().toSet
    assert(ffFeed == Set(("insert", 4L)), ffFeed)
  }

  test("a published-but-unmarked same-ref commit is adopted, not forked (ADVICE r19)") {
    wh
    spark.sql("DROP TABLE IF EXISTS gbr.db.t6")
    spark.sql("CREATE TABLE gbr.db.t6 (k BIGINT)")
    spark.sql("INSERT INTO gbr.db.t6 VALUES (1)")
    spark.sql("CALL gbr.system.create_branch('db.t6', 'wip')")
    val root = rootOf("t6")
    ManifestTable.onBranch("wip") {
      spark.sql("INSERT INTO gbr.db.t6 VALUES (2)")
    }
    // Simulate a writer paused (or crashed) inside its publish→refMark
    // window: the manifest — stamped #ref/#parent atomically with its
    // rename — is on disk, the ref marker is not. Deleting the marker
    // reproduces that filesystem state exactly.
    val head = ManifestTable.refs(spark, root)("wip")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(rootP,
      f"_ref.wip.$head%08d"), false))
    assert(ManifestTable.refs(spark, root)("wip") < head) // window simulated
    // A second same-ref writer resolves the STALE marked head as its base;
    // without the #ref-chain walk it would slide to a fresh number and
    // publish a SIBLING — the paused writer's row would vanish from the
    // head once both markers land. It must rebase on (adopt) the
    // unmarked manifest instead.
    ManifestTable.onBranch("wip") {
      spark.sql("INSERT INTO gbr.db.t6 VALUES (3)")
      assert(spark.table("gbr.db.t6").as[Long].collect().toSet ==
        Set(1L, 2L, 3L))
    }
    assert(spark.sql("SELECT * FROM gbr.db.t6 VERSION AS OF 'wip'")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    // main never adopts the branch's manifests (same fork point, foreign
    // #ref): its own append stays sibling-free of the wip lineage
    spark.sql("INSERT INTO gbr.db.t6 VALUES (10)")
    assert(spark.table("gbr.db.t6").as[Long].collect().toSet == Set(1L, 10L))
  }
}
