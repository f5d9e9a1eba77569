package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog

/** Manifest-backed scan statistics (`SupportsReportStatistics`): Catalyst's
  * join planning sees the PRUNED byte size of a catalog scan instead of the
  * DSv2 unknown-size default, so a selective slice of a large table
  * auto-broadcasts while the full table does not.
  */
class ScanStatsSpec extends SparkSuite {

  /** A session that never installed the graft optimizer rules: the scan
    * reports its statistics to the plan by itself.
    */
  private lazy val ss: org.apache.spark.sql.SparkSession = spark.newSession()

  // plans resolve and estimate under the ACTIVE session's conf
  override def withFixture(test: NoArgTest) = {
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(ss)
    try super.withFixture(test)
    finally prev.fold(org.apache.spark.sql.SparkSession.clearActiveSession())(
      org.apache.spark.sql.SparkSession.setActiveSession)
  }

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-stat-wh").toString
    assert(ss.experimental.extraOptimizations.isEmpty)
    ss.conf.set("spark.sql.catalog.gstat", classOf[GraftCatalog].getName)
    ss.conf.set("spark.sql.catalog.gstat.warehouse", dir)
    ss.sql("CREATE NAMESPACE IF NOT EXISTS gstat.db")
    dir
  }

  private def scanRowCount(df: org.apache.spark.sql.DataFrame): Option[BigInt] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.stats.rowCount
    }.flatten

  private def bytesOnDisk(name: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    walk(new java.io.File(s"$wh/db/$name"))
  }

  test("logical plan stats report on-disk bytes, not the unknown-size default") {
    wh
    import ss.implicits._
    ss.sql("DROP TABLE IF EXISTS gstat.db.s1")
    // optimizeWrite=false keeps one file per (task x dir): the zone-range
    // leg needs several files per partition with distinct k ranges
    ss.sql("""CREATE TABLE gstat.db.s1 (k BIGINT, v STRING, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('statsCols' = 'k',
        'graft.optimizeWrite' = 'false')""")
    (0L until 10000L).map(i => (i, "v" * 20 + i, s"p${i % 4}")).toDF("k", "v", "p")
      .createOrReplaceTempView("s1_src")
    ss.sql("INSERT INTO gstat.db.s1 SELECT * FROM s1_src")
    val full = ss.table("gstat.db.s1").queryExecution.optimizedPlan.stats
      .sizeInBytes.toLong
    val disk = bytesOnDisk("s1")
    assert(full >= disk / 2 && full <= disk * 2,
      s"full-scan stats $full should track on-disk bytes $disk")
    // a partition-point predicate shrinks the estimate to the pruned slice
    val sliced = ss.table("gstat.db.s1").filter(col("p") === "p1")
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(sliced <= full / 2, s"pruned stats $sliced should be well under $full")
    // a zone-pruned key range shrinks it too
    val ranged = ss.table("gstat.db.s1").filter(col("k") < 100L)
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(ranged < full, s"range-pruned stats $ranged should be under $full")
  }

  test("join planning: the pruned slice broadcasts, the full table sort-merges") {
    wh
    import ss.implicits._
    ss.sql("DROP TABLE IF EXISTS gstat.db.big")
    ss.sql("""CREATE TABLE gstat.db.big (k BIGINT, v STRING, p STRING)
      PARTITIONED BY (p)""")
    (0L until 20000L).map(i => (i, "w" * 30 + i, s"p${i % 8}")).toDF("k", "v", "p")
      .createOrReplaceTempView("big_src")
    ss.sql("INSERT INTO gstat.db.big SELECT * FROM big_src")
    val other = (0L until 20000L).map(i => (i, i * 2)).toDF("k", "x")
    val threshold = bytesOnDisk("big") / 4 // slice (1/8) is under, table is over
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      val slice = ss.table("gstat.db.big").filter(col("p") === "p3")
      val sliceJoin = other.join(slice, "k").queryExecution.sparkPlan.toString
      assert(sliceJoin.contains("BroadcastHashJoin"),
        s"pruned slice should auto-broadcast:\n$sliceJoin")
      val fullJoin = other.join(ss.table("gstat.db.big"), "k")
        .queryExecution.sparkPlan.toString
      assert(!fullJoin.contains("BroadcastHashJoin"),
        s"full table over threshold must not broadcast:\n$fullJoin")
    }
  }

  test("scan statistics report pruned row counts when harvested (r19)") {
    wh
    import ss.implicits._
    ss.sql("DROP TABLE IF EXISTS gstat.db.rc")
    ss.sql("""CREATE TABLE gstat.db.rc (k BIGINT, v STRING, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('statsCols' = 'k')""")
    (0L until 10000L).map(i => (i, "v" + i, s"p${i % 4}")).toDF("k", "v", "p")
      .createOrReplaceTempView("rc_src")
    ss.sql("INSERT INTO gstat.db.rc SELECT * FROM rc_src")
    // full scan: the footer-harvested counts sum to the exact cardinality
    assert(scanRowCount(ss.table("gstat.db.rc")) == Some(BigInt(10000)),
      "full-scan rowCount should be the exact footer sum")
    // partition pruning shrinks the row estimate with the byte one
    assert(scanRowCount(ss.table("gstat.db.rc").filter(col("p") === "p1"))
      == Some(BigInt(2500)), "pruned rowCount should cover only p1")
    // a second INSERT accretes a second stats sidecar; counts still sum
    ss.sql("INSERT INTO gstat.db.rc SELECT k + 10000, v, p FROM rc_src")
    assert(scanRowCount(ss.table("gstat.db.rc")) == Some(BigInt(20000)))
    // a table committed WITHOUT statsCols has no counts: numRows must stay
    // unreported (a guessed estimate would mislead CBO), bytes still flow
    ss.sql("DROP TABLE IF EXISTS gstat.db.nr")
    ss.sql("CREATE TABLE gstat.db.nr (k BIGINT, p STRING) PARTITIONED BY (p)")
    ss.sql("INSERT INTO gstat.db.nr SELECT k, p FROM rc_src")
    assert(scanRowCount(ss.table("gstat.db.nr")).isEmpty,
      "row count must be all-or-nothing, never guessed")
    assert(ss.table("gstat.db.nr").queryExecution.optimizedPlan.stats
      .sizeInBytes < BigInt(Long.MaxValue) / 2, "bytes still reported")
  }

  test("a deletion vector withdraws numRows (never an exact-looking pre-delete count)") {
    wh
    import ss.implicits._
    import graft.sources.ManifestTable
    ss.sql("DROP TABLE IF EXISTS gstat.db.dvr")
    ss.sql("""CREATE TABLE gstat.db.dvr (k BIGINT, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('statsCols' = 'k')""")
    (0L until 1000L).map(i => (i, s"p${i % 2}")).toDF("k", "p")
      .createOrReplaceTempView("dvr_src")
    ss.sql("INSERT INTO gstat.db.dvr SELECT * FROM dvr_src")
    assert(scanRowCount(ss.table("gstat.db.dvr")) == Some(BigInt(1000)))
    // merge-on-read DELETE: the footer sums now OVERCOUNT what the scan
    // yields — numRows must decline (ADVICE r19: subtracting from metadata
    // alone is unsafe, inert/duplicate DV positions would under-report),
    // while bytes keep flowing under their superset contract
    ss.sql("DELETE FROM gstat.db.dvr WHERE k < 100")
    assert(ss.table("gstat.db.dvr").count() == 900)
    assert(scanRowCount(ss.table("gstat.db.dvr")).isEmpty,
      "a DV-masked snapshot must not report a pre-delete row count to CBO")
    assert(ss.table("gstat.db.dvr").queryExecution.optimizedPlan.stats
      .sizeInBytes < BigInt(Long.MaxValue) / 2, "bytes still reported")
    val root = s"$wh/db/dvr"
    val cur = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.estimatePruned(spark, root, cur, Nil)._2.isEmpty)
    // compaction purges the DV into rewritten files: counts come back
    ss.sql("CALL gstat.system.compact('db.dvr')")
    assert(scanRowCount(ss.table("gstat.db.dvr")) == Some(BigInt(900)))
  }

  test("column NDV from bloom-column KMV sketches reaches scan statistics (r19)") {
    wh
    import ss.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import graft.sources.ManifestTable
    ss.sql("DROP TABLE IF EXISTS gstat.db.nv")
    ss.sql("""CREATE TABLE gstat.db.nv (k BIGINT, u BIGINT, p STRING)
      PARTITIONED BY (p) TBLPROPERTIES ('statsCols' = 'k', 'bloomCols' = 'u')""")
    // u has 100 distinct values (< the sketch k) -> the estimate is EXACT
    (0L until 10000L).map(i => (i, i % 100, s"p${i % 4}")).toDF("k", "u", "p")
      .createOrReplaceTempView("nv_src")
    ss.sql("INSERT INTO gstat.db.nv SELECT * FROM nv_src")
    val root = s"$wh/db/nv"
    val cur = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.estimatePruned(spark, root, cur, Nil)._3
      == Map("u" -> 100L))
    // partition pruning narrows the sketch union to the kept files: within
    // p1 (i % 4 == 1, and 100 % 4 == 0) u takes exactly 25 residues
    assert(ManifestTable.estimatePruned(spark, root, cur, Nil,
      points = Seq("p" -> "p1"))._3 == Map("u" -> 25L))
    // the scan's V2 statistics surface it as a per-column distinctCount
    val rel = ss.table("gstat.db.nv").queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    val v2 = rel.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val byName = v2.columnStats()
    import scala.jdk.CollectionConverters._
    val got = byName.asScala.map { case (ref, cs) =>
      ref.fieldNames().mkString(".") -> cs.distinctCount() }
    assert(got.get("u").exists(o => o.isPresent && o.getAsLong == 100L), got)
    // an all-NULL batch records EMPTY sketches, never missing ones — the
    // column keeps reporting instead of dropping out
    Seq((90000L, Option.empty[Long], "p1")).toDF("k", "u", "p")
      .createOrReplaceTempView("nv_null")
    ss.sql("INSERT INTO gstat.db.nv SELECT * FROM nv_null")
    val cur2 = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.estimatePruned(spark, root, cur2, Nil)._3
      == Map("u" -> 100L))
  }

  test("CBO: harvested NDV drives equality selectivity and flips a join to broadcast (r20)") {
    wh
    import ss.implicits._
    ss.sql("DROP TABLE IF EXISTS gstat.db.cb")
    ss.sql("DROP TABLE IF EXISTS gstat.db.cr")
    // u: 64 distinct residues, UNIFORM ACROSS EVERY FILE — a point probe
    // keeps every file (bloom skipping can't shrink the scan), so the ONLY
    // thing that can shrink the filter's estimate is CBO's 1/ndv equality
    // selectivity over the harvested KMV distinct count
    ss.sql("""CREATE TABLE gstat.db.cb (k BIGINT, u BIGINT, pay STRING)
      TBLPROPERTIES ('statsCols' = 'k,u', 'bloomCols' = 'u')""")
    (0L until 20000L).map(i => (i, i % 64, "x" * 64)).toDF("k", "u", "pay")
      .createOrReplaceTempView("cb_src")
    ss.sql("INSERT INTO gstat.db.cb SELECT * FROM cb_src")
    ss.sql("CREATE TABLE gstat.db.cr (k BIGINT, r STRING)")
    (0L until 20000L).map(i => (i, "y" * 64)).toDF("k", "r")
      .createOrReplaceTempView("cr_src")
    ss.sql("INSERT INTO gstat.db.cr SELECT * FROM cr_src")
    // the PLAN-TIME decision (initial plan, never executed): AQE's runtime
    // re-planning would broadcast the tiny filtered side either way once
    // real sizes are known — CBO's value is committing to the right plan
    // BEFORE paying the first shuffle, which is what this asserts
    def joinPlan(): String = {
      val df = ss.table("gstat.db.cb").filter($"u" === 7L)
        .join(ss.table("gstat.db.cr"), "k")
      df.queryExecution.executedPlan.toString
    }
    // threshold between the two estimates: unfiltered side ~100s of KB,
    // CBO-scaled (1/64) a few KB
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "65536")
    withSQLConf(confs :+ ("spark.sql.cbo.enabled" -> "false"): _*) {
      val p = joinPlan()
      assert(p.contains("SortMergeJoin"),
        s"without CBO the full-size filter estimate must sort-merge:\n$p")
    }
    withSQLConf(confs :+ ("spark.sql.cbo.enabled" -> "true"): _*) {
      // the harvested KMV distinct count surfaces on the SCAN's attributes…
      val base = ss.table("gstat.db.cb").queryExecution.optimizedPlan.stats
      assert(base.attributeStats.exists { case (a, cs) =>
        a.name == "u" && cs.distinctCount.contains(BigInt(64)) },
        s"harvested NDV must surface as an attribute stat under CBO: $base")
      // …and the equality filter estimates rows/ndv ≈ 20000/64 ≈ 312
      val filtered = ss.table("gstat.db.cb").filter($"u" === 7L)
        .queryExecution.optimizedPlan.stats
      assert(filtered.rowCount.exists(rc => rc > BigInt(200) && rc < BigInt(500)),
        s"1/ndv selectivity must reach the filter estimate: $filtered")
      val p = joinPlan()
      assert(p.contains("BroadcastHashJoin"),
        s"CBO + NDV must scale the filter output under the threshold:\n$p")
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val olds = kv.map { case (k, _) => k -> ss.conf.getOption(k) }
    kv.foreach { case (k, v) => ss.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => ss.conf.set(k, v)
      case (k, None) => ss.conf.unset(k)
    }
  }
}
