package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import graft.sources.{ManifestTable, PartSpec}

/** Cross-PROCESS commit arbitration: every other concurrency test races
  * threads of one JVM, which share the process page cache and memory
  * fences. Two forked JVMs hammering the same table through the
  * [[ManifestTable.CommitArbiter]] seam is the honest local stand-in for
  * two cluster drivers committing to shared storage — the object-store
  * deployment contract (conditional put) documented on the seam.
  */
class MultiProcessCommitSpec extends SparkSuite {

  // build.sbt's jdk17AddOpens, verbatim — the forked JVM creates its own
  // SparkSession outside spark-submit exactly like the test JVM does
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("two separate JVMs racing disjoint merges: all land or conflict loudly, never corruption") {
    val dir = Files.createTempDirectory("graft-mp-race")
    val root = dir.resolve("t").toString
    import spark.implicits._
    ManifestTable.commit(
      Seq((0L, "seed", "s1")).toDF("k", "v", "p"), root, Some(PartSpec.Identity("p")))

    val rounds = 4
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def launch(wid: String, parts: String): (Process, java.io.File) = {
      val log = dir.resolve(s"$wid.log").toFile
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-Dspark.ui.enabled=false", "-cp", cp,
        "graft.RaceWriterMain", root, wid, parts, rounds.toString))
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log)
      (pb.start(), log)
    }
    val (p1, log1) = launch("w1", "a1,a2")
    val (p2, log2) = launch("w2", "b1,b2")
    try {
      // barrier: let both JVMs finish their (slow) Spark init, then release
      // them into the commit loop together so the claim/publish tails race
      val readyDeadline = System.currentTimeMillis() + 150000
      def ready(w: String) = Files.exists(dir.resolve(s"ready.$w"))
      while (!(ready("w1") && ready("w2"))) {
        assert(p1.isAlive || ready("w1"), s"w1 died during init:\n${readLog(log1)}")
        assert(p2.isAlive || ready("w2"), s"w2 died during init:\n${readLog(log2)}")
        assert(System.currentTimeMillis() < readyDeadline,
          s"writers never became ready\nw1:\n${readLog(log1)}\nw2:\n${readLog(log2)}")
        Thread.sleep(50)
      }
      Files.createFile(dir.resolve("start.flag"))
      assert(p1.waitFor(180, TimeUnit.SECONDS), s"w1 hung:\n${readLog(log1)}")
      assert(p2.waitFor(180, TimeUnit.SECONDS), s"w2 hung:\n${readLog(log2)}")
      assert(p1.exitValue() == 0, s"w1 failed:\n${readLog(log1)}")
      assert(p2.exitValue() == 0, s"w2 failed:\n${readLog(log2)}")
    } finally {
      if (p1.isAlive) p1.destroyForcibly()
      if (p2.isAlive) p2.destroyForcibly()
    }

    // every commit landed exactly once: seed + 2 writers × rounds versions,
    // each manifest number published by exactly one writer
    assert(ManifestTable.currentVersion(spark, root).contains(1L + 2 * rounds),
      s"expected ${1 + 2 * rounds} committed versions\n" +
        s"w1:\n${readLog(log1)}\nw2:\n${readLog(log2)}")
    // and the table state equals a serial order of the disjoint rewrites:
    // each writer's partitions hold its LAST round, the seed is untouched
    val got = spark.read.format("graft").load(root)
      .select("k", "v", "p").as[(Long, String, String)].collect().toSet
    val want = Set((0L, "seed", "s1")) ++
      Seq("a1", "a2").map(p => (rounds.toLong, s"w1-$rounds", p)) ++
      Seq("b1", "b2").map(p => (rounds.toLong, s"w2-$rounds", p))
    assert(got == want, s"corrupted table state: $got")
  }

  test("the commit arbiter seam is consulted for every manifest publish") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val prev = ManifestTable.commitArbiter
    ManifestTable.commitArbiter = new ManifestTable.CommitArbiter {
      override def publishExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                    tmp: org.apache.hadoop.fs.Path,
                                    dst: org.apache.hadoop.fs.Path): Boolean = {
        calls.incrementAndGet()
        ManifestTable.FsCommitArbiter.publishExclusive(fs, tmp, dst)
      }
    }
    try {
      import spark.implicits._
      val root = Files.createTempDirectory("graft-arb").resolve("t").toString
      ManifestTable.commit(Seq((1L, "a", "x")).toDF("k", "v", "p"), root,
        Some(PartSpec.Identity("p")))
      ManifestTable.append(Seq((2L, "b", "x")).toDF("k", "v", "p"), root,
        Some(PartSpec.Identity("p")))
      assert(calls.get() == 2,
        s"every commit shape must publish through the arbiter, saw ${calls.get()}")
    } finally ManifestTable.commitArbiter = prev
  }

  test("stage writes refuse a speculative context (committer v2 is not atomic per task)") {
    import org.apache.spark.SparkConf
    assert(ManifestTable.stageWriteSafe(new SparkConf(false)))
    assert(ManifestTable.stageWriteSafe(new SparkConf(false).set("spark.speculation", "false")))
    assert(!ManifestTable.stageWriteSafe(new SparkConf(false).set("spark.speculation", "true")))
    // the shared session runs with speculation off, so its writes pass
    assert(ManifestTable.stageWriteSafe(spark.sparkContext.getConf))
  }

  test("commit timestamps monotonize across skewed writer clocks (#ts = max(prior+1, now))") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ts-skew").resolve("t").toString
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), root, None) // v1
    // simulate a fast-clock multi-process writer: push v1's stamp an hour
    // into the future, as a skewed peer JVM would have
    val mf = java.nio.file.Paths.get(root, "_manifest.00000001")
    val future = (System.currentTimeMillis() + 3600L * 1000) * 1000L
    val edited = new String(Files.readAllBytes(mf), "UTF-8").linesIterator
      .map(l => if (l.startsWith("#ts\t")) s"#ts\t$future" else l)
      .mkString("", "\n", "\n")
    Files.write(mf, edited.getBytes("UTF-8"))
    // this writer's wall clock is now BEHIND the newest stamp: publish must
    // monotonize, not regress — or TIMESTAMP AS OF would hide v2 forever
    ManifestTable.commit(Seq((2L, "b")).toDF("k", "v"), root, None) // v2
    val ts2 = ManifestTable.history(spark, root).find(_._1 == 2L).flatMap(_._5).get
    assert(ts2 == future + 1,
      s"expected max(prior #ts + 1, now) = ${future + 1}, got $ts2")
    assert(ManifestTable.versionAtTimestamp(spark, root, future).contains(1L))
    assert(ManifestTable.versionAtTimestamp(spark, root, future + 1).contains(2L))
    assert(ManifestTable.versionAtTimestamp(spark, root, Long.MaxValue).contains(2L))
  }

  test("arbiter fallback: rename refused by a mid-window competitor = lost race (false), not a failure") {
    val dir = Files.createTempDirectory("graft-arb-fb")
    def init(fs: org.apache.hadoop.fs.RawLocalFileSystem) = {
      fs.initialize(new java.net.URI("file:///"),
        new org.apache.hadoop.conf.Configuration())
      fs.setWriteChecksum(false); fs.setVerifyChecksum(false)
      fs
    }
    // competitor publishes dst between the exists check and the rename:
    // the contract says false (publishStaged rebases), never a throw
    val racy = init(new LostRaceFs)
    val tmp1 = new org.apache.hadoop.fs.Path(dir.resolve("tmp1").toString)
    val dst1 = new org.apache.hadoop.fs.Path(dir.resolve("_manifest.00000007").toString)
    racy.create(tmp1).close()
    assert(!ManifestTable.FsCommitArbiter.publishExclusive(racy, tmp1, dst1),
      "a lost race must return false so the carry-forward retry can rebase")
    // rename fails with NO competing commit present: that is a genuine FS
    // failure and must abort loudly
    val dead = init(new DeadRenameFs)
    val tmp2 = new org.apache.hadoop.fs.Path(dir.resolve("tmp2").toString)
    val dst2 = new org.apache.hadoop.fs.Path(dir.resolve("_manifest.00000008").toString)
    dead.create(tmp2).close()
    intercept[java.io.IOException] {
      ManifestTable.FsCommitArbiter.publishExclusive(dead, tmp2, dst2)
    }
  }

  test("two JVMs: ALTER renames racing catalog INSERTs — every row survives by id") {
    // VERDICT r17 #7: the field-id memo's cross-process invalidation path
    // (FieldIds.of stamp check) under a GENUINE two-JVM ALTER-vs-commit
    // race — the parent rewrites the _ddl.json sidecar (rename rounds)
    // while a forked JVM plans and commits INSERTs through its own catalog
    // instance. A stale-memo write is harmless (renames keep ids), a
    // mid-plan flip refuses loudly as "schema drift" and the writer
    // retries (RaceInsertMain) — but a LOST row, a NULL under the final
    // name, or a crash is a failure.
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-mp-alter").toString
    spark.conf.set("spark.sql.catalog.gmpa",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmpa.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmpa.db")
    spark.sql("CREATE TABLE gmpa.db.t (k BIGINT, v BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    val rounds = 12
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val log = new java.io.File(wh, "ins.log")
    val pb = new ProcessBuilder((Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-cp", cp,
      "graft.RaceInsertMain", wh, "db.t", rounds.toString)): _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val p = pb.start()
    var cur = "v"
    try {
      val readyDeadline = System.currentTimeMillis() + 150000
      while (!Files.exists(java.nio.file.Paths.get(wh, "ready.ins"))) {
        assert(p.isAlive, s"inserter died during init:\n${readLog(log)}")
        assert(System.currentTimeMillis() < readyDeadline,
          s"inserter never became ready:\n${readLog(log)}")
        Thread.sleep(50)
      }
      Files.createFile(java.nio.file.Paths.get(wh, "start.flag"))
      // rename rounds interleaved with the child's INSERT loop
      var i = 0
      while (p.isAlive && i < 100) {
        val next = s"v$i"
        spark.sql(s"ALTER TABLE gmpa.db.t RENAME COLUMN $cur TO $next")
        cur = next; i += 1
        Thread.sleep(80)
      }
      assert(p.waitFor(180, TimeUnit.SECONDS), s"inserter hung:\n${readLog(log)}")
      assert(p.exitValue() == 0, s"inserter failed:\n${readLog(log)}")
    } finally { if (p.isAlive) p.destroyForcibly() }
    // every row landed exactly once and resolves BY ID under the final
    // name — a write that missed an id annotation would surface as NULL
    val got = spark.table("gmpa.db.t").selectExpr("k", s"$cur AS v")
      .as[(Long, Option[Long])].collect().toSet
    assert(got == (1 to rounds).map(r => (r.toLong, Some(r * 10L))).toSet,
      s"final state under column $cur: $got\n${readLog(log)}")
  }

  private def readLog(f: java.io.File): String =
    if (!f.exists()) "<no log>"
    else {
      val s = new String(Files.readAllBytes(f.toPath), "UTF-8")
      if (s.length <= 4000) s else s.substring(s.length - 4000)
    }
}

/** HDFS-semantics stand-ins for [[ManifestTable.FsCommitArbiter]]'s non-local
  * branch (scheme != "file" routes around the hard-link mutex). File-scope so
  * no spec `$outer` rides along if one ever reaches an executor closure.
  */
private class LostRaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fakehdfs"
  // the competitor's publish lands INSIDE the exists-check/rename window,
  // and HDFS rename refuses an existing destination by returning false
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (!exists(dst)) create(dst).close()
    false
  }
}

private class DeadRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fakehdfs"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = false
}
