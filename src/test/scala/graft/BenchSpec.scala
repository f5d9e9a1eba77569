package graft

/** The bench harness's own failure modes as tests (VERDICT r15 #1/#2):
  * the r15 round shipped a per-query regression tripwire whose budget
  * parser never matched the checked-in file (`over_budget` was `{}` on
  * every run — dead code adjudicating nothing), and the bench itself timed
  * out on a hot box leaving NO artifact. Both are now pinned:
  * the production parser must read the checked-in budgets file non-empty,
  * an unparseable-but-present file must abort loudly, and a blown deadline
  * must still emit a valid artifact + compact line with `"partial":true`.
  */
class BenchSpec extends SparkSuite {

  test("budget parser reads the checked-in file (the r15 dead-tripwire regression)") {
    val budgets = BenchBudgets.load()
    assert(budgets.size >= 190, s"expected >=190 budgets, parsed ${budgets.size}")
    // spot-check a known entry round-trips as a sane positive time
    assert(budgets.values.forall(v => v > 0 && v < 600), budgets.filter(_._2 <= 0))
    assert(budgets.contains(1) && budgets.contains(190), budgets.keys.toSeq.sorted.take(5))
  }

  test("a budgets file that exists but parses empty aborts loudly") {
    val p = java.nio.file.Files.createTempFile("budgets-drifted", ".json")
    java.nio.file.Files.writeString(p, """{"q1" = 0.5}""") // format drift: no "id": num pairs
    val e = intercept[IllegalArgumentException](BenchBudgets.load(p.toString))
    assert(e.getMessage.contains("ZERO entries"), e.getMessage)
  }

  test("a missing budgets file is a silent no-tripwire run, not a failure") {
    assert(BenchBudgets.load("/nonexistent/budgets.json").isEmpty)
  }

  test("over-budget flag needs ambient-relative ratio AND absolute excess") {
    assert(!BenchBudgets.isOver(0.39, 0.24), "1.6x on a sub-second query is jitter")
    assert(!BenchBudgets.isOver(0.29, 0.10), "under the noise floor")
    assert(!BenchBudgets.isOver(3.5, 2.0), "1.75x: under the 2x regression bar")
    assert(BenchBudgets.isOver(36.0, 0.35), "the r15 adjudication case")
    assert(BenchBudgets.isOver(36.0, 0.35, ambient = 1.64),
      "the r15 case must fire through a loaded box's ambient too")
    assert(BenchBudgets.isOver(6.2, 2.0), "3.1x and +4.2s on a heavy query")
    // the r16 measured co-tenant run: suite-wide median ratio 1.64 — the
    // whole box is slow, not one query; ambient normalization clears what
    // ratio-only flagged (111 spurious entries on that artifact)
    assert(!BenchBudgets.isOver(3.53, 1.29, ambient = 1.64),
      "1.67x residual under sustained load is noise")
    assert(!BenchBudgets.isOver(0.97, 0.15, ambient = 1.64),
      "a 6.5x RAW ratio on a sub-second query still clears via the excess gate")
    assert(BenchBudgets.isOver(10.0, 1.29, ambient = 1.64),
      "a genuine 4.7x residual regression fires through the ambient")
    // the ambient normalizer's documented blind spot, pinned (VERDICT r19
    // #7): q163's r19 case — 0.26s budget, 0.87s measured, ambient 1.40 —
    // clears the absolute-excess bar (0.5s < 1s) so it must NOT hard-flag…
    assert(!BenchBudgets.isOver(0.87, 0.26, ambient = 1.40),
      "sub-second 3x under load stays out of over_budget by design")
    // …but it must be VISIBLE in the artifact's soft_over list, which the
    // idle re-run adjudicates (r20: an idle sweep measured it at 0.33s —
    // ambient, not a regression)
    assert(BenchBudgets.isSoftOver(0.87, 0.26, ambient = 1.40),
      "the q163 shape must surface as a soft exceedance")
    assert(!BenchBudgets.isSoftOver(36.0, 0.35), "hard flags are never soft")
    assert(!BenchBudgets.isSoftOver(0.39, 0.24), "sub-2x jitter stays silent")
    assert(!BenchBudgets.isSoftOver(0.29, 0.10), "noise floor applies to soft too")
    // ambient estimator: median of ratios, floored at 1
    assert(BenchBudgets.ambientOf(Nil) == 1.0)
    assert(BenchBudgets.ambientOf(Seq(0.8, 0.9, 0.7)) == 1.0,
      "a faster-than-best box must not tighten budgets")
    assert(math.abs(BenchBudgets.ambientOf(Seq(1.2, 1.6, 1.8, 1.5, 2.4)) - 1.6) < 1e-9)
  }

  test("suite-wide gate fires on a protocol-wide regression, not co-tenant load") {
    // the tripwire's documented blind spot (VERDICT r16 #3): a slowdown
    // hitting EVERY query raises ambient instead of flagging — the suite
    // gate compares summed budgeted seconds against summed budgets
    assert(!BenchBudgets.suiteOver(0.0, 0.0), "no budgets loaded: gate stays quiet")
    assert(!BenchBudgets.suiteOver(260.0, 190.0), "r16 shape: 1.37x is ambient load")
    assert(!BenchBudgets.suiteOver(455.0, 190.0), "2.4x: historical worst box load")
    assert(BenchBudgets.suiteOver(500.0, 190.0), "2.6x suite-wide fires")
    assert(BenchBudgets.suiteOver(1900.0, 190.0), "10x suite-wide certainly fires")
  }

  test("blown deadline still emits a valid artifact and compact line with partial:true") {
    val out = java.nio.file.Files.createTempDirectory("bench-deadline")
      .resolve("bench.json").toString
    // deadline 0 = every query is already past the deadline: the r15
    // failure mode (timeout -> rc=124 -> no artifact) must now degrade to
    // an EMPTY-but-valid artifact pair instead
    Bench.run(sfDir = "/root/testdata/sf0.001", cpus = "4", outFile = out,
      deadlineSec = 0.0, only = Some(Seq("q01")))
    val art = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(art.contains("\"partial\":true"), art)
    assert(art.contains("\"completed\":0"), art)
    assert(art.contains("\"budgets_loaded\":"), art)
    val compact = java.nio.file.Files.readString(java.nio.file.Paths.get(out + ".compact"))
    assert(compact.contains("\"partial\":true"), compact)
    assert(compact.contains("\"t_by_id\":[]"), compact)
    // the shared suite session must survive the bench run
    assert(!spark.sparkContext.isStopped)
  }

  test("inside the deadline the sweep completes and the artifact finalizes") {
    val out = java.nio.file.Files.createTempDirectory("bench-ok")
      .resolve("bench.json").toString
    Bench.run(sfDir = "/root/testdata/sf0.001", cpus = "4", outFile = out,
      deadlineSec = 600.0, only = Some(Seq("q01")), streamingProbes = false)
    val art = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(art.contains("\"partial\":false"), art)
    assert(art.contains("\"completed\":1"), art)
    // q01 has a budget and a sane run lands well under 1.5x of it on this
    // box only when idle — so just assert over_budget is syntactically a
    // (possibly empty) object populated by a LIVE parser, and that the
    // budgets actually loaded
    assert(art.contains("\"over_budget\":{"), art)
    assert("\"budgets_loaded\":(\\d+)".r.findFirstMatchIn(art)
      .exists(_.group(1).toInt >= 190), art)
    // r17 fields: suite gate (quiet on one idle query), coverage-derived
    // partial with requeue truncation recorded separately, named
    // unbudgeted ids
    assert(art.contains("\"suite_over_budget\":false"), art)
    assert(art.contains("\"requeue_truncated\":false"), art)
    assert(art.contains("\"unbudgeted_ids\":["), art)
    val compact = java.nio.file.Files.readString(java.nio.file.Paths.get(out + ".compact"))
    assert(compact.contains("\"completed\":1"), compact)
    assert(!spark.sparkContext.isStopped)
    // the sweep ran in GraftSession's config: the engine's optimizer rules
    // and the runtime Bloom filter
    val rules = spark.experimental.extraOptimizations
    assert(rules.contains(org.apache.spark.sql.graft.ReplaceMd5WithFast), rules)
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
  }

  test("GraftSession is the only main code that builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toSeq
    assert(builders == Seq("src/main/scala/graft/GraftSession.scala"), builders)
  }

  /** (file, enclosing def, call) of every non-comment call of `names` in
    * `src/main`, skipping their own definitions.
    */
  /** Every non-comment line of main code containing one of `needles`, as
    * (file, enclosing def, needle) — a line that itself defines the needle
    * does not count.
    */
  private def sites(needles: Seq[String]): Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    val Def = """.*\bdef (\w+)\b.*""".r
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.flatMap { i =>
          val code = lines(i).trim
          val comment = code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")
          needles.filter(c => !comment && code.contains(c) &&
            !code.contains("def " + c)).map { c =>
            val owner = lines.take(i + 1).reverseIterator.collectFirst { case Def(d) => d }
            (p.getFileName.toString, owner.getOrElse(""), c)
          }
        }
      }.sorted
  }

  private def callSites(names: Seq[String]): Seq[(String, String, String)] =
    sites(names.map(_ + "("))

  test("the manifest body has one parser, and publishManifest writes its #dv/#ts/#batch lines") {
    // one parse per manifest read yields every field a snapshot carries; a
    // second scan of the body text re-grows the per-field readers
    assert(callSites(Seq("parseManifest")) ==
      Seq(("ManifestTable.scala", "manifestAt", "parseManifest(")))
    val literals = sites(Seq("\"#dv", "\"#ts", "\"#batch"))
    assert(literals.map(_._2).distinct == Seq("publishManifest"), literals)
  }

  test("ManifestTable reads a table's DDL only through its snapshot") {
    // GraftDdl.load re-lists the root; the snapshot's DDL view carries the
    // spec, field ids, checks and declared columns of the write contract
    assert(callSites(Seq("GraftDdl.load")).filter(_._1 == "ManifestTable.scala").isEmpty)
    // the active spec is the sidecar's partCol alone, never a history head
    assert(callSites(Seq("currentOf")).isEmpty)
  }

  test("ManifestTable.stageData is the only main code that stages a data write") {
    // a writer that copies the stage preamble instead of calling the helper
    // can forget the field ids; every call site is named by its enclosing def
    val calls = callSites(Seq("stageWrite", "attachDf"))
    assert(calls == Seq(("ManifestTable.scala", "stageData", "attachDf("),
      ("ManifestTable.scala", "stageData", "stageWrite(")), calls)
  }

  test("GraftScan is the one scan of a snapshot's files") {
    // no V1 bridge in the catalog and no file-source relation in the
    // manifest layer: catalog, DML, SPJ and scanFiles reads all plan as one
    // BatchScanExec over GraftScan
    def src(f: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
    val catalog = src("src/main/scala/graft/sources/GraftCatalog.scala")
    assert(!catalog.contains("V1Scan") && !catalog.contains("TableScan"))
    for (f <- Seq("src/main/scala/graft/sources/ManifestTable.scala",
        "src/main/scala/org/apache/spark/sql/graft/ManifestScan.scala"))
      assert(!src(f).contains("HadoopFsRelation") && !src(f).contains("baseRelationToDataFrame"), f)
    // only GraftScan builds a parquet reader factory
    assert(callSites(Seq("SpjBridge.readerFactory")) ==
      Seq(("GraftCatalog.scala", "createReaderFactory", "SpjBridge.readerFactory(")))
    assert(callSites(Seq("parquetReaderFactory", "ParquetPartitionReaderFactory")) ==
      Seq(("SpjBridge.scala", "parquetReaderFactory", "ParquetPartitionReaderFactory("),
        ("SpjBridge.scala", "readerFactory", "parquetReaderFactory(")))
  }

  test("ManifestTable.planPrune is the only main code that lists a snapshot's files") {
    // a reader that lists data dirs itself re-grows a second enumeration of
    // the snapshot; only the commit-side footer harvests list a fresh write
    val helpers = Seq("listDataStatus", "listDataFiles")
    val calls = callSites(helpers)
      .filterNot(c => helpers.contains(c._2)) // the helpers' own recursion/delegation
    assert(calls == Seq(("ManifestTable.scala", "harvestBloomsAndNdv", "listDataFiles("),
      ("ManifestTable.scala", "harvestStats", "listDataFiles("),
      ("ManifestTable.scala", "planPrune", "listDataStatus(")), calls)
  }

  test("ManifestTable.listRoot is the only reader of a table root") {
    // a second parser of the root listing re-grows per-question listings;
    // only the data-dir listings (a version's files, a stage's partition
    // dirs, vacuum's per-version claim sweep) and the catalog's namespace
    // listings list anything else
    val namespaces = Set("listTables", "listNamespaces", "dropNamespace")
    val calls = callSites(Seq("listStatus"))
      .filter(c => Set("ManifestTable.scala", "GraftStreamSink.scala", "GraftCatalog.scala")
        .contains(c._1))
      .filterNot(c => c._1 == "GraftCatalog.scala" && namespaces.contains(c._2))
    assert(calls == Seq(("ManifestTable.scala", "listDataStatus", "listStatus("),
      ("ManifestTable.scala", "listRoot", "listStatus("),
      ("ManifestTable.scala", "listStagedPartDirs", "listStatus("),
      ("ManifestTable.scala", "vacuum", "listStatus(")), calls)
  }

  test("a change batch applies in one pass: no sink checkpoint, no mergeDv broadcast join, no schema-merge job") {
    // the sink's stage write gathers its delete leg, mergeDv's positions
    // scan filters by a broadcast variable, and schema inference reads
    // footers on the driver
    assert(callSites(Seq("localCheckpoint")).filter(_._1 == "GraftStreamSink.scala").isEmpty)
    assert(callSites(Seq("broadcast")).filter(_._2 == "mergeDv").isEmpty)
    import scala.jdk.CollectionConverters._
    val merging = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("\"mergeSchema\" -> \"true\""))
      .map(_.getFileName.toString).toSeq
    assert(merging.isEmpty, merging)
  }

  test("compact tail stays inside the 2000-char capture at 250 queries (r19)") {
    // worst realistic shape: every id present, a mix of sub-10s (2-digit)
    // and 10-100s (1-digit) timings, a few failures
    val byId = (1 to 250).map { i =>
      i -> (if (i % 17 == 0) -1.0 else if (i % 9 == 0) 42.7 else 3.141)
    }.toMap
    val t = Bench.tByIdJson(byId)
    // the rest of the compact line (over/failed/partial/completed/total/sf)
    // has run ~180-300 chars historically; keep >= 400 chars of headroom
    assert(t.length <= 1600, s"t_by_id at 250 queries is ${t.length} chars")
    // rendering contract: 1-indexed, -1 for failures, null for gaps
    val small = Bench.tByIdJson(Map(1 -> 1.0, 3 -> -1.0, 5 -> 12.34))
    assert(small == "[1.00,null,-1,null,12.3]", small)
  }

  test("requeue order retries tripwire-flagged queries before hot-load ones") {
    // VERDICT r17 #3: r17's artifact shipped requeue_truncated with both
    // over_budget flags unretried — the deadline cut sweep-ordered retries
    // exactly where they mattered. The order must put flagged ids first
    // (regardless of sweep position or load), then the rest hottest-first,
    // so a truncation can only ever drop the least-consequential retries.
    val entries = Seq(
      (0, "q01_cold", 5.0),   // hot-load, unflagged, early in sweep
      (1, "q72_bm25", 0.2),   // FLAGGED, cool box, late
      (2, "q50_mid", 3.0),    // hot-load, unflagged
      (3, "q188_ddl", 0.1),   // FLAGGED, cool box, last
      (4, "q02_idle", 1.0))   // cool, unflagged
    val order = BenchBudgets.requeueOrder(entries, Set("q72_bm25", "q188_ddl"))
    // both flagged ids precede every unflagged id
    assert(order.take(2).toSet == Set(1, 3), order)
    // the unflagged tail is hottest-first
    assert(order.drop(2) == Seq(0, 2, 4), order)
  }
}
