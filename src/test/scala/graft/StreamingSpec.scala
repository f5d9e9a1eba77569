package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.PartSpec
import graft.streaming.Streams
import graft.streaming.Streams.EventRow

/** Streaming semantics over MemoryStream sources: watermarked hourly
  * windows, watermark-bounded dedup, and mapGroupsWithState running state.
  */
class StreamingSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def row(id: Long, uid: Long, t: String, typ: String, v: Double) =
    EventRow(id, uid, ts(t), typ, v)

  test("watermarked hourly tumbling counts aggregate by event time") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[EventRow]
    src.addData(
      row(1, 1, "2024-01-01 10:05:00", "click", 1.0),
      row(2, 1, "2024-01-01 10:55:00", "click", 2.0),
      row(3, 2, "2024-01-01 11:05:00", "view", 5.0),
      row(4, 2, "2024-01-01 14:00:00", "view", 1.0))
    Streams.runToMemory(Streams.hourlyTypeCounts(src.toDF()), "hourly2", OutputMode.Complete())
    val got = spark.table("hourly2")
      .select($"hour".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
    assert(got.contains(("2024-01-01 11:00:00", "view", 1L, 5.0)))
  }

  test("dropDuplicatesWithinWatermark suppresses replayed event ids") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[EventRow]
    src.addData(
      row(1, 1, "2024-01-01 10:00:00", "click", 1.0),
      row(1, 1, "2024-01-01 10:00:00", "click", 1.0), // exact replay
      row(2, 1, "2024-01-01 10:01:00", "view", 2.0))
    Streams.runToMemory(Streams.dedupById(src.toDF()), "dedup", OutputMode.Append())
    val got = spark.table("dedup").select($"event_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L))
  }

  test("flatMapGroupsWithState emits a summary per flush and resets state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[EventRow]
    val q = Streams.sessionSummaries(src.toDS(), flushEvery = 2)
      .writeStream.format("memory").queryName("flush")
      .outputMode(OutputMode.Append()).start()
    src.addData(row(1, 7, "2024-01-01 10:00:00", "click", 1.0))
    q.processAllAvailable() // only 1 event -> nothing emitted yet
    assert(spark.table("flush").count() == 0)
    src.addData(
      row(2, 7, "2024-01-01 10:05:00", "view", 2.0),   // 2nd -> flush (3.0)
      row(3, 7, "2024-01-01 10:06:00", "view", 10.0))  // starts a new window
    q.processAllAvailable()
    src.addData(row(4, 7, "2024-01-01 10:07:00", "click", 20.0)) // 2nd -> flush (30.0)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("flush").select($"n_events", $"sum_value")
      .as[(Long, Double)].collect().toSet
    assert(got == Set((2L, 3.0), (2L, 30.0)))
  }

  test("near-dup gate state TTL evicts idle buckets and re-seeds on re-sight") {
    // VERDICT r17 #4: the production posture (bounded state staleness).
    // After the TTL lapses the bucket owner is EVICTED; a band seen again
    // re-seeds under the NEW min id — bounded recall loss against evicted
    // owners, never a wrong hit, never a crash.
    // Driven as single-batch Trigger.Once RUNS from one checkpoint: with
    // a ProcessingTimeTimeout the stateful operator never reports idle
    // (the engine keeps scheduling empty timeout-check batches), so both
    // processAllAvailable and AvailableNow wait forever — Once processes
    // exactly one batch (which also fires any expired timeouts) and stops.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("ndttl-ck").toString
    // foreachBatch collector: the memory sink cannot RECOVER from a
    // checkpoint across runs; foreachBatch can, and the hits are tiny
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Set[(Long, Long)] = {
      val q = Streams.nearDupGate(
        src.toDF().toDF("doc_id", "text"), "text", "doc_id", shingleN = 2,
        stateTtlMs = Some(200L))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Streams.BandHit], _: Long) =>
          df.collect().foreach(h => hits.add((h.doc_id, h.dup_of)))
        }
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      try assert(q.awaitTermination(120000), "single-batch run never finished")
      finally q.stop()
      val out = scala.collection.mutable.Set.empty[(Long, Long)]
      var h = hits.poll()
      while (h != null) { out += h; h = hits.poll() }
      out.toSet
    }
    val base = "the quick brown fox jumps over the lazy dog again and again"
    src.addData((10L, base), (11L, base))
    val b1 = run()
    assert(b1.nonEmpty && b1.forall(_ == ((11L, 10L))), s"$b1")
    Thread.sleep(1500) // let every lease lapse while the query is down
    // this run's batch fires the expired timeouts -> the base bands evict
    src.addData((50L, "completely different words entirely here"))
    run()
    // the SAME band re-seen after eviction: re-seeded under owner 20 (the
    // evicted owner 10 is forgotten), and 21 flags against 20, not 10
    src.addData((20L, base), (21L, base))
    val b3 = run()
    assert(b3.contains((21L, 20L)), s"$b3")
    assert(!b3.exists(_._1 == 20L), s"20 must have re-seeded fresh: $b3")
    assert(!b3.exists(h => h._1 == 21L && h._2 == 10L),
      s"evicted owner must not resurface: $b3")
  }

  test("streaming near-dup gate flags band collisions across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = Streams.nearDupGate(
      src.toDF().toDF("doc_id", "text"), "text", "doc_id", shingleN = 2)
      .writeStream.format("memory").queryName("ndgate")
      .outputMode(OutputMode.Append()).start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    src.addData((10L, base), (11L, base + " extra"), (12L, "completely different words entirely here"))
    q.processAllAvailable()
    val b1 = spark.table("ndgate").select($"doc_id", $"dup_of")
      .as[(Long, Long)].collect().toSet
    // near-identical 11 collides with the bucket owner 10; 12 is clean
    assert(b1.nonEmpty && b1.forall(_ == ((11L, 10L))), s"$b1")
    // a later batch replaying the same text hits the state from batch 1
    src.addData((13L, base))
    q.processAllAvailable()
    val b2 = spark.table("ndgate").select($"doc_id", $"dup_of")
      .as[(Long, Long)].collect().toSet
    assert(b2.contains((13L, 10L)), s"$b2")
    assert(!b2.exists(h => h._1 == 12L), "distinct doc must not be flagged")
    q.stop()
  }

  test("streaming kmv gauge across batches equals the batch sketch over the union") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val hv = conv(substring(md5(col("user").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val src = MemoryStream[(String, Long)]
    val q = Streams.kmvDistinctGauge(
      src.toDF().toDF("etype", "user").withColumn("h", hv), "etype", "h", k = 8)
      .writeStream.format("memory").queryName("kmvgauge")
      .outputMode(OutputMode.Update()).start()
    // batch 1: 5 distinct users of type a (below k); batch 2 pushes a to 20
    // distinct (estimator leg) and adds type b, including replayed users
    val b1 = (0L until 5L).map(("a", _))
    val b2 = (0L until 20L).map(("a", _)) ++ (100L until 104L).map(("b", _))
    src.addData(b1: _*)
    q.processAllAvailable()
    src.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // latest gauge per key (Update mode appends each revision to the sink;
    // the sketch only grows, so the latest revision is the max-n_kept one)
    val gauges = spark.table("kmvgauge").as[(String, Int, Long)].collect()
      .groupBy(_._1).map { case (k2, rows) => k2 -> rows.maxBy(_._2) }
    val batch = (b1 ++ b2).toDF("etype", "user").withColumn("h", hv)
      .groupBy("etype")
      .agg(org.apache.spark.sql.graft.KmvColumns.kmvSketch(col("h"), 8).as("s"))
      .select(col("etype"), col("s.n_kept"), col("s.est"))
      .as[(String, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(gauges("a") == batch("a"), s"${gauges("a")} vs ${batch("a")}")
    assert(gauges("b") == batch("b"), s"${gauges("b")} vs ${batch("b")}")
    assert(gauges("b")._2 == 4 && gauges("b")._3 == 4L) // exact below k
  }

  test("streaming ann append across batches equals wholesale encode of the history") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def mk(r: Range, base: Double) = r.map { i =>
      (i.toLong, Array.tabulate(8)(j => base.toFloat + 0.01f * i + 0.001f * j))
    }
    // codebooks trained once on the base corpus, then FROZEN for the stream
    val baseCorpus = (mk(0 until 18, 0.0) ++ mk(20 until 38, 10.0))
      .toDF("vec_id", "embedding")
    val coarse = graft.llm.ProductQuant.trainCodebooks(
      baseCorpus, m = 1, dims = 8, centroidStride = 10, iters = 2, ks = 4)
    val cb = graft.llm.ProductQuant.trainCodebooks(
      baseCorpus, m = 2, dims = 4, centroidStride = 10, iters = 2, ks = 4)
    val idx = java.nio.file.Files.createTempDirectory("ann-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ann-ckpt").toString
    val src = MemoryStream[(Long, Array[Float])]
    // two separate AvailableNow runs = two micro-batches, the CDC cadence
    src.addData(mk(18 until 20, 0.0): _*)
    Streams.annIndexAppend(src.toDF().toDF("vec_id", "embedding"),
      coarse, cb, m = 2, dims = 4, idx, ckpt).awaitTermination()
    src.addData(mk(38 until 40, 10.0): _*)
    Streams.annIndexAppend(src.toDF().toDF("vec_id", "embedding"),
      coarse, cb, m = 2, dims = 4, idx, ckpt).awaitTermination()
    val streamed = Streams.readAnnIndex(spark, idx)
    val wholesale = graft.llm.ProductQuant.encodeBatch(
      (mk(18 until 20, 0.0) ++ mk(38 until 40, 10.0)).toDF("vec_id", "embedding"),
      coarse, cb, m = 2, dims = 4)
      .select(streamed.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(streamed.count() == 4 * 2)
    assert(streamed.exceptAll(wholesale).isEmpty
      && wholesale.exceptAll(streamed).isEmpty)
    // epoch REPLAY is idempotent: re-running an epoch (same data, same
    // batch id — the second AvailableNow run was epoch 1 on this
    // checkpoint) overwrites its own partition, never duplicates
    // (foreachBatch is at-least-once)
    Streams.appendIndexBatch(mk(38 until 40, 10.0).toDF("vec_id", "embedding"),
      coarse, cb, m = 2, dims = 4, idx, batchId = 1L)
    val replayed = Streams.readAnnIndex(spark, idx)
    assert(replayed.count() == 4 * 2)
    assert(replayed.exceptAll(wholesale).isEmpty)
  }

  test("session_window closes sessions at the inactivity gap") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[EventRow]
    src.addData(
      row(1, 7, "2024-01-01 10:00:00", "click", 1.0),
      row(2, 7, "2024-01-01 10:30:00", "click", 2.0),  // same session (< 1h gap)
      row(3, 7, "2024-01-01 12:30:00", "view", 5.0),   // gap > 1h -> new session
      row(4, 8, "2024-01-01 10:10:00", "view", 3.0))
    Streams.runToMemory(Streams.sessionAgg(src.toDF(), gap = "1 hour"),
      "sessions", OutputMode.Complete())
    val got = spark.table("sessions")
      .select($"s_start".cast("string"), $"user_id", $"n_events", $"sum_value")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", 7L, 2L, 3.0),
      ("2024-01-01 12:30:00", 7L, 1L, 5.0),
      ("2024-01-01 10:10:00", 8L, 1L, 3.0)))
  }

  test("stream-stream interval join attributes clicks within the window only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
    clicks.addData(
      (1L, ts("2024-01-01 10:20:00")),  // 20min after: attributed
      (2L, ts("2024-01-01 11:30:00")),  // 90min after: outside 1h window
      (3L, ts("2024-01-01 10:05:00")))  // no impression: dropped (inner)
    val joined = graft.streaming.Streams.intervalJoin(
      imps.toDF().toDF("ad_id", "imp_ts"),
      clicks.toDF().toDF("c_ad_id", "click_ts"), "ad_id", "c_ad_id")
    Streams.runToMemory(joined, "attrib", OutputMode.Append())
    val got = spark.table("attrib")
      .select($"ad_id", $"click_ts".cast("string"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2024-01-01 10:20:00")))
  }

  test("supervisor listener alerts on abnormal query termination") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val alerts = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val sup = graft.streaming.Supervise.install(spark, (n, m) => alerts.add((n, m)))
    try {
      val src = MemoryStream[Int]
      src.addData(1, 2, 3)
      val q = src.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("induced-failure")
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sup-ckpt").toString)
        .start()
      intercept[Throwable](q.awaitTermination(60000))
      // listener delivery is async: poll until the termination lands
      val deadline = System.currentTimeMillis() + 30000
      while (alerts.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!alerts.isEmpty)
      assert(alerts.get(0)._2.contains("induced-failure"))
      assert(sup.terminations.size() >= 1)
    } finally spark.streams.removeListener(sup)
  }

  test("injected alert sink receives the alert on induced failure; file transport is durable") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two transports behind the same seam: a recording fake (the "topic
    // client" a deployment injects) and the durable file stand-in
    val received = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val dir = java.nio.file.Files.createTempDirectory("alert-sink").toString
    val fileSink = new graft.streaming.Supervise.FileAlertSink(dir)
    val sup = graft.streaming.Supervise.installSink(spark,
      new graft.streaming.Supervise.AlertSink {
        override def send(queryId: String, message: String): Unit = {
          received.add((queryId, message))
          fileSink.send(queryId, message)
        }
      })
    try {
      val src = MemoryStream[Int]
      src.addData(1)
      val q = src.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("induced-failure")
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("alert-ckpt").toString)
        .start()
      intercept[Throwable](q.awaitTermination(60000))
      val deadline = System.currentTimeMillis() + 30000
      while (received.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(!received.isEmpty)
      assert(received.get(0)._2.contains("induced-failure"))
      // the file leg is durable and well-formed: spark can read it back
      val back = spark.read.json(s"$dir/alerts.jsonl")
      assert(back.columns.toSet == Set("query_id", "message"))
      assert(back.filter(org.apache.spark.sql.functions.col("message")
        .contains("induced-failure")).count() >= 1)
    } finally spark.streams.removeListener(sup)
  }

  test("superviseRun restarts a failing query within its bounded budget") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    var startsSeen = 0
    val start = () => {
      startsSeen += 1
      val fail = startsSeen <= 2 // first two runs die, third succeeds
      val src = MemoryStream[Int]
      src.addData(1)
      src.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          if (fail) throw new RuntimeException(s"crash-$startsSeen")
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sup-restart").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val restarts = graft.streaming.Supervise.superviseRun(start, maxRestarts = 3)
    assert(restarts == 2)
    assert(startsSeen == 3)
    // exhausted budget rethrows the last failure (wrapped by the stream)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.Supervise.superviseRun(() => {
        val src = MemoryStream[Int]
        src.addData(1)
        src.toDF().writeStream
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new RuntimeException("always-fails")
          }
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("sup-exhaust").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }, maxRestarts = 1)
    }
  }

  test("mapGroupsWithState keeps running per-user stats across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val src = MemoryStream[EventRow]
    val stats = Streams.runningUserStats(src.toDS())
    val q = stats.writeStream.format("memory").queryName("ustats")
      .outputMode(OutputMode.Update()).start()
    src.addData(row(1, 7, "2024-01-01 10:00:00", "click", 1.5))
    q.processAllAvailable()
    src.addData(
      row(2, 7, "2024-01-01 11:00:00", "view", 2.5),
      row(3, 8, "2024-01-01 11:30:00", "click", 4.0))
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("ustats")
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"),
        org.apache.spark.sql.functions.max("sum_value").as("s"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // user 7 accumulated across two micro-batches: state survived
    assert(byUser(7L) == ((2L, 4.0)))
    assert(byUser(8L) == ((1L, 4.0)))
  }

  test("graft change-feed stream: N source commits arrive as N micro-batches; folded replica == source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.ManifestTable
    val baseDir = java.nio.file.Files.createTempDirectory("gstream").toString
    val src = s"$baseDir/src"; val dst = s"$baseDir/dst"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p"))) // v1: the stream's seed snapshot
    val stream = spark.readStream.format("graft")
      .schema(schema).option("key", "id").load(src)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == Seq("_change_type", "id", "p", "v"))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.localCheckpoint()
        try {
          batchSizes += b.count()
          val ups = b.filter(col("_change_type").isin("insert", "update_postimage"))
            .drop("_change_type")
          val dels = b.filter(col("_change_type") === "delete").select("id", "p")
          if (!ManifestTable.exists(spark, dst))
            ManifestTable.commit(ups, dst, Some(PartSpec.Identity("p")))
          else if (ups.count() + dels.count() > 0)
            ManifestTable.mergeDv(ups, dst, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil,
              Nil,
              Some(dels), None)
        } finally org.apache.spark.sql.graft.Checkpoints.release(b)
        ()
    }.option("checkpointLocation", s"$baseDir/ckpt").start()
    q.processAllAvailable() // batch 0: seed (3 inserts)
    // v2: merge-on-read upsert; v3: DV delete — committed AFTER stream start
    ManifestTable.mergeDv(Seq((2L, "b", 22L), (4L, "a", 4L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    ManifestTable.deleteWhere(spark, src, schema, col("id") === 1L)
    q.processAllAvailable()
    q.stop()
    // one micro-batch per source version: seed, v1->v2 (3 changes: pre+post
    // for id=2 and insert id=4), v2->v3 (1 delete)
    assert(batchSizes.toSeq == Seq(3L, 3L, 1L), s"batches: $batchSizes")
    def snap(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, String, Long)].collect().toSet
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((2L, "b", 22L), (3L, "b", 3L), (4L, "a", 4L)))
    // RESTART from the checkpoint: a further source commit arrives as one
    // batch; nothing before the checkpointed offset replays
    batchSizes.clear()
    ManifestTable.mergeDv(Seq((3L, "b", 33L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    val q2 = spark.readStream.format("graft")
      .schema(schema).option("key", "id").load(src)
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val b = batch.localCheckpoint()
          try {
            batchSizes += b.count()
            val ups = b.filter(col("_change_type").isin("insert", "update_postimage"))
              .drop("_change_type")
            val dels = b.filter(col("_change_type") === "delete").select("id", "p")
            if (ups.count() + dels.count() > 0)
              ManifestTable.mergeDv(ups, dst, schema, Seq("id"), Some(PartSpec.Identity("p")),
                Nil, Nil,
                Some(dels), None)
          } finally org.apache.spark.sql.graft.Checkpoints.release(b)
          ()
      }.option("checkpointLocation", s"$baseDir/ckpt").start()
    q2.processAllAvailable()
    q2.stop()
    assert(batchSizes.toSeq == Seq(2L), s"post-restart batches: $batchSizes") // pre+post of id=3
    assert(snap(dst) == snap(src))
  }

  test("graft stream maxVersionsPerBatch chunks the backlog; net-diff folding stays correct") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.ManifestTable
    val baseDir = java.nio.file.Files.createTempDirectory("gchunk").toString
    val src = s"$baseDir/src"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(Seq((1L, "a", 1L)).toDF("id", "p", "v"), src,
      Some(PartSpec.Identity("p"))) // v1
    // v2..v5: four updates of the SAME key — net diff inside one chunk
    // collapses intermediates
    for (i <- 2L to 5L)
      ManifestTable.mergeDv(Seq((1L, "a", i * 10)).toDF("id", "p", "v"),
        src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[(String, Long)]]
    val q = spark.readStream.format("graft").schema(schema)
      .option("key", "id").option("maxVersionsPerBatch", "2").load(src)
      .writeStream.foreachBatch {
        (b0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batches += b0.select(col("_change_type"), col("v"))
            .collect().map(r => (r.getString(0), r.getLong(1))).toSet
          ()
      }.option("checkpointLocation", s"$baseDir/ckpt").start()
    q.processAllAvailable()
    q.stop()
    // seed at v1, then the 4 update versions arrive as TWO 2-version
    // chunks, each netting to one pre/post pair
    assert(batches.toSeq == Seq(
      Set(("insert", 1L)),
      Set(("update_preimage", 1L), ("update_postimage", 30L)),
      Set(("update_preimage", 30L), ("update_postimage", 50L))))
  }

  test("graft streaming sink: append mode lands batches exactly once; replayed batchId is a no-op") {
    import spark.implicits._
    import graft.sources.ManifestTable
    implicit val sq = spark.sqlContext
    val baseDir = java.nio.file.Files.createTempDirectory("gsink").toString
    val root = s"$baseDir/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "p")
      .writeStream.format("graft").option("partitionBy", "p")
      .option("checkpointLocation", s"$baseDir/ckpt").start(root)
    src.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    src.addData((3L, "a"))
    q.processAllAvailable()
    q.stop()
    def rows() = ManifestTable.read(spark, root, schema)
      .as[(Long, String)].collect().toSet
    assert(rows() == Set((1L, "a"), (2L, "b"), (3L, "a")))
    // a crash-replay re-delivers the SAME batchId: must not double-append
    val sink = new org.apache.spark.sql.graft.GraftStreamSink(
      spark.sqlContext, root, Some("p"), Nil, cdf = false)
    sink.addBatch(1L, Seq((3L, "a")).toDF("id", "p"))
    assert(rows() == Set((1L, "a"), (2L, "b"), (3L, "a"))) // unchanged
    // a genuinely new batch id lands
    sink.addBatch(2L, Seq((4L, "b")).toDF("id", "p"))
    assert(rows() == Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b")))
    // CRASH WINDOW: the commit landed but the process died before the
    // marker file was written. The #batch directive inside the manifest is
    // the atomic record — a replay of the same batch id must STILL skip,
    // even with every marker file gone.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.getPath.getName.startsWith("_sink.batch."))
      .foreach(st => fs.delete(st.getPath, false))
    sink.addBatch(2L, Seq((4L, "b")).toDF("id", "p"))
    assert(rows() == Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b")),
      "marker-less replay after a marker-write-window crash must not double-append")
  }

  test("graft sink: one pass per batch, and a batch with nothing to apply publishes no version") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.graft.GraftStreamSink
    val baseDir = java.nio.file.Files.createTempDirectory("gonepass").toString
    val src = s"$baseDir/src"; val dst = s"$baseDir/dst"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, p STRING, v BIGINT")
    val spec = Some(PartSpec.Identity("p"))
    def rows(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, String, Long)].collect().toSet
    // a keyed batch over a local frame: the stage write and the positions scan
    val keyed = new GraftStreamSink(spark.sqlContext, s"$baseDir/keyed", Some("p"), Seq("id"),
      cdf = false)
    keyed.addBatch(0L, Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "v"))
    assert(jobsIn { keyed.addBatch(1L, Seq((1L, "a", 10L), (5L, "b", 5L)).toDF("id", "p", "v")) }
      <= 2)
    assert(rows(s"$baseDir/keyed") == Set((1L, "a", 10L), (2L, "b", 2L), (5L, "b", 5L)))
    // a cdf batch: the change feed's two map stages, then the same two jobs
    ManifestTable.commit(Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L)).toDF("id", "p", "v"),
      src, spec)
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    ManifestTable.mergeDv(Seq((2L, "b", 22L), (4L, "a", 4L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), spec, deleteKeys = Some(Seq((3L, "b")).toDF("id", "p")),
      deletePartitions = Some(Seq("p=b")))
    var applied = 0
    assert(jobsIn { applied = ManifestTable.replicate(spark, src, dst, schema, Seq("id"),
      Some("p")) } <= 4)
    assert(applied == 1 && rows(dst) == rows(src))
    // a content-identical compaction: its change batch holds no row
    ManifestTable.compact(spark, ManifestTable.snapshot(spark, src), schema, spec)
    val dstV = ManifestTable.currentVersion(spark, dst)
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 1)
    assert(ManifestTable.currentVersion(spark, dst) == dstV && rows(dst) == rows(src))
    assert(ManifestTable.replicate(spark, src, dst, schema, Seq("id"), Some("p")) == 0)
    // empty append batches, partitioned and not: the batch is recorded, no version
    for (part <- Seq(Some("p"), None)) {
      val root = s"$baseDir/app-${part.isDefined}"
      val app = new GraftStreamSink(spark.sqlContext, root, part, Nil, cdf = false)
      app.addBatch(0L, Seq((1L, "a", 1L)).toDF("id", "p", "v"))
      val v = ManifestTable.currentVersion(spark, root)
      app.addBatch(1L, Seq.empty[(Long, String, Long)].toDF("id", "p", "v"))
      assert(ManifestTable.currentVersion(spark, root) == v, part)
      assert(app.lastCommitted() == 1L && rows(root) == Set((1L, "a", 1L)), part)
    }
  }

  test("graft sink compactEvery bounds file and version counts across many merge batches") {
    import spark.implicits._
    import graft.sources.ManifestTable
    implicit val sq = spark.sqlContext
    val baseDir = java.nio.file.Files.createTempDirectory("gcomp").toString
    val root = s"$baseDir/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val src = MemoryStream[(Long, String, Long)]
    val q = src.toDF().toDF("id", "p", "v")
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id")
      .option("compactEvery", "2")
      .option("checkpointLocation", s"$baseDir/ckpt").start(root)
    // 6 merge batches, each upserting the same 2 keys + inserting one new
    for (i <- 1L to 6L) {
      src.addData((1L, "a", i), (2L, "b", i * 10), (100L + i, "a", i))
      q.processAllAvailable()
    }
    q.stop()
    assert(ManifestTable.read(spark, root, schema)
      .as[(Long, String, Long)].collect().toSet ==
      ((1L to 6L).map(i => (100L + i, "a", i)).toSet
        + ((1L, "a", 6L)) + ((2L, "b", 60L))))
    // compaction folded the append log: only the retained window of
    // versions is on disk (current + 1 behind), each partition one file
    val vs = ManifestTable.versions(spark, root)
    assert(vs.size <= 4, s"versions on disk: $vs")
    val files = ManifestTable.detail(spark, root).map(_._3).sum
    assert(files <= 8, s"live files: $files")
    // only the post-compact batches' masked positions remain (bounded by
    // one batch's upserts), never the 6-batch accumulation
    assert(ManifestTable.deletedRowCount(spark, root) <= 2L)
  }

  test("a merge sink batch with compactEvery = 4 lists the table root at most 8 times, 12 when compacting") {
    import spark.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.graft.GraftStreamSink
    spark.sparkContext.hadoopConfiguration.set("fs.cntfs.impl", classOf[ListCountingFs].getName)
    val local = java.nio.file.Files.createTempDirectory("gsinklist").toString + "/t"
    val sink = new GraftStreamSink(spark.sqlContext, "cntfs://" + local, Some("p"), Seq("id"),
      cdf = false, compactEvery = 4)
    sink.addBatch(0L, Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "p", "v"))
    // root listings per batch: batches 4 and 8 compact. The batch resolves
    // one snapshot from its progress listing, so a steady batch lists 3
    // times (progress, publish, vacuum); a compacting one adds the
    // compaction's one snapshot and its publish, 5 — tighter than the
    // bounds this test is named for
    val lists = (1L to 8L).map { b =>
      ListCountingFs.clear()
      sink.addBatch(b, Seq((1L, "a", b), (2L, "b", b * 10), (100L + b, "a", b)).toDF("id", "p", "v"))
      b -> ListCountingFs.listsOf(local)
    }.toMap
    val (compacting, steady) = lists.partition(_._1 % 4 == 0)
    assert(steady.values.max <= 3 && compacting.values.max <= 5,
      s"root listings per batch: ${lists.toSeq.sorted.mkString(", ")}")
    assert(ManifestTable.read(spark, local,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, p STRING, v BIGINT"))
      .as[(Long, String, Long)].collect().toSet ==
      (1L to 8L).map(b => (100L + b, "a", b)).toSet + ((1L, "a", 8L)) + ((2L, "b", 80L)))
    assert(sink.lastCommitted() == 8L)
  }

  test("graft sink compactEvery keeps the version a change-feed reader one batch behind resumes from") {
    import spark.implicits._
    import graft.sources.ManifestTable
    implicit val sq = spark.sqlContext
    val baseDir = java.nio.file.Files.createTempDirectory("gcomptrail").toString
    val root = s"$baseDir/t"; val rep = s"$baseDir/rep"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val src = MemoryStream[(Long, String, Long)]
    val q = src.toDF().toDF("id", "p", "v")
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id")
      .option("compactEvery", "2")
      .option("checkpointLocation", s"$baseDir/ckpt").start(root)
    // the change-feed reader trails the sink by one batch: it runs after
    // each sink batch, from the version that batch started from — and every
    // second sink batch publishes two versions (merge, then compact). It
    // polls through `replicate` because a live reader stream races the sink
    // (it usually reads the merge version before the vacuum runs), and a
    // restarted one re-reads its last committed window, one version
    // further back than a reader one batch behind
    def replicate(): Unit = ManifestTable.replicate(spark, root, rep, schema, Seq("id"), Some("p"))
    try {
      src.addData((1L, "a", 0L), (2L, "b", 0L))
      q.processAllAvailable()
      replicate()
      for (i <- 1L to 6L) {
        src.addData((1L, "a", i), (2L, "b", i * 10), (100L + i, if (i % 2 == 0) "a" else "b", i))
        q.processAllAvailable()
        replicate()
      }
    } finally q.stop()
    def rows(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, String, Long)].collect().toSet
    assert(rows(root) == (1L to 6L).map(i => (100L + i, if (i % 2 == 0) "a" else "b", i)).toSet
      + ((1L, "a", 6L)) + ((2L, "b", 60L)))
    assert(rows(rep) == rows(root))
  }

  test("readStream -> writeStream(cdf): continuous replication with zero driver code") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.ManifestTable
    val baseDir = java.nio.file.Files.createTempDirectory("gpipe").toString
    val src = s"$baseDir/src"; val dst = s"$baseDir/dst"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    ManifestTable.commit(
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "b", 3L)).toDF("id", "p", "v"),
      src, Some(PartSpec.Identity("p")))
    val q = spark.readStream.format("graft").schema(schema)
      .option("key", "id").load(src)
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
      .option("checkpointLocation", s"$baseDir/ckpt").start(dst)
    q.processAllAvailable() // seed replicated
    ManifestTable.mergeDv(Seq((2L, "b", 22L), (4L, "a", 4L)).toDF("id", "p", "v"),
      src, schema, Seq("id"), Some(PartSpec.Identity("p")), Nil, Nil, None, None)
    ManifestTable.deleteWhere(spark, src, schema, col("id") === 3L)
    q.processAllAvailable()
    q.stop()
    def snap(r: String) = ManifestTable.read(spark, r, schema)
      .as[(Long, String, Long)].collect().toSet
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Set((1L, "a", 1L), (2L, "b", 22L), (4L, "a", 4L)))
  }

  test("catalog-name streaming: readStream.table -> writeStream.toTable replicates by name") {
    import spark.implicits._
    // fresh catalog name per warehouse — Spark caches catalog instances
    val wh = java.nio.file.Files.createTempDirectory("gstream-wh").toString
    spark.conf.set("spark.sql.catalog.gstream",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstream.db")
    // the change-feed source's merge key comes from TBLPROPERTIES (reader
    // options don't flow through the analyzer's V1 streaming fallback)
    spark.sql("CREATE TABLE gstream.db.src (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('mergeKey'='id')")
    spark.sql("CREATE TABLE gstream.db.dst (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO gstream.db.src VALUES (1,'a',1),(2,'b',2),(3,'b',3)")
    val ckpt = java.nio.file.Files.createTempDirectory("gstream-ck").toString
    val q = spark.readStream.table("gstream.db.src")
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
      .option("checkpointLocation", ckpt)
      .toTable("gstream.db.dst")
    try {
      q.processAllAvailable() // seed replicated
      // one commit per DML shape: merge-on-read UPDATE, DV DELETE, append
      spark.sql("UPDATE gstream.db.src SET v = 22 WHERE id = 2")
      spark.sql("DELETE FROM gstream.db.src WHERE id = 3")
      spark.sql("INSERT INTO gstream.db.src VALUES (4,'a',4)")
      q.processAllAvailable()
    } finally q.stop()
    def snap(t: String) = spark.table(t).select("id", "p", "v")
      .as[(Long, String, Long)].collect().toSet
    assert(snap("gstream.db.dst") == snap("gstream.db.src"))
    assert(snap("gstream.db.dst") == Set((1L, "a", 1L), (2L, "b", 22L), (4L, "a", 4L)))
  }

  /** A fresh catalog `name` over a fresh warehouse, with namespace `db`. */
  private def streamCatalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"$name-wh").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  /** Stream `rows` into catalog table `t` as one batch of a `toTable` sink. */
  private def streamInto(t: String, rows: (Long, String, String)*): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String, String)]
    val q = src.toDF().toDF("k", "v", "p").writeStream.format("graft")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gsink-ck").toString)
      .toTable(t)
    try { src.addData(rows: _*); q.processAllAvailable() } finally q.stop()
  }

  test("a toTable sink batch zone-maps and Bloom-indexes the table's declared columns") {
    streamCatalog("gsdecl")
    spark.sql("CREATE TABLE gsdecl.db.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES ('statsCols'='k', 'bloomCols'='v')")
    streamInto("gsdecl.db.t", (1L, "a", "x"), (2L, "b", "y"))
    val files = spark.sql("SELECT zone_mins, bloom_cols FROM gsdecl.db.t.files").collect()
    assert(files.nonEmpty && files.forall(r =>
      r.getMap[String, String](0).contains("k") && r.getSeq[String](1).contains("v")),
      files.mkString("; "))
  }

  test("after set_partitioning(t, '') a sink batch lands unpartitioned like an INSERT") {
    streamCatalog("gsunp")
    spark.sql("CREATE TABLE gsunp.db.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO gsunp.db.t VALUES (1, 'a', 'a')")
    spark.sql("CALL gsunp.system.set_partitioning('db.t', '')")
    streamInto("gsunp.db.t", (2L, "b", "b"))
    spark.sql("INSERT INTO gsunp.db.t VALUES (3, 'c', 'c')")
    // the retired identity(p) layout holds only the pre-evolution commit
    val dirs = spark.sql("SELECT data_version, partition FROM gsunp.db.t.files").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dirs.filter(_._1 > 1L).map(_._2) == Set(""), dirs)
    assert(spark.table("gsunp.db.t").count() == 3)
  }

  test("a coordinated column rename between stream runs resumes from the same checkpoint") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("gstream3-wh").toString
    spark.conf.set("spark.sql.catalog.gstream3",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream3.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstream3.db")
    spark.sql("CREATE TABLE gstream3.db.src (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('mergeKey'='id')")
    spark.sql("CREATE TABLE gstream3.db.dst (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO gstream3.db.src VALUES (1,'a',1),(2,'b',2)")
    val ckpt = java.nio.file.Files.createTempDirectory("gstream3-ck").toString
    def run(): Unit = {
      val q = spark.readStream.table("gstream3.db.src")
        .writeStream.format("graft")
        .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
        .option("checkpointLocation", ckpt)
        .toTable("gstream3.db.dst")
      try q.processAllAvailable() finally q.stop()
    }
    run() // seed replicated under the old name
    // coordinated evolution: rename on BOTH ends between runs (the offset
    // log stores source VERSIONS, not column names, and the replication
    // query is stateless — so the same checkpoint must resume; pre-rename
    // source versions replay by field id under the new name)
    spark.sql("ALTER TABLE gstream3.db.src RENAME COLUMN v TO val2")
    spark.sql("ALTER TABLE gstream3.db.dst RENAME COLUMN v TO val2")
    spark.sql("UPDATE gstream3.db.src SET val2 = 22 WHERE id = 2")
    spark.sql("INSERT INTO gstream3.db.src VALUES (3,'a',3)")
    run()
    def snap(t: String) = spark.table(t).select("id", "p", "val2")
      .as[(Long, String, Long)].collect().toSet
    assert(snap("gstream3.db.dst") == snap("gstream3.db.src"))
    assert(snap("gstream3.db.dst") == Set((1L, "a", 1L), (2L, "b", 22L), (3L, "a", 3L)))
  }

  test("a merge-key rename between stream runs follows the mergeKey property") {
    // ADVICE r17: RENAME COLUMN rewrites the mergeKey table property like
    // statsCols/bloomCols — without it the change-feed seam (TBLPROPERTIES
    // mergeKey -> the source's 'key' option) would resolve the DEAD name
    // and the resumed stream would fail at start.
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("gstream4-wh").toString
    spark.conf.set("spark.sql.catalog.gstream4",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream4.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstream4.db")
    spark.sql("CREATE TABLE gstream4.db.src (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('mergeKey'='id')")
    spark.sql("CREATE TABLE gstream4.db.dst (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql("INSERT INTO gstream4.db.src VALUES (1,'a',1),(2,'b',2)")
    val ckpt = java.nio.file.Files.createTempDirectory("gstream4-ck").toString
    def run(key: String): Unit = {
      val q = spark.readStream.table("gstream4.db.src")
        .writeStream.format("graft")
        .option("partitionBy", "p").option("mergeKey", key).option("cdf", "true")
        .option("checkpointLocation", ckpt)
        .toTable("gstream4.db.dst")
      try q.processAllAvailable() finally q.stop()
    }
    run("id")
    // coordinated rename of the MERGE KEY itself on both ends
    spark.sql("ALTER TABLE gstream4.db.src RENAME COLUMN id TO doc_id")
    spark.sql("ALTER TABLE gstream4.db.dst RENAME COLUMN id TO doc_id")
    val props = spark.sql("SHOW TBLPROPERTIES gstream4.db.src").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("mergeKey").contains("doc_id"), props.toString)
    spark.sql("UPDATE gstream4.db.src SET v = 22 WHERE doc_id = 2")
    spark.sql("INSERT INTO gstream4.db.src VALUES (3,'a',3)")
    run("doc_id") // resumes from the SAME checkpoint under the new key name
    def snap(t: String) = spark.table(t).select("doc_id", "p", "v")
      .as[(Long, String, Long)].collect().toSet
    assert(snap("gstream4.db.dst") == snap("gstream4.db.src"))
    assert(snap("gstream4.db.dst")
      == Set((1L, "a", 1L), (2L, "b", 22L), (3L, "a", 3L)))
  }

  test("toTable auto-creates a missing target with the FOLDED schema, not the feed's") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("gstream2-wh").toString
    spark.conf.set("spark.sql.catalog.gstream2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstream2.db")
    spark.sql("CREATE TABLE gstream2.db.src (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('mergeKey'='id')")
    spark.sql("INSERT INTO gstream2.db.src VALUES (1,'a',1),(2,'b',2)")
    val ckpt = java.nio.file.Files.createTempDirectory("gstream2-ck").toString
    val q = spark.readStream.table("gstream2.db.src")
      .writeStream.format("graft")
      .option("partitionBy", "p").option("mergeKey", "id").option("cdf", "true")
      .option("checkpointLocation", ckpt)
      .toTable("gstream2.db.dst") // does NOT exist: DataStreamWriter creates it
    try q.processAllAvailable() finally q.stop()
    val cols = spark.table("gstream2.db.dst").columns.toSeq
    // DataStreamWriter creates the table with the STREAM's schema (which
    // carries _change_type); the cdf sink heals the sidecar at start —
    // the feed's metadata column must not survive as a declared
    // always-NULL data column
    assert(cols.toSet == Set("id", "p", "v"),
      s"auto-created target must declare the folded schema, got $cols")
    assert(spark.table("gstream2.db.dst").select("id", "p", "v")
      .as[(Long, String, Long)].collect().toSet == Set((1L, "a", 1L), (2L, "b", 2L)))
  }
}
