package graftbench

/** The per-layer metrics of a traced run. `_per_op` divides by every timed
  * operation, `_per_read` and `_per_write` by the read-only and the writing
  * operations. Metrics a workload does not exercise read 0.
  */
object Layers {
  val Groups = Seq("op", "read", "write")

  /** Per-operation counters, each reported for every group. */
  val PerOp: Seq[String] = Seq(
    "spark.jobs", "spark.tasks", "spark.cpu_s", "spark.shuffle_bytes",
    "spark.input_bytes", "driver.gap_s", "manifest.job_s", "manifest.files_read") ++
    CountingFs.Ops.map(o => s"fs.$o") ++ Seq("fs.bytes_written")

  /** Layer self times per operation, from the span tree. */
  val SelfLayers = Seq("op", "cdc", "change_feed", "catalog", "query", "spark")

  /** The registered queries in the warehouse_sql mix. */
  val Queries = Seq("q01_pricing_agg", "q41_winnow")

  val Workload: Seq[String] = Seq(
    "cdc.batch_s", "cdc.add_batch_s", "cdc.get_batch_s", "cdc.compact_batch_s",
    "change_feed.latest_offset_s", "change_feed.get_batch_s", "stream_sink.add_batch_s",
    "stream.wal_s", "catalog.plan_s",
    "sql.point_s", "sql.range_agg_s", "sql.full_agg_s", "sql.merge_s", "sql.update_s",
    "sql.delete_s", "sql.maintenance_s",
    "manifest.versions_live", "manifest.files_live", "scan.rows_read_per_row_returned") ++
    Queries.flatMap(q => Seq(s"query.${q}_s", s"query.$q.jobs"))

  val Overhead = Seq("trace.untraced_p50_s", "trace.traced_p50_s", "trace.overhead_s")

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] =
    PerOp.flatMap(m => Groups.map(g => s"${m}_per_$g")) ++
      SelfLayers.map(l => s"self.${l}_s_per_op") ++ Workload ++ Overhead

  /** Fill in 0 for every metric the run did not produce, in report order. */
  def complete(got: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = got.toMap
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    if (m.isEmpty) Nil else names.map(n => n -> m.getOrElse(n, 0.0))
  }

  /** Counters and self times shared by every workload. */
  def generic(probe: Probe): Seq[(String, Double)] = {
    val ops = probe.ops
    val placed = probe.placedJobs()
    val jobsByOp: Map[Long, Seq[JobRecord]] =
      placed.flatMap { case (j, s) => s.map(_.op -> j) }.groupBy(_._1)
        .map { case (op, xs) => op -> xs.map(_._2) }
    def perOp(o: OpRec): Map[String, Double] = {
      val js = jobsByOp.getOrElse(o.id, Nil)
      val opStart = probe.epochMs(o.startNs)
      val opEnd = probe.epochMs(o.endNs)
      val jobMs = Trace.unionLength(js.map(j =>
        (math.max(j.startMs, opStart), math.min(j.endMs, opEnd))))
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.tasks" -> js.map(_.tasks).sum.toDouble,
        "spark.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        "spark.input_bytes" -> js.map(_.inputBytes).sum.toDouble,
        "driver.gap_s" -> (o.seconds - jobMs / 1000.0),
        "manifest.job_s" -> js.filter(_.site == "ManifestTable.scala")
          .map(j => j.endMs - j.startMs).sum / 1000.0,
        "manifest.files_read" -> o.fs.getOrElse("driver.open_meta", 0L).toDouble,
        "fs.bytes_written" -> o.fs.getOrElse("bytes_written", 0L).toDouble
      ) ++ CountingFs.Ops.map(op => s"fs.$op" -> o.fs.getOrElse(s"driver.$op", 0L).toDouble)
    }
    val rows = ops.map(o => o -> perOp(o))
    val grouped = Seq(
      "op" -> rows,
      "read" -> rows.filter(_._1.read),
      "write" -> rows.filterNot(_._1.read))
    val counters = for {
      (g, rs) <- grouped
      m <- PerOp
    } yield s"${m}_per_$g" -> (if (rs.isEmpty) 0.0 else rs.map(_._2(m)).sum / rs.size)

    val self = Trace.selfTimeByLayer(probe.allSpans())
    val selfMetrics = SelfLayers.map(l =>
      s"self.${l}_s_per_op" -> self.getOrElse(l, 0L) / 1e9 / math.max(1, ops.size))
    counters ++ selfMetrics
  }
}
