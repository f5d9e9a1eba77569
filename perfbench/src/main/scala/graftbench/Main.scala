package graftbench

import java.nio.file.{Files, Paths}

/** Runs one workload and writes its measurements as JSON.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <input dir> --work <scratch dir> --out <result file>
  * }}}
  *
  * The workload is set up [[Setups]] times, each in a fresh session on fresh
  * inputs (the first set-up counts from JVM start), then warmed up and
  * measured in the last session. With `--trace 1` it is then set up once
  * more in a session carrying the listeners and the counting file system,
  * warmed up and measured again: the per-layer metrics come from that
  * second measurement, and its p50 minus the first is the tracing overhead
  * (the traced phase runs on a warmer JVM, which biases the overhead low).
  */
object Main {
  val Setups = 3

  final case class Measured(setups: Seq[Double], warmupS: Double, report: Report, probe: Probe)

  def main(args: Array[String]): Unit =
    if (args.sameElements(Seq("--archive"))) loadSessionClasses() else run(args)

  /** Start and stop a session with one job and one SQL statement: the run
    * that the build records the class-data-sharing archive from.
    */
  private def loadSessionClasses(): Unit = {
    val spark = Session.build(traced = false)
    spark.range(100).selectExpr("sum(id)").collect()
    spark.sql("SELECT 1").collect()
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = opt("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    def measure(phase: String, setups: Int, instrumented: Boolean): Measured = {
      val times = Seq.newBuilder[Double]
      var last: (Workload, Probe) = null
      for (i <- 1 to setups) {
        val t0 = if (i == 1 && phase == "e2e") jvmStartMs else System.currentTimeMillis()
        val spark = Session.build(instrumented)
        val probe = new Probe(spark, instrumented)
        val wl = Workload(workload, seed, seconds, opt("data"))
        wl.setup(spark, s"$work/$phase-$i")
        times += (System.currentTimeMillis() - t0) / 1000.0
        if (i < setups) { wl.stop(); spark.stop() }
        else last = (wl, probe)
      }
      val (wl, probe) = last
      val w0 = System.nanoTime()
      wl.warmup()
      val warmupS = (System.nanoTime() - w0) / 1e9
      probe.drain()
      wl.run(probe)
      probe.drain()
      val report = wl.finish(probe.spark, probe)
      wl.stop()
      if (instrumented) {
        Files.writeString(Paths.get(work, "spans.json"), Trace.json(probe.allSpans()))
        Files.writeString(Paths.get(work, "progress.json"), Json.arr(
          probe.streams.map(_.progress).getOrElse(Nil).map(p => Json.obj(Seq(
            "query" -> Json.str(p.queryId), "batch" -> p.batchId.toString,
            "rows" -> p.numInputRows.toString,
            "duration_ms" -> Json.obj(p.durations.toSeq.map { case (k, v) => k -> v.toString })))))
          .replace("},{", "},\n{"))
      }
      probe.spark.stop()
      Measured(times.result(), warmupS, report, probe)
    }

    val e2e = measure("e2e", Setups, instrumented = false)
    val r = e2e.report
    val perLayer =
      if (!traced) Nil
      else {
        val t = measure("traced", 1, instrumented = true)
        val untracedP50 = Stats.median(r.latencies)
        val tracedP50 = Stats.median(t.report.latencies)
        Layers.generic(t.probe) ++ t.report.layers ++ Seq(
          "trace.untraced_p50_s" -> untracedP50,
          "trace.traced_p50_s" -> tracedP50,
          "trace.overhead_s" -> (tracedP50 - untracedP50))
      }
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "cores" -> Session.cores.toString,
      "setups_s" -> Json.arr(e2e.setups.map(Json.num)),
      "e2e" -> Json.obj(Seq(
        "setup_s" -> Json.num(Stats.median(e2e.setups)),
        "latency_p50_s" -> Json.num(Stats.median(r.latencies)),
        "ops_per_s" -> Json.num(r.opsPerS))),
      "named" -> Json.obj(Seq(
        "latency_tail_s" -> Workload.tailJson(r.latencies),
        "warmup_s" -> Json.num(e2e.warmupS)) ++ r.named),
      "per_layer" -> Json.obj(Layers.complete(perLayer).map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failedOps.toString,
      "problems" -> Json.arr(r.problems.map(Json.str))))
    Files.writeString(Paths.get(opt("out")), out)
  }
}
