package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Dev tool: profile registered queries in the Bench session and protocol.
  *
  * {{{
  *   runMain graft.Dev prof <sfDir> <prefix>...         warm run, then 3 timed noop runs; prints the min
  *   runMain graft.Dev plan <sfDir> <outDir> <name>...  formatted final-frame plan to <outDir>/<name>.txt
  *   runMain graft.Dev jobs <sfDir> <name>              warm run, then one run under the job listener
  * }}}
  *
  * A plan plus timed runs of one query is `plan` followed by `prof`.
  */
object Dev {
  private val Usage =
    "usage: graft.Dev prof <sfDir> <prefix>... | plan <sfDir> <outDir> <name>... | jobs <sfDir> <name>"

  def main(args: Array[String]): Unit = {
    val cmd: SparkSession => Unit = args.toSeq match {
      case Seq("prof", sfDir, prefixes @ _*) if prefixes.nonEmpty => prof(_, sfDir, prefixes)
      case Seq("plan", sfDir, outDir, names @ _*) if names.nonEmpty => plan(_, sfDir, outDir, names)
      case Seq("jobs", sfDir, name) => jobs(_, sfDir, name)
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val spark = GraftSession.build()
    try cmd(spark) finally spark.stop()
  }

  /** Steady-state time of every query whose name starts with a prefix. */
  private def prof(spark: SparkSession, sfDir: String, prefixes: Seq[String]): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        GraftSession.noopRun(spark)(fn(spark, sfDir)) // warm
        val times = (1 to 3).map(_ => GraftSession.noopRun(spark)(fn(spark, sfDir)))
        println(f"PROF $name%-28s min=${times.min}%.2f runs=${times.map(t => f"$t%.2f").mkString(",")}")
      }

  /** The formatted plan of each query's FINAL frame. Building a frame runs
    * whatever setup the query does (temp tables, checkpoints); only the
    * returned frame's plan is captured.
    */
  private def plan(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), plan)
        println(s"[plan] wrote $name (${plan.length} chars)")
      } catch {
        case e: Throwable => System.err.println(s"[plan] $name FAILED: $e")
      }
      GraftSession.reset(spark)
    }
  }

  /** One steady-state run of `name` with every job's wall time, stage and
    * task counts and callsite, printed slowest-first, plus the driver gaps
    * between jobs and a histogram of the driver frames sampled while no job
    * ran — shows WHERE a multi-action query (DDL lifecycle, streaming,
    * iterative training) spends its time.
    */
  private def jobs(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    GraftSession.noopRun(spark)(fn(spark, sfDir)) // warm (codegen/JIT)

    case class J(id: Int, start: Long, stages: Int, tasks: Int, site: String,
                 stageIds: Seq[Int], var end: Long = 0L)
    case class St(name: String, tasks: Int, var ms: Long = -1L, var taskMs: Long = 0L)
    val jobsM = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val stagesM = scala.collection.mutable.LinkedHashMap.empty[Int, St]
    val runningJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        runningJobs.incrementAndGet()
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobsM.synchronized {
          jobsM(e.jobId) = J(e.jobId, e.time, e.stageInfos.size,
            e.stageInfos.map(_.numTasks).sum, site, e.stageInfos.map(_.stageId))
          e.stageInfos.foreach(si => stagesM(si.stageId) = St(si.name, si.numTasks))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobsM.synchronized {
          stagesM.get(e.stageInfo.stageId).foreach { st =>
            st.ms = (for {a <- e.stageInfo.completionTime
                          b <- e.stageInfo.submissionTime} yield a - b).getOrElse(-1L)
            st.taskMs = e.stageInfo.taskMetrics.executorRunTime
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        runningJobs.decrementAndGet()
        jobsM.synchronized { jobsM.get(e.jobId).foreach(_.end = e.time) }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // gap attribution: whenever NO job runs, sample the deepest Spark,
    // graft, Hadoop or Parquet frame of the driver's working threads — the
    // histogram names what the driver does between jobs (planning,
    // manifest I/O, renames)
    val gapHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        if (runningJobs.get() == 0) Thread.getAllStackTraces.forEach { (t, frames) =>
          val n = t.getName
          if (n.contains("ForkJoinPool") || n.startsWith("pool-") || n == "main" ||
              n.contains("command"))
            frames.find { f =>
              val c = f.getClassName
              Seq("org.apache.spark.sql", "graft", "org.apache.hadoop", "org.apache.parquet")
                .exists(c.startsWith) &&
                !c.startsWith("graft.Dev") && !c.startsWith("graft.GraftSession")
            }.foreach { f =>
              val key = f.getClassName.split("\\.").takeRight(2).mkString(".") +
                "." + f.getMethodName
              gapHist.merge(key, 1, (a, b) => a + b)
            }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val total = GraftSession.noopRun(spark)(fn(spark, sfDir))
    sampling = false
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    val done = jobsM.synchronized { jobsM.values.toSeq }
    println(f"PROFJOBS $name total=$total%.2f s, ${done.size} jobs, " +
      f"sum=${done.map(j => (j.end - j.start) / 1e3).sum}%.2f s")
    // driver-side gaps: time between one job's end and the next job's start
    // (planning, manifest/sidecar I/O, DDL) — where job-count-bound queries
    // spend their "missing" wall time
    val gaps = done.sortBy(_.start).sliding(2).collect {
      case Seq(a, b) => (b.id, math.max(0L, b.start - a.end))
    }.toSeq
    println(f"  gaps total=${gaps.map(_._2).sum / 1e3}%.2f s; largest:")
    gaps.sortBy(-_._2).take(12).foreach { case (id, g) =>
      println(f"    before job $id%4d: ${g / 1e3}%6.3f s")
    }
    println("  gap-time driver frames (10ms samples while no job ran):")
    import scala.jdk.CollectionConverters._
    gapHist.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"    $n%5d  $k")
    }
    done.sortBy(j => -(j.end - j.start)).take(40).foreach { j =>
      println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s  " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
      if (j.end - j.start >= 300) j.stageIds.foreach { sid =>
        stagesM.get(sid).foreach { st =>
          println(f"      stage $sid%4d ${st.ms / 1e3}%7.3f s " +
            f"(taskSum=${st.taskMs / 1e3}%.2f s, tasks=${st.tasks}) ${st.name.take(90)}")
        }
      }
    }
  }
}
