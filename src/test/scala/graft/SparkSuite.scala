package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for operator suites — mirrors the harness config
  * (UTC, small shuffle partitions).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  /** Spark jobs `body` submits from this thread: counted under a fresh job
    * group by a listener, read after the async listener bus drains.
    */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${java.util.UUID.randomUUID()}"
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          counter.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsIn")
    try {
      body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      counter.get()
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites in one forked JVM; don't stop it here
    super.afterAll()
  }
}
