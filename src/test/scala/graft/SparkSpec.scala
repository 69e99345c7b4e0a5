package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites; JVM exit cleans up

  /**
   * The number of Spark jobs `body` launches from this thread or from
   * threads it starts (they inherit its job tag). The listener bus is
   * asynchronous but delivers events in order: once a sentinel job run
   * AFTER `body` has been seen, every job `body` launched has been seen.
   */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"graft-test-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(sentinel)) sentinelSeen.countDown()
        else if (prop("spark.job.tags").exists(_.split(",").contains(tag))) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
