package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/**
 * r17 probe-execution pin: `changeEvents` used to size-probe its input with
 * `table.rdd.getNumPartitions`, which under AQE EXECUTES every exchange in
 * the input plan (AdaptiveSparkPlanExec materializes all query stages before
 * reporting partitioning) — each rangeSorted caller paid a full discarded
 * scan+shuffle of its source at DataFrame-BUILD time (measured: cdc_routing
 * ×10 task-CPU doubled). The probe is now gated to leaf relations, where it
 * is a free file-split listing. This spec pins both halves:
 *  - building changeEvents over a repartitioned (non-leaf) input launches
 *    ZERO Spark jobs;
 *  - the non-leaf input is NOT re-spread (its partitioning survives).
 */
class CdcSynthBuildSpec extends SparkSpec {

  test("changeEvents build over a non-leaf input launches zero jobs") {
    import spark.implicits._
    val src = (1L to 100L).map(i => (i, s"v$i")).toDF("pk", "v")
      .repartitionByRange(4, col("pk"))
    // The listener bus is asynchronous but delivers events in order: once
    // a sentinel job run AFTER the build has been seen, every job the build
    // launched has been seen too — so exactly one job must be counted.
    val sentinel = "cdcsynth-build-sentinel"
    val jobs = new ConcurrentLinkedQueue[String]()
    val sentinelSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${j.jobId}")
        jobs.add(desc)
        if (desc == sentinel) sentinelSeen.countDown()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val ev = CdcSynth.changeEvents(src, "db", "t", "pk")
      ev.queryExecution.optimizedPlan // force full analysis/optimization
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      val seen = jobs.asScala.toSeq
      assert(seen == Seq(sentinel), s"changeEvents build launched ${seen.size - 1} job(s) " +
        s"(${seen.mkString(", ")}) — the partition probe is executing the input's exchanges again")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("non-leaf input keeps its caller-arranged partitioning (no re-spread)") {
    import spark.implicits._
    val src = (1L to 100L).map(i => (i, s"v$i")).toDF("pk", "v")
      .repartitionByRange(2, col("pk"))
    val ev = CdcSynth.changeEvents(src, "db", "t", "pk")
    val plan = ev.queryExecution.optimizedPlan.toString
    // exactly ONE repartition node: the caller's RepartitionByExpression —
    // a second (round-robin `Repartition`) would be the re-spread
    val nodes = "Repartition".r.findAllIn(plan).size
    assert(nodes == 1, s"expected exactly the caller's repartition, plan:\n$plan")
  }
}
