package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * r17 probe-execution pin: `changeEvents` used to size-probe its input with
 * `table.rdd.getNumPartitions`, which under AQE EXECUTES every exchange in
 * the input plan (AdaptiveSparkPlanExec materializes all query stages before
 * reporting partitioning) — each rangeSorted caller paid a full discarded
 * scan+shuffle of its source at DataFrame-BUILD time (measured: cdc_routing
 * ×10 task-CPU doubled). The probe is now gated to inputs whose physical
 * plan has no exchange or subquery, where it is a free file-split listing.
 * This spec pins all three halves:
 *  - building changeEvents over a repartitioned input launches ZERO Spark
 *    jobs;
 *  - the repartitioned input is NOT re-spread (its partitioning survives);
 *  - a scan under a filter IS probed and spread.
 */
class CdcSynthBuildSpec extends SparkSpec {

  test("changeEvents build over a non-leaf input launches zero jobs") {
    import spark.implicits._
    val src = (1L to 100L).map(i => (i, s"v$i")).toDF("pk", "v")
      .repartitionByRange(4, col("pk"))
    val jobs = jobsLaunchedBy {
      val ev = CdcSynth.changeEvents(src, "db", "t", "pk")
      ev.queryExecution.optimizedPlan // force full analysis/optimization
    }
    assert(jobs == 0, s"changeEvents build launched $jobs job(s) " +
      "— the partition probe is executing the input's exchanges again")
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

  test("a filter over a one-file parquet scan is spread to defaultParallelism") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-synth").toString
    (1L to 100L).map(i => (i, s"v$i")).toDF("pk", "v")
      .coalesce(1).write.parquet(s"$dir/t")
    val src = spark.read.parquet(s"$dir/t").filter(col("pk") % 2 === 0)
    assert(src.rdd.getNumPartitions == 1) // the fixture really is one task
    val ev = CdcSynth.changeEvents(src, "db", "t", "pk")
    val spreads = ev.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
    }
    assert(spreads == Seq(spark.sparkContext.defaultParallelism),
      s"expected one spread to defaultParallelism, plan:\n${ev.queryExecution.optimizedPlan}")
    assert(ev.count() == 50)
  }
}
