package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
}
