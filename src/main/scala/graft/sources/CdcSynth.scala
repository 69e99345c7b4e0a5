package graft.sources

import graft.core.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deterministic CDC-ification of snapshot tables.
 *
 * The reference tails MySQL binlogs / PG WAL; the test environment has no live
 * database, so — like the reference's own chaos/bench harness replays a backlog
 * (crates/chaos/src/scenarios/backlog_drain.rs) — we deterministically wrap the
 * driver's parquet tables as change events. Every derived value is a pure
 * function of the row so a DuckDB oracle can reproduce it.
 *
 * Op assignment (seeded by the primary key, matching the c/u/d mix of a
 * TPC-C-ish workload, reference crates/chaos/src/scenarios/tpcc.rs:7-14):
 * `pk % 10`: 0..5 → 'c', 6..8 → 'u' (with a `before` image), 9 → 'd'.
 */
object CdcSynth {

  /** op = CASE pk%10 ... as a column; mirrors the oracle SQL expression. */
  def opFor(pk: Column): Column =
    when(pmod(pk, lit(10)) <= 5, lit(ChangeEvent.Op.Create))
      .when(pmod(pk, lit(10)) <= 8, lit(ChangeEvent.Op.Update))
      .otherwise(lit(ChangeEvent.Op.Delete))

  /**
   * Wrap a snapshot table as change events. `after` is the full row as JSON;
   * `before` is present for updates/deletes (the same row image — synthetic
   * history). All payload columns keep their names.
   */
  def changeEvents(
      table: DataFrame,
      db: String,
      tableName: String,
      pkCol: String,
      connector: String = "mysql",
      tsCol: Option[String] = None,
      payloadOverride: Option[Column] = None): DataFrame = {
    // A real backlog arrives as many segments/partitions; the driver's test
    // parquet is often ONE sub-4m file → one task, which serializes every
    // downstream per-row JSON encode. Spread under-partitioned inputs —
    // the narrow base row moves BEFORE the payload encode, so the wrap and
    // everything after runs at executor parallelism.
    val par = table.sparkSession.sparkContext.defaultParallelism
    // Probe-and-spread ONLY inputs whose physical plan has no exchange and
    // no subquery: `table.rdd.getNumPartitions` on an adaptive plan
    // EXECUTES its exchanges (AdaptiveSparkPlanExec materializes every
    // query stage before it can report partitioning) — the rangeSorted
    // callers were paying a full discarded scan+shuffle of the source per
    // query build (r17 A/B: cdc_routing ×10 task-CPU doubled when its
    // source went from a leaf scan to repartitionByRange). AQE wraps
    // exactly the plans with an exchange or subquery; with AQE off those
    // still run jobs when their RDD is built (range sampling, broadcast,
    // subquery results). Any other plan — a scan under filters and
    // projections — reports its partitions from the file split listing.
    val probeIsFree = table.queryExecution.executedPlan match {
      case _: AdaptiveSparkPlanExec => false
      case p => p.find(n => n.isInstanceOf[Exchange] || n.subqueries.nonEmpty).isEmpty
    }
    val spread =
      if (probeIsFree && table.rdd.getNumPartitions < par) table.repartition(par) else table
    val pk = col(pkCol)
    val op = opFor(pk)
    // fused byte-level encode (to_json-identical by spec, incl. the
    // double/timestamp leaves): the payload is evaluated in BOTH image
    // `when`s below — and CollapseProject re-inlines it further downstream
    // (PLANS rule 9) — so its per-eval cost is the multiplier on the whole
    // drain family
    // schema-gated: a table with a leaf outside the fused lattice (map,
    // interval, …) routes the whole payload through builtin to_json
    // instead of failing analysis
    val payload = payloadOverride.getOrElse(
      graft.functions.JsonEncode.fusedJsonFor(
        struct(spread.columns.map(col).toIndexedSeq: _*), spread.schema))
    val tsMs = tsCol
      .map(c => (col(c).cast(TimestampType).cast(DoubleType) * 1000).cast(LongType))
      .getOrElse(lit(1700000000000L) + pk)

    val source = struct(
      lit("graft-0.1.0").as("version"),
      lit(connector).as("connector"),
      lit("test-db").as("name"),
      tsMs.as("ts_ms"),
      lit(db).as("db"),
      lit(null).cast(StringType).as("schema"),
      lit(tableName).as("table"),
      lit(false).as("snapshot"),
      lit(1L).as("server_id"),
      lit(null).cast(StringType).as("gtid"),
      lit("binlog.000001").as("file"),
      pk.cast(LongType).as("pos"),
      lit(null).cast(StringType).as("lsn"),
      pk.cast(LongType).as("tx_id"),
      pk.cast(LongType).as("sequence"))

    // Stage the payload in its OWN projection: every op needs at least one
    // image, so the encode is unconditional — and staging moves it out of
    // the two `when` branches (conditional branches are excluded from
    // codegen CSE, so un-staged the 'u' rows paid the encode TWICE, ~1.3
    // evals/row across the op mix). A plain Project costs no exchange
    // (unlike the r12 repartition-barrier attempt, PLANS rule 9), and
    // CollapseProject keeps it because the fused encode is non-cheap and
    // referenced by both images in the same parent projection.
    val stagedPayload = spread.select(col("*"), payload.as("__payload"))
    ChangeEvent.conform(
      stagedPayload.select(
        when(op.isin(ChangeEvent.Op.Update, ChangeEvent.Op.Delete), col("__payload")).as("before"),
        when(op =!= ChangeEvent.Op.Delete, col("__payload")).as("after"),
        source.as("source"),
        op.as("op"),
        tsMs.as("ts_ms"),
        concat(lit(s"$db.$tableName:"), pk.cast(StringType)).as("event_id"),
        lit(true).as("tx_end")))
  }

  /**
   * Deterministic TPC-C transaction-mix change stream (reference
   * crates/chaos/src/scenarios/tpcc.rs:7-14, :579-587 — the 45/43/12
   * New-Order/Payment/Delivery terminal roll):
   *
   *   New-Order 45%: INSERT order + INSERT new_order + INSERT
   *                  order_line × k + UPDATE stock × k, k ∈ [5,15]
   *   Payment   43%: UPDATE warehouse + UPDATE district + UPDATE customer
   *                  + INSERT history
   *   Delivery  12%: DELETE new_order + UPDATE order + UPDATE order_line
   *                  + UPDATE customer
   *
   * Every transaction is multi-row and New-Order/Payment/Delivery are
   * multi-TABLE, with `tx_end` only on the final event — the C-1
   * tx-boundary batching stressor. Fully distributed: one `range(nTxns)`,
   * per-txn attributes from `xxhash64`, one `explode(sequence(...))` for
   * the per-event fan-out; `source.sequence = txn*40 + idx` is the
   * source's total order (gaps are legal, order is what matters).
   */
  def tpccEvents(spark: SparkSession, nTxns: Long, db: String = "tpcc"): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val t = col("id")
    val roll = pmod(xxhash64(t, lit(1)), lit(100))
    val olCnt = (pmod(xxhash64(t, lit(2)), lit(11)) + 5) // 5..15
    val kind = when(roll < 45, lit("neworder"))
      .when(roll < 88, lit("payment")).otherwise(lit("delivery"))
    val nEvents = when(kind === "neworder", lit(2) + olCnt * 2).otherwise(lit(4))

    val base = spark.range(nTxns).repartition(par)
      .select(t.as("t"), kind.as("kind"), olCnt.as("ol"), nEvents.as("n"),
        (pmod(t, lit(2)) + 1).as("w"), (pmod(t, lit(10)) + 1).as("d"),
        (pmod(xxhash64(t, lit(3)), lit(300)) + 1).as("c"))
      .select(col("*"), explode(sequence(lit(0), col("n") - 1)).as("i"))

    val no = col("kind") === "neworder"
    val pay = col("kind") === "payment"
    val i = col("i")
    val table =
      when(no && i === 0, "tpcc_order").when(no && i === 1, "tpcc_new_order")
        .when(no && i < col("ol") + 2, "tpcc_order_line").when(no, "tpcc_stock")
        .when(pay && i === 0, "tpcc_warehouse").when(pay && i === 1, "tpcc_district")
        .when(pay && i === 2, "tpcc_customer").when(pay, "tpcc_history")
        .when(i === 0, "tpcc_new_order").when(i === 1, "tpcc_order")
        .when(i === 2, "tpcc_order_line").otherwise("tpcc_customer")
    val op =
      when(no && i < col("ol") + 2, ChangeEvent.Op.Create) // order, new_order, order_lines
        .when(no, ChangeEvent.Op.Update) // stock
        .when(pay && i === 3, ChangeEvent.Op.Create) // history
        .when(pay, ChangeEvent.Op.Update) // warehouse/district/customer
        .when(i === 0, ChangeEvent.Op.Delete) // delivery: new_order delete
        .otherwise(ChangeEvent.Op.Update)
    // row images: a pure function of (t, i) so any consumer/oracle can
    // recompute them; updates/deletes carry a before image
    val amount = pmod(xxhash64(col("t"), i), lit(500000)).cast(DoubleType) / 100.0
    val after = when(op =!= ChangeEvent.Op.Delete, concat(
      lit("{\"w_id\":"), col("w"), lit(",\"d_id\":"), col("d"),
      lit(",\"c_id\":"), col("c"), lit(",\"o_id\":"), col("t"),
      lit(",\"line\":"), i, lit(",\"amount\":"), amount, lit("}")))
    val before = when(op.isin(ChangeEvent.Op.Update, ChangeEvent.Op.Delete), concat(
      lit("{\"w_id\":"), col("w"), lit(",\"d_id\":"), col("d"),
      lit(",\"c_id\":"), col("c"), lit(",\"o_id\":"), col("t"),
      lit(",\"line\":"), i, lit(",\"amount\":"), amount - 1.0, lit("}")))
    val seq = col("t") * 40 + i // 40 > max events/txn (2 + 2×15 = 32)
    val tsMs = lit(1700000000000L) + col("t")
    val source = struct(
      lit("graft-0.1.0").as("version"), lit("mysql").as("connector"),
      lit("tpcc-source").as("name"), tsMs.as("ts_ms"), lit(db).as("db"),
      lit(null).cast(StringType).as("schema"), table.as("table"),
      lit(false).as("snapshot"), lit(1L).as("server_id"),
      lit(null).cast(StringType).as("gtid"), lit("binlog.000001").as("file"),
      seq.as("pos"), lit(null).cast(StringType).as("lsn"),
      col("t").as("tx_id"), seq.as("sequence"))
    ChangeEvent.conform(base.select(
      before.as("before"), after.as("after"), source.as("source"), op.as("op"),
      tsMs.as("ts_ms"),
      concat(lit(s"$db:"), col("t"), lit(":"), i).as("event_id"),
      (i === col("n") - 1).as("tx_end")))
  }

  /**
   * Snapshot read as `op='r'` events (reference mysql_snapshot.rs:156-331).
   * At scale this is `spark.read.jdbc(partitionColumn=pk, ...)`; here it reads
   * the driver parquet directly. Partition-pruned, column-pruned by Catalyst.
   */
  def snapshot(spark: SparkSession, dir: String, tableName: String, db: String, pkCol: String): DataFrame = {
    val t = spark.read.parquet(s"$dir/$tableName.parquet")
    changeEvents(t, db, tableName, pkCol)
      .withColumn("after", coalesce(col("after"), col("before"))) // full image for every row
      .withColumn("before", lit(null).cast(StringType))
      .withColumn("op", lit(ChangeEvent.Op.Read))
  }
}
