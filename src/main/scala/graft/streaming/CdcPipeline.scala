package graft.streaming

import graft.core.ChangeEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

/**
 * The micro-batch coordinator: source stream → processor chain → concurrent
 * sink fan-out → commit-policy gate → per-sink ledger commit.
 *
 * Reference: crates/runner/src/coordinator.rs — batch accumulation C-1 maps
 * to Structured Streaming triggers; concurrent fan-out + per-sink deadline
 * C-3 (coordinator.rs:893-1030) to parallel Spark jobs over one frozen
 * micro-batch; commit policy C-4 (policy_satisfied coordinator.rs:124-135);
 * per-sink checkpoints C-5 to [[SinkLedger]].
 *
 * Scale notes: the processed batch is frozen once (the reference's frozen
 * `Arc<[Event]>`): ONE Spark job computes its rows, stores them
 * partition-local at MEMORY_AND_DISK and counts rows and bytes
 * (`GraftBridge.freeze`). Sinks receive a leaf DataFrame over the stored
 * rows whose plan statistics carry that count and size, so no sink re-runs
 * or re-plans the processor chain, and none needs a `count()` of its own.
 * Each sink write is a distributed job; the stored rows are dropped when
 * the batch ends; the only driver-side state is the tiny ledger.
 */
object CdcPipeline {

  sealed trait CommitPolicy
  /** every sink must ack (reference "all") */
  case object CommitAll extends CommitPolicy
  /** every `required` sink must ack (default) */
  case object CommitRequired extends CommitPolicy
  /** at least n sinks must ack */
  case class CommitQuorum(n: Int) extends CommitPolicy

  case class Config(
      sinks: Seq[EventSink],
      commitPolicy: CommitPolicy = CommitRequired,
      ledgerDir: String,
      sinkTimeout: Duration = 5.minutes,
      processors: Seq[DataFrame => DataFrame] = Nil,
      pipelineName: String = "pipeline",
      metrics: Option[Metrics.Registry] = None)

  def policySatisfied(cfg: Config, acks: Map[String, Boolean]): Boolean = cfg.commitPolicy match {
    case CommitAll => cfg.sinks.forall(s => acks.getOrElse(s.id, false))
    case CommitRequired => cfg.sinks.filter(_.required).forall(s => acks.getOrElse(s.id, false))
    case CommitQuorum(n) => acks.values.count(identity) >= n
  }

  /**
   * The foreachBatch body. Public so batch-mode tests can drive it directly.
   * Throws when the commit policy is not satisfied → Spark retries the batch
   * (at-least-once); sinks that already committed skip on replay (ledger).
   */
  def processBatch(cfg: Config, ledger: SinkLedger)(batch0: DataFrame, batchId: Long): Unit = {
    val frozen = GraftBridge.freeze(cfg.processors.foldLeft(batch0)((df, p) => p(df)))
    val (batch, rows) = (frozen.df, frozen.rows)
    val pool = Executors.newFixedThreadPool(math.max(cfg.sinks.size, 1))
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = cfg.sinks.map { sink =>
        sink.id -> Future {
          if (ledger.committed(sink.id) >= batchId) true // idempotent replay skip
          else {
            val filtered = sink.filter.map(batch.filter).getOrElse(batch)
            val t0 = System.nanoTime()
            def record(ok: Boolean): Unit = cfg.metrics.foreach(Metrics.recordSinkBatch(_,
              cfg.pipelineName, sink.id, rows, (System.nanoTime() - t0) / 1e9, ok))
            try sink.write(filtered, batchId)
            catch { case e: Throwable => record(ok = false); throw e }
            record(ok = true)
            true
          }
        }
      }
      // ONE outer deadline across the whole fan-out (reference applies a
      // single batch-level timeout, coordinator.rs:893-1030) — a sequential
      // fresh-timeout-per-sink await would bound the worst case at
      // sinks×timeout instead of timeout.
      val deadline = System.nanoTime() + (
        if (cfg.sinkTimeout.isFinite) cfg.sinkTimeout.toNanos else Long.MaxValue / 2)
      val acks: Map[String, Boolean] = futures.map { case (id, f) =>
        val remaining = math.max(0L, deadline - System.nanoTime())
        id -> Try(Await.result(f, remaining.nanos)).getOrElse(false)
      }.toMap
      if (!policySatisfied(cfg, acks))
        throw new RuntimeException(
          s"commit policy ${cfg.commitPolicy} not satisfied for batch $batchId: acks=$acks")
      // commit only acked sinks — unacked ones will re-receive on replay
      acks.foreach { case (id, ok) => if (ok) ledger.commit(id, batchId) }
    } finally {
      // also on an interrupted wait: the pool's threads are non-daemon, and
      // an unshut pool keeps one parked thread per sink alive forever
      pool.shutdown()
      frozen.release()
    }
  }

  /** Launch as a Structured Streaming query. */
  def start(cfg: Config, stream: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val ledger = new SinkLedger(cfg.ledgerDir)
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(cfg, ledger)(df, id))
      .start()
  }

  /**
   * Transaction-boundary-respecting batching (the reference's hardest
   * semantic, C-1: a batch never splits a source transaction —
   * coordinator.rs:87-110). Spark micro-batches are offset-sliced, so we
   * split each batch into (complete, carryover): events after the last
   * `tx_end` of their SOURCE STREAM are held back and prepended to the next
   * batch by the caller.
   *
   * The boundary is per source stream (`source.name`), NOT per table: a
   * source transaction can span tables with the commit marker on its final
   * event only, and a per-table boundary would deliver the tables of one
   * transaction across two batches — exactly what `respect_source_tx`
   * forbids. `source.sequence` is the source's total order, so every event
   * of a committed transaction — whatever table it touched — sits at or
   * below that stream's last `tx_end` sequence.
   */
  def splitCompleteTx(batch: DataFrame): (DataFrame, DataFrame) = {
    val lastEnd = batch.filter(col("tx_end"))
      .groupBy(col("source.name").as("_src"))
      .agg(max(col("source.sequence")).as("_last_end"))
    val tagged = batch.join(
      broadcast(lastEnd), col("source.name") <=> col("_src"), "left")
    val complete = tagged.filter(col("_last_end").isNotNull &&
      col("source.sequence") <= col("_last_end")).drop("_src", "_last_end")
    val carryover = tagged.filter(col("_last_end").isNull ||
      col("source.sequence") > col("_last_end")).drop("_src", "_last_end")
    (complete, carryover)
  }
}
