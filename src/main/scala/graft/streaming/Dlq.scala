package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._

/**
 * Dead-letter queue as a bad-record side-output.
 *
 * Reference: crates/runner/src/dlq.rs:23-200 + journal entry shape
 * crates/deltaforge-core/src/journal.rs:13-100 (`seq, timestamp, pipeline,
 * stream:"dlq", event_id, source_cursor, event, payload_truncated, meta{...}`).
 *
 * Spark-first: instead of a per-event try/catch in a runtime loop, an
 * eligibility predicate splits the batch declaratively; the DLQ side is
 * appended to a parquet journal with the reference's metadata, payloads
 * truncated to `maxPayloadBytes` (dlq.rs payload truncation).
 */
object Dlq {

  case class Config(
      pipeline: String,
      sinkId: String,
      path: String,
      maxPayloadBytes: Int = 65536)

  /** journal-entry projection of a failed event. */
  def entry(cfg: Config, errorKind: String, errorMessage: Column): Column = struct(
    unix_millis(current_timestamp()).as("timestamp"),
    lit(cfg.pipeline).as("pipeline"),
    lit("dlq").as("stream"),
    col("event_id").as("event_id"),
    to_json(struct(col("source.file"), col("source.pos"), col("source.lsn"),
      col("source.sequence"))).as("source_cursor"),
    substring(to_json(struct(col("before"), col("after"), col("op"), col("ts_ms"))),
      1, cfg.maxPayloadBytes).as("event"),
    (length(to_json(struct(col("before"), col("after")))) > cfg.maxPayloadBytes)
      .as("payload_truncated"),
    struct(lit(cfg.sinkId).as("sink_id"), lit(errorKind).as("error_kind"),
      errorMessage.as("error_message"), lit(1).as("attempts")).as("meta"))

  /**
   * Split a batch on an eligibility predicate: rows failing `isGood` go to
   * the DLQ journal, the rest continue to the sink. Returns the good side.
   */
  def splitAndJournal(cfg: Config, batch: DataFrame, isGood: Column,
                      errorKind: String, errorMessage: Column): DataFrame = {
    val bad = batch.filter(!coalesce(isGood, lit(false)))
    val n = bad.limit(1).count() // cheap existence probe before a write job
    if (n > 0) {
      GraftBridge.writeFiles(bad.select(entry(cfg, errorKind, errorMessage).as("e")).select("e.*"),
        "parquet", cfg.path)
    }
    batch.filter(coalesce(isGood, lit(false)))
  }

  /** Common eligibility check: payload must parse as a JSON object. */
  def jsonParses(payload: Column): Column =
    payload.isNull || try_parse_json(payload).isNotNull

  /** Overflow policies (reference OverflowPolicy, dlq.rs:96-150). */
  sealed trait OverflowPolicy
  case object DropOldest extends OverflowPolicy
  case object Reject extends OverflowPolicy
  case object Block extends OverflowPolicy

  /**
   * Bounded FIFO DLQ with operator ack/purge — the queue half of the
   * reference DLQ (dlq.rs:23-200 write-with-overflow +
   * rest-api dlq_peek/dlq_count/dlq_ack/dlq_purge, pipelines.rs:80-120).
   *
   * One file per entry (`seq-<n>.json`) under `dir`; seq is monotonic.
   * Overflow at `maxEntries`: DropOldest evicts, Reject drops the incoming
   * entry, Block waits until an ack frees space (bounded by
   * `blockTimeoutMs` so a stuck operator cannot hang the driver forever —
   * timeout falls back to Reject). A broken DLQ never throws into the
   * pipeline (dlq.rs:55-57).
   */
  class DlqQueue(dir: String, maxEntries: Long,
                 policy: OverflowPolicy = DropOldest,
                 blockTimeoutMs: Long = 60000L) {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir))
    private val lock = new Object
    private val seqCounter = new java.util.concurrent.atomic.AtomicLong(
      entries().lastOption.map(_._1).getOrElse(-1L))
    @volatile var evictedTotal: Long = 0L // deltaforge_dlq_evicted_total
    @volatile var rejectedTotal: Long = 0L // deltaforge_dlq_rejected_total

    private def path(seq: Long) = Paths.get(f"$dir/seq-$seq%012d.json")

    private def entries(): Seq[(Long, java.nio.file.Path)] = {
      val d = Paths.get(dir)
      if (!Files.exists(d)) Nil
      else {
        val out = scala.collection.mutable.ArrayBuffer[(Long, java.nio.file.Path)]()
        Files.list(d).forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("seq-") && n.endsWith(".json"))
            out += ((n.stripPrefix("seq-").stripSuffix(".json").toLong, p))
        }
        out.sortBy(_._1).toSeq
      }
    }

    def len: Long = entries().size.toLong

    /** Push one entry; returns its seq, or None when rejected. */
    def push(entryJson: String): Option[Long] = lock.synchronized {
      if (len >= maxEntries) policy match {
        case DropOldest =>
          val toDrop = (len - maxEntries + 1).toInt
          entries().take(toDrop).foreach { case (_, p) => Files.deleteIfExists(p) }
          evictedTotal += toDrop
        case Reject =>
          rejectedTotal += 1
          return None
        case Block =>
          val deadline = System.currentTimeMillis() + blockTimeoutMs
          while (len >= maxEntries && System.currentTimeMillis() < deadline)
            lock.wait(math.max(1, deadline - System.currentTimeMillis()))
          if (len >= maxEntries) { rejectedTotal += 1; return None }
      }
      val seq = seqCounter.incrementAndGet()
      Files.writeString(path(seq), entryJson)
      Some(seq)
    }

    /** Oldest-first peek (rest-api dlq_peek). */
    def peek(limit: Int): Seq[(Long, String)] =
      entries().take(limit).map { case (seq, p) => seq -> Files.readString(p) }

    /** Remove entries with seq ≤ `upToSeq`; unblocks Block-policy writers. */
    def ack(upToSeq: Long): Int = lock.synchronized {
      val acked = entries().takeWhile(_._1 <= upToSeq)
      acked.foreach { case (_, p) => Files.deleteIfExists(p) }
      lock.notifyAll()
      acked.size
    }

    /** Drop everything (rest-api dlq_purge). */
    def purge(): Int = lock.synchronized {
      val all = entries()
      all.foreach { case (_, p) => Files.deleteIfExists(p) }
      lock.notifyAll()
      all.size
    }
  }
}
