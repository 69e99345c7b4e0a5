package graft.sources

import graft.core.Retry

/**
 * PG counterpart of [[BinlogSpooler]]: drives [[PgWire.ReplicationClient]]
 * and spools received pgoutput messages into [[BacklogSource]] segment
 * files as `[lsn:8 BE][len:4 BE][msg]` frames — the exact input of
 * [[PgOutput.decodeSegment]] — so the DSv2 source tails a logical
 * replication socket (reference postgres/mod.rs:74-87's stream loop). The
 * on-disk state — checkpoint, identity, committed-prefix segments, the
 * discarded open tail — is [[SegmentSpool]]'s; the reconnect loop is
 * [[graft.core.Retry]].
 *
 * pgoutput protocol notes: a Commit ('C') closes a transaction, and a
 * segment cuts only at a Commit once `maxTxPerSegment` transactions are
 * closed. Relation ('R') messages are tracked per relation id and
 * re-emitted at the head of EVERY segment (pgoutput re-sends them per
 * stream for the same reason), so each segment decodes self-contained. The
 * checkpoint is the commit's END LSN.
 */
class PgSpooler(
    host: String, port: Int, user: String, database: String,
    slot: String, publication: String,
    dir: String, startLsn: Long = 0L,
    maxTxPerSegment: Int = 100) {

  // latest Relation frame per relation id (BE i4 at msg offset 1)
  private val relations = scala.collection.mutable.LinkedHashMap[Long, Array[Byte]]()
  private val spool = new SegmentSpool(dir, startLsn, () => relations.values)

  def checkpoint(): Long = spool.checkpoint()

  /** The `system_identifier` this spool's position belongs to (first
   * IDENTIFY_SYSTEM), or None before the first successful connect. */
  def identity(): Option[String] = spool.identity()

  /**
   * Failover guard (reference chaos pg_failover.rs steps 5-7, the PG twin
   * of the MySQL UUID guard): every connection IDENTIFY_SYSTEMs before
   * streaming; a `system_identifier` different from the one the checkpoint
   * was consumed from means the server was REPLACED — the LSN and the slot
   * belong to the old primary's WAL timeline and are meaningless on the
   * new one. With a consumed checkpoint this throws [[PgSpooler.FailoverException]]
   * (non-retryable); on a clean spool the new identity is adopted.
   */
  private def checkIdentity(client: PgWire.ReplicationClient): Unit = {
    val sysId = client.identifySystem().getOrElse("systemid",
      throw new java.io.IOException("pg: IDENTIFY_SYSTEM returned no systemid"))
    spool.guardIdentity(sysId)(saved => new PgSpooler.FailoverException(saved, sysId, checkpoint()))
  }

  private def be8(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** `[lsn:8 BE][len:4 BE][msg]` — PgOutput.decodeSegment's frame layout. */
  private def frame(lsn: Long, msg: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + msg.length)
    out.putLong(lsn).putInt(msg.length).put(msg)
    out.array()
  }

  def runOnce(): Unit = {
    val client = new PgWire.ReplicationClient(host, port, user, database, slot, publication)
    checkIdentity(client) // failover guard BEFORE streaming from a checkpoint
    try {
      spool.connection {
        client.tail(checkpoint()) { (lsn, msg) =>
          msg(0).toChar match {
            case 'R' =>
              val relId = ((msg(1) & 0xffL) << 24) | ((msg(2) & 0xffL) << 16) |
                ((msg(3) & 0xffL) << 8) | (msg(4) & 0xffL)
              relations(relId) = frame(lsn, msg)
            case t =>
              spool.append(frame(lsn, msg))
              if (t == 'C') {
                // checkpoint the commit's END LSN from the pgoutput Commit
                // body ('C'[flags:1][commit:8][end:8][ts:8]) — resuming
                // START_REPLICATION from the commit frame's walStart would
                // redeliver the just-committed transaction on a real server
                // (convention: confirm the commit's end LSN, as the
                // reference's flushed-LSN acks do)
                spool.commit(be8(msg, 10))
                if (spool.commits >= maxTxPerSegment) spool.flush()
              }
          }
          true
        }
      }
    } catch {
      // Slot-dropped guard (reference chaos slot_dropped.rs: "halts rather
      // than silently connecting to a different slot or starting from the
      // WAL head"): the server says the slot is GONE. With a consumed
      // checkpoint the saved position is unreachable — resuming via a fresh
      // slot would start at the WAL head and silently skip everything
      // between. That is a NON-RETRYABLE operator condition (the PG twin of
      // the MySQL binlog-purge guard), so it escapes the IOException
      // reconnect loop as its own type. On a CLEAN start (no consumed
      // position) the IOException propagates unchanged — the operator's
      // provisioning path may create the slot and start fresh.
      case e: java.io.IOException
          if PgSpooler.slotGone(e, slot) && checkpoint() > startLsn =>
        throw new PgSpooler.SlotDroppedException(slot, checkpoint(), e)
    }
  }

  /** Pump with reconnect-backoff (`backoffMs * attempt`) until a clean end
   * of stream. Only IOExceptions retry: SlotDroppedException and
   * FailoverException escape on the FIRST attempt — retrying them can never
   * succeed, and backing off just delays the operator page. */
  def pump(maxAttempts: Int = 5, backoffMs: Long = 50L): Int =
    Retry(maxAttempts, backoffMs * _)(Retry.io) { n => runOnce(); n }
}

object PgSpooler {

  /**
   * The replication slot named by the checkpoint no longer exists on the
   * server (reference chaos/src/scenarios/slot_dropped.rs). Deliberately
   * not an IOException: reconnect loops must not retry it.
   */
  class SlotDroppedException(val slot: String, val checkpointLsn: Long, cause: Throwable)
      extends IllegalStateException(
        s"replication slot '$slot' does not exist but checkpoint LSN $checkpointLsn " +
          "was consumed through it — saved position is lost; halt for operator " +
          "intervention or re-snapshot (never silently resume from the WAL head)",
        cause)

  /**
   * The server answering this spool's reconnect is NOT the server the
   * checkpoint was consumed from (reference chaos pg_failover.rs: detected
   * via `system_identifier` comparison after reconnect). Not an
   * IOException: reconnect loops must not retry it.
   */
  class FailoverException(val savedId: String, val newId: String, val checkpointLsn: Long)
      extends IllegalStateException(
        s"postgres system_identifier changed $savedId → $newId but checkpoint LSN " +
          s"$checkpointLsn was consumed from the old server — the saved position is " +
          "meaningless on the new timeline; halt for operator intervention or " +
          "re-snapshot (never silently resume)")

  /** Does this server error say our slot is gone? (PG: `ERROR: replication
   * slot "x" does not exist`, SQLSTATE 42704 — surfaced via the client's
   * error text.) */
  def slotGone(e: java.io.IOException, slot: String): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("replication slot") && m.contains(slot) && m.contains("does not exist")
  }

  /**
   * Resume-decision for a PG checkpoint, mirroring
   * [[SnapshotSupport.decideResume]] (F12: halt or adapt, never silent):
   * slot present → resume; slot gone + Adapt → re-snapshot; slot gone +
   * Halt → operator intervention.
   */
  def decideResume(checkpointLsn: Long, slotExists: Boolean,
                   policy: SnapshotSupport.ReachabilityPolicy): SnapshotSupport.ResumeDecision =
    if (slotExists) SnapshotSupport.Resume
    else policy match {
      case SnapshotSupport.Adapt => SnapshotSupport.Resnapshot
      case SnapshotSupport.Halt => SnapshotSupport.HaltWith(
        s"replication slot dropped; checkpoint LSN $checkpointLsn unreachable — " +
          "slot must be recreated and the table re-snapshotted")
    }
}
