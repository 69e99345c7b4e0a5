package graft.sources

import graft.core.Retry

/**
 * Live tail → backlog bridge: drives [[MysqlWire.BinlogClient]] and spools
 * received binlog events into [[BacklogSource]] segment files (`.segb64`),
 * so the DSv2 streaming source — offsets, admission control, checkpoint
 * resume, the purge guard — tails a LIVE SOCKET. This is the reference's
 * source loop (crates/sources/src/mysql/mod.rs:63-114: connect, stream,
 * checkpoint, reconnect with backoff) composed with the existing
 * file-offset machinery instead of re-implementing it: the spool is the
 * durable replay buffer (the role Kafka plays in a Debezium deployment).
 * The on-disk state — checkpoint, identity, committed-prefix segments,
 * the discarded open tail — is [[SegmentSpool]]'s; the reconnect loop is
 * [[graft.core.Retry]].
 *
 * MySQL protocol notes: an XID event closes a transaction, and a segment
 * cuts only at an XID once `maxEventsPerSegment` events are buffered — a
 * segment never splits a transaction or separates a TABLE_MAP from its
 * ROWS events. Every segment is prefixed with the last-seen
 * FORMAT_DESCRIPTION event so each decodes self-contained.
 */
class BinlogSpooler(
    host: String, port: Int, user: String, password: String,
    dir: String, binlogFile: String, startPos: Long = 4L,
    maxEventsPerSegment: Int = 1000,
    serverId: Long = 101L) {

  private val XID_EVENT = 16
  private var fde: Array[Byte] = Array.emptyByteArray
  private val spool = new SegmentSpool(dir, startPos, () => Seq(fde))

  /** Spooled-through position: resume point for reconnects. */
  def checkpoint(): Long = spool.checkpoint()

  /** The `server_uuid` this spool's position belongs to (first identity
   * probe), or None before the first successful connect. */
  def identity(): Option[String] = spool.identity()

  /**
   * Failover guard (reference chaos failover.rs steps 5-7 +
   * mysql_health.rs:317-337 `fetch_server_identity`): every connection
   * probes `@@global.server_uuid` before streaming; a different UUID means
   * the server was REPLACED (primary promotion) — the checkpointed binlog
   * file/position names the OLD server's binlog history and is meaningless
   * on the new one. With a consumed checkpoint this throws
   * [[BinlogSpooler.FailoverException]] (non-retryable); on a clean spool
   * the new identity is adopted. A server that cannot answer (pre-5.6, or
   * the variable unset) yields None — "cannot detect failover", fall
   * through to position validation only (the reference's `Ok(None)` path).
   */
  private def checkIdentity(client: MysqlWire.BinlogClient): Unit =
    client.queryScalar("SELECT @@global.server_uuid").foreach { uuid =>
      spool.guardIdentity(uuid)(saved =>
        new BinlogSpooler.FailoverException(saved, uuid, binlogFile, checkpoint()))
    }

  /**
   * One connection attempt: tail from the checkpoint, spool tx-whole
   * segments, flush the closed tail at the end of the stream. IOException
   * (dropped connection) propagates after discarding the uncommitted tail.
   */
  def runOnce(): Unit = {
    val client = new MysqlWire.BinlogClient(host, port, user, password, serverId)
    checkIdentity(client) // failover guard BEFORE streaming from a checkpoint
    spool.connection {
      client.tail(binlogFile, checkpoint()) { (e, endPos) =>
        val typ = e(4) & 0xff
        if (typ == MysqlBinlog.FORMAT_DESCRIPTION_EVENT) fde = e
        else {
          spool.append(e)
          if (typ == XID_EVENT) {
            spool.commit(endPos) // tx closed — segment may cut here
            if (spool.buffered >= maxEventsPerSegment) spool.flush()
          }
        }
        true
      }
    }
  }

  /**
   * Pump with reconnect-backoff (`backoffMs * attempt`) until a clean end
   * of stream (the stub's EOF; a real server stream is endless — run on a
   * maintenance thread). Only IOExceptions retry. Returns the number of
   * connection attempts.
   */
  def pump(maxAttempts: Int = 5, backoffMs: Long = 50L): Int =
    Retry(maxAttempts, backoffMs * _)(Retry.io) { n => runOnce(); n }
}

object BinlogSpooler {

  /**
   * The server answering this spool's reconnect is NOT the server the
   * checkpoint was consumed from (reference chaos failover.rs: UUID change
   * detected post-reconnect → reconciliation → position Lost → halt).
   * Deliberately not an IOException: reconnect loops must not retry it.
   */
  class FailoverException(val savedUuid: String, val newUuid: String,
                          val binlogFile: String, val checkpointPos: Long)
      extends IllegalStateException(
        s"mysql server_uuid changed $savedUuid → $newUuid but checkpoint " +
          s"$binlogFile:$checkpointPos was consumed from the old server — the " +
          "saved position names the old primary's binlog history; halt for " +
          "operator intervention or re-snapshot (never silently resume)")
}
