package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * The durable half of a live-tail spooler ([[BinlogSpooler]],
 * [[PgSpooler]]): the on-disk state that turns a replication socket into
 * [[BacklogSource]] segment files. The spoolers keep only protocol logic
 * (which message closes a transaction, what heads a segment, how the
 * segment budget is counted, the identity probe); everything here is
 * protocol-blind bytes and positions.
 *
 *  - `_spool_checkpoint`: the end position of the last spooled commit, the
 *    resume point for reconnects and restarts.
 *  - `_spool_identity`: the server identity the checkpoint belongs to
 *    (MySQL `server_uuid`, PG `system_identifier`) — the failover guard.
 *  - Segments `seg-<pos>.segb64`: one base64 line holding `head` followed
 *    by the COMMITTED prefix of the buffer, named by the end position of
 *    its last commit, zero-padded to the width of `Long.MaxValue` so file
 *    name order is commit order for every position.
 *
 * Every file is written to a `.tmp` sibling and moved into place with
 * `ATOMIC_MOVE`. A segment move REPLACES: a crash between the segment
 * write and the checkpoint commit makes the restart re-spool the same
 * transaction range under the same name, byte-identical.
 *
 * @param start position a clean spool starts from (checkpoint default)
 * @param head  the frames every segment starts with, so each decodes
 *              self-contained (read at flush time)
 */
private[sources] class SegmentSpool(dir: String, start: Long,
                                    head: () => Iterable[Array[Byte]]) {
  import SegmentSpool._

  private val statePath = Paths.get(dir, "_spool_checkpoint")
  private val identityPath = Paths.get(dir, "_spool_identity")
  Files.createDirectories(Paths.get(dir))

  def checkpoint(): Long =
    if (Files.exists(statePath)) new String(Files.readAllBytes(statePath), UTF_8).trim.toLong
    else start

  def identity(): Option[String] =
    if (Files.exists(identityPath))
      Some(new String(Files.readAllBytes(identityPath), UTF_8).trim)
    else None

  /**
   * Failover guard: `current` is the identity of the server answering this
   * connection. A different saved identity with a consumed checkpoint
   * throws `failover(saved)` (non-retryable: the position names the old
   * server's history); on a clean spool `current` is adopted.
   */
  def guardIdentity(current: String)(failover: String => Exception): Unit =
    identity() match {
      case Some(saved) if saved != current && checkpoint() > start => throw failover(saved)
      case Some(saved) if saved == current => ()
      case _ => writeAtomic("_spool_identity", current.getBytes(UTF_8))
    }

  private val buffer = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
  private var committedLen = 0 // buffer prefix closed by a commit — only this flushes
  private var closedTxs = 0
  private var safePos = -1L // end position of the last commit in the buffer

  def append(frame: Array[Byte]): Unit = buffer += frame

  /** A commit ending at `endPos` closes everything buffered so far. */
  def commit(endPos: Long): Unit = {
    safePos = endPos
    committedLen = buffer.length
    closedTxs += 1
  }

  /** Frames buffered since the last flush (committed or not). */
  def buffered: Int = buffer.length

  /** Transactions closed since the last flush. */
  def commits: Int = closedTxs

  /** Spool the committed prefix as one segment, then checkpoint its end. */
  def flush(): Unit = if (committedLen > 0 && safePos > 0) {
    val body = new java.io.ByteArrayOutputStream()
    head().foreach(body.write)
    // ONLY the committed prefix — frames of an open transaction must never
    // spool (they re-arrive whole after the reconnect)
    buffer.take(committedLen).foreach(body.write)
    writeAtomic(segmentName(safePos),
      java.util.Base64.getEncoder.encodeToString(body.toByteArray).getBytes(UTF_8))
    buffer.remove(0, committedLen)
    committedLen = 0
    closedTxs = 0
    writeAtomic("_spool_checkpoint", safePos.toString.getBytes(UTF_8))
    safePos = -1L
  }

  /**
   * One connection's stream. When it ends — cleanly, or by an IOException
   * (dropped connection), which propagates — the committed prefix spools
   * and the open tail is DISCARDED: the reconnect re-fetches it from the
   * checkpoint, so spooled segments hold every transaction exactly once,
   * whole.
   */
  def connection(stream: => Unit): Unit = {
    try stream
    catch { case e: java.io.IOException => endConnection(); throw e }
    endConnection()
  }

  private def endConnection(): Unit = {
    flush()
    buffer.clear(); committedLen = 0; closedTxs = 0
  }

  private def writeAtomic(name: String, bytes: Array[Byte]): Unit = {
    val tmp = Paths.get(dir, s"$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

private[sources] object SegmentSpool {
  /** The one segment naming rule: 19 digits (`Long.MaxValue`'s width), so
   * [[BacklogSource.segments]]' name sort is commit order. */
  def segmentName(pos: Long): String = f"seg-$pos%019d.segb64"
}
