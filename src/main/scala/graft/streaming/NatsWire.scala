package graft.streaming

import graft.core.ChangeEvent
import graft.operators.Routing
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

/**
 * NATS JetStream-shaped sink over the real NATS client protocol.
 *
 * Reference: crates/sinks/src/nats.rs — `Nats-Msg-Id` = the event's
 * idempotency key for JetStream server-side dedup within the duplicate
 * window (:285-307), `df-key` + routing headers forwarded (:296-306),
 * subject templates with `*`/`>` invalid in published subjects (:220),
 * publish-with-headers + ack (:492-520). The reference drives async-nats;
 * this speaks the wire directly — the protocol is public and text-framed
 * (docs.nats.io/reference/reference-protocols/nats-protocol):
 *
 *   S: INFO {...}␍␊
 *   C: CONNECT {"verbose":true,...}␍␊ PING␍␊        → S: +OK␍␊ PONG␍␊
 *   C: HPUB <subject> <hdr_len> <total_len>␍␊NATS/1.0␍␊K: V␍␊␍␊<payload>␍␊
 *
 * `verbose:true` gives a `+OK` per protocol message — the in-band ack this
 * sink drains per pipelined chunk (the JetStream PubAck analog; on a real
 * deployment the ack subject carries stream/seq, same control flow).
 */
object NatsWire {

  /** Published subjects may not contain wildcards/spaces (nats.rs:220). */
  def validSubject(s: String): Boolean =
    s != null && s.nonEmpty && !s.exists(c => c == ' ' || c == '*' || c == '>' ||
      c == '\r' || c == '\n') && !s.startsWith(".") && !s.endsWith(".") && !s.contains("..")

  /** Strip header-line control bytes (CR/LF) from a header value or id. */
  private def sanitizeValue(v: String): String =
    if (v == null || !v.exists(c => c == '\r' || c == '\n')) v
    else v.filterNot(c => c == '\r' || c == '\n')

  /** Header keys may not contain CR/LF or ':' (they'd forge header lines). */
  def validHeaderKey(k: String): Boolean =
    k != null && k.nonEmpty && !k.exists(c => c == '\r' || c == '\n' || c == ':')

  /**
   * HPUB frame bytes: `NATS/1.0\r\n` header block (Nats-Msg-Id first, then
   * df-key and forwarded routing headers), blank line, payload.
   *
   * Injection guard (mirrors [[validSubject]]): msgId, dfKey and header
   * values are user/routing-derived — embedded CR/LF would let one event
   * forge arbitrary header lines (e.g. a spoofed Nats-Msg-Id). Values are
   * stripped of CR/LF; header keys with CR/LF/':' are rejected outright.
   */
  def hpubFrame(subject: String, msgId: String, dfKey: String,
                headers: Map[String, String], payload: Array[Byte]): Array[Byte] = {
    require(validSubject(subject), s"invalid NATS subject: '$subject'")
    val hdr = new StringBuilder("NATS/1.0\r\n")
    hdr.append("Nats-Msg-Id: ").append(sanitizeValue(msgId)).append("\r\n")
    if (dfKey != null && dfKey.nonEmpty)
      hdr.append("df-key: ").append(sanitizeValue(dfKey)).append("\r\n")
    headers.toSeq.sortBy(_._1).foreach { case (k, v) =>
      require(validHeaderKey(k), s"invalid NATS header key: '$k'")
      hdr.append(k).append(": ").append(sanitizeValue(v)).append("\r\n")
    }
    hdr.append("\r\n")
    val hdrBytes = hdr.toString.getBytes(UTF_8)
    val total = hdrBytes.length + payload.length
    val line = s"HPUB $subject ${hdrBytes.length} $total\r\n".getBytes(UTF_8)
    val outBuf = new java.io.ByteArrayOutputStream(line.length + total + 2)
    outBuf.write(line); outBuf.write(hdrBytes); outBuf.write(payload)
    outBuf.write('\r'); outBuf.write('\n')
    outBuf.toByteArray
  }

  private[streaming] def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("nats: connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString()
  }

  /**
   * The sink. Per partition: INFO/CONNECT/PING handshake, then HPUB frames
   * pipelined `pipelineSize` at a time with the `+OK` acks drained per
   * chunk, by [[PipelinedSocket]]. `-ERR` fails the batch (commit gate
   * holds); IO errors — a reconnect cut short included — retry the
   * materialized chunk on a fresh connection, and replays are deduped
   * server-side by `Nats-Msg-Id` (exactly the reference's crash-recovery
   * dedup contract, nats.rs:288-290).
   */
  class NatsSink(
      val id: String,
      host: String,
      port: Int,
      subjectTemplate: Option[String] = None,
      staticSubject: String = "deltaforge.events",
      pipelineSize: Int = 100,
      maxRetries: Int = 3,
      connectTimeoutMs: Int = 5000,
      readTimeoutMs: Int = 30000) extends EventSink {

    override def write(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.select(
        Routing.resolveTopic(subjectTemplate, staticSubject).as("subject"),
        ChangeEvent.idempotencyKey.as("msg_id"),
        coalesce(Routing.resolveKey(None), lit("")).as("df_key"),
        coalesce(col("routing.headers"), map().cast("map<string,string>")).as("headers"),
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*))
          .cast("binary").as("payload"))
      val (sinkId, h, p, ps, mr, cto, rto) =
        (id, host, port, pipelineSize, maxRetries, connectTimeoutMs, readTimeoutMs)
      rows.foreachPartition { (it: Iterator[Row]) =>
        PipelinedSocket.send(it, s"nats sink $sinkId", h, p, cto, rto, ps, mr) { (in, out) =>
          val info = readLine(in)
          require(info.startsWith("INFO "), s"nats: expected INFO, got '${info.take(40)}'")
          out.write(("CONNECT {\"verbose\":true,\"headers\":true," +
            "\"name\":\"graft-" + sinkId + "\"}\r\nPING\r\n").getBytes(UTF_8))
          out.flush()
          var line = readLine(in) // +OK (verbose ack of CONNECT)
          if (line == "+OK") line = readLine(in)
          require(line == "PONG", s"nats: handshake expected PONG, got '$line'")
        } { (out, r) =>
          out.write(hpubFrame(r.getString(0), r.getString(1), r.getString(2),
            Option(r.getMap[String, String](3)).map(_.toMap).getOrElse(Map.empty),
            r.getAs[Array[Byte]](4)))
        } { in =>
          val ack = readLine(in)
          if (ack.startsWith("-ERR"))
            throw new RuntimeException(s"nats sink $sinkId: $ack")
          require(ack == "+OK", s"nats sink $sinkId: unexpected ack '$ack'")
        }
      }
    }
  }
}
