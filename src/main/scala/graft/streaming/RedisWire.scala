package graft.streaming

import graft.core.ChangeEvent
import graft.operators.Routing
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Redis Streams sink over the real RESP2 wire protocol.
 *
 * Reference: crates/sinks/src/redis.rs — XADD field layout (`event_id`,
 * `idempotency_key`, `df-event` payload, optional `df-key`; :438-476),
 * pipelined batches in one round trip (:478-510), per-event idempotency key
 * for consumer-side dedup (:534), bounded send/batch timeouts (:58-65).
 * The reference drives redis-rs; this speaks RESP2 directly — the protocol
 * is public and stable (redis.io/docs/reference/protocol-spec): commands are
 * arrays of bulk strings; replies are simple (+), error (-), integer (:),
 * bulk ($) or array (*).
 *
 * Spark-first division of labor: routing/keying/payload are declarative
 * columns (codegen'd); only the socket write runs per partition. Pipelining
 * sends `pipelineSize` XADDs before reading the `pipelineSize` replies —
 * one round trip per chunk, the reference's throughput shape. Any `-ERR`
 * reply fails the batch (Spark retries; replay is deduped downstream by
 * `idempotency_key`).
 */
object RedisWire {

  // ————————————————————————— RESP2 codec —————————————————————————

  object Resp {
    private val CRLF = "\r\n".getBytes(UTF_8)

    /** Encode one command as a RESP array of bulk strings. */
    def encodeCommand(out: OutputStream, args: Seq[Array[Byte]]): Unit = {
      out.write(s"*${args.length}".getBytes(UTF_8)); out.write(CRLF)
      args.foreach { a =>
        out.write(s"$$${a.length}".getBytes(UTF_8)); out.write(CRLF)
        out.write(a); out.write(CRLF)
      }
    }

    sealed trait Reply
    case class Simple(s: String) extends Reply
    case class Err(msg: String) extends Reply
    case class Num(n: Long) extends Reply
    case class Bulk(bytes: Array[Byte]) extends Reply // null bulk = NullBulk
    case object NullBulk extends Reply
    case class Arr(items: Seq[Reply]) extends Reply

    private def readLine(in: InputStream): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\r') {
        if (c < 0) throw new java.io.EOFException("redis: connection closed mid-reply")
        sb.append(c.toChar); c = in.read()
      }
      require(in.read() == '\n', "redis: malformed CRLF")
      sb.toString()
    }

    def parseReply(in: InputStream): Reply = in.read() match {
      case '+' => Simple(readLine(in))
      case '-' => Err(readLine(in))
      case ':' => Num(readLine(in).toLong)
      case '$' =>
        val n = readLine(in).toInt
        if (n < 0) NullBulk
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new java.io.EOFException("redis: truncated bulk")
            off += r
          }
          require(in.read() == '\r' && in.read() == '\n', "redis: malformed bulk CRLF")
          Bulk(buf)
        }
      case '*' =>
        val n = readLine(in).toInt
        Arr((0 until n).map(_ => parseReply(in)))
      case other =>
        throw new java.io.IOException(s"redis: unknown reply type byte $other")
    }
  }

  /**
   * XADD argument vector for one event — the reference's exact field layout
   * (redis.rs:449-462): auto id (`*`), `event_id`, `idempotency_key`,
   * `df-event` payload, and `df-key` only when the routing key is non-empty.
   */
  def xaddArgs(stream: String, eventId: String, key: String, idemKey: String,
               payload: Array[Byte]): Seq[Array[Byte]] = {
    val base = Seq("XADD", stream, "*", "event_id", eventId,
      "idempotency_key", idemKey, "df-event").map(_.getBytes(UTF_8)) :+ payload
    if (key != null && key.nonEmpty)
      base ++ Seq("df-key".getBytes(UTF_8), key.getBytes(UTF_8))
    else base
  }

  /**
   * The sink. One socket per partition; XADDs pipelined `pipelineSize` at a
   * time and their replies checked per chunk by [[PipelinedSocket]]: bounded
   * reconnect-retries on IO errors (fresh socket, whole chunk resent),
   * matching the reference's retry-then-fail so the coordinator's commit
   * gate sees the failure. A `-ERR` reply fails at once.
   */
  class RedisStreamSink(
      val id: String,
      host: String,
      port: Int,
      streamTemplate: Option[String] = None,
      staticStream: String = "events",
      keyTemplate: Option[String] = None,
      pipelineSize: Int = 100,
      maxRetries: Int = 3,
      connectTimeoutMs: Int = 5000,
      readTimeoutMs: Int = 30000) extends EventSink {

    override def write(batch: DataFrame, batchId: Long): Unit = {
      val rows = batch.select(
        Routing.resolveTopic(streamTemplate, staticStream).as("stream"),
        coalesce(col("event_id"), lit("")).as("event_id"),
        coalesce(Routing.resolveKey(keyTemplate), lit("")).as("key"),
        ChangeEvent.idempotencyKey.as("ikey"),
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*))
          .cast("binary").as("payload"))
      val (sinkId, h, p, ps, mr, cto, rto) =
        (id, host, port, pipelineSize, maxRetries, connectTimeoutMs, readTimeoutMs)
      rows.foreachPartition { (it: Iterator[Row]) =>
        PipelinedSocket.send(it, s"redis sink $sinkId", h, p, cto, rto, ps, mr)(
          (_, _) => ()) { (out, r) =>
          Resp.encodeCommand(out, xaddArgs(r.getString(0), r.getString(1),
            r.getString(2), r.getString(3), r.getAs[Array[Byte]](4)))
        } { in =>
          Resp.parseReply(in) match {
            case Resp.Err(m) => throw new RuntimeException(s"redis sink $sinkId: -ERR $m")
            case _ => () // XADD returns the generated stream id
          }
        }
      }
    }
  }
}
