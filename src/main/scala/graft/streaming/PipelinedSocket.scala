package graft.streaming

import graft.core.Retry

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}

/**
 * The send loop of the pipelined wire sinks ([[RedisWire.RedisStreamSink]],
 * [[NatsWire.NatsSink]]): one TCP connection per partition, rows sent
 * `pipelineSize` at a time — every frame of a chunk written, ONE flush, then
 * one ack read per frame — so a chunk costs one round trip (the reference's
 * throughput shape). A sink supplies only its handshake, its frame encoder
 * and its ack reader.
 *
 * Chunks are materialized, so an IOException (dropped connection, timeout,
 * refused connect, a handshake cut short) closes the socket and resends the
 * WHOLE chunk on a fresh connection: at most `maxRetries` retries with
 * `min(100 << retry, 2000)` ms backoff ([[graft.core.Retry]]). Every attempt
 * connects first, so a failed reconnect spends the retry budget like any
 * other IO failure. Resent duplicates are absorbed downstream by each sink's
 * idempotency key. Anything else — a server `-ERR` the ack reader throws —
 * fails the partition at once, and the coordinator's commit gate holds the
 * batch back.
 */
private[streaming] object PipelinedSocket {

  def send[R](rows: Iterator[R], label: String, host: String, port: Int,
              connectTimeoutMs: Int, readTimeoutMs: Int, pipelineSize: Int, maxRetries: Int)
             (handshake: (InputStream, OutputStream) => Unit)
             (encode: (OutputStream, R) => Unit)
             (readAck: InputStream => Unit): Unit = {
    var socket: Socket = null
    var out: BufferedOutputStream = null
    var in: BufferedInputStream = null
    def close(): Unit = if (socket != null) { socket.close(); socket = null }
    def connect(): Unit = {
      socket = new Socket()
      socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
      socket.setSoTimeout(readTimeoutMs)
      socket.setTcpNoDelay(true)
      out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
      in = new BufferedInputStream(socket.getInputStream, 1 << 16)
      handshake(in, out)
    }
    try rows.grouped(pipelineSize).foreach { chunk =>
      Retry(maxRetries + 1, n => math.min(100L << n, 2000L))(Retry.io) { _ =>
        try {
          if (socket == null) connect()
          chunk.foreach(encode(out, _))
          out.flush()
          chunk.foreach(_ => readAck(in))
        } catch { case e: java.io.IOException => close(); throw e }
      }
    } catch {
      case e: java.io.IOException =>
        throw new RuntimeException(s"$label: IO failure after $maxRetries retries", e)
    } finally close()
  }
}
