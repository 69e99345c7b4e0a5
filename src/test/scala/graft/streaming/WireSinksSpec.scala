package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/**
 * Live-socket e2e for the Redis RESP2 and NATS wire sinks, against in-JVM
 * TCP stubs that speak the same public protocols (the `HttpSink`/
 * `ClickHouseWire` test pattern: the bytes on the wire are real; only the
 * server is a recording stand-in).
 */
class WireSinksSpec extends SparkSpec {

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  // ——————————————————— Redis stub (RESP2 server) ———————————————————

  /** Records every XADD; optionally kills the first `killAfter`-command conn. */
  private class RedisStub(killAfter: Int = -1) {
    val commands = new ConcurrentLinkedQueue[Seq[String]]()
    val connections = new AtomicInteger(0)
    private val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile private var running = true
    private val seq = new AtomicInteger(0)

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val connNo = connections.incrementAndGet()
          new Thread(() => {
            try {
              val in = new BufferedInputStream(sock.getInputStream)
              val out = new BufferedOutputStream(sock.getOutputStream)
              var served = 0
              while (true) {
                RedisWire.Resp.parseReply(in) match { // commands ARE resp arrays
                  case RedisWire.Resp.Arr(items) =>
                    commands.add(items.map {
                      case RedisWire.Resp.Bulk(b) => new String(b, UTF_8)
                      case other => other.toString
                    })
                    served += 1
                    if (connNo == 1 && killAfter >= 0 && served > killAfter) {
                      sock.close() // injected outage mid-pipeline
                      throw new java.io.EOFException("injected")
                    }
                    val id = s"${seq.incrementAndGet()}-0" // XADD reply: stream id
                    out.write(s"$$${id.length}\r\n$id\r\n".getBytes(UTF_8))
                    out.flush()
                  case other => fail(s"unexpected command shape $other")
                }
              }
            } catch { case _: java.io.IOException => () } // client done / injected
            finally sock.close()
          }).start()
        } catch { case _: java.io.IOException => () } // server closed
      }
    })
    acceptor.start()
    def stop(): Unit = { running = false; server.close() }
  }

  test("xadd layout: reference field order; df-key only when key present") {
    val args = RedisWire.xaddArgs("s1", "e1", "k1", "idem", "payload".getBytes(UTF_8))
      .map(new String(_, UTF_8))
    assert(args == Seq("XADD", "s1", "*", "event_id", "e1",
      "idempotency_key", "idem", "df-event", "payload", "df-key", "k1"))
    val noKey = RedisWire.xaddArgs("s1", "e1", "", "idem", "p".getBytes(UTF_8))
      .map(new String(_, UTF_8))
    assert(!noKey.contains("df-key"))
  }

  test("resp codec: replies of every type parse; commands round-trip") {
    import RedisWire.Resp._
    val bytes = new java.io.ByteArrayOutputStream()
    encodeCommand(bytes, Seq("PING".getBytes(UTF_8), "arg".getBytes(UTF_8)))
    val in = new java.io.ByteArrayInputStream(
      bytes.toByteArray ++ "+OK\r\n-ERR boom\r\n:42\r\n$-1\r\n".getBytes(UTF_8))
    parseReply(in) match { // the encoded command parses as an array reply
      case Arr(Seq(Bulk(a), Bulk(b))) =>
        assert(new String(a, UTF_8) == "PING" && new String(b, UTF_8) == "arg")
      case other => fail(s"$other")
    }
    assert(parseReply(in) == Simple("OK"))
    assert(parseReply(in) == Err("ERR boom"))
    assert(parseReply(in) == Num(42))
    assert(parseReply(in) == NullBulk)
  }

  test("redis sink e2e: pipelined XADDs, template stream, reference fields") {
    val stub = new RedisStub()
    try {
      val sink = new RedisWire.RedisStreamSink("r1", "127.0.0.1", stub.port,
        streamTemplate = Some("cdc.${source.table}"), pipelineSize = 16)
      sink.write(events(50).coalesce(1), 0L)
      val cmds = stub.commands.toArray(Array.empty[Seq[String]])
      assert(cmds.length == 50)
      assert(cmds.forall(c => c.head == "XADD" && c(1) == "cdc.t" && c(2) == "*"))
      val fields = cmds.head.drop(3).grouped(2).map(p => p.head -> p(1)).toMap
      assert(fields.contains("event_id") && fields.contains("idempotency_key"))
      assert(fields("df-event").contains("\"op\":\"c\""))
      // 50 events over ONE connection = pipelining actually happened
      assert(stub.connections.get() == 1)
      // every idempotency key distinct (sequence-keyed)
      val ikeys = cmds.map(c => c.drop(3).grouped(2).map(p => p.head -> p(1)).toMap
        .apply("idempotency_key"))
      assert(ikeys.distinct.length == 50)
    } finally stub.stop()
  }

  test("redis sink outage: connection killed mid-pipeline → chunk retried, nothing lost") {
    val stub = new RedisStub(killAfter = 5) // first conn dies after 5 commands
    try {
      val sink = new RedisWire.RedisStreamSink("r2", "127.0.0.1", stub.port,
        staticStream = "s", pipelineSize = 10)
      sink.write(events(30).coalesce(1), 0L)
      val cmds = stub.commands.toArray(Array.empty[Seq[String]])
      val ikeys = cmds.map(c => c.drop(3).grouped(2).map(p => p.head -> p(1)).toMap
        .apply("idempotency_key"))
      // at-least-once: the killed chunk was resent (duplicates allowed) but
      // every one of the 30 events is present — no gaps
      assert(ikeys.distinct.length == 30)
      assert(cmds.length >= 30)
      assert(stub.connections.get() >= 2) // reconnect happened
    } finally stub.stop()
  }

  // ——————————————————— NATS stub (text protocol) ———————————————————

  /** Records every HPUB. Outage injection: the first connection dies after
   * `killAfter` messages; with `dropSecondBeforeInfo` the second connection
   * is closed before the server's INFO line (a reconnect cut short). */
  private class NatsStub(killAfter: Int = -1, dropSecondBeforeInfo: Boolean = false) {
    case class Msg(subject: String, headers: Map[String, String], payload: String)
    val received = new ConcurrentLinkedQueue[Msg]()
    val connections = new AtomicInteger(0)
    private val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile private var running = true

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val connNo = connections.incrementAndGet()
          new Thread(() => {
            try {
              if (connNo == 2 && dropSecondBeforeInfo) throw new java.io.EOFException("injected")
              val in = new BufferedInputStream(sock.getInputStream)
              val out = new BufferedOutputStream(sock.getOutputStream)
              var served = 0
              out.write("INFO {\"server_id\":\"stub\",\"headers\":true}\r\n".getBytes(UTF_8))
              out.flush()
              while (true) {
                val line = NatsWire.readLine(in)
                if (line.startsWith("CONNECT")) { out.write("+OK\r\n".getBytes(UTF_8)); out.flush() }
                else if (line == "PING") { out.write("PONG\r\n".getBytes(UTF_8)); out.flush() }
                else if (line.startsWith("HPUB ")) {
                  val Array(_, subject, hlen, tlen) = line.split(" ")
                  val total = new Array[Byte](tlen.toInt)
                  var off = 0
                  while (off < total.length) {
                    val r = in.read(total, off, total.length - off)
                    if (r < 0) throw new java.io.EOFException()
                    off += r
                  }
                  require(in.read() == '\r' && in.read() == '\n')
                  val hdrBlock = new String(total.take(hlen.toInt), UTF_8)
                  require(hdrBlock.startsWith("NATS/1.0\r\n"))
                  val headers = hdrBlock.split("\r\n").drop(1).filter(_.nonEmpty)
                    .map { h => val i = h.indexOf(": "); h.take(i) -> h.drop(i + 2) }.toMap
                  received.add(Msg(subject, headers,
                    new String(total.drop(hlen.toInt), UTF_8)))
                  served += 1
                  if (connNo == 1 && killAfter >= 0 && served > killAfter) {
                    sock.close() // injected outage mid-pipeline
                    throw new java.io.EOFException("injected")
                  }
                  out.write("+OK\r\n".getBytes(UTF_8)); out.flush()
                }
                else throw new java.io.IOException(s"stub: unexpected '$line'")
              }
            } catch { case _: java.io.IOException => () }
            finally sock.close()
          }).start()
        } catch { case _: java.io.IOException => () }
      }
    })
    acceptor.start()
    def stop(): Unit = { running = false; server.close() }
  }

  test("hpub frame: exact lengths, Nats-Msg-Id first, wildcard subjects rejected") {
    val f = new String(NatsWire.hpubFrame("a.b", "id1", "k1",
      Map("x" -> "y"), "pp".getBytes(UTF_8)), UTF_8)
    val expectHdr = "NATS/1.0\r\nNats-Msg-Id: id1\r\ndf-key: k1\r\nx: y\r\n\r\n"
    assert(f == s"HPUB a.b ${expectHdr.length} ${expectHdr.length + 2}\r\n${expectHdr}pp\r\n")
    intercept[IllegalArgumentException](NatsWire.hpubFrame("a.*", "i", "", Map.empty, Array.empty))
    intercept[IllegalArgumentException](NatsWire.hpubFrame("a.>", "i", "", Map.empty, Array.empty))
    intercept[IllegalArgumentException](NatsWire.hpubFrame("a b", "i", "", Map.empty, Array.empty))
    assert(NatsWire.validSubject("deltaforge.events.t"))
    assert(!NatsWire.validSubject("a..b") && !NatsWire.validSubject(".a"))
  }

  test("hpub frame: CR/LF injection via msgId/dfKey/header values is neutralized") {
    // a routing key carrying \r\n must not forge header lines (e.g. spoof a
    // second Nats-Msg-Id); values are stripped, bad header KEYS rejected
    val f = new String(NatsWire.hpubFrame("a.b", "id\r\nNats-Msg-Id: forged",
      "k\r\n1", Map("x" -> "y\r\nz: w"), "p".getBytes(UTF_8)), UTF_8)
    val expectHdr = "NATS/1.0\r\nNats-Msg-Id: idNats-Msg-Id: forged\r\ndf-key: k1\r\nx: yz: w\r\n\r\n"
    assert(f == s"HPUB a.b ${expectHdr.length} ${expectHdr.length + 1}\r\n${expectHdr}p\r\n")
    intercept[IllegalArgumentException](
      NatsWire.hpubFrame("a.b", "i", "", Map("bad\r\nkey" -> "v"), Array.empty))
    intercept[IllegalArgumentException](
      NatsWire.hpubFrame("a.b", "i", "", Map("bad:key" -> "v"), Array.empty))
  }

  test("nats sink e2e: handshake, templated subject, Msg-Id dedup key, payload intact") {
    val stub = new NatsStub()
    try {
      val sink = new NatsWire.NatsSink("n1", "127.0.0.1", stub.port,
        subjectTemplate = Some("cdc.${source.db}.${source.table}"), pipelineSize = 8)
      sink.write(events(40).coalesce(1), 0L)
      val msgs = stub.received.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[stub.Msg])
      assert(msgs.length == 40)
      assert(msgs.forall(_.subject == "cdc.db.t"))
      assert(msgs.forall(_.headers.contains("Nats-Msg-Id")))
      assert(msgs.map(_.headers("Nats-Msg-Id")).distinct.length == 40)
      assert(msgs.head.payload.contains("\"op\":\"c\""))
      assert(stub.connections.get() == 1) // pipelined over one conn
    } finally stub.stop()
  }

  test("nats replay: duplicate Nats-Msg-Id = server-side dedup → effectively once") {
    val stub = new NatsStub()
    try {
      val sink = new NatsWire.NatsSink("n2", "127.0.0.1", stub.port, staticSubject = "s")
      val batch = events(20).coalesce(1)
      sink.write(batch, 0L)
      sink.write(batch, 0L) // crash-recovery replay of the same micro-batch
      val msgs = stub.received.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[stub.Msg])
      assert(msgs.length == 40) // wire saw both deliveries (at-least-once)
      // JetStream's duplicate-window dedup key collapses them to exactly 20
      assert(msgs.map(_.headers("Nats-Msg-Id")).distinct.length == 20)
    } finally stub.stop()
  }

  test("nats sink outage: connection killed mid-pipeline, reconnect dropped before INFO, third connection delivers every message once by Nats-Msg-Id") {
    // the failed reconnect spends one retry of the budget (3) instead of
    // failing the batch: connection #2 dies before the handshake's INFO
    val stub = new NatsStub(killAfter = 5, dropSecondBeforeInfo = true)
    try {
      val sink = new NatsWire.NatsSink("n3", "127.0.0.1", stub.port,
        staticSubject = "s", pipelineSize = 10)
      sink.write(events(30).coalesce(1), 0L)
      val msgs = stub.received.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[stub.Msg])
      // at-least-once on the wire (the killed chunk was resent), exactly
      // once by the JetStream dedup key: all 30 ids, no gaps
      assert(msgs.map(_.headers("Nats-Msg-Id")).distinct.length == 30)
      assert(msgs.length >= 30)
      assert(stub.connections.get() == 3)
    } finally stub.stop()
  }
}
