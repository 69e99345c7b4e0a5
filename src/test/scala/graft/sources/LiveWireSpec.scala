package graft.sources

import graft.SparkSpec
import graft.core.ChangeEvent
import graft.streaming.{CdcPipeline, MemorySink, SinkLedger}
import graft.sources.{MysqlBinlog => B, MysqlBinlogFixture => Fx, PgOutputFixture => PFx}
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.ServerSocket
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/**
 * LIVE-SOCKET CDC transports: the MySQL handshake + COM_BINLOG_DUMP_GTID
 * client and the PG START_REPLICATION client running against in-test TCP
 * stub servers that speak the real protocols — authentication verified,
 * dump/slot requests parsed, fixture events streamed, connections dropped
 * mid-stream. Proves the reference's source loop (mysql/mod.rs:63-114,
 * postgres/mod.rs:74-87) end to end on sockets: connect → auth → dump →
 * DECODE (the existing byte decoders, unchanged) → coordinator → sink,
 * with reconnect-resume from the checkpoint across a dropped connection.
 */
class LiveWireSpec extends SparkSpec {

  // ———————————————————————— MySQL side ————————————————————————

  import MysqlTestStub.{Uuid, binlogFile, eventType, logPos}
  private type MysqlStub = MysqlTestStub.Stub

  private val names = Fx.ordersCols.map(_.name).toIndexedSeq

  test("mysql: handshake, scramble auth, dump request on the wire; bad password rejected") {
    val events = binlogFile(Seq(1L, 2L))
    val stub = new MysqlStub("secret", events)
    try {
      // wrong password → ERR packet → IOException
      val bad = new MysqlWire.BinlogClient("127.0.0.1", stub.port, "repl", "wrong")
      val ex = intercept[java.io.IOException] { bad.tail("binlog.000001", 4L)((_, _) => true) }
      assert(ex.getMessage.contains("Access denied"))

      // right password: full stream decodes
      val collected = new java.io.ByteArrayOutputStream()
      val client = new MysqlWire.BinlogClient("127.0.0.1", stub.port, "repl", "secret")
      client.tail("binlog.000001", 4L)((e, _) => { collected.write(e); true })
      val req = stub.dumps.peek()
      assert(req != null && req.file == "binlog.000001" && req.pos == 4L)
      val recs = B.decodeSegment(collected.toByteArray, (_, _) => names).filter(_.op != null)
      assert(recs.map(r => r.op) == Seq("c", "c"))
      assert(recs.head.after.contains("\"o_orderkey\":1"))
      assert(recs.head.gtid == s"$Uuid:2")
    } finally stub.stop()
  }

  test("mysql: dropped connection mid-stream → reconnect from checkpoint, no loss, no dup") {
    val pks = Seq(1L, 2L, 3L, 4L)
    val events = binlogFile(pks)
    // first connection dies after 5 non-FDE events (mid pk2's triple)
    val stub = new MysqlStub("secret", events, dropAfterOnFirst = 5)
    try {
      val collected = new java.io.ByteArrayOutputStream()
      var checkpoint = 4L
      val client = new MysqlWire.BinlogClient("127.0.0.1", stub.port, "repl", "secret")
      def run(): Boolean =
        try {
          client.tail("binlog.000001", checkpoint) { (e, endPos) =>
            collected.write(e)
            if (eventType(e) != B.FORMAT_DESCRIPTION_EVENT) checkpoint = endPos
            true
          }
          true
        } catch { case _: java.io.IOException => false }

      assert(!run()) // first attempt drops
      assert(checkpoint > 4L) // progress was checkpointed
      assert(run()) // resume completes
      assert(stub.dumps.size() == 2)
      val resumed = stub.dumps.toArray(Array.empty[AnyRef])
        .map(_.asInstanceOf[MysqlWire.DumpRequest]).apply(1)
      assert(resumed.pos == checkpointAfterFirstDrop(events, 5)) // resumed where it left off

      val recs = B.decodeSegment(collected.toByteArray, (_, _) => names).filter(_.op != null)
      // every pk exactly once — the per-event checkpoint + position-sliced
      // resume is the reference's min-replay contract on the wire
      assert(recs.map(r => jsonPk(r.after)) == pks)
    } finally stub.stop()
  }

  private def checkpointAfterFirstDrop(events: IndexedSeq[Array[Byte]], dropAfter: Int): Long = {
    val nonFde = events.filter(e => eventType(e) != B.FORMAT_DESCRIPTION_EVENT)
    logPos(nonFde(dropAfter - 1))
  }
  private def jsonPk(after: String): Long =
    """"o_orderkey":(\d+)""".r.findFirstMatchIn(after).get.group(1).toLong

  test("mysql: socket → decode → coordinator → sink, end to end") {
    val pks = Seq(1L, 2L, 3L)
    val stub = new MysqlStub("secret", binlogFile(pks))
    try {
      val collected = new java.io.ByteArrayOutputStream()
      new MysqlWire.BinlogClient("127.0.0.1", stub.port, "repl", "secret")
        .tail("binlog.000001", 4L)((e, _) => { collected.write(e); true })
      val segment = collected.toByteArray

      import spark.implicits._
      val nm = names // local copy — the closure must not capture the spec
      val decoded = Seq(segment).toDS().flatMap(seg =>
        B.decodeSegment(seg, (_, _) => nm)).toDF()
      val conformed = ChangeEvent.conform(decoded
        .filter(col("op").isNotNull)
        .select(col("op"), col("before"), col("after"),
          struct(lit("wire-test").as("name"), lit(Fx.OrdersDb).as("db"),
            col("table"), lit("mysql").as("connector"), col("gtid"),
            col("pos"), col("pos").as("sequence")).as("source"),
          col("tsMs").as("ts_ms"),
          concat(col("table"), lit(":"), col("pos")).as("event_id"),
          col("txEnd").as("tx_end")))

      val dir = Files.createTempDirectory("livewire").toString
      val sink = new MemorySink("wire")
      CdcPipeline.processBatch(
        CdcPipeline.Config(Seq(sink), ledgerDir = dir), new SinkLedger(dir))(conformed, 0L)
      assert(sink.totalRows == pks.length)
    } finally stub.stop()
  }

  // ———————————————————————— Postgres side ————————————————————————

  /** pgoutput message stream with ascending LSNs: per row Begin + Insert +
   * Commit (the Relation message is re-sent per connection, as pgoutput
   * does). */
  private def pgStream(pks: Seq[Long], from: Long = 1000L): Seq[(Long, Array[Byte])] = {
    var lsn = from
    val out = Seq.newBuilder[(Long, Array[Byte])]
    pks.foreach { pk =>
      out += ((lsn, PFx.begin(lsn + 2, PFx.CommitMicrosPg, 700 + pk)))
      out += ((lsn + 1, PFx.insert(9001L,
        PFx.orderValues(pk, pk + 100, "O", 10.50 + pk, 812332800000L, "2-HIGH", toastUnchanged = false))))
      out += ((lsn + 2, PFx.commit(lsn + 2, lsn + 3, PFx.CommitMicrosPg)))
      lsn += 10
    }
    out.result()
  }

  private class PgStub(stream: Seq[(Long, Array[Byte])], dropAfterOnFirst: Int = Int.MaxValue) {
    import PgWire._
    val statusUpdates = new ConcurrentLinkedQueue[StatusUpdate]()
    val slots = new ConcurrentLinkedQueue[String]()
    // the drop targets the first STREAMING connection: the spooler's
    // failover guard IDENTIFY_SYSTEMs on its own connection first, which
    // must not absorb the injected fault
    private val streamConns = new AtomicInteger(0)
    private val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile private var running = true
    private val relationMsg = PFx.relation(9001L, PFx.Schema, PFx.Table, PFx.ordersCols)
    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          new Thread(() => {
            try {
              val in = new BufferedInputStream(sock.getInputStream)
              val out = new BufferedOutputStream(sock.getOutputStream)
              val params = readStartup(in)
              require(params.get("replication").contains("database"), "not a replication connection")
              val (t1, b1) = authenticationOk(); writeMsg(out, t1, b1)
              val (t2, b2) = readyForQuery(); writeMsg(out, t2, b2)
              var open = true
              while (open) {
                val (typ, body) = readMsg(in)
                typ match {
                  case 'Q' =>
                    val sql = new String(body, 0, body.length - 1, java.nio.charset.StandardCharsets.UTF_8)
                    if (sql == "IDENTIFY_SYSTEM") {
                      singleRow(Seq("systemid" -> "7001", "timeline" -> "1",
                        "xlogpos" -> lsnToString(5000L), "dbname" -> "shop"))
                        .foreach { case (t, b) => writeMsg(out, t, b) }
                      val (tc, bc) = commandComplete("IDENTIFY_SYSTEM"); writeMsg(out, tc, bc)
                      val (tz, bz) = readyForQuery(); writeMsg(out, tz, bz)
                    } else if (sql.startsWith("START_REPLICATION")) {
                      val n = streamConns.incrementAndGet()
                      slots.add(sql)
                      val startLsn = parseLsn(sql.split(' ')(4))
                      val (tw, bw) = copyBothResponse(); writeMsg(out, tw, bw)
                      // relation metadata is re-sent on every new stream
                      writeMsg(out, 'd', xlogData(startLsn, startLsn, relationMsg))
                      var sent = 0
                      stream.filter(_._1 > startLsn).foreach { case (lsn, msg) =>
                        if (n == 1 && sent >= dropAfterOnFirst) throw new java.io.IOException("injected drop")
                        writeMsg(out, 'd', xlogData(lsn, lsn + 1, msg))
                        sent += 1
                      }
                      // ask the standby to report progress, then end the stream
                      writeMsg(out, 'd', keepalive(9999L, replyRequested = true))
                      val (dt, db) = readMsg(in)
                      if (dt == 'd' && db(0) == 'r') statusUpdates.add(decodeStatusUpdate(db))
                      writeMsg(out, 'c', Array.empty) // CopyDone
                      val (tc, bc) = commandComplete("COPY"); writeMsg(out, tc, bc)
                      val (tz, bz) = readyForQuery(); writeMsg(out, tz, bz)
                      open = false
                    }
                  case 'X' => open = false // Terminate
                  case _ => ()
                }
              }
            } catch { case _: java.io.IOException | _: java.io.EOFException => () }
            finally sock.close()
          }).start()
        } catch { case _: java.io.IOException => () }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    def stop(): Unit = { running = false; server.close() }
  }

  test("pg: startup, IDENTIFY_SYSTEM, START_REPLICATION, status updates on the wire") {
    val stub = new PgStub(pgStream(Seq(1L, 2L)))
    try {
      val client = new PgWire.ReplicationClient("127.0.0.1", stub.port, "repl", "shop",
        "graft_slot", "graft_pub")
      val sys = client.identifySystem()
      assert(sys("systemid") == "7001" && sys("timeline") == "1")

      val frames = new java.io.ByteArrayOutputStream()
      client.tail(0L) { (lsn, payload) => frames.write(PFx.framed(lsn, payload)); true }
      assert(stub.slots.peek().contains("SLOT graft_slot LOGICAL 0/0"))
      assert(stub.slots.peek().contains("publication_names 'graft_pub'"))

      val recs = PgOutput.decodeSegment(frames.toByteArray).filter(_.op != null)
      assert(recs.map(_.op) == Seq("c", "c"))
      assert(recs.head.after.contains("\"o_orderkey\":1"))
      assert(recs.head.txId == 701L)

      // the standby reported its flushed LSN back (keepalive reply)
      val st = stub.statusUpdates.peek()
      assert(st != null && st.flushed >= 1000L)
    } finally stub.stop()
  }

  test("pg: dropped stream resumes from flushed LSN — socket → decode → coordinator → sink") {
    val pks = Seq(1L, 2L, 3L, 4L)
    val stub = new PgStub(pgStream(pks), dropAfterOnFirst = 5) // dies mid pk2's tx
    try {
      val client = new PgWire.ReplicationClient("127.0.0.1", stub.port, "repl", "shop",
        "graft_slot", "graft_pub")
      val frames = new java.io.ByteArrayOutputStream()
      var flushed = 0L
      def run(): Boolean =
        try {
          client.tail(flushed) { (lsn, payload) =>
            frames.write(PFx.framed(lsn, payload))
            flushed = math.max(flushed, lsn)
            true
          }
          true
        } catch { case _: java.io.IOException => false }

      assert(!run()) // drop
      assert(flushed > 0L)
      assert(run()) // resume
      val recs = PgOutput.decodeSegment(frames.toByteArray).filter(_.op != null)
      assert(recs.map(r => jsonPk(r.after)) == pks) // exactly once

      import spark.implicits._
      val decoded = Seq(frames.toByteArray).toDS().flatMap(PgOutput.decodeSegment(_)).toDF()
      val conformed = ChangeEvent.conform(decoded
        .filter(col("op").isNotNull)
        .select(col("op"), col("before"), col("after"),
          struct(lit("pg-wire").as("name"), lit("shop").as("db"),
            col("schema"), col("table"), lit("postgres").as("connector"),
            col("lsn"), col("txId").as("tx_id")).as("source"),
          col("tsMs").as("ts_ms"),
          concat(col("table"), lit(":"), col("lsn")).as("event_id"),
          lit(true).as("tx_end")))
      val dir = Files.createTempDirectory("livewire-pg").toString
      val sink = new MemorySink("pgwire")
      CdcPipeline.processBatch(
        CdcPipeline.Config(Seq(sink), ledgerDir = dir), new SinkLedger(dir))(conformed, 0L)
      assert(sink.totalRows == pks.length)
    } finally stub.stop()
  }

  test("pg spooler: tx-whole relation-replayed segments; BacklogSource streams the socket") {
    val pks = Seq(1L, 2L, 3L, 4L)
    // connection #1 dies after 5 stream messages = mid tx2 (B,I,C per tx)
    val stub = new PgStub(pgStream(pks), dropAfterOnFirst = 5)
    val dir = Files.createTempDirectory("pg-spool").toString
    try {
      val spooler = new PgSpooler("127.0.0.1", stub.port, "repl", "shop",
        "graft_slot", "graft_pub", dir, maxTxPerSegment = 2)
      assert(spooler.pump() == 2) // one drop, one clean resume
      // checkpoint = the LAST commit's END LSN from the Commit body (lsn+3
      // in pgStream), not the commit frame's walStart — resuming from
      // walStart would redeliver the just-committed tx on a real server
      assert(spooler.checkpoint() == 1000L + 10L * (pks.length - 1) + 3L)

      // every segment decodes SELF-CONTAINED (relation replayed at its head)
      val perSegment = BacklogSource.segments(dir).map { p =>
        val seg = java.util.Base64.getDecoder.decode(Files.readAllLines(p).get(0))
        PgOutput.decodeSegment(seg).filter(_.op != null)
      }
      assert(perSegment.nonEmpty && perSegment.forall(_.nonEmpty))
      assert(perSegment.flatten.map(r =>
        """"o_orderkey":(\d+)""".r.findFirstMatchIn(r.after).get.group(1).toLong) == pks)

      // and the DSv2 source streams the spool end to end
      import spark.implicits._
      val lines = spark.readStream.format(classOf[BacklogSource].getName)
        .option("path", dir).load()
      val decoded = lines.select(unbase64(col("value")).as("seg"))
        .as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY)
        .flatMap(PgOutput.decodeSegment(_)).toDF()
      val out = Files.createTempDirectory("pg-spool-out").toString
      val q = decoded.filter(col("op").isNotNull)
        .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/chk")
        .format("parquet").option("path", s"$out/data").start()
      q.awaitTermination(60000)
      assert(spark.read.parquet(s"$out/data").count() == pks.length)
    } finally stub.stop()
  }

  test("pg spooler: segments whose commit LSNs cross 10^12 list in commit order") {
    // commit end LSNs 999_999_999_983 … 1_000_000_000_013 (past E8/D4A51000,
    // ~931 GiB of WAL): a name sort that puts seg-1000000000003 before
    // seg-999999999993 would shift the (segment, line) offsets of
    // segments already consumed
    val pks = Seq(1L, 2L, 3L, 4L)
    val stub = new PgStub(pgStream(pks, from = 999999999980L))
    val dir = Files.createTempDirectory("pg-spool-wide").toString
    try {
      val spooler = new PgSpooler("127.0.0.1", stub.port, "repl", "shop",
        "graft_slot", "graft_pub", dir, maxTxPerSegment = 1) // one segment per tx
      assert(spooler.pump() == 1)
      assert(spooler.checkpoint() == 1000000000013L)
      val segs = BacklogSource.segments(dir)
      assert(segs.size == pks.length)
      assert(segs.flatMap { p =>
        val seg = java.util.Base64.getDecoder.decode(Files.readAllLines(p).get(0))
        PgOutput.decodeSegment(seg).filter(_.op != null).map(r => jsonPk(r.after))
      } == pks)
    } finally stub.stop()
  }
}
