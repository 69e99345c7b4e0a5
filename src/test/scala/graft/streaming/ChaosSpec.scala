package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import graft.operators.AvroEncoding
import graft.sources.BacklogSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

/**
 * Fault-injection suite — the in-sandbox analog of the reference chaos
 * harness (crates/chaos/src/scenarios/: sink_outage.rs, crash_recovery.rs,
 * dlq_poison.rs, sr_outage.rs, exactly_once.rs). Where the reference cuts
 * Toxiproxy links around live containers, these scenarios inject the same
 * faults at the sink/registry seam and assert the same invariants:
 *
 *  - sink outage     → checkpoint never advances while a required sink is
 *                      down; after recovery every event arrives (no gaps);
 *                      healthy sinks never re-receive committed batches.
 *  - crash recovery  → a query that dies mid-batch resumes from the
 *                      checkpoint and delivers everything (no loss).
 *  - DLQ poison      → poison events route to the DLQ, good events keep
 *                      flowing, overflow policies bound the queue, ack
 *                      drains it.
 *  - SR outage       → encoding continues on the cached schema id while the
 *                      registry is down; new registrations succeed after
 *                      recovery.
 *  - exactly-once    → a send crash mid-transaction leaves NO partial batch;
 *                      the replay delivers every event exactly once.
 */
class ChaosSpec extends SparkSpec {
  import CdcPipeline._

  /** Runs a `backlog` spec over `src` to the end of its lines with `sink`
   * swapped in (checkpoint and ledger under `out`); the query's failure,
   * if it died. */
  private def runBacklogSpec(src: String, out: String, sink: EventSink): Option[Throwable] =
    drainSpec(
      s"""metadata: {name: chaos}
         |spec:
         |  source: {kind: backlog, path: $src}
         |  sinks: [{kind: memory, id: mem}]
         |""".stripMargin, out)(_.copy(sinks = Seq(sink)))

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  private def tmp(): String = Files.createTempDirectory("graft-chaos").toString

  test("sink_outage: checkpoint gated while down; full delivery after recovery; no gaps") {
    val dir = tmp()
    // kafka-shaped sink down for the first 3 write attempts (ref
    // sink_outage.rs OUTAGE_HOLD), lake sink healthy throughout
    val flaky = new MemorySink("kafka", failTimes = 3)
    val healthy = new MemorySink("lake")
    val cfg = Config(Seq(flaky, healthy), CommitAll, ledgerDir = dir)
    val ledger = new SinkLedger(dir)

    // batches 0..2 arrive while the outage holds: the coordinator throws
    // (Spark would retry/fail the trigger), and the COMMIT GATE holds — the
    // reference's "does NOT advance the checkpoint while the sink is down"
    var failedAttempts = 0
    for (batchId <- 0L to 2L) {
      var delivered = false
      while (!delivered) {
        delivered = try { processBatch(cfg, ledger)(events(10), batchId); true }
        catch { case _: RuntimeException => failedAttempts += 1; false }
        if (!delivered) {
          assert(ledger.committed("kafka") < batchId) // outage: no advance
          // CommitAll gates EVERYTHING: the healthy sink acked but is not
          // committed either, so the global resume point stays put
          assert(ledger.minCommitted(Seq("kafka", "lake")) < batchId)
        }
      }
      assert(ledger.committed("kafka") == batchId) // recovered round committed
    }
    assert(failedAttempts == 3) // the injected outage was actually exercised
    // no gaps: every batch id present in the flaky sink exactly once
    assert((0L to 2L).forall(flaky.batches.containsKey))
    assert(flaky.totalRows == 30)
    // at-least-once: the healthy sink re-received batch 0 during the outage
    // (CommitAll gated its commit), but replays converge on the same state —
    // the reference's "duplicates possible, never gaps"
    assert(healthy.totalRows == 30)
    assert((0L to 2L).forall(healthy.batches.containsKey))
  }

  test("crash_recovery: query dies mid-batch, restart from checkpoint loses nothing") {
    val src = tmp()
    val out = tmp()
    Files.write(Paths.get(src, "seg-000.jsonl"),
      (1 to 8).map(i => s"""{"op":"c","after":"{\\"id\\":$i}","ts_ms":$i,"event_id":"e$i"}""")
        .mkString("\n").concat("\n").getBytes)

    val sink = new MemorySink("mem", failTimes = 1) // injected crash on batch 0
    val ledger = new SinkLedger(s"$out/ledger")
    def run(): Option[Throwable] = runBacklogSpec(src, out, sink)

    assert(run().isDefined) // the crash happened — query died mid-batch
    assert(sink.totalRows == 0 && ledger.committed("mem") == -1L) // nothing half-done
    assert(run().isEmpty) // restart from the same checkpoint succeeds
    assert(sink.totalRows == 8) // every event delivered, no loss
    assert(ledger.committed("mem") >= 0L)
  }

  test("dlq_poison: poison routes to DLQ, good events flow, overflow policies bound it") {
    val dir = tmp()
    import spark.implicits._
    // 1 poison event (unparseable payload) among 9 good ones
    val batch = ChangeEvent.conform(
      ((1 to 9).map(i => ("c", s"""{"id":$i}""", s"g$i")) :+ (("c", """{broken""", "poison")))
        .toDF("op", "after", "event_id")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"))))
    val sink = new MemorySink("mem")
    val dlqCfg = Dlq.Config("pipe", "mem", s"$dir/dlq-journal")
    val ledgerDir = tmp()
    val cfg = Config(Seq(sink), ledgerDir = ledgerDir,
      processors = Seq(b => Dlq.splitAndJournal(dlqCfg, b,
        Dlq.jsonParses(col("after")), "serialization", lit("bad json"))))
    processBatch(cfg, new SinkLedger(ledgerDir))(batch, 0L) // must NOT throw
    assert(sink.totalRows == 9) // good events flowed (pipeline healthy)
    val journal = spark.read.parquet(s"$dir/dlq-journal")
    assert(journal.count() == 1)
    assert(journal.head().getAs[String]("event_id") == "poison")

    // poison FLOOD against the bounded operator queue, one run per policy
    val drop = new Dlq.DlqQueue(s"$dir/q-drop", maxEntries = 5, Dlq.DropOldest)
    (1 to 8).foreach(i => drop.push(s"""{"n":$i}"""))
    assert(drop.len == 5 && drop.evictedTotal == 3)
    assert(drop.peek(1).head._2.contains("\"n\":4")) // oldest survivors shifted

    val rej = new Dlq.DlqQueue(s"$dir/q-rej", maxEntries = 5, Dlq.Reject)
    (1 to 8).foreach(i => rej.push(s"""{"n":$i}"""))
    assert(rej.len == 5 && rej.rejectedTotal == 3)
    assert(rej.peek(1).head._2.contains("\"n\":1")) // oldest kept under Reject

    val blk = new Dlq.DlqQueue(s"$dir/q-blk", maxEntries = 2, Dlq.Block,
      blockTimeoutMs = 200)
    blk.push("a"); blk.push("b")
    assert(blk.push("c").isEmpty && blk.rejectedTotal == 1) // timed out, fell back
    // operator ack drains and recovers capacity (rest-api dlq_ack)
    assert(blk.ack(upToSeq = Long.MaxValue) == 2)
    assert(blk.push("d").isDefined && blk.len == 1)
  }

  test("sr_outage: cached schema id survives the outage; new subjects register after recovery") {
    val down = new java.util.concurrent.atomic.AtomicBoolean(false)
    val registrations = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        if (down.get()) ex.sendResponseHeaders(503, -1)
        else {
          val id = registrations.incrementAndGet()
          val body = s"""{"id":$id}"""
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body.getBytes)
        }
        ex.close()
      }
    })
    server.start()
    try {
      import spark.implicits._
      val reg = new AvroEncoding.HttpSchemaRegistryClient(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")

      assert(AvroEncoding.encode(df, "orders", reg).collect().length == 2) // warmup registers
      assert(registrations.get() == 1)

      down.set(true) // ── cut the registry (ref sr_outage.rs step 3)
      // same schema keeps encoding from the cache — zero HTTP, no failure
      val encoded = AvroEncoding.encode(df, "orders", reg).collect()
      assert(encoded.length == 2 && registrations.get() == 1)
      assert(encoded.head(0) == 0.toByte) // wire format intact (magic byte)
      // a NEW subject needs a live registry → fails fast, does not corrupt
      intercept[Exception] { AvroEncoding.encode(df, "fresh", reg).collect() }

      down.set(false) // ── restore (step 6)
      assert(AvroEncoding.encode(df, "fresh", reg).collect().length == 2)
      assert(registrations.get() == 2) // new registration succeeded post-recovery
    } finally server.stop(0)
  }

  test("soak: repeated crash/restart cycles stay exactly-once in sink state") {
    // Reference soak.rs: run for a while with periodic kills; the invariant
    // is cumulative — after N kill/recover cycles nothing is lost and the
    // committed state has no duplicates. 3 rounds: each appends a segment,
    // crashes on the first write attempt, then recovers on the replay.
    val src = tmp()
    val out = tmp()
    val sink = new MemorySink("mem", failTimes = 0) {
      private val crashNext = new java.util.concurrent.atomic.AtomicBoolean(false)
      def armCrash(): Unit = crashNext.set(true)
      override def write(batch: DataFrame, batchId: Long): Unit = {
        if (crashNext.getAndSet(false)) throw new RuntimeException("soak: injected kill")
        super.write(batch, batchId)
      }
    }
    val ledger = new SinkLedger(s"$out/ledger")
    def run(): Boolean = runBacklogSpec(src, out, sink).isEmpty

    var expected = 0L
    for (round <- 0 to 2) {
      Files.write(Paths.get(src, f"seg-$round%03d.jsonl"),
        (1 to 5).map(i => s"""{"op":"c","after":"{\\"id\\":$i}","ts_ms":${round * 10 + i},"event_id":"e$round-$i"}""")
          .mkString("\n").concat("\n").getBytes)
      expected += 5
      sink.armCrash()
      assert(!run()) // the kill landed
      assert(run()) // recovery run
      assert(sink.totalRows == expected, s"round $round") // no loss, no dupes
      assert(ledger.committed("mem") == round.toLong) // monotonic commit
    }
  }

  test("binlog_purge: purged checkpoint position halts or resnapshots — never silently resumes") {
    import graft.sources.SnapshotSupport
    val src = tmp()
    val out = tmp()
    Files.write(Paths.get(src, "seg-000.jsonl"),
      (1 to 4).map(i => s"""{"op":"c","after":"{\\"id\\":$i}","ts_ms":$i,"event_id":"e$i"}""")
        .mkString("\n").concat("\n").getBytes)

    def run(chk: String, dataDir: String): Unit = {
      val q = spark.readStream.format(classOf[BacklogSource].getName)
        .option("path", src).load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .format("parquet").option("path", dataDir).start()
      q.awaitTermination(60000): Unit
    }
    run(s"$out/chk", s"$out/data")
    assert(spark.read.parquet(s"$out/data").count() == 4)

    // offline purge (the RESET BINARY LOGS analog, binlog_purge.rs steps
    // 2-3): the consumed segment is gone; a NEW segment has taken index 0
    Files.delete(Paths.get(src, "seg-000.jsonl"))
    Files.write(Paths.get(src, "seg-001.jsonl"),
      (5 to 7).map(i => s"""{"op":"c","after":"{\\"id\\":$i}","ts_ms":$i,"event_id":"e$i"}""")
        .mkString("\n").concat("\n").getBytes)

    // the REAL saved position from Spark's offset log — not a synthetic one
    val offsetsDir = Paths.get(s"$out/chk/offsets")
    val newest = Files.list(offsetsDir).toArray.map(_.toString)
      .filterNot(_.endsWith(".crc")).sorted.last
    val savedJson = Files.readAllLines(Paths.get(newest)).toArray.map(_.toString)
      .filter(l => l.startsWith("{") && l.contains("segment")).last
    val saved = BacklogSource.parseOffset(savedJson)
    assert(saved.name == "seg-000.jsonl") // the position NAMES the purged file

    // restarting on the stale checkpoint must fail LOUDLY — resuming by
    // index would read seg-001 (now at index 0) from line 4, silently
    // skipping its first 4 events. This is the exact failure mode the
    // scenario exists to rule out.
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(s"$out/chk", s"$out/data")
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(thrown).exists(_.contains("purged/rotated")))
    assert(spark.read.parquet(s"$out/data").count() == 4) // nothing half-written

    // the operator-facing guard agrees (F12: halt or adapt, never resume)
    SnapshotSupport.decideResume(saved, src, SnapshotSupport.Halt) match {
      case SnapshotSupport.HaltWith(reason) => assert(reason.contains("purged"))
      case other => fail(s"expected halt, got $other")
    }
    assert(SnapshotSupport.decideResume(saved, src, SnapshotSupport.Adapt) ==
      SnapshotSupport.Resnapshot)
    run(s"$out/chk2", s"$out/data2") // the operator's resnapshot: fresh checkpoint
    val resnap = spark.read.parquet(s"$out/data2")
    assert(resnap.count() == 3) // everything still available is delivered
  }

  test("network_partition: a HUNG sink trips the per-sink deadline, not the pipeline") {
    // The sink-side partition (ref network_partition.rs / ch_outage.rs): the
    // connection doesn't fail, it silently hangs. The per-sink deadline must
    // convert the hang into an unacked sink so the commit gate holds; the
    // replay after "connectivity restores" delivers everything.
    val dir = tmp()
    val hang = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sink = new EventSink {
      val id = "hung"
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      def write(batch: DataFrame, batchId: Long): Unit = {
        if (hang.get()) Thread.sleep(60000) // partitioned: no error, no progress
        else rows.addAndGet(batch.count()): Unit
      }
    }
    val cfg = Config(Seq(sink), ledgerDir = dir,
      sinkTimeout = scala.concurrent.duration.Duration(2, "seconds"))
    val ledger = new SinkLedger(dir)
    val t0 = System.nanoTime()
    intercept[RuntimeException] { processBatch(cfg, ledger)(events(5), 0L) }
    val heldSecs = (System.nanoTime() - t0) / 1e9
    assert(heldSecs < 30, s"deadline did not bound the hang: ${heldSecs}s") // not 60s
    assert(ledger.committed("hung") == -1L) // gate held
    hang.set(false) // connectivity restored
    processBatch(cfg, ledger)(events(5), 0L)
    assert(sink.rows.get() == 5 && ledger.committed("hung") == 0L) // no loss
  }

  test("fan-out deadline is ONE outer budget, not a fresh timeout per sink") {
    // Reference coordinator.rs:893-1030 applies a single batch-level deadline
    // across the concurrent fan-out. With N hung sinks the batch must still
    // resolve in ~timeout, not N×timeout (the sequential-await trap).
    val dir = tmp()
    def hungSink(sid: String) = new EventSink {
      val id = sid
      def write(batch: DataFrame, batchId: Long): Unit = Thread.sleep(60000)
    }
    val cfg = Config(
      Seq(hungSink("h1"), hungSink("h2"), hungSink("h3")),
      ledgerDir = dir,
      sinkTimeout = scala.concurrent.duration.Duration(2, "seconds"))
    val t0 = System.nanoTime()
    intercept[RuntimeException] { processBatch(cfg, new SinkLedger(dir))(events(5), 0L) }
    val wall = (System.nanoTime() - t0) / 1e9
    // 3 sinks × 2 s sequential would be ≥6 s; one outer budget stays ≈2 s
    assert(wall < 5.0, s"fan-out took ${wall}s — deadline is per-sink, not outer")
  }

  test("schema_drift: new column mid-stream is sensed, versioned, and does not stall delivery") {
    import spark.implicits._
    val dir = tmp()
    val reg = new SchemaRegistry(spark, s"$dir/registry")
    val declared = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val v1 = reg.register("t", declared, atMs = 1000L)

    def batchOf(rows: Seq[(String, String, String)]): DataFrame =
      ChangeEvent.conform(rows.toDF("op", "after", "event_id")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"))))

    val sink = new MemorySink("mem")
    val cfg = Config(Seq(sink), ledgerDir = dir)
    val ledger = new SinkLedger(dir)

    // batch 0: declared shape; batch 1: ALTER TABLE happened upstream —
    // a `new_col` field appears (ref schema_drift.rs: drift mid-stream)
    processBatch(cfg, ledger)(batchOf(Seq(("c", """{"id":1,"v":"a"}""", "e1"))), 0L)
    val drifted = batchOf(Seq(("c", """{"id":2,"v":"b","new_col":7}""", "e2")))
    processBatch(cfg, ledger)(drifted, 1L)
    assert(sink.totalRows == 2) // delivery never stalled

    // the sensing path flags exactly the drifted column …
    val observed = SchemaSensing.observeFields(drifted)
    val drift = SchemaSensing.drift(observed, Map("t" -> Seq("id", "v"))).collect()
    assert(drift.length == 1)
    assert(drift.head.getAs[String]("field") == "new_col" &&
      drift.head.getAs[String]("kind") == "undeclared_column")

    // … and re-registering the evolved shape bumps the ledger version while
    // an unchanged shape does not (targeted reload, not a version storm)
    val evolved = declared.add("new_col", org.apache.spark.sql.types.LongType)
    val v2 = reg.register("t", evolved, atMs = 2000L)
    assert(v2 > v1)
    assert(reg.register("t", evolved, atMs = 3000L) == v2) // idempotent
    assert(reg.getAtSequence("t", v1).get.fieldNames.toSeq == Seq("id", "v"))
    assert(reg.getAtSequence("t", v2).get.fieldNames.contains("new_col"))
  }

  test("exactly_once: crash mid-transaction leaves no partials; replay delivers all, once") {
    import MessagingSinks._
    val q = ChaosSpec.buffer
    q.clear()
    ChaosSpec.failures.set(1) // outage on: every producer crashes on first send
    val sink = new KafkaLikeSink("k",
      () => new CollectingProducer(ChaosSpec.buffer,
        failOnSend = if (ChaosSpec.failures.get() > 0) 1 else 0),
      staticTopic = "t")
    val dir = tmp()
    val cfg = Config(Seq(sink), ledgerDir = dir)
    val ledger = new SinkLedger(dir)

    val batch = events(20)
    intercept[RuntimeException] { processBatch(cfg, ledger)(batch, 0L) }
    assert(q.isEmpty) // aborted transactions: NOT EVEN ONE record visible
    assert(ledger.committed("k") == -1L)

    ChaosSpec.failures.set(0) // outage lifts
    processBatch(cfg, ledger)(batch, 0L) // Spark's replay of the failed trigger
    assert(q.size() == 20) // all delivered
    val keys = q.toArray(Array.empty[WireRecord]).map(_.key)
    assert(keys.distinct.length == 20) // exactly once — no duplicates
    assert(ledger.committed("k") == 0L)
  }

  /**
   * In-test PG replication server for the failure scenarios: streams
   * fixture pgoutput; `dropped` makes START_REPLICATION answer like a real
   * server whose slot is gone; `sysId` is the IDENTIFY_SYSTEM identity
   * (mutable — flipping it IS the failover).
   */
  private class PgChaosStub {
    import graft.sources.{PgWire, PgOutputFixture => PFx}
    import PgWire._
    val dropped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sysId = new java.util.concurrent.atomic.AtomicReference[String]("7001")
    val conns = new java.util.concurrent.atomic.AtomicInteger(0)
    private val server = new java.net.ServerSocket(0)
    def port: Int = server.getLocalPort
    def stop(): Unit = server.close()
    private val relationMsg = PFx.relation(9001L, PFx.Schema, PFx.Table, PFx.ordersCols)
    private def stream: Seq[(Long, Array[Byte])] = {
      var lsn = 1000L
      val out = Seq.newBuilder[(Long, Array[Byte])]
      (1L to 3L).foreach { pk =>
        out += ((lsn, PFx.begin(lsn + 2, PFx.CommitMicrosPg, 700 + pk)))
        out += ((lsn + 1, PFx.insert(9001L, PFx.orderValues(pk, pk + 100, "O", 10.5 + pk,
          812332800000L, "2-HIGH", toastUnchanged = false))))
        out += ((lsn + 2, PFx.commit(lsn + 2, lsn + 3, PFx.CommitMicrosPg)))
        lsn += 10
      }
      out.result()
    }
    private val acceptor = new Thread(() => {
      while (!server.isClosed) {
        try {
          val sock = server.accept()
          conns.incrementAndGet()
          try {
            val in = new java.io.BufferedInputStream(sock.getInputStream)
            val out = new java.io.BufferedOutputStream(sock.getOutputStream)
            readStartup(in)
            val (t1, b1) = authenticationOk(); writeMsg(out, t1, b1)
            val (t2, b2) = readyForQuery(); writeMsg(out, t2, b2)
            var open = true
            while (open) {
              val (typ, body) = readMsg(in)
              typ match {
                case 'Q' =>
                  val sql = new String(body, 0, body.length - 1,
                    java.nio.charset.StandardCharsets.UTF_8)
                  if (sql == "IDENTIFY_SYSTEM") {
                    singleRow(Seq("systemid" -> sysId.get(), "timeline" -> "1",
                      "xlogpos" -> lsnToString(5000L), "dbname" -> "shop"))
                      .foreach { case (t, b) => writeMsg(out, t, b) }
                    val (tc, bc) = commandComplete("IDENTIFY_SYSTEM"); writeMsg(out, tc, bc)
                    val (tz, bz) = readyForQuery(); writeMsg(out, tz, bz)
                  } else if (sql.startsWith("START_REPLICATION")) {
                    if (dropped.get()) {
                      // the slot-dropped server response (SQLSTATE 42704)
                      val (te, be) = errorResponse(
                        """replication slot "chaos_slot" does not exist""")
                      writeMsg(out, te, be)
                      val (tz, bz) = readyForQuery(); writeMsg(out, tz, bz)
                    } else {
                      val startLsn = parseLsn(sql.split(' ')(4))
                      val (tw, bw) = copyBothResponse(); writeMsg(out, tw, bw)
                      writeMsg(out, 'd', xlogData(startLsn, startLsn, relationMsg))
                      stream.filter(_._1 > startLsn).foreach { case (lsn, msg) =>
                        writeMsg(out, 'd', xlogData(lsn, lsn + 1, msg))
                      }
                      writeMsg(out, 'd', keepalive(9999L, replyRequested = true))
                      readMsg(in) // standby status update
                      writeMsg(out, 'c', Array.empty)
                      val (tc, bc) = commandComplete("COPY"); writeMsg(out, tc, bc)
                      val (tz, bz) = readyForQuery(); writeMsg(out, tz, bz)
                    }
                    open = false
                  }
                case 'X' => open = false
                case _ => ()
              }
            }
          } catch { case _: java.io.IOException | _: java.io.EOFException => () }
          finally sock.close()
        } catch { case _: java.io.IOException => () }
      }
    })
    acceptor.setDaemon(true)
    acceptor.start()
  }

  test("slot_dropped: PG slot vanishes while offline — halt on restart, never silent WAL-head resume") {
    import graft.sources.{PgSpooler, SnapshotSupport}
    val stub = new PgChaosStub
    val dropped = stub.dropped
    val conns = stub.conns

    try {
      val dir = tmp()
      val spooler = new graft.sources.PgSpooler("127.0.0.1", stub.port,
        "repl", "shop", "chaos_slot", "chaos_pub", dir)

      // 1. warmup (slot_dropped.rs step 1): streaming works, checkpoint saved
      spooler.pump()
      val saved = spooler.checkpoint()
      assert(saved > 0L, "warmup did not checkpoint")
      def segs(): Seq[String] = {
        val d = new java.io.File(dir)
        d.listFiles().map(_.getName).filter(_.startsWith("seg-")).toSeq.sorted
      }
      val segsBefore = segs()
      assert(segsBefore.nonEmpty)

      // 2-3. "offline"; the slot is dropped on the server — checkpoint
      // position is now unreachable
      dropped.set(true)

      // 4-5. restart: must halt LOUDLY — and on the FIRST attempt (a dropped
      // slot is not transient; retry/backoff just delays the page). Silent
      // alternative ruled out: a fresh slot would resume from the WAL head
      // and skip everything between the checkpoint and now.
      val connsBefore = conns.get()
      val ex = intercept[PgSpooler.SlotDroppedException] { spooler.pump() }
      assert(ex.getMessage.contains("chaos_slot") && ex.getMessage.contains("halt"))
      // one identity check + one streaming attempt — NOT a retry storm
      assert(conns.get() == connsBefore + 2, "slot-gone was retried — it must halt immediately")
      assert(spooler.checkpoint() == saved) // position untouched
      assert(segs() == segsBefore) // nothing spooled from a wrong position

      // the operator-facing decision mirrors the MySQL binlog-purge guard
      PgSpooler.decideResume(saved, slotExists = false, SnapshotSupport.Halt) match {
        case SnapshotSupport.HaltWith(reason) => assert(reason.contains("slot"))
        case other => fail(s"expected halt, got $other")
      }
      assert(PgSpooler.decideResume(saved, slotExists = false, SnapshotSupport.Adapt) ==
        SnapshotSupport.Resnapshot)
      assert(PgSpooler.decideResume(saved, slotExists = true, SnapshotSupport.Halt) ==
        SnapshotSupport.Resume)

      // a CLEAN start (no consumed checkpoint) is NOT the guard's case: the
      // provisioning path sees the raw IOException and may create the slot
      val fresh = new graft.sources.PgSpooler("127.0.0.1", stub.port,
        "repl", "shop", "chaos_slot", "chaos_pub", tmp())
      intercept[java.io.IOException] { fresh.pump(maxAttempts = 1) }
    } finally stub.stop()
  }

  test("pg_failover: server replaced mid-stream — identity change halts, never resume on a foreign timeline") {
    import graft.sources.PgSpooler
    val stub = new PgChaosStub
    try {
      val dir = tmp()
      val spooler = new PgSpooler("127.0.0.1", stub.port,
        "repl", "shop", "chaos_slot", "chaos_pub", dir)

      // warmup on "postgres-a" (ref pg_failover.rs step 1): identity adopted
      spooler.pump()
      val saved = spooler.checkpoint()
      assert(saved > 0L && spooler.identity().contains("7001"))

      // failover (steps 2-4): the proxy now fronts postgres-b — a different
      // system_identifier, whose WAL timeline our LSN means nothing on
      stub.sysId.set("8002")

      // steps 5-7: reconnect detects the identity change and halts on the
      // FIRST attempt — before any START_REPLICATION against the new server
      val connsBefore = stub.conns.get()
      val ex = intercept[PgSpooler.FailoverException] { spooler.pump() }
      assert(ex.savedId == "7001" && ex.newId == "8002" && ex.checkpointLsn == saved)
      assert(stub.conns.get() == connsBefore + 1) // identity check only — no stream attempt
      assert(spooler.checkpoint() == saved) // position untouched
      assert(spooler.identity().contains("7001")) // identity NOT silently re-adopted

      // a CLEAN spool against postgres-b adopts the new identity and streams
      // (the reference's post-scenario "clear checkpoint and restart" path)
      val fresh = new PgSpooler("127.0.0.1", stub.port,
        "repl", "shop", "chaos_slot", "chaos_pub", tmp())
      fresh.pump()
      assert(fresh.identity().contains("8002") && fresh.checkpoint() > 0L)
    } finally stub.stop()
  }

  test("mysql_failover: primary replaced mid-stream — server_uuid change halts, never resume on a foreign binlog") {
    import graft.sources.{BinlogSpooler, MysqlTestStub}
    val stub = new MysqlTestStub.Stub("secret",
      MysqlTestStub.binlogFile(Seq(1L, 2L, 3L), xidPerRow = true))
    try {
      val dir = tmp()
      val spooler = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        dir, "binlog.000001", maxEventsPerSegment = 1)

      // warmup on "mysql-a" (ref failover.rs step 1): identity adopted
      assert(spooler.pump() == 1)
      val saved = spooler.checkpoint()
      assert(saved > 4L && spooler.identity().contains(MysqlTestStub.Uuid.toString))

      // failover (steps 2-4): the proxy now fronts mysql-b — a different
      // server_uuid, whose binlog history our file:pos means nothing in
      stub.serverUuid.set(Some("b0b0b0b0-dead-beef-0000-000000000002"))

      // steps 5-7: reconnect detects the UUID change and halts on the FIRST
      // attempt — before any dump request against the new server
      val dumpsBefore = stub.dumps.size()
      val ex = intercept[BinlogSpooler.FailoverException] { spooler.pump() }
      assert(ex.savedUuid == MysqlTestStub.Uuid.toString &&
        ex.newUuid.startsWith("b0b0b0b0") && ex.checkpointPos == saved)
      assert(stub.dumps.size() == dumpsBefore) // no stream attempt
      assert(spooler.checkpoint() == saved) // position untouched
      assert(spooler.identity().contains(MysqlTestStub.Uuid.toString)) // not re-adopted

      // a CLEAN spool against mysql-b adopts the new identity and streams
      // (the reference's post-scenario restart-fresh path)
      val fresh = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        tmp(), "binlog.000001", maxEventsPerSegment = 1)
      assert(fresh.pump() == 1)
      assert(fresh.identity().exists(_.startsWith("b0b0b0b0")) && fresh.checkpoint() > 4L)

      // pre-5.6 server (no server_uuid): identity probe answers ERR —
      // "cannot detect failover", streaming proceeds on position alone
      // (reference fetch_server_identity Ok(None))
      stub.serverUuid.set(None)
      val blind = new BinlogSpooler("127.0.0.1", stub.port, "repl", "secret",
        tmp(), "binlog.000001", maxEventsPerSegment = 1)
      assert(blind.pump() == 1)
      assert(blind.identity().isEmpty && blind.checkpoint() > 4L)
    } finally stub.stop()
  }

  test("s3_outage: lake sink down mid-write — no partial files visible, gate holds, clean catch-up") {
    // The S3 outage (ref s3_outage.rs): PUTs fail while the outage holds.
    // Injected INSIDE the write job (the envelope expression throws on task
    // threads), so the committer's file-level atomicity is genuinely
    // exercised — some tasks abort after others started writing.
    val dir = tmp()
    val lake = tmp()
    ChaosSpec.s3down.set(true)
    val s3put = udf { (s: String) =>
      if (ChaosSpec.s3down.get()) throw new RuntimeException("503 Slow Down")
      s
    }
    val sink = new JsonlSink("s3", lake,
      _ => s3put(to_json(struct(col("event_id"), col("ts_ms")))))
    val cfg = Config(Seq(sink), ledgerDir = dir)
    val ledger = new SinkLedger(dir)

    def visibleDataFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (f.getName == "_temporary") Nil // committer scratch — not visible
          else f.listFiles().toSeq.flatMap(walk)
        } else if (f.getName.startsWith("part-")) Seq(f) else Nil
      walk(new java.io.File(lake))
    }

    // outage holds across two delivery attempts (ref step 3: "object count
    // should NOT grow"): no visible files, no checkpoint advance
    for (_ <- 1 to 2) {
      intercept[Exception] { processBatch(cfg, ledger)(events(12), 0L) }
      assert(visibleDataFiles().isEmpty, "partial files visible during the outage")
      assert(ledger.committed("s3") == -1L) // backpressure: gate held
    }

    // restore (ref steps 4-5): the replayed batch lands in a new file
    ChaosSpec.s3down.set(false)
    processBatch(cfg, ledger)(events(12), 0L)
    assert(visibleDataFiles().nonEmpty)
    val lines = spark.read.text(s"$lake/batch_id=0").collect().map(_.getString(0))
    assert(lines.length == 12) // everything delivered
    assert(lines.distinct.length == 12) // no duplicates within the landed batch
    assert(ledger.committed("s3") == 0L)
  }

  test("s3_soak: sustained steady load — rolling emits new objects over time, every row lands exactly once") {
    // The S3 soak (ref s3_soak.rs): a stability test, not a throughput
    // benchmark. Reference invariants → analog assertions:
    //  - "file rolling fires correctly (new objects appear over time)" →
    //    the visible object count grows every sampled batch;
    //  - "final inserted count matches" → global exactly-once over ALL
    //    batches (distinct event ids == total rows == offered load);
    //  - "memory does not grow unboundedly (no full-file-in-RAM)" → the
    //    event cap holds on every emitted object (a writer that buffered
    //    a whole batch per file would exceed it), and the write path is
    //    Spark's executor-side streaming parquet writer — nothing is
    //    collected to the driver.
    val dir = tmp()
    val lake = tmp()
    val rowsPer = 120
    val cap = 50L
    val sink = new ParquetLakeSink("s3", lake, Rolling.Config(maxEvents = cap))
    val cfg = Config(Seq(sink), ledgerDir = dir)
    val ledger = new SinkLedger(dir)

    def soakEvents(n: Int, offset: Int): DataFrame = {
      import spark.implicits._
      ChangeEvent.conform(
        (1 to n).map(i => ("c", s"""{"id":${offset + i}}""", (offset + i).toLong))
          .toDF("op", "after", "ts_ms")
          .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
            col("ts_ms").as("sequence")))
          .withColumn("event_id", concat(lit("e"), col("ts_ms")))
          .withColumn("tx_end", lit(true)))
    }
    def visibleObjects(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) {
          if (f.getName == "_temporary") 0
          else f.listFiles().map(walk).sum
        } else if (f.getName.startsWith("part-") && f.getName.endsWith(".parquet")) 1
        else 0
      val root = new java.io.File(lake)
      if (root.exists()) walk(root) else 0
    }

    val batches = 6
    val counts = (0 until batches).map { b =>
      processBatch(cfg, ledger)(soakEvents(rowsPer, b * rowsPer), b.toLong)
      visibleObjects()
    }
    // rolling fired on every batch: the bucket grew at every sample, and the
    // event cap forced ≥ rowsPer/cap objects per batch
    assert(counts.zip(counts.tail).forall { case (a, b) => b > a },
      s"object count must grow every batch, saw $counts")
    assert(counts.last >= batches * (rowsPer / cap.toInt), s"rolling under-fired: $counts")
    // exactly-once over the whole soak
    val landed = spark.read.parquet(lake)
    assert(landed.count() == batches.toLong * rowsPer)
    assert(landed.select("event_id").distinct().count() == batches.toLong * rowsPer)
    // the event cap held on every object (no file buffered past the roll)
    val perFile = landed.groupBy(input_file_name()).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(perFile <= cap, s"an object holds $perFile rows > cap $cap")
    assert(ledger.committed("s3") == (batches - 1).toLong)
  }

  test("ch_outage: ClickHouse down — no rows land during outage, gate holds, catch-up delivers once") {
    import ClickHouseWire._
    import org.apache.spark.sql.types._
    // ground-truth ClickHouse: records accepted inserts; 503s while down
    // (ref ch_outage.rs reads the row count directly, bypassing the proxy)
    val down = new java.util.concurrent.atomic.AtomicBoolean(false)
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Byte])]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = ex.getRequestBody.readAllBytes()
        if (down.get()) { ex.sendResponseHeaders(503, -1); ex.close() }
        else {
          accepted.add((Option(ex.getRequestURI.getQuery).getOrElse(""), body))
          ex.sendResponseHeaders(200, -1); ex.close()
        }
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val userSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
      val sink = new ClickHouseSink("ch", "p1",
        () => new ClickHouseHttpClient(url, "analytics"),
        "analytics", "events", userSchema, Seq("id"), versionSource = TsMs)
      val dir = tmp()
      val cfg = Config(Seq(sink), ledgerDir = dir)
      val ledger = new SinkLedger(dir)

      // Count rows the way a real ClickHouse would: repeated inserts with
      // the same insert_deduplication_token collapse to one. This matters
      // because Spark cancels a FAILED job's remaining tasks
      // asynchronously — a zombie task from the outage attempt can land
      // its (identical, same-token) insert after `down` lifts, and raw
      // request-counting then overshoots (observed 23 vs 20 under load).
      def chRows(): Long = {
        val inserts = accepted.toArray(Array.empty[(String, Array[Byte])])
          .filterNot(_._1.isEmpty)
        val (tokened, raw) = inserts.partition(_._1.contains("insert_deduplication_token"))
        val uniq = tokened.groupBy(_._1).values.map(_.head)
        (uniq ++ raw)
          .map(c => RowBinary.decode(c._2, wireSchema(userSchema)).length.toLong).sum
      }

      // warmup (ref step 1): rows land
      processBatch(cfg, ledger)(events(10), 0L)
      val warm = chRows()
      assert(warm == 10 && ledger.committed("ch") == 0L)

      // outage (ref steps 2-3): required sink down → batch fails, NO rows
      // land, the commit gate does not advance past the warmup batch
      down.set(true)
      for (_ <- 1 to 2) {
        intercept[Exception] { processBatch(cfg, ledger)(events(10), 1L) }
        assert(chRows() == warm, "rows landed during the outage")
        assert(ledger.committed("ch") == 0L) // gate held at the last good batch
      }

      // restore (ref steps 4-5): the replay delivers the held batch
      down.set(false)
      processBatch(cfg, ledger)(events(10), 1L)
      assert(chRows() == warm + 10)
      assert(ledger.committed("ch") == 1L)
      // replay-stable dedup tokens: every request sharing a token carries
      // IDENTICAL bytes — the property that makes ClickHouse's
      // insert_deduplication_token collapse crash-retry (and zombie-task)
      // duplicates into exactly-once rows
      val byToken = accepted.toArray(Array.empty[(String, Array[Byte])])
        .filter(_._1.contains("insert_deduplication_token"))
        .groupBy(_._1)
      assert(byToken.nonEmpty)
      assert(byToken.values.forall(g => g.map(_._2.toSeq).distinct.length == 1),
        "same dedup token must always carry the same payload")
    } finally server.stop(0)
  }
}

object ChaosSpec {
  val buffer = new java.util.concurrent.ConcurrentLinkedQueue[MessagingSinks.WireRecord]()
  val failures = new java.util.concurrent.atomic.AtomicInteger(0)
  /** S3-outage flag — static so udf task closures read the LIVE value. */
  val s3down = new java.util.concurrent.atomic.AtomicBoolean(false)
}
