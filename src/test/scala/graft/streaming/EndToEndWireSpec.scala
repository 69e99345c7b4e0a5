package graft.streaming

import graft.SparkSpec
import graft.sources.{MysqlBinlogFixture => Fx}

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

/**
 * The round's parts composed end to end, wire to wire:
 *
 *   recorded MySQL binlog BYTES (CRC32-trailed, wire format)
 *     → a `mysql_binlog` spec ([[PipelineSpec.assemble]]): DSv2
 *       [[graft.sources.BacklogSource]] micro-batches
 *     → [[graft.sources.MysqlBinlog.decodeSegment]] (real decode)
 *     → ChangeEvent envelope → coordinator ([[CdcPipeline.processBatch]])
 *     → [[MessagingSinks.KafkaLikeSink]] over [[KafkaWire.SocketProducer]]
 *     → Produce v3 / RecordBatch v2 BYTES into a CRC-checking broker stub
 *
 * with the reference's nastiest failure injected: the broker APPENDS the
 * first batch but the ack is lost (error response). The query dies, the
 * restart replays from the checkpoint, the producer re-sends the SAME
 * (producerId, epoch, baseSequence) triple, and the broker-side idempotent
 * dedup collapses the wire duplicates — at-least-once on the wire,
 * exactly-once in committed state (docs/src/guarantees.md).
 */
class EndToEndWireSpec extends SparkSpec {
  import KafkaWire._

  /** Broker stub: CRC-verifies batches; while `lostAck` is armed it APPENDS
   * and then answers with an error — the delivered-but-unacked case. */
  private class Broker {
    case class Appended(topic: String, pid: Long, epoch: Short, baseSeq: Int,
                        offsetInBatch: Int, key: String)
    val log = new ConcurrentLinkedQueue[Appended]()
    val lostAck = new AtomicBoolean(false)
    private val server = new ServerSocket(0)
    val port: Int = server.getLocalPort
    @volatile private var running = true
    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          new Thread(() => {
            try {
              val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
              val out = new BufferedOutputStream(sock.getOutputStream)
              while (true) {
                val req = readProduceRequest(in)
                req.batches.foreach { case (_, bytes) =>
                  val (_, pid, epoch, baseSeq, recs) = decodeBatch(bytes) // CRC gate
                  recs.zipWithIndex.foreach { case (r, i) =>
                    log.add(Appended(req.topic, pid, epoch, baseSeq, i,
                      if (r.key == null) null else new String(r.key, UTF_8)))
                  }
                }
                val err: Short = if (lostAck.get()) 7 else 0 // REQUEST_TIMED_OUT
                out.write(encodeProduceResponse(ProduceResponse(req.correlationId,
                  req.topic, Seq(PartitionAck(0, err, log.size().toLong)))))
                out.flush()
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

  test("binlog bytes to kafka bytes: lost ack mid-stream, idempotent exactly-once after resume") {
    val root = Files.createTempDirectory("wire-e2e").toString
    val backlog = s"$root/backlog"
    def rows(pks: Seq[Long]) = pks.iterator.map(pk =>
      (pk, pk + 100, "O", 10.50 + pk, 812332800000L, "2-HIGH"))
    // ops by pk%10: 1→c 6→u 9→d / 11→c 16→u 19→d (6 DML + DDL records)
    Fx.writeBacklogSegment(backlog, "seg-000.segb64", Fx.ordersSegment(rows(Seq(1L, 6L, 9L))))
    Fx.writeBacklogSegment(backlog, "seg-001.segb64", Fx.ordersSegment(rows(Seq(11L, 16L, 19L))))

    val broker = new Broker()
    try {
      val port = broker.port
      // IDEMPOTENT (non-transactional) path: one stable producerId per
      // producer task slot. The sink sends every batch from one task in
      // (key, sequence) order, so a restarted attempt re-sends every record
      // under the SAME (pid, epoch 0, baseSeq) — the precondition for
      // broker-side sequence dedup. (The
      // transactional path — InitProducerId epoch bumps + EndTxn markers —
      // is exercised wire-level in KafkaWireSpec against KafkaBrokerStub.)
      val sink = new MessagingSinks.KafkaLikeSink("kafka",
        () => new SocketProducer("127.0.0.1", port, "graft-e2e", transactionalId = null,
          producerId = org.apache.spark.TaskContext.getPartitionId() + 1L),
        topicTemplate = Some("cdc.${source.db}.${source.table}"))
      val ledger = new SinkLedger(s"$root/ledger")

      def run(): Option[Throwable] = drainSpec(
        s"""metadata: {name: wire-e2e}
           |spec:
           |  source: ${ordersBinlogSource(backlog)}
           |  processors: [{kind: filter, ops: [c, u, d]}]
           |  sinks: [{kind: memory, id: kafka}]
           |""".stripMargin, root)(_.copy(sinks = Seq(sink)))

      broker.lostAck.set(true) // ── the broker appends but the ack is lost
      assert(run().isDefined) // commit gate converts the lost ack into a dead query
      assert(ledger.committed("kafka") == -1L) // nothing falsely committed
      val midLog = broker.log.size() // records DID land (delivered-not-acked)
      assert(midLog > 0)

      broker.lostAck.set(false) // ── connectivity/acks restored
      assert(run().isEmpty) // restart from the same checkpoint drains cleanly
      assert(ledger.committed("kafka") >= 0L)

      val appended = broker.log.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Broker#Appended])
      // at-least-once ON THE WIRE: the unacked attempt's records are there twice
      assert(appended.length > 6)
      assert(appended.forall(_.topic == "cdc.inventory.orders")) // template resolved
      // …but the idempotence triple (pid, epoch, baseSeq+offset) collapses the
      // replay to EXACTLY the 6 decoded DML events — the broker-side dedup key
      val dedup = appended.map(a => (a.pid, a.epoch, a.baseSeq + a.offsetInBatch)).distinct
      assert(dedup.length == 6, s"idempotence triple should collapse to 6, got ${dedup.length}")
      // and each logical event appears under exactly one sequence slot
      assert(appended.map(_.key).distinct.length == 6)
      val expectedKeys = Seq(1L, 6L, 9L, 11L, 16L, 19L).map(pk => s"inventory.orders:$pk")
      assert(appended.map(_.key).toSet == expectedKeys.toSet)
    } finally broker.stop()
  }
}
