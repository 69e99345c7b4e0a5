package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** RecordBatch v2 + Produce v3 codec and the socket producer e2e. */
class KafkaWireSpec extends SparkSpec {
  import KafkaWire._

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  test("record batch v2: round-trip with null keys, headers, timestamp deltas, idempotence triple") {
    val recs = Seq(
      Record("k1".getBytes(UTF_8), "v1".getBytes(UTF_8),
        Seq("h" -> "x".getBytes(UTF_8)), timestampMs = 1000L),
      Record(null, "v2".getBytes(UTF_8), Nil, timestampMs = 1500L),
      Record("k3".getBytes(UTF_8), null, Seq("a" -> null), timestampMs = 999L))
    val bytes = encodeBatch(recs, baseOffset = 42L,
      producerId = 7L, producerEpoch = 3, baseSequence = 100)
    val (baseOffset, pid, epoch, baseSeq, got) = decodeBatch(bytes)
    assert(baseOffset == 42L && pid == 7L && epoch == 3 && baseSeq == 100)
    assert(got.length == 3)
    assert(new String(got(0).key, UTF_8) == "k1" && new String(got(0).value, UTF_8) == "v1")
    assert(got(0).headers.map { case (k, v) => k -> new String(v, UTF_8) } == Seq("h" -> "x"))
    assert(got(1).key == null && got(2).value == null && got(2).headers.head._2 == null)
    assert(got.map(_.timestampMs) == Seq(1000L, 1500L, 999L)) // deltas vs min base
  }

  test("record batch v2: corruption fails the CRC32C check") {
    val bytes = encodeBatch(Seq(Record("k".getBytes(UTF_8), "v".getBytes(UTF_8))))
    bytes(bytes.length - 1) = (bytes.last ^ 0x01).toByte
    intercept[IllegalArgumentException] { decodeBatch(bytes) }
  }

  test("produce v3: request and response round-trip") {
    val batch = encodeBatch(Seq(Record(null, "x".getBytes(UTF_8))))
    val reqBytes = encodeProduceRequest(9, "graft-test", "txn-1", acks = -1,
      timeoutMs = 1000, topic = "cdc.t", partitionBatches = Seq(0 -> batch))
    val req = readProduceRequest(new DataInputStream(
      new java.io.ByteArrayInputStream(reqBytes)))
    assert(req.correlationId == 9 && req.clientId == "graft-test" &&
      req.transactionalId == "txn-1" && req.acks == -1 && req.topic == "cdc.t")
    assert(java.util.Arrays.equals(req.batches.head._2, batch))
    val respBytes = encodeProduceResponse(ProduceResponse(9, "cdc.t",
      Seq(PartitionAck(0, 0, 1234L))))
    val resp = readProduceResponse(new DataInputStream(
      new java.io.ByteArrayInputStream(respBytes)))
    assert(resp.correlationId == 9 && resp.acks.head.baseOffset == 1234L)
  }

  test("kafka sink e2e over the wire: txn batches land CRC-verified, coordinator-inited") {
    val stub = new KafkaBrokerStub()
    try {
      val port = stub.port
      // transactional.id per Spark partition slot: the sink sends each batch
      // from one task, so every batch uses slot 0
      val sink = new MessagingSinks.KafkaLikeSink("kw",
        () => new SocketProducer("127.0.0.1", port, "graft-kw",
          s"graft-pipe-kw-${org.apache.spark.TaskContext.getPartitionId()}"),
        topicTemplate = Some("cdc.${source.table}"))
      sink.write(events(40), 0L)
      val appended = stub.visible
      assert(appended.length == 40)
      assert(appended.forall(_.topic == "cdc.t"))
      assert(appended.forall(_.pid >= 1000L)) // pid allocated by InitProducerId
      assert(appended.forall(_.epoch == 0)) // first incarnation per slot
      assert(appended.map(_.key).distinct.length == 40) // event-id keys
      assert(appended.head.value.contains("\"op\":\"c\""))
      assert(stub.uncommittedCount == 0) // everything EndTxn-committed
    } finally stub.stop()
  }

  test("kafka sink: a small frozen batch is one transaction of one producer on the wire") {
    val stub = new KafkaBrokerStub()
    val frozen = org.apache.spark.sql.classic.GraftBridge.freeze(events(40))
    try {
      val port = stub.port
      val sink = new MessagingSinks.KafkaLikeSink("kw1",
        () => new SocketProducer("127.0.0.1", port, "graft-kw1",
          s"graft-pipe-kw1-${org.apache.spark.TaskContext.getPartitionId()}"),
        topicTemplate = Some("cdc.${source.table}"))
      sink.write(frozen.df, 0L)
      assert(stub.visible.length == 40 && stub.uncommittedCount == 0)
      assert(stub.initProducerIdRequests.get() == 1)
      assert(stub.addPartitionsToTxnRequests.get() == 1)
      assert(stub.endTxnRequests.get() == 1)
      assert(stub.visible.map(_.pid).distinct.length == 1)
    } finally { frozen.release(); stub.stop() }
  }

  test("truncated varint raises EOF instead of spinning") {
    intercept[java.io.EOFException] {
      readVarLong(new java.io.ByteArrayInputStream(Array[Byte](0x80.toByte)))
    }
    intercept[java.io.EOFException] {
      readVarLong(new java.io.ByteArrayInputStream(Array.empty[Byte]))
    }
  }

  test("sequences are per topic and advance only on ack — replay re-sends the same triple") {
    // failing stub: the FIRST produce request errors; pending must survive
    val stub = new KafkaBrokerStub(failFirstProduce = true)
    try {
      val p = new SocketProducer("127.0.0.1", stub.port, "c-seq")
      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("topic-a", "k1", "v1".getBytes(UTF_8), Map.empty))
      p.send(MessagingSinks.WireRecord("topic-b", "k2", "v2".getBytes(UTF_8), Map.empty))
      intercept[RuntimeException] { p.commitTransaction() } // topic-a errors first
      assert(stub.visible.isEmpty) // nothing appended by the failed round
      p.commitTransaction() // replay: stub healthy from request 2 on
      val appended = stub.visible
      assert(appended.map(_.key).toSet == Set("k1", "k2")) // both delivered
      // per-topic sequencing, NOT a shared counter; and the failed attempt
      // did not advance it — both topics start at 0 (broker-dedup-able)
      assert(appended.forall(_.baseSeq == 0))
    } finally stub.stop()
  }

  test("non-tx partial commit: acked topics are never re-produced on retry") {
    // SECOND produce fails: topic-a acks (sequence advanced), topic-b
    // errors. A retry that re-produced topic-a would carry an ADVANCED
    // base sequence — the broker would accept it as fresh rows
    // (duplicates). The commit must drop acked topics from pending.
    val stub = new KafkaBrokerStub(failProduceAt = 2)
    try {
      val p = new SocketProducer("127.0.0.1", stub.port, "c-nontx")
      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("topic-a", "ka", "va".getBytes(UTF_8), Map.empty))
      p.send(MessagingSinks.WireRecord("topic-b", "kb", "vb".getBytes(UTF_8), Map.empty))
      intercept[RuntimeException] { p.commitTransaction() } // topic-b errors
      assert(stub.visible.map(_.key) == Seq("ka")) // a landed, b did not
      p.commitTransaction() // retry re-sends ONLY topic-b
      val appended = stub.visible
      assert(appended.map(_.key).sorted == Seq("ka", "kb")) // exactly once each
      // and not because broker dedup saved us: topic-a was produced ONCE
      // (3 produce requests total: a-ok, b-fail, b-ok)
      assert(stub.produceRequests.get() == 3)
    } finally stub.stop()
  }

  test("abort leaves nothing on the wire; broker error fails the batch write") {
    val stub = new KafkaBrokerStub()
    try {
      val p = new SocketProducer("127.0.0.1", stub.port, "c1")
      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("t", "k", "v".getBytes(UTF_8), Map.empty))
      p.abortTransaction()
      assert(stub.visible.isEmpty && stub.produceRequests.get() == 0) // abort = zero wire traffic

      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("t", "k", "v".getBytes(UTF_8), Map.empty))
      p.commitTransaction()
      assert(stub.visible.size == 1)
    } finally stub.stop()

    val failing = new KafkaBrokerStub(failFirstProduce = true)
    try {
      val p2 = new SocketProducer("127.0.0.1", failing.port, "c2")
      p2.beginTransaction()
      p2.send(MessagingSinks.WireRecord("t", "k", "v".getBytes(UTF_8), Map.empty))
      intercept[RuntimeException] { p2.commitTransaction() } // error code 7 surfaces
      assert(failing.visible.isEmpty) // nothing appended by the failed request
    } finally failing.stop()
  }

  test("coordinator codecs: Metadata, InitProducerId, AddPartitionsToTxn, EndTxn round-trip") {
    val md = encodeMetadataResponse(MetadataResponse(7,
      Seq(BrokerNode(0, "127.0.0.1", 9092)), 0,
      Seq(TopicMeta(0, "t1", Seq(PartitionMeta(0, 0, 0))))))
    val mdR = readMetadataResponse(new DataInputStream(new java.io.ByteArrayInputStream(md)))
    assert(mdR.correlationId == 7 && mdR.brokers.head.port == 9092 &&
      mdR.topics.head.name == "t1" && mdR.topics.head.partitions.head.leaderId == 0)

    val (h1, d1) = readRequest(new DataInputStream(new java.io.ByteArrayInputStream(
      encodeInitProducerIdRequest(8, "cli", "txn-1"))))
    assert(h1.apiKey == 22 && h1.clientId == "cli" &&
      readInitProducerIdRequestBody(d1)._1 == "txn-1")
    val ip = readInitProducerIdResponse(new DataInputStream(new java.io.ByteArrayInputStream(
      encodeInitProducerIdResponse(InitProducerIdResponse(8, 0, 1234L, 3)))))
    assert(ip.producerId == 1234L && ip.producerEpoch == 3)

    val (h2, d2) = readRequest(new DataInputStream(new java.io.ByteArrayInputStream(
      encodeAddPartitionsToTxnRequest(9, "cli",
        AddPartitionsToTxnRequest("txn-1", 1234L, 3, Seq("t1" -> Seq(0, 1)))))))
    assert(h2.apiKey == 24)
    val ap = readAddPartitionsToTxnRequestBody(d2)
    assert(ap.producerId == 1234L && ap.topics == Seq("t1" -> Seq(0, 1)))

    val (h3, d3) = readRequest(new DataInputStream(new java.io.ByteArrayInputStream(
      encodeEndTxnRequest(10, "cli", EndTxnRequest("txn-1", 1234L, 3, committed = true)))))
    assert(h3.apiKey == 26)
    val et = readEndTxnRequestBody(d3)
    assert(et.committed && et.producerEpoch == 3)
    assert(readEndTxnResponse(new DataInputStream(new java.io.ByteArrayInputStream(
      encodeEndTxnResponse(10, 0)))) == (10, 0.toShort))
  }

  test("wire fencing: epoch bump fences the old producer; its txn is never visible") {
    // A commits but the EndTxn marker is lost (error 7): produce landed
    // UNCOMMITTED. A newer incarnation B InitProducerIds the same
    // transactional.id — the epoch bump aborts A's open txn and every later
    // RPC from A is rejected with PRODUCER_FENCED (kafka.rs fence handling).
    val stub = new KafkaBrokerStub(failFirstEndTxn = true)
    try {
      val a = new SocketProducer("127.0.0.1", stub.port, "a", "txn-f")
      a.beginTransaction()
      a.send(MessagingSinks.WireRecord("t", "ka", "va".getBytes(UTF_8), Map.empty))
      intercept[RuntimeException] { a.commitTransaction() } // EndTxn lost
      assert(stub.visible.isEmpty && stub.uncommittedCount == 1) // in doubt, invisible
      assert(!a.isFenced) // transient failure, not a fence

      val b = new SocketProducer("127.0.0.1", stub.port, "b", "txn-f")
      b.beginTransaction() // InitProducerId bumps epoch 0 -> 1, aborts A's txn
      assert(stub.currentEpoch("txn-f").contains(1.toShort))
      assert(stub.uncommittedCount == 0) // A's uncommitted data discarded
      b.send(MessagingSinks.WireRecord("t", "kb", "vb".getBytes(UTF_8), Map.empty))
      b.commitTransaction()

      // A is still inside its failed transaction (pending intact, produce
      // phase acked — new sends are rejected); its commit retry re-issues
      // only EndTxn, which now hits the bumped epoch
      intercept[IllegalArgumentException] {
        a.send(MessagingSinks.WireRecord("t", "ka2", "va2".getBytes(UTF_8), Map.empty))
      }
      intercept[IllegalStateException] { a.commitTransaction() } // fenced at EndTxn
      assert(a.isFenced)

      val visible = stub.visible
      assert(visible.map(_.key) == Seq("kb")) // only B's txn ever became visible
      assert(visible.forall(_.epoch == 1))
    } finally stub.stop()
  }

  test("multi-broker: produce routes to the Metadata leader; NOT_LEADER → refresh + retry; migration loses nothing") {
    // TWO stubs sharing one cluster: leadership for topic t starts at
    // broker A (first registered); the producer bootstraps against A,
    // commits txn 1 there, then leadership migrates to B mid-stream. The
    // producer's next produce still routes to A, gets
    // NOT_LEADER_FOR_PARTITION, refreshes metadata, and retries against B —
    // same idempotence triple, so nothing duplicates.
    val cluster = new KafkaBrokerStub.Cluster
    val a = new KafkaBrokerStub(cluster = cluster, nodeId = 0)
    val b = new KafkaBrokerStub(cluster = cluster, nodeId = 1)
    try {
      val p = new SocketProducer("127.0.0.1", a.port, "c-mb", "txn-mb")
      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("t", "k1", "v1".getBytes(UTF_8), Map.empty))
      p.commitTransaction()
      assert(a.produceRequests.get() == 1 && b.produceRequests.get() == 0)
      assert(cluster.visible.map(_.key) == Seq("k1"))

      cluster.migrate("t", 1) // leadership moves to B mid-stream

      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("t", "k2", "v2".getBytes(UTF_8), Map.empty))
      p.commitTransaction()
      // A saw exactly one more produce (the NOT_LEADER rejection, nothing
      // appended); B served the re-routed batch
      assert(a.produceRequests.get() == 2)
      assert(b.produceRequests.get() == 1)
      val vis = cluster.visible
      assert(vis.map(_.key) == Seq("k1", "k2")) // exactly once, in order
      assert(vis.map(_.baseSeq) == Seq(0, 1)) // sequences advanced once per ack
      assert(cluster.uncommittedCount == 0)
    } finally { a.stop(); b.stop() }
  }

  test("EndTxn-only failure: commit retry re-issues just EndTxn — no re-produce, no duplicates") {
    // seqByTopic advances when Produce acks; a commit retry
    // that re-ran AddPartitionsToTxn + Produce would re-send the same
    // records under ADVANCED sequences and the broker would accept them as
    // new — the recommitted transaction would contain duplicates.
    val stub = new KafkaBrokerStub(failFirstEndTxn = true)
    try {
      val p = new SocketProducer("127.0.0.1", stub.port, "c-retry", "txn-r")
      p.beginTransaction()
      p.send(MessagingSinks.WireRecord("t", "k1", "v1".getBytes(UTF_8), Map.empty))
      p.send(MessagingSinks.WireRecord("t", "k2", "v2".getBytes(UTF_8), Map.empty))
      intercept[RuntimeException] { p.commitTransaction() } // EndTxn lost
      assert(stub.visible.isEmpty && stub.uncommittedCount == 2)
      val producesBefore = stub.produceRequests.get()

      p.commitTransaction() // retry: EndTxn only
      assert(stub.produceRequests.get() == producesBefore) // nothing re-produced
      assert(stub.endTxnRequests.get() == 2)
      assert(stub.visible.map(_.key) == Seq("k1", "k2")) // exactly once
      assert(stub.visible.forall(_.baseSeq == 0))
    } finally stub.stop()
  }

  test("two micro-batches: fresh incarnations get bumped epochs — no triple reuse") {
    // A fresh producer per micro-batch partition restarting
    // at baseSequence 0 under the SAME (pid, epoch) would be deduped by an
    // idempotent broker as a retry of batch 1. InitProducerId's epoch bump
    // makes (pid, epoch, seq) unique per incarnation — the stub ENFORCES
    // dedup, so a reused triple would lose records here.
    val stub = new KafkaBrokerStub()
    try {
      val port = stub.port
      val sink = new MessagingSinks.KafkaLikeSink("kw2",
        () => new SocketProducer("127.0.0.1", port, "graft-kw2",
          s"graft-pipe-kw2-${org.apache.spark.TaskContext.getPartitionId()}"),
        topicTemplate = Some("cdc.${source.table}"))
      sink.write(events(40), 0L)
      sink.write(events(40), 1L) // same records again — a second micro-batch
      val appended = stub.visible
      assert(appended.length == 80, s"dedup ate a batch: ${appended.length}") // nothing lost
      // same pid per partition slot across batches, epoch bumped
      val byPid = appended.groupBy(_.pid)
      assert(byPid.values.forall(as => as.map(_.epoch).distinct.sorted == Seq(0.toShort, 1.toShort)))
    } finally stub.stop()
  }
}
