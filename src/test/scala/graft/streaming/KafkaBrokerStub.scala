package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

object KafkaBrokerStub {
  case class Appended(topic: String, pid: Long, epoch: Short, baseSeq: Int,
                      offsetInBatch: Int, key: String, value: String)

  /**
   * Shared cluster state: the partition log, txn-coordinator state, the
   * idempotence dedup set, and the topic→leader map. A real cluster shares
   * these through replication and the __transaction_state topic; here every
   * stub in the cluster reads/writes the same maps, so leadership can
   * migrate mid-stream while dedup and txn visibility stay consistent.
   */
  class Cluster {
    val log = new ConcurrentLinkedQueue[Appended]() // visible (committed / non-txn)
    val uncommitted = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Appended]]()
    val producers = new ConcurrentHashMap[String, (Long, Short)]() // txnId -> (pid, epoch)
    val seen = ConcurrentHashMap.newKeySet[(String, Long, Short, Int)]() // idempotent dedup
    val pidGen = new AtomicLong(1000L)
    val brokers = new ConcurrentHashMap[Integer, (String, Int)]()
    @volatile private var leaders: Map[String, Int] = Map.empty // topic -> nodeId
    private val defaultLeader = new AtomicInteger(Int.MinValue)

    def register(nodeId: Int, host: String, port: Int): Unit = {
      brokers.put(nodeId, (host, port))
      defaultLeader.compareAndSet(Int.MinValue, nodeId) // first broker leads by default
    }
    def leaderFor(topic: String): Int = leaders.getOrElse(topic, defaultLeader.get)
    /** Migrate a topic's partition-0 leadership to another broker. */
    def migrate(topic: String, toNode: Int): Unit = leaders = leaders + (topic -> toNode)

    def visible: Seq[Appended] =
      log.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Appended]).toSeq
    def uncommittedCount: Int =
      uncommitted.values().stream().mapToInt(_.size()).sum()
  }
}

/**
 * In-test Kafka broker speaking the five RPCs the producer drives:
 * Metadata v1, InitProducerId v0, AddPartitionsToTxn v0, Produce v3,
 * EndTxn v0 — with CRC verification, idempotent (pid, epoch, baseSeq)
 * dedup, transactional visibility (uncommitted until EndTxn commit), and
 * epoch-based fencing (InitProducerId bumps the epoch per transactional-id
 * incarnation and aborts its open transaction; stale-epoch requests get
 * PRODUCER_FENCED/INVALID_PRODUCER_EPOCH).
 *
 * Multi-broker: pass a shared [[KafkaBrokerStub.Cluster]] to several stubs
 * and each answers Metadata with the full broker list and the cluster's
 * topic→leader map; a Produce addressed to a non-leader is rejected with
 * NOT_LEADER_FOR_PARTITION (nothing appended), driving the client's
 * refresh-and-retry path. Without a cluster argument the stub is its own
 * single-node cluster (all prior tests unchanged).
 *
 * Failure injection: `failFirstProduce` rejects the first Produce with
 * REQUEST_TIMED_OUT (nothing appended); `failFirstEndTxn` rejects the first
 * EndTxn the same way (uncommitted data stays pending); `lostAck` appends
 * but answers error 7 — the written-but-unacked case.
 */
class KafkaBrokerStub(failFirstProduce: Boolean = false,
                      failFirstEndTxn: Boolean = false,
                      cluster: KafkaBrokerStub.Cluster = null,
                      nodeId: Int = 0,
                      failProduceAt: Int = 0) {
  import KafkaWire._
  import KafkaBrokerStub.{Appended, Cluster}

  private val c: Cluster = if (cluster == null) new Cluster else cluster

  val produceRequests = new AtomicInteger(0)
  val initProducerIdRequests = new AtomicInteger(0)
  val addPartitionsToTxnRequests = new AtomicInteger(0)
  val endTxnRequests = new AtomicInteger(0)
  val lostAck = new AtomicBoolean(false)

  def visible: Seq[Appended] = c.visible
  def uncommittedCount: Int = c.uncommittedCount
  def currentEpoch(txnId: String): Option[Short] = Option(c.producers.get(txnId)).map(_._2)

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  @volatile private var running = true
  c.register(nodeId, "127.0.0.1", port)

  private def handleProduce(req: ProduceRequest): ProduceResponse = {
    val n = produceRequests.incrementAndGet()
    if (failFirstProduce && n == 1)
      return ProduceResponse(req.correlationId, req.topic, Seq(PartitionAck(0, 7, -1L)))
    if (failProduceAt > 0 && n == failProduceAt)
      return ProduceResponse(req.correlationId, req.topic, Seq(PartitionAck(0, 7, -1L)))
    // leadership gate: a non-leader rejects the batch untouched
    if (c.leaderFor(req.topic) != nodeId)
      return ProduceResponse(req.correlationId, req.topic,
        Seq(PartitionAck(0, Errors.NotLeaderForPartition, -1L)))
    val appends = req.batches.flatMap { case (_, bytes) =>
      val (_, pid, epoch, baseSeq, recs) = decodeBatch(bytes) // CRC gate
      if (req.transactionalId != null) {
        val state = c.producers.get(req.transactionalId)
        if (state == null || state._1 != pid || state._2 != epoch)
          return ProduceResponse(req.correlationId, req.topic,
            Seq(PartitionAck(0, Errors.InvalidProducerEpoch, -1L)))
      }
      if (pid >= 0 && !c.seen.add((req.topic, pid, epoch, baseSeq)))
        Nil // idempotent dedup: same (topic, pid, epoch, baseSeq) re-sent
      else recs.zipWithIndex.map { case (r, i) =>
        Appended(req.topic, pid, epoch, baseSeq, i,
          if (r.key == null) null else new String(r.key, UTF_8),
          if (r.value == null) null else new String(r.value, UTF_8))
      }
    }
    val sinkQ =
      if (req.transactionalId != null)
        c.uncommitted.computeIfAbsent(req.transactionalId, _ => new ConcurrentLinkedQueue[Appended]())
      else c.log
    appends.foreach(sinkQ.add)
    val err: Short = if (lostAck.get()) 7 else 0 // written, ack lost
    ProduceResponse(req.correlationId, req.topic, Seq(PartitionAck(0, err, c.log.size().toLong)))
  }

  private def serve(in: DataInputStream, out: BufferedOutputStream): Unit =
    while (true) {
      val (h, d) = readRequest(in)
      val resp: Array[Byte] = h.apiKey match {
        case 3 => // Metadata: full cluster view + per-topic leader
          val topics = readMetadataRequestBody(d)
          val brokerList = c.brokers.entrySet().stream().toArray
            .map(_.asInstanceOf[java.util.Map.Entry[Integer, (String, Int)]])
            .sortBy(_.getKey.intValue())
            .map(e => BrokerNode(e.getKey.intValue(), e.getValue._1, e.getValue._2))
            .toSeq
          encodeMetadataResponse(MetadataResponse(h.correlationId, brokerList, 0,
            topics.map(t => TopicMeta(0, t, Seq(PartitionMeta(0, 0, c.leaderFor(t)))))))
        case 22 => // InitProducerId: allocate pid / bump epoch; abort open txn
          val (txnId, _) = readInitProducerIdRequestBody(d)
          initProducerIdRequests.incrementAndGet()
          val (pid, epoch) =
            if (txnId == null) (c.pidGen.incrementAndGet(), 0.toShort)
            else c.producers.compute(txnId, (_, prev) =>
              if (prev == null) (c.pidGen.incrementAndGet(), 0.toShort)
              else (prev._1, (prev._2 + 1).toShort))
          if (txnId != null) c.uncommitted.remove(txnId) // epoch bump aborts the open txn
          encodeInitProducerIdResponse(InitProducerIdResponse(h.correlationId, 0, pid, epoch))
        case 24 => // AddPartitionsToTxn
          val req = readAddPartitionsToTxnRequestBody(d)
          addPartitionsToTxnRequests.incrementAndGet()
          val state = c.producers.get(req.transactionalId)
          val err: Short =
            if (state == null || state._1 != req.producerId || state._2 != req.producerEpoch)
              Errors.ProducerFenced
            else Errors.None
          encodeAddPartitionsToTxnResponse(AddPartitionsToTxnResponse(h.correlationId,
            req.topics.map { case (t, ps) => t -> ps.map(_ -> err) }))
        case 0 => // Produce (header already consumed — parse remaining body)
          val txnId = { val s = readStringPub(d); s }
          val acks = d.readShort(); val _ = d.readInt() // timeoutMs
          require(d.readInt() == 1); val topic = readStringPub(d)
          val batches = (0 until d.readInt()).map { _ =>
            val p = d.readInt(); val len = d.readInt()
            val b = new Array[Byte](len); d.readFully(b); p -> b
          }
          encodeProduceResponse(handleProduce(
            ProduceRequest(h.correlationId, h.clientId, txnId, acks, topic, batches)))
        case 26 => // EndTxn
          val req = readEndTxnRequestBody(d)
          val n = endTxnRequests.incrementAndGet()
          if (failFirstEndTxn && n == 1) encodeEndTxnResponse(h.correlationId, 7)
          else {
            val state = c.producers.get(req.transactionalId)
            if (state == null || state._1 != req.producerId || state._2 != req.producerEpoch)
              encodeEndTxnResponse(h.correlationId, Errors.ProducerFenced)
            else {
              val pend = c.uncommitted.remove(req.transactionalId)
              if (req.committed && pend != null) pend.forEach(a => c.log.add(a))
              encodeEndTxnResponse(h.correlationId, 0)
            }
          }
        case other => throw new IllegalArgumentException(s"unsupported apiKey $other")
      }
      out.write(resp); out.flush()
    }

  // Produce requests arrive through readRequest (header consumed); KafkaWire's
  // readString is private, so re-read strings with the same wire rules here.
  private def readStringPub(d: DataInputStream): String = {
    val len = d.readShort()
    if (len < 0) null else { val b = new Array[Byte](len); d.readFully(b); new String(b, UTF_8) }
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        new Thread(() => {
          try serve(
            new DataInputStream(new BufferedInputStream(sock.getInputStream)),
            new BufferedOutputStream(sock.getOutputStream))
          catch { case _: java.io.IOException => () }
          finally sock.close()
        }).start()
      } catch { case _: java.io.IOException => () }
    }
  })
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }
}
