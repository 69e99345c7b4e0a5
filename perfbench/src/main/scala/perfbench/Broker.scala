package perfbench

import graft.streaming.KafkaWire._

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One record as the broker appended it. `pos` is the source position the
 * pipeline carries in the `seq` header; it orders a key's changes. */
final case class Appended(topic: String, pid: Long, epoch: Short, seq: Int,
                          key: String, pos: Long)

/**
 * The benchmark's Kafka broker: the five RPCs `KafkaWire.SocketProducer`
 * speaks (Metadata, InitProducerId, AddPartitionsToTxn, Produce, EndTxn),
 * CRC-checked through `KafkaWire.decodeBatch`. It keeps every appended
 * record, holds transactional records back until their EndTxn commits, and
 * counts connections, requests per API key, records and bytes. It never
 * deduplicates: the audit decides what a duplicate is.
 */
final class AuditBroker {
  private val server = new ServerSocket(0, 256, InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort

  val connections = new AtomicLong(0)
  val requests = new AtomicLongArray(64) // by API key
  val records = new AtomicLong(0)
  val bytes = new AtomicLong(0)

  private val visible = new ConcurrentLinkedQueue[Appended]()
  private val pending = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Appended]]()
  private val producers = new ConcurrentHashMap[String, (Long, Short)]()
  private val pidGen = new AtomicLong(1000L)
  private val handlers = ConcurrentHashMap.newKeySet[Thread]()
  @volatile private var running = true

  /** Forget every record and counter (between rounds). */
  def reset(): Unit = {
    visible.clear(); pending.clear(); producers.clear()
    connections.set(0); records.set(0); bytes.set(0)
    (0 until requests.length).foreach(requests.set(_, 0))
  }

  def visibleRecords: Seq[Appended] = visible.asScala.toSeq
  def pendingRecords: Int = pending.values().asScala.map(_.size).sum

  private def readStr(d: DataInputStream): String = {
    val len = d.readShort()
    if (len < 0) null else { val b = new Array[Byte](len); d.readFully(b); new String(b, UTF_8) }
  }

  private def produce(h: RequestHeader, d: DataInputStream): Array[Byte] = {
    val txnId = readStr(d)
    d.readShort(); d.readInt() // acks, timeoutMs
    require(d.readInt() == 1, "one topic per Produce")
    val topic = readStr(d)
    var err: Short = Errors.None
    val batches = (0 until d.readInt()).map { _ =>
      d.readInt() // partition
      val b = new Array[Byte](d.readInt()); d.readFully(b); b
    }
    batches.foreach { b =>
      bytes.addAndGet(b.length.toLong)
      val (_, pid, epoch, baseSeq, recs) = decodeBatch(b)
      if (txnId != null && producers.get(txnId) != ((pid, epoch))) err = Errors.InvalidProducerEpoch
      else {
        val q = if (txnId == null) visible
          else pending.computeIfAbsent(txnId, _ => new ConcurrentLinkedQueue[Appended]())
        recs.zipWithIndex.foreach { case (r, i) =>
          val pos = r.headers.collectFirst { case ("seq", v) => new String(v, UTF_8).toLong }
            .getOrElse(-1L)
          q.add(Appended(topic, pid, epoch, baseSeq + i,
            if (r.key == null) null else new String(r.key, UTF_8), pos))
        }
        records.addAndGet(recs.size.toLong)
      }
    }
    encodeProduceResponse(ProduceResponse(h.correlationId, topic, Seq(PartitionAck(0, err, 0L))))
  }

  private def serve(in: DataInputStream, out: BufferedOutputStream): Unit =
    while (running) {
      val (h, d) = readRequest(in)
      requests.incrementAndGet(h.apiKey.toInt)
      val resp: Array[Byte] = h.apiKey match {
        case 3 =>
          val topics = readMetadataRequestBody(d)
          encodeMetadataResponse(MetadataResponse(h.correlationId,
            Seq(BrokerNode(0, "127.0.0.1", port)), 0,
            topics.map(t => TopicMeta(0, t, Seq(PartitionMeta(0, 0, 0))))))
        case 22 =>
          val (txnId, _) = readInitProducerIdRequestBody(d)
          val (pid, epoch) =
            if (txnId == null) (pidGen.incrementAndGet(), 0.toShort)
            else producers.compute(txnId, (_, prev) =>
              if (prev == null) (pidGen.incrementAndGet(), 0.toShort)
              else (prev._1, (prev._2 + 1).toShort))
          if (txnId != null) pending.remove(txnId) // a new epoch aborts the open txn
          encodeInitProducerIdResponse(InitProducerIdResponse(h.correlationId, 0, pid, epoch))
        case 24 =>
          val req = readAddPartitionsToTxnRequestBody(d)
          val err =
            if (producers.get(req.transactionalId) != ((req.producerId, req.producerEpoch)))
              Errors.ProducerFenced
            else Errors.None
          encodeAddPartitionsToTxnResponse(AddPartitionsToTxnResponse(h.correlationId,
            req.topics.map { case (t, ps) => t -> ps.map(_ -> err) }))
        case 0 => produce(h, d)
        case 26 =>
          val req = readEndTxnRequestBody(d)
          if (producers.get(req.transactionalId) != ((req.producerId, req.producerEpoch)))
            encodeEndTxnResponse(h.correlationId, Errors.ProducerFenced)
          else {
            val q = pending.remove(req.transactionalId)
            if (req.committed && q != null) q.forEach(a => visible.add(a))
            encodeEndTxnResponse(h.correlationId, 0)
          }
        case other => throw new IllegalArgumentException(s"unsupported apiKey $other")
      }
      out.write(resp); out.flush()
    }

  private val acceptor = new Thread(() => {
    while (running)
      try {
        val sock = server.accept()
        connections.incrementAndGet()
        val t = new Thread(() => {
          try serve(new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16)),
            new BufferedOutputStream(sock.getOutputStream, 1 << 14))
          catch { case _: java.io.IOException => () }
          finally {
            try sock.close() catch { case _: Throwable => () }
            Host.chargeOwnThread()
            handlers.remove(Thread.currentThread())
          }
        }, "perfbench-broker-conn")
        handlers.add(t)
        t.setDaemon(true); t.start()
      } catch { case _: java.io.IOException => () }
  }, "perfbench-broker")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Stop accepting, wait for every handler thread to end. */
  def close(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
    acceptor.join(5000)
    handlers.asScala.foreach(_.join(5000))
  }
}

object Audit {
  /**
   * Audit what the broker made visible against the events the generator
   * expects, each identified by (routing key, source position):
   *  - records that share a (topic, pid, epoch, seq) triple are one delivery
   *    (the idempotent producer's retry); every expected event must then
   *    arrive exactly once, and nothing else may arrive;
   *  - only committed transactions are visible, and none may be left open;
   *  - a key's changes arrive in source-position order;
   *  - the count equals the generator's count.
   * Returns the failures, empty when the audit passes.
   */
  def check(broker: AuditBroker, expected: Seq[(String, Long)]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val seen = mutable.HashSet[(String, Long, Short, Int)]()
    val delivered = broker.visibleRecords.filter(a => seen.add((a.topic, a.pid, a.epoch, a.seq)))
    if (broker.pendingRecords > 0)
      errs += s"${broker.pendingRecords} records left in open transactions"
    val want = mutable.HashMap[(String, Long), Int]()
    expected.foreach(e => want(e) = 0)
    var unexpected = 0
    delivered.foreach { a =>
      val id = (a.key, a.pos)
      want.get(id) match {
        case Some(n) => want(id) = n + 1
        case None => unexpected += 1
      }
    }
    val missing = want.count(_._2 == 0)
    val duplicated = want.count(_._2 > 1)
    if (missing > 0) errs += s"$missing expected events missing"
    if (duplicated > 0) errs += s"$duplicated events delivered more than once"
    if (unexpected > 0) errs += s"$unexpected unexpected events delivered"
    if (delivered.size != expected.size)
      errs += s"delivered ${delivered.size} events, generator expects ${expected.size}"
    val last = mutable.HashMap[String, Long]()
    var outOfOrder = 0
    delivered.foreach { a =>
      if (last.get(a.key).exists(_ >= a.pos)) outOfOrder += 1
      last(a.key) = a.pos
    }
    if (outOfOrder > 0) errs += s"$outOfOrder records out of source order for their key"
    errs.toSeq
  }
}
