package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32C

/**
 * Kafka wire format: RecordBatch v2 (magic 2) codec + Produce v3 framing,
 * and a socket producer that plugs into [[MessagingSinks.KafkaLikeSink]].
 *
 * Reference: crates/sinks/src/kafka.rs drives librdkafka with idempotent
 * production and per-batch transactions (:120-200, txn protocol :191-355).
 * The protocol itself is public (kafka.apache.org/protocol and KIP-98's
 * batch layout); this implements the parts a producer puts ON THE WIRE:
 *
 *  - RecordBatch v2: baseOffset, batchLength, partitionLeaderEpoch,
 *    magic=2, CRC32C (castagnoli, over everything after the crc field),
 *    attributes, lastOffsetDelta, base/max timestamps, producerId/epoch/
 *    baseSequence (the idempotence fields), zigzag-varint records with
 *    headers — byte-compatible with what brokers append to the log.
 *  - Produce v3 request/response: the non-flexible encoding (magic-2
 *    batches entered at v3), nullable strings, array framing,
 *    transactional_id, acks, per-partition error codes.
 *
 * Coordinator RPCs implemented on the wire (reference kafka.rs:191-355 —
 * rdkafka's init_transactions/begin/commit drive the same five RPCs):
 * Metadata v1 (broker/leader discovery), InitProducerId v0 (pid allocation
 * + epoch bump = fencing), AddPartitionsToTxn v0, EndTxn v0 (commit/abort
 * markers), all in the same non-flexible framing as Produce v3. The
 * transactional producer path is: InitProducerId at begin (epoch-bumped per
 * producer incarnation, so sequences restarting at 0 are correct and a
 * zombie instance is fenced) → AddPartitionsToTxn → Produce with the
 * transactional attribute bit → EndTxn. What stays environment-bound is
 * only the live multi-broker cluster itself; the spec drives every RPC
 * against a CRC-checking, epoch-tracking TCP broker stub.
 */
object KafkaWire {

  case class Record(key: Array[Byte], value: Array[Byte],
                    headers: Seq[(String, Array[Byte])] = Nil, timestampMs: Long = 0L)

  // —————————————————— zigzag varints (protobuf/kafka encoding) ——————————————————

  def writeVarLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63) // zigzag
    while ((z & ~0x7fL) != 0L) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    out.write(z.toInt)
  }

  def readVarLong(in: InputStream): Long = {
    var z = 0L; var shift = 0; var b = in.read()
    while ((b & 0x80) != 0) {
      if (b < 0) throw new java.io.EOFException("truncated varint")
      z |= (b & 0x7fL) << shift; shift += 7; b = in.read()
    }
    if (b < 0) throw new java.io.EOFException("truncated varint")
    z |= (b & 0x7fL) << shift
    (z >>> 1) ^ -(z & 1) // un-zigzag
  }
  def readVarInt(in: InputStream): Int = readVarLong(in).toInt

  // —————————————————— RecordBatch v2 ——————————————————

  /** Encoded length of one zigzag varlong (mirrors [[writeVarLong]]). */
  private def varLongSize(v: Long): Int = {
    var z = (v << 1) ^ (v >> 63)
    var n = 1
    while ((z & ~0x7fL) != 0L) { z >>>= 7; n += 1 }
    n
  }

  /**
   * Encode a magic-2 record batch. `baseSequence`/`producerId`/`producerEpoch`
   * are the idempotence triple — a broker dedupes on (pid, epoch, seq) when
   * a retry re-sends the batch (the wire half of exactly-once; the
   * coordinator RPCs are environment-bound).
   *
   * SINGLE-PASS encode: a size pass computes each record's exact
   * varint-framed length, then the whole batch is written once into one
   * right-sized array and CRC32C runs over that region in place — one
   * allocation, one copy of the payload bytes. A ByteArrayOutputStream per
   * record would copy every record byte four times (record stream → batch
   * stream → crc buffer → framed output) for the same bytes.
   */
  def encodeBatch(records: Seq[Record], baseOffset: Long = 0L,
                  producerId: Long = -1L, producerEpoch: Short = -1,
                  baseSequence: Int = -1, transactional: Boolean = false): Array[Byte] = {
    require(records.nonEmpty, "empty batch")
    val n = records.length
    var baseTs = Long.MaxValue
    var maxTs = Long.MinValue
    records.foreach { r =>
      if (r.timestampMs < baseTs) baseTs = r.timestampMs
      if (r.timestampMs > maxTs) maxTs = r.timestampMs
    }
    // size pass: exact body length per record (header keys UTF-8-encoded
    // once here and reused by the write pass, in flattened order)
    val bodyLens = new Array[Int](n)
    val headerKeys = new java.util.ArrayList[Array[Byte]]()
    var recsSize = 0L
    var i = 0
    records.foreach { r =>
      var s = 1 + varLongSize(r.timestampMs - baseTs) + varLongSize(i.toLong)
      s += (if (r.key == null) varLongSize(-1L)
            else varLongSize(r.key.length.toLong) + r.key.length)
      s += (if (r.value == null) varLongSize(-1L)
            else varLongSize(r.value.length.toLong) + r.value.length)
      s += varLongSize(r.headers.length.toLong)
      r.headers.foreach { case (k, v) =>
        val kb = k.getBytes(UTF_8)
        headerKeys.add(kb)
        s += varLongSize(kb.length.toLong) + kb.length
        s += (if (v == null) varLongSize(-1L)
              else varLongSize(v.length.toLong) + v.length)
      }
      bodyLens(i) = s
      recsSize += varLongSize(s.toLong) + s
      i += 1
    }
    val bodyFixed = 2 + 4 + 8 + 8 + 8 + 2 + 4 + 4 // attributes … recordCount
    val total = 8 + 4 + 4 + 1 + 4 + bodyFixed + recsSize
    require(total <= Int.MaxValue, s"batch too large: $total bytes")
    val outArr = new Array[Byte](total.toInt)
    val bb = ByteBuffer.wrap(outArr)
    bb.putLong(baseOffset)
    bb.putInt(total.toInt - 12) // batchLength: leaderEpoch + magic + crc + body
    bb.putInt(-1) // partitionLeaderEpoch
    bb.put(2.toByte) // magic
    val crcPos = bb.position()
    bb.putInt(0) // crc backfilled after the body is in place
    val crcStart = bb.position()
    // attributes: no compression; bit 4 = isTransactional (KIP-98 batch layout)
    bb.putShort(if (transactional) 0x10 else 0)
    bb.putInt(n - 1) // lastOffsetDelta
    bb.putLong(baseTs)
    bb.putLong(maxTs)
    bb.putLong(producerId)
    bb.putShort(producerEpoch)
    bb.putInt(baseSequence)
    bb.putInt(n)
    def putVar(v: Long): Unit = {
      var z = (v << 1) ^ (v >> 63) // zigzag, mirrors writeVarLong
      while ((z & ~0x7fL) != 0L) { bb.put(((z & 0x7f) | 0x80).toByte); z >>>= 7 }
      bb.put(z.toByte)
    }
    i = 0
    var hIdx = 0
    records.foreach { r =>
      putVar(bodyLens(i).toLong)
      bb.put(0.toByte) // record attributes (unused)
      putVar(r.timestampMs - baseTs)
      putVar(i.toLong) // offsetDelta
      if (r.key == null) putVar(-1L)
      else { putVar(r.key.length.toLong); bb.put(r.key) }
      if (r.value == null) putVar(-1L)
      else { putVar(r.value.length.toLong); bb.put(r.value) }
      putVar(r.headers.length.toLong)
      r.headers.foreach { case (_, v) =>
        val kb = headerKeys.get(hIdx); hIdx += 1
        putVar(kb.length.toLong); bb.put(kb)
        if (v == null) putVar(-1L)
        else { putVar(v.length.toLong); bb.put(v) }
      }
      i += 1
    }
    require(bb.position() == outArr.length, "encode size mismatch")
    val crc = new CRC32C()
    crc.update(outArr, crcStart, outArr.length - crcStart)
    bb.putInt(crcPos, crc.getValue.toInt)
    outArr
  }

  /** Decode + CRC-verify a magic-2 batch (spec/stub side). */
  def decodeBatch(bytes: Array[Byte]): (Long, Long, Short, Int, Seq[Record]) = {
    val buf = ByteBuffer.wrap(bytes)
    val baseOffset = buf.getLong
    val batchLength = buf.getInt
    require(batchLength == bytes.length - 12, s"batchLength $batchLength vs ${bytes.length - 12}")
    require(buf.getInt == -1 || true) // partitionLeaderEpoch (any)
    require(buf.get() == 2, "not a magic-2 batch")
    val crcStored = buf.getInt
    val crc = new CRC32C()
    crc.update(bytes, buf.position(), bytes.length - buf.position())
    require(crc.getValue.toInt == crcStored, "CRC32C mismatch")
    buf.getShort // attributes
    buf.getInt // lastOffsetDelta
    val baseTs = buf.getLong
    buf.getLong // maxTs
    val pid = buf.getLong
    val epoch = buf.getShort
    val baseSeq = buf.getInt
    val n = buf.getInt
    val in = new java.io.ByteArrayInputStream(bytes, buf.position(), bytes.length - buf.position())
    val recs = (0 until n).map { _ =>
      readVarInt(in) // record length
      in.read() // attributes
      val tsDelta = readVarLong(in)
      readVarInt(in) // offsetDelta
      def bytesOrNull(): Array[Byte] = {
        val len = readVarInt(in)
        if (len < 0) null else { val a = new Array[Byte](len); in.read(a); a }
      }
      val key = bytesOrNull()
      val value = bytesOrNull()
      val headers = (0 until readVarInt(in)).map { _ =>
        val k = new String(bytesOrNull(), UTF_8); k -> bytesOrNull()
      }
      Record(key, value, headers, baseTs + tsDelta)
    }
    (baseOffset, pid, epoch, baseSeq, recs)
  }

  // —————————————————— Produce v3 framing ——————————————————

  private def writeString(out: DataOutputStream, s: String): Unit =
    if (s == null) out.writeShort(-1)
    else { val b = s.getBytes(UTF_8); out.writeShort(b.length); out.write(b) }

  private def readString(in: DataInputStream): String = {
    val len = in.readShort()
    if (len < 0) null else { val b = new Array[Byte](len); in.readFully(b); new String(b, UTF_8) }
  }

  /** One Produce v3 request: single topic, records per partition. */
  def encodeProduceRequest(correlationId: Int, clientId: String,
                           transactionalId: String, acks: Short, timeoutMs: Int,
                           topic: String, partitionBatches: Seq[(Int, Array[Byte])]): Array[Byte] = {
    // single-pass framing (the BAOS→toByteArray→framed.put shape copied
    // every batch three more times — with the MB-scale batches the bench
    // drain sends, the copies were a real share of the encode cost)
    def sb(s: String): Array[Byte] = if (s == null) null else s.getBytes(UTF_8)
    val cid = sb(clientId); val tid = sb(transactionalId); val top = sb(topic)
    def strLen(b: Array[Byte]): Int = 2 + (if (b == null) 0 else b.length)
    val bodySize = 2 + 2 + 4 + strLen(cid) + strLen(tid) + 2 + 4 + 4 +
      strLen(top) + 4 + partitionBatches.map(8 + _._2.length).sum
    val framed = ByteBuffer.allocate(4 + bodySize)
    framed.putInt(bodySize)
    framed.putShort(0) // apiKey = Produce
    framed.putShort(3) // apiVersion (first with magic-2 batches)
    framed.putInt(correlationId)
    def putStr(b: Array[Byte]): Unit =
      if (b == null) framed.putShort(-1)
      else { framed.putShort(b.length.toShort); framed.put(b) }
    putStr(cid)
    putStr(tid)
    framed.putShort(acks)
    framed.putInt(timeoutMs)
    framed.putInt(1) // topic count
    putStr(top)
    framed.putInt(partitionBatches.length)
    partitionBatches.foreach { case (partition, batch) =>
      framed.putInt(partition)
      framed.putInt(batch.length)
      framed.put(batch)
    }
    framed.array()
  }

  case class PartitionAck(partition: Int, errorCode: Short, baseOffset: Long)
  case class ProduceResponse(correlationId: Int, topic: String, acks: Seq[PartitionAck])

  def readProduceResponse(in: DataInputStream): ProduceResponse = {
    val size = in.readInt()
    val buf = new Array[Byte](size)
    in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val corr = d.readInt()
    val topicCount = d.readInt()
    require(topicCount == 1, s"expected one topic, got $topicCount")
    val topic = readString(d)
    val acks = (0 until d.readInt()).map { _ =>
      val p = d.readInt(); val err = d.readShort(); val off = d.readLong()
      d.readLong() // logAppendTime
      PartitionAck(p, err, off)
    }
    ProduceResponse(corr, topic, acks)
  }

  /** Stub/broker side: parse one Produce v3 request off the wire. */
  case class ProduceRequest(correlationId: Int, clientId: String, transactionalId: String,
                            acks: Short, topic: String, batches: Seq[(Int, Array[Byte])])

  def readProduceRequest(in: DataInputStream): ProduceRequest = {
    val size = in.readInt()
    val buf = new Array[Byte](size)
    in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    require(d.readShort() == 0 && d.readShort() == 3, "not a Produce v3 request")
    val corr = d.readInt()
    val clientId = readString(d)
    val txnId = readString(d)
    val acks = d.readShort()
    d.readInt() // timeoutMs
    require(d.readInt() == 1)
    val topic = readString(d)
    val batches = (0 until d.readInt()).map { _ =>
      val partition = d.readInt()
      val len = d.readInt()
      val b = new Array[Byte](len); d.readFully(b)
      partition -> b
    }
    ProduceRequest(corr, clientId, txnId, acks, topic, batches)
  }

  def encodeProduceResponse(resp: ProduceResponse): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(resp.correlationId)
    d.writeInt(1)
    writeString(d, resp.topic)
    d.writeInt(resp.acks.length)
    resp.acks.foreach { a =>
      d.writeInt(a.partition); d.writeShort(a.errorCode); d.writeLong(a.baseOffset)
      d.writeLong(-1L) // logAppendTime
    }
    d.writeInt(0) // throttle_time_ms (v1+, trails the responses array)
    d.flush()
    val framed = ByteBuffer.allocate(4 + body.size())
    framed.putInt(body.size())
    framed.put(body.toByteArray)
    framed.array()
  }

  // —————————————————— coordinator RPCs (Metadata / InitProducerId / AddPartitionsToTxn / EndTxn) ——————————————————

  /** Kafka error codes used on the fencing path. */
  object Errors {
    val None: Short = 0
    val NotLeaderForPartition: Short = 6 // stale leader: refresh metadata + retry
    val InvalidProducerEpoch: Short = 47 // stale epoch on Produce
    val ProducerFenced: Short = 90 // stale epoch at the txn coordinator
    def isFence(code: Short): Boolean =
      code == InvalidProducerEpoch || code == ProducerFenced
  }

  /** Common request header (apiKey, apiVersion, correlationId, clientId). */
  case class RequestHeader(apiKey: Short, apiVersion: Short, correlationId: Int, clientId: String)

  /**
   * Read one framed request and return (header, body reader). The dispatcher
   * side of a multi-RPC broker: peek the api key, then decode the body.
   */
  def readRequest(in: DataInputStream): (RequestHeader, DataInputStream) = {
    val size = in.readInt()
    val buf = new Array[Byte](size)
    in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val h = RequestHeader(d.readShort(), d.readShort(), d.readInt(), readString(d))
    (h, d)
  }

  private def writeHeader(d: DataOutputStream, apiKey: Short, apiVersion: Short,
                          correlationId: Int, clientId: String): Unit = {
    d.writeShort(apiKey); d.writeShort(apiVersion); d.writeInt(correlationId)
    writeString(d, clientId)
  }

  private def frame(body: ByteArrayOutputStream): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + body.size())
    out.putInt(body.size()); out.put(body.toByteArray); out.array()
  }

  // —— Metadata v1 (apiKey 3): broker + partition-leader discovery ——

  case class BrokerNode(nodeId: Int, host: String, port: Int)
  case class PartitionMeta(errorCode: Short, partition: Int, leaderId: Int)
  case class TopicMeta(errorCode: Short, name: String, partitions: Seq[PartitionMeta])
  case class MetadataResponse(correlationId: Int, brokers: Seq[BrokerNode],
                              controllerId: Int, topics: Seq[TopicMeta])

  def encodeMetadataRequest(correlationId: Int, clientId: String, topics: Seq[String]): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    writeHeader(d, 3, 1, correlationId, clientId)
    d.writeInt(topics.length)
    topics.foreach(writeString(d, _))
    d.flush(); frame(body)
  }

  /** Broker side: topics requested (header already consumed by [[readRequest]]). */
  def readMetadataRequestBody(d: DataInputStream): Seq[String] = {
    val n = d.readInt()
    if (n < 0) Nil else (0 until n).map(_ => readString(d))
  }

  def encodeMetadataResponse(resp: MetadataResponse): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    d.writeInt(resp.correlationId)
    d.writeInt(resp.brokers.length)
    resp.brokers.foreach { b =>
      d.writeInt(b.nodeId); writeString(d, b.host); d.writeInt(b.port)
      writeString(d, null) // rack
    }
    d.writeInt(resp.controllerId)
    d.writeInt(resp.topics.length)
    resp.topics.foreach { t =>
      d.writeShort(t.errorCode); writeString(d, t.name); d.writeBoolean(false) // is_internal
      d.writeInt(t.partitions.length)
      t.partitions.foreach { p =>
        d.writeShort(p.errorCode); d.writeInt(p.partition); d.writeInt(p.leaderId)
        d.writeInt(1); d.writeInt(p.leaderId) // replicas
        d.writeInt(1); d.writeInt(p.leaderId) // isr
      }
    }
    d.flush(); frame(body)
  }

  def readMetadataResponse(in: DataInputStream): MetadataResponse = {
    val size = in.readInt(); val buf = new Array[Byte](size); in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val corr = d.readInt()
    val brokers = (0 until d.readInt()).map { _ =>
      val b = BrokerNode(d.readInt(), readString(d), d.readInt())
      readString(d) // rack
      b
    }
    val controller = d.readInt()
    val topics = (0 until d.readInt()).map { _ =>
      val err = d.readShort(); val name = readString(d); d.readBoolean()
      val parts = (0 until d.readInt()).map { _ =>
        val p = PartitionMeta(d.readShort(), d.readInt(), d.readInt())
        (0 until d.readInt()).foreach(_ => d.readInt()) // replicas
        (0 until d.readInt()).foreach(_ => d.readInt()) // isr
        p
      }
      TopicMeta(err, name, parts)
    }
    MetadataResponse(corr, brokers, controller, topics)
  }

  // —— InitProducerId v0 (apiKey 22): pid allocation + epoch bump (fencing) ——

  case class InitProducerIdResponse(correlationId: Int, errorCode: Short,
                                    producerId: Long, producerEpoch: Short)

  def encodeInitProducerIdRequest(correlationId: Int, clientId: String,
                                  transactionalId: String, txnTimeoutMs: Int = 60000): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    writeHeader(d, 22, 0, correlationId, clientId)
    writeString(d, transactionalId)
    d.writeInt(txnTimeoutMs)
    d.flush(); frame(body)
  }

  /** Broker side: (transactionalId, txnTimeoutMs). */
  def readInitProducerIdRequestBody(d: DataInputStream): (String, Int) =
    (readString(d), d.readInt())

  def encodeInitProducerIdResponse(resp: InitProducerIdResponse): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    d.writeInt(resp.correlationId)
    d.writeInt(0) // throttle_time_ms
    d.writeShort(resp.errorCode)
    d.writeLong(resp.producerId)
    d.writeShort(resp.producerEpoch)
    d.flush(); frame(body)
  }

  def readInitProducerIdResponse(in: DataInputStream): InitProducerIdResponse = {
    val size = in.readInt(); val buf = new Array[Byte](size); in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val corr = d.readInt(); d.readInt() // throttle
    InitProducerIdResponse(corr, d.readShort(), d.readLong(), d.readShort())
  }

  // —— AddPartitionsToTxn v0 (apiKey 24) ——

  case class AddPartitionsToTxnRequest(transactionalId: String, producerId: Long,
                                       producerEpoch: Short, topics: Seq[(String, Seq[Int])])
  case class AddPartitionsToTxnResponse(correlationId: Int,
                                        results: Seq[(String, Seq[(Int, Short)])])

  def encodeAddPartitionsToTxnRequest(correlationId: Int, clientId: String,
                                      req: AddPartitionsToTxnRequest): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    writeHeader(d, 24, 0, correlationId, clientId)
    writeString(d, req.transactionalId)
    d.writeLong(req.producerId); d.writeShort(req.producerEpoch)
    d.writeInt(req.topics.length)
    req.topics.foreach { case (t, ps) =>
      writeString(d, t); d.writeInt(ps.length); ps.foreach(d.writeInt)
    }
    d.flush(); frame(body)
  }

  def readAddPartitionsToTxnRequestBody(d: DataInputStream): AddPartitionsToTxnRequest = {
    val txn = readString(d); val pid = d.readLong(); val epoch = d.readShort()
    val topics = (0 until d.readInt()).map { _ =>
      val t = readString(d)
      t -> (0 until d.readInt()).map(_ => d.readInt())
    }
    AddPartitionsToTxnRequest(txn, pid, epoch, topics)
  }

  def encodeAddPartitionsToTxnResponse(resp: AddPartitionsToTxnResponse): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    d.writeInt(resp.correlationId)
    d.writeInt(0) // throttle_time_ms
    d.writeInt(resp.results.length)
    resp.results.foreach { case (t, ps) =>
      writeString(d, t); d.writeInt(ps.length)
      ps.foreach { case (p, err) => d.writeInt(p); d.writeShort(err) }
    }
    d.flush(); frame(body)
  }

  def readAddPartitionsToTxnResponse(in: DataInputStream): AddPartitionsToTxnResponse = {
    val size = in.readInt(); val buf = new Array[Byte](size); in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val corr = d.readInt(); d.readInt() // throttle
    val results = (0 until d.readInt()).map { _ =>
      val t = readString(d)
      t -> (0 until d.readInt()).map(_ => (d.readInt(), d.readShort()))
    }
    AddPartitionsToTxnResponse(corr, results)
  }

  // —— EndTxn v0 (apiKey 26): commit/abort markers ——

  case class EndTxnRequest(transactionalId: String, producerId: Long,
                           producerEpoch: Short, committed: Boolean)

  def encodeEndTxnRequest(correlationId: Int, clientId: String, req: EndTxnRequest): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    writeHeader(d, 26, 0, correlationId, clientId)
    writeString(d, req.transactionalId)
    d.writeLong(req.producerId); d.writeShort(req.producerEpoch)
    d.writeBoolean(req.committed)
    d.flush(); frame(body)
  }

  def readEndTxnRequestBody(d: DataInputStream): EndTxnRequest =
    EndTxnRequest(readString(d), d.readLong(), d.readShort(), d.readBoolean())

  def encodeEndTxnResponse(correlationId: Int, errorCode: Short): Array[Byte] = {
    val body = new ByteArrayOutputStream(); val d = new DataOutputStream(body)
    d.writeInt(correlationId)
    d.writeInt(0) // throttle_time_ms
    d.writeShort(errorCode)
    d.flush(); frame(body)
  }

  /** (correlationId, errorCode). */
  def readEndTxnResponse(in: DataInputStream): (Int, Short) = {
    val size = in.readInt(); val buf = new Array[Byte](size); in.readFully(buf)
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf))
    val corr = d.readInt(); d.readInt() // throttle
    (corr, d.readShort())
  }

  /**
   * A [[MessagingSinks.TransactionalProducer]] over Produce v3. Buffers the
   * transaction's records; commit encodes ONE idempotently-sequenced batch
   * per topic and requires acks=-1 success on every partition.
   *
   * Delivery semantics, stated precisely: abort before commit touches the
   * wire not at all. A commit that FAILS leaves the UNACKED topics'
   * records in `pending` with their sequences unadvanced, so the caller's
   * retry re-sends byte-identical batches with the SAME (producerId,
   * epoch, baseSequence) — a broker's idempotent dedup collapses a
   * written-but-unacked batch. Topics that DID ack are dropped from
   * `pending` as they ack (their sequence advanced, so a re-send would be
   * accepted as fresh rows — the one duplication hole in the pre-r7
   * keep-everything-pending design). Sequences are per topic (Kafka
   * tracks them per topic-partition; a shared counter would be rejected
   * as OUT_OF_ORDER_SEQUENCE_NUMBER). A multi-topic commit is therefore
   * NOT atomic mid-flight — it is idempotent-convergent. True cross-topic
   * atomicity needs the coordinator txn path (`transactionalId` set).
   */
  class SocketProducer(host: String, port: Int, clientId: String,
                       transactionalId: String = null,
                       producerId: Long = 1L,
                       connectTimeoutMs: Int = 5000,
                       readTimeoutMs: Int = 30000)
      extends MessagingSinks.TransactionalProducer {
    private var inTx = false
    private val pending = new scala.collection.mutable.ArrayBuffer[MessagingSinks.WireRecord]()
    private val seqByTopic = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val corr = new java.util.concurrent.atomic.AtomicInteger(0)
    private val transactional = transactionalId != null
    // idempotence identity: constructor pid for the plain path; coordinator-
    // issued (pid, epoch) for the transactional path (InitProducerId)
    private var pid: Long = producerId
    private var epoch: Short = 0
    private var initialized = false
    private var fenced = false
    private var txnOnWire = false // uncommitted produce reached the broker
    // Commit-retry bookkeeping: a retried commit must NOT re-produce under
    // advanced sequences (the broker would accept the replay as new rows).
    // `txBaseSeq` pins each topic's base sequence for the LIFE of the open
    // transaction, so any re-produce replays the exact same (pid, epoch,
    // seq) triple and the broker's idempotent dedup collapses it;
    // `producedInTx` records that the produce phase fully acked, so a
    // commit retry after an EndTxn-only failure re-issues just EndTxn.
    private val txBaseSeq = new java.util.HashMap[String, Integer]()
    private var producedInTx = false
    // Cluster view from Metadata: produce for a topic goes to that
    // partition's LEADER broker; coordinator RPCs (InitProducerId,
    // AddPartitionsToTxn, EndTxn) stay on the bootstrap connection. A
    // NOT_LEADER_FOR_PARTITION ack refreshes the view and re-routes.
    private var brokers = Map.empty[Int, (String, Int)]
    private var topicLeader = Map.empty[String, Int]
    private val maxLeaderRetries = 3

    override def isFenced: Boolean = fenced

    private def withConn[A](h: String, p: Int)(body: (BufferedOutputStream, DataInputStream) => A): A = {
      val socket = new Socket()
      try {
        socket.connect(new InetSocketAddress(h, p), connectTimeoutMs)
        socket.setSoTimeout(readTimeoutMs)
        body(new BufferedOutputStream(socket.getOutputStream, 1 << 16),
          new DataInputStream(new BufferedInputStream(socket.getInputStream, 1 << 16)))
      } finally socket.close()
    }

    private def fence(code: Short, rpc: String): Nothing = {
      fenced = true
      throw new IllegalStateException(
        s"producer fenced ($rpc error $code): a newer $transactionalId incarnation holds epoch > $epoch")
    }

    /**
     * Coordinator bootstrap (reference kafka.rs init_transactions):
     * Metadata discovers the leader; InitProducerId allocates the pid and
     * BUMPS THE EPOCH for this incarnation — sequences restart at 0 under
     * the new epoch (so a fresh producer per micro-batch partition is
     * correctly sequenced) and any older incarnation is fenced.
     */
    private def initTransactions(out: BufferedOutputStream, in: DataInputStream): Unit = {
      val mdCorr = corr.incrementAndGet()
      out.write(encodeMetadataRequest(mdCorr, clientId, Nil)); out.flush()
      val md = readMetadataResponse(in)
      require(md.correlationId == mdCorr, "metadata correlation mismatch")
      applyMetadata(md)
      val ipCorr = corr.incrementAndGet()
      out.write(encodeInitProducerIdRequest(ipCorr, clientId, transactionalId)); out.flush()
      val ip = readInitProducerIdResponse(in)
      require(ip.correlationId == ipCorr, "init_producer_id correlation mismatch")
      if (ip.errorCode != Errors.None)
        throw new RuntimeException(s"InitProducerId failed: error ${ip.errorCode}")
      pid = ip.producerId; epoch = ip.producerEpoch
      initialized = true
    }

    override def beginTransaction(): Unit = {
      require(!inTx, "already in a transaction")
      if (transactional && !initialized) withConn(host, port)(initTransactions)
      txBaseSeq.clear(); producedInTx = false
      inTx = true
    }

    override def send(rec: MessagingSinks.WireRecord): Unit =
      if (inTx) {
        // once the produce phase of this transaction has acked, a commit
        // retry re-issues ONLY EndTxn — a record added now would silently
        // miss the transaction, so reject it loudly
        require(!producedInTx,
          "cannot add records after the transaction's produce phase completed; retry the commit or abort")
        pending += rec
      } else flush(Seq(rec))

    override def abortTransaction(): Unit = {
      // nothing hit the wire before commit → local clear; if a failed commit
      // left uncommitted transactional data on the broker, write the abort
      // marker so it can never become visible
      if (transactional && txnOnWire && !fenced)
        try withConn(host, port)(endTxn(_, _, committed = false))
        catch { case _: Exception => () } // abort is best-effort; txn times out server-side
      txnOnWire = false
      txBaseSeq.clear(); producedInTx = false
      pending.clear(); inTx = false
    }

    override def commitTransaction(): Unit = {
      // failure does NOT clear pending or advance sequences — the replay
      // must observe the exact same (pid, epoch, seq) triple to be deduped
      if (pending.nonEmpty) {
        if (transactional) commitWithCoordinator()
        else {
          // per-topic, dropping each topic from `pending` AS IT ACKS: an
          // acked topic's sequence has advanced, so a commit retry that
          // re-produced it would be accepted as fresh rows (duplicates).
          // After a partial failure the retry re-sends ONLY unacked topics.
          pending.toSeq.groupBy(_.topic).toSeq.sortBy(_._1).foreach { case (_, rs) =>
            produce(rs)
            pending --= rs
          }
        }
      }
      txBaseSeq.clear(); producedInTx = false
      pending.clear(); inTx = false; txnOnWire = false
    }

    /**
     * AddPartitionsToTxn → Produce(transactional) → EndTxn(commit). On a
     * retried commit: if the produce phase already fully acked (EndTxn-only
     * failure), skip straight to EndTxn — re-producing would duplicate; if
     * produce failed partway, the re-produce replays under the pinned
     * per-transaction base sequences (same triple → broker dedup).
     */
    private def commitWithCoordinator(): Unit = {
      if (!producedInTx) {
        withConn(host, port) { (out, in) =>
          val topics = pending.map(_.topic).distinct.sorted.toSeq
          val apCorr = corr.incrementAndGet()
          out.write(encodeAddPartitionsToTxnRequest(apCorr, clientId,
            AddPartitionsToTxnRequest(transactionalId, pid, epoch, topics.map(_ -> Seq(0)))))
          out.flush()
          val ap = readAddPartitionsToTxnResponse(in)
          require(ap.correlationId == apCorr, "add_partitions correlation mismatch")
          ap.results.flatMap(_._2).find(_._2 != Errors.None).foreach { case (_, code) =>
            if (Errors.isFence(code)) fence(code, "AddPartitionsToTxn")
            throw new RuntimeException(s"AddPartitionsToTxn failed: error $code")
          }
        }
        produce(pending.toSeq) // routed per partition leader
        producedInTx = true
      }
      withConn(host, port)(endTxn(_, _, committed = true))
    }

    private def endTxn(out: BufferedOutputStream, in: DataInputStream, committed: Boolean): Unit = {
      val id = corr.incrementAndGet()
      out.write(encodeEndTxnRequest(id, clientId,
        EndTxnRequest(transactionalId, pid, epoch, committed)))
      out.flush()
      val (rcorr, code) = readEndTxnResponse(in)
      require(rcorr == id, "end_txn correlation mismatch")
      if (Errors.isFence(code)) fence(code, "EndTxn")
      if (code != Errors.None) throw new RuntimeException(s"EndTxn failed: error $code")
    }

    private def flush(recs: Seq[MessagingSinks.WireRecord]): Unit =
      produce(recs)

    private def applyMetadata(md: MetadataResponse): Unit = {
      if (md.brokers.nonEmpty)
        brokers = md.brokers.map(b => b.nodeId -> (b.host, b.port)).toMap
      topicLeader = topicLeader ++ md.topics.flatMap(t =>
        t.partitions.find(_.partition == 0).map(p => t.name -> p.leaderId))
    }

    /** Fetch metadata for `topics` over the bootstrap connection. */
    private def refreshMetadata(topics: Seq[String]): Unit =
      withConn(host, port) { (out, in) =>
        val mdCorr = corr.incrementAndGet()
        out.write(encodeMetadataRequest(mdCorr, clientId, topics)); out.flush()
        val md = readMetadataResponse(in)
        require(md.correlationId == mdCorr, "metadata correlation mismatch")
        applyMetadata(md)
      }

    /** The topic's partition-0 leader (discovering it if unknown). */
    private def leaderConn(topic: String): (String, Int) = {
      if (!topicLeader.contains(topic))
        try refreshMetadata(Seq(topic)) catch { case _: Exception => () }
      topicLeader.get(topic).flatMap(brokers.get).getOrElse((host, port))
    }

    /**
     * Produce each topic's batch to its Metadata-reported leader. A
     * NOT_LEADER_FOR_PARTITION ack means the leadership moved: refresh the
     * cluster view and retry against the new leader — with the SAME
     * (pid, epoch, baseSeq) triple, so a batch the old leader did manage
     * to persist before stepping down is deduped, never duplicated.
     */
    private def produce(recs: Seq[MessagingSinks.WireRecord]): Unit = {
      recs.groupBy(_.topic).toSeq.sortBy(_._1).foreach { case (topic, rs) =>
        // inside a transaction the base sequence is pinned at first use so
        // a commit retry replays the same triple instead of advancing past
        // an already-acked topic (partial-produce retry = duplicates)
        val baseSeq: Int =
          if (transactional && inTx)
            txBaseSeq.computeIfAbsent(topic,
              t => Option(seqByTopic.get(t)).fold(0)(_.intValue())).intValue()
          else Option(seqByTopic.get(topic)).fold(0)(_.intValue())
        val batch = encodeBatch(
          rs.map(r => Record(
            if (r.key == null) null else r.key.getBytes(UTF_8), r.value,
            r.headers.toSeq.sortBy(_._1).map { case (k, v) => k -> v.getBytes(UTF_8) })),
          producerId = pid, producerEpoch = epoch,
          baseSequence = baseSeq, transactional = transactional && inTx)
        var attempts = 0
        var acked = false
        while (!acked) {
          val (lh, lp) = leaderConn(topic)
          val code = withConn(lh, lp) { (out, in) =>
            val id = corr.incrementAndGet()
            out.write(encodeProduceRequest(id, clientId, transactionalId,
              acks = -1, timeoutMs = readTimeoutMs, topic = topic,
              partitionBatches = Seq(0 -> batch)))
            out.flush()
            if (transactional && inTx) txnOnWire = true
            val resp = readProduceResponse(in)
            require(resp.correlationId == id,
              s"correlation mismatch: ${resp.correlationId} vs $id")
            resp.acks.find(_.errorCode != 0).map(_.errorCode).getOrElse(Errors.None)
          }
          if (code == Errors.None) {
            seqByTopic.put(topic, baseSeq + rs.length) // advance ONLY on ack
            acked = true
          } else if (code == Errors.NotLeaderForPartition && attempts < maxLeaderRetries) {
            attempts += 1
            topicLeader -= topic // force re-discovery
            refreshMetadata(Seq(topic))
          } else if (Errors.isFence(code)) fence(code, "Produce")
          else throw new RuntimeException(s"produce to $topic[0] failed: error $code")
        }
      }
    }
  }
}
