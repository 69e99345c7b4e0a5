package graft.streaming

import graft.core.{ChangeEvent, Retry}
import graft.operators.Routing
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, MapType, StringType}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/**
 * Messaging sinks: the Kafka-shaped transactional sink over a pluggable
 * producer (the wire producer is [[KafkaWire.SocketProducer]]) and the
 * HTTP/webhook sink. The Redis Streams and NATS sinks speak their wire
 * protocols in [[RedisWire]] and [[NatsWire]], and ClickHouse its HTTP
 * interface in [[ClickHouseWire]]. The HTTP, Redis and NATS sinks share
 * one bounded retry loop, [[graft.core.Retry]].
 */
object MessagingSinks {

  /** One wire record (post-routing, post-encode). */
  case class WireRecord(topic: String, key: String, value: Array[Byte],
                        headers: Map[String, String])

  /**
   * Transactional producer contract, mirroring the Kafka producer surface the
   * reference drives (crates/sinks/src/kafka.rs:191-355): idempotent sends,
   * `transactional.id`-fenced begin/commit/abort. Implement with
   * org.apache.kafka.clients.producer when the client jar is on the cluster.
   */
  trait TransactionalProducer extends Serializable {
    def beginTransaction(): Unit
    def send(rec: WireRecord): Unit
    def commitTransaction(): Unit
    def abortTransaction(): Unit
    /** true = producer fenced by a newer instance — fatal, do not retry (kafka.rs fence handling). */
    def isFenced: Boolean = false
  }

  /**
   * Kafka-shaped sink with exactly-once semantics: one transaction of one
   * producer per micro-batch, as the reference sends a batch through one
   * producer per sink (kafka.rs:120-160, `transactional.id =
   * deltaforge-{pipeline}-{sink}`). Records are routed/keyed via the
   * event's routing override → template → static cascade, and delivered
   * **ordered by key**: the one producer task sorts its rows by key and
   * source sequence, preserving the per-PK ordering guarantee (reference
   * docs/src/guarantees.md:41-66), and a replayed batch sends every key in
   * the same order from the same task slot, 0.
   *
   * A batch frozen by [[CdcPipeline]] carries its row count in its plan
   * statistics: at 0 rows the sink runs no job. Its projection is a
   * [[GraftBridge.BatchPlan]], planned once; any other input (a sink
   * `filter`, an unfrozen batch) is planned on the call over a
   * `coalesce(1)`, which adds no exchange. The task calls the producer
   * factory and begins its transaction at its first row, so a batch that
   * keeps no rows opens no producer. The records are sent from Spark's
   * internal rows, with no conversion of each row to a `Row`.
   */
  class KafkaLikeSink(
      val id: String,
      producerFactory: () => TransactionalProducer,
      topicTemplate: Option[String] = None,
      staticTopic: String = "events",
      keyTemplate: Option[String] = None,
      valueColumn: DataFrame => org.apache.spark.sql.Column = ChangeEvent.json,
      exactlyOnce: Boolean = true) extends EventSink {

    /** The routed records. */
    private def routed(batch: DataFrame): DataFrame = batch.select(
      Routing.resolveTopic(topicTemplate, staticTopic).as("topic"),
      coalesce(Routing.resolveKey(keyTemplate), col("event_id")).as("key"),
      valueColumn(batch).cast(BinaryType).as("value"),
      coalesce(col("routing.headers"),
        map().cast(MapType(StringType, StringType))).as("headers"),
      coalesce(col("source.sequence"), col("ts_ms"), lit(0L)).as("_seq"))

    @transient private lazy val plans = new GraftBridge.BatchPlan((batch, _) =>
      routed(batch).sortWithinPartitions(col("key"), col("_seq")))

    override def write(batch: DataFrame, batchId: Long): Unit = {
      if (batch.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(0))) return
      val (sinkId, factory, eos) = (id, producerFactory, exactlyOnce)
      GraftBridge.foreachPartition(plans(batch, batchId, partitions = 1)) { rows =>
        def str(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
        if (rows.hasNext) {
          val producer = factory()
          if (eos) producer.beginTransaction()
          try {
            rows.foreach { r =>
              val headers = if (r.isNullAt(3)) Map.empty[String, String] else {
                val m = r.getMap(3)
                val (ks, vs) = (m.keyArray(), m.valueArray())
                (0 until m.numElements()).map(i => ks.getUTF8String(i).toString ->
                  (if (vs.isNullAt(i)) null else vs.getUTF8String(i).toString)).toMap
              }
              producer.send(WireRecord(str(r, 0), str(r, 1),
                if (r.isNullAt(2)) null else r.getBinary(2), headers))
            }
            if (eos) producer.commitTransaction()
          } catch {
            case e: Throwable =>
              if (eos) producer.abortTransaction()
              if (producer.isFenced)
                throw new IllegalStateException(s"producer fenced for sink $sinkId — fatal", e)
              throw e
          }
        }
      }
    }
  }

  /** In-memory producer for tests: records + txn protocol assertions. */
  class CollectingProducer(buffer: java.util.Queue[WireRecord],
                           failOnSend: Int = 0) extends TransactionalProducer {
    private var inTx = false
    private val pending = new java.util.ArrayList[WireRecord]()
    private var sends = 0
    def beginTransaction(): Unit = { require(!inTx); inTx = true }
    def send(rec: WireRecord): Unit = {
      sends += 1
      if (failOnSend > 0 && sends >= failOnSend) throw new RuntimeException("injected send failure")
      if (inTx) pending.add(rec) else buffer.add(rec)
    }
    def commitTransaction(): Unit = { pending.forEach(r => buffer.add(r)); pending.clear(); inTx = false }
    def abortTransaction(): Unit = { pending.clear(); inTx = false }
  }

  /**
   * HTTP/webhook sink (reference crates/sinks/src/http.rs:33-200): POST with
   * URL template, JSON-array batch mode, bounded retries on 5xx and IO
   * errors with exponential backoff ([[graft.core.Retry]]); a 4xx fails at
   * once. Runs per partition with one shared client.
   */
  class HttpSink(
      val id: String,
      url: String,
      batchMode: Boolean = true,
      maxRetries: Int = 3,
      headers: Map[String, String] = Map.empty,
      timeout: Duration = Duration.ofSeconds(30)) extends EventSink {

    override def write(batch: DataFrame, batchId: Long): Unit = {
      val payloads = batch.select(ChangeEvent.json(batch).as("v"))
      val u = url; val bm = batchMode; val mr = maxRetries; val hs = headers; val to = timeout
      payloads.foreachPartition { (rows: Iterator[Row]) =>
        val client = HttpClient.newBuilder().connectTimeout(to).build()
        def post(body: String): Unit =
          try Retry(mr + 1, n => math.min(100L << n, 2000L))(_.isInstanceOf[ServerError]) { _ =>
            val b = HttpRequest.newBuilder(URI.create(u))
              .timeout(to)
              .header("Content-Type", "application/json")
              .POST(HttpRequest.BodyPublishers.ofString(body))
            hs.foreach { case (k, v) => b.header(k, v) }
            val status =
              try client.send(b.build(), HttpResponse.BodyHandlers.discarding()).statusCode()
              catch { case _: java.io.IOException => 599 }
            if (status >= 500) throw new ServerError(status)
            if (status >= 400) throw new RuntimeException(s"http sink $u: status $status")
          } catch {
            case e: ServerError =>
              throw new RuntimeException(s"http sink $u: status ${e.status} after $mr retries")
          }
        if (bm) {
          val grouped = rows.map(_.getString(0)).grouped(500)
          grouped.foreach(g => post(g.mkString("[", ",", "]")))
        } else rows.foreach(r => post(r.getString(0)))
      }
    }
  }

  /** A 5xx answer (or an IO error, as 599): the retryable HTTP outcome. */
  private final class ServerError(val status: Int) extends Exception(s"status $status")
}
