package graft.streaming

import graft.core.Retry
import graft.operators.Routing
import org.apache.spark.sql.{DataFrame, Row}
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
   * Kafka-shaped sink with exactly-once semantics: one transaction per
   * producer task per micro-batch (reference kafka.rs:120-160). Records are
   * routed/keyed via the event's routing override → template → static
   * cascade, and delivered **ordered by key**: each producer task sorts its
   * rows by key and source sequence, preserving the per-PK ordering
   * guarantee (reference docs/src/guarantees.md:41-66).
   *
   * Producer tasks per batch ([[KafkaLikeSink.producerTasks]]): the row
   * count comes from the batch's plan statistics, which a batch frozen by
   * [[CdcPipeline]] carries, so sizing costs no job.
   *  - 0 rows: no job and no producer (no InitProducerId, no empty
   *    transaction).
   *  - Up to [[KafkaLikeSink.RowsPerProducer]] rows: ONE task (a
   *    `coalesce(1)`, no exchange), so one Spark job and one transaction,
   *    as the reference sends a batch through one producer per sink.
   *  - More: `ceil(rows / RowsPerProducer)` tasks, at most
   *    `defaultParallelism`, through a hash repartition by key.
   *  - No row count (an unfrozen input, or a sink `filter`): the hash
   *    repartition by key at `defaultParallelism`; the sink never runs a
   *    `count()`.
   * The task count depends only on the batch's row count (and, above
   * `RowsPerProducer` rows, the default parallelism), so a replayed batch
   * sends every key from the same task slot in the same order, the
   * precondition for the idempotent path's (pid, epoch, baseSeq) dedup.
   *
   * The producer factory runs once per task; a factory that derives its
   * `transactional.id` from `TaskContext.getPartitionId()` therefore uses
   * slot 0 only for a small batch, and the higher slots of a larger batch
   * stay unused (a transaction left open on one of them is not fenced by
   * the next batch and ends at the broker's transaction timeout). The
   * reference uses one `transactional.id` per sink,
   * `deltaforge-{pipeline}-{sink}`.
   */
  class KafkaLikeSink(
      val id: String,
      producerFactory: () => TransactionalProducer,
      topicTemplate: Option[String] = None,
      staticTopic: String = "events",
      keyTemplate: Option[String] = None,
      valueColumn: DataFrame => org.apache.spark.sql.Column =
        df => to_json(struct(df.columns.map(col).toIndexedSeq: _*)),
      exactlyOnce: Boolean = true) extends EventSink {

    override def write(batch: DataFrame, batchId: Long): Unit = {
      val tasks = KafkaLikeSink.producerTasks(
        batch.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong),
        batch.sparkSession.sparkContext.defaultParallelism)
      if (tasks == 0) return
      val routed = batch.select(
        Routing.resolveTopic(topicTemplate, staticTopic).as("topic"),
        coalesce(Routing.resolveKey(keyTemplate), col("event_id")).as("key"),
        valueColumn(batch).cast(BinaryType).as("value"),
        coalesce(col("routing.headers"),
          map().cast(MapType(StringType, StringType))).as("headers"),
        coalesce(col("source.sequence"), col("ts_ms"), lit(0L)).as("_seq"))
      (if (tasks == 1) routed.coalesce(1) else routed.repartition(tasks, col("key")))
        .sortWithinPartitions(col("key"), col("_seq"))
        .foreachPartition { (rows: Iterator[Row]) =>
          val producer = producerFactory()
          if (exactlyOnce) producer.beginTransaction()
          try {
            rows.foreach { r =>
              producer.send(WireRecord(r.getString(0), r.getString(1),
                r.getAs[Array[Byte]](2), Option(r.getMap[String, String](3))
                  .map(_.toMap).getOrElse(Map.empty)))
            }
            if (exactlyOnce) producer.commitTransaction()
          } catch {
            case e: Throwable =>
              if (exactlyOnce) producer.abortTransaction()
              if (producer.isFenced)
                throw new IllegalStateException(s"producer fenced for sink $id — fatal", e)
              throw e
          }
        }
    }
  }

  object KafkaLikeSink {
    /** Rows one producer task sends before a batch is split by key across
     * more tasks: where one task and the shuffle tie on a 4-core host
     * (PLANS.md "One job and no compile per sink per batch"), and above
     * the reference's default batch of 2000 events, which it sends
     * through one producer. */
    private[streaming] val RowsPerProducer = 8000L

    /** Producer tasks for a batch of `rows` (None: unknown) when the
     * session's default parallelism is `parallelism`. */
    private[streaming] def producerTasks(rows: Option[Long], parallelism: Int): Int = rows match {
      case None => parallelism
      case Some(r) => math.min(parallelism.toLong, (r + RowsPerProducer - 1) / RowsPerProducer).toInt
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
      val payloads = batch.select(
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*)).as("v"))
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
