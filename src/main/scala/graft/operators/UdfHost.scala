package graft.operators

import graft.core.ChangeEvent
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/**
 * User-transform host — the reference's JavaScript processor slot
 * (crates/processors/src/js.rs:74-130: user code may mutate, drop, or fan out
 * events; 5 s per-batch timeout js.rs:462-466; routing preamble :61-70).
 *
 * Spark-first: instead of a V8 worker thread with JSON serialization both
 * ways, the user supplies a Scala transform over typed [[UserEvent]] views;
 * it runs inside `mapPartitions` (executor-side, parallel, no driver hop).
 * The per-partition timeout guard reproduces the reference's runaway-script
 * protection. `synthetic` marking (reference SyntheticMarkingProcessor,
 * processors/src/synthetic.rs:28-65) is declarative: fan-out events the
 * transform creates without an id inherit `synthetic = processorId`.
 *
 * The full envelope row rides THROUGH the transform as a pass-through
 * struct (`_env`), matched back to each output event by id within the same
 * chunk — a narrow map, NO shuffle join to rebuild columns the user view
 * doesn't carry. (Fan-out events that reuse an id therefore inherit the
 * envelope of that id's event in the same chunk — which is where it always
 * is, since the transform only ever sees ids from its own chunk.)
 */
object UdfHost {

  /** Mutable-friendly user view of an event (the JS object analog). */
  case class UserEvent(
      before: String,
      after: String,
      op: String,
      tsMs: Long,
      eventId: String,
      table: String,
      db: String,
      // routing preamble: ev.route({topic,key}) analog
      topic: String = null,
      key: String = null,
      synthetic: String = null)

  /**
   * User transform contract — STATELESS PER CHUNK: the iterator yields one
   * chunk's events (≤ `chunkSize`), and every emitted `eventId` must refer
   * to an event of the SAME chunk (or be null ⇒ synthetic/fabricated).
   * Envelope rebinding is chunk-local; a transform that buffers events and
   * re-emits an id from an earlier chunk or another partition gets no
   * envelope back (a warning is logged and the event is treated as
   * synthetic). Duplicate event_ids within a chunk resolve to the LAST
   * occurrence.
   */
  type Transform = Iterator[UserEvent] => Iterator[UserEvent]

  /**
   * Apply a user transform to the envelope DataFrame. Chunked timeout: each
   * `chunkSize` events must complete within `timeoutMs` (the reference
   * enforces 5 s per batch).
   */
  def apply(processorId: String, transform: Transform,
            timeoutMs: Long = 5000, chunkSize: Int = 2000)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, struct, when}
    val userTransform = transform
    val conformed = ChangeEvent.conform(df)
    val envSchema = conformed.schema
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_env", envSchema),
      org.apache.spark.sql.types.StructField("_u_before", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_after", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_op", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_ts_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_u_event_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_topic", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_u_synth", org.apache.spark.sql.types.StringType)))

    val iBefore = envSchema.fieldIndex("before")
    val iAfter = envSchema.fieldIndex("after")
    val iSource = envSchema.fieldIndex("source")
    val iOp = envSchema.fieldIndex("op")
    val iTs = envSchema.fieldIndex("ts_ms")
    val iEventId = envSchema.fieldIndex("event_id")
    val iDb = ChangeEvent.sourceSchema.fieldIndex("db")
    val iTable = ChangeEvent.sourceSchema.fieldIndex("table")

    val out = conformed.mapPartitions { rows =>
      def view(r: Row): UserEvent = {
        val src = if (r.isNullAt(iSource)) null else r.getStruct(iSource)
        UserEvent(
          before = r.getString(iBefore), after = r.getString(iAfter),
          op = r.getString(iOp),
          tsMs = if (r.isNullAt(iTs)) 0L else r.getLong(iTs),
          eventId = r.getString(iEventId),
          table = if (src == null || src.isNullAt(iTable)) null else src.getString(iTable),
          db = if (src == null || src.isNullAt(iDb)) null else src.getString(iDb))
      }
      // one shutdown path: the task's end, whether it drained, stopped early or threw
      val pool = Executors.newSingleThreadExecutor()
      TaskContext.get().addTaskCompletionListener[Unit](_ => pool.shutdownNow())
      rows.grouped(chunkSize).flatMap { chunk =>
        val byId = new java.util.HashMap[String, Row]()
        val views = chunk.map { r =>
          val u = view(r)
          if (u.eventId != null) byId.put(u.eventId, r)
          u
        }
        val fut = pool.submit(new java.util.concurrent.Callable[Seq[UserEvent]] {
          def call(): Seq[UserEvent] = userTransform(views.iterator).toSeq
        })
        val produced =
          try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
          catch {
            case _: TimeoutException =>
              fut.cancel(true)
              throw new RuntimeException(
                s"udf processor $processorId exceeded ${timeoutMs}ms for a $chunkSize-event chunk")
          }
        produced.map { u =>
          val env = if (u.eventId == null) null else byId.get(u.eventId)
          if (u.eventId != null && env == null)
            System.err.println(s"[udf:$processorId] WARN produced eventId " +
              s"'${u.eventId}' not in its chunk — stateless-per-chunk contract " +
              "violated; treating as synthetic")
          Row(env, u.before, u.after, u.op, u.tsMs, u.eventId, u.topic, u.key, u.synthetic)
        }
      }
    }(Encoders.row(outSchema))

    // rebuild the envelope declaratively from the pass-through struct —
    // user-editable fields from the transform output, everything else from
    // `_env`; fabricated events (no matching envelope) are synthetic
    val passThrough = envSchema.fieldNames
      .filterNot(Set("before", "after", "op", "ts_ms", "event_id", "synthetic", "routing"))
      .map(n => col(s"_env.$n").as(n))
    ChangeEvent.conform(out.select(
      (Seq(
        col("_u_before").as("before"),
        col("_u_after").as("after"),
        col("_u_op").as("op"),
        col("_u_ts_ms").as("ts_ms"),
        col("_u_event_id").as("event_id"),
        when(col("_env").isNull, lit(processorId))
          .otherwise(coalesce(col("_u_synth"), col("_env.synthetic"))).as("synthetic"),
        when(col("_u_topic").isNotNull || col("_u_key").isNotNull,
          struct(col("_u_topic").as("topic"), col("_u_key").as("key"),
            lit(null).cast("map<string,string>").as("headers"),
            lit(false).as("raw_payload")))
          .otherwise(col("_env.routing")).as("routing")) ++ passThrough): _*))
  }
}
