package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The canonical CDC change-event envelope.
 *
 * Mirrors the reference engine's Debezium-compatible event
 * (reference: crates/deltaforge-core/src/lib.rs:365-456) re-expressed as a Spark
 * `StructType`. Row payloads (`before`/`after`) stay JSON *strings* in flight —
 * the reference is payload-schemaless — and are projected to typed columns only
 * at sink boundaries (lake/warehouse), exactly like the reference derives Arrow
 * schemas at the S3/ClickHouse edge (crates/sinks/src/s3/encoder.rs:1-19).
 *
 * Keeping payloads as strings also preserves number fidelity (the reference's own
 * JS-processor caveat, crates/processors/src/js.rs:1-33): we never round-trip
 * payload decimals through DoubleType.
 */
object ChangeEvent {

  /** Op codes, reference crates/deltaforge-core/src/lib.rs:96-135. */
  object Op {
    val Create = "c"
    val Update = "u"
    val Delete = "d"
    val Read = "r" // snapshot
    val Truncate = "t"
    val all: Seq[String] = Seq(Create, Update, Delete, Read, Truncate)
  }

  /** Debezium `source` block (reference lib.rs:178-209, positions lib.rs:235-265). */
  val sourceSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("connector", StringType),
    StructField("name", StringType),
    StructField("ts_ms", LongType),
    StructField("db", StringType),
    StructField("schema", StringType), // PG only; "__outbox" sentinel for outbox capture
    StructField("table", StringType),
    StructField("snapshot", BooleanType),
    // flattened connector-specific position (MySQL file/pos/gtid, PG lsn/tx_id)
    StructField("server_id", LongType),
    StructField("gtid", StringType),
    StructField("file", StringType),
    StructField("pos", LongType),
    StructField("lsn", StringType),
    StructField("tx_id", LongType),
    StructField("sequence", LongType)
  ))

  /** Per-event routing override, never on the wire (reference routing.rs:32-57). */
  val routingSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("key", StringType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("raw_payload", BooleanType)
  ))

  val transactionSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("total_order", LongType),
    StructField("data_collection_order", LongType)
  ))

  /** The full envelope schema (reference lib.rs:365-456). */
  val schema: StructType = StructType(Seq(
    StructField("before", StringType), // JSON row image or null
    StructField("after", StringType), // JSON row image or null
    StructField("source", sourceSchema),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("transaction", transactionSchema),
    StructField("event_id", StringType),
    StructField("tenant_id", StringType),
    StructField("schema_version", StringType),
    StructField("schema_sequence", LongType),
    StructField("ddl", StringType),
    StructField("trace_id", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("synthetic", StringType),
    StructField("routing", routingSchema),
    StructField("tx_end", BooleanType)
  ))

  /** Each row of `df` as one JSON object of all its columns, in order: the
   * message body of the Kafka, HTTP, Redis, NATS and JSONL sinks. */
  def json(df: DataFrame): Column = to_json(struct(df.columns.map(col).toIndexedSeq: _*))

  /** Fully-qualified `db.table` identity used by table-pattern filters. */
  def qualifiedTable: Column =
    concat_ws(".", col("source.db"), col("source.table"))

  /**
   * Idempotency key for consumer-side dedup (reference lib.rs:583-606):
   * stable per (source position, table, op). Pure Catalyst — codegen'd.
   */
  def idempotencyKey: Column = sha2(
    concat_ws("|",
      coalesce(col("source.gtid"), lit("")),
      coalesce(col("source.file"), lit("")),
      coalesce(col("source.pos").cast(StringType), lit("")),
      coalesce(col("source.lsn"), lit("")),
      coalesce(col("source.tx_id").cast(StringType), lit("")),
      coalesce(col("source.sequence").cast(StringType), lit("")),
      ChangeEvent.qualifiedTable,
      col("op")),
    256)

  /**
   * Ensure a DataFrame has every envelope column (missing ones null-filled).
   * Partially-populated nested structs (`source`, `routing`, `transaction`)
   * are conformed field-by-field so builders can supply only what they know.
   */
  def conform(df: DataFrame): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.map { f =>
      (present.get(f.name), f.dataType) match {
        case (None, _) => lit(null).cast(f.dataType).as(f.name)
        case (Some(actual: StructType), want: StructType) if actual != want =>
          val sub = actual.fieldNames.toSet
          struct(want.fields.map { sf =>
            if (sub.contains(sf.name)) col(s"${f.name}.${sf.name}").cast(sf.dataType).as(sf.name)
            else lit(null).cast(sf.dataType).as(sf.name)
          }.toIndexedSeq: _*).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
