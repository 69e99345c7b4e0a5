package graft.streaming

import graft.core.NioLocalFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Source-owned schema ledger: versioned declared schemas with SHA-256
 * fingerprints, monotonic sequence numbers, and timestamp correlation.
 *
 * Reference: crates/schema-registry/src/lib.rs:14-110 (register,
 * `get_at_sequence` :63-80, `get_at_timestamp` :92+), fingerprint
 * source_schema.rs:45-49.
 *
 * Backed by an append-only parquet table — the Spark-native replacement for
 * the reference's SQLite/Postgres store. Events carry `schema_sequence`; the
 * lake writer must project with the ledger schema AT that sequence, not the
 * latest (the reference's replay-correctness invariant, SURVEY §7.4 risk 5).
 */
class SchemaRegistry(spark: SparkSession, path: String) {

  private val ledgerSchema = "table string, fingerprint string, sequence long, " +
    "registered_at_ms long, schema_json string"

  def ledger(): DataFrame =
    try spark.read.schema(ledgerSchema).parquet(path)
    catch { case _: Throwable => spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL(ledgerSchema)) }

  /** Register a new schema version if its fingerprint differs from the latest. */
  def register(table: String, schema: StructType, atMs: Long): Long = {
    val fp = SchemaSensing.schemaFingerprint(schema)
    latest(table) match {
      case Some((seq, existingFp)) if existingFp == fp => seq // unchanged
      case prev =>
        val seq = prev.map(_._1 + 1).getOrElse(0L)
        import spark.implicits._
        Seq((table, fp, seq, atMs, schema.json))
          .toDF("table", "fingerprint", "sequence", "registered_at_ms", "schema_json")
          .write.options(NioLocalFs.options).mode("append").parquet(path)
        seq
    }
  }

  def latest(table: String): Option[(Long, String)] =
    ledger().filter(col("table") === table)
      .orderBy(col("sequence").desc).limit(1)
      .collect().headOption.map(r => (r.getAs[Long]("sequence"), r.getAs[String]("fingerprint")))

  /** Latest registered schema structure for a table (reconciler input). */
  def latestSchema(table: String): Option[StructType] =
    ledger().filter(col("table") === table)
      .orderBy(col("sequence").desc).limit(1)
      .collect().headOption.map(r => DataType_fromJson(r.getAs[String]("schema_json")))

  /** Schema in force AT a sequence (greatest registered sequence ≤ target). */
  def getAtSequence(table: String, sequence: Long): Option[StructType] =
    ledger().filter(col("table") === table && col("sequence") <= sequence)
      .orderBy(col("sequence").desc).limit(1)
      .collect().headOption.map(r =>
        DataType_fromJson(r.getAs[String]("schema_json")))

  /** Schema in force AT a timestamp (reference get_at_timestamp). */
  def getAtTimestamp(table: String, tsMs: Long): Option[StructType] =
    ledger().filter(col("table") === table && col("registered_at_ms") <= tsMs)
      .orderBy(col("registered_at_ms").desc, col("sequence").desc).limit(1)
      .collect().headOption.map(r =>
        DataType_fromJson(r.getAs[String]("schema_json")))

  private def DataType_fromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
}
