package graft.streaming

import graft.functions.BatchConstant
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/**
 * Sink contract for the micro-batch coordinator.
 *
 * Reference: `Sink::send_batch` (crates/deltaforge-core/src/lib.rs:796-817).
 * Each sink writes a whole micro-batch (one Spark job), throws on failure,
 * and is replay-idempotent: the coordinator skips batches ≤ the sink's ledger
 * mark, and writers use deterministic per-batch paths / idempotency keys.
 */
trait EventSink extends Serializable {
  def id: String
  /** participates in the `required` commit policy (reference sinks_cfg). */
  def required: Boolean = true
  /** per-sink event filter (reference FilteredSink, crates/sinks/src/filter.rs:16-60). */
  def filter: Option[Column] = None
  def write(batch: DataFrame, batchId: Long): Unit
}

/**
 * Partitioned parquet lake sink (reference S3 sink, crates/sinks/src/s3/ —
 * Hive `table=X/year=Y/month=M/day=D` layout from event time, router.rs:53-75).
 *
 * Rolling parity (reference rolling.rs:17-69 via [[Rolling]]): files roll
 * on WHICHEVER of the byte cap / event cap binds first — the event cap maps
 * directly to `maxRecordsPerFile`, the byte cap through the batch's average
 * in-memory row width, re-derived per batch so wide envelopes produce more,
 * smaller files. Row count and width come from the batch's plan statistics:
 * a batch frozen by [[CdcPipeline]] carries both, so sizing costs no job;
 * only an input whose stats lack a row count (an unfrozen DataFrame, or a
 * sink `filter` over a frozen one) pays a `count()`. The write runs
 * `ceil(rows / recordsPerFile)` tasks (a `coalesce`, which never adds
 * tasks), one per rolled file — the reference's one rolling writer per
 * partition key — so a small batch writes one file per partition directory
 * rather than one per input partition. Age/idle caps are structurally
 * satisfied: Spark's committer closes every file at micro-batch end, so no
 * file outlives its trigger interval, and idle partitions produce no file.
 *
 * Per-batch driver cost: the write is one [[GraftBridge.writeFiles]] job, so
 * a local lake sets the permissions of its directories, data files, `.crc`
 * files and `_SUCCESS` in-process instead of spawning a `chmod` for each,
 * and ships no Hadoop defaults to its task. The projection adding the
 * partition columns is a [[GraftBridge.BatchPlan]]: over a frozen batch it
 * is planned once, and each later batch only swaps its rows in. The
 * `_batch_id` column (parquet `required int64`) is a [[BatchConstant]], not
 * a `lit`: a Long literal is inlined into the generated Java, so each new
 * batch id would be a codegen cache miss and a Janino compile inside the
 * write task; with the constant read from the references array, every
 * batch after the first reuses the compiled projection.
 */
class ParquetLakeSink(val id: String, path: String,
                      rolling: Rolling.Config = Rolling.Config())
    extends EventSink {

  @transient private lazy val plans = new GraftBridge.BatchPlan((batch, batchId) => {
    val ts = timestamp_millis(col("ts_ms"))
    GraftBridge.fileWriteQuery(batch.withColumns(ListMap(
      "table" -> col("source.table"),
      "year" -> year(ts),
      "month" -> month(ts),
      "day" -> dayofmonth(ts),
      "_batch_id" -> BatchConstant.column(batchId))), ParquetLakeSink.PartitionBy)
  })

  override def write(batch: DataFrame, batchId: Long): Unit = {
    val stats = batch.queryExecution.optimizedPlan.stats
    val rows = stats.rowCount.map(_.toLong).getOrElse(batch.count())
    // in-memory width; parquet compresses further, so files come out smaller
    val avgRowBytes = if (rows <= 0) 1.0 else stats.sizeInBytes.toDouble / rows
    val perFile = Rolling.recordsPerFile(rolling, avgRowBytes)
    val tasks = math.max(1L, math.min((rows + perFile - 1) / perFile, Int.MaxValue.toLong))
    GraftBridge.writeFiles(plans(batch, batchId, tasks.toInt), "parquet", path,
      ParquetLakeSink.PartitionBy, Map("maxRecordsPerFile" -> perFile.toString), overwrite = false)
  }
}

object ParquetLakeSink {
  private val PartitionBy = Seq("table", "year", "month", "day")
}

/**
 * Typed flat-parquet lake sink with at-sequence schema correlation
 * (SURVEY §7.4 hard-part 5, reference parquet writer): every event is
 * projected with the schema-ledger version AT ITS OWN `schema_sequence` —
 * never "latest" — so a batch replayed across a schema evolution lands
 * each era's rows under `schema_version=<seq>/` with that era's stable
 * flat parquet schema.
 *
 * Scale shape: the distinct (table, sequence) era list is a bounded
 * driver-side collect (schema changes are rare control events, not
 * data-sized). Single era (the overwhelmingly common batch): one
 * projection over the whole batch, no filter pass. Multi era (a DDL
 * landed mid-batch, or a replay across evolutions): the batch is split
 * into era directories by ONE partitioned write of the raw rows, and each
 * era's projection then reads ONLY its own directory (path-pruned) — the
 * total work is two passes over the batch REGARDLESS of era count,
 * instead of the old one-full-batch-filter-scan PER era (O(eras × batch)).
 * A single projected write is not semantically available: each era's
 * parquet schema is intentionally different (that era's ledger columns),
 * and one DataFrame write cannot emit per-directory schemas — a
 * union-schema write would pollute every era's files with null columns
 * from every other era, breaking the stable-flat-schema contract above.
 *
 * As in [[ParquetLakeSink]], `_batch_id` is a [[BatchConstant]], so the
 * era projection compiles once, not once per batch.
 */
class TypedLakeSink(val id: String, path: String, registry: SchemaRegistry)
    extends EventSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val eras = batch
      .select(col("source.table").as("t"), col("schema_sequence").as("seq"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted

    def writeEra(rows: DataFrame, table: String, seq: Long): Unit = {
      val schema = registry.getAtSequence(table, seq).getOrElse(throw new IllegalStateException(
        s"no ledger schema for table '$table' at sequence $seq"))
      // escape the directory value exactly as Spark's own partitioned writes
      // do, so partition discovery over `path` unescapes back to the table name
      val t = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(table)
      GraftBridge.writeFiles(graft.operators.LakeProjection(rows, schema)
        .withColumn("_batch_id", BatchConstant.column(batchId)),
        "parquet", s"$path/table=$t/schema_version=$seq")
    }

    if (eras.length == 1) {
      val (table, seq) = eras.head
      writeEra(batch, table, seq)
    } else if (eras.nonEmpty) {
      val spark = batch.sparkSession
      // leading underscore: Spark/Hive readers scanning `path` ignore it
      val staging = s"$path/_staging_batch_$batchId"
      val stagingPath = new org.apache.hadoop.fs.Path(staging)
      val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // one pass splits the batch; __t/__seq are COPIES moved into the
      // directory structure — the original source.table/schema_sequence
      // data columns survive the round-trip untouched
      GraftBridge.writeFiles(batch
        .withColumn("__t", col("source.table"))
        .withColumn("__seq", col("schema_sequence")),
        "parquet", staging, partitionBy = Seq("__t", "__seq"), overwrite = true)
      try {
        // Read back via partition-column FILTERS, not interpolated paths:
        // Spark escapes special characters (`=`, `%`, space) in partition
        // directory names on write (escapePathName) and spells nulls as
        // __HIVE_DEFAULT_PARTITION__, so a hand-built "$staging/__t=$table"
        // path can miss its directory. Filters on partition columns are
        // partition-pruned to the same single-directory read.
        val staged = spark.read.parquet(staging)
        eras.foreach { case (table, seq) =>
          val era = staged
            .filter(col("__t") <=> lit(table) && col("__seq") <=> lit(seq))
            .drop("__t", "__seq")
          writeEra(era, table, seq)
        }
      } finally fs.delete(stagingPath, true)
    }
  }
}

/** JSONL lake sink (reference jsonl_writer.rs): one JSON document per line.
 * Its projection is a [[GraftBridge.BatchPlan]], planned once over frozen batches. */
class JsonlSink(val id: String, path: String, envelope: DataFrame => Column)
    extends EventSink {
  @transient private lazy val plans =
    new GraftBridge.BatchPlan((batch, _) => batch.select(envelope(batch).as("value")))

  override def write(batch: DataFrame, batchId: Long): Unit =
    GraftBridge.writeFiles(plans(batch, batchId), "text", s"$path/batch_id=$batchId",
      Nil, Map.empty, overwrite = false)
}

/**
 * Test/inspection sink collecting to a driver-side buffer; `failTimes` makes
 * the first N write attempts throw (for commit-policy / replay tests).
 */
class MemorySink(val id: String, override val required: Boolean = true,
                 override val filter: Option[Column] = None,
                 failTimes: Int = 0) extends EventSink {
  val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]() // batchId -> rows
  private val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  override def write(batch: DataFrame, batchId: Long): Unit = {
    if (attempts.incrementAndGet() <= failTimes)
      throw new RuntimeException(s"sink $id: injected failure")
    batches.put(batchId, batch.count())
  }
  def totalRows: Long = { var s = 0L; batches.values.forEach(v => s += v); s }
}
