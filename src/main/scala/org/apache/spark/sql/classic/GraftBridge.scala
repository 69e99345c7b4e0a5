package org.apache.spark.sql.classic

import graft.core.NioLocalFs
import graft.functions.BatchConstant
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, DataSource, FileFormat,
  FileFormatWriter, PartitioningUtils, V1WritesUtils, WriteFilesExec}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.{KnownSizeEstimation, SerializableConfiguration}

import java.util.UUID

/**
 * Bridge exposing Spark's private[sql] Expression ↔ Column conversions to the
 * graft library (needed to wrap custom Catalyst expressions as user-facing
 * Columns in Spark 4's split Column/ColumnNode API), plus the other
 * private[sql] pieces it needs: the micro-batch freeze ([[freeze]]), the
 * processor chain and each sink's projection planned once per query
 * ([[BatchPlan]]), the one file
 * write of the library ([[writeFiles]]) and the JSON formatters/parsers
 * the fused codecs must match.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /**
   * EAGER Column → Expression conversion. `expression` returns a lazy
   * `ColumnNodeExpression` placeholder whose `resolved` is TRUE and whose
   * `dataType` is `NullType` until the analyzer swaps it out — any caller
   * that pattern-matches the tree or gates on `resolved && dataType` sees
   * a lie (a type gate reading it would see NullType and classify every
   * unresolved struct as unsupported). This converts the ColumnNode
   * immediately, yielding the real (possibly unresolved) Catalyst tree,
   * e.g. `UnresolvedFunction(struct, ...)` for `functions.struct(...)`.
   */
  def eagerExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** A batch materialized by [[freeze]]: `df` is a leaf over the stored
   * rows whose plan statistics carry its row count and byte size;
   * `release` drops the stored rows. */
  final class FrozenBatch(val df: DataFrame, val rows: Long, stored: RDD[_]) {
    def release(): Unit = stored.unpersist(blocking = false)
  }

  /** [[freeze]] of `df`'s query as it is planned now. */
  def freeze(df: DataFrame): FrozenBatch = freeze(planned(df))

  /**
   * Materialize `query` ONCE, with ONE Spark job: its rows are computed,
   * copied into one [[FrozenRows]] block per partition, stored at
   * MEMORY_AND_DISK, and counted (rows and summed `UnsafeRow` bytes) by the
   * same job. The returned DataFrame is a `LogicalRDD` over the stored
   * rows, so readers never re-plan or re-run `query`, and
   * `optimizedPlan.stats` of it (or of any plan that keeps its row count)
   * answers `rowCount`/`sizeInBytes` without another job. Public
   * `localCheckpoint(eager = true)` costs the same job but returns no
   * count and no handle to drop the stored rows.
   *
   * Per-batch driver cost: a block reports its own size, so the
   * `MemoryStore` does not walk every stored row by reflection, and the
   * job's functions are an `*Internal` RDD operation and a named function
   * class, so Spark's `ClosureCleaner` reads no class file per batch.
   */
  def freeze(query: QueryExecution): FrozenBatch = {
    val session = query.sparkSession
    SQLExecution.withNewExecutionId(query, Some("freeze")) {
      val output = query.executedPlan.output
      val stored = query.toRdd.mapPartitionsWithIndexInternal { (i, it) =>
        lazy val proj = { val p = UnsafeProjection.create(output, output); p.initialize(i); p }
        Iterator.single(new FrozenRows(it.map {
          case u: UnsafeRow => u.copy()
          case r => proj(r).copy()
        }.toArray))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      var (rows, bytes) = (0L, 0L)
      try session.sparkContext.runJob(stored, CountRows, 0 until stored.getNumPartitions,
        (_: Int, c: (Long, Long)) => { rows += c._1; bytes += c._2 })
      catch { case e: Throwable => stored.unpersist(blocking = false); throw e }
      val leaf = LogicalRDD(output, stored.mapPartitionsInternal(_.flatMap(_.rows.iterator)))(session,
        Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows)))).newInstance()
      new FrozenBatch(Dataset.ofRows(session, leaf), rows, stored)
    }
  }

  /**
   * One partition of a frozen batch: its copied rows, stored as one block.
   * `estimatedSize` is what the `MemoryStore` accounts for the block; it
   * counts every row's bytes plus, per row, an `UnsafeRow` object (at most
   * 48 bytes), its byte array's header (16) and the array slot (8), so it
   * never under-reports the heap the block holds.
   */
  final class FrozenRows(val rows: Array[UnsafeRow]) extends KnownSizeEstimation with Serializable {
    val bytes: Long = rows.foldLeft(0L)(_ + _.getSizeInBytes)
    override def estimatedSize: Long = 32L + rows.length * 72L + bytes
  }

  /** The job function of [[freeze]]: the rows and bytes of a task's block. */
  private object CountRows extends ((TaskContext, Iterator[FrozenRows]) => (Long, Long)) with Serializable {
    override def apply(c: TaskContext, it: Iterator[FrozenRows]): (Long, Long) =
      it.foldLeft((0L, 0L))((n, b) => (n._1 + b.rows.length, n._2 + b.bytes))
  }

  /**
   * One step of a micro-batch, `build(input, batchId)`, ready to run: the
   * processor chain that [[freeze]] materializes, and each sink's
   * projection of the frozen batch.
   *
   * When the input is a bare, unordered, non-streaming `LogicalRDD` leaf
   * (the leaf `foreachBatch` hands over, or the frozen leaf of [[freeze]]),
   * `build` is planned once per input schema and session, over a stand-in
   * leaf. Each batch, the first included, swaps its rows (coalesced to
   * `partitions` tasks) into that physical plan and rebinds every
   * [[BatchConstant]] to its batch id, so a steady batch does no analysis,
   * optimization or physical planning, and `build` runs once per schema,
   * not once per batch. Any other input is planned on the call, as
   * `build(input.coalesce(partitions), batchId)`.
   *
   * A plan is only reused where reuse cannot change a result: it holds no
   * exchange, subquery or adaptive node, no nondeterministic expression
   * and no current-time expression (the optimizer folds those into
   * literals), and `build` ran no job over its input (a processor that
   * collects from its batch, say, must see every batch). Other plans are
   * planned every batch; for such a `build` the stand-in's empty run comes
   * first, once per schema.
   */
  final class BatchPlan(build: (DataFrame, Long) => DataFrame) {
    /** The plan for one input schema and session: `Some((stand-in rows, query))`, or None
     * if not reusable. */
    @volatile private var cached: (StructType, SparkSession, Option[(RDD[InternalRow], QueryExecution)]) = _

    /** The query to run for `input`; `partitions` 0 keeps the input's partitioning. */
    def apply(input: DataFrame, batchId: Long, partitions: Int = 0): QueryExecution = {
      val ds = castToImpl(input)
      ds.logicalPlan match {
        case leaf: LogicalRDD if !leaf.isStreaming && leaf.outputOrdering.isEmpty &&
            leaf.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
          val c = cached
          val reuse = c != null && c._1 == leaf.schema && (c._2 eq ds.sparkSession)
          (if (reuse) c else plan(ds.sparkSession, leaf, batchId))._3 match {
            case Some((stand, query)) =>
              val rows = if (partitions > 0) leaf.rdd.coalesce(partitions) else leaf.rdd
              new PlannedExecution(query, query.executedPlan.transformUp {
                case s: RDDScanExec if s.rdd eq stand => s.copy(rdd = rows)
              }.transformAllExpressions { case _: BatchConstant => BatchConstant(batchId) })
            case None => planNow(input, batchId, partitions)
          }
        case _ => planNow(input, batchId, partitions)
      }
    }

    private def planNow(input: DataFrame, batchId: Long, partitions: Int): QueryExecution =
      planned(build(if (partitions > 0) input.coalesce(partitions) else input, batchId))

    /** Plans `build` over a stand-in for `leaf` that holds no rows, and caches the result. */
    private def plan(session: SparkSession, leaf: LogicalRDD, batchId: Long)
        : (StructType, SparkSession, Option[(RDD[InternalRow], QueryExecution)]) = {
      val stand = new StandInRows(session.sparkContext)
      val standIn = LogicalRDD(leaf.output, stand)(session, Some(leaf.stats))
      val query = planned(build(Dataset.ofRows(session, standIn), batchId))
      val p = query.executedPlan
      val reusable = !stand.used && !query.analyzed.containsPattern(CURRENT_LIKE) &&
        p.collect { case s: RDDScanExec if s.rdd eq stand => s }.size == 1 &&
        !p.exists(n => n.isInstanceOf[Exchange] || n.isInstanceOf[AdaptiveSparkPlanExec] ||
          n.subqueries.nonEmpty || n.expressions.exists(!_.deterministic))
      cached = (leaf.schema, session, if (reusable) Some((stand, query)) else None)
      cached
    }
  }

  /** The rows of a [[BatchPlan]] stand-in leaf: none. `used` is set when a job reads them. */
  private final class StandInRows(sc: SparkContext) extends RDD[InternalRow](sc, Nil) {
    @volatile var used = false
    override protected def getPartitions: Array[Partition] = { used = true; Array.empty }
    override def compute(p: Partition, c: TaskContext): Iterator[InternalRow] = Iterator.empty
  }

  /** `query` with its physical plan replaced by `plan`, which runs the same query over other rows. */
  private final class PlannedExecution(query: QueryExecution, plan: SparkPlan)
      extends QueryExecution(query.sparkSession, query.logical) {
    override def executedPlan: SparkPlan = plan
  }

  /** `df`'s query as it is planned now. */
  def planned(df: DataFrame): QueryExecution = castToImpl(df).queryExecution

  /**
   * Runs `f` on every partition of `query`'s rows, as one job of one SQL
   * execution (a `Dataset.foreachPartition` without the conversion of each
   * row to a `Row`). `f` goes to the job inside a named function class, so
   * Spark's `ClosureCleaner` reads no class file for it.
   */
  def foreachPartition(query: QueryExecution)(f: Iterator[InternalRow] => Unit): Unit =
    SQLExecution.withNewExecutionId(query, Some("foreachPartition")) {
      val rows = query.executedPlan.execute()
      query.sparkSession.sparkContext.runJob(rows, new EachPartition(f), 0 until rows.getNumPartitions,
        (_: Int, _: Unit) => ())
    }

  private final class EachPartition(f: Iterator[InternalRow] => Unit)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    override def apply(c: TaskContext, it: Iterator[InternalRow]): Unit = f(it)
  }

  /**
   * `df` prepared as the query of a file write partitioned by `partitionBy`,
   * the way Spark's planned writes (`V1Writes`) prepare it: an empty string
   * in a nullable string partition column is written as null, and each task
   * sorts its rows by the partition columns, so it writes one file at a
   * time. Without partition columns `df` is returned as it is.
   */
  def fileWriteQuery(df: DataFrame, partitionBy: Seq[String]): DataFrame =
    if (partitionBy.isEmpty) df
    else {
      val ds = castToImpl(df)
      val conf = ds.sparkSession.sessionState.conf
      PartitioningUtils.validatePartitionColumn(ds.schema, partitionBy, conf.caseSensitiveAnalysis)
      val query = ds.queryExecution.analyzed
      def find(plan: LogicalPlan, name: String) = plan.output.find(a => conf.resolver(a.name, name)).get
      val projectList = V1WritesUtils.convertEmptyToNull(query.output, partitionBy.map(find(query, _)))
      val empty2Null = if (projectList.isEmpty) query else Project(projectList, query)
      Dataset.ofRows(ds.sparkSession, Sort(
        partitionBy.map(n => SortOrder(find(empty2Null, n), Ascending)), global = false, empty2Null))
    }

  /**
   * The Hadoop configuration a file write to the qualified path `output`
   * ships to its tasks. `full` is the session's configuration with the
   * write's options. Hadoop's bundled `core-`, `mapred-` and
   * `yarn-default.xml` add about 1,070 entries (113 KB) to it, and the
   * configuration is serialized twice per write (in the job description
   * and in the stats tracker). For a `file:` output only the entries that
   * came from elsewhere (the session's SQL confs, `spark.hadoop.*`,
   * `core-site.xml`, the write's options) are kept: a reader of a dropped
   * key gets its code default instead, and `NioLocalFsSpec` checks that a
   * local lake write still lays out the stock files, modes and parquet
   * footers. Any other scheme gets `full`.
   */
  def writeConfiguration(full: Configuration, output: Path): Configuration =
    if (output.toUri.getScheme != "file") full
    else {
      val kept = new Configuration(false)
      full.iterator().forEachRemaining { e =>
        val sources = full.getPropertySources(e.getKey)
        if (sources == null || !sources.forall(_.endsWith("-default.xml"))) kept.set(e.getKey, e.getValue)
      }
      kept
    }

  /** [[writeFiles]] of `df`, prepared by [[fileWriteQuery]] and planned now. */
  def writeFiles(df: DataFrame, format: String, path: String, partitionBy: Seq[String] = Nil,
                 options: Map[String, String] = Map.empty, overwrite: Boolean = false): Unit =
    writeFiles(planned(fileWriteQuery(df, partitionBy)), format, path, partitionBy, options, overwrite)

  /**
   * Writes `query`'s rows as files of the data source `format` under `path`
   * with ONE Spark job: what `DataFrameWriter.save` runs, without planning
   * a write command. `query` must be sorted within its partitions by the
   * partition columns ([[fileWriteQuery]] prepares it). As the stock
   * command does, the write uses the session's commit protocol
   * (`_SUCCESS`, `.crc` files), honours `maxRecordsPerFile`, escapes
   * partition directory names, reports Spark's SQL write metrics, rejects
   * duplicate column names and refreshes cached data read from `path`;
   * `overwrite` deletes the output first, and any other write appends.
   *
   * The write goes through [[NioLocalFs]], so a local output sets its
   * permissions in-process, and ships only [[writeConfiguration]].
   */
  def writeFiles(query: QueryExecution, format: String, path: String, partitionBy: Seq[String],
                 options: Map[String, String], overwrite: Boolean): Unit = {
    val session = query.sparkSession
    val conf = session.sessionState.conf
    val opts = options ++ NioLocalFs.options
    val fileFormat = DataSource.lookupDataSource(format, conf).getConstructor().newInstance() match {
      case f: FileFormat => f
      case v2: FileDataSourceV2 => v2.fallbackFileFormat.getConstructor().newInstance()
      case _ => throw new IllegalArgumentException(s"$format is not a file format")
    }
    SQLExecution.withNewExecutionId(query, Some(s"write $format")) {
      val plan = query.executedPlan
      SchemaUtils.checkColumnNameDuplication(plan.output.map(_.name), conf.caseSensitiveAnalysis)
      val partitionColumns = partitionBy.map(n => plan.output.find(a => conf.resolver(a.name, n))
        .getOrElse(throw new IllegalArgumentException(s"partition column $n is not in ${plan.output}")))
      val full = session.sessionState.newHadoopConfWithOptions(opts)
      val fs = new Path(path).getFileSystem(full)
      val output = fs.makeQualified(new Path(path))
      val hadoopConf = writeConfiguration(full, output)
      val committer = FileCommitProtocol.instantiate(conf.fileCommitProtocolClass,
        jobId = UUID.randomUUID().toString, outputPath = output.toString)
      if (overwrite && fs.exists(output) && !committer.deleteWithJob(fs, output, true))
        throw new java.io.IOException(s"Unable to clear output directory $output prior to writing to it")
      FileFormatWriter.write(session,
        WriteFilesExec(plan, fileFormat, partitionColumns, None, opts, Map.empty),
        fileFormat, committer, FileFormatWriter.OutputSpec(output.toString, Map.empty, plan.output),
        hadoopConf, partitionColumns, None,
        Seq(new BasicWriteJobStatsTracker(new SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics)), opts)
      session.sharedState.cacheManager.recacheByPath(session, output, fs)
    }
  }

  /**
   * The EXACT timestamp/date formatters `to_json` (JacksonGenerator) uses
   * for write, so the fused JSON encoder's temporal leaves are
   * byte-identical to the builtin by construction: (timestampWriter(µs),
   * timestampNtzWriter(µs), dateWriter(days)). Built from a default
   * JSONOptions at `timeZoneId` — the same construction path
   * JacksonGenerator takes (catalyst/json/JacksonGenerator.scala).
   */
  def jsonTemporalWriters(timeZoneId: String)
      : (Long => String, Long => String, Int => String) = {
    import org.apache.spark.sql.catalyst.json.JSONOptions
    import org.apache.spark.sql.catalyst.util.{DateFormatter, TimestampFormatter}
    import org.apache.spark.sql.catalyst.util.LegacyDateFormats.FAST_DATE_FORMAT
    val opts = new JSONOptions(Map.empty[String, String], timeZoneId, "")
    val ts = TimestampFormatter(opts.timestampFormatInWrite, opts.zoneId,
      opts.locale, legacyFormat = FAST_DATE_FORMAT, isParsing = false)
    val ntz = TimestampFormatter(opts.timestampNTZFormatInWrite, opts.zoneId,
      legacyFormat = FAST_DATE_FORMAT, isParsing = false, forTimestampNTZ = true)
    val date = DateFormatter(opts.dateFormatInWrite)
    (ts.format(_: Long), ntz.format(_: Long), date.format(_: Int))
  }

  /**
   * The EXACT timestamp-string parse `from_json` (JacksonParser) applies to
   * a string token in a TimestampType field: the default-JSONOptions
   * TimestampFormatter, with the 2.x-compat fallback through
   * `cleanLegacyTimestampStr` + `stringToTimestamp` — so the fused decoder's
   * timestamp leaves are parse-identical to the builtin by construction.
   * Throws on unparseable input (the caller maps that to a null FIELD,
   * PERMISSIVE partial-results semantics).
   */
  def jsonTimestampParser(timeZoneId: String): String => Long = {
    import org.apache.spark.sql.catalyst.json.JSONOptions
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TimestampFormatter}
    import org.apache.spark.sql.catalyst.util.LegacyDateFormats.FAST_DATE_FORMAT
    val opts = new JSONOptions(Map.empty[String, String], timeZoneId, "")
    val fmt = TimestampFormatter(opts.timestampFormatInRead, opts.zoneId,
      opts.locale, legacyFormat = FAST_DATE_FORMAT, isParsing = true)
    (s: String) =>
      try fmt.parse(s)
      catch {
        case e if scala.util.control.NonFatal(e) =>
          val str = DateTimeUtils.cleanLegacyTimestampStr(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
          DateTimeUtils.stringToTimestamp(str, opts.zoneId).getOrElse(throw e)
      }
  }

  /**
   * The EXACT date-string parse `from_json` (JacksonParser) applies to a
   * string token in a DateType field (dates are zone-less): the
   * default-JSONOptions DateFormatter, then the 2.x-compat fallback through
   * `cleanLegacyTimestampStr` + `stringToDate`, then the 1.5-compat
   * days-as-string fallback with the Julian→Gregorian rebase — verified
   * against the 4.1.2 bytecode (JacksonParser makeConverter, DateType arm).
   * Throws on unparseable input (caller maps to a null FIELD).
   */
  def jsonDateParser(): String => Int = {
    import org.apache.spark.sql.catalyst.json.JSONOptions
    import org.apache.spark.sql.catalyst.util.{DateFormatter, DateTimeUtils, RebaseDateTime}
    import org.apache.spark.sql.catalyst.util.LegacyDateFormats.FAST_DATE_FORMAT
    val opts = new JSONOptions(Map.empty[String, String], "UTC", "")
    val fmt = DateFormatter(opts.dateFormatInRead, opts.locale,
      legacyFormat = FAST_DATE_FORMAT, isParsing = true)
    (s: String) =>
      try fmt.parse(s)
      catch {
        case e if scala.util.control.NonFatal(e) =>
          val str = DateTimeUtils.cleanLegacyTimestampStr(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
          DateTimeUtils.stringToDate(str).getOrElse {
            try RebaseDateTime.rebaseJulianToGregorianDays(s.toInt)
            catch { case _: NumberFormatException => throw e }
          }
      }
  }
}
