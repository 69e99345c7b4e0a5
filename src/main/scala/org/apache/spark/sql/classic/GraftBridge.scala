package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/**
 * Bridge exposing Spark's private[sql] Expression ↔ Column conversions to the
 * graft library (needed to wrap custom Catalyst expressions as user-facing
 * Columns in Spark 4's split Column/ColumnNode API), plus the other
 * private[sql] pieces it needs: the micro-batch freeze ([[freeze]]) and
 * the JSON formatters/parsers the fused codecs must match.
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

  /**
   * Materialize `df` ONCE, with ONE Spark job: its rows are computed,
   * stored at MEMORY_AND_DISK, and counted (rows and summed `UnsafeRow`
   * bytes) by the same job. The returned DataFrame is a `LogicalRDD` over
   * the stored rows, so readers never re-plan or re-run `df`'s plan, and
   * `optimizedPlan.stats` of it (or of any plan that keeps its row count)
   * answers `rowCount`/`sizeInBytes` without another job. Public
   * `localCheckpoint(eager = true)` costs the same job but returns no
   * count and no handle to drop the stored rows.
   */
  def freeze(df: DataFrame): FrozenBatch = {
    val ds = castToImpl(df)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("freeze")) {
      val output = qe.executedPlan.output
      val stored = qe.toRdd.mapPartitionsWithIndex { (i, it) =>
        lazy val proj = { val p = UnsafeProjection.create(output, output); p.initialize(i); p }
        it.map {
          case u: UnsafeRow => u.copy()
          case r => proj(r).copy()
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val counts =
        try ds.sparkSession.sparkContext.runJob(stored, (it: Iterator[UnsafeRow]) => {
          var rows = 0L; var bytes = 0L
          it.foreach { r => rows += 1; bytes += r.getSizeInBytes }
          (rows, bytes)
        })
        catch { case e: Throwable => stored.unpersist(blocking = false); throw e }
      val rows = counts.map(_._1).sum
      val bytes = counts.map(_._2).sum
      // read-only, so the UnsafeRow RDD is safely an InternalRow one
      val leaf = LogicalRDD(output, stored.asInstanceOf[RDD[InternalRow]])(ds.sparkSession,
        Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows)))).newInstance()
      new FrozenBatch(Dataset.ofRows(ds.sparkSession, leaf), rows, stored)
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
