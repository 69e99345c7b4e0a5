package graft.sources

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.node.MissingNode
import graft.core.Json.mapper
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/**
 * CDC backlog replay source — a Data Source V2 `MicroBatchStream`.
 *
 * Models the reference's binlog-tailing source (crates/sources/src/mysql/
 * mod.rs:63-114) against the filesystem: a directory of append-only JSONL
 * segment files stands in for binlog segments. Offsets are
 * `(segmentIndex, line)` — the (file, pos) shape of a MySQL binlog position
 * (SourcePosition, deltaforge-core/src/lib.rs:235-265). Structured Streaming
 * persists them in its offset log, giving resume-exactly-at-position, and
 * `maxLinesPerTrigger` bounds micro-batch size like `maxOffsetsPerTrigger`.
 *
 * Output schema: `(segment string, pos long, value string)` — `value` is the
 * raw event JSON; downstream parses with `from_json` + the ChangeEvent
 * schema. One input partition per segment slice → reads scale out with
 * segment count on a real cluster.
 *
 * Usage:
 * {{{
 *   spark.readStream.format(classOf[BacklogSource].getName)
 *     .option("path", dir).option("maxLinesPerTrigger", "10000").load()
 * }}}
 */
class BacklogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BacklogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new BacklogTable(opts.get("path"),
      Option(opts.get("maxLinesPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue))
  }
}

object BacklogSource {
  val schema: StructType = StructType(Seq(
    StructField("segment", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** Sorted segment files in a backlog dir (segment order = replay order). */
  def segments(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else Files.list(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      // .jsonl: one JSON event per line; .segb64: one base64 wire segment
      // per line (MysqlBinlog/PgOutput bytes through the same offsets)
      n.endsWith(".jsonl") || n.endsWith(".segb64")
    }.toSeq.sortBy(_.getFileName.toString)
  }

  /**
   * `(segmentIndex, line)` plus the segment's FILE NAME — the identity that
   * makes purge detectable. A MySQL binlog position names its file
   * (`binlog.000042:1337`); an index alone cannot tell "resumed where I
   * left off" from "the backlog was purged and a different segment now sits
   * at my index" (chaos scenario binlog_purge.rs: the guard must halt, not
   * silently skip). `name` is empty on pre-upgrade checkpoints and synthetic
   * offsets — identity is then unverifiable and the old index check applies.
   */
  case class BacklogOffset(segment: Int, line: Long, name: String = "") extends Offset {
    override def json(): String = {
      val o = mapper.createObjectNode().put("segment", segment).put("line", line)
      mapper.writeValueAsString(if (name.isEmpty) o else o.put("name", name))
    }
  }

  /** Reads what [[BacklogOffset.json]] writes, bare or named, and the
   * offsets already in older checkpoints, which escape every control
   * character in a name in the six-character form. */
  def parseOffset(json: String): BacklogOffset = {
    val n = try mapper.readTree(json) catch { case _: JacksonException => MissingNode.getInstance }
    val (segment, line, name) = (n.path("segment"), n.path("line"), n.path("name"))
    require(segment.isInt && (line.isInt || line.isLong) && (name.isMissingNode || name.isTextual),
      s"bad backlog offset: $json")
    BacklogOffset(segment.intValue, line.longValue, name.asText(""))
  }
}

private class BacklogTable(path: String, maxLinesPerTrigger: Long)
    extends Table with SupportsRead {
  override def name(): String = s"backlog($path)"
  override def schema(): StructType = BacklogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = BacklogSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new BacklogMicroBatchStream(path, maxLinesPerTrigger)
    }
}

private class BacklogMicroBatchStream(path: String, maxLinesPerTrigger: Long)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import BacklogSource._

  private def lineCount(p: Path): Long =
    Files.lines(p).count()

  override def initialOffset(): Offset = BacklogOffset(0, 0)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit =
    if (maxLinesPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxLinesPerTrigger)

  private def segName(segs: Seq[Path], idx: Int): String =
    if (idx >= 0 && idx < segs.length) segs(idx).getFileName.toString else ""

  // Trigger.AvailableNow: snapshot the end position once; batches drain to it
  @volatile private var availableNowEnd: BacklogOffset = _
  override def prepareForTriggerAvailableNow(): Unit = {
    val segs = segments(path)
    availableNowEnd =
      if (segs.isEmpty) BacklogOffset(0, 0)
      else BacklogOffset(segs.length - 1, lineCount(segs.last), segName(segs, segs.length - 1))
  }

  /** Admission control: advance at most `limit` lines past `start`. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val segs = segments(path)
    if (segs.isEmpty) return BacklogOffset(0, 0)
    val live = BacklogOffset(segs.length - 1, lineCount(segs.last), segName(segs, segs.length - 1))
    val full = Option(availableNowEnd).getOrElse(live)
    val cap = limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => rl.maxRows()
      case _ => Long.MaxValue
    }
    if (cap == Long.MaxValue) return full
    val s = start.asInstanceOf[BacklogOffset]
    var seg = s.segment; var line = s.line; var budget = cap
    while (budget > 0 && (seg < full.segment || (seg == full.segment && line < full.line))) {
      val upper = if (seg == full.segment) full.line else lineCount(segs(seg))
      val take = math.min(upper - line, budget)
      line += take; budget -= take
      if (line >= upper && seg < full.segment) { seg += 1; line = 0 }
    }
    BacklogOffset(seg, line, segName(segs, seg))
  }

  override def deserializeOffset(json: String): Offset = parseOffset(json)
  override def commit(end: Offset): Unit = () // source is immutable; nothing to prune

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BacklogOffset]
    val e = end.asInstanceOf[BacklogOffset]
    val segs = segments(path)
    // F12 purge guard (reference snapshot health guard, binlog_purge.rs):
    // the checkpointed position names its segment; if that identity no
    // longer holds — the file is gone, or a different file has shifted
    // into its index — HALT loudly. Resuming by index would silently skip
    // (or re-read) events, which is the one unacceptable outcome.
    if (s.name.nonEmpty && segName(segs, s.segment) != s.name)
      throw new IllegalStateException(
        s"backlog position ${s.json()} no longer exists in $path " +
          s"(segment at index ${s.segment} is now " +
          s"'${segName(segs, s.segment)}') — purged/rotated while offline; " +
          "halting instead of silently skipping. Re-snapshot or reset the checkpoint.")
    val parts = Seq.newBuilder[InputPartition]
    var seg = s.segment
    var from = s.line
    while (seg <= e.segment && seg < segs.length) {
      val upper = if (seg == e.segment) e.line else lineCount(segs(seg))
      if (upper > from) parts += BacklogPartition(segs(seg).toString, seg, from, upper)
      seg += 1
      from = 0
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[BacklogPartition]
      new PartitionReader[InternalRow] {
        private val iter = Files.lines(Paths.get(p.file), StandardCharsets.UTF_8)
          .skip(p.from).limit(p.until - p.from).iterator()
        private var pos = p.from - 1
        private var current: String = _
        override def next(): Boolean =
          if (iter.hasNext) { current = iter.next(); pos += 1; true } else false
        override def get(): InternalRow = InternalRow(
          UTF8String.fromString(Paths.get(p.file).getFileName.toString),
          pos, UTF8String.fromString(current))
        override def close(): Unit = ()
      }
    }
  }

  override def stop(): Unit = ()
}

private case class BacklogPartition(file: String, segment: Int, from: Long, until: Long)
  extends InputPartition
