package perfbench

import graft.streaming.{EventSink, MessagingSinks, SinkLedger}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** A timed interval at a layer boundary. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, batchId: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * In-memory span store. The benchmark's wrappers record around the calls
 * into each layer; they are installed, and `enabled` is on, only in traced
 * rounds. Spans are written out when the run ends.
 */
object Tracer {
  @volatile var enabled = false
  /** The current round's spans; earlier rounds' are kept in `earlier`. */
  val spans = new ConcurrentLinkedQueue[Span]()
  private val earlier = new ConcurrentLinkedQueue[Span]()

  /** Start a round: keep what was recorded so far, trace iff `on`. */
  def newRound(on: Boolean): Unit = {
    earlier.addAll(spans); spans.clear(); enabled = on
  }

  def record(name: String, parent: String, batchId: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(name, startNs, endNs, parent, batchId))

  def timed[A](name: String, parent: String, batchId: Long)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally record(name, parent, batchId, t0, System.nanoTime())
  }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Nanoseconds of [from, to) covered by the union of `ivs`. */
  def covered(from: Long, to: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L; var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span named `name`: its duration minus the part
   * its children (spans whose parent is `name`) cover. Seconds. */
  def selfS(name: String): Double = {
    val kids = spans.asScala.filter(_.parent == name).map(k => (k.startNs, k.endNs)).toSeq
    named(name).map(s => s.endNs - s.startNs - covered(s.startNs, s.endNs, kids)).sum / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = (earlier.asScala ++ spans.asScala).map(s =>
      Json.obj(Seq("name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "parent" -> Json.str(s.parent),
        "batch_id" -> s.batchId.toString)))
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }

  def batchIdOfTask(): Long =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
}

/** A delegating sink that tags its Spark jobs with its layer and records a
 * `write` span. */
final class TracedSink(inner: EventSink, layer: String) extends EventSink {
  override def id: String = inner.id
  override def required: Boolean = inner.required
  override def filter: Option[org.apache.spark.sql.Column] = inner.filter
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val sc = batch.sparkSession.sparkContext
    sc.addJobTag(s"perfbench-$layer")
    try Tracer.timed(s"$layer.write", "pipeline.processBatch", batchId)(inner.write(batch, batchId))
    finally sc.removeJobTag(s"perfbench-$layer")
  }
}

/** Time spent inside the producer, summed over every task. */
object WireClock {
  val sendNs = new AtomicLong(0)
  val commitNs = new AtomicLong(0)
  def reset(): Unit = { sendNs.set(0); commitNs.set(0) }
}

/** A delegating producer: sums send time and records a span per commit. */
final class TracedProducer(inner: MessagingSinks.TransactionalProducer)
    extends MessagingSinks.TransactionalProducer {
  override def beginTransaction(): Unit = inner.beginTransaction()
  override def send(rec: MessagingSinks.WireRecord): Unit = {
    val t0 = System.nanoTime()
    try inner.send(rec) finally WireClock.sendNs.addAndGet(System.nanoTime() - t0)
  }
  override def commitTransaction(): Unit = {
    val t0 = System.nanoTime()
    try inner.commitTransaction()
    finally {
      val t1 = System.nanoTime()
      WireClock.commitNs.addAndGet(t1 - t0)
      Tracer.record("wire.commit", "sink.kafka.write", Tracer.batchIdOfTask(), t0, t1)
    }
  }
  override def abortTransaction(): Unit = inner.abortTransaction()
  override def isFenced: Boolean = inner.isFenced
}

/** The benchmark's faulty producer for the audit's negative test: it drops
 * or duplicates exactly one record in the whole run. */
object Fault {
  val fired = new AtomicBoolean(false)
}
final class FaultyProducer(inner: MessagingSinks.TransactionalProducer, mode: String)
    extends MessagingSinks.TransactionalProducer {
  override def beginTransaction(): Unit = inner.beginTransaction()
  override def send(rec: MessagingSinks.WireRecord): Unit =
    if (Fault.fired.compareAndSet(false, true)) mode match {
      case "drop" => ()
      case "dup" => inner.send(rec); inner.send(rec)
    }
    else inner.send(rec)
  override def commitTransaction(): Unit = inner.commitTransaction()
  override def abortTransaction(): Unit = inner.abortTransaction()
  override def isFenced: Boolean = inner.isFenced
}

/** The ledger the pipeline commits to. It keeps the time of the last
 * commit (the end of the drain wall) and, when tracing, a span per commit. */
final class TimedLedger(dir: String) extends SinkLedger(dir) {
  @volatile var lastCommitNs = 0L
  val commits = new AtomicLong(0)
  override def commit(sinkId: String, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    super.commit(sinkId, batchId)
    val t1 = System.nanoTime()
    Tracer.record("ledger.commit", "pipeline.processBatch", batchId, t0, t1)
    commits.incrementAndGet()
    lastCommitNs = math.max(lastCommitNs, t1)
  }
}

/** One streaming progress report, the fields the benchmark reads. */
final case class Progress(batchId: Long, timestampMs: Long, inputRows: Long,
                          durations: Map[String, Long])

/** Collects every progress report of the running query. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    all.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap))
  }
  /** Reports that ran a batch (a trigger with no new data reports too). */
  def batches: Seq[Progress] =
    all.asScala.toSeq.filter(_.durations.contains("addBatch")).sortBy(_.batchId)
}

/**
 * Spark task metrics rolled up by the benchmark's job tags, plus jobs
 * counted per streaming batch.
 */
final class StageLedger extends SparkListener {
  final class Acc {
    val cpuNs = new AtomicLong(0); val shuffleWriteBytes = new AtomicLong(0)
    val spillBytes = new AtomicLong(0)
    // per stage: shuffle records read by each task, for partition skew
    val readRecords = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  }
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
  val byTag = new ConcurrentHashMap[String, Acc]()
  val jobsByBatch = new ConcurrentHashMap[Long, AtomicLong]()
  val all = new Acc

  def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith("perfbench-"))).getOrElse(Nil)
    e.stageIds.foreach(s => stageTags.put(s, tags))
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      jobsByBatch.computeIfAbsent(b.toLong, _ => new AtomicLong(0)).incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val tags = Option(stageTags.get(e.stageId)).getOrElse(Nil)
    (all +: tags.map(acc)).foreach { a =>
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (m.shuffleReadMetrics.recordsRead > 0)
        a.readRecords.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(m.shuffleReadMetrics.recordsRead)
    }
  }

  /** Median over stages of (largest task's shuffle records / mean). */
  def skew(tag: String): Double = {
    val per = acc(tag).readRecords.values().asScala.map(_.asScala.toSeq).filter(_.nonEmpty)
      .map(rs => rs.max.toDouble / (rs.sum.toDouble / rs.size)).toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }
}
