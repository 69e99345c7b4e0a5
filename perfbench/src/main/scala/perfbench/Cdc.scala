package perfbench

import graft.sources.MysqlBinlog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** What one round of the drain produced. */
final case class CdcRound(
    events: Long, wallS: Double, setupS: Double, cpuS: Double, heapMb: Double,
    gcS: Double, jitS: Double, triggerRates: Seq[Double], attempts: Long, failures: Long,
    problems: Seq[String], layers: Map[String, Double], trace: Boolean)

/** Counts batch attempts and failed ones (it runs with tracing off too). */
final class BatchCounter {
  val attempts = new AtomicLong(0)
  val failures = new AtomicLong(0)
  def wrap(body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = (df, id) => {
    attempts.incrementAndGet()
    try body(df, id)
    catch { case e: Throwable => failures.incrementAndGet(); throw e }
  }
}

object Cdc {

  /** The drain's shape: files of one `EventsPerSegment`-event binlog
   * segment; a trigger admits `SegmentsPerTrigger` of them (~2k events, the
   * reference's default batch); a round's backlog fills `TriggersPerRound`
   * triggers, so that query start-up is a small share of the drain wall;
   * 80% of updates go to `HotKeys` keys. */
  val EventsPerSegment = 500
  val SegmentsPerTrigger = 4
  val TriggersPerRound = 6
  val DrainEvents: Int = EventsPerSegment * SegmentsPerTrigger * TriggersPerRound
  val HotKeys = 16

  private def listFiles(dir: String, suffix: String): Seq[java.nio.file.Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq finally s.close()
    }

  /** A round's checks: the broker audit, the lake row count, and each
   * sink's ledger mark against the last batch id. */
  private def checks(spark: SparkSession, broker: AuditBroker, expected: Seq[(String, Long)],
                     lakeDir: String, ledger: TimedLedger, sinkIds: Seq[String],
                     batches: Seq[Progress]): Seq[String] = {
    val audit = Audit.check(broker, expected)
    val n = spark.read.parquet(lakeDir).count()
    val lake = if (n != expected.size) Seq(s"lake holds $n rows, generator expects ${expected.size}") else Nil
    val lastBatch = batches.lastOption.map(_.batchId).getOrElse(-1L)
    val marks = sinkIds.flatMap { id =>
      val m = ledger.committed(id)
      if (m != lastBatch) Seq(s"ledger mark of $id is $m, last batch is $lastBatch") else Nil
    }
    audit ++ lake ++ marks
  }

  /** Per-layer numbers of a traced round. */
  private def layerMetrics(stages: StageLedger, broker: AuditBroker,
                           plog: ProgressLog, ledger: TimedLedger, q0: Long, epochMs0: Long,
                           end: Long)
      : Map[String, Double] = {
    val batches = plog.batches
    val pb = Tracer.named("pipeline.processBatch")
    val writes = Tracer.spans.asScala.filter(_.name.endsWith(".write")).toSeq
    val commits = Tracer.named("ledger.commit")
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val materialize = pb.flatMap { b =>
      writes.filter(_.batchId == b.batchId).map(_.startNs).minOption.map(s => (s - b.startNs) / 1e6)
    }
    val overhead = pb.map { b =>
      val kids = (writes ++ commits).filter(_.batchId == b.batchId).map(k => (k.startNs, k.endNs))
      (b.endNs - b.startNs - Tracer.covered(b.startNs, b.endNs, kids)) / 1e6
    }
    // Coverage counts only intervals whose start and end were recorded:
    // the processBatch spans, and each trigger from its progress timestamp
    // for its triggerExecution time (epoch ms, mapped onto nanoTime). Query
    // start-up, before the first trigger, stays uncovered.
    val triggers = batches.map { p =>
      val t = (p.timestampMs - epochMs0) * 1000000L + q0
      (t, t + p.durations.getOrElse("triggerExecution", 0L) * 1000000L)
    }
    val wall = math.max(end - q0, 1L).toDouble
    val coverage = Tracer.covered(q0, end, pb.map(s => (s.startNs, s.endNs)) ++ triggers) / wall
    val startup = (triggers.map(_._1).minOption.getOrElse(end) - q0) / wall
    val kafka = "perfbench-sink.kafka"; val lake = "perfbench-sink.parquet"
    val jobs = stages.jobsByBatch.values().asScala.map(_.get.toDouble).toSeq
    Map(
      "sources.latest_offset_ms_p50" -> p50(batches.map(_.durations.getOrElse("latestOffset", 0L).toDouble)),
      "pipeline.batch_ms_p50" -> p50(pb.map(_.ms)),
      "pipeline.batch_ms_p90" -> (if (pb.isEmpty) 0.0 else Stats.quantile(pb.map(_.ms), 0.9)),
      "pipeline.materialize_ms_p50" -> p50(materialize),
      "pipeline.overhead_ms_p50" -> p50(overhead),
      "pipeline.jobs_per_batch" -> p50(jobs),
      "pipeline.batches" -> pb.size.toDouble,
      "pipeline.span_coverage" -> coverage,
      "pipeline.startup_share" -> startup,
      "spark.trigger_overhead_ms_p50" -> p50(batches.map(p =>
        (p.durations.getOrElse("triggerExecution", 0L) - p.durations.getOrElse("addBatch", 0L)).toDouble)),
      "sink.kafka.write_ms_p50" -> p50(writes.filter(_.name == "sink.kafka.write").map(_.ms)),
      "sink.kafka.task_cpu_s" -> stages.acc(kafka).cpuNs.get / 1e9,
      "sink.kafka.shuffle_bytes" -> stages.acc(kafka).shuffleWriteBytes.get.toDouble,
      "sink.kafka.partition_skew" -> stages.skew(kafka),
      "wire.produce_s" -> (WireClock.sendNs.get + WireClock.commitNs.get) / 1e9,
      "wire.connections" -> broker.connections.get.toDouble,
      "wire.requests.produce" -> broker.requests.get(0).toDouble,
      "wire.requests.metadata" -> broker.requests.get(3).toDouble,
      "wire.requests.init_producer_id" -> broker.requests.get(22).toDouble,
      "wire.requests.add_partitions_to_txn" -> broker.requests.get(24).toDouble,
      "wire.requests.end_txn" -> broker.requests.get(26).toDouble,
      "wire.records" -> broker.records.get.toDouble,
      "wire.bytes" -> broker.bytes.get.toDouble,
      "sink.parquet.write_ms_p50" -> p50(writes.filter(_.name == "sink.parquet.write").map(_.ms)),
      "sink.parquet.task_cpu_s" -> stages.acc(lake).cpuNs.get / 1e9,
      "ledger.commit_ms_p50" -> p50(commits.map(_.ms)),
      "ledger.commits" -> ledger.commits.get.toDouble,
      "self.pipeline_s" -> Tracer.selfS("pipeline.processBatch"),
      "self.sink_kafka_s" -> Tracer.selfS("sink.kafka.write"),
      "self.wire_s" -> Tracer.selfS("wire.commit"),
      "self.sink_parquet_s" -> Tracer.selfS("sink.parquet.write"),
      "self.ledger_s" -> Tracer.selfS("ledger.commit"),
      "trace.spans" -> Tracer.spans.size.toDouble)
  }

  /**
   * One drain of a fresh backlog with `Trigger.AvailableNow`: a new session,
   * the query and its listeners; then the round's numbers and the checks of
   * its outputs.
   */
  def drainRound(seed: Long, work: String, idx: Int, cores: Int,
                 traced: Boolean, broker: AuditBroker, fault: String): CdcRound = {
    val dir = s"$work/drain-$idx"
    val g0 = System.nanoTime()
    Gen.deleteTree(Paths.get(dir))
    val events = if (idx == 0) EventsPerSegment * SegmentsPerTrigger else DrainEvents
    val bl = Gen.mysqlBacklog(Paths.get(s"$dir/backlog"), seed * 7919L + idx, events,
      EventsPerSegment, HotKeys)
    broker.reset(); WireClock.reset(); Tracer.newRound(traced)
    val wall0 = System.currentTimeMillis()
    val spark = Pipeline.session(cores, work)
    val r = try {
      val plog = new ProgressLog
      spark.streams.addListener(plog)
      val stages = new StageLedger
      if (traced) spark.sparkContext.addSparkListener(stages)
      val ledger = new TimedLedger(s"$dir/ledger")
      val sinks = Seq(Pipeline.kafkaSink(broker.port, traced, fault),
        Pipeline.lakeSink(s"$dir/lake", traced))
      val cfg = CdcPipeline.Config(sinks, commitPolicy = CdcPipeline.CommitAll,
        ledgerDir = s"$dir/ledger", processors = Pipeline.processors(Gen.OrdersDb))
      val counter = new BatchCounter
      val stream = Pipeline.mysqlEvents(Pipeline.backlog(spark, s"$dir/backlog", SegmentsPerTrigger))
      val sessionMs = System.currentTimeMillis() - wall0
      System.gc() // every round starts from a collected heap (not part of set-up)
      val cpu0 = Host.processCpuS(); val own0 = Host.ownThreadCpuNs.get; val jit0 = Host.jitCpuS()
      val gc0 = Host.gcS()
      Host.resetHeapPeak()
      val q0 = System.nanoTime(); val epochMs0 = System.currentTimeMillis()
      val q = stream.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/chk")
        .foreachBatch(counter.wrap(Pipeline.batchBody(cfg, ledger, traced)))
        .start()
      val done =
        try q.awaitTermination(150000L)
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        finally { q.stop(); Tracer.enabled = false }
      val end = ledger.lastCommitNs
      val jit = Host.jitCpuS() - jit0
      val cpu = Host.processCpuS() - cpu0 - (Host.ownThreadCpuNs.get - own0) / 1e9 - jit
      val gc = Host.gcS() - gc0
      val heap = Host.heapPeakMb()
      val batches = plog.batches
      // set-up: session creation, then query start to the first trigger
      val setup = batches.headOption.map(p => (sessionMs + p.timestampMs - epochMs0) / 1e3)
        .getOrElse(Double.NaN)
      val problems = (if (done) Nil else Seq("drain did not finish within 150 s")) ++
        q.exception.map(e => s"query failed: ${e.getMessage.take(300)}") ++
        checks(spark, broker, bl.expected, s"$dir/lake", ledger, sinks.map(_.id), batches)
      val layers =
        if (!traced) Map.empty[String, Double]
        else layerMetrics(stages, broker, plog, ledger, q0, epochMs0, end) ++ Map(
          "sink.parquet.files" -> listFiles(s"$dir/lake", ".parquet").size.toDouble)
      // each trigger's rate: the source row events it admitted (one
      // segment per line) over its triggerExecution time
      val rates = batches.map(p =>
        p.inputRows * EventsPerSegment * 1e3 / math.max(p.durations.getOrElse("triggerExecution", 0L), 1L))
      CdcRound(bl.expected.size.toLong, (end - q0) / 1e9, setup, cpu, heap, gc, jit, rates,
        counter.attempts.get, counter.failures.get, problems, layers, traced)
    } finally spark.stop()
    System.err.println(f"[perfbench] drain round $idx: ${(System.nanoTime() - g0) / 1e9}%.1f s in all, drain ${r.wallS}%.1f s, cpu ${r.cpuS}%.1f s, jit ${r.jitS}%.1f s")
    if (traced) r.copy(layers = r.layers ++ decodeAndChain(bl.segments, cores, work))
    else r
  }

  /**
   * Direct calls into the source and operator layers over one round's
   * segments: single-threaded `MysqlBinlog.decodeSegment`, then conform →
   * filter → route → value encode over the cached decoded events, written
   * to `noop`.
   */
  private def decodeAndChain(segments: Seq[Array[Byte]], cores: Int, work: String): Map[String, Double] = {
    val names = graft.sources.MysqlBinlogFixture.ordersCols.map(_.name)
    val t0 = System.nanoTime()
    val decoded = segments.map(s => MysqlBinlog.decodeSegment(s, (_, _) => names).size).sum
    val decodeS = (System.nanoTime() - t0) / 1e9
    val spark = Pipeline.session(cores, work)
    try {
      import spark.implicits._
      val lines = spark.createDataset(segments.map(java.util.Base64.getEncoder.encodeToString))
        .repartition(cores).toDF("value").cache()
      lines.count()
      val raw = graft.sources.MysqlBinlogFixture.decodeBase64Segments(lines, names).cache()
      val in = raw.count()
      val c0 = System.nanoTime()
      val chained = Pipeline.processors(Gen.OrdersDb).foldLeft(Pipeline.mysqlConform(raw))((d, p) => p(d))
      val out = chained.select(to_json(struct(chained.columns.map(col).toIndexedSeq: _*)).as("v"))
      out.write.format("noop").mode("overwrite").save()
      val chainS = (System.nanoTime() - c0) / 1e9
      val kept = chained.count()
      Map("sources.decode_s" -> decodeS, "sources.decode_events" -> decoded.toDouble,
        "operators.chain_s" -> chainS, "operators.events_in" -> in.toDouble,
        "operators.events_out" -> kept.toDouble)
    } finally spark.stop()
  }
}
