package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Coordinator semantics: fan-out, commit policies, ledger replay, DLQ, tx batching. */
class CdcPipelineSpec extends SparkSpec {
  import CdcPipeline._

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  private def tmp(): String = Files.createTempDirectory("graft-test").toString

  test("fan-out delivers the same batch to all sinks; ledger advances") {
    val (s1, s2) = (new MemorySink("s1"), new MemorySink("s2"))
    val dir = tmp()
    val cfg = Config(sinks = Seq(s1, s2), ledgerDir = dir)
    val ledger = new SinkLedger(dir)
    processBatch(cfg, ledger)(events(10), 0L)
    assert(s1.totalRows == 10 && s2.totalRows == 10)
    assert(ledger.committed("s1") == 0L && ledger.committed("s2") == 0L)
    assert(ledger.minCommitted(Seq("s1", "s2")) == 0L)
  }

  test("per-sink filter applies before write (FilteredSink semantics)") {
    val s = new MemorySink("odd", filter = Some(col("ts_ms") % 2 === 1))
    val dir = tmp()
    processBatch(Config(Seq(s), ledgerDir = dir), new SinkLedger(dir))(events(10), 0L)
    assert(s.totalRows == 5)
  }

  test("required policy: failing required sink fails the batch; optional doesn't") {
    val dir = tmp()
    val bad = new MemorySink("bad", failTimes = 100)
    val good = new MemorySink("good")
    intercept[RuntimeException] {
      processBatch(Config(Seq(bad, good), ledgerDir = dir), new SinkLedger(dir))(events(3), 0L)
    }
    // policy gate precedes ANY commit (reference C-4): nothing is committed
    assert(new SinkLedger(dir).committed("good") == -1L)
    assert(new SinkLedger(dir).committed("bad") == -1L)
    val dir2 = tmp()
    val optBad = new MemorySink("optbad", required = false, failTimes = 100)
    processBatch(Config(Seq(optBad, new MemorySink("g2")), ledgerDir = dir2),
      new SinkLedger(dir2))(events(3), 0L) // must not throw
  }

  test("quorum policy") {
    val dir = tmp()
    val sinks = Seq(new MemorySink("a", failTimes = 100), new MemorySink("b"), new MemorySink("c"))
    processBatch(Config(sinks, CommitQuorum(2), dir), new SinkLedger(dir))(events(3), 0L)
    intercept[RuntimeException] {
      processBatch(Config(sinks, CommitQuorum(3), dir), new SinkLedger(dir))(events(3), 1L)
    }
  }

  test("replay skip: sink at ledger mark does not re-receive the batch") {
    val dir = tmp()
    val s = new MemorySink("s")
    val ledger = new SinkLedger(dir)
    ledger.commit("s", 5L)
    processBatch(Config(Seq(s), ledgerDir = dir), ledger)(events(4), 5L)
    assert(s.batches.isEmpty) // skipped, but policy satisfied
    processBatch(Config(Seq(s), ledgerDir = dir), ledger)(events(4), 6L)
    assert(s.batches.containsKey(6L))
  }

  test("failed-then-recovered sink replays only uncommitted batch (at-least-once)") {
    val dir = tmp()
    val flaky = new MemorySink("flaky", failTimes = 1)
    val cfg = Config(Seq(flaky), ledgerDir = dir)
    val ledger = new SinkLedger(dir)
    intercept[RuntimeException](processBatch(cfg, ledger)(events(2), 0L))
    processBatch(cfg, ledger)(events(2), 0L) // replay succeeds
    assert(flaky.totalRows == 2 && ledger.committed("flaky") == 0L)
  }

  test("a failed sink write counts an error and its latency, not delivered events") {
    val dir = tmp()
    val reg = new Metrics.Registry
    val cfg = Config(Seq(new MemorySink("flaky", failTimes = 1)), ledgerDir = dir,
      pipelineName = "p", metrics = Some(reg))
    val ledger = new SinkLedger(dir)
    val labels = Seq("pipeline" -> "p", "sink" -> "flaky")
    def latencies = """graft_sink_latency_seconds_count\{pipeline="p",sink="flaky"\} (\d+)""".r
      .findFirstMatchIn(reg.scrape()).map(_.group(1).toInt).getOrElse(0)
    intercept[RuntimeException](processBatch(cfg, ledger)(events(3), 0L))
    assert(reg.counterValue("graft_sink_events_total", labels) == 0.0)
    assert(reg.counterValue("graft_sink_batch_total", labels) == 0.0)
    assert(reg.counterValue("graft_sink_errors_total", labels) == 1.0)
    assert(latencies == 1)
    processBatch(cfg, ledger)(events(3), 0L) // replay acks
    assert(reg.counterValue("graft_sink_events_total", labels) == 3.0)
    assert(reg.counterValue("graft_sink_batch_total", labels) == 1.0)
    assert(reg.counterValue("graft_sink_errors_total", labels) == 1.0)
    assert(latencies == 2)
  }

  test("an interrupted processBatch leaves no fan-out thread alive once the slow sink returns") {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val sinkThread = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val slow = new EventSink {
      val id = "slow"
      def write(batch: DataFrame, batchId: Long): Unit = {
        sinkThread.set(Thread.currentThread())
        entered.countDown()
        release.await()
      }
    }
    val dir = tmp()
    val caller = new Thread(() =>
      try processBatch(Config(Seq(slow), ledgerDir = dir), new SinkLedger(dir))(events(3), 0L)
      catch { case _: InterruptedException => () })
    caller.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "sink never started")
      caller.interrupt() // e.g. StreamingQuery.stop() during a slow sink
      caller.join(60000)
      assert(!caller.isAlive, "processBatch ignored the interrupt")
    } finally release.countDown()
    val worker = sinkThread.get
    worker.join(10000)
    assert(!worker.isAlive, s"fan-out thread ${worker.getName} outlived its batch")
  }

  test("processBatch materializes the batch with exactly one Spark job") {
    val dir = tmp()
    val batch = events(50)
    val jobs = jobsLaunchedBy(processBatch(Config(Nil, ledgerDir = dir), new SinkLedger(dir))(batch, 0L))
    assert(jobs == 1, s"processBatch with no sinks launched $jobs jobs")
  }

  test("the processor chain runs once per row however many sinks read the batch") {
    val dir = tmp()
    val evaluated = spark.sparkContext.longAccumulator("rows-processed")
    val bump = udf { (ts: Long) => evaluated.add(1); ts }.asNondeterministic()
    val (m1, m2) = (new MemorySink("m1"), new MemorySink("m2"))
    val cfg = Config(Seq(m1, m2, new ParquetLakeSink("lake", s"$dir/lake")), ledgerDir = dir,
      processors = Seq(df => df.withColumn("ts_ms", bump(col("ts_ms")))))
    processBatch(cfg, new SinkLedger(dir))(events(40), 0L)
    assert(evaluated.value == 40L)
    assert(m1.totalRows == 40 && m2.totalRows == 40)
    assert(spark.read.parquet(s"$dir/lake").count() == 40)
  }

  test("tx-boundary split holds back incomplete tail transactions (C-1)") {
    import spark.implicits._
    // tx1 = seq 1..3 (end at 3), tx2 = seq 4..5 (NO tx_end yet)
    val df = ChangeEvent.conform(
      Seq((1L, true), (2L, false), (3L, true), (4L, false), (5L, false))
        .toDF("seq", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(lit("db").as("db"), lit("t").as("table"), col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    assert(complete.count() == 3)
    assert(carry.count() == 2)
    assert(carry.select(min(col("source.sequence"))).head().getLong(0) == 4L)
  }

  test("tx-boundary split never splits a MULTI-TABLE transaction (C-1)") {
    import spark.implicits._
    // One source stream, transactions spanning two tables; the commit marker
    // (tx_end) sits on the FINAL event only — which lands in table B while
    // earlier events of the same tx are in table A (coordinator.rs:87-110).
    //   tx1: seq 1(orders) 2(items) 3(items, tx_end)
    //   tx2: seq 4(items)  5(orders) — no tx_end yet → held back WHOLE
    val df = ChangeEvent.conform(
      Seq((1L, "orders", false), (2L, "items", false), (3L, "items", true),
        (4L, "items", false), (5L, "orders", false))
        .toDF("seq", "tbl", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(lit("src1").as("name"), lit("db").as("db"), col("tbl").as("table"),
            col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    // per-TABLE boundaries would put seq 1 (orders, after orders' last end —
    // there is none) in carryover and split tx1 across batches
    assert(complete.select(col("source.sequence")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(carry.select(col("source.sequence")).as[Long].collect().sorted.toSeq ==
      Seq(4L, 5L))
  }

  test("tx-boundary split keeps independent source streams independent") {
    import spark.implicits._
    // Stream A committed through seq 2; stream B has an open tx at seq 10.
    // B's open tail must not hold back A's committed events, and A's commit
    // must not release B's tail.
    val df = ChangeEvent.conform(
      Seq(("a", 1L, false), ("a", 2L, true), ("b", 10L, false))
        .toDF("src", "seq", "end")
        .select(lit("c").as("op"), lit("""{"x":1}""").as("after"),
          struct(col("src").as("name"), lit("db").as("db"), lit("t").as("table"),
            col("seq").as("sequence")).as("source"),
          col("end").as("tx_end")))
    val (complete, carry) = splitCompleteTx(df)
    assert(complete.select(col("source.name")).as[String].collect().toSet == Set("a"))
    assert(complete.count() == 2)
    assert(carry.select(col("source.name")).as[String].collect().toSeq == Seq("b"))
  }

  test("DLQ splits ineligible rows into the journal with metadata") {
    val dir = tmp()
    import spark.implicits._
    val batch = ChangeEvent.conform(
      Seq(("c", """{"ok":1}""", "g1"), ("c", """{bad json""", "g2"))
        .toDF("op", "after", "event_id")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"))))
    val cfg = Dlq.Config("pipe1", "sink1", s"$dir/dlq")
    val good = Dlq.splitAndJournal(cfg, batch, Dlq.jsonParses(col("after")),
      "serialization", lit("invalid json"))
    assert(good.count() == 1)
    val journal = spark.read.parquet(s"$dir/dlq")
    assert(journal.count() == 1)
    val row = journal.head()
    assert(row.getAs[String]("event_id") == "g2")
    assert(row.getAs[String]("stream") == "dlq")
    assert(row.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("error_kind") == "serialization")
  }

  test("streaming end-to-end: memory source → pipeline → sinks via foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long)]
    val dir = tmp()
    val sink = new MemorySink("mem")
    val stream = ChangeEvent.conform(
      ms.toDF().toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table")))
        .withColumn("tx_end", lit(true)))
    val q = CdcPipeline.start(
      Config(Seq(sink), ledgerDir = dir,
        processors = Seq(df => df.filter(col("op") =!= "d"))),
      stream, s"$dir/chk",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    ms.addData(("c", """{"id":1}""", 1L), ("d", """{"id":2}""", 2L), ("u", """{"id":3}""", 3L))
    q.awaitTermination(60000)
    assert(sink.totalRows == 2) // delete filtered by processor chain
    assert(new SinkLedger(dir).committed("mem") >= 0L)
  }

  test("lake sink writes hive partitions table/year/month/day") {
    val dir = tmp()
    val sink = new ParquetLakeSink("lake", s"$dir/lake")
    sink.write(events(5).withColumn("ts_ms", lit(1700000000000L)), 7L)
    val out = spark.read.parquet(s"$dir/lake")
    assert(out.count() == 5)
    assert(out.columns.contains("year") && out.columns.contains("table"))
    val r = out.select("table", "year", "month", "day").head()
    assert(r.getString(0) == "t" && r.getInt(1) == 2023 && r.getInt(2) == 11 && r.getInt(3) == 14)
  }

  test("steady batches compile no code: the lake, typed lake and kafka sinks reuse batch 0's") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = tmp()
    val reg = new SchemaRegistry(spark, s"$dir/registry")
    reg.register("t", StructType(Seq(StructField("id", LongType))), atMs = 1L)
    CdcPipelineSpec.buffer.clear()
    val kafka = new MessagingSinks.KafkaLikeSink("kafka",
      () => new MessagingSinks.CollectingProducer(CdcPipelineSpec.buffer), staticTopic = "t")
    val cfg = Config(Seq(new ParquetLakeSink("lake", s"$dir/lake"),
      new TypedLakeSink("typed", s"$dir/typed", reg), kafka), ledgerDir = s"$dir/ledger")
    val ledger = new SinkLedger(s"$dir/ledger")
    def run(batchId: Long): Unit =
      processBatch(cfg, ledger)(events(30).withColumn("schema_sequence", lit(0L)), batchId)
    run(0L)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(1L)
    run(2L)
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    assert(recompiled == 0, s"batches 1 and 2 compiled $recompiled generated classes")
    assert(spark.read.parquet(s"$dir/lake").groupBy("_batch_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> 30L, 1L -> 30L, 2L -> 30L))
    assert(spark.read.parquet(s"$dir/typed").count() == 90)
    assert(CdcPipelineSpec.buffer.size() == 90)
  }

  test("steady kafka and lake batches plan nothing: each sink plans its projection once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = tmp()
    // a column only this test's batches carry: a planning whose input is a
    // LogicalRDD holding it is a sink planning over a frozen batch
    val marker = s"plan_probe_${System.nanoTime()}"
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = s"$marker-sentinel"
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val tagListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(sentinel)) sentinelSeen.countDown()
        prop("spark.job.tags").foreach(_.split(",").filter(_.startsWith("graft:")).foreach(tags.add))
      }
    }
    CdcPipelineSpec.buffer.clear()
    val lake = new ParquetLakeSink("lake", s"$dir/lake")
    val kafka = new MessagingSinks.KafkaLikeSink("kafka",
      () => new MessagingSinks.CollectingProducer(CdcPipelineSpec.buffer), staticTopic = "t")
    val cfg = Config(Seq(lake, kafka), commitPolicy = CommitAll, ledgerDir = s"$dir/ledger",
      processors = Seq(_.withColumn(marker, lit(1))), pipelineName = "plans")
    val ledger = new SinkLedger(s"$dir/ledger")
    spark.sparkContext.addSparkListener(tagListener)
    try withPlanProbe(marker) { plannings =>
      processBatch(cfg, ledger)(events(30), 0L)
      assert(plannings.get > 0, "the probe saw no sink planning")
      plannings.set(0)
      processBatch(cfg, ledger)(events(20), 1L)
      processBatch(cfg, ledger)(events(25), 2L)
      processBatch(cfg, ledger)(events(0), 3L) // an empty batch writes no row and sends nothing
      assert(plannings.get == 0, s"batches 1 to 3 planned ${plannings.get} sink plan nodes")
      // a filtered (not frozen) input is planned on the call
      lake.write(events(5).withColumn(marker, lit(1)).filter(col("ts_ms") > 2), 4L)
      // listener events arrive in order: a job run after the batches is seen last
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(tagListener)
    val lakeRows = spark.read.parquet(s"$dir/lake").groupBy("_batch_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lakeRows == Map(0L -> 30L, 1L -> 20L, 2L -> 25L, 4L -> 3L))
    assert(CdcPipelineSpec.buffer.size() == 75)
    assert(ledger.committed("lake") == 3L && ledger.committed("kafka") == 3L)
    assert(tags.asScala.toSet == Set(sinkJobTag("plans", "lake"), sinkJobTag("plans", "kafka")))
  }

  /**
   * Runs `body` with a planner probe installed. The counter handed to
   * `body` counts the plannings whose input holds a `LogicalRDD` with a
   * `marker` column: the chain over a `foreachBatch` or frozen leaf, or a
   * sink over a frozen batch.
   */
  private def withPlanProbe(marker: String)(body: java.util.concurrent.atomic.AtomicInteger => Unit): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
    val plannings = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
        if (plan.collectLeaves().exists {
          case l: LogicalRDD => l.output.exists(_.name == marker)
          case _ => false
        }) plannings.incrementAndGet()
        Nil
      }
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val strategies = session.experimental.extraStrategies
    session.experimental.extraStrategies = probe +: strategies
    try body(plannings)
    finally session.experimental.extraStrategies = strategies
  }

  /** A MemoryStream of (op, after, ts_ms) conformed to change events, with the column `marker`. */
  private def markedStream(marker: String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long)]
    (ms, ChangeEvent.conform(ms.toDF().toDF("op", "after", "ts_ms")
      .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"), col("ts_ms").as("sequence")))
      .withColumn("event_id", concat(lit("e"), col("ts_ms")))
      .withColumn("tx_end", lit(true))).withColumn(marker, lit(1)))
  }

  private def rows(from: Int, n: Int): Seq[(String, String, Long)] =
    (from until from + n).map(i => ("c", s"""{"id":$i}""", i.toLong))

  /** The Spark jobs of each streamed batch, by batch id, once `body` has returned. */
  private def jobsPerBatch(body: => Unit): Map[Long, Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val sentinel = s"jobs-per-batch-${System.nanoTime()}"
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(sentinel)) sentinelSeen.countDown()
        prop("streaming.sql.batchId").foreach(b => byBatch.merge(b.toLong, 1, (a: Int, c: Int) => a + c))
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(l)
    byBatch.asScala.toMap
  }

  test("streamed batches plan the processor chain once: steady batches plan nothing, three jobs each") {
    val dir = tmp()
    val marker = s"chain_probe_${System.nanoTime()}"
    val (ms, stream) = markedStream(marker)
    CdcPipelineSpec.buffer.clear()
    val kafka = new MessagingSinks.KafkaLikeSink("kafka",
      () => new MessagingSinks.CollectingProducer(CdcPipelineSpec.buffer), staticTopic = "t")
    val cfg = Config(Seq(new ParquetLakeSink("lake", s"$dir/lake"), kafka), commitPolicy = CommitAll,
      ledgerDir = s"$dir/ledger", processors = Seq(_.filter(col("op") =!= "d"), _.withColumn("kept", lit(true))),
      pipelineName = "streamed")
    val steady = new java.util.concurrent.atomic.AtomicInteger(-1)
    val jobs = jobsPerBatch(withPlanProbe(marker) { plannings =>
      val q = CdcPipeline.start(cfg, stream, s"$dir/chk",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 milliseconds"))
      try {
        ms.addData(rows(0, 30))
        q.processAllAvailable()
        assert(plannings.get > 0, "the probe saw no planning of batch 0")
        plannings.set(0)
        ms.addData(rows(30, 20))
        q.processAllAvailable()
        ms.addData(rows(50, 25) :+ (("d", """{"id":0}""", 99L)))
        q.processAllAvailable()
        steady.set(plannings.get)
      } finally q.stop()
    })
    assert(steady.get == 0, s"batches 1 and 2 planned ${steady.get} chain or sink plan nodes")
    assert(jobs == Map(0L -> 3, 1L -> 3, 2L -> 3), s"jobs per batch: $jobs")
    val lake = spark.read.parquet(s"$dir/lake")
    assert(lake.groupBy("_batch_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 30L, 1L -> 20L, 2L -> 25L))
    assert(lake.filter(col("kept")).count() == 75)
    assert(CdcPipelineSpec.buffer.size() == 75)
    val ledger = new SinkLedger(s"$dir/ledger")
    assert(ledger.committed("lake") == 2L && ledger.committed("kafka") == 2L)
  }

  test("a chain with a current-time or random column is planned every streamed batch") {
    val chains: Seq[(String, DataFrame => DataFrame)] = Seq(
      "now" -> (_.withColumn("v", current_timestamp().cast("string"))),
      "rand" -> (_.withColumn("v", rand().cast("string"))))
    chains.foreach { case (name, processor) =>
      val dir = tmp()
      val marker = s"volatile_probe_${System.nanoTime()}"
      val (ms, stream) = markedStream(marker)
      val values = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
      val sink = new EventSink {
        val id = "values"
        def write(batch: DataFrame, batchId: Long): Unit =
          values.put(batchId, batch.orderBy("ts_ms").select("v").collect().map(_.getString(0)).toSeq)
      }
      val perBatch = Seq.newBuilder[Int]
      withPlanProbe(marker) { plannings =>
        val q = CdcPipeline.start(Config(Seq(sink), ledgerDir = s"$dir/ledger", processors = Seq(processor)),
          stream, s"$dir/chk", org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 milliseconds"))
        try (0 until 3).foreach { b =>
          plannings.set(0)
          ms.addData(rows(0, 10))
          q.processAllAvailable()
          perBatch += plannings.get
          Thread.sleep(5)
        } finally q.stop()
      }
      assert(perBatch.result().forall(_ > 0), s"$name: plannings per batch ${perBatch.result()}")
      assert(values.size == 3 && values.values.asScala.toSet.size == 3,
        s"$name: a steady batch repeated another batch's values: $values")
    }
  }

  test("a processor that runs a job over its batch sees every streamed batch") {
    val dir = tmp()
    val marker = s"action_probe_${System.nanoTime()}"
    val (ms, stream) = markedStream(marker)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val counting: DataFrame => DataFrame = df => { seen.add(df.count()); df }
    val sink = new MemorySink("mem")
    val q = CdcPipeline.start(Config(Seq(sink), ledgerDir = s"$dir/ledger", processors = Seq(counting)),
      stream, s"$dir/chk", org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 milliseconds"))
    try Seq(30, 20, 25).foldLeft(0) { (from, n) =>
      ms.addData(rows(from, n))
      q.processAllAvailable()
      from + n
    } finally q.stop()
    // the first planning of a schema runs the processor once over the empty stand-in
    assert(seen.asScala.toSeq.filter(_ > 0) == Seq(30L, 20L, 25L), s"the processor saw $seen")
    assert(sink.totalRows == 75)
  }

  test("a new input schema plans the chain again") {
    val dir = tmp()
    val marker = s"schema_probe_${System.nanoTime()}"
    val cfg = Config(Nil, ledgerDir = dir, processors = Seq(_.withColumn("kept", lit(true))))
    val ledger = new SinkLedger(dir)
    withPlanProbe(marker) { plannings =>
      def run(batchId: Long, extra: Boolean): Int = {
        val in = events(10).withColumn(marker, lit(1))
        val leaf = GraftBridge.freeze(if (extra) in.withColumn("extra", lit("x")) else in)
        try {
          plannings.set(0)
          processBatch(cfg, ledger)(leaf.df, batchId)
          plannings.get
        } finally leaf.release()
      }
      assert(run(0L, extra = false) > 0)
      assert(run(1L, extra = false) == 0)
      assert(run(2L, extra = true) > 0, "a new input schema reused the old plan")
      assert(run(3L, extra = true) == 0)
      assert(run(4L, extra = false) > 0)
    }
  }

  test("steady batches hand Spark's ClosureCleaner no freeze or Kafka send function") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = tmp()
    CdcPipelineSpec.buffer.clear()
    val kafka = new MessagingSinks.KafkaLikeSink("kafka",
      () => new MessagingSinks.CollectingProducer(CdcPipelineSpec.buffer), staticTopic = "t")
    val cfg = Config(Seq(new ParquetLakeSink("lake", s"$dir/lake"), kafka), ledgerDir = s"$dir/ledger")
    val ledger = new SinkLedger(s"$dir/ledger")
    processBatch(cfg, ledger)(events(20), 0L)
    val cleaned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = LogManager.getLogger("org.apache.spark.util.ClosureCleaner").asInstanceOf[CoreLogger]
    val appender = new AbstractAppender("closure-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = cleaned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    try (1L to 3L).foreach(b => processBatch(cfg, ledger)(events(20), b))
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    val lambdas = cleaned.asScala.toSeq.filter(_.startsWith("Cleaning indylambda closure"))
    assert(lambdas.nonEmpty, "the appender saw no closure cleaning (is DEBUG on?)")
    val ours = lambdas.filter(l => l.contains("$anonfun$freeze") || l.contains("$anonfun$write$") ||
      l.contains("$anonfun$foreachPartition") || l.contains("$anonfun$runJob$"))
    assert(ours.isEmpty, s"steady batches cleaned library functions: ${ours.distinct}")
    assert(CdcPipelineSpec.buffer.size() == 80)
  }

  test("lake sinks write the same rows and parquet schema as a literal batch id") {
    val dir = tmp()
    val batchId = 7L
    val batch = events(20).withColumn("schema_sequence", lit(0L))
    def footers(path: String): Seq[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(path)
      val files = root.getFileSystem(conf).listFiles(root, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try reader.getFooter.getFileMetaData.getSchema.toString finally reader.close()
        }.toSeq.distinct
    }
    def assertSame(out: String, expected: String): Unit = {
      val (got, want) = (spark.read.parquet(out), spark.read.parquet(expected))
      assert(got.schema == want.schema)
      assert(got.toJSON.collect().sorted.toSeq == want.toJSON.collect().sorted.toSeq)
      assert(footers(out) == footers(expected) && footers(out).length == 1)
      assert(footers(out).head.contains("required int64 _batch_id;"))
    }

    new ParquetLakeSink("lake", s"$dir/lake").write(batch, batchId)
    val ts = timestamp_millis(col("ts_ms"))
    batch.withColumn("table", col("source.table")).withColumn("year", year(ts))
      .withColumn("month", month(ts)).withColumn("day", dayofmonth(ts))
      .withColumn("_batch_id", lit(batchId))
      .write.partitionBy("table", "year", "month", "day").parquet(s"$dir/lake-lit")
    assertSame(s"$dir/lake", s"$dir/lake-lit")

    val reg = new SchemaRegistry(spark, s"$dir/registry")
    val schema = StructType(Seq(StructField("id", LongType)))
    reg.register("t", schema, atMs = 1L)
    new TypedLakeSink("typed", s"$dir/typed", reg).write(batch, batchId)
    graft.operators.LakeProjection(batch, schema).withColumn("_batch_id", lit(batchId))
      .write.parquet(s"$dir/typed-lit")
    assertSame(s"$dir/typed/table=t/schema_version=0", s"$dir/typed-lit")
  }
}

object CdcPipelineSpec {
  // static buffer: foreachPartition closures must reach it after serialization
  val buffer = new java.util.concurrent.ConcurrentLinkedQueue[MessagingSinks.WireRecord]()
}
