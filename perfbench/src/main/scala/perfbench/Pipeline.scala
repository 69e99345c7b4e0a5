package perfbench

import graft.core.ChangeEvent
import graft.operators.{FilterProcessor, Routing}
import graft.sources.{BacklogSource, MysqlBinlogFixture}
import graft.streaming.{CdcPipeline, EventSink, KafkaWire, MessagingSinks, ParquetLakeSink}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deployed path, assembled from the library's public parts. */
object Pipeline {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def backlog(spark: SparkSession, dir: String, maxLinesPerTrigger: Int): DataFrame =
    spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", dir)
      .option("maxLinesPerTrigger", maxLinesPerTrigger.toString)
      .load()

  /** binlog segment lines → decoded records → conformed change events. */
  def mysqlEvents(lines: DataFrame): DataFrame =
    mysqlConform(MysqlBinlogFixture.decodeBase64Segments(lines, MysqlBinlogFixture.ordersCols.map(_.name)))

  def mysqlConform(d: DataFrame): DataFrame =
    ChangeEvent.conform(d.select(col("op"), col("before"), col("after"),
      struct(col("db"), col("table"), lit("mysql").as("connector"), col("gtid"),
        col("pos"), col("pos").as("sequence")).as("source"),
      col("tsMs").as("ts_ms"),
      concat(col("db"), lit("."), col("table"), lit(":"), col("pos")).as("event_id"),
      col("txEnd").as("tx_end")))

  /** The processor chain: keep c/u/d on the source database, then route.
   * Routing sets the key to `db.table:<primary key>` (from `after`, or
   * `before` for a delete) and carries the source sequence as the `seq`
   * header, which the broker audit uses to check per-key order. */
  def processors(db: String): Seq[DataFrame => DataFrame] = Seq(
    FilterProcessor(FilterProcessor.Config(ops = Seq("c", "u", "d"), tables = Seq(s"$db.*"))),
    df => df.withColumn("routing", struct(
      lit(null).cast("string").as("topic"),
      coalesce(Routing.template("${source.db}.${source.table}:${after.o_orderkey}", strict = true),
        Routing.template("${source.db}.${source.table}:${before.o_orderkey}", strict = true)).as("key"),
      map(lit("seq"), col("source.sequence").cast("string")).as("headers"),
      lit(null).cast("boolean").as("raw_payload"))))

  val TopicTemplate = "cdc.${source.db}.${source.table}"

  /** The Kafka sink over the wire producer, exactly-once: a transactional
   * producer per partition (InitProducerId, produce and EndTxn per batch). */
  def kafkaSink(port: Int, traced: Boolean, fault: String): EventSink = {
    val factory: () => MessagingSinks.TransactionalProducer = () => {
      val base = new KafkaWire.SocketProducer("127.0.0.1", port, "perfbench",
        transactionalId = s"perfbench-kafka-${TaskContext.getPartitionId()}")
      val withFault = if (fault == "none") base else new FaultyProducer(base, fault)
      if (traced) new TracedProducer(withFault) else withFault
    }
    val sink = new MessagingSinks.KafkaLikeSink("kafka", factory,
      topicTemplate = Some(TopicTemplate), exactlyOnce = true)
    if (traced) new TracedSink(sink, "sink.kafka") else sink
  }

  def lakeSink(path: String, traced: Boolean): EventSink = {
    val sink = new ParquetLakeSink("lake", path)
    if (traced) new TracedSink(sink, "sink.parquet") else sink
  }

  /** The foreachBatch body: `processBatch`, inside a span when tracing. */
  def batchBody(cfg: CdcPipeline.Config, ledger: TimedLedger, traced: Boolean)
      : (DataFrame, Long) => Unit =
    if (traced) (df, id) =>
      Tracer.timed("pipeline.processBatch", "query", id)(CdcPipeline.processBatch(cfg, ledger)(df, id))
    else (df, id) => CdcPipeline.processBatch(cfg, ledger)(df, id)
}
