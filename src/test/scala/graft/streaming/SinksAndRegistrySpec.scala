package graft.streaming

import graft.SparkSpec
import graft.core.ChangeEvent
import graft.operators.AvroEncoding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** Avro wire format, Kafka txn protocol, HTTP sink e2e, schema registry, CH DDL. */
class SinksAndRegistrySpec extends SparkSpec {

  private def events(n: Int): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      (1 to n).map(i => ("c", s"""{"id":$i}""", i.toLong)).toDF("op", "after", "ts_ms")
        .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
          col("ts_ms").as("sequence")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms")))
        .withColumn("tx_end", lit(true)))
  }

  test("avro: confluent framing round-trips typed rows incl. decimal/timestamp") {
    import spark.implicits._
    val df = Seq((1L, "alice", BigDecimal("12.34"), java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "name", "amount", "ts")
      .withColumn("amount", col("amount").cast(DecimalType(10, 2)))
    val reg = new AvroEncoding.InMemorySchemaRegistry
    val encoded = AvroEncoding.encode(df, "orders-value", reg).collect()
    assert(encoded.length == 1)
    val schemaJson = AvroEncoding.record("orders_value", df.schema).toString
    val (id, rec) = AvroEncoding.decode(encoded.head, schemaJson)
    assert(id == 1)
    assert(rec.get("id") == 1L)
    assert(rec.get("name").toString == "alice")
    assert(rec.get("ts") == 1704067200000L)
    val amountBytes = rec.get("amount").asInstanceOf[java.nio.ByteBuffer]
    assert(new java.math.BigInteger(amountBytes.array()).intValue() == 1234) // unscaled 12.34
  }

  test("avro mysql type policies: unsigned-bigint, enum, naive-timestamp (avro_types.rs:22-220)") {
    import graft.operators.AvroEncoding._
    import org.apache.avro.Schema

    // BIGINT UNSIGNED: string by default (≥2^63 safe), long when opted in;
    // signed bigint and INT UNSIGNED are unaffected by the policy
    val ubig = MysqlColumn("n", "bigint", "bigint(20) unsigned", unsigned = true)
    assert(mysqlAvroType(ubig).getType == Schema.Type.STRING)
    assert(mysqlAvroType(ubig, TypePolicies(unsignedBigintMode = "long")).getType == Schema.Type.LONG)
    assert(mysqlAvroType(MysqlColumn("n", "bigint")).getType == Schema.Type.LONG)
    assert(mysqlAvroType(MysqlColumn("n", "int", unsigned = true)).getType == Schema.Type.LONG)
    assert(mysqlAvroType(MysqlColumn("n", "int")).getType == Schema.Type.INT)

    // ENUM: string by default; enum mode parses symbols from column_type and
    // falls back to string when they can't be parsed
    val en = MysqlColumn("status", "enum", "enum('new','paid','shipped')")
    assert(mysqlAvroType(en).getType == Schema.Type.STRING)
    val enumSchema = mysqlAvroType(en, TypePolicies(enumMode = "enum"))
    assert(enumSchema.getType == Schema.Type.ENUM)
    assert(enumSchema.getEnumSymbols.toArray.toSeq == Seq("new", "paid", "shipped"))
    assert(enumSchema.getName == "status_enum")
    assert(mysqlAvroType(MysqlColumn("s", "enum", "garbage"),
      TypePolicies(enumMode = "enum")).getType == Schema.Type.STRING)
    assert(parseMysqlEnumValues("ENUM('a', 'b' ,'c')") == Seq("a", "b", "c"))

    // naive DATETIME: ISO-8601 string by default; timestamp-millis opt-in.
    // Zone-anchored TIMESTAMP is always timestamp-millis, policy-independent.
    val dt = MysqlColumn("created", "datetime")
    assert(mysqlAvroType(dt).getType == Schema.Type.STRING)
    val dtTs = mysqlAvroType(dt, TypePolicies(naiveTimestampMode = "timestamp"))
    assert(dtTs.getType == Schema.Type.LONG &&
      dtTs.getLogicalType.getName == "timestamp-millis")
    val ts = mysqlAvroType(MysqlColumn("t", "timestamp"))
    assert(ts.getLogicalType.getName == "timestamp-millis")
    assert(mysqlAvroType(MysqlColumn("t", "timestamp"),
      TypePolicies(naiveTimestampMode = "timestamp")).getLogicalType.getName == "timestamp-millis")

    // the rest of the map: bit(1) → boolean, bit(n) → bytes, decimal → string,
    // json/set → string, blobs → bytes, date → logical date, year → int
    assert(mysqlAvroType(MysqlColumn("b", "bit", precision = Some(1))).getType == Schema.Type.BOOLEAN)
    assert(mysqlAvroType(MysqlColumn("b", "bit", precision = Some(8))).getType == Schema.Type.BYTES)
    assert(mysqlAvroType(MysqlColumn("d", "decimal", precision = Some(18))).getType == Schema.Type.STRING)
    assert(mysqlAvroType(MysqlColumn("j", "json")).getType == Schema.Type.STRING)
    assert(mysqlAvroType(MysqlColumn("s", "set", "set('a','b')")).getType == Schema.Type.STRING)
    assert(mysqlAvroType(MysqlColumn("b", "longblob")).getType == Schema.Type.BYTES)
    assert(mysqlAvroType(MysqlColumn("d", "date")).getLogicalType.getName == "date")
    assert(mysqlAvroType(MysqlColumn("y", "year")).getType == Schema.Type.INT)

    // record derivation: nullable columns become [null, T] unions with null default
    val rec = mysqlRecord("orders", Seq(
      MysqlColumn("id", "bigint", nullableCol = false),
      MysqlColumn("status", "enum", "enum('a','b')")))
    assert(rec.getNamespace == "graft.cdc")
    assert(rec.getField("id").schema().getType == Schema.Type.LONG)
    assert(rec.getField("status").schema().getType == Schema.Type.UNION)
    assert(rec.getField("status").schema().getTypes.get(0).getType == Schema.Type.NULL)
  }

  test("avro pg type policies: the full scalar table (avro_types.rs:250-430)") {
    import graft.operators.AvroEncoding._
    import org.apache.avro.Schema

    // normalization (normalize_pg_type): verbose SQL spellings collapse,
    // precision/length suffixes strip
    assert(normalizePgType("character varying(255)") == "varchar")
    assert(normalizePgType("CHARACTER(10)") == "char")
    assert(normalizePgType("numeric(12,4)") == "numeric")
    assert(normalizePgType("decimal(8,2)") == "decimal")
    assert(normalizePgType("timestamp with time zone") == "timestamptz")
    assert(normalizePgType("timestamp without time zone") == "timestamp")
    assert(normalizePgType("timestamp(3)") == "timestamp")
    assert(normalizePgType("time with time zone") == "timetz")
    assert(normalizePgType("time without time zone") == "time")
    assert(normalizePgType("time(6)") == "time")
    assert(normalizePgType("timetz") == "timetz")
    assert(normalizePgType("double precision") == "double precision")
    assert(normalizePgType("varchar(64)") == "varchar")

    // integers (pg_int_types)
    assert(pgAvroType(PgColumn("a", "smallint")).getType == Schema.Type.INT)
    assert(pgAvroType(PgColumn("a", "int2")).getType == Schema.Type.INT)
    assert(pgAvroType(PgColumn("a", "integer")).getType == Schema.Type.INT)
    assert(pgAvroType(PgColumn("a", "int4")).getType == Schema.Type.INT)
    assert(pgAvroType(PgColumn("a", "serial")).getType == Schema.Type.INT)
    assert(pgAvroType(PgColumn("a", "bigint")).getType == Schema.Type.LONG)
    assert(pgAvroType(PgColumn("a", "int8")).getType == Schema.Type.LONG)
    assert(pgAvroType(PgColumn("a", "bigserial")).getType == Schema.Type.LONG)

    // floats
    assert(pgAvroType(PgColumn("f", "real")).getType == Schema.Type.FLOAT)
    assert(pgAvroType(PgColumn("f", "float4")).getType == Schema.Type.FLOAT)
    assert(pgAvroType(PgColumn("f", "double precision")).getType == Schema.Type.DOUBLE)
    assert(pgAvroType(PgColumn("f", "float8")).getType == Schema.Type.DOUBLE)

    // numeric/decimal → string with AND without precision (TD-003 parity)
    assert(pgAvroType(PgColumn("n", "numeric", precision = Some(12), scale = Some(4)))
      .getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("n", "numeric")).getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("n", "numeric(12,4)")).getType == Schema.Type.STRING)

    // strings / binary / boolean
    Seq("text", "varchar", "character varying(255)", "char", "character(10)",
      "name", "citext").foreach { t =>
      assert(pgAvroType(PgColumn("s", t)).getType == Schema.Type.STRING, t)
    }
    assert(pgAvroType(PgColumn("b", "bytea")).getType == Schema.Type.BYTES)
    assert(pgAvroType(PgColumn("b", "boolean")).getType == Schema.Type.BOOLEAN)
    assert(pgAvroType(PgColumn("b", "bool")).getType == Schema.Type.BOOLEAN)

    // date/time: PG uses MICROS logical types; naive timestamp follows the
    // policy (string default), timestamptz is ALWAYS timestamp-micros,
    // timetz stays a string so the offset survives
    assert(pgAvroType(PgColumn("d", "date")).getLogicalType.getName == "date")
    assert(pgAvroType(PgColumn("t", "timestamp")).getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("t", "timestamp without time zone")).getType == Schema.Type.STRING)
    val naiveTs = pgAvroType(PgColumn("t", "timestamp"),
      TypePolicies(naiveTimestampMode = "timestamp"))
    assert(naiveTs.getType == Schema.Type.LONG &&
      naiveTs.getLogicalType.getName == "timestamp-micros")
    val tstz = pgAvroType(PgColumn("t", "timestamptz"))
    assert(tstz.getLogicalType.getName == "timestamp-micros")
    assert(pgAvroType(PgColumn("t", "timestamp with time zone"))
      .getLogicalType.getName == "timestamp-micros")
    assert(pgAvroType(PgColumn("t", "time")).getLogicalType.getName == "time-micros")
    assert(pgAvroType(PgColumn("t", "timetz")).getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("t", "time with time zone")).getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("t", "interval")).getType == Schema.Type.STRING)

    // uuid / json / network / geometric / hstore / ranges / money / xml
    val uuid = pgAvroType(PgColumn("id", "uuid"))
    assert(uuid.getType == Schema.Type.STRING && uuid.getLogicalType.getName == "uuid")
    assert(pgAvroType(PgColumn("j", "json")).getType == Schema.Type.STRING)
    assert(pgAvroType(PgColumn("j", "jsonb")).getType == Schema.Type.STRING)
    Seq("inet", "cidr", "macaddr", "macaddr8", "point", "polygon", "circle",
      "int4range", "tstzrange", "daterange", "money", "xml").foreach { t =>
      assert(pgAvroType(PgColumn("x", t)).getType == Schema.Type.STRING, t)
    }
    val hstore = pgAvroType(PgColumn("m", "hstore"))
    assert(hstore.getType == Schema.Type.MAP &&
      hstore.getValueType.getType == Schema.Type.STRING)

    // unknown type → lossy string catch-all
    assert(pgAvroType(PgColumn("x", "some_custom_domain")).getType == Schema.Type.STRING)

    // arrays: element type mapped through the scalar table (pg_array)
    val arr = pgAvroType(PgColumn("tags", "ARRAY", isArray = true,
      elementType = Some("integer")))
    assert(arr.getType == Schema.Type.ARRAY &&
      arr.getElementType.getType == Schema.Type.INT)
    val defaulted = pgAvroType(PgColumn("tags", "ARRAY", isArray = true))
    assert(defaulted.getElementType.getType == Schema.Type.STRING) // text default

    // record derivation: nullable → [null, T] union with null default
    val rec = pgRecord("public_orders", Seq(
      PgColumn("id", "bigint", nullableCol = false),
      PgColumn("tags", "ARRAY", isArray = true, elementType = Some("text")),
      PgColumn("data", "jsonb")))
    assert(rec.getNamespace == "graft.cdc")
    assert(rec.getField("id").schema().getType == Schema.Type.LONG)
    val tags = rec.getField("tags").schema()
    assert(tags.getType == Schema.Type.UNION &&
      tags.getTypes.get(0).getType == Schema.Type.NULL &&
      tags.getTypes.get(1).getType == Schema.Type.ARRAY)
    assert(rec.getField("data").schema().getTypes.get(1).getType == Schema.Type.STRING)
  }

  /** 60 change events over 5 keys (`after.k`), spread over 4 input
   * partitions in shuffled `source.sequence` order. */
  private def keyedEvents(): DataFrame = {
    import spark.implicits._
    val seqs = new scala.util.Random(7).shuffle((1 to 60).toList)
    val rows = spark.sparkContext.parallelize(
      seqs.map(i => ("c", s"""{"k":"k${i % 5}","id":$i}""", i.toLong)), 4)
    ChangeEvent.conform(rows.toDF("op", "after", "seq")
      .withColumn("ts_ms", lit(1700000000000L))
      .withColumn("source", struct(lit("db").as("db"), lit("t").as("table"),
        col("seq").as("sequence")))
      .withColumn("event_id", concat(lit("e"), col("seq")))
      .withColumn("tx_end", lit(true)))
  }

  /** Runs `sink` over `batch`; returns the delivered records and the
   * number of producers the sink opened. */
  private def deliver(batch: DataFrame, sink: MessagingSinks.KafkaLikeSink)
      : (Seq[MessagingSinks.WireRecord], Int) = {
    SinksAndRegistrySpec.buffer.clear()
    SinksAndRegistrySpec.producers.set(0)
    sink.write(batch, 0L)
    (SinksAndRegistrySpec.buffer.toArray(Array.empty[MessagingSinks.WireRecord]).toSeq,
      SinksAndRegistrySpec.producers.get())
  }

  private def countingSink(id: String, keyTemplate: Option[String] = None) =
    new MessagingSinks.KafkaLikeSink(id, () => {
      // the factory references the companion object so executor-side closures share it
      SinksAndRegistrySpec.producers.incrementAndGet()
      new MessagingSinks.CollectingProducer(SinksAndRegistrySpec.buffer)
    }, topicTemplate = Some("cdc.${source.table}"), keyTemplate = keyTemplate)

  test("kafka-like sink: exactly-once txn commit, per-key ordering preserved") {
    val sink = countingSink("k1", keyTemplate = Some("${after.k}"))
    val input = keyedEvents()
    assert(input.rdd.getNumPartitions == 4)
    val sequence = "\"sequence\":(\\d+)".r
    def assertKeyOrder(recs: Seq[MessagingSinks.WireRecord]): Unit = {
      assert(recs.length == 60)
      assert(recs.forall(_.topic == "cdc.t"))
      val byKey = recs.groupBy(_.key)
      assert(byKey.keySet == (0 until 5).map(k => s"k$k").toSet)
      byKey.foreach { case (k, rs) =>
        val seqs = rs.map(r => sequence.findFirstMatchIn(new String(r.value)).get.group(1).toLong)
        assert(seqs.length == 12 && seqs == seqs.sorted, s"key $k out of sequence order: $seqs")
      }
    }
    // a frozen batch of a few rows: one producer task, no shuffle
    val frozen = org.apache.spark.sql.classic.GraftBridge.freeze(input)
    try {
      val (recs, producers) = deliver(frozen.df, sink)
      assert(producers == 1)
      assertKeyOrder(recs)
    } finally frozen.release()
    // no row count: the hash repartition by key, one producer per partition
    val (recs, producers) = deliver(input, sink)
    assert(producers == spark.sparkContext.defaultParallelism)
    assertKeyOrder(recs)
  }

  test("kafka-like sink: an empty frozen batch opens no producer") {
    val frozen = org.apache.spark.sql.classic.GraftBridge.freeze(events(10).filter(lit(false)))
    try {
      assert(frozen.rows == 0L)
      val (recs, producers) = deliver(frozen.df, countingSink("k0"))
      assert(recs.isEmpty)
      assert(producers == 0, s"an empty batch opened $producers producers")
    } finally frozen.release()
  }

  test("kafka-like sink: producer tasks follow the frozen row count") {
    import MessagingSinks.KafkaLikeSink.{RowsPerProducer => r, producerTasks}
    assert(r >= 2000L) // the reference sends its default 2000-event batch through one producer
    assert(producerTasks(Some(0L), 4) == 0)
    assert(producerTasks(Some(1L), 4) == 1)
    assert(producerTasks(Some(r), 4) == 1)
    assert(producerTasks(Some(r + 1), 4) == 2)
    assert(producerTasks(Some(3 * r), 4) == 3)
    assert(producerTasks(Some(1000 * r), 4) == 4)
    assert(producerTasks(None, 4) == 4)
  }

  test("kafka-like sink: failed send aborts the transaction — nothing delivered") {
    import MessagingSinks._
    val q = SinksAndRegistrySpec.buffer
    q.clear()
    val sink = new KafkaLikeSink("k2",
      () => new CollectingProducer(SinksAndRegistrySpec.buffer, failOnSend = 3),
      staticTopic = "t")
    intercept[Exception] { sink.write(events(50).coalesce(1), 0L) }
    assert(q.isEmpty) // txn aborted: no partial batch visible
  }

  test("http sink: posts JSON batches, retries 5xx then succeeds") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val bodies = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes())
        val n = hits.incrementAndGet()
        if (n == 1) { ex.sendResponseHeaders(503, -1) } // first attempt fails
        else { bodies.add(body); ex.sendResponseHeaders(200, -1) }
        ex.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sink = new MessagingSinks.HttpSink("h1", s"http://127.0.0.1:$port/hook")
      sink.write(events(5).coalesce(1), 0L)
      assert(hits.get() >= 2) // retried after 503
      val all = bodies.toArray(Array.empty[String]).mkString
      assert(all.startsWith("[") && all.contains("\"op\":\"c\""))
    } finally server.stop(0)
  }

  test("http sink retry budget: a 4xx fails after one POST, a persistent 503 after maxRetries + 1") {
    def postsUntilFailure(status: Int): Int = {
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/hook", new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          ex.getRequestBody.readAllBytes()
          hits.incrementAndGet()
          ex.sendResponseHeaders(status, -1)
          ex.close()
        }
      })
      server.start()
      try {
        val sink = new MessagingSinks.HttpSink("h2",
          s"http://127.0.0.1:${server.getAddress.getPort}/hook", maxRetries = 2)
        intercept[Exception](sink.write(events(5).coalesce(1), 0L))
        hits.get()
      } finally server.stop(0)
    }
    assert(postsUntilFailure(400) == 1) // client error: never retried
    assert(postsUntilFailure(503) == 3) // server error: 1 attempt + 2 retries
  }

  test("schema registry: fingerprint versioning, get_at_sequence/timestamp") {
    val dir = Files.createTempDirectory("graft-reg").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    val v0 = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val v1 = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("email", StringType)))
    assert(reg.register("t1", v0, atMs = 1000L) == 0L)
    assert(reg.register("t1", v0, atMs = 2000L) == 0L) // unchanged fingerprint → same seq
    assert(reg.register("t1", v1, atMs = 3000L) == 1L)
    assert(reg.getAtSequence("t1", 0L).get.fieldNames.toSeq == Seq("id", "name"))
    assert(reg.getAtSequence("t1", 5L).get.fieldNames.length == 3)
    assert(reg.getAtTimestamp("t1", 2500L).get.fieldNames.length == 2)
    assert(reg.getAtTimestamp("t1", 3500L).get.fieldNames.length == 3)
    assert(reg.getAtSequence("missing", 0L).isEmpty)
  }

  test("schema-evolution replay: lake projection uses the ledger schema AT the event's sequence") {
    import graft.operators.LakeProjection
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evo").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    val v0 = StructType(Seq(StructField("id", LongType)))
    val v1 = StructType(Seq(StructField("id", LongType), StructField("email", StringType)))
    reg.register("t1", v0, atMs = 1000L)
    reg.register("t1", v1, atMs = 2000L)

    // a replayed batch containing events from BOTH schema eras
    val evs = ChangeEvent.conform(
      Seq(
        (0L, """{"id":1}"""),
        (1L, """{"id":2,"email":"a@b.c"}"""))
        .toDF("schema_sequence", "after")
        .withColumn("op", lit("c"))
        .withColumn("source", struct(lit("db").as("db"), lit("t1").as("table"))))

    // project each era with ITS schema (never "latest" — SURVEY §7.4 risk 5)
    val eras = evs.select("schema_sequence").distinct().as[Long].collect().sorted
    val projected = eras.map { seq =>
      val schema = reg.getAtSequence("t1", seq).get
      LakeProjection(evs.filter(col("schema_sequence") === seq), schema)
    }
    assert(projected(0).columns.toSet.contains("after_id"))
    assert(!projected(0).columns.contains("after_email")) // era-0 schema has no email
    assert(projected(1).columns.contains("after_email"))
    assert(projected(1).select("after_email").head().getString(0) == "a@b.c")
  }

  test("typed lake sink: mid-stream evolution lands each era with ITS ledger schema on disk") {
    import graft.streaming.{CdcPipeline, SinkLedger}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake-evo").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    val v0 = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    reg.register("orders", v0, atMs = 1000L)

    def batchOf(rows: Seq[(Long, String, String)]) = ChangeEvent.conform(
      rows.toDF("schema_sequence", "after", "event_id")
        .withColumn("op", lit("c"))
        .withColumn("ts_ms", lit(1500L))
        .withColumn("tx_end", lit(true))
        .withColumn("source", struct(lit("db").as("db"), lit("orders").as("table"))))

    val sink = new TypedLakeSink("lake", s"$dir/out", reg)
    val cfg = CdcPipeline.Config(Seq(sink), ledgerDir = s"$dir/led")
    val ledger = new SinkLedger(s"$dir/led")

    // batch 0: era-0 only
    CdcPipeline.processBatch(cfg, ledger)(batchOf(Seq(
      (0L, """{"id":1,"name":"a"}""", "e1"),
      (0L, """{"id":2,"name":"b"}""", "e2"))), 0L)

    // DDL lands: the ledger evolves MID-STREAM
    reg.register("orders", StructType(v0.fields :+ StructField("email", StringType)), atMs = 2000L)

    // batch 1 carries one era-0 straggler plus era-1 rows — the straggler
    // must STILL project with era-0's schema even though a newer version
    // now exists (at-sequence correlation, never "latest")
    CdcPipeline.processBatch(cfg, ledger)(batchOf(Seq(
      (0L, """{"id":3,"name":"c"}""", "e3"),
      (1L, """{"id":4,"name":"d","email":"d@x"}""", "e4"))), 1L)

    val era0 = spark.read.parquet(s"$dir/out/table=orders/schema_version=0")
    val era1 = spark.read.parquet(s"$dir/out/table=orders/schema_version=1")
    assert(era0.count() == 3 && era1.count() == 1)
    assert(era0.columns.contains("after_name") && !era0.columns.contains("after_email"))
    assert(era0.select("after_name").as[String].collect().toSet == Set("a", "b", "c"))
    assert(era1.columns.contains("after_email"))
    assert(era1.select("after_email").head().getString(0) == "d@x")
    // both eras carry the flat meta columns with the right provenance
    assert(era0.select("source_table").distinct().head().getString(0) == "orders")
    assert(era0.filter(col("_batch_id") === 1L).count() == 1) // the straggler
    // the multi-era split's staging directory is cleaned up after the write
    assert(!new java.io.File(s"$dir/out").listFiles().exists(_.getName.startsWith("_staging")))
    // era files carry ONLY their own era's columns (the split must not
    // union-pollute era-0 files with era-1's email column)
    assert(!era0.columns.contains("after_email"))
  }

  test("typed lake sink: multi-TABLE multi-era batch splits once, each era exact") {
    import graft.streaming.{CdcPipeline, SinkLedger}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake-multi").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    reg.register("orders", StructType(Seq(StructField("id", LongType))), atMs = 1000L)
    reg.register("users", StructType(Seq(StructField("uid", LongType),
      StructField("email", StringType))), atMs = 1000L)

    val evs = ChangeEvent.conform(
      Seq(
        ("orders", 0L, """{"id":1}""", "e1"),
        ("orders", 0L, """{"id":2}""", "e2"),
        ("users", 0L, """{"uid":7,"email":"u@x"}""", "e3"))
        .toDF("t", "schema_sequence", "after", "event_id")
        .withColumn("op", lit("c"))
        .withColumn("ts_ms", lit(1500L))
        .withColumn("tx_end", lit(true))
        .withColumn("source", struct(lit("db").as("db"), col("t").as("table")))
        .drop("t"))

    val sink = new TypedLakeSink("lake", s"$dir/out", reg)
    val cfg = CdcPipeline.Config(Seq(sink), ledgerDir = s"$dir/led")
    CdcPipeline.processBatch(cfg, new SinkLedger(s"$dir/led"))(evs, 0L)

    val orders = spark.read.parquet(s"$dir/out/table=orders/schema_version=0")
    val users = spark.read.parquet(s"$dir/out/table=users/schema_version=0")
    assert(orders.count() == 2 && users.count() == 1)
    assert(orders.columns.contains("after_id") && !orders.columns.contains("after_email"))
    assert(users.columns.contains("after_uid") && users.columns.contains("after_email"))
    assert(users.select("after_email").head().getString(0) == "u@x")
    assert(!new java.io.File(s"$dir/out").listFiles().exists(_.getName.startsWith("_staging")))
  }

  test("typed lake sink: multi-era split survives table names Spark escapes in partition paths") {
    // Spark's partitioned write escapes '=', '%', and space in directory
    // names (escapePathName) — a hand-interpolated "$staging/__t=$table"
    // read path would miss the escaped directory entirely. The staging
    // read-back must go through partition-column filters instead.
    import graft.streaming.{CdcPipeline, SinkLedger}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake-esc").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    val odd = "od d%x" // space + percent: both escaped on write
    val v0 = StructType(Seq(StructField("id", LongType)))
    reg.register(odd, v0, atMs = 1000L)

    def batchOf(rows: Seq[(Long, String, String)]) = ChangeEvent.conform(
      rows.toDF("schema_sequence", "after", "event_id")
        .withColumn("op", lit("c"))
        .withColumn("ts_ms", lit(1500L))
        .withColumn("tx_end", lit(true))
        .withColumn("source", struct(lit("db").as("db"), lit(odd).as("table"))))

    reg.register(odd, StructType(v0.fields :+ StructField("note", StringType)), atMs = 2000L)

    val sink = new TypedLakeSink("lake", s"$dir/out", reg)
    val cfg = CdcPipeline.Config(Seq(sink), ledgerDir = s"$dir/led")
    // two eras in ONE batch forces the staging split + read-back path
    CdcPipeline.processBatch(cfg, new SinkLedger(s"$dir/led"))(batchOf(Seq(
      (0L, """{"id":1}""", "e1"),
      (1L, """{"id":2,"note":"n"}""", "e2"))), 0L)

    // the final layout uses the same escaping as Spark's partitioned writes
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(odd)
    assert(esc != odd) // the fixture really exercises escaping
    val era0 = spark.read.parquet(s"$dir/out/table=$esc/schema_version=0")
    val era1 = spark.read.parquet(s"$dir/out/table=$esc/schema_version=1")
    assert(era0.count() == 1 && era1.count() == 1)
    assert(era1.select("after_note").head().getString(0) == "n")
    assert(era0.select("source_table").head().getString(0) == odd)
    assert(!new java.io.File(s"$dir/out").listFiles().exists(_.getName.startsWith("_staging")))
  }

  test("clickhouse DDL: upsert vs changelog engines + meta columns (ddl.rs:17-67)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("amount", DecimalType(10, 2)),
      StructField("tags", ArrayType(StringType))))
    val up = ClickHouseDdl.createTable("db", "t", schema, Seq("id"), ClickHouseDdl.Upsert)
    assert(up.contains("ReplacingMergeTree(_version, _deleted) ORDER BY (`id`)"))
    assert(up.contains("`_op` LowCardinality(String)"))
    assert(up.contains("`amount` Nullable(Decimal(10, 2))"))
    assert(up.contains("`tags` Array(String)"))
    val ch = ClickHouseDdl.createTable("db", "t", schema, Seq("id"), ClickHouseDdl.Changelog)
    assert(ch.contains("MergeTree ORDER BY (`id`, _version)"))
    val read = ClickHouseDdl.upsertReadQuery("db", "t", schema, Seq("id"))
    assert(read.contains("_rn = 1 AND _deleted = 0"))
  }

  test("udf host: mutate, drop, fan-out with synthetic marking, timeout guard") {
    import graft.operators.UdfHost
    val transform: UdfHost.Transform = evs => evs.flatMap { ev =>
      if (ev.op == "d") Iterator.empty // drop deletes
      else if (ev.tsMs == 1L) Iterator(ev, ev.copy(eventId = null, after = """{"fanout":true}"""))
      else Iterator(ev.copy(topic = "rerouted"))
    }
    val out = UdfHost("js-1", transform)(events(3)
      .withColumn("op", when(col("ts_ms") === 2, "d").otherwise("c")))
    val rows = out.collect()
    assert(rows.length == 3) // 3 - 1 dropped + 1 fanout
    val synth = out.filter(col("synthetic") === "js-1")
    assert(synth.count() == 1)
    assert(out.filter(col("routing.topic") === "rerouted").count() == 1)

    val slow: UdfHost.Transform = evs => { Thread.sleep(3000); evs }
    intercept[Exception] {
      UdfHost("slow", slow, timeoutMs = 200)(events(3)).collect()
    }
  }
}

object SinksAndRegistrySpec {
  // static buffer: foreachPartition closures must reach it after serialization
  val buffer = new ConcurrentLinkedQueue[MessagingSinks.WireRecord]()
  val producers = new java.util.concurrent.atomic.AtomicInteger(0)
}
