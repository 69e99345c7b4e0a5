package graft.streaming

import com.sun.net.httpserver.HttpServer
import graft.SparkSpec
import graft.operators.AvroEncoding

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/**
 * Operational surfaces: bounded DLQ queue with overflow policies +
 * ack/purge REST (reference dlq.rs:23-200, rest-api pipelines.rs:80-120),
 * the metrics registry + Prometheus exposition (o11y df_metrics.rs), and
 * the Confluent-protocol SR client's register-and-cache behavior
 * (encoding/avro.rs:347-480).
 */
class OpsSurfaceSpec extends SparkSpec {

  private val http = HttpClient.newHttpClient()
  private def send(method: String, url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.noBody()).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  // — DLQ queue —

  test("drop_oldest evicts from the head at capacity") {
    val q = new Dlq.DlqQueue(Files.createTempDirectory("dlq").toString, 3, Dlq.DropOldest)
    (1 to 5).foreach(i => q.push(s"""{"n":$i}"""))
    assert(q.len == 3 && q.evictedTotal == 2)
    assert(q.peek(10).map(_._2) == Seq("""{"n":3}""", """{"n":4}""", """{"n":5}"""))
  }

  test("reject drops the incoming entry and counts it") {
    val q = new Dlq.DlqQueue(Files.createTempDirectory("dlq").toString, 2, Dlq.Reject)
    assert(q.push("a").isDefined && q.push("b").isDefined)
    assert(q.push("c").isEmpty && q.rejectedTotal == 1)
    assert(q.peek(10).map(_._2) == Seq("a", "b"))
  }

  test("block waits for an ack then proceeds; times out to reject") {
    val q = new Dlq.DlqQueue(Files.createTempDirectory("dlq").toString, 1, Dlq.Block,
      blockTimeoutMs = 5000)
    val s1 = q.push("a").get
    val acker = new Thread(() => { Thread.sleep(300); q.ack(s1) })
    acker.start()
    val t0 = System.currentTimeMillis()
    assert(q.push("b").isDefined) // unblocked by the ack
    assert(System.currentTimeMillis() - t0 >= 250)
    acker.join()
    // now full again with nobody acking: short timeout → rejected
    val q2 = new Dlq.DlqQueue(Files.createTempDirectory("dlq").toString, 1, Dlq.Block,
      blockTimeoutMs = 300)
    q2.push("x")
    assert(q2.push("y").isEmpty && q2.rejectedTotal == 1)
  }

  test("ack is partial and seq survives restart; purge empties") {
    val dir = Files.createTempDirectory("dlq").toString
    val q = new Dlq.DlqQueue(dir, 100)
    val seqs = (1 to 4).map(i => q.push(s"e$i").get)
    assert(q.ack(seqs(1)) == 2 && q.len == 2)
    val reopened = new Dlq.DlqQueue(dir, 100)
    assert(reopened.push("e5").get > seqs.last) // monotonic across restart
    assert(reopened.purge() == 3 && reopened.len == 0)
  }

  test("DLQ REST surface: entries/count/ack/purge") {
    val q = new Dlq.DlqQueue(Files.createTempDirectory("dlq").toString, 100)
    val s1 = q.push("""{"bad":1}""").get; q.push("""{"bad":2}""")
    val cp = new ControlPlane(spark, 0).registerDlq("p1", q).start()
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      val (_, entries) = send("GET", s"$base/dlq/p1/entries?limit=10")
      assert(entries.contains(""""entry":{"bad":1}""") && entries.contains(s""""seq":$s1"""))
      assert(send("GET", s"$base/dlq/p1/count")._2.contains("\"count\":2"))
      assert(send("POST", s"$base/dlq/p1/ack?upTo=$s1")._2 == """{"acked":1}""")
      assert(send("POST", s"$base/dlq/p1/purge")._2 == """{"purged":1}""")
      assert(send("GET", s"$base/dlq/nope/count")._1 == 404)
    } finally cp.stop()
  }

  // — schema & sensing inspection (reference schemas.rs + sensing.rs) —

  test("schema REST surface: list, detail, versions, at-sequence lookup") {
    import org.apache.spark.sql.types.StructType
    val dir = Files.createTempDirectory("schemaRest").toString
    val reg = new SchemaRegistry(spark, s"$dir/ledger")
    reg.register("orders", StructType.fromDDL("id bigint, total double"), 1000L)
    reg.register("orders", StructType.fromDDL("id bigint, total double, note string"), 2000L)
    reg.register("items", StructType.fromDDL("sku string"), 1500L)
    val cp = new ControlPlane(spark, 0).registerSchemaRegistry("p1", reg).start()
    val base = s"http://127.0.0.1:${cp.boundPort}/pipelines/p1"
    try {
      val (c1, list) = send("GET", s"$base/schemas")
      assert(c1 == 200 && list.contains(""""table":"orders","fingerprint":""""))
      assert(list.contains(""""sequence":1""") && list.contains(""""column_count":3"""))
      assert(list.contains(""""table":"items""""))
      val (c2, detail) = send("GET", s"$base/schemas/orders")
      assert(c2 == 200 && detail.contains(""""name":"note","data_type":"string""""))
      assert(detail.contains(""""ordinal_position":3"""))
      val (c3, versions) = send("GET", s"$base/schemas/orders/versions")
      assert(c3 == 200 && versions.contains(""""version":0""") &&
        versions.contains(""""version":1"""))
      // the replay-correctness lookup: sequence 0 predates `note`
      val (c4, at0) = send("GET", s"$base/schemas/orders/at/0")
      assert(c4 == 200 && !at0.contains("note") && at0.contains(""""name":"total""""))
      assert(send("GET", s"$base/schemas/ghost")._1 == 404)
      assert(send("GET", s"http://127.0.0.1:${cp.boundPort}/pipelines/nope/schemas")._1 == 404)
      assert(send("POST", s"$base/schemas")._1 == 405)
    } finally cp.stop()
  }

  test("sensing REST surface: inferred schemas, json-schema export, stats, drift") {
    val sensor = new SchemaSensor(SchemaSensor.Config(warmupEvents = 100))
    sensor.observe("events", """{"k":1,"v":"x"}""")
    sensor.observe("events", """{"k":2,"v":"y","extra":1.5}""")
    sensor.observe("events", """{"k":2,"v":"y","extra":1.5}""") // cache hit
    sensor.recordDrift("events",
      Seq(("k", "type_mismatch", "varchar", "int", 42L)))
    val cp = new ControlPlane(spark, 0).registerSensor("p1", sensor).start()
    val base = s"http://127.0.0.1:${cp.boundPort}/pipelines/p1"
    try {
      val (c1, list) = send("GET", s"$base/sensing/schemas")
      assert(c1 == 200 && list.contains(""""table":"events"""") &&
        list.contains(""""event_count":3""") && list.contains(""""sequence":1"""))
      val (c2, detail) = send("GET", s"$base/sensing/schemas/events")
      assert(c2 == 200 &&
        detail.contains(""""name":"extra","types":["float"],"nullable":false,"optional":true"""))
      val (c3, js) = send("GET", s"$base/sensing/schemas/events/json-schema")
      assert(c3 == 200 && js.contains(""""$schema"""") &&
        js.contains(""""k":{"type":"integer"}""") && js.contains(""""required":["k","v"]"""))
      val (c4, stats) = send("GET", s"$base/sensing/stats")
      assert(c4 == 200 && stats.contains(""""cache_hits":1""") &&
        stats.contains(""""total_cache_misses":2"""))
      val (c5, drift) = send("GET", s"$base/drift/events")
      assert(c5 == 200 && drift.contains(""""kind":"type_mismatch"""") &&
        drift.contains(""""n":42"""))
      assert(send("GET", s"$base/drift")._2.startsWith("""[{"table":"events""""))
      assert(send("GET", s"$base/sensing/schemas/ghost")._1 == 404)
      assert(send("GET", s"$base/drift/ghost")._1 == 404)
    } finally cp.stop()
  }

  test("sensing evidence REST surface: HLL + heavy hitters + reservoir dump") {
    val sensor = new SchemaSensor()
    // what the pipeline's sensing stage pushes: the collected row of
    // SchemaSensing.observeEvidence (sketch outputs, driver-side k-bounded)
    sensor.recordEvidence("events", nUniqueFields = 37L,
      heavyHitters = Seq(("k", 1200L), ("v", 1180L), ("sess_a1b2", 3L)),
      sampledFields = Seq("k", "v", "sess_a1b2", "sess_c3d4"))
    val cp = new ControlPlane(spark, 0).registerSensor("p1", sensor).start()
    val base = s"http://127.0.0.1:${cp.boundPort}/pipelines/p1"
    try {
      val (c1, one) = send("GET", s"$base/sensing/evidence/events")
      assert(c1 == 200 && one.contains(""""n_unique_fields":37""") &&
        one.contains("""{"field":"k","count":1200}""") &&
        one.contains(""""sampled_fields":["k","v","sess_a1b2","sess_c3d4"]"""))
      val (c2, all) = send("GET", s"$base/sensing/evidence")
      assert(c2 == 200 && all.startsWith("""[{"table":"events""""))
      assert(send("GET", s"$base/sensing/evidence/ghost")._1 == 404)
    } finally cp.stop()
  }

  // — metrics —

  test("registry scrape emits prometheus text for counters/gauges/histograms") {
    val r = new Metrics.Registry
    r.counter("graft_source_events_total", Seq("pipeline" -> "p1", "op" -> "c"))
    r.counterAdd("graft_source_events_total", 41.0, Seq("pipeline" -> "p1", "op" -> "c"))
    r.gauge("graft_source_lag_seconds", 1.5, Seq("pipeline" -> "p1"))
    r.observe("graft_sink_latency_seconds", 0.2, Seq("pipeline" -> "p1"))
    r.observe("graft_sink_latency_seconds", 7.0, Seq("pipeline" -> "p1"))
    // label values come from YAML: a line feed must not split the sample line
    r.gauge("graft_sink_up", 1.0, Seq("sink" -> "lake\nb\\\"q"))
    val text = r.scrape()
    assert(text.contains("graft_sink_up{sink=\"lake\\nb\\\\\\\"q\"} 1\n"))
    assert(text.split("\n").forall(_.matches("""[a-z_]+(\{.*\})? \S+""")), text)
    assert(text.contains("""graft_source_events_total{op="c",pipeline="p1"} 42"""))
    assert(text.contains("""graft_source_lag_seconds{pipeline="p1"} 1.5"""))
    assert(text.contains("""graft_sink_latency_seconds_count{pipeline="p1"} 2"""))
    assert(text.contains("""le="0.25""""))
    val cp = new ControlPlane(spark, 0, metrics = Some(r)).start()
    try {
      val (code, body) = send("GET", s"http://127.0.0.1:${cp.boundPort}/metrics")
      assert(code == 200 && body == text)
    } finally cp.stop()
  }

  test("streaming listener feeds per-pipeline series from progress events") {
    val r = new Metrics.Registry
    val listener = new Metrics.Listener(r)
    spark.streams.addListener(listener)
    try {
      import org.apache.spark.sql.functions._
      val dir = Files.createTempDirectory("metrics").toString
      val q = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
        .select(col("value"))
        .writeStream.format("noop").option("checkpointLocation", s"$dir/ckpt")
        .queryName("metrics-probe").start()
      try {
        val deadline = System.currentTimeMillis() + 20000
        while (r.counterValue("graft_sink_batch_total",
          Seq("pipeline" -> "metrics-probe")) < 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q.stop()
      assert(r.counterValue("graft_sink_batch_total", Seq("pipeline" -> "metrics-probe")) >= 1)
      assert(r.counterValue("graft_pipelines_total") >= 1)
      assert(r.scrape().contains("graft_stage_latency_seconds_count"))
    } finally spark.streams.removeListener(listener)
  }

  // — Confluent SR client —

  test("http registry client registers once per schema and caches the id") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/subjects", ex => {
      hits.incrementAndGet()
      assert(ex.getRequestURI.getPath == "/subjects/orders-value/versions")
      val body = new String(ex.getRequestBody.readAllBytes())
      assert(body.contains("\"schema\""))
      val resp = s"""{"id":${100 + hits.get()}}""".getBytes
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    server.start()
    try {
      val client = new AvroEncoding.HttpSchemaRegistryClient(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val id1 = client.register("orders", """{"type":"record"}""")
      val id2 = client.register("orders", """{"type":"record"}""")
      assert(id1 == 101 && id2 == 101 && hits.get() == 1) // cached, one round-trip
      assert(client.register("orders", """{"type":"other"}""") == 102) // new schema → new call
    } finally server.stop(0)
  }
}
