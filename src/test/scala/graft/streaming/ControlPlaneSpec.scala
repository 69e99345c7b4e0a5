package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

class ControlPlaneSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val res = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def post(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val res = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  test("health, pipeline list/status/stop over a live streaming query") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val cp = new ControlPlane(spark).start()
    try {
      assert(get(cp.boundPort, "/health") == (200, """{"status":"ok"}"""))

      val ms = MemoryStream[Int]
      val dir = Files.createTempDirectory("cp").toString
      val q = ms.toDF().writeStream.queryName("cp_test_pipeline")
        .option("checkpointLocation", s"$dir/chk")
        .format("memory").trigger(Trigger.ProcessingTime("200 milliseconds")).start()
      ms.addData(1, 2, 3)
      q.processAllAvailable()

      val (c1, list) = get(cp.boundPort, "/pipelines")
      assert(c1 == 200 && list.contains("cp_test_pipeline") && list.contains("\"isActive\":true"))

      val (c2, status) = get(cp.boundPort, s"/pipelines/${q.id}")
      assert(c2 == 200 && status.contains("\"isActive\":true") && status.contains("lastProgress"))

      val (c3, stopped) = post(cp.boundPort, s"/pipelines/${q.id}/stop")
      assert(c3 == 200 && stopped.contains("true"))
      q.awaitTermination(30000)
      assert(!q.isActive)

      assert(get(cp.boundPort, "/pipelines/nonexistent")._1 == 404)
    } finally cp.stop()
  }

  test("dlq endpoint serves recent journal entries") {
    val cp = new ControlPlane(spark).start()
    try {
      val dir = Files.createTempDirectory("cpdlq").toString
      import spark.implicits._
      Seq((1700000000001L, "e1", "boom")).toDF("timestamp", "event_id", "error")
        .write.parquet(s"$dir/dlq")
      val (code, body) = get(cp.boundPort, s"/dlq?path=$dir/dlq&limit=5")
      assert(code == 200 && body.contains("e1") && body.contains("boom"))
      assert(get(cp.boundPort, "/dlq")._1 == 400)
    } finally cp.stop()
  }

  // A name with a quote, a backslash and two control characters: any of
  // them pasted into JSON text unescaped makes the document unparseable.
  private val weird = "we\"ird\\name\t\u0001"
  private val enc = URLEncoder.encode(weird, StandardCharsets.UTF_8)
  private val json = new ObjectMapper()

  test("404 bodies name an odd path segment in JSON that parses, for every route family") {
    val reg = new SchemaRegistry(spark, Files.createTempDirectory("cpodd").toString + "/ledger")
    reg.register("orders", org.apache.spark.sql.types.StructType.fromDDL("id bigint"), 1000L)
    val cp = new ControlPlane(spark).registerSchemaRegistry("p1", reg)
      .registerSensor("p1", new SchemaSensor())
      .registerDlq("p1", new Dlq.DlqQueue(Files.createTempDirectory("cpoddq").toString, 10))
      .start()
    try {
      for ((path, code) <- Seq(
          s"/pipelines/$enc/schemas" -> 404,
          s"/pipelines/p1/schemas/$enc" -> 404,
          s"/pipelines/p1/schemas/$enc/at/1" -> 404,
          s"/pipelines/p1/schemas/orders/at/$enc" -> 400,
          s"/pipelines/$enc/sensing/schemas" -> 404,
          s"/pipelines/p1/sensing/schemas/$enc" -> 404,
          s"/pipelines/p1/sensing/schemas/$enc/json-schema" -> 404,
          s"/pipelines/p1/sensing/evidence/$enc" -> 404,
          s"/pipelines/$enc/drift" -> 404,
          s"/pipelines/p1/drift/$enc" -> 404,
          s"/dlq/$enc/count" -> 404,
          s"/pipelines/$enc" -> 404)) {
        val (c, body) = get(cp.boundPort, path)
        assert(c == code, s"$path: $body")
        assert(json.readTree(body).get("error").asText.contains(weird), s"$path: $body")
      }
    } finally cp.stop()
  }

  test("query list, sensed tables, evidence and drift round-trip odd names through JSON") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sensor = new SchemaSensor()
    sensor.observe(weird, """{"k":1}""")
    sensor.recordEvidence(weird, 1L, Seq((weird, 2L)), Seq(weird))
    sensor.recordDrift(weird, Seq((weird, "type_mismatch", "int", weird, 3L)))
    val cp = new ControlPlane(spark).registerSensor("p1", sensor).start()
    val ms = MemoryStream[Int]
    val q = ms.toDF().writeStream.queryName(weird).format("noop")
      .option("checkpointLocation", Files.createTempDirectory("cpoddq").toString)
      .start()
    try {
      val (c1, list) = get(cp.boundPort, "/pipelines")
      assert(c1 == 200)
      val names = json.readTree(list).elements()
      var found = false
      while (names.hasNext) found ||= names.next().get("name").asText == weird
      assert(found, list)
      val base = "/pipelines/p1"
      def doc(path: String) = { val (c, b) = get(cp.boundPort, path); assert(c == 200, b); json.readTree(b) }
      assert(doc(s"$base/sensing/schemas").at("/0/table").asText == weird)
      assert(doc(s"$base/sensing/schemas/$enc").get("table").asText == weird)
      assert(doc(s"$base/sensing/schemas/$enc/json-schema").get("title").asText == weird)
      assert(doc(s"$base/sensing/stats").at("/tables/0/table").asText == weird)
      val ev = doc(s"$base/sensing/evidence/$enc")
      assert(ev.at("/heavy_hitters/0/field").asText == weird &&
        ev.at("/sampled_fields/0").asText == weird)
      val drift = doc(s"$base/drift/$enc")
      assert(drift.get("table").asText == weird && drift.at("/columns/0/column").asText == weird &&
        drift.at("/columns/0/observed").asText == weird)
    } finally { q.stop(); cp.stop() }
  }
}
