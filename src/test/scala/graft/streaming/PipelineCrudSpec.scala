package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec

import java.io.{BufferedReader, InputStreamReader}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Pipeline CRUD end-to-end over the REST control plane (reference
 * rest-api/src/pipelines.rs:44-120 + pipeline_manager.rs:205-930):
 * create from a YAML spec, observe rows flow, PATCH a filter and observe
 * the changed output after restart-from-checkpoint, stop, delete.
 */
class PipelineCrudSpec extends SparkSpec {

  private val http = HttpClient.newHttpClient()

  private def send(method: String, url: String, body: String = ""): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def writeSegment(dir: String, name: String, ids: Range, op: Long => String): Unit = {
    val events = ids.map { i =>
      s"""{"op":"${op(i.toLong)}","after":"{\\"id\\":$i}","ts_ms":${1700000000000L + i},""" +
        s""""event_id":"e$i","source":{"db":"inventory","table":"orders","sequence":$i},"tx_end":true}"""
    }
    Files.write(Paths.get(s"$dir/$name"), events.mkString("\n").getBytes)
  }

  private def await(timeoutMs: Long = 30000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(200)
    }
    cond
  }

  private def lakeOps(lake: String): Map[String, Long] =
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(lake).groupBy("op").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    } catch { // dir absent or no parquet footers yet — still warming up
      case _: org.apache.spark.sql.AnalysisException => Map.empty
    }

  test("REST create → rows flow → PATCH filter → changed output → stop → delete") {
    val root = Files.createTempDirectory("crud").toString
    val backlog = s"$root/backlog"; val lake = s"$root/lake"
    Files.createDirectories(Paths.get(backlog))
    // segment 0: ops c for even ids, u for odd
    writeSegment(backlog, "seg-000.jsonl", 1 to 20, i => if (i % 2 == 0) "c" else "u")

    val mgr = new PipelineManager(spark, s"$root/pipelines")
    val cp = new ControlPlane(spark, 0, Some(mgr)).start()
    val base = s"http://127.0.0.1:${cp.boundPort}"
    try {
      val spec =
        s"""metadata:
           |  name: orders-cdc
           |  tenant: acme
           |  labels: {env: test}
           |spec:
           |  source:
           |    kind: backlog
           |    path: $backlog
           |  processors:
           |    - kind: filter
           |      ops: [c, u]
           |      tables: ["inventory.*"]
           |  sinks:
           |    - kind: parquet
           |      id: lake
           |      path: $lake
           |  commit_policy: required
           |""".stripMargin
      val (code, created) = send("POST", s"$base/pipelines", spec)
      assert(code == 201, created)
      assert(created.contains("\"name\":\"orders-cdc\"") && created.contains("\"status\":\"running\""))

      // rows flow: 10 c + 10 u from segment 0
      assert(await() { val m = lakeOps(lake); m.getOrElse("c", 0L) == 10 && m.getOrElse("u", 0L) == 10 },
        s"initial flow incomplete: ${lakeOps(lake)}")

      // list + get surfaces
      val (_, listing) = send("GET", s"$base/pipelines")
      assert(listing.contains("\"orders-cdc\"") && listing.contains("\"checkpoints\""))
      val (gc, info) = send("GET", s"$base/pipelines/orders-cdc")
      assert(gc == 200 && info.contains("\"isActive\":true"))

      // PATCH: narrow the filter to creates only; restart-from-checkpoint.
      // Reference merge semantics (pipeline_manager.rs:1049-1057) are
      // element-wise by index — a shorter patch array keeps the base tail —
      // so the patch must overwrite BOTH elements to narrow ["c","u"].
      val (pc, patched) = send("PATCH", s"$base/pipelines/orders-cdc",
        """{"spec":{"processors":[{"kind":"filter","ops":["c","c"]}]}}""")
      assert(pc == 200, patched)
      assert(patched.contains("\"ops\":[\"c\",\"c\"]"), patched)

      // new events after the patch: only the c's may land
      writeSegment(backlog, "seg-001.jsonl", 21 to 40, i => if (i % 2 == 0) "c" else "u")
      assert(await() { lakeOps(lake).getOrElse("c", 0L) == 20 },
        s"patched flow incomplete: ${lakeOps(lake)}")
      // updates stay at the pre-patch count — the patched filter drops them
      assert(lakeOps(lake).getOrElse("u", 0L) == 10, lakeOps(lake).toString)

      // pause / resume lifecycle
      val (_, pausedInfo) = send("POST", s"$base/pipelines/orders-cdc/pause")
      assert(pausedInfo.contains("\"status\":\"paused\""))
      val (_, resumed) = send("POST", s"$base/pipelines/orders-cdc/resume")
      assert(resumed.contains("\"status\":\"running\""))

      // stop + delete cleans checkpoints
      val (_, stopped) = send("POST", s"$base/pipelines/orders-cdc/stop")
      assert(stopped.contains("\"status\":\"stopped\""))
      val (dc, _) = send("DELETE", s"$base/pipelines/orders-cdc")
      assert(dc == 200)
      assert(!Files.exists(Paths.get(s"$root/pipelines/orders-cdc")))
      val (nc, _) = send("GET", s"$base/pipelines/orders-cdc")
      assert(nc == 404)
    } finally cp.stop()
  }

  /** Status code of a request sent byte for byte, so that no client
   * normalizes an encoded dot segment away before the server sees it. */
  private def rawStatus(port: Int, method: String, path: String): Int = {
    val s = new Socket("127.0.0.1", port)
    try {
      s.setSoTimeout(30000)
      s.getOutputStream.write((s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        "Content-Length: 0\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
      s.getOutputStream.flush()
      new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8)).readLine().split(" ")(1).toInt
    } finally s.close()
  }

  test("a pipeline name is one path segment: '..' and '.' delete nothing, '../x' is refused") {
    val root = Files.createTempDirectory("crudname")
    val base = root.resolve("pipelines")
    val sentinel = Files.writeString(root.resolve("sentinel"), "keep")
    val otherPipeline = Files.writeString(
      Files.createDirectories(base.resolve("other/checkpoint")).resolve("keep"), "keep")
    val mgr = new PipelineManager(spark, base.toString)
    intercept[IllegalArgumentException](mgr.delete(".."))
    intercept[IllegalArgumentException](mgr.delete("."))
    val cp = new ControlPlane(spark, 0, Some(mgr)).start()
    try {
      assert(rawStatus(cp.boundPort, "DELETE", "/pipelines/%2E%2E") == 400)
      assert(rawStatus(cp.boundPort, "DELETE", "/pipelines/%2E") == 400)
      val (code, body) = send("POST", s"http://127.0.0.1:${cp.boundPort}/pipelines",
        s"""metadata: {name: ../x}
           |spec:
           |  source: {kind: backlog, path: $root/backlog}
           |  sinks: [{kind: memory, id: m}]
           |""".stripMargin)
      assert(code == 400, body)
    } finally cp.stop()
    assert(Files.exists(sentinel) && Files.exists(otherPipeline))
    assert(!Files.exists(root.resolve("x")))
  }

  test("manager info JSON round-trips a sink id with a quote, a backslash and a control char") {
    val json = new ObjectMapper()
    val root = Files.createTempDirectory("crudsink").toString
    Files.createDirectories(Paths.get(s"$root/backlog"))
    val sinkId = "we\"ird\\sink\u0001"
    val mgr = new PipelineManager(spark, s"$root/pipelines")
    val cp = new ControlPlane(spark, 0, Some(mgr)).start()
    val base = s"http://127.0.0.1:${cp.boundPort}/pipelines"
    try {
      val (cc, created) = send("POST", base,
        s"""metadata: {name: odd-sink}
           |spec:
           |  source: {kind: backlog, path: $root/backlog}
           |  sinks: [{kind: memory, id: ${json.writeValueAsString(sinkId)}}]
           |""".stripMargin)
      assert(cc == 201, created)
      val (gc, info) = send("GET", s"$base/odd-sink")
      assert(gc == 200, info)
      val node = json.readTree(info)
      assert(node.at("/ops/checkpoints").properties().asScala.map(_.getKey).toSeq == Seq(sinkId))
      assert(node.at("/spec/spec/sinks/0/id").asText == sinkId)
      assert(json.readTree(send("GET", base)._2).at("/0/name").asText == "odd-sink")
    } finally { mgr.delete("odd-sink"); cp.stop() }
  }

  test("deleting a pipeline twice answers 200, then 404 like every other per-name route") {
    val root = Files.createTempDirectory("cruddelete").toString
    Files.createDirectories(Paths.get(s"$root/backlog"))
    val mgr = new PipelineManager(spark, s"$root/pipelines")
    val cp = new ControlPlane(spark, 0, Some(mgr)).start()
    val base = s"http://127.0.0.1:${cp.boundPort}/pipelines"
    try {
      val (cc, created) = send("POST", base,
        s"""metadata: {name: twice}
           |spec:
           |  source: {kind: backlog, path: $root/backlog}
           |  sinks: [{kind: memory, id: m}]
           |""".stripMargin)
      assert(cc == 201, created)
      val (first, deleted) = send("DELETE", s"$base/twice")
      assert(first == 200 && deleted.contains("\"deleted\":true"), deleted)
      val (second, missing) = send("DELETE", s"$base/twice")
      assert(second == 404, missing)
      assert(new ObjectMapper().readTree(missing).get("error").asText.contains("twice"), missing)
      intercept[NoSuchElementException](mgr.delete("never-created"))
    } finally cp.stop()
  }

  test("each managed pipeline tags its sink jobs with its own name") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = Files.createTempDirectory("crudtags").toString
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .foreach(_.split(",").filter(_.startsWith("graft:")).foreach(tags.add))
    }
    val names = Seq("tags-a", "tags-b")
    val mgr = new PipelineManager(spark, s"$root/pipelines")
    spark.sparkContext.addSparkListener(listener)
    try {
      names.foreach { name =>
        Files.createDirectories(Paths.get(s"$root/$name/backlog"))
        writeSegment(s"$root/$name/backlog", "seg-000.jsonl", 1 to 5, _ => "c")
        // both pipelines name their sink `lake`
        mgr.create(
          s"""metadata: {name: $name}
             |spec:
             |  source: {kind: backlog, path: $root/$name/backlog}
             |  sinks: [{kind: parquet, id: lake, path: $root/$name/lake}]
             |""".stripMargin)
      }
      val expected = names.map(CdcPipeline.sinkJobTag(_, "lake")).toSet
      assert(await()(names.forall(n => lakeOps(s"$root/$n/lake").get("c").contains(5L))))
      assert(await()(expected.subsetOf(tags.asScala.toSet)),
        s"sink job tags ${tags.asScala.toSet}, expected $expected")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      names.filter(mgr.get(_).isDefined).foreach(mgr.delete)
    }
  }

  test("spec loader refuses an unknown source kind and a file sink without a path; REST answers 400") {
    def spec(source: String, sink: String) =
      s"""metadata: {name: refused}
         |spec:
         |  source: $source
         |  sinks: [$sink]
         |""".stripMargin
    val backlog = "{kind: backlog, path: /tmp/x}"
    val refused = Seq(
      spec("{kind: mysql_binlg, path: /tmp/x}", "{kind: memory, id: m}"),
      spec(backlog, "{kind: parquet, id: lake}"),
      spec(backlog, "{kind: jsonl, id: out}"))
    refused.foreach(text => intercept[IllegalArgumentException](PipelineSpec.load(text)))
    assert(PipelineSpec.load(spec(backlog, "{kind: memory, id: m}")).spec.sinks.head.path == "")

    val root = Files.createTempDirectory("crudrefused").toString
    val mgr = new PipelineManager(spark, s"$root/pipelines")
    val cp = new ControlPlane(spark, 0, Some(mgr)).start()
    try {
      refused.foreach { text =>
        val (code, body) = send("POST", s"http://127.0.0.1:${cp.boundPort}/pipelines", text)
        assert(code == 400, body)
      }
      assert(mgr.list().isEmpty)
    } finally cp.stop()
  }

  /** Creates pipeline `name` through the manager from a spec with `source`
   * over `segments` (base64 lines, as the spoolers write them) and a parquet
   * sink; checks the sink's ops, its ledger mark and the events' `source`
   * block; then deletes the pipeline and checks its state is gone. */
  private def segmentPipeline(name: String, source: String => String, segments: Seq[Array[Byte]],
                              connectorAndDb: (String, String)): Unit = {
    val root = Files.createTempDirectory(name).toString
    val lake = s"$root/lake"
    segments.zipWithIndex.foreach { case (seg, i) =>
      graft.sources.MysqlBinlogFixture.writeBacklogSegment(s"$root/backlog", f"seg-$i%03d.segb64", seg)
    }
    val mgr = new PipelineManager(spark, s"$root/pipelines")
    mgr.create(
      s"""metadata: {name: $name}
         |spec:
         |  source: ${source(s"$root/backlog")}
         |  processors: [{kind: filter, ops: [c, u, d]}]
         |  sinks: [{kind: parquet, id: lake, path: $lake}]
         |""".stripMargin)
    try {
      // pks 1 6 9 / 11 16 19: ops by pk%10 are c u d, two of each
      val ops = Map("c" -> 2L, "u" -> 2L, "d" -> 2L)
      assert(await()(lakeOps(lake) == ops), s"$name: ${lakeOps(lake)}")
      assert(await()(mgr.infoJson(name, mgr.get(name).get).at("/ops/checkpoints/lake").asLong >= 0L))
      val src = spark.read.parquet(lake).select("source.connector", "source.db", "source.name", "after")
        .collect()
      assert(src.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
        Set((connectorAndDb._1, connectorAndDb._2, name)))
      assert(src.forall(r => r.isNullAt(3) || r.getString(3).contains("\"o_orderkey\":")))
    } finally mgr.delete(name)
    assert(!Files.exists(Paths.get(s"$root/pipelines/$name")))
  }

  private def orderRows(pks: Long*) =
    pks.iterator.map(pk => (pk, pk + 100, "O", 10.50 + pk, 812332800000L, "2-HIGH"))

  test("a mysql_binlog pipeline from YAML decodes spooled binlog segments into the lake") {
    val Fx = graft.sources.MysqlBinlogFixture
    segmentPipeline("binlog-crud", ordersBinlogSource,
      Seq(Fx.ordersSegment(orderRows(1, 6, 9)), Fx.ordersSegment(orderRows(11, 16, 19))),
      ("mysql", Fx.OrdersDb))
  }

  test("a pgoutput pipeline from YAML decodes spooled pgoutput segments into the lake") {
    val PFx = graft.sources.PgOutputFixture
    segmentPipeline("pg-crud", dir => s"{kind: pgoutput, path: $dir, database: shop}",
      Seq(PFx.ordersSegment(orderRows(1, 6, 9)), PFx.ordersSegment(orderRows(11, 16, 19))),
      ("postgres", "shop"))
  }

  test("spec loader builds flatten and outbox processors") {
    val p = PipelineSpec.load(
      """metadata: {name: p2, tenant: t}
        |spec:
        |  source: {kind: backlog, path: /tmp/x}
        |  processors:
        |    - {kind: flatten, separator: "__", max_depth: 2}
        |    - {kind: outbox, topic_template: "${aggregate_type}.${event_type}", strict: true}
        |  sinks: [{kind: memory, id: m}]
        |""".stripMargin)
    assert(p.spec.processors == Seq(
      PipelineSpec.FlattenCfg("__", 2),
      PipelineSpec.OutboxCfg(Some("${aggregate_type}.${event_type}"), "outbox", strict = true)))
    // transforms apply over a conformed envelope without error
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.core.ChangeEvent.conform(
      Seq(1).toDF("i").select(lit("""{"a":{"b":1}}""").as("after"), lit("c").as("op")))
    val out = PipelineSpec.buildProcessors(p.spec).foldLeft(df)((d, f) => f(d))
    assert(out.select("after").as[String].head() == """{"a__b":1}""")
  }

  test("spec loader: a YAML js processor executes user JavaScript in the chain") {
    val p = PipelineSpec.load(
      """metadata: {name: pjs, tenant: t}
        |spec:
        |  source: {kind: backlog, path: /tmp/x}
        |  processors:
        |    - kind: js
        |      id: enrich
        |      inline: |
        |        function processBatch(events) {
        |          for (const ev of events) {
        |            if (ev.after) { ev.after.via = "js"; ev.route({ topic: "t." + ev.op }); }
        |          }
        |          return events.filter(ev => ev.op !== "d");
        |        }
        |  sinks: [{kind: memory, id: m}]
        |""".stripMargin)
    assert(p.spec.processors.exists {
      case PipelineSpec.JsCfg("enrich", inline, 5000L) => inline.contains("processBatch")
      case _ => false
    })
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.core.ChangeEvent.conform(
      Seq(("c", """{"a":1}"""), ("d", null)).toDF("op", "after")
        .withColumn("event_id", concat(lit("e"), col("op"))))
    val out = PipelineSpec.buildProcessors(p.spec).foldLeft(df)((d, f) => f(d)).collect()
    assert(out.length == 1) // delete dropped by the script
    assert(out.head.getAs[String]("after").contains("\"via\":\"js\""))
    assert(out.head.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("topic") == "t.c")

    // a broken script fails at build time, driver-side (js.rs construction errors)
    val bad = PipelineSpec.load(
      """metadata: {name: pbad, tenant: t}
        |spec:
        |  source: {kind: backlog, path: /tmp/x}
        |  processors: [{kind: js, inline: "function nope() {}"}]
        |  sinks: [{kind: memory, id: m}]
        |""".stripMargin)
    intercept[IllegalArgumentException](PipelineSpec.buildProcessors(bad.spec))
  }

  test("spec loader: env expansion, commit policies, merge semantics") {
    val node = PipelineSpec.parseYaml(
      """metadata: {name: p1, tenant: t}
        |spec:
        |  source: {kind: backlog, path: /tmp/x}
        |  sinks: [{kind: memory, id: m}]
        |  commit_policy: quorum:2
        |""".stripMargin)
    val p = PipelineSpec.fromNode(node)
    assert(p.spec.commitPolicy == CdcPipeline.CommitQuorum(2))

    // ${UPPER} expands from env; ${source.db} routing templates pass through
    val expanded = PipelineSpec.expandEnv(
      "path: ${HOME}/x topic: cdc.${source.db}", k => if (k == "HOME") Some("/home/u") else None)
    assert(expanded == "path: /home/u/x topic: cdc.${source.db}")

    // merge: objects deep-merge, arrays element-wise, scalars replace
    val base = PipelineSpec.parseJson(
      """{"spec":{"sinks":[{"id":"a","required":true},{"id":"b"}],"commit_policy":"all"}}""")
    val merged = PipelineSpec.mergeSpec(base,
      PipelineSpec.parseJson("""{"spec":{"sinks":[{"required":false}],"commit_policy":"required"}}"""))
    assert(merged.at("/spec/sinks/0/required").asBoolean() == false)
    assert(merged.at("/spec/sinks/0/id").asText() == "a") // untouched key survives
    assert(merged.at("/spec/sinks/1/id").asText() == "b") // untouched element survives
    assert(merged.at("/spec/commit_policy").asText() == "required")

    // the sources' deployment fields load, and survive a PATCH merge
    def patched(spec: String, patch: String) = PipelineSpec.fromNode(
      PipelineSpec.mergeSpec(PipelineSpec.parseYaml(spec), PipelineSpec.parseJson(patch))).spec.source
    assert(patched(
      """metadata: {name: p3}
        |spec:
        |  source: {kind: mysql_binlog, path: /tmp/b, columns: {shop.orders: [id, total]}}
        |  sinks: [{kind: memory, id: m}]
        |""".stripMargin,
      """{"spec":{"source":{"columns":{"shop.items":["sku"]}}}}""") ==
      PipelineSpec.MysqlBinlogCfg("/tmp/b", None,
        Map("shop.orders" -> Vector("id", "total"), "shop.items" -> Vector("sku"))))
    assert(patched(
      """metadata: {name: p4}
        |spec:
        |  source: {kind: pgoutput, path: /tmp/p, database: shop, max_lines_per_trigger: 8}
        |  sinks: [{kind: memory, id: m}]
        |""".stripMargin,
      """{"spec":{"source":{"database":"inventory"}}}""") ==
      PipelineSpec.PgOutputCfg("/tmp/p", Some(8L), "inventory"))
  }
}
