package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import com.fasterxml.jackson.databind.util.RawValue
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.Json.mapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/**
 * Minimal REST control plane over the StreamingQueryManager.
 *
 * Reference: crates/rest-api/src/lib.rs:19-52 + pipelines.rs — health/ready,
 * pipeline list/status/stop, DLQ inspection. The Spark analog needs no
 * bespoke runtime: queries ARE the pipelines, `StreamingQueryManager` is the
 * registry, progress comes from each query's `lastProgress`. Pause ≈ stop +
 * restart-from-checkpoint (reference C-8 maps to exactly this).
 *
 * Endpoints:
 *   GET  /health                 → {"status":"ok"}
 *   GET  /pipelines              → [{id,name,isActive}...]
 *   GET  /pipelines/{id}         → status + lastProgress JSON
 *   POST /pipelines/{id}/stop    → stops the query
 *   GET  /dlq?path=...&limit=N   → recent DLQ journal entries
 *
 * With a [[PipelineManager]] attached, the full CRUD surface of the
 * reference REST API (pipelines.rs:44-120) is served:
 *   POST   /pipelines            → create from YAML/JSON spec body
 *   PATCH  /pipelines/{name}     → deep-merge patch + restart from checkpoint
 *   POST   /pipelines/{name}/pause|resume|stop
 *   DELETE /pipelines/{name}     → stop + remove checkpoints/ledger
 *
 * Schema & sensing inspection (reference rest-api/src/schemas.rs:123-140,
 * sensing.rs:186-207), served from a registered [[SchemaRegistry]] /
 * [[SchemaSensor]]:
 *   GET /pipelines/{p}/schemas                       → per-table latest versions
 *   GET /pipelines/{p}/schemas/{table}               → columns + fingerprint
 *   GET /pipelines/{p}/schemas/{table}/versions      → full version history
 *   GET /pipelines/{p}/schemas/{table}/at/{seq}      → schema AT a sequence
 *   GET /pipelines/{p}/sensing/schemas[/{table}[/json-schema]]
 *   GET /pipelines/{p}/sensing/stats                 → structure-cache stats
 *   GET /pipelines/{p}/drift[/{table}]               → latest drift results
 */
class ControlPlane(spark: SparkSession, port: Int = 0,
                   manager: Option[PipelineManager] = None,
                   metrics: Option[Metrics.Registry] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val dlqQueues = scala.collection.concurrent.TrieMap[String, Dlq.DlqQueue]()
  private val registries = scala.collection.concurrent.TrieMap[String, SchemaRegistry]()
  private val sensors = scala.collection.concurrent.TrieMap[String, SchemaSensor]()

  /** Attach a pipeline's DLQ queue for the ack/purge/peek endpoints. */
  def registerDlq(pipeline: String, queue: Dlq.DlqQueue): ControlPlane = {
    dlqQueues(pipeline) = queue; this
  }

  /** Attach a pipeline's declared-schema ledger for the /schemas endpoints. */
  def registerSchemaRegistry(pipeline: String, registry: SchemaRegistry): ControlPlane = {
    registries(pipeline) = registry; this
  }

  /** Attach a pipeline's sensor for the /sensing and /drift endpoints. */
  def registerSensor(pipeline: String, sensor: SchemaSensor): ControlPlane = {
    sensors(pipeline) = sensor; this
  }

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: JsonNode): Unit =
    respond(ex, code, mapper.writeValueAsString(body))

  private def error(msg: String): ObjectNode = mapper.createObjectNode().put("error", msg)

  /** A document that is already rendered, embedded verbatim. */
  private def raw(doc: String): JsonNode = mapper.getNodeFactory.rawValueNode(new RawValue(doc))

  private def array(nodes: Iterable[JsonNode]): ArrayNode = mapper.createArrayNode().addAll(nodes.toSeq.asJava)

  /** /pipelines/{p}/schemas|sensing|drift/... (reference schemas.rs + sensing.rs routes). */
  private def handleInspection(ex: HttpExchange, pipeline: String, rest: Seq[String]): Unit = {
    if (ex.getRequestMethod != "GET") { respond(ex, 405, error("method not allowed")); return }
    def columnsJson(s: StructType): ArrayNode = array(s.fields.zipWithIndex.map { case (f, i) =>
      mapper.createObjectNode().put("name", f.name).put("data_type", f.dataType.sql.toLowerCase)
        .put("nullable", f.nullable).put("ordinal_position", i + 1) })
    try rest match {
      // ——— declared-schema ledger ———
      case Seq("schemas", tail @ _*) => registries.get(pipeline) match {
        case None => respond(ex, 404, error(s"no schema registry for pipeline $pipeline"))
        case Some(reg) =>
          // ledger rows are tiny (one per registered version); collect once per request
          val rows = reg.ledger().collect()
            .map(r => (r.getAs[String]("table"), r.getAs[String]("fingerprint"),
              r.getAs[Long]("sequence"), r.getAs[Long]("registered_at_ms"),
              r.getAs[String]("schema_json")))
          def structOf(json: String) = DataType.fromJson(json).asInstanceOf[StructType]
          def version(table: String, v: (String, String, Long, Long, String)) =
            mapper.createObjectNode().put("table", table).put("fingerprint", v._2).put("sequence", v._3)
          tail match {
            case Seq() => // SchemaInfo list: latest version per table
              respond(ex, 200, array(rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, vs) =>
                val v = vs.maxBy(_._3)
                version(t, v).put("column_count", structOf(v._5).fields.length).put("registered_at_ms", v._4)
              }))
            case Seq(table) =>
              rows.filter(_._1 == table).sortBy(_._3).lastOption match {
                case None => respond(ex, 404, error(s"no schema for table $table"))
                case Some(v) => respond(ex, 200, version(table, v).put("registered_at_ms", v._4)
                  .set[ObjectNode]("columns", columnsJson(structOf(v._5))))
              }
            case Seq(table, "versions") =>
              respond(ex, 200, array(rows.filter(_._1 == table).sortBy(_._3).map { v =>
                mapper.createObjectNode().put("version", v._3).put("fingerprint", v._2)
                  .put("column_count", structOf(v._5).fields.length).put("registered_at_ms", v._4)
              }))
            // the replay-correctness lookup: schema in force AT a sequence
            case Seq(table, "at", seq) =>
              seq.toLongOption match {
                case None => respond(ex, 400, error(s"sequence must be an integer, got '$seq'"))
                case Some(seqL) =>
                  rows.filter(v => v._1 == table && v._3 <= seqL).sortBy(_._3).lastOption match {
                    case None => respond(ex, 404, error(s"no schema for table $table at sequence $seq"))
                    case Some(v) => respond(ex, 200,
                      version(table, v).set[ObjectNode]("columns", columnsJson(structOf(v._5))))
                  }
              }
            case _ => respond(ex, 404, error("not found"))
          }
      }
      // ——— inferred schemas + cache stats ———
      case Seq("sensing", tail @ _*) => sensors.get(pipeline) match {
        case None => respond(ex, 404, error(s"no sensor for pipeline $pipeline"))
        case Some(sensor) => tail match {
          case Seq("schemas") =>
            respond(ex, 200, array(sensor.tableNames.sorted.flatMap(sensor.infoJson).map(raw)))
          case Seq("schemas", table) => sensor.detailJson(table) match {
            case Some(j) => respond(ex, 200, j)
            case None => respond(ex, 404, error(s"table $table not sensed"))
          }
          case Seq("schemas", table, "json-schema") => sensor.jsonSchema(table) match {
            case Some(j) => respond(ex, 200, j)
            case None => respond(ex, 404, error(s"table $table not sensed"))
          }
          case Seq("stats") => respond(ex, 200, sensor.cacheStatsJson)
          // raw classifier evidence (reference sensing.rs evidence dump):
          // HLL cardinality + SpaceSaving heavy hitters + reservoir sample
          case Seq("evidence", evTail @ _*) =>
            def evidenceJson(table: String): Option[ObjectNode] =
              sensor.evidence(table).map { case (nUnique, heavy, sampled) =>
                mapper.createObjectNode().put("table", table).put("n_unique_fields", nUnique)
                  .set[ObjectNode]("heavy_hitters", array(heavy.map { case (f, n) =>
                    mapper.createObjectNode().put("field", f).put("count", n) }))
                  .set[ObjectNode]("sampled_fields", array(sampled.map(TextNode.valueOf)))
              }
            evTail match {
              case Seq() => respond(ex, 200, array(sensor.evidenceTables.sorted.flatMap(evidenceJson)))
              case Seq(table) => evidenceJson(table) match {
                case Some(j) => respond(ex, 200, j)
                case None => respond(ex, 404, error(s"no evidence for table $table"))
              }
              case _ => respond(ex, 404, error("not found"))
            }
          case _ => respond(ex, 404, error("not found"))
        }
      }
      // ——— drift results (pushed by the pipeline's drift stage) ———
      case Seq("drift", tail @ _*) => sensors.get(pipeline) match {
        case None => respond(ex, 404, error(s"no sensor for pipeline $pipeline"))
        case Some(sensor) =>
          def driftJson(table: String): Option[ObjectNode] = sensor.drift(table).map { rows =>
            mapper.createObjectNode().put("table", table).put("has_drift", rows.nonEmpty)
              .set[ObjectNode]("columns", array(rows.map { case (c, k, e, obs, n) =>
                mapper.createObjectNode().put("column", c).put("kind", k).put("expected", e)
                  .put("observed", obs).put("n", n) }))
          }
          tail match {
            case Seq() => respond(ex, 200, array(sensor.driftTables.sorted.flatMap(driftJson)))
            case Seq(table) => driftJson(table) match {
              case Some(j) => respond(ex, 200, j)
              case None => respond(ex, 404, error(s"no drift results for table $table"))
            }
            case _ => respond(ex, 404, error("not found"))
          }
      }
      case _ => respond(ex, 404, error("not found"))
    } catch {
      case e: Throwable => respond(ex, 500, error(String.valueOf(e.getMessage)))
    }
  }

  private def queryList(): ArrayNode = array(spark.streams.active.map { q =>
    mapper.createObjectNode().put("id", q.id.toString).put("runId", q.runId.toString)
      .put("name", Option(q.name).getOrElse("")).put("isActive", q.isActive)
  })

  def start(): ControlPlane = {
    server.createContext("/health", (ex: HttpExchange) =>
      respond(ex, 200, mapper.createObjectNode().put("status", "ok")))
    server.createContext("/pipelines", new HttpHandler {
      private def body(ex: HttpExchange): String =
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      private def attempt(ex: HttpExchange, code: Int = 200)(f: => JsonNode): Unit =
        try respond(ex, code, f)
        catch {
          case e: NoSuchElementException => respond(ex, 404, error(e.getMessage))
          case e: Throwable => respond(ex, 400, error(String.valueOf(e.getMessage)))
        }
      def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath.stripPrefix("/pipelines").stripPrefix("/")
        val segs = path.split("/").toSeq.filter(_.nonEmpty)
        if (segs.length >= 2 && Set("schemas", "sensing", "drift")(segs(1))) {
          handleInspection(ex, segs.head, segs.drop(1)); return
        }
        (ex.getRequestMethod, path, manager) match {
          case ("GET", "", Some(mgr)) =>
            respond(ex, 200, array(mgr.list().map { case (n, m) => mgr.infoJson(n, m) }))
          case ("GET", "", None) => respond(ex, 200, queryList())
          case ("POST", "", Some(mgr)) => attempt(ex, 201) {
            val m = mgr.create(body(ex)); mgr.infoJson(m.pipeline.metadata.name, m)
          }
          case ("PATCH", name, Some(mgr)) if name.nonEmpty && !name.contains("/") =>
            attempt(ex) { val m = mgr.patch(name, body(ex)); mgr.infoJson(name, m) }
          case ("DELETE", name, Some(mgr)) if name.nonEmpty && !name.contains("/") =>
            attempt(ex) { mgr.delete(name); mapper.createObjectNode().put("deleted", true) }
          case ("POST", p, Some(mgr)) if p.endsWith("/pause") =>
            attempt(ex) { val n = p.stripSuffix("/pause"); mgr.infoJson(n, mgr.pause(n)) }
          case ("POST", p, Some(mgr)) if p.endsWith("/resume") =>
            attempt(ex) { val n = p.stripSuffix("/resume"); mgr.infoJson(n, mgr.resume(n)) }
          case ("POST", p, Some(mgr)) if p.endsWith("/stop") =>
            attempt(ex) { val n = p.stripSuffix("/stop"); mgr.infoJson(n, mgr.stop(n)) }
          case ("GET", name, Some(mgr)) if mgr.get(name).isDefined =>
            respond(ex, 200, mgr.infoJson(name, mgr.get(name).get))
          case ("GET", id, _) =>
            spark.streams.active.find(q => q.id.toString == id || q.name == id) match {
              case Some(q) =>
                respond(ex, 200, mapper.createObjectNode().put("id", q.id.toString).put("isActive", q.isActive)
                  .set[ObjectNode]("lastProgress", raw(Option(q.lastProgress).map(_.json).getOrElse("null"))))
              case None => respond(ex, 404, error(s"no pipeline $id"))
            }
          case ("POST", p, None) if p.endsWith("/stop") =>
            val id = p.stripSuffix("/stop")
            spark.streams.active.find(q => q.id.toString == id || q.name == id) match {
              case Some(q) => q.stop(); respond(ex, 200, mapper.createObjectNode().put("stopped", true))
              case None => respond(ex, 404, error(s"no pipeline $id"))
            }
          case _ => respond(ex, 405, error("method not allowed"))
        }
      }
    })
    server.createContext("/dlq", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val sub = ex.getRequestURI.getPath.stripPrefix("/dlq").stripPrefix("/")
        // queue surface: /dlq/{pipeline}/entries|count|ack|purge
        // (reference rest-api dlq_peek/dlq_count/dlq_ack/dlq_purge)
        if (sub.nonEmpty) {
          val (name, action) = sub.split("/", 2) match {
            case Array(n, a) => (n, a)
            case Array(n) => (n, "entries")
          }
          dlqQueues.get(name) match {
            case None => respond(ex, 404, error(s"no dlq for pipeline $name"))
            case Some(q) => (ex.getRequestMethod, action) match {
              case ("GET", "entries") =>
                val limit = params.getOrElse("limit", "20").toInt
                respond(ex, 200, array(q.peek(limit).map { case (seq, j) =>
                  mapper.createObjectNode().put("seq", seq).set[ObjectNode]("entry", raw(j)) }))
              case ("GET", "count") => respond(ex, 200, mapper.createObjectNode().put("count", q.len)
                .put("evicted", q.evictedTotal).put("rejected", q.rejectedTotal))
              case ("POST", "ack") =>
                val upTo = params.getOrElse("upTo", "-1").toLong
                respond(ex, 200, mapper.createObjectNode().put("acked", q.ack(upTo)))
              case ("POST", "purge") => respond(ex, 200, mapper.createObjectNode().put("purged", q.purge()))
              case _ => respond(ex, 405, error("method not allowed"))
            }
          }
          return
        }
        params.get("path") match {
          case None => respond(ex, 400, error("path param required"))
          case Some(p) =>
            val limit = params.getOrElse("limit", "20").toInt
            try {
              val rows = spark.read.parquet(p)
                .orderBy(org.apache.spark.sql.functions.col("timestamp").desc)
                .limit(limit).toJSON.collect()
              respond(ex, 200, array(rows.map(raw)))
            } catch {
              case e: Throwable => respond(ex, 500, error(String.valueOf(e.getMessage)))
            }
        }
      }
    })
    server.createContext("/metrics", (ex: HttpExchange) =>
      respond(ex, 200, metrics.map(_.scrape()).getOrElse(""), "text/plain; version=0.0.4"))
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)
}
