package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Json.mapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.collection.concurrent.TrieMap

/**
 * Pipeline lifecycle manager: spec → running streaming query, with
 * create / patch(+restart) / pause / resume / stop / delete. A launch is
 * [[PipelineSpec.assemble]] + [[CdcPipeline.start]].
 *
 * Reference: crates/runner/src/pipeline_manager.rs:205-930 — `create`
 * spawns the pipeline from a `PipelineSpec`; `patch` deep-merges the JSON
 * spec and restarts FROM THE SAME CHECKPOINT (pipeline_manager.rs:741-784),
 * so no events are lost or duplicated across a config change; pause is
 * stop-while-keeping-state; delete removes checkpoints and ledgers.
 *
 * Spark mapping: a pipeline IS a Structured Streaming query; the offset log
 * under `baseDir/<name>/checkpoint` is the resume point; the per-sink
 * [[SinkLedger]] under `baseDir/<name>/ledger` preserves idempotent replay
 * across restarts.
 */
class PipelineManager(spark: SparkSession, baseDir: String) {

  case class Managed(node: JsonNode, pipeline: PipelineSpec.Pipeline,
                     query: Option[StreamingQuery], status: String,
                     startedAtMs: Long)

  private val pipelines = TrieMap[String, Managed]()

  private def checkpointDir(name: String) = s"$baseDir/$name/checkpoint"
  private def ledgerDir(name: String) = s"$baseDir/$name/ledger"

  private def launch(p: PipelineSpec.Pipeline): StreamingQuery = {
    val (stream, cfg) = PipelineSpec.assemble(spark, p, ledgerDir(p.metadata.name))
    CdcPipeline.start(cfg, stream, checkpointDir(p.metadata.name),
      Trigger.ProcessingTime("500 milliseconds"))
  }

  def create(specText: String): Managed = {
    val node = PipelineSpec.parseAny(specText)
    val p = PipelineSpec.fromNode(node)
    require(!pipelines.contains(p.metadata.name), s"pipeline '${p.metadata.name}' already exists")
    val m = Managed(node, p, Some(launch(p)), "running", System.currentTimeMillis())
    pipelines(p.metadata.name) = m
    m
  }

  /** Deep-merge `patchText` into the stored spec, stop, and restart from
   * the same checkpoint (pipeline_manager.rs:741-784). */
  def patch(name: String, patchText: String): Managed = {
    val m = get(name).getOrElse(throw new NoSuchElementException(s"no pipeline $name"))
    val merged = PipelineSpec.mergeSpec(m.node, PipelineSpec.parseAny(patchText))
    val p = PipelineSpec.fromNode(merged)
    require(p.metadata.name == name, "patch must not rename the pipeline")
    m.query.foreach(q => { q.stop(); q.awaitTermination() })
    val next = Managed(merged, p, Some(launch(p)), "running", System.currentTimeMillis())
    pipelines(name) = next
    next
  }

  def pause(name: String): Managed = transition(name, "paused") { m =>
    m.query.foreach(q => { q.stop(); q.awaitTermination() }); None
  }

  def resume(name: String): Managed = transition(name, "running") { m =>
    require(m.query.forall(!_.isActive), s"pipeline $name already active")
    Some(launch(m.pipeline))
  }

  def stop(name: String): Managed = transition(name, "stopped") { m =>
    m.query.foreach(q => { q.stop(); q.awaitTermination() }); None
  }

  private def transition(name: String, status: String)(f: Managed => Option[StreamingQuery]): Managed = {
    val m = get(name).getOrElse(throw new NoSuchElementException(s"no pipeline $name"))
    val next = m.copy(query = f(m), status = status,
      startedAtMs = if (status == "running") System.currentTimeMillis() else m.startedAtMs)
    pipelines(name) = next
    next
  }

  /** Stop and remove checkpoints + ledger (pipeline_manager.rs:888-925). */
  def delete(name: String): Unit = {
    PipelineSpec.requireSafeName(name)
    val m = get(name).getOrElse(throw new NoSuchElementException(s"no pipeline $name"))
    m.query.foreach(q => { q.stop(); q.awaitTermination() })
    pipelines.remove(name)
    val dir = java.nio.file.Paths.get(s"$baseDir/$name")
    if (java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  def get(name: String): Option[Managed] = pipelines.get(name)
  def list(): Seq[(String, Managed)] = pipelines.toSeq.sortBy(_._1)

  /** Operator-facing status JSON (PipeInfo + ops shape, rest-api
   * pipelines.rs:20-43). */
  def infoJson(name: String, m: Managed): ObjectNode = {
    val uptime = if (m.status == "running") (System.currentTimeMillis() - m.startedAtMs) / 1000.0 else 0.0
    val ledger = new SinkLedger(ledgerDir(name))
    val info = mapper.createObjectNode().put("name", name).put("status", m.status)
      .put("isActive", m.query.exists(_.isActive))
    val checkpoints = info.putObject("ops").put("uptime_seconds", uptime).putObject("checkpoints")
    m.pipeline.spec.sinks.foreach(s => checkpoints.put(s.id, ledger.committed(s.id)))
    info.set[ObjectNode]("spec", m.node)
  }
}
