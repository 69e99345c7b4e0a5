package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.core.{ChangeEvent, Json}
import graft.functions.JsonDecode
import graft.operators.{FilterProcessor, Routing}
import graft.sources.{BacklogSource, MysqlBinlog, MysqlBinlogFixture, PgOutput, PgOutputFixture}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/**
 * Declarative pipeline specification + YAML/JSON loader.
 *
 * Shape mirrors the reference's `PipelineSpec`
 * (reference crates/deltaforge-config/src/lib.rs:66-141: metadata
 * {name,tenant,labels,annotations} + spec {source, processors, sinks,
 * commit_policy, sink_batch_deadline_secs}), with Spark-native component
 * kinds. The source is a [[graft.sources.BacklogSource]] directory read as
 * one of three kinds: `backlog` (JSONL change-event envelopes),
 * `mysql_binlog` (base64 binlog segments, as [[graft.sources.BinlogSpooler]]
 * writes them) or `pgoutput` (base64 pgoutput segments, as
 * [[graft.sources.PgSpooler]] writes them). Sinks are parquet/jsonl/memory,
 * processors are filter/route/flatten/outbox/js. [[assemble]] is the one
 * place a spec becomes a stream plus its [[CdcPipeline.Config]].
 *
 * Environment expansion: `${VARS_LIKE_THIS}` (uppercase env-style names
 * only) expand from the process environment, like the reference's
 * shellexpand pass (lib.rs error type Env); routing templates such as
 * `${source.db}` are left untouched for [[graft.operators.Routing]].
 *
 * PATCH merging follows the reference's merge_values
 * (crates/runner/src/pipeline_manager.rs:1033-1062): objects deep-merge
 * key-wise, arrays merge element-wise by index (object elements merge into
 * the base element, scalars replace, longer patches append), scalars
 * replace.
 */
object PipelineSpec {

  case class Metadata(name: String, tenant: String,
                      labels: Map[String, String] = Map.empty,
                      annotations: Map[String, String] = Map.empty)

  /** A [[BacklogSource]] directory and how its lines decode. */
  sealed trait SourceCfg {
    def path: String
    def maxLinesPerTrigger: Option[Long]
  }
  /** JSONL change-event envelopes, one per line. */
  case class BacklogCfg(path: String, maxLinesPerTrigger: Option[Long]) extends SourceCfg
  /** Binlog segments; `columns` names the columns of each `db.table` (the
   * schema provider of [[MysqlBinlog.decodeSegment]]); an unlisted table's
   * columns decode as `col<i>`. */
  case class MysqlBinlogCfg(path: String, maxLinesPerTrigger: Option[Long],
                            columns: Map[String, IndexedSeq[String]]) extends SourceCfg
  /** pgoutput segments of one `database`, which becomes `source.db`. */
  case class PgOutputCfg(path: String, maxLinesPerTrigger: Option[Long],
                         database: String) extends SourceCfg

  sealed trait ProcessorCfg
  case class FilterCfg(ops: Seq[String], tables: Seq[String],
                       existsFields: Seq[String]) extends ProcessorCfg
  case class RouteCfg(topicTemplate: Option[String], staticTopic: String) extends ProcessorCfg
  case class FlattenCfg(separator: String, maxDepth: Int) extends ProcessorCfg
  /** User-supplied JavaScript processor (reference processors/src/js.rs —
   * the YAML `inline:` script; executes via ScriptHost/MiniJs). */
  case class JsCfg(id: String, inline: String, timeoutMs: Long) extends ProcessorCfg
  case class OutboxCfg(topicTemplate: Option[String], defaultTopic: String,
                       strict: Boolean) extends ProcessorCfg

  case class SinkCfg(kind: String, id: String, path: String, required: Boolean)

  case class Spec(source: SourceCfg, processors: Seq[ProcessorCfg],
                  sinks: Seq[SinkCfg], commitPolicy: CdcPipeline.CommitPolicy,
                  sinkDeadlineSecs: Option[Long])

  case class Pipeline(metadata: Metadata, spec: Spec)

  private val yaml = new ObjectMapper(new YAMLFactory())

  private val EnvVar = raw"\$$\{([A-Z_][A-Z0-9_]*)\}".r

  /** `${UPPER_CASE}` env expansion over raw config text (reference's
   * shellexpand pass); unknown names and routing templates pass through. */
  def expandEnv(text: String, env: String => Option[String] = sys.env.get): String =
    EnvVar.replaceAllIn(text, m =>
      scala.util.matching.Regex.quoteReplacement(env(m.group(1)).getOrElse(m.matched)))

  def parseYaml(text: String): JsonNode = yaml.readTree(expandEnv(text))
  def parseJson(text: String): JsonNode = Json.mapper.readTree(expandEnv(text))

  /** Parse either format (REST bodies may be YAML or JSON; YAML is a
   * superset here since Jackson's YAML parser accepts flow-style JSON). */
  def parseAny(text: String): JsonNode = parseYaml(text)

  // ——— node → typed spec ———

  private def str(n: JsonNode, field: String, default: String = null): String =
    Option(n.get(field)).map(_.asText).getOrElse {
      require(default != null, s"missing required field '$field' in ${n.toString.take(80)}")
      default
    }

  private def strMap(n: JsonNode, field: String): Map[String, String] =
    Option(n.get(field)).map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      .getOrElse(Map.empty)

  private def strSeq(n: JsonNode, field: String): Seq[String] =
    Option(n.get(field)).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  private val SafeName = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** A pipeline name is its directory under the manager's base dir, so it
   * must be one plain path segment: never empty, `.`, `..` or holding a
   * `/`, which would put or delete files outside that directory. */
  def requireSafeName(name: String): String = {
    require(SafeName.matches(name), s"pipeline name '$name' must match ${SafeName.regex}")
    name
  }

  def fromNode(root: JsonNode): Pipeline = {
    val md = root.get("metadata")
    require(md != null, "spec needs a metadata block")
    val metadata = Metadata(requireSafeName(str(md, "name")), str(md, "tenant", "default"),
      strMap(md, "labels"), strMap(md, "annotations"))
    val sp = root.get("spec")
    require(sp != null, "spec needs a spec block")
    val src = sp.get("source")
    require(src != null, "spec.source is required")
    val (path, maxLines) = (str(src, "path"), Option(src.get("max_lines_per_trigger")).map(_.asLong))
    val source = str(src, "kind", "backlog") match {
      case "backlog" => BacklogCfg(path, maxLines)
      case "mysql_binlog" => MysqlBinlogCfg(path, maxLines,
        Option(src.get("columns")).map(_.properties().asScala.map(e =>
          e.getKey -> e.getValue.elements().asScala.map(_.asText).toIndexedSeq).toMap)
          .getOrElse(Map.empty))
      case "pgoutput" => PgOutputCfg(path, maxLines, str(src, "database"))
      case other => throw new IllegalArgumentException(s"unknown source kind '$other'")
    }
    val processors = Option(sp.get("processors")).map(_.elements().asScala.toSeq).getOrElse(Nil)
      .map { p =>
        str(p, "kind") match {
          case "filter" => FilterCfg(strSeq(p, "ops"), strSeq(p, "tables"), strSeq(p, "exists"))
          case "route" => RouteCfg(Option(p.get("topic_template")).map(_.asText),
            str(p, "static_topic", "events"))
          case "flatten" => FlattenCfg(str(p, "separator", "__"),
            Option(p.get("max_depth")).map(_.asInt).getOrElse(Int.MaxValue))
          case "outbox" => OutboxCfg(Option(p.get("topic_template")).map(_.asText),
            str(p, "default_topic", "outbox"),
            Option(p.get("strict")).exists(_.asBoolean))
          case "js" => JsCfg(str(p, "id", "js"), str(p, "inline"),
            Option(p.get("timeout_ms")).map(_.asLong).getOrElse(5000L))
          case other => throw new IllegalArgumentException(s"unknown processor kind '$other'")
        }
      }
    val sinks = Option(sp.get("sinks")).map(_.elements().asScala.toSeq).getOrElse(Nil)
      .map { s =>
        val kind = str(s, "kind")
        // a file sink writes under its path from its first batch on
        val path = if (kind == "parquet" || kind == "jsonl") str(s, "path") else str(s, "path", "")
        SinkCfg(kind, str(s, "id"), path, Option(s.get("required")).forall(_.asBoolean))
      }
    require(sinks.nonEmpty, "spec.sinks must not be empty")
    val policy = str(sp, "commit_policy", "required") match {
      case "all" => CdcPipeline.CommitAll
      case "required" => CdcPipeline.CommitRequired
      case q if q.startsWith("quorum:") => CdcPipeline.CommitQuorum(q.stripPrefix("quorum:").toInt)
      case other => throw new IllegalArgumentException(s"unknown commit_policy '$other'")
    }
    Pipeline(metadata, Spec(source, processors, sinks, policy,
      Option(sp.get("sink_batch_deadline_secs")).map(_.asLong)))
  }

  def load(text: String): Pipeline = fromNode(parseAny(text))

  // ——— spec → runnable pieces ———

  /**
   * The one path from a spec to a pipeline: the source's decoded, conformed
   * change-event stream and the coordinator config (sinks, processors,
   * commit policy, sink deadline, `pipelineName = metadata.name`), ready for
   * [[CdcPipeline.start]]. A `mysql_binlog` or `pgoutput` source also
   * names its events' `source.name` after the pipeline.
   */
  def assemble(spark: SparkSession, p: Pipeline, ledgerDir: String): (DataFrame, CdcPipeline.Config) = {
    val src = p.spec.source
    val lines = spark.readStream.format(classOf[BacklogSource].getName)
      .option("path", src.path)
      .options(src.maxLinesPerTrigger.map(n => Map("maxLinesPerTrigger" -> n.toString)).getOrElse(Map.empty))
      .load()
    val name = p.metadata.name
    val stream = src match {
      case _: BacklogCfg =>
        // the full envelope schema (incl. the map<string,string> routing
        // headers) qualifies for the fused byte-level decoder —
        // from_json-identical by spec, one pass, no Jackson
        lines.select(JsonDecode.fusedFromJson(col("value"), ChangeEvent.schema).as("e")).select("e.*")
      case MysqlBinlogCfg(_, _, columns) =>
        MysqlBinlog.changeEvents(MysqlBinlogFixture.decodeBase64Segments(lines,
          (db: String, table: String) => columns.getOrElse(s"$db.$table", IndexedSeq.empty)), name)
      case PgOutputCfg(_, _, database) =>
        PgOutput.changeEvents(PgOutputFixture.decodeBase64Segments(lines), name, database)
    }
    (stream, CdcPipeline.Config(
      sinks = buildSinks(p.spec),
      commitPolicy = p.spec.commitPolicy,
      ledgerDir = ledgerDir,
      sinkTimeout = p.spec.sinkDeadlineSecs.map(_.seconds: Duration).getOrElse(5.minutes),
      processors = buildProcessors(p.spec),
      pipelineName = name))
  }

  /** Processor configs → DataFrame transforms over the envelope. */
  def buildProcessors(spec: Spec): Seq[DataFrame => DataFrame] = spec.processors.map {
    case FilterCfg(ops, tables, exists) =>
      val cfg = FilterProcessor.Config(ops = ops, tables = tables,
        predicates = exists.map(FilterProcessor.Exists))
      (df: DataFrame) => FilterProcessor(cfg)(df)
    case RouteCfg(tpl, static) =>
      (df: DataFrame) => df.withColumn("routing", struct(
        Routing.resolveTopic(tpl, static).as("topic"),
        col("routing.key").as("key"),
        col("routing.headers").as("headers"),
        col("routing.raw_payload").as("raw_payload")))
    case FlattenCfg(sep, depth) =>
      // schemaless payloads: the dynamic JSON flatten (number-fidelity safe)
      (df: DataFrame) => df
        .withColumn("after", graft.functions.JsonFlatten.flattenJson(col("after"), sep, depth))
        .withColumn("before", graft.functions.JsonFlatten.flattenJson(col("before"), sep, depth))
    case OutboxCfg(tpl, default, strict) =>
      (df: DataFrame) => graft.operators.OutboxProcessor(
        graft.operators.OutboxProcessor.Config(
          topicTemplate = tpl, defaultTopic = default, strict = strict))(df)
    case JsCfg(id, inline, timeoutMs) =>
      // validates the script driver-side (syntax + processBatch presence)
      graft.operators.ScriptHost.processor(id, inline, timeoutMs = timeoutMs)
  }

  def buildSinks(spec: Spec): Seq[EventSink] = spec.sinks.map { s =>
    s.kind match {
      case "parquet" => new ParquetLakeSink(s.id, s.path) {
        override def required: Boolean = s.required
      }
      case "jsonl" => new JsonlSink(s.id, s.path, ChangeEvent.json) {
        override def required: Boolean = s.required
      }
      case "memory" => new MemorySink(s.id, required = s.required)
      case other => throw new IllegalArgumentException(s"unknown sink kind '$other'")
    }
  }

  // ——— PATCH merge (pipeline_manager.rs:1022-1062) ———

  def mergeSpec(base: JsonNode, patch: JsonNode): JsonNode = {
    val merged = base.deepCopy[JsonNode]()
    mergeValues(merged, patch)
    merged
  }

  private def mergeValues(base: JsonNode, patch: JsonNode): Unit = (base, patch) match {
    case (b: ObjectNode, p: ObjectNode) =>
      p.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        if (b.has(k) && b.get(k).isObject && v.isObject) mergeValues(b.get(k), v)
        else if (b.has(k) && b.get(k).isArray && v.isArray) mergeValues(b.get(k), v)
        else b.set(k, v.deepCopy[JsonNode]())
      }
    case (b: ArrayNode, p: ArrayNode) =>
      // element-wise by index: object patches merge, others replace; extras append
      (0 until p.size).foreach { i =>
        if (i < b.size && b.get(i).isObject && p.get(i).isObject) mergeValues(b.get(i), p.get(i))
        else if (i < b.size) b.set(i, p.get(i).deepCopy[JsonNode]())
        else b.add(p.get(i).deepCopy[JsonNode]())
      }
    case _ => // scalar-over-scalar handled at the parent (ObjectNode.set)
  }
}
