package graft.streaming

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.node.TextNode
import graft.core.Json.mapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Per-table schema-sensing LIFECYCLE: the reference sensor's six observe
 * states plus the warmup-then-sample policy and the capped structure cache
 * that make sensing affordable at scale.
 *
 * Reference: crates/schema-sensing/src/sensor.rs:28-56 (`ObserveResult`
 * variants), :252-339 (observe order: stabilized early-exit → structure
 * cache → sampling gate → full sensing), :69-118 (`StructureCache` with
 * at-capacity check-only behavior), and
 * crates/deltaforge-config/src/schema_sensing.rs:171-205 + :267-274
 * (`SamplingConfig`: warmup_events full sensing, then 1-in-sample_rate;
 * structure_cache_size bound).
 *
 * Spark shape: the per-event state machine is DRIVER-side and tiny (a few
 * counters and a capped hash set per table); the per-ROW work is
 * distributed — [[processor]] pre-aggregates each micro-batch to one row
 * per (table, key-structure) with a count and ONE sample payload, so the
 * driver observes `distinct structures` rows per batch, not `events` rows.
 * Full inference parses only cache-miss samples — the reference's cost
 * model (cache hits skip inference entirely, sensor.rs fast path).
 *
 * Equivalence note: replaying n same-structure events through the
 * reference's per-event loop yields 1 full-sensing (or Sampled) result +
 * (n-1) cache hits, which is exactly how [[observeStructure]] advances its
 * counters — the batch pre-aggregation changes no state transition.
 * Type drift *within* an identical top-level key-set inside one batch
 * collapses to that batch's sample; the fingerprint (keys AND value
 * types) catches it on a later batch, and value-level drift is
 * [[SchemaSensing.driftTyped]]'s job, not the structure sensor's.
 */
object SchemaSensor {

  sealed trait ObserveResult
  case object Disabled extends ObserveResult
  case class NewSchema(fingerprint: String, sequence: Long) extends ObserveResult
  case class Evolved(oldFingerprint: String, newFingerprint: String,
                     oldSequence: Long, newSequence: Long) extends ObserveResult
  case class Unchanged(fingerprint: String, sequence: Long) extends ObserveResult
  case class Stabilized(fingerprint: String, sequence: Long) extends ObserveResult
  case class CacheHit(fingerprint: String, sequence: Long) extends ObserveResult
  case class Sampled(fingerprint: String, sequence: Long) extends ObserveResult

  /**
   * Sampling/caching policy (reference SamplingConfig defaults:
   * warmup_events=1000, sample_rate=10, structure_cache_size=100;
   * stabilizeAfter mirrors deep_inspect.max_sample_size=1000 — 0 disables
   * stabilization).
   */
  case class Config(
      enabled: Boolean = true,
      warmupEvents: Long = 1000,
      sampleRate: Long = 10,
      structureCache: Boolean = true,
      structureCacheSize: Int = 100,
      stabilizeAfter: Long = 1000) {
    /** Warmup senses every event; after warmup, 1-in-sampleRate (reference should_sample). */
    def shouldSample(eventCount: Long): Boolean =
      eventCount < warmupEvents || eventCount % math.max(sampleRate, 1L) == 0
  }

  /** One inferred top-level field (REST `InferredField` shape, sensing.rs:102-118). */
  case class FieldInfo(types: Set[String], sawNull: Boolean, presentIn: Long)

  case class TableState(
      var fingerprint: String = "",
      var sequence: Long = -1,
      var eventCount: Long = 0,
      var sensedCount: Long = 0,
      var stabilized: Boolean = false,
      var firstSeenMs: Long = 0,
      var lastSeenMs: Long = 0,
      val structures: scala.collection.mutable.HashSet[Long] =
        scala.collection.mutable.HashSet.empty,
      var cacheHits: Long = 0,
      var cacheMisses: Long = 0,
      val fields: scala.collection.mutable.LinkedHashMap[String, FieldInfo] =
        scala.collection.mutable.LinkedHashMap.empty)

  private val factory = new JsonFactory()

  /** Top-level (name, jsonType) pairs of a payload; None on malformed/non-object. */
  private[streaming] def topFields(json: String): Option[Seq[(String, String)]] = {
    if (json == null) return None
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var tok = p.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val t = p.nextToken() match {
            case JsonToken.VALUE_STRING => "string"
            case JsonToken.VALUE_NUMBER_INT => "int"
            case JsonToken.VALUE_NUMBER_FLOAT => "float"
            case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => "bool"
            case JsonToken.VALUE_NULL => "null"
            case JsonToken.START_OBJECT => p.skipChildren(); "object"
            case JsonToken.START_ARRAY => p.skipChildren(); "array"
            case _ => "string"
          }
          out += name -> t
          tok = p.nextToken()
        }
        Some(out.toSeq)
      } finally p.close()
    } catch { case _: Exception => None }
  }

  /** Canonical structure string (sorted name:type) — fingerprint + cache-key input. */
  private def canonical(fields: Seq[(String, String)]): String =
    fields.sortBy(_._1).map { case (n, t) => s"$n:$t" }.mkString(",")

  private def fingerprintOf(canon: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
    d.take(8).map("%02x".format(_)).mkString
  }

  private def structureKey(canon: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }
}

class SchemaSensor(val config: SchemaSensor.Config = SchemaSensor.Config(),
                   registry: Option[SchemaRegistry] = None) {
  import SchemaSensor._

  private val tables = scala.collection.mutable.LinkedHashMap.empty[String, TableState]
  /** Evolution ledger rows: (table, oldFp, newFp, newSeq, atMs). */
  private val evolutionLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long, Long)]
  /** Latest drift results per table, pushed by the pipeline's drift stage. */
  private val driftResults = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, String, String, String, Long)]]

  private def nowMs(): Long = System.currentTimeMillis()

  /** Observe one event's payload (the reference's per-event entry point). */
  def observe(table: String, payload: String): ObserveResult =
    observeStructure(table, payload, 1)

  /**
   * Observe `n` same-structure events at once via one sample payload —
   * the batch-aggregated entry point ([[SchemaSensor]] equivalence note).
   */
  def observeStructure(table: String, sample: String, n: Long): ObserveResult = synchronized {
    if (!config.enabled || n <= 0) return Disabled
    val st = tables.getOrElseUpdate(table, {
      val s = TableState(); s.firstSeenMs = nowMs(); s
    })
    st.lastSeenMs = nowMs()

    // 1. stabilized: early exit, no cache/inference cost (sensor.rs:258-266)
    if (st.stabilized) { st.eventCount += n; return Stabilized(st.fingerprint, st.sequence) }

    val parsed = topFields(sample)
    val canon = parsed.map(canonical).getOrElse("")
    val key = structureKey(canon)

    // 2. structure cache (sensor.rs:268-325): a hit skips inference; at
    //    capacity the cache only checks, never grows (StructureCache :86-95)
    if (config.structureCache && st.structures.contains(key)) {
      st.cacheHits += n
      st.eventCount += n
      if (config.stabilizeAfter > 0 && st.eventCount >= config.stabilizeAfter) {
        st.stabilized = true
        return Stabilized(st.fingerprint, st.sequence)
      }
      return CacheHit(st.fingerprint, st.sequence)
    }
    if (config.structureCache) {
      st.cacheMisses += 1
      if (n > 1) st.cacheHits += n - 1 // replay equivalence: events 2..n hit
      if (st.structures.size < config.structureCacheSize) st.structures += key
    }

    // 3. sampling gate (sensor.rs:327-336): warmup senses everything, then 1-in-N
    if (st.sequence >= 0 && !config.shouldSample(st.eventCount)) {
      st.eventCount += n
      return Sampled(st.fingerprint, st.sequence)
    }

    // 4. full sensing (sensor.rs observe_value_full). DELIBERATE DEVIATION
    //    from the reference, documented: the reference fingerprints each
    //    EVENT's inferred schema, so a payload missing an optional field
    //    would flap Evolved on every subset/superset alternation; we
    //    fingerprint the MERGED inferred schema (names + accumulated value
    //    types) — absence marks the field `optional` in FieldInfo instead
    //    of bumping the sequence. Real type/field ADDITIONS still evolve.
    st.sensedCount += 1
    parsed.foreach { fs =>
      fs.foreach { case (name, t) =>
        val prev = st.fields.getOrElse(name, FieldInfo(Set.empty, sawNull = false, 0))
        st.fields(name) = FieldInfo(
          prev.types ++ (if (t == "null") Set.empty[String] else Set(t)),
          prev.sawNull || t == "null", prev.presentIn + 1)
      }
    }
    val mergedCanon = st.fields.toSeq.sortBy(_._1)
      .map { case (n, fi) => s"$n:${fi.types.toSeq.sorted.mkString("|")}" }.mkString(",")
    val fp = fingerprintOf(mergedCanon)
    val result =
      if (st.sequence < 0) {
        st.fingerprint = fp; st.sequence = 0
        registry.foreach(_.register(table, inferredStructTypeLocked(st), st.lastSeenMs))
        NewSchema(fp, 0)
      } else if (st.fingerprint != fp) {
        val old = st.fingerprint; val oldSeq = st.sequence
        st.fingerprint = fp; st.sequence += 1
        st.structures.clear() // evolution invalidates the cache (sensor.rs:368-370)
        if (config.structureCache) st.structures += key
        evolutionLog += ((table, old, fp, st.sequence, st.lastSeenMs))
        registry.foreach(_.register(table, inferredStructTypeLocked(st), st.lastSeenMs))
        Evolved(old, fp, oldSeq, st.sequence)
      } else Unchanged(fp, st.sequence)
    st.eventCount += n
    if (config.stabilizeAfter > 0 && st.eventCount >= config.stabilizeAfter) {
      st.stabilized = true
      return Stabilized(st.fingerprint, st.sequence)
    }
    result
  }

  /** Inferred Spark schema for a table (registry/evolution-ledger wiring). */
  private def inferredStructTypeLocked(st: TableState): StructType =
    StructType(st.fields.map { case (name, fi) =>
      val dt = fi.types match {
        case s if s == Set("int") => LongType
        case s if s.nonEmpty && s.subsetOf(Set("int", "float")) => DoubleType
        case s if s == Set("bool") => BooleanType
        case _ => StringType
      }
      StructField(name, dt, nullable = fi.sawNull || fi.presentIn < st.sensedCount)
    }.toSeq)

  def state(table: String): Option[TableState] = synchronized(tables.get(table))
  def tableNames: Seq[String] = synchronized(tables.keys.toSeq)
  def evolutions: Seq[(String, String, String, Long, Long)] =
    synchronized(evolutionLog.toSeq)

  def recordDrift(table: String,
                  rows: Seq[(String, String, String, String, Long)]): Unit =
    driftResults(table) = rows
  def drift(table: String): Option[Seq[(String, String, String, String, Long)]] =
    driftResults.get(table)
  def driftTables: Seq[String] = driftResults.keys.toSeq

  /** Latest S-4 classifier evidence per table — the raw sketch dump the
   * reference exposes over REST (rest-api/src/sensing.rs evidence routes;
   * sketches from high_cardinality.rs:138-175): HLL field-name
   * cardinality, SpaceSaving heavy hitters with counts, reservoir-sampled
   * field names. Pushed by the pipeline's sensing stage (the output of
   * [[SchemaSensing.observeEvidence]]). */
  private val evidenceResults = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Seq[(String, Long)], Seq[String])]

  def recordEvidence(table: String, nUniqueFields: Long,
                     heavyHitters: Seq[(String, Long)],
                     sampledFields: Seq[String]): Unit =
    evidenceResults(table) = (nUniqueFields, heavyHitters, sampledFields)
  def evidence(table: String): Option[(Long, Seq[(String, Long)], Seq[String])] =
    evidenceResults.get(table)
  def evidenceTables: Seq[String] = evidenceResults.keys.toSeq

  // ———————————————————————— JSON (REST surface) ————————————————————————

  private def strings(xs: Iterable[String]) = xs.map(TextNode.valueOf).toSeq.asJava

  /** `InferredSchemaInfo` row (rest-api/src/sensing.rs:62-78), and with
   * `withFields` the `InferredSchemaDetail` (rest-api/src/sensing.rs:81-118). */
  private def summaryLocked(table: String, st: TableState, withFields: Boolean): String = {
    val o = mapper.createObjectNode().put("table", table).put("fingerprint", st.fingerprint)
      .put("sequence", st.sequence).put("event_count", st.eventCount).put("stabilized", st.stabilized)
    if (withFields) o.putArray("fields").addAll(st.fields.toSeq.map { case (name, fi) =>
      val f = mapper.createObjectNode().put("name", name)
      f.putArray("types").addAll(strings(fi.types.toSeq.sorted))
      f.put("nullable", fi.sawNull).put("optional", fi.presentIn < st.sensedCount)
    }.asJava)
    mapper.writeValueAsString(o.put("first_seen_ms", st.firstSeenMs).put("last_seen_ms", st.lastSeenMs))
  }

  def infoJson(table: String): Option[String] =
    synchronized(tables.get(table).map(summaryLocked(table, _, withFields = false)))

  def detailJson(table: String): Option[String] =
    synchronized(tables.get(table).map(summaryLocked(table, _, withFields = true)))

  /** JSON Schema export (reference export_json_schema, json_schema.rs). */
  def jsonSchema(table: String): Option[String] = synchronized {
    tables.get(table).map { st =>
      val o = mapper.createObjectNode()
        .put("$schema", "https://json-schema.org/draft/2020-12/schema")
        .put("type", "object").put("title", table)
      val props = o.putObject("properties")
      st.fields.foreach { case (name, fi) =>
        val types = fi.types.map {
          case "int" => "integer"; case "float" => "number"; case "bool" => "boolean"
          case "object" => "object"; case "array" => "array"; case _ => "string"
        }.toSeq.distinct.sorted ++ (if (fi.sawNull) Seq("null") else Nil)
        if (types.size == 1) props.putObject(name).put("type", types.head)
        else props.putObject(name).putArray("type").addAll(strings(types))
      }
      o.putArray("required").addAll(strings(st.fields.collect {
        case (name, fi) if fi.presentIn >= st.sensedCount && !fi.sawNull => name
      }))
      mapper.writeValueAsString(o)
    }
  }

  /** `CacheStats` (rest-api/src/sensing.rs:151-177). */
  def cacheStatsJson: String = synchronized {
    val o = mapper.createObjectNode()
    val rows = o.putArray("tables")
    tables.foreach { case (t, st) =>
      rows.addObject().put("table", t).put("cached_structures", st.structures.size)
        .put("max_cache_size", config.structureCacheSize).put("cache_hits", st.cacheHits)
        .put("cache_misses", st.cacheMisses)
    }
    val (h, m) = tables.values.foldLeft((0L, 0L)) { case ((a, b), st) =>
      (a + st.cacheHits, b + st.cacheMisses)
    }
    val rate = if (h + m == 0) 0.0 else h.toDouble / (h + m)
    mapper.writeValueAsString(o.put("total_cache_hits", h).put("total_cache_misses", m)
      .put("hit_rate", math.rint(rate * 10000) / 10000))
  }
}

/** Pipeline-stage wiring for [[SchemaSensor]]. */
object SchemaSensorStage {

  /**
   * A CdcPipeline processor that feeds the sensor from each micro-batch:
   * the DISTRIBUTED part reduces the batch to one row per (table,
   * key-structure) with a count and one sample payload; the driver then
   * advances the tiny per-table state machine once per distinct structure.
   * Row throughput never reaches the driver — only structure diversity
   * does, and the structure cache bounds what full sensing ever parses.
   */
  def processor(sensor: SchemaSensor, payload: Column = col("after"),
                dynamicFields: Seq[String] = Nil,
                maxStructuresPerBatch: Int = 1024)
      : DataFrame => DataFrame = { batch =>
    // Structure hash: once the HC classifier has named a table's dynamic
    // map fields, hash WITHOUT them (reference compute_adaptive_hash) —
    // otherwise per-row map keys make every row its own structure.
    val hash =
      if (dynamicFields.isEmpty) SchemaSensing.structureHash(col("__p"))
      else SchemaSensing.structureHashAdaptive(col("__p"), dynamicFields)
    // The collect is bounded: heaviest structures first (TakeOrdered, no
    // global sort), capped at maxStructuresPerBatch — a pathological batch
    // (every row a distinct structure, e.g. unclassified per-row map keys)
    // would otherwise collect every payload to the driver. Truncation is
    // LOGGED, never silent: the dropped tail is rare structures whose
    // per-structure counts can't advance warmup/stabilization much anyway.
    val structured = batch
      .select(col("source.table").as("__t"), payload.as("__p"))
      .filter(col("__p").isNotNull)
      .groupBy(col("__t"), hash.as("__s"))
      .agg(count(lit(1)).as("__n"), first(col("__p")).as("__sample"))
      .orderBy(col("__n").desc)
      .limit(maxStructuresPerBatch + 1)
      .collect()
    if (structured.length > maxStructuresPerBatch)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"schema sensor: batch exceeded $maxStructuresPerBatch distinct " +
          "structures; tail truncated — classify dynamic fields " +
          "(structureHashAdaptive) to collapse per-row map keys")
    structured.take(maxStructuresPerBatch).foreach { r =>
      sensor.observeStructure(r.getString(0), r.getAs[String]("__sample"),
        r.getAs[Long]("__n"))
    }
    batch
  }
}
