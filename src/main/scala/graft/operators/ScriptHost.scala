package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode

/**
 * JavaScript user-processor host: runs a user script on the built-in
 * [[MiniJs]] interpreter as a [[UdfHost.Transform]], so scripted processors
 * get the same chunked-timeout, synthetic-marking, envelope-rebind
 * machinery as Scala ones.
 *
 * Reference: crates/processors/src/js.rs — the JS processor contract:
 *  - the script defines `processBatch(events)` (js.rs:84-90);
 *  - each event carries `before`/`after` as OBJECTS plus op, ts_ms,
 *    event_id, source.{db,table};
 *  - a preamble injects `ev.route({topic,key})` / `route(ev, opts)`
 *    (js.rs:55-70), stored as `ev.__routing` and extracted after the call;
 *  - `processBatch` may return an array (fan-out/drop), a single event, or
 *    null/undefined ⇒ use the (mutated) input (js.rs:84-88);
 *  - numbers round-trip through the engine's number type (f64 in JS) and
 *    integer envelope fields are re-normalized on the way out
 *    (js.rs:205-213 — same caveat applies here via `asLong`).
 *
 * The host speaks ONE wire — a JSON array in, a JSON array out, via the
 * `__graft_process(json)` entry point that the preamble defines. The JVM
 * bundles no JS engine (Nashorn left the JDK at 15), so the contract is
 * implemented by [[MiniJs]], not delegated.
 */
object ScriptHost {

  /**
   * Adapts the reference `processBatch` contract. `__routing` set by
   * `ev.route()` is surfaced as `topic`/`key`; return-shape normalization
   * (array | single | null) mirrors js.rs:84-88.
   */
  private val preamble =
    """function route(ev, opts) { ev.__routing = opts; }
      |var __awaitFn = (typeof __await !== 'undefined') ? __await : function(x) { return x; };
      |function __graft_process(json) {
      |  var events = JSON.parse(json);
      |  for (var i = 0; i < events.length; i++) {
      |    var ev = events[i];
      |    ev.route = function(opts) { this.__routing = opts; };
      |  }
      |  // async processBatch: settle the promise (built-in engine bridge;
      |  // identity for sync scripts and external engines)
      |  var out = __awaitFn(processBatch(events));
      |  if (out === null || out === undefined) out = events;
      |  if (!Array.isArray(out)) out = [out];
      |  for (var j = 0; j < out.length; j++) {
      |    var o = out[j];
      |    delete o.route;
      |    if (o.__routing) {
      |      o.topic = o.__routing.topic; o.key = o.__routing.key;
      |      delete o.__routing;
      |    }
      |  }
      |  return JSON.stringify(out);
      |}""".stripMargin

  private val mapper = new ObjectMapper()

  private def toJson(events: Seq[UdfHost.UserEvent]): String = {
    val arr = mapper.createArrayNode()
    events.foreach { u =>
      val o = arr.addObject()
      if (u.before == null) o.putNull("before") else o.set[JsonNode]("before", mapper.readTree(u.before))
      if (u.after == null) o.putNull("after") else o.set[JsonNode]("after", mapper.readTree(u.after))
      o.put("op", u.op)
      o.put("ts_ms", u.tsMs)
      o.put("event_id", u.eventId)
      val src = o.putObject("source")
      src.put("db", u.db)
      src.put("table", u.table)
    }
    mapper.writeValueAsString(arr)
  }

  private def str(n: JsonNode, f: String): String = {
    val v = n.get(f)
    if (v == null || v.isNull) null else v.asText()
  }

  private def fromJson(json: String): Seq[UdfHost.UserEvent] = {
    val arr = mapper.readTree(json).asInstanceOf[ArrayNode]
    (0 until arr.size()).map { i =>
      val n = arr.get(i)
      def img(f: String): String = {
        val v = n.get(f)
        if (v == null || v.isNull) null else mapper.writeValueAsString(v)
      }
      val src = n.get("source")
      UdfHost.UserEvent(
        before = img("before"),
        after = img("after"),
        op = str(n, "op"),
        tsMs = Option(n.get("ts_ms")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
        eventId = str(n, "event_id"),
        table = if (src == null || src.isNull) null else str(src, "table"),
        db = if (src == null || src.isNull) null else str(src, "db"),
        topic = str(n, "topic"),
        key = str(n, "key"),
        synthetic = str(n, "synthetic"))
    }
  }

  // Engines are mutable (global env) and not thread-safe; UdfHost runs one
  // transform thread per partition, so engines are cached per (thread,
  // script), keyed by the FULL script text, not its hashCode — a 32-bit
  // String hash collision would silently hand one processor another's engine
  private val engineCache = new ThreadLocal[java.util.HashMap[String, MiniJs.Engine]] {
    override def initialValue() = new java.util.HashMap[String, MiniJs.Engine]()
  }

  private def engineFor(script: String): MiniJs.Engine = {
    val cache = engineCache.get()
    var e = cache.get(script)
    if (e == null) {
      e = buildEngine(script)
      cache.put(script, e)
    }
    e
  }

  private def buildEngine(script: String): MiniJs.Engine = {
    val e = new MiniJs.Engine()
    e.eval(preamble)
    e.eval(script) // throws JsError on invalid syntax — construction fails fast
    require(e.global.has("processBatch"),
      "js script must define a global function processBatch(events) (js.rs:84-90)")
    e
  }

  /**
   * Build a [[UdfHost.Transform]] from a user script. Fails fast at
   * construction on a syntax error or an undefined `processBatch` (driver
   * side). Feed the result to [[UdfHost.apply]] for the chunked 5 s timeout
   * and synthetic marking.
   */
  def transform(script: String): UdfHost.Transform = {
    buildEngine(script) // validate now, driver-side
    (events: Iterator[UdfHost.UserEvent]) => {
      val chunk = events.toSeq
      if (chunk.isEmpty) Iterator.empty
      else {
        val engine = engineFor(script)
        engine.resetBudget()
        val out = engine.call("__graft_process", Seq(MiniJs.VStr(toJson(chunk))))
        fromJson(MiniJs.toStr(out)).iterator
      }
    }
  }

  /** Sugar: a scripted processor wired through the full UdfHost machinery. */
  def processor(processorId: String, script: String,
                timeoutMs: Long = 5000, chunkSize: Int = 2000): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    UdfHost(processorId, transform(script), timeoutMs, chunkSize)
}
