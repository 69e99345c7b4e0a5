package graft.operators

import graft.SparkSpec
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Script UDF host: the reference's JS-processor slot
 * (crates/processors/src/js.rs) with scripts written in ACTUAL JAVASCRIPT,
 * executed by the built-in [[MiniJs]] interpreter. The JS scripts below
 * mirror the reference's own test corpus (js_processor_tests.rs): mutate
 * in place + return null, filter with arrow functions, fan out clones via
 * JSON round-trip, single-object returns, ev.route() routing extraction.
 */
class ScriptHostSpec extends SparkSpec {

  /**
   * The reference semantics exercised in one script (js.rs:84-90):
   * drop deletes, mutate the after-image, set routing, fan out a
   * synthetic (id-less) audit event per create.
   */
  private val script =
    """function processBatch(events) {
      |  const out = [];
      |  for (const ev of events) {
      |    if (ev.op === "d") continue;
      |    ev.after.enriched = true;
      |    ev.route({ topic: "cdc.custom", key: ev.event_id });
      |    out.push(ev);
      |    if (ev.op === "c") out.push({ after: ev.after, op: "c", ts_ms: ev.ts_ms, event_id: null });
      |  }
      |  return out;
      |}""".stripMargin

  private def events(): DataFrame = {
    import spark.implicits._
    ChangeEvent.conform(
      Seq(
        ("c", null, """{"id":1,"v":10}""", 100L),
        ("u", """{"id":2,"v":1}""", """{"id":2,"v":20}""", 200L),
        ("d", """{"id":3,"v":30}""", null, 300L))
        .toDF("op", "before", "after", "ts_ms")
        .withColumn("source", struct(lit("shop").as("db"), lit("orders").as("table")))
        .withColumn("event_id", concat(lit("e"), col("ts_ms"))))
  }

  test("scripted processor: mutate, drop, fan-out, routing through a live engine") {
    // generous deadline: this test pins TRANSFORM semantics, not the timeout
    // (covered by SinksAndRegistrySpec's udf host timeout guard); the
    // default 5 s flakes when the full suite saturates all 32 host threads
    val out = ScriptHost.processor("js1", script, timeoutMs = 60000)(events())
      .orderBy("ts_ms", "synthetic")
      .collect()
    // c → original + synthetic fan-out; u → 1; d → dropped
    assert(out.length == 3)
    val Array(c, cSynth, u) = out.sortBy(r => (r.getAs[Long]("ts_ms"), r.getAs[String]("event_id") == null))
    // mutation visible in the after image
    assert(c.getAs[String]("after").contains("\"enriched\":true"))
    assert(u.getAs[String]("after").contains("\"v\":20"))
    // routing extracted into the envelope's routing struct
    assert(c.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("topic") == "cdc.custom")
    assert(c.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("key") == "e100")
    // envelope rebound for same-id events: source survives the script hop
    assert(c.getAs[org.apache.spark.sql.Row]("source").getAs[String]("table") == "orders")
    // id-less fan-out event marked synthetic with the processor id
    assert(cSynth.getAs[String]("event_id") == null)
    assert(cSynth.getAs[String]("synthetic") == "js1")
    // fabricated events carry no envelope: source is null or all-null fields
    val synthSrc = cSynth.getAs[org.apache.spark.sql.Row]("source")
    assert(synthSrc == null || synthSrc.toSeq.forall(_ == null))
  }

  test("JS: mutate in place + return null = use mutated input (js.rs:84-88)") {
    val js =
      """function processBatch(events) {
        |  for (const ev of events) {
        |    if (ev.after) {
        |      ev.after.note = "mutated";
        |      ev.after.processed = true;
        |      ev.after.src = ev.source.db + "." + ev.source.table + ":" + ev.op;
        |    }
        |  }
        |  return null;
        |}""".stripMargin
    val out = ScriptHost.processor("jsm", js)(events()).orderBy("ts_ms").collect()
    assert(out.length == 3) // nothing dropped
    val c = out(0)
    assert(c.getAs[String]("after").contains("\"note\":\"mutated\""))
    assert(c.getAs[String]("after").contains("\"processed\":true"))
    assert(c.getAs[String]("after").contains("\"src\":\"shop.orders:c\""))
    assert(out(2).getAs[String]("after") == null) // delete's null image survives
  }

  test("JS: filter with arrow function; empty-return drops all (js_processor_tests)") {
    val filt = ScriptHost.processor("jsf",
      """function processBatch(events) {
        |  return events.filter(ev => ev.op === "c");
        |}""".stripMargin)(events()).collect()
    assert(filt.length == 1 && filt.head.getAs[String]("op") == "c")

    val none = ScriptHost.processor("jsd",
      "function processBatch(events) { return []; }")(events()).collect()
    assert(none.isEmpty)
  }

  test("JS: fan-out via JSON clone; single-object return wrapped; ev.route routing") {
    val js =
      """function processBatch(events) {
        |  const out = [];
        |  for (const ev of events) {
        |    if (ev.op === "d") continue;
        |    ev.route({ topic: `cdc.${ev.op}`, key: ev.event_id });
        |    out.push(ev);
        |    if (ev.op === "c") {
        |      const audit = JSON.parse(JSON.stringify(ev));
        |      audit.after = audit.after || {};
        |      audit.after.is_audit = true;
        |      audit.event_id = null;
        |      route(audit, { topic: "audit" });
        |      out.push(audit);
        |    }
        |  }
        |  return out.length === 1 ? out[0] : out;
        |}""".stripMargin
    val out = ScriptHost.processor("js1", js)(events())
      .orderBy("ts_ms", "synthetic").collect()
    assert(out.length == 3) // c + audit clone + u; d dropped
    val Array(c, cSynth, u) = out.sortBy(r => (r.getAs[Long]("ts_ms"), r.getAs[String]("event_id") == null))
    assert(c.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("topic") == "cdc.c")
    assert(c.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("key") == "e100")
    assert(u.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("topic") == "cdc.u")
    assert(c.getAs[org.apache.spark.sql.Row]("source").getAs[String]("table") == "orders")
    assert(cSynth.getAs[String]("event_id") == null)
    assert(cSynth.getAs[String]("synthetic") == "js1") // fabricated ⇒ marked
    assert(cSynth.getAs[String]("after").contains("\"is_audit\":true"))
    assert(cSynth.getAs[org.apache.spark.sql.Row]("routing").getAs[String]("topic") == "audit")
  }

  test("JS: routing-table lookup by op (js_routes_by_op_type)") {
    val js =
      """function processBatch(events) {
        |  for (const ev of events) {
        |    const routing = { "c": "inserts", "u": "updates", "d": "deletes", "r": "snapshots" };
        |    if (ev.after) ev.after.routed_to = routing[ev.op] || "unknown";
        |    else if (ev.before) ev.before.routed_to = routing[ev.op] || "unknown";
        |  }
        |  return null;
        |}""".stripMargin
    val out = ScriptHost.processor("jsr", js)(events()).orderBy("ts_ms").collect()
    assert(out(0).getAs[String]("after").contains("\"routed_to\":\"inserts\""))
    assert(out(1).getAs[String]("after").contains("\"routed_to\":\"updates\""))
    assert(out(2).getAs[String]("before").contains("\"routed_to\":\"deletes\""))
  }

  test("JS: destructuring + spread in processBatch (real user-script shapes)") {
    // the shapes user scripts reach for first: destructure the envelope in
    // the parameter list and loop header, rebuild the after-image with
    // object spread, collect fan-out with array spread
    val js =
      """function enrich({op, source: {db, table}, after}) {
        |  return {...after, src: `${db}.${table}`, verb: op};
        |}
        |function processBatch(events) {
        |  let out = [];
        |  for (const ev of events) {
        |    const {op, after = null} = ev;
        |    if (op === "d" || after === null) continue;
        |    ev.after = enrich(ev);
        |    out = [...out, ev];
        |  }
        |  return out;
        |}""".stripMargin
    val out = ScriptHost.processor("jsds", js)(events()).orderBy("ts_ms").collect()
    assert(out.length == 2) // delete dropped
    assert(out(0).getAs[String]("after").contains("\"src\":\"shop.orders\""))
    assert(out(0).getAs[String]("after").contains("\"verb\":\"c\""))
    assert(out(1).getAs[String]("after").contains("\"verb\":\"u\""))
  }

  test("JS: generator + async/await in a routing script (r10 ES-subset closure)") {
    // a user routing script that fans out via a generator and enriches
    // through an async helper — the last documented MiniJs gaps vs the
    // reference's V8 host (js.rs:74-130), exercised through the real host
    val js =
      """function* withAudits(events) {
        |  for (const ev of events) {
        |    if (ev.op === "d") continue;
        |    yield ev;
        |    if (ev.op === "c") yield {...ev, event_id: null, after: ev.after};
        |  }
        |}
        |async function route(ev) {
        |  const topic = await Promise.resolve(`cdc.${ev.source.db}.${ev.source.table}`);
        |  return topic;
        |}
        |async function processBatch(events) {
        |  const out = [];
        |  for (const ev of withAudits(events)) {
        |    ev.topic = await route(ev);
        |    out.push(ev);
        |  }
        |  return out;
        |}""".stripMargin
    val out = ScriptHost.processor("jsgen", js)(events()).orderBy("ts_ms").collect()
    assert(out.length == 3) // c + its audit clone + u; delete dropped
    assert(out.count(_.getAs[String]("event_id") == null) == 1) // audit fan-out
    assert(out.forall { r => // script-set ev.topic surfaces in the routing struct
      val rt = r.getAs[org.apache.spark.sql.Row]("routing")
      rt != null && rt.getAs[String]("topic") == "cdc.shop.orders"
    })
  }

  test("JS: async generator drives processBatch via for await (r11 ES-subset closure)") {
    // the last documented ES-subset divergence vs the reference V8 host
    // (js.rs:84-130): async function* + for await...of, composed in a
    // real routing script through the real host
    val js =
      """async function* enriched(events) {
        |  for (const ev of events) {
        |    if (ev.op === 'd') continue;
        |    const topic = await Promise.resolve(`cdc.${ev.source.db}.${ev.source.table}`);
        |    yield {...ev, topic: topic};
        |  }
        |}
        |async function processBatch(events) {
        |  const out = [];
        |  for await (const ev of enriched(events)) out.push(ev);
        |  return out;
        |}""".stripMargin
    val out = ScriptHost.processor("jsagen", js)(events()).orderBy("ts_ms").collect()
    assert(out.length == 2) // c + u; delete dropped by the async generator
    assert(out.forall { r =>
      val rt = r.getAs[org.apache.spark.sql.Row]("routing")
      rt != null && rt.getAs[String]("topic") == "cdc.shop.orders"
    })
  }

  test("JS: i64 envelope fields re-normalize through f64 (js.rs:205-213)") {
    // 1700000000000 > 2^32 but < 2^53: survives the double round-trip and
    // must come back as a LONG in ts_ms, not 1.7e12
    val js =
      """function processBatch(events) {
        |  for (const ev of events) { ev.after.seen_ts = ev.ts_ms; }
        |  return events;
        |}""".stripMargin
    val t = ScriptHost.transform(js)
    val out = t(Iterator(UdfHost.UserEvent(before = null, after = "{}",
      op = "c", tsMs = 1700000000123L, eventId = "e1", table = "t", db = "d"))).toSeq
    assert(out.head.tsMs == 1700000000123L)
    assert(out.head.after.contains("\"seen_ts\":1700000000123")) // no exponent/decimal
  }

  test("JS: syntax error and missing processBatch fail at construction (js.rs errors)") {
    intercept[MiniJs.JsError] {
      ScriptHost.transform("function processBatch(events { return events; }") // missing )
    }
    intercept[IllegalArgumentException] {
      ScriptHost.transform("function wrongName(events) { return events; }")
    }
  }

  test("JS: runaway script halts on the step budget, not a pinned thread") {
    val t = ScriptHost.transform(
      "function processBatch(events) { while (true) {} }")
    val ex = intercept[MiniJs.JsError] {
      t(Iterator(UdfHost.UserEvent(before = null, after = "{}",
        op = "c", tsMs = 1L, eventId = "e", table = "t", db = "d"))).toSeq
    }
    assert(ex.getMessage.contains("step budget"))
  }

  test("JS: class-based user script — validators, throw new Error per event, instanceof") {
    // the shape real processor scripts take once classes exist: a
    // validator class hierarchy, per-event try/catch with typed errors,
    // and error-tagged passthrough instead of batch failure
    val js =
      """class ValidationError extends Error {
        |  constructor(field) { super('missing ' + field); this.name = 'ValidationError'; this.field = field; }
        |}
        |class Validator {
        |  constructor(required) { this.required = required; }
        |  check(img) {
        |    for (const f of this.required) {
        |      if (!(f in img)) throw new ValidationError(f);
        |    }
        |    return true;
        |  }
        |}
        |class OrderValidator extends Validator {
        |  constructor() { super(['id']); }
        |  check(img) { super.check(img); if (img.id < 0) throw new ValidationError('id>=0'); return true; }
        |}
        |const v = new OrderValidator();
        |function processBatch(events) {
        |  const out = [];
        |  for (const ev of events) {
        |    if (!ev.after) { out.push(ev); continue; }
        |    const img = ev.after; // preamble delivers parsed images
        |    try {
        |      v.check(img);
        |      img.valid = true;
        |    } catch (e) {
        |      if (!(e instanceof ValidationError)) throw e;
        |      img.valid = false;
        |      img.invalid_reason = e.message;
        |      img.invalid_field = e.field;
        |    }
        |    out.push(ev);
        |  }
        |  return out;
        |}""".stripMargin
    val in = Seq(
      UdfHost.UserEvent(before = null, after = """{"id":5}""", op = "c",
        tsMs = 1L, eventId = "e1", table = "t", db = "d"),
      UdfHost.UserEvent(before = null, after = """{"id":-2}""", op = "u",
        tsMs = 2L, eventId = "e2", table = "t", db = "d"),
      UdfHost.UserEvent(before = null, after = """{"name":"x"}""", op = "u",
        tsMs = 3L, eventId = "e3", table = "t", db = "d"),
      UdfHost.UserEvent(before = null, after = null, op = "d",
        tsMs = 4L, eventId = "e4", table = "t", db = "d"))
    val t = ScriptHost.transform(js)
    val out = t(in.iterator).toSeq
    assert(out.length == 4)
    assert(out(0).after.contains("\"valid\":true"))
    // derived-class check threw AFTER super.check passed: id present, negative
    assert(out(1).after.contains("\"valid\":false"))
    assert(out(1).after.contains("\"invalid_field\":\"id>=0\""))
    // base-class check threw through the super.check call: id missing
    assert(out(2).after.contains("\"valid\":false"))
    assert(out(2).after.contains("\"invalid_reason\":\"missing id\""))
    assert(out(2).after.contains("\"invalid_field\":\"id\""))
    assert(out(3).after == null) // delete passthrough
  }

  test("json wire: ts_ms normalized back to i64, null images survive") {
    // the wire codec through a pass-through script
    val t = ScriptHost.transform("function processBatch(events) { return events; }")
    val in = Seq(UdfHost.UserEvent(before = null, after = """{"id":1}""",
      op = "c", tsMs = 1234567890123L, eventId = "e1", table = "t", db = "d"))
    val out = t(in.iterator).toSeq
    assert(out.head.tsMs == 1234567890123L)
    assert(out.head.before == null)
    assert(out.head.after == """{"id":1}""")
    assert(out.head.topic == null && out.head.synthetic == null)
  }
}
