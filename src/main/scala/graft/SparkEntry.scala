package graft

import graft.core.ChangeEvent
import graft.llm.{Dedup, Multimodal, Packing, Sampling, Similarity, SubstringDedup, TextAnalysis}
import graft.operators._
import graft.sources.CdcSynth
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Driver contract: every operator from SURVEY.md §2 gets a `queries` entry;
 * each SQL-expressible one gets a DuckDB `oracleSql` twin with IDENTICAL
 * column names and row order.
 *
 * Numeric discipline for oracle hash-matching: sums go through exact
 * DECIMAL casts then back to DOUBLE (double summation order is
 * engine-dependent; decimal is not); ratios/divisions are carried out on
 * identical doubles in identical op order (IEEE-deterministic both sides);
 * timestamps are emitted as formatted strings.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact sum: cast to decimal, sum, cast back to double. */
  private def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  private def dsum4(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /**
   * events.parquet's `ts` physical type has changed across driver testdata
   * generations: TIMESTAMP(NANOS) (unreadable natively → nanosAsLong int64)
   * through round 7, TIMESTAMP(MICROS) from round 8's regeneration — which
   * silently killed every events query (`ts div 1000000` fails analysis on
   * a timestamp column). Branch on the schema the reader actually produced
   * so the helper survives either generation; all queries consume only the
   * derived epoch-`ms` column.
   */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    val ms = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000000") // nanos-as-long
      case TimestampType => unix_millis(col("ts"))
      case TimestampNTZType =>
        // session TZ is pinned to UTC in Verify and perfbench, so NTZ→TZ is exact
        unix_millis(col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected type $other")
    }
    df.withColumn("ms", ms)
  }

  private def jget(c: String, path: String): Column = get_json_object(col(c), "$." + path)

  /**
   * Range-spread `src` on `key`, apply the NARROW `chain`, sort within
   * partitions by `outKeys` — globally identical to
   * `chain(src).orderBy(outKeys)` (range partitions are globally ordered,
   * each sorted within), while the sort's bounds-sampling job runs on the
   * cheap source scan instead of RE-EXECUTING the chain. A trailing
   * `orderBy` above an expensive narrow chain costs ~2× its task-CPU: the
   * range exchange's sampling pass executes the child once just to pick
   * partition bounds (the cdc_binlog_decode r14 finding — measured exactly
   * 2× — generalized to every narrow-chain query in r15; data_dsir_weights
   * dropped 21.7 → 9.8 x10 task-CPU-s from this rewrite alone).
   * `chain` must be key-order-preserving: row-wise projections and filters
   * only, with every `outKeys` expression monotone in `key`.
   */
  private def rangeSorted(src: DataFrame, key: Column, outKeys: Seq[Column])
      (chain: DataFrame => DataFrame): DataFrame = {
    val par = src.sparkSession.sparkContext.defaultParallelism
    chain(src.repartitionByRange(par, key)).sortWithinPartitions(outKeys: _*)
  }

  /** Flagship query on sf0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_join_topn")(spark, "/root/testdata/sf0.001")

  // ———————————————————————————— queries ————————————————————————————

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // —— relational surface (SURVEY §2.8: free from Catalyst, judged) ——

    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q2_filter_project" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),

    "q3_join_topn" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(o("o_orderkey"), c("c_name"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q4_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast(LongType).as("rnk"))
        .orderBy("o_custkey", "rnk")
    }),

    "q5_setops" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_acctbal") > 0).select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey")
    }),

    "q6_antijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q7_agg_having" -> ((s, dir) => {
      t(s, dir, "part").groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"), dsum2(col("p_retailprice")).as("sum_price"))
        .filter(col("n_parts") >= 5)
        .orderBy("p_brand")
    }),

    "q8_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // —— CDC operator surface (SURVEY §2.1–2.5) ——

    "cdc_snapshot_read" -> ((s, dir) => {
      CdcSynth.snapshot(s, dir, "nation", "inventory", "n_nationkey")
        .select(jget("after", "n_nationkey").cast(LongType).as("n_nationkey"),
          jget("after", "n_name").as("n_name"), col("op"))
        .orderBy("n_nationkey")
    }),

    "cdc_filter" -> ((s, dir) => {
      import FilterProcessor._
      val cfg = Config(
        ops = Seq(ChangeEvent.Op.Create, ChangeEvent.Op.Update),
        tables = Seq("inventory.*"),
        predicates = Seq(Gt("o_totalprice", 150000), In("o_orderstatus", Seq("F", "O"))),
        matchMode = MatchAll)
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"), Seq(col("o_orderkey"))) { o =>
        // the projection fields ride the gate's single parse (keep=...):
        // the old per-field jget re-parsed the payload twice per survivor
        FilterProcessor(cfg, keep = Seq("o_orderkey" -> "__fp_key",
          "o_totalprice" -> "__fp_price"))(
          CdcSynth.changeEvents(o, "inventory", "orders",
            "o_orderkey", tsCol = Some("o_orderdate")))
          .select(col("__fp_key").cast(LongType).as("o_orderkey"), col("op"),
            col("__fp_price").cast(DoubleType).as("o_totalprice"))
      }
    }),

    "cdc_filter_changed" -> ((s, dir) => {
      import FilterProcessor._
      val op = CdcSynth.opFor(col("o_orderkey"))
      val delta = when(col("o_orderkey") % 3 === 0, 10.0).otherwise(0.0)
      // encode stays builtin to_json: the fused-template swap was built and
      // REVERTED r16 — 5 interleaved fresh-JVM A/B rounds read the fused arm
      // consistently ~10-20% WORSE at x10 (min 15.5 vs 14.3, 18.3 vs 15.5)
      // despite an x1 win; these images sit under per-op `when()` branches
      // (unlike the staged CdcSynth payload where the template wins)
      val beforeJson = to_json(struct(col("o_orderkey"), col("o_totalprice")))
      val afterJson = to_json(struct(col("o_orderkey"),
        (col("o_totalprice") + delta).as("o_totalprice")))
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"), Seq(col("o_orderkey"))) { o =>
        val ev = ChangeEvent.conform(o.select(
          when(op.isin("u", "d"), beforeJson).as("before"),
          when(op =!= "d", afterJson).as("after"),
          op.as("op"),
          col("o_orderkey").cast(LongType).as("ts_ms")))
        FilterProcessor(Config(predicates = Seq(Changed("o_totalprice"))))(ev)
          .select(coalesce(jget("after", "o_orderkey"), jget("before", "o_orderkey"))
            .cast(LongType).as("o_orderkey"), col("op"))
      }
    }),

    "cdc_flatten" -> ((s, dir) => {
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"), Seq(col("order__id"))) { o =>
        FlattenProcessor(o.select(struct(
          struct(col("o_orderkey").as("id"), col("o_totalprice").as("price")).as("order"),
          struct(col("o_custkey").as("key")).as("customer")).as("payload")), "payload")
      }
    }),

    "cdc_outbox" -> ((s, dir) => {
      val eventType = when(col("o_orderstatus") === "F", "OrderFulfilled")
        .when(col("o_orderstatus") === "O", "OrderCreated").otherwise("OrderPending")
      // fused encode (byte-identical to to_json by spec; oracle-pinned)
      val outboxAfter = graft.functions.JsonEncode.fusedJsonFor(struct(
        concat(lit("evt-"), col("o_orderkey")).as("id"),
        lit("Order").as("aggregate_type"),
        col("o_orderkey").cast(StringType).as("aggregate_id"),
        eventType.as("event_type"),
        struct(col("o_orderkey"), col("o_totalprice")).as("payload")),
        StructType(Seq(
          StructField("id", StringType), StructField("aggregate_type", StringType),
          StructField("aggregate_id", StringType), StructField("event_type", StringType),
          StructField("payload", StructType(Seq(
            StructField("o_orderkey", LongType),
            StructField("o_totalprice", DoubleType)))))))
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"),
        Seq(col("event_key").cast(LongType))) { o =>
        // after IS the outbox row directly — no double-encode + re-extract
        val ev = CdcSynth.changeEvents(o, "inventory", "outbox_orders", "o_orderkey",
          payloadOverride = Some(outboxAfter))
          .withColumn("source", col("source").withField("schema", lit("__outbox")))
        OutboxProcessor(OutboxProcessor.Config(
          topicTemplate = Some("${aggregate_type}.${event_type}")))(ev)
          .select(col("routing.topic").as("topic"), col("routing.key").as("event_key"))
      }
    }),

    "cdc_routing" -> ((s, dir) => {
      // one-exchange shape (r17): range-spread the 2-col source and sort
      // within partitions — globally identical to the old trailing
      // orderBy("o_orderkey") (pos = pk, the chain is row-wise), but the
      // narrow source crosses the single exchange instead of paying a
      // RoundRobin spread + a range exchange + the bounds-sampling re-run
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"), Seq(col("o_orderkey"))) { o =>
        val ev = CdcSynth.changeEvents(o, "inventory", "orders", "o_orderkey",
          tsCol = Some("o_orderdate")).withColumn("routing",
          struct(
            when(col("source.pos") % 7 === 0, "priority.events").as("topic"),
            lit(null).cast(StringType).as("key"),
            lit(null).cast(MapType(StringType, StringType)).as("headers"),
            lit(false).as("raw_payload")))
        ev.select(col("source.pos").as("o_orderkey"),
          Routing.resolveTopic(Some("cdc.${source.db}.${source.table}"), "fallback").as("topic"))
      }
    }),

    // the parse-once hot-path machinery itself, oracle-pinned: one fused
    // JsonPathsGenerate pass extracts scalars (exact literals), a nested
    // path, a whole sub-object, and a missing path — vs DuckDB json_extract
    "cdc_json_extract" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // fused encode (byte-identical to to_json by spec; oracle-pinned)
      val payload = graft.functions.JsonEncode.fusedJsonFor(struct(
        col("o_orderkey").as("id"),
        struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("order"),
        col("o_orderpriority").as("prio")),
        StructType(Seq(
          StructField("id", LongType),
          StructField("order", StructType(Seq(
            StructField("status", StringType), StructField("price", DoubleType)))),
          StructField("prio", StringType))))
      val paths = Seq("id", "order.status", "order.price", "order", "missing")
      val names = Seq("id", "status", "price", "order_obj", "missing_f")
      rangeSorted(o, col("o_orderkey"), Seq(col("o_orderkey"))) { oo =>
        oo.select(col("o_orderkey"), payload.as("j"))
          .select(col("o_orderkey"),
            graft.functions.JsonPathOps.jsonPathsTuple(col("j"), paths).as(names))
      }
    }),

    // NESTED fused decode (r15): encode a nested change payload — struct
    // order{...}, array<long> items, array<struct{k,v}> attrs (the
    // reference's List<T> lake-envelope shape, s3/encoder.rs:1-19) — then
    // decode it back through JsonDecode.fusedFromJson with a NESTED schema
    // (previously flat-only → Jackson fallback; fused measured 2-4.5×
    // cheaper at ×10) and project scalars out of every nesting level. The
    // oracle is round-trip IDENTITY on the source columns: any divergence
    // in either the fused encoder or the nested decoder breaks equality.
    "cdc_nested_decode" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val sch = StructType(Seq(
        StructField("order", StructType(Seq(
          StructField("id", LongType), StructField("status", StringType),
          StructField("price", DoubleType)))),
        StructField("items", ArrayType(LongType)),
        StructField("attrs", ArrayType(StructType(Seq(
          StructField("k", StringType), StructField("v", StringType)))))))
      // encode stays builtin to_json — r17 CLOSES the r16 finding: the r16
      // swap's 2x x10 regression (29.0/33.1 vs 13.7/15.3) was the BOXED
      // array<struct> leaves (codegen materialized a GenericArrayData of
      // rows per input row); with the r17 array-aware template (leaves
      // render straight from codegen, JsonEncodeSpec byte-parity + template-
      // engagement pins) the same swap measured PARITY, not a win — x10
      // task-CPU mins 14.83 fused vs 14.27 builtin over 3 interleaved
      // fresh-JVM rounds. Small scalar leaves make Jackson vs template a
      // wash; the template's wins need big string leaves. Builtin kept by
      // the measured-wins-only rule.
      val payload = to_json(struct(
        struct(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price")).as("order"),
        array(col("o_orderkey"), col("o_custkey"), pmod(col("o_orderkey"), lit(7))).as("items"),
        array(
          struct(lit("prio").as("k"), col("o_orderpriority").as("v")),
          struct(lit("stat").as("k"), col("o_orderstatus").as("v"))).as("attrs")))
      rangeSorted(o, col("o_orderkey"), Seq(col("o_orderkey"))) { oo =>
        oo.select(col("o_orderkey").cast(LongType).as("o_orderkey"), payload.as("j"))
          .select(col("o_orderkey"),
            graft.functions.JsonDecode.fusedFromJson(col("j"), sch).as("p"))
          .select(col("o_orderkey"),
            col("p.order.id").as("id"), col("p.order.status").as("status"),
            col("p.order.price").as("price"),
            element_at(col("p.items"), 2).as("item_cust"),
            size(col("p.items")).cast(LongType).as("n_items"),
            element_at(col("p.attrs"), 1).getField("v").as("attr_prio"))
      }
    }),

    "cdc_envelope" -> ((s, dir) => {
      val op = CdcSynth.opFor(col("o_orderkey"))
      // fused encode (byte-identical to to_json by spec; oracle-pinned)
      val payload = graft.functions.JsonEncode.fusedJsonFor(
        struct(col("o_orderkey").as("id"), col("o_orderstatus").as("status")),
        StructType(Seq(StructField("id", LongType), StructField("status", StringType))))
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"), Seq(col("o_orderkey"))) { o =>
      // stage the payload in its OWN projection (the CdcSynth.changeEvents
      // pattern): conditional branches are excluded from codegen CSE, so
      // un-staged the 'u' rows (30% of the op mix) paid the fused encode
      // TWICE — ~1.3 encode evals/row; staged, every row pays exactly one
      val staged = o.select(col("*"), payload.as("__payload"))
      val ev = ChangeEvent.conform(staged.select(
        when(op.isin("u", "d"), col("__payload")).as("before"),
        when(op =!= "d", col("__payload")).as("after"),
        struct(
          lit("graft-0.1.0").as("version"), lit("mysql").as("connector"),
          lit("test-db").as("name"), lit(0L).as("ts_ms"), lit("inventory").as("db"),
          lit(null).cast(StringType).as("schema"), lit("orders").as("table"),
          lit(false).as("snapshot"), lit(1L).as("server_id"),
          lit(null).cast(StringType).as("gtid"), lit(null).cast(StringType).as("file"),
          col("o_orderkey").cast(LongType).as("pos"), lit(null).cast(StringType).as("lsn"),
          lit(null).cast(LongType).as("tx_id"), lit(null).cast(LongType).as("sequence")).as("source"),
        op.as("op"),
        (col("o_orderdate").cast(TimestampType).cast(DoubleType) * 1000).cast(LongType).as("ts_ms"),
        concat(lit("inventory.orders:"), col("o_orderkey")).as("event_id")))
      ev.select(col("source.pos").as("o_orderkey"),
        Envelopes.cloudEvents("com.acme.order").as("envelope"))
      }
    }),

    "cdc_lake_project" -> ((s, dir) => {
      val payloadSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderstatus", StringType)))
      rangeSorted(t(s, dir, "orders"), col("o_orderkey"),
        Seq(coalesce(col("after_o_orderkey"), col("before_o_orderkey")))) { o =>
        LakeProjection(CdcSynth.changeEvents(o, "inventory", "orders",
          "o_orderkey", tsCol = Some("o_orderdate")), payloadSchema)
          .select(col("op"), col("source_db"), col("source_table"), col("event_id"),
            col("before_o_orderkey"), col("after_o_orderkey"),
            col("before_o_totalprice"), col("after_o_totalprice"),
            col("after_o_orderstatus"))
      }
    }),

    "cdc_upsert" -> ((s, dir) => {
      val v = versionedOrders(s, dir)
      Materialize.upsert(v, col("pk"), col("version"),
        Map("pk" -> col("pk"), "total" -> col("total")))
        .orderBy("pk")
    }),

    "cdc_changelog" -> ((s, dir) => {
      val v = versionedOrders(s, dir)
      Materialize.changelog(v, col("version"),
        Map("pk" -> col("pk"), "total" -> col("total")))
        .orderBy("pk", "_version")
    }),

    "cdc_scd2" -> ((s, dir) => {
      // slowly-changing-dimension type 2: each version becomes a validity
      // interval; a delete closes the last interval (no current row)
      val w = Window.partitionBy("pk").orderBy("version")
      versionedOrders(s, dir)
        .withColumn("valid_to", lead(col("version"), 1).over(w))
        .filter(col("op") =!= "d")
        .select(col("pk"), col("total"), col("version").as("valid_from"), col("valid_to"),
          when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
        .orderBy("pk", "valid_from")
    }),

    "cdc_idempotent_dedup" -> ((s, dir) => {
      val e = events(s, dir).select("event_id", "user_id", "event_type", "value")
      e.union(e) // simulate at-least-once replay
        .dropDuplicates("event_id")
        .orderBy("event_id")
    }),

    // —— LLM-pipeline operators (north star: dedup / similarity / text / multimodal) ——

    "cdc_binlog_decode" -> ((s, dir) => {
      // real wire decode: orders rows → recorded binlog segments (public
      // binary format: TABLE_MAP + GTID + ROWS v2 + QUERY + XID) → decoded
      // by MysqlBinlog.decodeSegment in a distributed narrow map. The type
      // plan spans LONGLONG/LONG/CHAR/NEWDECIMAL/DATETIME2/nullable
      // VARCHAR/DOUBLE/TINY/JSONB/BLOB; the oracle reconstructs every JSON
      // image byte-for-byte from the source columns.
      // orderedByKey + sortWithinPartitions == ORDER BY pos (pos is the
      // source key and the narrow encode→decode preserves key ranges), but
      // the range-bounds sampling runs on the RAW parquet rows instead of
      // re-executing the full wire encode+decode — a post-decode orderBy
      // measured exactly 2x the task-CPU at sf0.1
      sources.MysqlBinlogFixture.decodedOrders(t(s, dir, "orders"), orderedByKey = true)
        .filter(col("op").isin("c", "u", "d"))
        .select(col("pos"), col("op"), col("before"), col("after"))
        .sortWithinPartitions("pos")
    }),

    "cdc_pgoutput_decode" -> ((s, dir) => {
      // pgoutput wire decode: Relation/Begin/Insert/Update/Delete/Truncate/
      // Commit messages with XLogData framing, decoded distributed. Spans
      // the OID map (ints, numeric-as-string, bool t/f, text[], jsonb,
      // bytea hex, TOAST _unchanged) and includes an op='t' truncate row.
      // r16: the op-major hex-lsn-string contract order IS source-range-
      // partitionable after all — op and lsn are both pure functions of
      // o_orderkey by fixture construction, and the truncate control row
      // rides the same exchange with its own keys ('t', "0/1") — so the
      // raw 6-column source takes one range exchange and the DECODED frame
      // (whose before/after images are ~10× the source bytes) is never
      // shuffled or checkpointed at all; sortWithinPartitions reproduces
      // ORDER BY op, lsn exactly (see PgOutputFixture.decodedOrders;
      // r15's localCheckpoint cut only moved the bounds-sampling cost).
      // CONTRACT (r16 ADVICE #3): the global order is an implementation-
      // level guarantee with no plan-level Sort to restore it — consumers
      // must not add exchanges or reorder partitions after
      // decodedOrders(orderedByOpLsn = true); PgOutputSpec's row-for-row
      // pin is the guard.
      sources.PgOutputFixture.decodedOrders(t(s, dir, "orders"), orderedByOpLsn = true)
        .filter(col("op").isNotNull)
        .select(col("lsn"), col("op"), col("before"), col("after"))
        .sortWithinPartitions("op", "lsn")
    }),

    "skew_salted_join" -> ((s, dir) => {
      // Hot-key mitigation (llm/Skew.saltedJoin): scatter the big side over
      // 8 salt buckets, replicate the dim into every bucket, join on
      // (key, salt) — row-identical to the plain equi-join (the oracle is
      // the plain join), proven through an exact aggregate. AQE splits
      // skewed sort-merge partitions at runtime; salting is the plan-level
      // tool when one key dominates (a single-tenant CDC stream, a viral
      // near-dup cluster) and survives any scale because no partition ever
      // holds more than 1/salt of a hot key.
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.llm.Skew.saltedJoin(li, supp, "l_suppkey", 8)
        .groupBy(col("s_nationkey"))
        .agg(dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("s_nationkey")
    }),

    "skew_hot_keys" -> ((s, dir) => {
      // The monitoring query behind salting: top-N hottest keys by count.
      graft.llm.Skew.hotKeys(t(s, dir, "lineitem"), col("l_suppkey"), 20)
    }),

    "dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
        .select("canonical_id", "n_dups")
        .orderBy("canonical_id")
    }),

    "dedup_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
        .orderBy("fingerprint")
    }),

    "dedup_jaccard" -> ((s, dir) => {
      // cap passed explicitly (API default None = complete recall): the
      // benchmarked path exercises the capped candidate/verify machinery
      Dedup.jaccardPairs(t(s, dir, "documents"), 0.5, maxDf = Some(1000L))
        .orderBy("id_a", "id_b")
    }),

    "dedup_containment" -> ((s, dir) => {
      // subset-duplicate mining: |A∩B| / min(|A|,|B|) — a short doc
      // embedded verbatim in a longer one scores high containment with LOW
      // Jaccard, so this is the decontamination metric the jaccard query
      // cannot express. Same posting-join scale path, containment-specific
      // exact-safe prune under the same stop-feature cap.
      Dedup.containmentPairs(t(s, dir, "documents"), 0.9, maxDf = Some(1000L))
        .orderBy("id_a", "id_b")
    }),

    "dedup_substring" -> ((s, dir) => {
      // substring-level exact dedup (Lee et al. 2021 reformulated): every
      // 16-token window that occurs >=2 times in the corpus marks its
      // range duplicated; per doc the ranges interval-union into covered
      // token counts / merged span counts, and keep gates on coverage
      // <= 20%. Posting-table scale shape — see SubstringDedup scaladoc.
      SubstringDedup.spanStats(t(s, dir, "documents"), w = 16,
        minCount = 2L, maxDupRatio = 0.2).orderBy("doc_id")
    }),

    "data_dsir_weights" -> ((s, dir) => {
      // DSIR (Xie et al. 2023): log importance weight of every raw doc
      // against the target slice (source='src1' plays the "trusted
      // corpus") in a 1024-bucket hashed uni+bigram feature space.
      // B-row models as a literal; one narrow scan per pass. The output
      // order contract is range-partition + in-partition sort (NOT a
      // trailing orderBy, whose bounds sampling re-executes the md5
      // chain — the cdc_binlog_decode r14 finding). See Dsir.
      graft.llm.Dsir.importanceWeights(t(s, dir, "documents"),
        isTarget = col("source") === "src1", buckets = 1024,
        rangeSortById = true)
    }),

    "data_dsir_sample" -> ((s, dir) => {
      // the paper's resampling step: Gumbel top-k over the weights =
      // deterministic without-replacement sample from the importance
      // distribution (Gumbel-max trick, md5-uniform, RNG-free).
      graft.llm.Dsir.gumbelTopK(
        graft.llm.Dsir.importanceWeights(t(s, dir, "documents"),
          isTarget = col("source") === "src1", buckets = 1024),
        k = 50, seed = 29)
    }),

    "dedup_clusters" -> ((s, dir) => {
      // connected components over the near-dup pair graph: every doc gets
      // the min doc_id reachable through J>=0.5 pairs as its cluster id
      // (singletons cluster with themselves). Iterative min-label
      // propagation — one shuffle join per round, no graph library.
      // Pair source = the occupancy-GATED LSH miner: a one-pass bucket
      // stat measures the exact clique pair volume; bounded volume (this
      // corpus) takes the direct banded self-join, dup-heavy buckets take
      // the Θ(d) spanning star whose CC is clique-identical by
      // construction. The oracle stays the FULL exact-pair-graph CC.
      val docs = t(s, dir, "documents")
      Dedup.clusters(docs, Dedup.minhashSpanningPairs(docs, 0.5))
        .orderBy("doc_id")
    }),

    "dedup_survivors" -> ((s, dir) => {
      // the dedup family's OUTPUT stage: one canonical row per near-dup
      // cluster (min doc_id representative), full document columns —
      // what actually ships to training after fuzzy dedup. Composes
      // clusterSurvivors over the occupancy-gated LSH pair graph (see
      // dedup_clusters — same miner, same CC, same full oracle; the
      // representative re-join adds 0.09 task-CPU-s at sf0.1).
      val docs = t(s, dir, "documents")
      Dedup.clusterSurvivors(docs, Dedup.minhashSpanningPairs(docs, 0.5))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "dedup_semantic" -> ((s, dir) => {
      // embedding-cosine near-dup dedup, end to end: BANDED hyperplane-LSH
      // (4 bands × adaptive width — bucket count scales with the corpus,
      // so candidate mining stays linear at fixed expected bucket size,
      // where the old single fixed-width table was Θ(n²/2^bits)) mined as
      // SPANNING edges per bucket with intra-bucket fallback on failed hub
      // edges; connected components assign each vector the min reachable
      // vec_id; kept = the cluster representative. The ORACLE computes CC
      // over the banded clique graph — the spanning+fallback miner is
      // CC-identical by construction, and this row pins it.
      // Oracle hardcodes width 6 = adaptiveBits(n≤512) — holds at the
      // verify scales (sf0.001/sf0.01 both carry 500 vectors).
      val emb = t(s, dir, "embeddings")
      val r = Similarity.adaptiveBits(emb.count())
      val pairs = Similarity.cosineSpanningPairs(emb, 0.30, dim = 64,
        bands = 4, bitsPerBand = r)
      Dedup.clusters(emb.select(col("vec_id")), pairs, idCol = "vec_id")
        .withColumn("kept", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    }),

    "dedup_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
      // coarse-assign to ~√n deterministic cells (every-31st vector, the
      // ann_ivf_topk pattern). The √n rule is PAPER PARITY (fixed-k
      // spirit, Θ(n^1.5) pair volume — documented trade); the linear
      // scale mode is Similarity.adaptiveCellCount (k = ⌈n/c⌉, constant
      // occupancy → Θ(n·c) pairs, spec-pinned at ×10 in ScaleToolsSpec).
      // Within-cell pairs with cos >= 0.35 are duplicates; each duplicate
      // group keeps its most ATYPICAL member (lowest cosine to the cell
      // centroid). See Similarity.semDedup.
      val emb = t(s, dir, "embeddings")
      val cap = 31L * math.ceil(math.sqrt(emb.count().toDouble)).toLong
      val cents = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < cap)
        .select((col("vec_id") / 31).cast(LongType).as("centroid_id"),
          col("embedding").as("vec"))
      Similarity.semDedup(emb, cents, eps = 0.35).orderBy("vec_id")
    }),

    "dedup_minhash" -> ((s, dir) => {
      Dedup.minhashPairs(t(s, dir, "documents"), 0.5).orderBy("id_a", "id_b")
    }),

    "dedup_cross" -> ((s, dir) => {
      // doc-level decontamination: which train docs (doc_id % 37 != 0) are
      // near-dups (J >= 0.5) of ANY benchmark doc (doc_id % 37 == 0)? Run
      // as a CROSS-corpus banded-MinHash join — benchmark buckets
      // broadcast, the train corpus streams through once, no self-join —
      // the eval-suite overlap check at its real scale shape.
      val docs = t(s, dir, "documents")
      Dedup.crossMinhashPairs(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0), 0.5)
        .orderBy("id_a", "id_b")
    }),

    "dedup_streaming_parity" -> ((s, dir) => {
      // Ingest-time dedup pinned to the batch standard: the corpus replayed
      // through the streaming near-dup operator's per-bucket fold
      // (StreamingDedup.replayedCandidates — provably identical to a
      // docId-ordered micro-batch replay, see its doc + spec) emits
      // spanning edges; exact-Jaccard verification + connected components
      // over those edges must reproduce the SAME clusters as the full
      // batch pair graph (oracle = dedup_clusters' recursive-CTE CC).
      val docs = t(s, dir, "documents")
      // stream threshold = the DECISION threshold (0.5): the oracle
      // clusters the exact J>=0.5 pair graph, so the streaming gate must
      // not drop estimate-[0.5,0.7) candidates the decision would keep
      // Eager checkpoint: the candidate table is tiny (deduped spanning
      // edges, <= maxPerBucket per bucket) but its SUBTREE — signature
      // compute + banded exchange + the per-bucket fold — is the expensive
      // part, and it feeds the plan in several places (sure + border +
      // border's id projections). Without the cut, identical fold subtrees
      // only share up to the last reusable exchange and the fold re-runs
      // per occurrence; with it, the fold runs exactly once.
      val cands = graft.streaming.StreamingDedup
        .replayedCandidates(docs, threshold = 0.5).toDF()
        .select(least(col("docId"), col("dupOf")).as("id_a"),
          greatest(col("docId"), col("dupOf")).as("id_b"), col("estJaccard"))
        .groupBy("id_a", "id_b").agg(max("estJaccard").as("est"))
        .localCheckpoint(true)
      // Band-restricted exact verification (the jaccardPairs
      // survivor-restriction pattern): the 64-perm estimate decides far
      // from the boundary — P(est>=0.9 | true J<0.5) <= P(Binom(64,.5)>=58)
      // ~ 1e-11 — so only the band the estimate CANNOT decide ([0.5,0.9))
      // pays the exact shingle re-join; est>=0.9 edges are accepted.
      val sure = cands.filter(col("est") >= 0.9).select("id_a", "id_b")
      val border = cands.filter(col("est") < 0.9).select("id_a", "id_b")
      // ADAPTIVE border verification (Dedup.verifyPairsExact): the border
      // count — free off the checkpointed candidates — picks per-pair
      // broadcast set ops for small borders (the posting machinery billed
      // ~1 s of fixed cost to verify 7 pairs here) and the posting-join
      // count shape for large ones; both branches spec-pinned equal.
      val verified = Dedup.verifyPairsExact(docs, border, 0.5)
      Dedup.clusters(docs, sure.unionByName(verified)).orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // md5-based token hash so the DuckDB oracle can recompute the exact
      // same fingerprints; the pigeonhole candidate join is recall-complete
      // by construction, so this result is the FULL hamming<=3 pair set
      Dedup.simhashPairs(t(s, dir, "documents"), 3, tokenHasher = Dedup.md5Tokens)
        .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qvec"))
      emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("_qvec")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
    }),

    "ann_pairs_exact" -> ((s, dir) => {
      Similarity.cosinePairsExact(t(s, dir, "embeddings"), 0.35).orderBy("id_a", "id_b")
    }),

    "ann_pairs_lsh" -> ((s, dir) => {
      // banded hyperplane LSH (4 bands × adaptive width, OR-construction):
      // full verified pair set of the banded buckets. See dedup_semantic
      // for the scale argument; width 6 = adaptiveBits(500) at oracle SF.
      val emb = t(s, dir, "embeddings")
      Similarity.cosinePairsBanded(emb, 0.30, dim = 64,
          bands = 4, bitsPerBand = Similarity.adaptiveBits(emb.count()))
        .orderBy("id_a", "id_b")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // IVF scale path: coarse-quantize to a FIXED number of deterministic
      // centroids, probe the 4 cells nearest the query, brute-force only
      // inside those cells. The vec_id < 19995 cap bounds the cell count at
      // 645 regardless of corpus size — a coarse index whose cell count
      // scales with the corpus makes assignment O(n²/31) (the bench's ×10
      // probe measured exactly that before the cap); fixed cells keep
      // assignment linear and cells 1/C of the corpus.
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < 19995)
        .select((col("vec_id") / 31).cast(LongType).as("centroid_id"),
          col("embedding").as("vec"))
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qvec"))
      val probes = cents.crossJoin(broadcast(q))
        .select(col("centroid_id"),
          Similarity.cosine(col("vec"), col("_qvec")).as("_sim"))
        .orderBy(col("_sim").desc, col("centroid_id")).limit(4).select("centroid_id")
      val assigned = Similarity.ivfAssign(emb, cents)
      assigned.join(broadcast(probes), "centroid_id")
        .crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("_qvec")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
    }),

    "ann_ivf_trained" -> ((s, dir) => {
      // The FULL trained-IVF path: deterministic spherical k-means
      // (Similarity.trainCentroids — bottom-k-hash init, no RNG) → cell
      // assignment → cell-probed top-k. Probing nprobe == k (every cell)
      // makes the result provably identical to the exact scan, which gives
      // the whole trained pipeline a byte-exact DuckDB oracle; production
      // sets nprobe << k for the 1/C scan saving (recall spec:
      // DedupSimilaritySpec "trained IVF centroids").
      val emb = t(s, dir, "embeddings")
      val k = 8
      val cents = Similarity.trainCentroidsSeq(emb, k = k, iters = 3)
      // assignment is the zero-shuffle literal fold — the corpus never
      // exchanges; only the k-row centroid table becomes a DataFrame (probes)
      val assigned = Similarity.ivfAssignLiteral(emb, cents)
      import s.implicits._
      val centsDf = cents.toDF("centroid_id", "vec")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Number](0).map(_.doubleValue()) // one bounded row
      Similarity.ivfTopK(assigned.filter(col("vec_id") =!= 0), centsDf,
          qv, k = 20, nprobe = k)
        .select(col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
    }),

    "embed_quantize" -> ((s, dir) => {
      // Int8 embedding quantization roundtrip (functions/VectorQuant —
      // symmetric per-vector scheme, scale = max|x|/127, round-half-even):
      // per-vector scale, roundtrip cosine, and max reconstruction error.
      // One narrow codegen-free pass, no shuffle — the 4× storage saving is
      // what makes a 100 TB float corpus shippable (candidates on int8,
      // exact re-rank of the shortlist on the float originals).
      import graft.functions.{VectorOps, VectorQuant}
      val emb = t(s, dir, "embeddings")
      val q = emb.select(col("vec_id"), col("embedding"),
        VectorQuant.quantize(col("embedding")).as("_q"))
      val deq = VectorQuant.dequantize(col("_q"))
      q.select(col("vec_id"),
          round(col("_q").getField("scale"), 9).as("scale"),
          round(VectorOps.cosine(col("embedding"), deq), 6).as("cos_rt"),
          round(array_max(zip_with(col("embedding"), deq,
            (x, y) => abs(x - y))), 9).as("max_err"))
        .orderBy("vec_id")
    }),

    "ann_pq_adc" -> ((s, dir) => {
      // Product-quantization ANN (functions/PqOps): the corpus's M=8
      // 8-dim sub-vectors each quantize to one of ksub=16 codebook
      // centroids; a query scores vectors through its M×ksub distance
      // TABLE (Σ_m table[m][code_m] — pure lookups, the FAISS ADC shape).
      // At 100 TB this is the candidate-generation tier: codes are 8 bytes
      // (32× under float32), the table is driver-bounded, the scan is one
      // narrow codegen'd pass with zero shuffle before the final top-k;
      // the ADC shortlist re-ranks exactly on the float originals.
      // Codebook = the ksub md5-first corpus vectors sliced per subspace
      // (deterministic, oracle-reproducible; production would k-means the
      // codebook — recall with a trained one is spec-tested, the oracle
      // pins the ADC machinery itself).
      import graft.functions.PqOps
      val emb = t(s, dir, "embeddings")
      val M = 8; val ksub = 16; val dsub = 8
      val seeds = emb.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
        .limit(ksub).select("embedding").collect() // ksub rows — driver-bounded
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
      val cb = Array.ofDim[Double](M * ksub * dsub)
      for (m <- 0 until M; j <- 0 until ksub; i <- 0 until dsub)
        cb((m * ksub + j) * dsub + i) = seeds(j)(m * dsub + i)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Number](0).map(_.doubleValue()).toArray // one bounded row
      val qt = Array.ofDim[Double](M * ksub)
      for (m <- 0 until M; j <- 0 until ksub) {
        var s2 = 0.0; var i = 0
        while (i < dsub) {
          val d = qv(m * dsub + i) - cb((m * ksub + j) * dsub + i); s2 += d * d; i += 1
        }
        qt(m * ksub + j) = s2
      }
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          PqOps.adc(col("embedding"), cb, qt, M, ksub, dsub).as("_adc"))
        .orderBy(col("_adc"), col("vec_id")).limit(20)
        .select(col("vec_id"), round(col("_adc"), 6).as("adc_dist"))
    }),

    "ann_ivf_pq" -> ((s, dir) => {
      // The COMPOSED production ANN stack, oracle-checked end-to-end:
      // coarse IVF probe (only ~1/C of the corpus survives; 127/499 rows
      // at sf0.01) → PQ/ADC scoring of the survivors (codes + table
      // lookups, no floats) → exact float re-rank of the top-100
      // shortlist → top-20. At 100 TB this is the shape that works: the
      // full corpus is touched only by the coarse assignment (narrow,
      // broadcast centroids), ADC runs on the probed fraction against
      // 8-byte codes, and exact math happens on 100 rows.
      import graft.functions.PqOps
      val emb = t(s, dir, "embeddings")
      val M = 8; val ksub = 16; val dsub = 8; val shortlist = 100
      // coarse tier: the fixed deterministic centroid stub (ann_ivf_topk)
      val cents = emb.filter(col("vec_id") % 31 === 0 && col("vec_id") < 19995)
        .select((col("vec_id") / 31).cast(LongType).as("centroid_id"),
          col("embedding").as("vec"))
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qvec"))
      val probes = cents.crossJoin(broadcast(q))
        .select(col("centroid_id"),
          Similarity.cosine(col("vec"), col("_qvec")).as("_sim"))
        .orderBy(col("_sim").desc, col("centroid_id")).limit(4).select("centroid_id")
      // fine tier: the md5-seeded PQ codebook (ann_pq_adc)
      val seeds = emb.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
        .limit(ksub).select("embedding").collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
      val cb = Array.ofDim[Double](M * ksub * dsub)
      for (m <- 0 until M; j <- 0 until ksub; i <- 0 until dsub)
        cb((m * ksub + j) * dsub + i) = seeds(j)(m * dsub + i)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Number](0).map(_.doubleValue()).toArray
      val qt = Array.ofDim[Double](M * ksub)
      for (m <- 0 until M; j <- 0 until ksub) {
        var s2 = 0.0; var i = 0
        while (i < dsub) {
          val d = qv(m * dsub + i) - cb((m * ksub + j) * dsub + i); s2 += d * d; i += 1
        }
        qt(m * ksub + j) = s2
      }
      val assigned = Similarity.ivfAssign(emb, cents)
      val candidates = assigned.join(broadcast(probes), "centroid_id")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          PqOps.adc(col("embedding"), cb, qt, M, ksub, dsub).as("_adc"))
        .orderBy(col("_adc"), col("vec_id")).limit(shortlist)
      candidates.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("_qvec")).as("_cos"))
        .orderBy(col("_cos").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), round(col("_cos"), 6).as("cos_sim"))
    }),

    "data_split" -> ((s, dir) => {
      // deterministic hash-based train/test split — reproducible in ANY
      // engine with md5 (the sharding every training pipeline needs; no
      // RNG, stable under reruns and repartitioning)
      val bucket = pmod(conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
        .cast(LongType), lit(100L))
      t(s, dir, "documents").select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < 90, "train").otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    "stats_quantiles" -> ((s, dir) => {
      // exact per-group order statistics (distribution profiling for data
      // QA): p25/p50/p90 of document length per language, derived from
      // row_number + count over a value-ordered window rather than a
      // quantile builtin — builtins differ in interpolation/rounding
      // semantics across engines, order statistics don't. Integer results,
      // zero FP. One shuffle on the group key; at scale each group sorts
      // independently (group count = parallelism).
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val cw = Window.partitionBy("lang")
      def orderStat(p: Double): Column =
        min(when(col("rn") >= ceil(lit(p) * col("cnt")), col("n_chars")))
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("cnt", count(lit(1)).over(cw))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n"),
          min("n_chars").as("min_len"),
          orderStat(0.25).as("p25"),
          orderStat(0.50).as("p50"),
          orderStat(0.90).as("p90"),
          max("n_chars").as("max_len"))
        .orderBy("lang")
    }),

    "bpe_train" -> ((s, dir) => {
      // BPE vocabulary training: top-8 symbol merges, greedy by weighted
      // pair frequency with (count desc, pair asc) tie-break. ONE corpus
      // pass builds the word counter; all 8 iterations run on the
      // vocabulary table (the word-level-BPE scale property). Oracle =
      // the 8 iterations unrolled as chained DuckDB CTEs — an independent
      // end-to-end reproduction of training, not a replay.
      graft.llm.Bpe.trainMerges(t(s, dir, "documents"), k = 8)
    }),

    "bpe_encode" -> ((s, dir) => {
      // train-then-apply: per-document token counts under the learned
      // 8-merge vocab. Encoding is vocab-sized (final symbol strings are
      // the last training iterate); docs re-join their words against it.
      graft.llm.Bpe.trainAndEncode(t(s, dir, "documents"), k = 8)
        .orderBy("doc_id")
    }),

    "pack_curriculum" -> ((s, dir) => {
      // curriculum construction: quality-ranked ntile(4) stages, then
      // token-budget packing WITHIN (shard, stage). Staging runs PER HASH
      // SHARD (each shard's quality distribution approximates the
      // corpus's), so no global sort / single-partition window anywhere —
      // shards are the parallel unit at 100 TB, exactly like
      // pack_sequences. Shard count pinned (64) because stage/pack ids
      // are shard-local and the oracle must reproduce them.
      val nTok = TextAnalysis.metrics(col("text")).getField("n_words").cast(LongType)
      val base = t(s, dir, "documents").select(
        col("doc_id"),
        pmod(col("doc_id"), lit(64L)).as("shard"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        nTok.as("n_tokens"))
      val stageW = Window.partitionBy("shard").orderBy(col("quality").desc, col("doc_id"))
      val staged = base.withColumn("stage", ntile(4).over(stageW).cast(LongType))
      val packW = Window.partitionBy("shard", "stage")
        .orderBy(col("quality").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      staged
        .withColumn("pack_id",
          floor(coalesce(sum(col("n_tokens")).over(packW), lit(0L)) / 512).cast(LongType))
        .orderBy("doc_id")
    }),

    "sample_stratified" -> ((s, dir) => {
      // per-language rate sampling, RNG-free: keep iff md5-bucket(doc_id,
      // seed) < rate(lang). One narrow scan, rate map rides as a literal;
      // reproducible across engines/reruns/repartitionings (auditable
      // curation — a rand() sample is neither).
      Sampling.stratified(t(s, dir, "documents"), "lang",
          Map("en" -> 0.5, "zh" -> 1.0, "es" -> 0.25, "de" -> 0.1), seed = 7)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")
    }),

    "sample_weighted" -> ((s, dir) => {
      // per-ROW importance sampling: keep probability = the document's
      // quality score (vs sample_stratified's per-STRATUM rate). Same
      // RNG-free md5-bucket decision — bucket < quality·1e6 — so higher-
      // quality docs survive proportionally more often, deterministically.
      // One narrow scan; quality from the fused metrics kernel.
      val q = TextAnalysis.qualityScore(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), q.as("quality"),
          Sampling.hashBucket(col("doc_id"), seed = 13).as("bucket"))
        .filter(col("bucket") < col("quality") * 1000000.0)
        .orderBy("doc_id")
    }),

    "sample_bottomk" -> ((s, dir) => {
      // distributed reservoir-equivalent: exactly min(k,|stratum|) rows per
      // language = the k smallest (hash, id) pairs. The rk<=k filter
      // becomes a map-side WindowGroupLimit partial top-k (asserted in
      // SamplingSpec), so shuffle cost is k·partitions per stratum, not
      // the stratum size.
      Sampling.bottomK(t(s, dir, "documents"), "lang", k = 10, seed = 11)
        .select(col("doc_id"), col("lang"), col("h"), col("rk").cast(LongType).as("rk"))
        .orderBy("lang", "rk")
    }),

    "mix_corpus" -> ((s, dir) => {
      // resample to target domain proportions (pretraining data mixing):
      // largest feasible corpus respecting shares {src0:.5, src1:.3,
      // src2:.2}, each domain downsampled by hash bucket at
      // rate p_d·n_total/count_d. One domain-count agg + one narrow
      // broadcast-joined filter; no corpus shuffle.
      Sampling.mixCorpus(t(s, dir, "documents"), "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), seed = 3)
        .select(col("doc_id"), col("source"), col("bucket"), col("keep_rate"))
        .orderBy("doc_id")
    }),

    "shuffle_global" -> ((s, dir) => {
      // reproducible global shuffle WITHOUT a global sort: 16 hash shards,
      // each locally sorted by a 60-bit hash → (shard, pos) is a uniform
      // pseudorandom permutation; shards are the parallel unit at 100 TB.
      Sampling.deterministicShuffle(t(s, dir, "documents"), shards = 16, seed = 5)
        .select(col("doc_id"), col("shard"), col("pos").cast(LongType).as("pos"))
        .orderBy("shard", "pos")
    }),

    "pack_sequences" -> ((s, dir) => {
      // token-budget sequence packing: shard by doc_id, order within the
      // shard, pack_id = exclusive-prefix-sum(tokens) / budget — the
      // deterministic packing used to fill fixed-size training batches.
      // One window per shard; at 100 TB shards are the parallel unit —
      // Packing defaults to 4×parallelism; pinned here (128) because pack
      // ids are shard-local and the oracle must reproduce them exactly.
      Packing.packSequences(t(s, dir, "documents"), budget = 512L, shards = Some(128))
        .orderBy("doc_id")
    }),

    "ann_topk_batch" -> ((s, dir) => {
      // batched ANN: top-5 corpus neighbors for EACH of 3 query vectors in
      // one pass (query side broadcast, corpus streams once)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.topKBatch(emb, queries, 5, qIdCol = "query_id")
        .select(col("query_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
    }),

    "text_metrics" -> ((s, dir) => {
      // ONE fused character walk for all five counts (TextScanOps) — the
      // per-metric split/regex form was five scans plus interpreted HOF
      // lambdas per token; codegen subexpression elimination collapses the
      // five field references to a single scan per row.
      val m = TextAnalysis.metrics(col("text"))
      rangeSorted(t(s, dir, "documents"), col("doc_id"), Seq(col("doc_id"))) { d =>
        d.select(
          col("doc_id"),
          m.getField("n_chars").cast(LongType).as("n_chars_m"),
          m.getField("n_words").cast(LongType).as("n_words"),
          m.getField("n_punct").cast(LongType).as("n_punct"),
          m.getField("n_stop").cast(LongType).as("n_stop"),
          m.getField("n_bpe").cast(LongType).as("n_bpe"))
      }
    }),

    "text_langid" -> ((s, dir) => {
      rangeSorted(t(s, dir, "documents"), col("doc_id"), Seq(col("doc_id"))) { d =>
        d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      }
    }),

    "text_quality" -> ((s, dir) => {
      rangeSorted(t(s, dir, "documents"), col("doc_id"), Seq(col("doc_id"))) { d =>
        d.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      }
    }),

    "events_session_attrib" -> ((s, dir) => {
      // Interval-assignment join: browsing sessions (gap-split view/click
      // intervals) attributed to purchases — each purchase lands in at
      // most one session (intervals are disjoint per user by
      // construction), purchases between sessions get nulls. Shape: the
      // interval predicate rides a keyed HASH left join on user_id (the
      // key gives the parallelism; no range-bin explosion needed because
      // per-user session counts are bounded) — the event→interval
      // assignment every funnel/attribution pipeline runs.
      val e = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
      val sess = e.filter(col("event_type").isin("view", "click"))
        .withColumn("new_sess",
          when(lag(col("ms"), 1).over(w).isNull ||
            col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1L).otherwise(0L))
        .withColumn("sess_seq", sum(col("new_sess")).over(
          Window.partitionBy("user_id").orderBy("ms", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id").as("s_user"), col("sess_seq"))
        .agg(min("ms").as("sess_start"), max("ms").as("sess_end"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ms"))
      p.join(sess, p("user_id") === sess("s_user") &&
          p("ms").between(sess("sess_start"), sess("sess_end")), "left")
        .select(col("purchase_id"), col("user_id"),
          col("sess_seq"), col("sess_start"))
        .orderBy("purchase_id")
    }),

    "events_asof_funnel" -> ((s, dir) => {
      // As-of join (operators/AsOfJoin): each purchase matches the same
      // user's most recent at-or-before 'view' — the point-in-time lookup
      // Spark lacks natively, oracled against DuckDB's NATIVE ASOF JOIN
      // (an independent implementation of the semantics). Union + one
      // keyed exchange + running last-non-null window; no range-join
      // explosion. 155 of 1981 purchases have no prior view → null match
      // (left-outer semantics on both sides).
      val e = events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ms").as("p_ms"))
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ms").as("v_ms"), col("value").as("view_value"))
      AsOfJoin.asOf(p, v, "user_id", "p_ms", "v_ms")
        .select(col("purchase_id"), col("user_id"),
          col("asof.view_id").as("view_id"),
          (col("p_ms") - col("asof.v_ms")).as("ms_since_view"),
          round(col("asof.view_value"), 6).as("view_value"))
        .orderBy("purchase_id")
    }),

    "zorder_locality" -> ((s, dir) => {
      // Z-order (Morton) layout math — the multi-dimensional clustering
      // behind OPTIMIZE ZORDER, from plain shift/and builtins (codegen'd
      // fold, functions/ZOrder). The query proves the locality property
      // the layout depends on: bucketing the curve (z >> 14 → ≤64
      // buckets) bounds BOTH key dimensions per bucket, which is exactly
      // why z-range files prune scans on either key. The pruning itself
      // (fewer rows decoded under a 2-d predicate vs a linearly-sorted
      // layout) is proven against real parquet row-group stats in
      // ScaleToolsSpec.
      import graft.functions.ZOrder
      t(s, dir, "lineitem")
        .select((col("l_orderkey") % 1024).as("a"), (col("l_partkey") % 1024).as("b"))
        .withColumn("z", ZOrder.interleave(col("a"), col("b"), 10))
        .groupBy(shiftright(col("z"), 14).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("a").as("min_a"), max("a").as("max_a"),
          min("b").as("min_b"), max("b").as("max_b"))
        .orderBy("bucket")
    }),

    "text_df_topk" -> ((s, dir) => {
      // Corpus vocabulary statistics — the IDF-table build every retrieval
      // /tf-idf stage needs: document frequency per token (distinct per
      // doc via the native TextNgrams kernel, so the explode stream is
      // pre-deduplicated per doc), hash-partitioned count with map-side
      // partial aggregation, top-k by df. The shuffle carries one row per
      // (doc, distinct token) — the honest distributed shape; at 100 TB
      // the partial aggregate collapses each partition's token counts
      // before the exchange.
      import graft.functions.TextHashOps
      t(s, dir, "documents")
        .select(explode(TextHashOps.textNgrams(col("text"), 1)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(20)
    }),

    "text_contamination" -> ((s, dir) => {
      // Benchmark decontamination: flag corpus docs sharing any n-gram
      // with a held-out "benchmark" set (docs with doc_id % 97 == 0 stand
      // in for the eval suite). Scale shape: benchmark suites are MBs
      // while the corpus is TBs, so the benchmark's distinct n-grams
      // BROADCAST and the corpus n-gram stream filters through the hash
      // join into a partial-aggregated per-doc count — the corpus never
      // shuffles its grams. The join keys here are the gram STRINGS so
      // the DuckDB twin is exact; production joins 64-bit xxhash64 keys
      // (TextHashOps) to cut the broadcast and the stream width.
      import graft.functions.TextHashOps
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextHashOps.textNgrams(col("text"), 3)).as("g"))
      val bench = grams.filter(col("doc_id") % 97 === 0).select("g").distinct()
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits")) // grams are distinct per doc
        .orderBy("doc_id")
    }),

    "text_lm_rarity" -> ((s, dir) => {
      // corpus-trained bigram LM rarity scoring (Gopher/CCNet-style
      // fluency filter with no external model): P(w2|w1) from corpus
      // counts, rare = P < 0.03 (probability cut — scale-invariant,
      // unlike a count cut). All outputs are counts/one-division/min —
      // order-independent, zero rounding. Bigrams via the native
      // multiset kernel; model tables are vocab-sized aggs; one corpus
      // join on the bigram key.
      graft.llm.LanguageModel.bigramRarity(t(s, dir, "documents"), minP = 0.03)
        .orderBy("doc_id")
    }),

    "text_bm25" -> ((s, dir) => {
      // BM25 relevance against a fixed query-term set (domain-targeting
      // curation). Rational idf (no ln — the one non-IEEE-pinned op in
      // classic BM25), so scores are bit-identical across engines with no
      // rounding. tf/dl come from ONE fused byte-walk per row; corpus
      // stats are a 1-row broadcast. Top-50 by (score desc, doc_id).
      graft.llm.Relevance.bm25(t(s, dir, "documents"),
          terms = Seq("spark", "vector", "customer"), k1 = 1.2, b = 0.75, k = 50)
    }),

    "text_normalize" -> ((s, dir) => {
      // text normalization (lowercase + whitespace collapse + trim) via the
      // fused single-byte-walk NormalizeText kernel. The corpus is already
      // clean, so both sides first DIRTY it deterministically (leading
      // spaces, upper-case every 3rd doc, doubled spaces every 2nd, a
      // trailing tab) — the normalizer must reproduce the original text
      // exactly, proving collapse/trim/lowercase against DuckDB's
      // regexp_replace+translate spelling byte-for-byte.
      import graft.functions.TextNormalize
      val messy = concat(lit("  "),
        when(pmod(col("doc_id"), lit(3)) === 0, upper(col("text")))
          .when(pmod(col("doc_id"), lit(2)) === 0, expr("replace(text, ' ', '  ')"))
          .otherwise(col("text")),
        lit("\t"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextNormalize.normalizeText(messy).as("norm_text"))
        .withColumn("n_norm", length(col("norm_text")).cast(LongType))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, dir) => {
      // Gopher/C4-style repetition filters: duplicate word / 2-gram /
      // 3-gram fractions + mean word length — the row-local quality
      // signals that gate pretraining corpora. Distinct counts come from
      // the native TextNgrams kernels (distinct-by-construction, one
      // codegen'd walk each); totals from the fused metrics scan. One
      // narrow pass, no shuffle, no HOFs.
      import graft.functions.TextHashOps
      val nw = TextAnalysis.metrics(col("text")).getField("n_words").cast(DoubleType)
      val dw = size(TextHashOps.textNgrams(col("text"), 1)).cast(DoubleType)
      val d2 = size(TextHashOps.textNgrams(col("text"), 2)).cast(DoubleType)
      val d3 = size(TextHashOps.textNgrams(col("text"), 3)).cast(DoubleType)
      rangeSorted(t(s, dir, "documents"), col("doc_id"), Seq(col("doc_id"))) { d =>
        d.select(
          col("doc_id"),
          nw.cast(LongType).as("n_words"),
          round(when(nw > 0, lit(1.0) - dw / nw).otherwise(0.0), 6).as("dup_word_frac"),
          round(when(nw > 1, lit(1.0) - d2 / (nw - 1)).otherwise(0.0), 6).as("dup_2gram_frac"),
          round(when(nw > 2, lit(1.0) - d3 / (nw - 2)).otherwise(0.0), 6).as("dup_3gram_frac"),
          round(when(nw > 0,
            length(translate(col("text"), " ", "")).cast(DoubleType) / nw).otherwise(0.0), 6)
            .as("mean_word_len"))
      }
    }),

    "text_pii" -> ((s, dir) => {
      // PII detection + redaction — the pretraining-pipeline scrub stage.
      // The corpus is synthetic word-salad with zero organic PII, so
      // deterministic PII spans (email/phone/IPv4/SSN, varying per doc_id)
      // are synthesized IDENTICALLY on both sides first; the operator
      // under test is the detector/redactor itself. Patterns use explicit
      // character classes only (no \d, no \b) so Java regex and DuckDB's
      // RE2 agree; counts + the fully redacted text are hash-compared.
      // Pure codegen'd builtins (regexp_extract_all / regexp_replace with
      // literal patterns = compiled once) — one narrow pass, no UDFs.
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val phoneRe = "[+]1-[0-9]{3}-[0-9]{4}"
      val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      val ssnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      val aug = concat(col("text"),
        when(col("doc_id") % 3 =!= 0, concat(
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@mail.example.com call +1-555-"),
          lpad(((col("doc_id") * 7) % 10000).cast(StringType), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast(StringType),
          lit(".0.1 ssn 123-45-"),
          lpad(((col("doc_id") * 13) % 10000).cast(StringType), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0, concat(
          lit(" cc admin"), col("doc_id").cast(StringType),
          lit("@corp.example.org"))).otherwise(lit("")))
      rangeSorted(t(s, dir, "documents"), col("doc_id"), Seq(col("doc_id"))) { d =>
        d.select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).cast(LongType).as("n_email"),
            size(regexp_extract_all(col("t"), lit(phoneRe), lit(0))).cast(LongType).as("n_phone"),
            size(regexp_extract_all(col("t"), lit(ipRe), lit(0))).cast(LongType).as("n_ip"),
            size(regexp_extract_all(col("t"), lit(ssnRe), lit(0))).cast(LongType).as("n_ssn"),
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("t"),
              lit(emailRe), lit("<EMAIL>")),
              lit(ssnRe), lit("<SSN>")),
              lit(phoneRe), lit("<PHONE>")),
              lit(ipRe), lit("<IP>")).as("redacted"))
      }
    }),

    "multimodal_features" -> ((s, dir) => {
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(t(s, dir, "documents")))
        .select(col("doc_id"), col("media_type"), col("n_bytes"), col("content_sha"),
          col("n_frames").cast(LongType).as("n_frames"))
        .orderBy("doc_id")
    }),

    // —— schema sensing / drift / streaming-style aggs (SURVEY §2.6) ——

    "events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_format(timestamp_millis(col("ms")), "yyyy-MM-dd HH:00:00").as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .orderBy("hour_s", "event_type")
    }),

    "events_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
      events(s, dir)
        .withColumn("new_sess",
          when(lag(col("ms"), 1).over(w).isNull ||
            col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "events_streaming_sessions" -> ((s, dir) => {
      // the stateful streaming sessionizer pinned to the batch standard:
      // each user's full ts-ordered history through the EXACT
      // flatMapGroupsWithState fold (StatefulSessionize.foldEvents is a
      // left fold, so one pass ≡ any ts-ordered micro-batch replay),
      // emitting every session incl. the final open one. Oracle = the
      // gap-boundary window SQL computing the same session list.
      import graft.streaming.StatefulSessionize
      val spark = s
      import spark.implicits._
      val evs = events(s, dir)
        .select(col("user_id").cast(LongType).as("userId"), col("ms").as("tsMs"))
        .as[StatefulSessionize.Event]
      StatefulSessionize.replayedSessions(evs, 1800000L).toDF()
        .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
          col("endMs").as("end_ms"), col("nEvents").as("n_events"))
        .orderBy("user_id", "start_ms")
    }),

    "sensing_stats" -> ((s, dir) => {
      events(s, dir)
        .select(nullif(regexp_extract(col("props"), "\"k\": (-?\\d+)", 1), lit(""))
          .cast(LongType).as("v"))
        .agg(count(lit(1)).as("n_rows"), count_distinct(col("v")).as("n_distinct"),
          min("v").as("min_v"), max("v").as("max_v"))
        .withColumn("field", lit("k"))
        .select("field", "n_rows", "n_distinct", "min_v", "max_v")
    }),

    "sensing_types" -> ((s, dir) => {
      graft.streaming.SchemaSensing.typeHistogram(
        events(s, dir), col("props"), Seq("k", "missing_field"))
        .orderBy("field", "observed_type")
    }),

    "sensing_hll" -> ((s, dir) => {
      // scale path: HLL sketch instead of exact distinct (reference S-4
      // classifier). Oracle-checkable form: emit the exact distinct count
      // (matches DuckDB) plus booleans asserting the HLL estimate is within
      // tolerance of it — verifies the sketch without demanding bit equality.
      events(s, dir)
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id")).as("_hll_u"),
          count_distinct(col("props")).as("_np"),
          approx_count_distinct(col("props")).as("_hll_p"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("_hll_u").cast("double") - col("n_users_exact").cast("double"))
            <= col("n_users_exact").cast("double") * 0.15).as("hll_users_ok"),
          (abs(col("_hll_p").cast("double") - col("_np").cast("double"))
            <= col("_np").cast("double") * 0.15).as("hll_props_ok"))
        .orderBy("event_type")
    }),

    "drift_nullrate" -> ((s, dir) => {
      // one scan: a single aggregate of conditional counts, unpivoted with
      // stack() over the 1-row result (vs. one full scan per column before)
      val cols = Seq("event_type", "props", "value")
      events(s, dir)
        .agg(count(lit(1)).as("n"),
          cols.map(c => count(col(c)).as(s"nn_$c")): _*)
        .select(expr(
          s"stack(${cols.size}, " +
            cols.map(c => s"'$c', n, n - nn_$c").mkString(", ") +
            ") as (column_name, n_rows, n_nulls)"))
        .orderBy("column_name")
    }),

    "drift_types" -> ((s, dir) => {
      // ALL six reference drift kinds (drift_detector.rs DriftType) from
      // one payload built to drift deterministically: event_type strings
      // into a declared int column (type_mismatch), double values into a
      // declared bigint (type_mismatch) with a [0,100] range
      // (value_out_of_range), props objects into a varchar
      // (type_mismatch), a ctx JSON column whose key-set varies by event
      // type (json_structure_change), a non-nullable column explicitly
      // null on user_id%7==0 rows (unexpected_null — absent keys don't
      // fire it, reference observe_row), an undeclared key on signup
      // events (undeclared_column), and a declared-but-never-present
      // column (missing_column).
      import graft.streaming.SchemaSensing.{driftTyped, DeclaredColumn}
      val ev = events(s, dir)
      val ctx = when(col("event_type") === "error", lit("{\"code\":1,\"msg\":\"e\"}"))
        .when(col("event_type") === "purchase", lit("{\"amount\":2}"))
        .otherwise(lit("{\"k\":1}"))
      val payload = concat(
        lit("{\"event_type\":\""), col("event_type"), lit("\""),
        lit(",\"value\":"), col("value").cast(StringType),
        lit(",\"props\":"), col("props"),
        lit(",\"ctx\":"), ctx,
        concat(lit(",\"maybe\":"),
          when(col("user_id") % 7 =!= 0, col("user_id").cast(StringType))
            .otherwise(lit("null"))),
        when(col("event_type") === "signup", lit(",\"extra\":1")).otherwise(lit("")),
        lit("}"))
      driftTyped(ev, payload, Seq(
        DeclaredColumn("event_type", "int"),
        DeclaredColumn("value", "bigint", minValue = Some(0.0), maxValue = Some(100.0)),
        DeclaredColumn("props", "varchar"),
        DeclaredColumn("ctx", "json"),
        DeclaredColumn("maybe", "bigint", nullable = false),
        DeclaredColumn("ghost", "varchar")))
        .orderBy("column_name", "kind")
    })
  )

  /** Versioned change stream over orders for upsert/changelog materialization. */
  /**
   * CDC-ified versioned orders: every order a v1 'c' row, every third a v2
   * 'u' row, every tenth (pk%10==9) a v3 'd' tombstone; ts_ms = version.
   *
   * r17 one-exchange shape (guide §2.3/§2.4, VERDICT r16 task #1): ONE scan
   * + explode replaces the old 3-scan union, and the 2-column SOURCE is
   * range-partitioned on pk BEFORE versions are generated. All three
   * consumers (cdc_upsert / cdc_changelog / cdc_scd2) cluster AND globally
   * order on pk, and RangePartitioning(pk) satisfies both the window's
   * ClusteredDistribution(pk) and the final ORDER BY's OrderedDistribution —
   * so each query's plan carries exactly one exchange, of the narrow
   * (o_orderkey, o_totalprice) source, instead of a hash exchange of
   * 1.43N 5-column rows for the window PLUS a trailing full-width range
   * exchange whose bounds-sampling job re-executed the window chain.
   * Row-identical to the union shape (pinned in MaterializePlanSpec).
   */
  private def versionedOrders(s: SparkSession, dir: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    def optVersion(cond: Column, v: Long): Column =
      when(cond, array(lit(v))).otherwise(slice(array(lit(v)), 1, 0))
    t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      .repartitionByRange(par, col("o_orderkey"))
      .select(col("o_orderkey").as("pk"), col("o_totalprice"),
        explode(concat(
          array(lit(1L)),
          optVersion(col("o_orderkey") % 3 === 0, 2L),
          optVersion(col("o_orderkey") % 10 === 9, 3L))).as("version"))
      .select(col("pk"), col("version"),
        when(col("version") === 1, "c").when(col("version") === 2, "u")
          .otherwise("d").as("op"),
        when(col("version") === 1, col("o_totalprice"))
          .when(col("version") === 2, col("o_totalprice") + 10).as("total"),
        col("version").as("ts_ms"))
  }

  // ———————————————————————————— oracles ————————————————————————————

  /** Exact n-gram-Jaccard pair SQL — oracle for dedup_jaccard AND (recall
   * being complete at test scale) dedup_minhash. */
  /** Connected components over the exact n-gram-Jaccard pair graph —
   * oracle for dedup_clusters AND dedup_streaming_parity (the streaming
   * replay's spanning edges must cluster identically to the full batch
   * pair graph). */
  private val clustersCcSql =
    s"""WITH RECURSIVE l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |         generate_series(1, greatest(len(toks)-2, 0)),
       |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS f FROM l),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
       |      FROM sh a JOIN sh b USING (f) WHERE a.doc_id < b.doc_id GROUP BY 1,2),
       |p AS (SELECT ia, ib FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
       |      WHERE nc*1.0/(sa.n+sb.n-nc) >= 0.5),
       |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  private val jaccardExactSql =
    """WITH l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |         generate_series(1, greatest(len(toks)-2, 0)),
      |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS f FROM l),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
      |      FROM sh a JOIN sh b USING (f) WHERE a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT ia AS id_a, ib AS id_b,
      | round(nc*1.0/(sa.n+sb.n-nc), 4) AS jaccard
      |FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
      |WHERE nc*1.0/(sa.n+sb.n-nc) >= 0.5 ORDER BY 1, 2""".stripMargin

  /** DuckDB DOUBLE[] literal of [[Similarity.hyperplaneSign]] row `b` —
   * embeds the exact hyperplane the Spark LSH signature uses. */
  private def hyperplaneLit(b: Int, dim: Int): String =
    (0 until dim).map(i => Similarity.hyperplaneSign(b, i))
      .mkString("CAST([", ",", "] AS DOUBLE[])")

  /** SQL for BAND `b`'s signature under the banded scheme: bit j uses
   * hyperplane b*32+j (graft.functions.LshOps.BandStride indexing — band 0
   * at width w reproduces the legacy single-table signature). Width is
   * hardcoded to 6 = Similarity.adaptiveBits(n) for n ≤ 512: both verify
   * scales carry 500 vectors, and the Spark side computes the same width
   * from the corpus count. */
  private def bandSigSql(b: Int, bits: Int = 6, dim: Int = 64): String =
    (0 until bits).map(j =>
      s"(CASE WHEN list_dot_product(v, ${hyperplaneLit(b * 32 + j, dim)}) > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")

  def oracleSql: Map[String, String] = Map(

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q2_filter_project" ->
      """SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 150000 ORDER BY o_orderkey""".stripMargin,

    "q3_join_topn" ->
      """SELECT o.o_orderkey, c.c_name,
        | CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        | JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1,2 ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin,

    "q4_window_rank" ->
      """SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
        | SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q5_setops" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 0
        |INTERSECT SELECT o_custkey AS c_custkey FROM orders ORDER BY c_custkey""".stripMargin,

    "q6_antijoin" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q7_agg_having" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        | CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY 1""".stripMargin,

    "q8_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "cdc_snapshot_read" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, 'r' AS op
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "cdc_filter" ->
      """SELECT o_orderkey,
        | CASE WHEN (o_orderkey % 10) <= 5 THEN 'c' ELSE 'u' END AS op,
        | o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 10) <= 8 AND o_totalprice > 150000 AND o_orderstatus IN ('F','O')
        |ORDER BY o_orderkey""".stripMargin,

    "cdc_filter_changed" ->
      """SELECT o_orderkey,
        | CASE WHEN (o_orderkey % 10) <= 5 THEN 'c' WHEN (o_orderkey % 10) <= 8 THEN 'u' ELSE 'd' END AS op
        |FROM orders
        |WHERE (o_orderkey % 10) <= 5 OR (o_orderkey % 10) = 9
        |   OR ((o_orderkey % 10) BETWEEN 6 AND 8 AND o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "cdc_flatten" ->
      """SELECT o_orderkey AS order__id, o_totalprice AS order__price, o_custkey AS customer__key
        |FROM orders ORDER BY order__id""".stripMargin,

    "cdc_outbox" ->
      """SELECT concat('Order.',
        |  CASE WHEN o_orderstatus='F' THEN 'OrderFulfilled'
        |       WHEN o_orderstatus='O' THEN 'OrderCreated' ELSE 'OrderPending' END) AS topic,
        | CAST(o_orderkey AS VARCHAR) AS event_key
        |FROM orders WHERE (o_orderkey % 10) <= 5 ORDER BY o_orderkey""".stripMargin,

    "cdc_routing" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 7 = 0 THEN 'priority.events' ELSE 'cdc.inventory.orders' END AS topic
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "cdc_json_extract" ->
      """SELECT o_orderkey,
        | json_extract_string(j, '$.id') AS id,
        | json_extract_string(j, '$.order.status') AS status,
        | json_extract_string(j, '$.order.price') AS price,
        | CAST(json_extract(j, '$.order') AS VARCHAR) AS order_obj,
        | json_extract_string(j, '$.missing') AS missing_f
        |FROM (SELECT o_orderkey, to_json(struct_pack(
        |        id := o_orderkey,
        |        "order" := struct_pack(status := o_orderstatus, price := o_totalprice),
        |        prio := o_orderpriority)) AS j
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    // round-trip identity: the Spark side encodes a nested payload and
    // decodes it back, so the oracle is the source columns themselves —
    // any encoder/decoder divergence (numbers, escapes, array order)
    // breaks the hash match
    "cdc_nested_decode" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        | CAST(o_orderkey AS BIGINT) AS id,
        | o_orderstatus AS status,
        | o_totalprice AS price,
        | CAST(o_custkey AS BIGINT) AS item_cust,
        | CAST(3 AS BIGINT) AS n_items,
        | o_orderpriority AS attr_prio
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "cdc_envelope" ->
      """SELECT o_orderkey, concat(
        | '{"specversion":"1.0","id":"inventory.orders:', CAST(o_orderkey AS VARCHAR), '",',
        | '"source":"/mysql/test-db",',
        | '"type":"com.acme.order.',
        |   CASE WHEN (o_orderkey % 10) <= 5 THEN 'created'
        |        WHEN (o_orderkey % 10) <= 8 THEN 'updated' ELSE 'deleted' END, '",',
        | '"time":"', strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'), '.000Z",',
        | '"subject":"inventory.orders",',
        | '"data":{',
        |  CASE WHEN (o_orderkey % 10) > 5 THEN concat('"before":',
        |    to_json(concat('{"id":', CAST(o_orderkey AS VARCHAR), ',"status":"', o_orderstatus, '"}')), ',')
        |   ELSE '' END,
        |  CASE WHEN (o_orderkey % 10) <> 9 THEN concat('"after":',
        |    to_json(concat('{"id":', CAST(o_orderkey AS VARCHAR), ',"status":"', o_orderstatus, '"}')), ',')
        |   ELSE '' END,
        |  '"op":"', CASE WHEN (o_orderkey % 10) <= 5 THEN 'c'
        |                 WHEN (o_orderkey % 10) <= 8 THEN 'u' ELSE 'd' END, '"}}'
        | ) AS envelope
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "cdc_lake_project" ->
      """SELECT
        | CASE WHEN (o_orderkey % 10) <= 5 THEN 'c' WHEN (o_orderkey % 10) <= 8 THEN 'u' ELSE 'd' END AS op,
        | 'inventory' AS source_db, 'orders' AS source_table,
        | concat('inventory.orders:', CAST(o_orderkey AS VARCHAR)) AS event_id,
        | CASE WHEN (o_orderkey % 10) > 5 THEN o_orderkey END AS before_o_orderkey,
        | CASE WHEN (o_orderkey % 10) <> 9 THEN o_orderkey END AS after_o_orderkey,
        | CASE WHEN (o_orderkey % 10) > 5 THEN o_totalprice END AS before_o_totalprice,
        | CASE WHEN (o_orderkey % 10) <> 9 THEN o_totalprice END AS after_o_totalprice,
        | CASE WHEN (o_orderkey % 10) <> 9 THEN o_orderstatus END AS after_o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "cdc_upsert" ->
      """WITH v AS (
        | SELECT o_orderkey AS pk, 1 AS version, 'c' AS op, o_totalprice AS total FROM orders
        | UNION ALL SELECT o_orderkey, 2, 'u', o_totalprice+10 FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL SELECT o_orderkey, 3, 'd', NULL FROM orders WHERE o_orderkey % 10 = 9),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY version DESC) AS rn FROM v)
        |SELECT pk, total, CAST(version AS BIGINT) AS _version
        |FROM r WHERE rn = 1 AND op <> 'd' ORDER BY pk""".stripMargin,

    "cdc_changelog" ->
      """WITH v AS (
        | SELECT o_orderkey AS pk, 1 AS version, 'c' AS op, o_totalprice AS total FROM orders
        | UNION ALL SELECT o_orderkey, 2, 'u', o_totalprice+10 FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL SELECT o_orderkey, 3, 'd', NULL FROM orders WHERE o_orderkey % 10 = 9)
        |SELECT pk, total, op AS _op, CAST(version AS BIGINT) AS _version,
        | CASE WHEN op = 'd' THEN 1 ELSE 0 END AS _deleted,
        | CAST(version AS BIGINT) AS _source_ts
        |FROM v ORDER BY pk, _version""".stripMargin,

    "cdc_scd2" ->
      """WITH v AS (
        | SELECT o_orderkey AS pk, 1 AS version, 'c' AS op, o_totalprice AS total FROM orders
        | UNION ALL SELECT o_orderkey, 2, 'u', o_totalprice+10 FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL SELECT o_orderkey, 3, 'd', NULL FROM orders WHERE o_orderkey % 10 = 9),
        |w AS (SELECT pk, version, op, total,
        |  LEAD(version) OVER (PARTITION BY pk ORDER BY version) AS valid_to FROM v)
        |SELECT pk, total, CAST(version AS BIGINT) AS valid_from, CAST(valid_to AS BIGINT) AS valid_to,
        | CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM w WHERE op <> 'd' ORDER BY pk, valid_from""".stripMargin,

    "cdc_idempotent_dedup" ->
      """SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id""".stripMargin,

    "cdc_binlog_decode" ->
      """WITH j AS (SELECT o_orderkey AS pk,
        |  '{"o_orderkey":' || o_orderkey ||
        |  ',"o_custkey":' || o_custkey ||
        |  ',"o_orderstatus":' || to_json(o_orderstatus) ||
        |  ',"o_totalprice":"' || CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) || '"' ||
        |  ',"o_orderdate":"' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' ||
        |  ',"o_orderpriority":' || CASE WHEN o_orderkey % 7 = 3 THEN 'null' ELSE to_json(o_orderpriority) END ||
        |  ',"price_d":' || CAST(o_totalprice AS VARCHAR) ||
        |  ',"tiny_flag":' || (o_orderkey % 128) ||
        |  ',"props":{"k":' || (o_orderkey % 100) || ',"tag":"t' || (o_orderkey % 10) || '"}' ||
        |  ',"payload_bin":{"_base64":"' || to_base64(unhex('dead' || printf('%02x', o_orderkey % 256) || 'ff')) || '"}}' AS img,
        |  CASE WHEN (o_orderkey % 10) <= 5 THEN 'c' WHEN (o_orderkey % 10) <= 8 THEN 'u' ELSE 'd' END AS op
        | FROM orders)
        |SELECT CAST(pk AS BIGINT) AS pos, op,
        |  CASE WHEN op IN ('u','d') THEN img END AS before,
        |  CASE WHEN op <> 'd' THEN img END AS after
        |FROM j ORDER BY pos""".stripMargin,

    "cdc_pgoutput_decode" ->
      """WITH j AS (SELECT o_orderkey AS pk,
        |  '{"o_orderkey":' || o_orderkey ||
        |  ',"o_custkey":' || o_custkey ||
        |  ',"o_orderstatus":' || to_json(o_orderstatus) ||
        |  ',"o_totalprice":"' || CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR) || '"' ||
        |  ',"o_orderdate":"' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '"' ||
        |  ',"o_orderpriority":' || CASE WHEN o_orderkey % 7 = 3 THEN 'null' ELSE to_json(o_orderpriority) END ||
        |  ',"price_d":' || CAST(o_totalprice AS VARCHAR) ||
        |  ',"flag":' || CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END ||
        |  ',"tags":["t' || (o_orderkey % 10) || '","x"]' ||
        |  ',"props":{"k":' || (o_orderkey % 100) || '}' ||
        |  ',"payload":{"_base64":"' || to_base64(unhex('dead' || printf('%02x', o_orderkey % 256) || 'ff')) || '"}' AS base,
        |  '0/' || upper(printf('%x', o_orderkey)) AS lsn,
        |  CASE WHEN (o_orderkey % 10) <= 5 THEN 'c' WHEN (o_orderkey % 10) <= 8 THEN 'u' ELSE 'd' END AS op
        | FROM orders),
        |r AS (SELECT lsn, op,
        |  CASE WHEN op IN ('u','d') THEN base || ',"toast_txt":"v' || pk || '"}' END AS before,
        |  CASE WHEN op = 'c' THEN base || ',"toast_txt":"v' || pk || '"}'
        |       WHEN op = 'u' THEN base || ',"toast_txt":{"_unchanged":true}}' END AS after
        |FROM j
        |UNION ALL SELECT '0/1', 't', NULL, NULL)
        |SELECT lsn, op, before, after FROM r ORDER BY op, lsn""".stripMargin,

    // the oracle is the UNSALTED join — equality proves the salted
    // two-phase plan is row-identical to the plain equi-join
    "skew_salted_join" ->
      """SELECT s_nationkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "skew_hot_keys" ->
      """SELECT l_suppkey AS key, count(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY n DESC, key LIMIT 20""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,

    "dedup_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |   list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fingerprint,
        | min(doc_id) AS canonical_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_jaccard" -> jaccardExactSql,

    "dedup_containment" ->
      """WITH l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(toks)-2, 0)),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS f FROM l),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
        |      FROM sh a JOIN sh b USING (f) WHERE a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT ia AS id_a, ib AS id_b,
        | round(nc*1.0/least(sa.n, sb.n), 4) AS containment
        |FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |WHERE nc*1.0/least(sa.n, sb.n) >= 0.9 ORDER BY 1, 2""".stripMargin,

    // substring-level dedup: positional 16-gram probes; a gram seen >= 2
    // times corpus-wide marks [pos, pos+15] duplicated; LAG interval-union
    // per doc (contribution = min(w, gap); gap > w starts a new span).
    "dedup_substring" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+15],' ') AS g
        |      FROM toks, UNNEST(generate_series(1, len(t)-15)) AS u(i)),
        |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        |ds AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |cov AS (SELECT doc_id,
        |         CASE WHEN lag(pos) OVER w IS NULL THEN 16
        |              ELSE least(16, pos - lag(pos) OVER w) END AS contrib,
        |         CASE WHEN lag(pos) OVER w IS NULL
        |               OR pos - lag(pos) OVER w > 16 THEN 1 ELSE 0 END AS newspan
        |        FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |agg AS (SELECT doc_id, count(*) AS dg, sum(contrib) AS dt, sum(newspan) AS nsp
        |        FROM cov GROUP BY doc_id)
        |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(agg.dg, 0) AS BIGINT) AS dup_grams,
        |  CAST(coalesce(agg.dt, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(agg.nsp, 0) AS BIGINT) AS n_dup_spans,
        |  round(coalesce(agg.dt, 0)*1.0 / greatest(len(tk.t), 1), 4) AS dup_ratio,
        |  coalesce(agg.dt, 0)*1.0 / greatest(len(tk.t), 1) <= 0.2 AS keep
        |FROM toks tk LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // SemDeDup: fixed-cell assignment (argmax cosine, ties → lower cell),
    // within-cell dup pairs at cos >= 0.35, recursive-CTE CC per group,
    // keep = lowest cos-to-centroid (ties → lowest id). Cosine kernels
    // are bit-equal across engines (proven by the ANN twins), so the
    // exact-double ranks match.
    "dedup_semdedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(vec_id / 31 AS BIGINT) AS cid, v AS cv FROM e
        |      WHERE vec_id % 31 = 0
        |        AND vec_id < 31 * CAST(ceil(sqrt((SELECT count(*) FROM e))) AS BIGINT)),
        |sims AS (SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
        |         FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, cid, s FROM (
        |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rk
        |          FROM sims) WHERE rk = 1),
        |dp AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM asg a JOIN asg b
        |       ON a.cid = b.cid AND a.vec_id < b.vec_id
        |       WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |ed AS (SELECT ia AS src, ib AS dst FROM dp UNION SELECT ib, ia FROM dp),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT ed.src, reach.r FROM ed JOIN reach ON ed.dst = reach.id),
        |grp AS (SELECT id AS vec_id, MIN(r) AS group_id FROM reach GROUP BY 1)
        |SELECT a.vec_id, a.cid AS centroid_id, round(a.s, 6) AS cos_centroid,
        |  g.group_id,
        |  (row_number() OVER (PARTITION BY g.group_id ORDER BY a.s, a.vec_id) = 1) AS keep
        |FROM asg a JOIN grp g USING (vec_id) ORDER BY a.vec_id""".stripMargin,

    // DSIR: add-1-smoothed bucket log-likelihood ratios (rounded to 9
    // decimals, summed as DECIMAL — order-free), md5-60 feature hashing.
    "data_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |       FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        |feats AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT % 1024 AS b
        |          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |tgt AS (SELECT doc_id FROM documents WHERE source = 'src1'),
        |tf AS (SELECT b FROM feats JOIN tgt USING (doc_id)),
        |rf AS (SELECT f.doc_id, f.b FROM feats f
        |       WHERE f.doc_id NOT IN (SELECT doc_id FROM tgt)),
        |ct AS (SELECT b, count(*) AS ct FROM tf GROUP BY b),
        |cr AS (SELECT b, count(*) AS cr FROM rf GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM tf) AS tn, (SELECT count(*) FROM rf) AS rn),
        |llr AS (SELECT coalesce(ct.b, cr.b) AS b,
        |         CAST(round(ln(CAST(coalesce(ct.ct,0)+1 AS DOUBLE) / CAST(tn+1024 AS DOUBLE))
        |                  - ln(CAST(coalesce(cr.cr,0)+1 AS DOUBLE) / CAST(rn+1024 AS DOUBLE)), 9)
        |              AS DECIMAL(28,10)) AS llr
        |        FROM ct FULL OUTER JOIN cr ON ct.b = cr.b, tot),
        |pd AS (SELECT doc_id, count(*) AS n_feats, sum(llr) AS w
        |       FROM rf JOIN llr USING (b) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(pd.n_feats, 0) AS BIGINT) AS n_feats,
        |  round(CAST(coalesce(pd.w, 0) AS DOUBLE), 4) AS logw
        |FROM (SELECT doc_id FROM documents WHERE source <> 'src1') d
        |LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // resampling step: score = logw + Gumbel(md5-uniform), top-k.
    "data_dsir_sample" ->
      """WITH toks AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
        |bi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g
        |       FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        |feats AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT % 1024 AS b
        |          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |tgt AS (SELECT doc_id FROM documents WHERE source = 'src1'),
        |tf AS (SELECT b FROM feats JOIN tgt USING (doc_id)),
        |rf AS (SELECT f.doc_id, f.b FROM feats f
        |       WHERE f.doc_id NOT IN (SELECT doc_id FROM tgt)),
        |ct AS (SELECT b, count(*) AS ct FROM tf GROUP BY b),
        |cr AS (SELECT b, count(*) AS cr FROM rf GROUP BY b),
        |tot AS (SELECT (SELECT count(*) FROM tf) AS tn, (SELECT count(*) FROM rf) AS rn),
        |llr AS (SELECT coalesce(ct.b, cr.b) AS b,
        |         CAST(round(ln(CAST(coalesce(ct.ct,0)+1 AS DOUBLE) / CAST(tn+1024 AS DOUBLE))
        |                  - ln(CAST(coalesce(cr.cr,0)+1 AS DOUBLE) / CAST(rn+1024 AS DOUBLE)), 9)
        |              AS DECIMAL(28,10)) AS llr
        |        FROM ct FULL OUTER JOIN cr ON ct.b = cr.b, tot),
        |pd AS (SELECT doc_id, count(*) AS n_feats, sum(llr) AS w
        |       FROM rf JOIN llr USING (b) GROUP BY doc_id),
        |wts AS (SELECT d.doc_id, round(CAST(coalesce(pd.w, 0) AS DOUBLE), 4) AS logw
        |        FROM (SELECT doc_id FROM documents WHERE source <> 'src1') d
        |        LEFT JOIN pd USING (doc_id)),
        |sc AS (SELECT doc_id, logw,
        |        logw - ln(-ln((CAST(('0x' || substr(md5(doc_id || ':29'),1,15))::BIGINT AS DOUBLE) + 0.5)
        |                      / CAST(1152921504606846976 AS DOUBLE))) AS se
        |       FROM wts),
        |topk AS (SELECT doc_id, logw, round(se, 4) AS score FROM sc
        |         ORDER BY se DESC, doc_id LIMIT 50)
        |SELECT doc_id, logw, score FROM topk ORDER BY score DESC, doc_id""".stripMargin,

    // connected components via recursive CTE over the exact pair graph:
    // reach(id, r) closes over edges, min(r) per id = cluster id.
    "dedup_clusters" -> clustersCcSql,

    // Same oracle as dedup_clusters ON PURPOSE: the streaming replay emits
    // spanning edges of the near-dup graph (each arriving dup links to its
    // bucket's stored canonical, not to every clustermate), so pair sets
    // differ from the batch miner but the connected components — the
    // decision dedup actually acts on — must be IDENTICAL to the exact
    // batch pair graph's.
    "dedup_streaming_parity" -> clustersCcSql,

    // LSH recall at test scale is complete (spec-pinned: candidates from
    // 32 bands of r=2 miss a J>=0.5 pair with p<=0.75^32~1e-4, and the
    // emitted set equals the exact set at sf<=0.1), so the exact-Jaccard
    // oracle applies verbatim.
    "dedup_minhash" -> jaccardExactSql,

    // cross-corpus variant: exact Jaccard restricted to (train, benchmark)
    // pairs — same recall-completeness argument as dedup_minhash
    "dedup_cross" ->
      """WITH l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(toks)-2, 0)),
        |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS f FROM l),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
        |      FROM sh a JOIN sh b USING (f)
        |      WHERE a.doc_id % 37 <> 0 AND b.doc_id % 37 = 0 GROUP BY 1,2)
        |SELECT ia AS id_a, ib AS id_b,
        | round(nc*1.0/(sa.n+sb.n-nc), 4) AS jaccard
        |FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |WHERE nc*1.0/(sa.n+sb.n-nc) >= 0.5 ORDER BY 1, 2""".stripMargin,

    "dedup_simhash" ->
      """WITH l AS (SELECT doc_id, list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS toks
        |           FROM documents),
        |th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |       FROM (SELECT doc_id, unnest(toks) AS t FROM l)),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |         THEN 1::BIGINT << b ELSE 0::BIGINT END AS bv
        |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY 1, 2),
        |fp0 AS (SELECT doc_id, SUM(bv)::BIGINT AS simhash FROM bits GROUP BY 1),
        |fp AS (SELECT l.doc_id, COALESCE(fp0.simhash, 0) AS simhash FROM l LEFT JOIN fp0 USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    "ann_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id LIMIT 20""".stripMargin,

    "ann_pairs_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY 1, 2""".stripMargin,

    // The 6 hyperplanes are embedded as literals from the SAME deterministic
    // generator the Spark signature uses (Similarity.hyperplaneSign), so the
    // bucketing — and therefore the emitted candidate set — is reproduced
    // exactly; the score is plain exact cosine.
    "dedup_survivors" ->
      s"""WITH RECURSIVE l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         generate_series(1, greatest(len(toks)-2, 0)),
         |         i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS f FROM l),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS nc
         |      FROM sh a JOIN sh b USING (f) WHERE a.doc_id < b.doc_id GROUP BY 1,2),
         |p AS (SELECT ia, ib FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
         |      WHERE nc*1.0/(sa.n+sb.n-nc) >= 0.5),
         |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN cl ON d.doc_id = cl.doc_id AND cl.doc_id = cl.cluster_id
         |ORDER BY d.doc_id""".stripMargin,

    // Banded-LSH clique graph CC: the Spark side mines SPANNING edges with
    // intra-bucket fallback (Similarity.cosineSpanningPairs) — CC-identical
    // to this clique graph by construction; this row pins the equality.
    "dedup_semantic" ->
      s"""WITH RECURSIVE e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |${(0 until 4).map(b => s"  (${bandSigSql(b)}) AS s$b").mkString(",\n")}
         |  FROM e0),
         |p AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |      FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         |       AND (a.s0 = b.s0 OR a.s1 = b.s1 OR a.s2 = b.s2 OR a.s3 = b.s3)
         |      WHERE list_cosine_similarity(a.v, b.v) >= 0.30),
         |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
         |reach(id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         |SELECT id AS vec_id, MIN(r) AS cluster_id, (id = MIN(r)) AS kept
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "ann_pairs_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |${(0 until 4).map(b => s"  (${bandSigSql(b)}) AS s$b").mkString(",\n")}
         |  FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
         |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         | AND (a.s0 = b.s0 OR a.s1 = b.s1 OR a.s2 = b.s2 OR a.s3 = b.s3)
         |WHERE list_cosine_similarity(a.v, b.v) >= 0.30
         |ORDER BY 1, 2""".stripMargin,

    // Full IVF pipeline reproduced: deterministic centroids (vec_id%31),
    // probe the 4 cells nearest the query, nearest-centroid assignment via
    // the same (sim DESC, centroid_id) tie order, brute-force inside cells.
    "ann_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(vec_id / 31 AS BIGINT) AS centroid_id, v AS cvec FROM e WHERE vec_id % 31 = 0 AND vec_id < 19995),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probes AS (SELECT centroid_id FROM c, q
        |           ORDER BY list_cosine_similarity(cvec, qv) DESC, centroid_id LIMIT 4),
        |assign AS (SELECT e.vec_id, e.v, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.centroid_id) AS rk
        |  FROM e CROSS JOIN c),
        |probed AS (SELECT a.vec_id, a.v FROM assign a JOIN probes USING (centroid_id) WHERE a.rk = 1)
        |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos_sim
        |FROM probed WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id LIMIT 20""".stripMargin,

    // probing every cell (nprobe == k) makes trained-IVF == exact scan, so
    // the exact top-k SQL is a valid byte-exact oracle for the whole
    // train→assign→probe pipeline (training only decides WHICH cell each
    // vector sits in, never the union of all cells)
    "ann_ivf_trained" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC, vec_id LIMIT 20""".stripMargin,

    // round_even mirrors Java Math.rint (quantize uses round-half-even);
    // every per-element op is double-typed and element-local on both sides,
    // so the roundtrip is bit-identical before the display rounding
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0 THEN 1.0
        |       ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale FROM e),
        |d AS (SELECT vec_id, v, scale,
        |  list_transform(v, x -> greatest(-127.0, least(127.0, round_even(x / scale, 0))) * scale) AS deq
        |  FROM s)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  round(list_cosine_similarity(v, deq), 6) AS cos_rt,
        |  round(list_max(list_transform(list_zip(v, deq), p -> abs(p[1] - p[2]))), 9) AS max_err
        |FROM d ORDER BY vec_id""".stripMargin,

    // Every float op is double-typed and element-ordered on both sides:
    // DuckDB list_sum is sequential left-to-right (probed v1.0.0), the
    // PqAdc kernel sums in the same order; argmin ties go to the lower j
    // on both sides (strict < vs row_number ORDER BY d, j); the ADC sum
    // runs in subspace order via list(d ORDER BY m).
    "ann_pq_adc" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        |          FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |ms AS (SELECT unnest(range(8)) AS m),
        |cb AS (SELECT ms.m, s.j, list_slice(s.v, ms.m*8+1, ms.m*8+8) AS c FROM seeds s CROSS JOIN ms),
        |dist AS (SELECT e.vec_id, cb.m, cb.j,
        |    list_sum(list_transform(list_zip(list_slice(e.v, cb.m*8+1, cb.m*8+8), cb.c),
        |      p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        |  FROM e CROSS JOIN cb),
        |codes AS (SELECT vec_id, m, j FROM (
        |    SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rk FROM dist)
        |  WHERE rk = 1),
        |qt AS (SELECT m, j, d FROM dist WHERE vec_id = 0),
        |adc AS (SELECT c.vec_id, list_sum(list(q.d ORDER BY c.m)) AS adc_dist
        |        FROM codes c JOIN qt q ON c.m = q.m AND c.j = q.j
        |        WHERE c.vec_id <> 0 GROUP BY c.vec_id)
        |SELECT vec_id, round(adc_dist, 6) AS adc_dist FROM adc ORDER BY adc.adc_dist, vec_id LIMIT 20""".stripMargin,

    // composed from the ann_ivf_topk and ann_pq_adc oracle pieces; the
    // shortlist re-rank is exact cosine (list_cosine_similarity ≡ the
    // fused VectorOps kernel, proven by the other ANN twins)
    "ann_ivf_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(vec_id / 31 AS BIGINT) AS centroid_id, v AS cvec FROM e WHERE vec_id % 31 = 0 AND vec_id < 19995),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probes AS (SELECT centroid_id FROM c, q
        |           ORDER BY list_cosine_similarity(cvec, qv) DESC, centroid_id LIMIT 4),
        |assign AS (SELECT e.vec_id, e.v, c.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.centroid_id) AS rk
        |  FROM e CROSS JOIN c),
        |probed AS (SELECT a.vec_id, a.v FROM assign a JOIN probes USING (centroid_id) WHERE a.rk = 1 AND a.vec_id <> 0),
        |seeds AS (SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j
        |          FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |ms AS (SELECT unnest(range(8)) AS m),
        |cb AS (SELECT ms.m, s.j, list_slice(s.v, ms.m*8+1, ms.m*8+8) AS c FROM seeds s CROSS JOIN ms),
        |pdist AS (SELECT p.vec_id, cb.m, cb.j,
        |    list_sum(list_transform(list_zip(list_slice(p.v, cb.m*8+1, cb.m*8+8), cb.c), x -> (x[1]-x[2])*(x[1]-x[2]))) AS d
        |  FROM probed p CROSS JOIN cb),
        |qdist AS (SELECT cb.m, cb.j,
        |    list_sum(list_transform(list_zip(list_slice(q.qv, cb.m*8+1, cb.m*8+8), cb.c), x -> (x[1]-x[2])*(x[1]-x[2]))) AS d
        |  FROM q CROSS JOIN cb),
        |codes AS (SELECT vec_id, m, j FROM (
        |    SELECT vec_id, m, j, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rk FROM pdist) WHERE rk = 1),
        |adc AS (SELECT codes.vec_id, list_sum(list(qd.d ORDER BY codes.m)) AS adc_dist
        |        FROM codes JOIN qdist qd ON codes.m = qd.m AND codes.j = qd.j GROUP BY codes.vec_id),
        |short AS (SELECT p.vec_id, p.v FROM probed p JOIN adc USING (vec_id) ORDER BY adc.adc_dist, p.vec_id LIMIT 100)
        |SELECT vec_id, round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos_sim
        |FROM short ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id LIMIT 20""".stripMargin,

    "data_split" ->
      """WITH b AS (SELECT doc_id,
        | ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |FROM documents)
        |SELECT doc_id, bucket, CASE WHEN bucket < 90 THEN 'train' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "stats_quantiles" ->
      """WITH r AS (SELECT lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS cnt
        | FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  min(n_chars) AS min_len,
        |  min(CASE WHEN rn >= ceil(CAST(0.25 AS DOUBLE) * cnt) THEN n_chars END) AS p25,
        |  min(CASE WHEN rn >= ceil(CAST(0.5 AS DOUBLE) * cnt) THEN n_chars END) AS p50,
        |  min(CASE WHEN rn >= ceil(CAST(0.9 AS DOUBLE) * cnt) THEN n_chars END) AS p90,
        |  max(n_chars) AS max_len
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "bpe_train" -> graft.llm.Bpe.oracleSql(8),
    "bpe_encode" -> graft.llm.Bpe.encodeOracleSql(8),

    "pack_curriculum" ->
      """WITH m AS (SELECT doc_id, doc_id % 64 AS shard,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS w,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS DOUBLE) AS chars,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        | CAST(length(list_filter(string_split(text,' '),
        |   x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) AS stop
        |FROM documents),
        |q AS (SELECT doc_id, shard, n_tokens, floor(greatest(0.0, least(1.0,
        |  0.5 * least(w / 20.0, 1.0)
        |  + 0.3 * least((stop / greatest(w, 1.0)) * 5.0, 1.0)
        |  + 0.2 * (1.0 - least((punct / greatest(chars, 1.0)) * 10.0, 1.0)))) * 10000) / 10000 AS quality
        |FROM m),
        |st AS (SELECT doc_id, shard, quality, n_tokens,
        |  CAST(ntile(4) OVER (PARTITION BY shard ORDER BY quality DESC, doc_id) AS BIGINT) AS stage
        |FROM q)
        |SELECT doc_id, shard, quality, n_tokens, stage,
        |  CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard, stage
        |    ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 512) AS BIGINT) AS pack_id
        |FROM st ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT % 1000000 AS bucket,
        |  CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE) WHEN 'zh' THEN CAST(1.0 AS DOUBLE)
        |            WHEN 'es' THEN CAST(0.25 AS DOUBLE) WHEN 'de' THEN CAST(0.1 AS DOUBLE) END AS rate
        | FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE rate IS NOT NULL AND bucket < rate * 1000000.0 ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      """WITH m AS (SELECT doc_id,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS w,
        | CAST(length(text) AS DOUBLE) AS chars,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        | CAST(length(list_filter(string_split(text,' '),
        |   x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) AS stop
        |FROM documents),
        |q AS (SELECT doc_id, floor(greatest(0.0, least(1.0,
        |  0.5 * least(w / 20.0, 1.0)
        |  + 0.3 * least((stop / greatest(w, 1.0)) * 5.0, 1.0)
        |  + 0.2 * (1.0 - least((punct / greatest(chars, 1.0)) * 10.0, 1.0)))) * 10000) / 10000 AS quality
        |FROM m),
        |b AS (SELECT doc_id, quality,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':13'), 1, 15))::BIGINT % 1000000 AS bucket
        | FROM q)
        |SELECT doc_id, quality, bucket FROM b
        |WHERE bucket < quality * 1000000.0 ORDER BY doc_id""".stripMargin,

    "sample_bottomk" ->
      """WITH b AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT AS h
        | FROM documents),
        |r AS (SELECT doc_id, lang, h,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM b)
        |SELECT doc_id, lang, h, CAST(rk AS BIGINT) AS rk FROM r
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,

    "mix_corpus" ->
      """WITH c AS (SELECT source, count(*) AS c,
        |  CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE) WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
        |              WHEN 'src2' THEN CAST(0.2 AS DOUBLE) END AS p
        | FROM documents GROUP BY source),
        |k AS (SELECT source,
        |  LEAST(CAST(1.0 AS DOUBLE),
        |        p * (SELECT MIN(CAST(c AS DOUBLE) / p) FROM c WHERE p IS NOT NULL)
        |          / CAST(c AS DOUBLE)) AS keep_rate
        | FROM c WHERE p IS NOT NULL),
        |b AS (SELECT d.doc_id, d.source, k.keep_rate,
        |  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':3'), 1, 15))::BIGINT % 1000000 AS bucket
        | FROM documents d JOIN k USING (source))
        |SELECT doc_id, source, bucket, keep_rate FROM b
        |WHERE bucket < keep_rate * 1000000.0 ORDER BY doc_id""".stripMargin,

    "shuffle_global" ->
      """WITH b AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 15))::BIGINT AS h
        | FROM documents),
        |s AS (SELECT doc_id, h % 16 AS shard,
        |  row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos FROM b)
        |SELECT doc_id, shard, CAST(pos AS BIGINT) AS pos FROM s
        |ORDER BY shard, pos""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 128 AS shard,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents)
        |SELECT doc_id, shard, n_tokens,
        | CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS pack_id
        |FROM t ORDER BY doc_id""".stripMargin,

    "ann_topk_batch" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id <= 2),
        |scored AS (SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cs,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC, e.vec_id) AS rk
        |  FROM embeddings e CROSS JOIN q)
        |SELECT query_id, vec_id, round(cs, 6) AS cos_sim FROM scored WHERE rk <= 5
        |ORDER BY query_id, cs DESC, vec_id""".stripMargin,

    "text_metrics" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars_m,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_words,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        | CAST(length(list_filter(string_split(text,' '),
        |   x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS BIGINT) AS n_stop,
        | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH sc AS (SELECT doc_id,
        | length(list_filter(string_split(text,' '), x -> list_contains(['the','and','of','to','is'], x))) AS en,
        | length(list_filter(string_split(text,' '), x -> list_contains(['el','la','de','que','y'], x))) AS es,
        | length(list_filter(string_split(text,' '), x -> list_contains(['der','die','und','das','ist'], x))) AS de,
        | length(list_filter(string_split(text,' '), x -> list_contains(['le','la','et','les','des'], x))) AS fr
        |FROM documents)
        |SELECT doc_id, CASE WHEN greatest(en,es,de,fr) = 0 THEN 'unknown'
        | WHEN en = greatest(en,es,de,fr) THEN 'en'
        | WHEN es = greatest(en,es,de,fr) THEN 'es'
        | WHEN de = greatest(en,es,de,fr) THEN 'de' ELSE 'fr' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH m AS (SELECT doc_id,
        | CAST(length(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) AS w,
        | CAST(length(text) AS DOUBLE) AS chars,
        | CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        | CAST(length(list_filter(string_split(text,' '),
        |   x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) AS stop
        |FROM documents)
        |SELECT doc_id, floor(greatest(0.0, least(1.0,
        |  0.5 * least(w / 20.0, 1.0)
        |  + 0.3 * least((stop / greatest(w, 1.0)) * 5.0, 1.0)
        |  + 0.2 * (1.0 - least((punct / greatest(chars, 1.0)) * 10.0, 1.0)))) * 10000) / 10000 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "events_session_attrib" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |b AS (SELECT user_id, ms, event_id,
        |  CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |        OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM e WHERE event_type IN ('view', 'click')),
        |sq AS (SELECT user_id, ms,
        |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq FROM b),
        |sess AS (SELECT user_id AS s_user, sess_seq, MIN(ms) AS sess_start, MAX(ms) AS sess_end
        |         FROM sq GROUP BY 1, 2),
        |p AS (SELECT event_id AS purchase_id, user_id, ms FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, sess.sess_seq, sess.sess_start
        |FROM p LEFT JOIN sess ON p.user_id = sess.s_user AND p.ms BETWEEN sess.sess_start AND sess.sess_end
        |ORDER BY p.purchase_id""".stripMargin,

    // DuckDB's native ASOF JOIN is an independent implementation of the
    // at-or-before semantics — a stronger oracle than mirroring the
    // union+window construction
    "events_asof_funnel" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ms AS p_ms FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id, ms AS v_ms, value AS view_value FROM e WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, v.view_id, p.p_ms - v.v_ms AS ms_since_view,
        |  round(v.view_value, 6) AS view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.p_ms >= v.v_ms
        |ORDER BY p.purchase_id""".stripMargin,

    // the interleave arithmetic is generated from the SAME loop as the
    // Spark fold (ZOrder.interleaveSql) — disjoint-bit terms summed, so
    // + and | are equivalent and both engines agree exactly
    "zorder_locality" ->
      s"""WITH k AS (SELECT l_orderkey % 1024 AS a, l_partkey % 1024 AS b FROM lineitem),
         |z AS (SELECT a, b, ${graft.functions.ZOrder.interleaveSql("a", "b", 10)} AS z FROM k)
         |SELECT z >> 14 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(a) AS min_a, max(a) AS max_a, min(b) AS min_b, max(b) AS max_b
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,

    "text_df_topk" ->
      """WITH w AS (SELECT doc_id, list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS token FROM w)
        |SELECT token, CAST(count(*) AS BIGINT) AS df
        |FROM t GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin,

    "text_contamination" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ws)-1,1)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g FROM w),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM g JOIN b USING (g) WHERE doc_id % 97 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // duplicate-token fractions: DuckDB rebuilds the sliding n-grams with
    // the same single-space join as the TextNgrams kernel; every division
    // runs on identical doubles in identical order
    "text_lm_rarity" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents),
        |grams AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS w1
        |  FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM grams GROUP BY bg),
        |c1 AS (SELECT w1 AS w, count(*) AS c1 FROM grams GROUP BY w1),
        |model AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
        |  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w),
        |j AS (SELECT g.doc_id, m.p FROM grams g JOIN model m USING (bg))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CASE WHEN p < CAST(0.03 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  min(p) AS min_p,
        |  CAST(sum(CASE WHEN p < CAST(0.03 AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS rare_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bm25" ->
      """WITH tf AS (SELECT doc_id,
        |  len(list_filter(string_split(text,' '), x -> x <> '')) AS dl,
        |  len(list_filter(string_split(text,' '), x -> x = 'spark')) AS t0,
        |  len(list_filter(string_split(text,' '), x -> x = 'vector')) AS t1,
        |  len(list_filter(string_split(text,' '), x -> x = 'customer')) AS t2
        | FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |  avg(CAST(dl AS DOUBLE)) AS avgdl,
        |  CAST(sum(CASE WHEN t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(sum(CASE WHEN t1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
        |  CAST(sum(CASE WHEN t2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2 FROM tf)
        |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
        |  CAST(t0 AS BIGINT) AS tf_spark, CAST(t1 AS BIGINT) AS tf_vector,
        |  CAST(t2 AS BIGINT) AS tf_customer,
        |  ((n_docs - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE)))
        |    * (CAST(t0 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(t0 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |       + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
        |  + ((n_docs - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE)))
        |    * (CAST(t1 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(t1 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |       + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))
        |  + ((n_docs - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE)))
        |    * (CAST(t2 AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(t2 AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |       + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl)) AS score
        |FROM tf CROSS JOIN st
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    "text_normalize" ->
      """WITH m AS (SELECT doc_id,
        |  '  ' || (CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |                WHEN doc_id % 2 = 0 THEN replace(text, ' ', '  ')
        |                ELSE text END) || chr(9) AS messy FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(translate(messy,
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
        |    '[ \t\n\r]+', ' ', 'g')) AS norm_text FROM m)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, text,
        |  list_filter(string_split(text,' '), x -> x <> '') AS ws FROM documents),
        |g AS (SELECT doc_id, text, len(ws) AS n,
        |  len(list_distinct(ws)) AS dw,
        |  len(list_distinct(list_transform(range(1, greatest(len(ws),1)),
        |      i -> ws[i] || ' ' || ws[i+1]))) AS d2,
        |  len(list_distinct(list_transform(range(1, greatest(len(ws)-1,1)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS d3
        | FROM w)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        | round(CASE WHEN n > 0 THEN 1.0 - CAST(dw AS DOUBLE)/n ELSE 0.0 END, 6) AS dup_word_frac,
        | round(CASE WHEN n > 1 THEN 1.0 - CAST(d2 AS DOUBLE)/(n-1) ELSE 0.0 END, 6) AS dup_2gram_frac,
        | round(CASE WHEN n > 2 THEN 1.0 - CAST(d3 AS DOUBLE)/(n-2) ELSE 0.0 END, 6) AS dup_3gram_frac,
        | round(CASE WHEN n > 0 THEN CAST(length(replace(text,' ','')) AS DOUBLE)/n ELSE 0.0 END, 6) AS mean_word_len
        |FROM g ORDER BY doc_id""".stripMargin,

    // the synthesized-PII augmentation is derived identically here and in
    // the Spark query; patterns are backslash-free explicit classes so
    // Java regex and RE2 produce the same matches; redaction order is
    // email -> ssn -> phone -> ip on both sides
    "text_pii" ->
      """WITH aug AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 <> 0 THEN
        |      ' contact user' || doc_id || '@mail.example.com call +1-555-' || lpad(CAST((doc_id*7) % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 ssn 123-45-' || lpad(CAST((doc_id*13) % 10000 AS VARCHAR), 4, '0')
        |    ELSE '' END
        |  || CASE WHEN doc_id % 2 = 0 THEN ' cc admin' || doc_id || '@corp.example.org' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '[+]1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |    '[+]1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS content_sha,
        | CAST(octet_length(encode(text)) // 64 + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s, event_type,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
        |g AS (SELECT user_id,
        | CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |       OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |      THEN 1 ELSE 0 END AS ns FROM e)
        |SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_streaming_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, ms,
        |  CASE WHEN LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |        OR ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
        |       THEN 1 ELSE 0 END AS ns FROM e),
        |s AS (SELECT user_id, ms,
        |  SUM(ns) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,

    "sensing_stats" ->
      """SELECT 'k' AS field, COUNT(*) AS n_rows, COUNT(DISTINCT v) AS n_distinct,
        | MIN(v) AS min_v, MAX(v) AS max_v
        |FROM (SELECT CAST(NULLIF(regexp_extract(props, '"k": (-?\d+)', 1), '') AS BIGINT) AS v
        |      FROM events)""".stripMargin,

    "sensing_types" ->
      """WITH c AS (
        |  SELECT 'k' AS field,
        |   CASE WHEN regexp_extract(props, '"k": (-?\d+)', 1) <> '' THEN 'int' ELSE 'missing' END AS observed_type
        |  FROM events
        |  UNION ALL
        |  SELECT 'missing_field', 'missing' FROM events)
        |SELECT field, observed_type, COUNT(*) AS n FROM c GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // The exact distinct count is engine-independent; the booleans assert
    // the HLL estimate is within tolerance of it (TRUE on both sides), so a
    // drifting sketch breaks the hash without demanding bit-equal estimates.
    "sensing_hll" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
        | TRUE AS hll_users_ok, TRUE AS hll_props_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "drift_nullrate" ->
      """SELECT 'event_type' AS column_name, COUNT(*) AS n_rows, COUNT(*) - COUNT(event_type) AS n_nulls FROM events
        |UNION ALL SELECT 'props', COUNT(*), COUNT(*) - COUNT(props) FROM events
        |UNION ALL SELECT 'value', COUNT(*), COUNT(*) - COUNT(value) FROM events
        |ORDER BY 1""".stripMargin,

    // Recomputes every drift row from the typed columns directly: the
    // payload is constructed so each drift kind's trigger condition is a
    // plain SQL predicate. ctx has exactly 3 structures (error/purchase/
    // other key-sets), derived with a COUNT(DISTINCT CASE ...).
    "drift_types" ->
      """WITH r AS (
        |  SELECT 'ctx' AS column_name, 'json_structure_change' AS kind,
        |         'stable structure' AS expected, 'n_structures' AS observed,
        |         CAST(COUNT(DISTINCT CASE event_type WHEN 'error' THEN 1 WHEN 'purchase' THEN 2 ELSE 3 END) AS BIGINT) AS n
        |  FROM events
        |  UNION ALL SELECT 'event_type','type_mismatch','int','string', COUNT(*) FROM events WHERE event_type IS NOT NULL
        |  UNION ALL SELECT 'extra','undeclared_column','(not declared)','present', COUNT(*) FROM events WHERE event_type = 'signup'
        |  UNION ALL SELECT 'ghost','missing_column','declared','never present', COUNT(*) FROM events
        |  UNION ALL SELECT 'maybe','unexpected_null','NOT NULL','NULL', COUNT(*) FROM events WHERE user_id % 7 = 0
        |  UNION ALL SELECT 'props','type_mismatch','varchar','object_or_array', COUNT(*) FROM events WHERE props IS NOT NULL
        |  UNION ALL SELECT 'value','type_mismatch','bigint','float', COUNT(*) FROM events WHERE value IS NOT NULL
        |  UNION ALL SELECT 'value','value_out_of_range','[0.0,100.0]','out_of_range', COUNT(*) FROM events WHERE value < 0 OR value > 100
        |)
        |SELECT column_name, kind, expected, observed, n FROM r ORDER BY column_name, kind""".stripMargin
  )
}
