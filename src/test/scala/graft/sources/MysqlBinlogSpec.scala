package graft.sources

import graft.SparkSpec
import graft.sources.MysqlBinlog._
import graft.sources.{MysqlBinlogFixture => Fx}

/**
 * Unit tests for the binlog decode path, mirroring the reference's inline
 * decode tests (crates/sources/src/mysql/mysql_object.rs:85-172,
 * mysql_event.rs test module) plus wire-format round-trips.
 */
class MysqlBinlogSpec extends SparkSpec {

  private val cols = Fx.ordersCols
  private def names = cols.map(_.name).toIndexedSeq

  private def decode(seg: Array[Byte]): Seq[Record] =
    decodeSegment(seg, (_, _) => names)

  private def oneRowSegment(eventType: Int, images: Seq[Seq[Any]]): Seq[Record] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.tableMap(1L, "shop", "orders", cols, 1700000000L, 0))
    out.write(Fx.rowsEvent(eventType, 1L, cols, Seq(images), 1700000000L, 7))
    decode(out.toByteArray)
  }

  private val vals = Fx.orderValues(10L, 99L, "O", 12345.67, 812332800000L, "5-LOW")

  // — build_object semantics (mysql_object.rs:86-150) —

  test("write_rows decodes basic scalar types keyed by column name") {
    val recs = oneRowSegment(WRITE_ROWS_V2, Seq(vals))
    assert(recs.size == 1)
    val r = recs.head
    assert(r.op == "c" && r.db == "shop" && r.table == "orders" && r.before == null)
    assert(r.after.contains("\"o_orderkey\":10"))
    assert(r.after.contains("\"o_custkey\":99"))
    assert(r.after.contains("\"o_orderstatus\":\"O\""))
  }

  test("decimal, datetime and double decode to reference-shaped values") {
    val r = oneRowSegment(WRITE_ROWS_V2, Seq(vals)).head
    assert(r.after.contains("\"o_totalprice\":\"12345.67\"")) // decimal-as-string
    assert(r.after.contains("\"o_orderdate\":\"1995-09-29 00:00:00\""))
    assert(r.after.contains("\"price_d\":12345.67"))
    assert(r.after.contains("\"tiny_flag\":10"))
  }

  test("blob encodes as _base64 wrapper; jsonb decodes structurally") {
    val r = oneRowSegment(WRITE_ROWS_V2, Seq(vals)).head
    val expectedB64 = java.util.Base64.getEncoder.encodeToString(
      Array[Byte](0xde.toByte, 0xad.toByte, 10, 0xff.toByte))
    assert(r.after.contains(s""""payload_bin":{"_base64":"$expectedB64"}"""))
    assert(r.after.contains(""""props":{"k":10,"tag":"t0"}"""))
  }

  test("null bitmap produces explicit JSON nulls") {
    val nv = Fx.orderValues(3L, 99L, "O", 1.0, 812332800000L, "ignored") // pk%7==3 → null prio
    val r = oneRowSegment(WRITE_ROWS_V2, Seq(nv)).head
    assert(r.after.contains("\"o_orderpriority\":null"))
  }

  test("update_rows carries before AND after; delete only before") {
    val u = oneRowSegment(UPDATE_ROWS_V2, Seq(vals, vals)).head
    assert(u.op == "u" && u.before != null && u.after == u.before)
    val d = oneRowSegment(DELETE_ROWS_V2, Seq(vals)).head
    assert(d.op == "d" && d.before != null && d.after == null)
  }

  test("non-UTF8 string bytes fall back to _base64 (mysql_object.rs:120-134)") {
    assert(utf8OrNull(Array[Byte](0xff.toByte, 0x00, 0xaa.toByte)) == null)
    assert(utf8OrNull("sku-1".getBytes) == "sku-1")
  }

  test("handle_json textual fallback and base64-json last resort (mysql_object.rs:153-172)") {
    // not JSONB, but valid textual JSON → passthrough
    val textual = handleJson("""{"a":1,"b":"x"}""".getBytes)
    assert(render(textual) == """{"a":1,"b":"x"}""")
    // neither JSONB nor UTF-8 → _base64_json wrapper
    val junk = Array[Byte](0xff.toByte, 0x00, 0x01)
    val wrapped = handleJson(junk)
    assert(render(wrapped) ==
      s"""{"_base64_json":"${java.util.Base64.getEncoder.encodeToString(junk)}"}""")
    // looks like JSON but is MALFORMED → JSON string, not raw splice
    // (an unvalidated fragment would corrupt the whole rendered row)
    val malformed = handleJson("""{"a": unclosed""".getBytes)
    assert(render(malformed) == "\"{\\\"a\\\": unclosed\"")
  }

  test("CHAR columns wider than 255 bytes decode via packed STRING meta") {
    // CHAR(300)-equivalent: length bits 8-9 stolen from the type byte —
    // meta byte0 = realType ^ ((len >> 8) << 4), byte1 = len & 0xff
    val len = 300
    val m0 = T.STRING ^ (((len >> 8) & 0x3) << 4)
    val wide = Col_("wide", T.STRING, (m0 << 8) | (len & 0xff))
    val text = "x" * 280
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.tableMap(5L, "shop", "wide_t", Seq(wide), 1700000000L, 0))
    out.write(Fx.rowsEvent(WRITE_ROWS_V2, 5L, Seq(wide), Seq(Seq(Seq(text))), 1700000000L, 1))
    val recs = decodeSegment(out.toByteArray, (_, _) => IndexedSeq("wide"))
    assert(recs.size == 1)
    assert(recs.head.after == s"""{"wide":"$text"}""")
  }

  test("CRC32 checksum trailer: declared by FDE, verified, stripped from rows") {
    val ts = 1700000000L
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.formatDescription(ts, alg = 1))
    // every subsequent event carries a CRC32 trailer inside event_length
    out.write(Fx.event(TABLE_MAP_EVENT, ts, 0,
      dropHeader(Fx.tableMap(1L, "shop", "orders", cols, ts, 0)), crc32 = true))
    out.write(Fx.event(WRITE_ROWS_V2, ts, 7,
      dropHeader(Fx.rowsEvent(WRITE_ROWS_V2, 1L, cols, Seq(Seq(vals)), ts, 7)), crc32 = true))
    out.write(Fx.event(XID_EVENT, ts, 8,
      dropHeader(Fx.xid(42L, ts, 8)), crc32 = true))
    val recs = decode(out.toByteArray)
    // without the FDE-declared trailer the row loop would parse the CRC
    // bytes as another row and throw or emit garbage
    assert(recs.map(_.op) == Seq("c", null))
    assert(recs.head.after.contains("\"o_orderkey\":10"))
    assert(recs.last.txEnd)
    // verification is real: flip a payload byte → CRC mismatch
    val seg = out.toByteArray
    val corrupt = seg.clone()
    corrupt(seg.length - 10) = (corrupt(seg.length - 10) ^ 0x01).toByte
    val ex = intercept[IllegalArgumentException] { decode(corrupt) }
    assert(ex.getMessage.contains("CRC32 mismatch"))
    // alg=0 FDE → no trailer expected, checksum-free events still decode
    val plain = new java.io.ByteArrayOutputStream()
    plain.write(Fx.formatDescription(ts, alg = 0))
    plain.write(Fx.tableMap(1L, "shop", "orders", cols, ts, 0))
    plain.write(Fx.rowsEvent(WRITE_ROWS_V2, 1L, cols, Seq(Seq(vals)), ts, 7))
    assert(decode(plain.toByteArray).size == 1)
  }

  private def dropHeader(ev: Array[Byte]): Array[Byte] = ev.drop(19)
  private def Col_(name: String, typ: Int, meta: Int) = Fx.Col(name, typ, meta)

  // — packed decimal —

  test("decimal round-trips incl. negative, zero-int and full-scale digits") {
    for ((s, p, sc) <- Seq(("12345.67", 15, 2), ("-12345.67", 15, 2),
      ("0.50", 10, 2), ("-0.05", 10, 2), ("100.00", 15, 2),
      ("999999999999.99", 15, 2), ("-999999999999.99", 15, 2),
      ("12345678901234567.123456789", 30, 9), ("42", 10, 0), ("-42", 10, 0))) {
      val bin = Fx.encodeDecimal(s, p, sc)
      assert(bin.length == decimalBinSize(p, sc))
      assert(decodeDecimal(bin, p, sc) == s, s"for $s DECIMAL($p,$sc)")
    }
  }

  // — JSONB round-trips —

  test("jsonb round-trips nested objects, arrays and all scalar kinds") {
    val j = JObj(Seq(
      "id" -> JLong(7),
      "big" -> JLong(1234567890123L),
      "pi" -> JDouble(3.5),
      "ok" -> JBool(true),
      "none" -> JNull,
      "name" -> JStr("héllo"),
      "arr" -> JArr(Seq(JLong(1), JStr("two"), JNull)),
      "nest" -> JObj(Seq("k" -> JLong(-5)))))
    val decoded = jsonbDecode(Fx.jsonbEncode(j))
    // MySQL sorts object keys by (length, bytes) — compare canonicalized
    def canon(x: J): J = x match {
      case JObj(fs) => JObj(fs.sortBy { case (k, _) => (k.length, k) }.map { case (k, v) => k -> canon(v) })
      case JArr(xs) => JArr(xs.map(canon))
      case other => other
    }
    assert(canon(decoded) == canon(j))
  }

  // — GTID set merge (mysql_event.rs:463-507) —

  test("merge_gtid extends ranges and appends new uuids") {
    assert(mergeGtid("u1:1-20", "u1:21") == "u1:1-20" || mergeGtid("u1:1-20", "u1:21") == "u1:1-21")
    assert(mergeGtid("u1:1-20", "u1:21") == "u1:1-21")
    assert(mergeGtid("u1:5", "u1:6") == "u1:5-6")
    assert(mergeGtid("u1:1-3", "u2:7") == "u1:1-3,u2:7")
    assert(mergeGtid("u1:1-3,u2:7", "u2:8") == "u1:1-3,u2:7-8")
    assert(mergeGtid("u1:1-3", "garbage") == "u1:1-3,garbage")
  }

  test("gtid events accumulate an executed set on decoded records") {
    val uuid = java.util.UUID.fromString("3e11fa47-71ca-11e1-9e33-c80aa9429562")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.tableMap(1L, "shop", "orders", cols, 1700000000L, 0))
    out.write(Fx.gtid(uuid, 1, 1700000000L, 0))
    out.write(Fx.rowsEvent(WRITE_ROWS_V2, 1L, cols, Seq(Seq(vals)), 1700000000L, 1))
    out.write(Fx.gtid(uuid, 2, 1700000000L, 0))
    out.write(Fx.rowsEvent(WRITE_ROWS_V2, 1L, cols, Seq(Seq(vals)), 1700000000L, 2))
    val recs = decode(out.toByteArray).filter(_.op == "c")
    assert(recs.map(_.gtid) == Seq(s"$uuid:1", s"$uuid:1-2"))
  }

  // — DDL handling (mysql_event.rs:523-721) —

  test("extract_table_from_ddl handles every statement form") {
    assert(extractTableFromDdl("ALTER TABLE orders ADD COLUMN x INT").contains("orders"))
    assert(extractTableFromDdl("CREATE TABLE `shop`.`items` (id INT)").contains("items"))
    assert(extractTableFromDdl("DROP TABLE IF EXISTS old_t").contains("old_t"))
    assert(extractTableFromDdl("TRUNCATE TABLE logs").contains("logs"))
    assert(extractTableFromDdl("TRUNCATE logs2").contains("logs2"))
    assert(extractTableFromDdl("RENAME TABLE a TO b").contains("a"))
    assert(extractTableFromDdl("CREATE TABLE IF NOT EXISTS s.t2(i INT)").contains("t2"))
    assert(extractTableFromDdl("ALTER TABLE `weird name` DROP COLUMN c").contains("weird name"))
    assert(extractTableFromDdl("SELECT 1").isEmpty)
  }

  test("query events: BEGIN/COMMIT skipped, DDL emitted with table context") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.query("shop", "BEGIN", 1700000000L, 0))
    out.write(Fx.query("shop", "ALTER TABLE orders ADD COLUMN note VARCHAR(10)", 1700000000L, 5))
    out.write(Fx.query("shop", "COMMIT", 1700000000L, 0))
    val recs = decode(out.toByteArray)
    assert(recs.size == 1)
    val ddl = recs.head
    assert(ddl.ddl.startsWith("ALTER TABLE orders") && ddl.ddlTable == "orders"
      && ddl.db == "shop" && ddl.table == "_ddl")
  }

  test("xid marks a transaction boundary") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.xid(99L, 1700000000L, 0))
    val recs = decode(out.toByteArray)
    assert(recs.size == 1 && recs.head.txEnd)
  }

  test("changeEvents maps DML, DDL and tx-end records to envelopes") {
    import spark.implicits._
    val seg = Fx.ordersSegment(Iterator((6L, 106L, "O", 16.5, 812332800000L, "2-HIGH")))
    val rows = changeEvents(decode(seg).toDF(), "src-1")
      .select("op", "ddl", "source.db", "source.table", "source.connector", "source.name",
        "source.sequence", "event_id", "tx_end")
      .as[(String, String, String, String, String, String, Option[Long], String, Boolean)]
      .collect().toSeq
    val ddl = "ALTER TABLE orders ADD COLUMN note VARCHAR(10)"
    assert(rows == Seq(
      (null, ddl, "inventory", "orders", "mysql", "src-1", Some(0L), "inventory.orders:0", false),
      ("u", null, "inventory", "orders", "mysql", "src-1", Some(6L), "inventory.orders:6", false),
      (null, null, null, null, "mysql", "src-1", Some(0L), null, true)))
  }

  // — end-to-end over Spark —

  test("distributed segments decode 1:1 with the source rows") {
    import spark.implicits._
    val orders = Seq(
      (0L, 10L, "O", 100.25, 812332800000L, "1-URGENT"),
      (3L, 11L, "F", 200.50, 812332800000L, "2-HIGH"), // null prio via pk%7
      (9L, 12L, "P", 300.75, 812332800000L, "3-MEDIUM"), // delete op via pk%10
      (6L, 13L, "O", 400.00, 812332800000L, "4-NOT SPECIFIED")) // update op
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "_ms", "o_orderpriority")
      .withColumn("o_orderdate", org.apache.spark.sql.functions.timestamp_millis(
        org.apache.spark.sql.functions.col("_ms")))
    val decoded = Fx.decodedOrders(orders)
      .filter("op in ('c','u','d')")
      .select("pos", "op", "before", "after")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(decoded.toSeq == Seq((0L, "c"), (3L, "c"), (6L, "u"), (9L, "d")))
  }

  test("fixture invariant: decoded pos equals the source o_orderkey, row for row") {
    // cdc_binlog_decode's plan replaces a post-decode global orderBy("pos")
    // with repartitionByRange(o_orderkey) on the RAW rows +
    // sortWithinPartitions("pos") after the narrow decode — equivalent ONLY
    // because the fixture assigns pos = o_orderkey. This spec pins that
    // invariant over a multi-segment spread so a fixture change to real
    // byte offsets cannot silently invalidate the ordering claim
    // (SparkEntry cdc_binlog_decode; r14 advice).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
    val orders = spark.range(0, 1000).select(
      col("id").as("o_orderkey"), (col("id") * 7 % 97).as("o_custkey"),
      lit("O").as("o_orderstatus"), (col("id") * 1.5).as("o_totalprice"),
      timestamp_millis(lit(812332800000L)).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
    val got = Fx.decodedOrders(orders)
      .filter("op in ('c','u','d')")
      .select("pos").as[Long].collect().sorted
    assert(got.length == 1000 && got.sameElements(0L until 1000L),
      "decoded pos no longer equals the source o_orderkey — the " +
        "repartitionByRange(o_orderkey)+sortWithinPartitions(pos) ordering " +
        "contract in cdc_binlog_decode is broken")
  }
}
