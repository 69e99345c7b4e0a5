package graft.sources

import graft.SparkSpec
import graft.sources.MysqlBinlog.{render, JArr, JBool, JLong, JNull, JStr}
import graft.sources.PgOutput._
import graft.sources.{PgOutputFixture => Fx}

/**
 * pgoutput decode tests mirroring the reference's value-conversion and
 * dispatch semantics (crates/sources/src/postgres/postgres_object.rs:90-263,
 * postgres_event.rs:165-700).
 */
class PgOutputSpec extends SparkSpec {

  private def txt(s: String) = PgText(s.getBytes("UTF-8"))

  // — convert_text_value by OID —

  test("bool/int/float/numeric text conversion") {
    assert(convertTextValue("t", Oid.BOOL) == JBool(true))
    assert(convertTextValue("off", Oid.BOOL) == JBool(false))
    assert(convertTextValue("maybe", Oid.BOOL) == JStr("maybe"))
    assert(convertTextValue("42", Oid.INT8) == JLong(42))
    assert(convertTextValue("notnum", Oid.INT4) == JStr("notnum"))
    assert(render(convertTextValue("2.5", Oid.FLOAT8)) == "2.5")
    // NUMERIC stays a string — precision preserved
    assert(convertTextValue("12345678901234567890.123", Oid.NUMERIC) ==
      JStr("12345678901234567890.123"))
  }

  test("bytea hex decodes to _base64 wrapper; bad hex stays string") {
    val b = convertTextValue("\\xdeadbeef", Oid.BYTEA)
    val expected = java.util.Base64.getEncoder.encodeToString(
      Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte))
    assert(render(b) == s"""{"_base64":"$expected"}""")
    assert(convertTextValue("\\xzz", Oid.BYTEA) == JStr("\\xzz"))
  }

  test("array literals parse with quotes, escapes, NULL and booleans") {
    assert(render(parsePgArray("{}")) == "[]")
    assert(render(parsePgArray("{1,2,3}")) == "[1,2,3]")
    assert(render(parsePgArray("{t,f,NULL}")) == "[true,false,null]")
    assert(render(parsePgArray("""{a,"b,c","d\"e"}""")) == """["a","b,c","d\"e"]""")
    assert(parsePgArray("not-an-array") == JStr("not-an-array"))
  }

  test("TOAST unchanged placeholder and binary values") {
    assert(render(convertValue(PgUnchanged, Oid.TEXT)) == """{"_unchanged":true}""")
    val bin = convertValue(PgBinary(Array[Byte](1, 2)), Oid.TEXT)
    assert(render(bin) == s"""{"_base64":"${java.util.Base64.getEncoder.encodeToString(Array[Byte](1, 2))}"}""")
  }

  test("json/jsonb textual passthrough") {
    assert(render(convertTextValue("""{"a":1}""", Oid.JSONB)) == """{"a":1}""")
    assert(convertTextValue("plain", Oid.JSON) == JStr("plain"))
  }

  // — build_object / key object —

  private val cols = Fx.ordersCols

  test("build_object keys every relation column; missing values → null") {
    val json = buildObject(cols.take(2), Vector(txt("7")))
    assert(json == """{"o_orderkey":7,"o_custkey":null}""")
  }

  test("build_key_object keeps only key-flagged columns") {
    val json = buildKeyObject(cols, Fx.orderValues(5, 9, "O", 1.5, 0, "p", toastUnchanged = false).toIndexedSeq)
    assert(json == """{"o_orderkey":5}""")
  }

  // — message dispatch over a recorded segment —

  test("insert/update/delete decode with tx context and lsn strings") {
    val rows = Iterator(
      (0L, 10L, "O", 100.25, 880934400000L, "1-URGENT"), // c
      (6L, 11L, "F", 200.50, 880934400000L, "2-HIGH"), // u
      (9L, 12L, "P", 300.75, 880934400000L, "3-MEDIUM")) // d
    val recs = PgOutput.decodeSegment(Fx.ordersSegment(rows))
    assert(recs.map(_.op) == Seq("c", "u", "d"))
    val c = recs(0); val u = recs(1); val d = recs(2)
    assert(c.schema == "public" && c.table == "orders")
    assert(c.txId == 77L && c.tsMs == 1700000000000L)
    assert(c.lsn == "0/0" && u.lsn == "0/6" && d.lsn == "0/9")
    assert(c.after.contains(""""o_orderkey":0""") && c.before == null)
    assert(c.after.contains(""""flag":true"""))
    assert(c.after.contains(""""tags":["t0","x"]"""))
    assert(c.after.contains(""""props":{"k":0}"""))
    assert(c.after.contains(""""o_totalprice":"100.25""""))
    // update: before has the real TOAST value, after the _unchanged marker
    assert(u.before.contains(""""toast_txt":"v6"""") )
    assert(u.after.contains(""""toast_txt":{"_unchanged":true}"""))
    assert(d.before != null && d.after == null)
  }

  test("changeEvents maps records to envelopes, source.sequence is the LSN as a number") {
    import spark.implicits._
    val lsn = (0x1AL << 32) | 0xFF00FFL
    val seg = Fx.framed(0L, Fx.relation(Fx.RelId, Fx.Schema, Fx.Table, Fx.ordersCols)) ++
      Fx.framed(0L, Fx.begin(lsn, Fx.CommitMicrosPg, 77L)) ++
      Fx.framed(lsn, Fx.insert(Fx.RelId,
        Fx.orderValues(1L, 2L, "O", 3.5, 812332800000L, "1-URGENT", toastUnchanged = false)))
    val rows = PgOutput.changeEvents(PgOutput.decodeSegment(seg).toDF(), "pg-1", "shop")
      .select("op", "source.db", "source.schema", "source.table", "source.connector",
        "source.name", "source.lsn", "source.tx_id", "source.sequence", "event_id", "tx_end")
      .as[(String, String, String, String, String, String, String, Long, Long, String, Option[Boolean])]
      .collect().toSeq
    assert(rows == Seq(("c", "shop", "public", "orders", "postgres", "pg-1", "1A/FF00FF", 77L,
      lsn, "public.orders:1A/FF00FF", None)))
    assert(PgWire.parseLsn("1A/FF00FF") == lsn)
  }

  test("truncate fans out op='t' with cascade/restart flags") {
    val recs = PgOutput.decodeSegment(Fx.truncateSegment())
    assert(recs.size == 1)
    val t = recs.head
    assert(t.op == "t" && t.schema == "public" && t.table == "orders")
    assert(t.cascade && !t.restartIdentity)
  }

  test("re-mapped relation with changed columns signals schema reload") {
    val cols2 = cols.updated(1, cols(1).copy(typeOid = Oid.INT8)) // type change
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.framed(0L, Fx.relation(Fx.RelId, "public", "orders", cols)))
    out.write(Fx.framed(5L, Fx.relation(Fx.RelId, "public", "orders", cols2)))
    val recs = PgOutput.decodeSegment(out.toByteArray)
    assert(recs.size == 1 && recs.head.schemaChanged && recs.head.lsn == "0/5")
  }

  test("unknown relation ids are skipped (postgres_event.rs:386-389)") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Fx.framed(0L, Fx.insert(999L, Seq(PgNull))))
    assert(PgOutput.decodeSegment(out.toByteArray).isEmpty)
  }

  test("lsn renders in pg X/Y hex convention") {
    assert(lsnString(0x16B2D80L) == "0/16B2D80")
    assert(lsnString((3L << 32) | 0xADEL) == "3/ADE")
  }

  test("orderedByOpLsn decodedOrders reproduces ORDER BY op, lsn exactly") {
    import org.apache.spark.sql.functions._
    // keys chosen so hex-string order ≠ numeric order (10 → "0/A" sorts
    // AFTER 16 → "0/10") and every op class + the truncate row is present
    val orders = spark.range(1, 60).select(
      col("id").as("o_orderkey"), (col("id") % 7).as("o_custkey"),
      when(col("id") % 3 === 0, "O").otherwise("F").as("o_orderstatus"),
      (col("id").cast("double") * 1.5 + 0.25).as("o_totalprice"),
      lit("2023-11-14 22:13:20").cast("timestamp").as("o_orderdate"),
      concat(lit("P-"), col("id") % 5).as("o_orderpriority"))
    val cols = Seq("lsn", "op", "before", "after").map(col)
    val got = Fx.decodedOrders(orders, orderedByOpLsn = true)
      .filter(col("op").isNotNull).select(cols: _*)
      .sortWithinPartitions("op", "lsn").collect().toSeq
    val want = Fx.decodedOrders(orders)
      .filter(col("op").isNotNull).select(cols: _*)
      .orderBy("op", "lsn").collect().toSeq
    assert(got == want) // row-for-row, order included
    assert(got.exists(_.getAs[String]("op") == "t"))
  }

  test("pgoutput segments stream through the backlog source") {
    val backlog = java.nio.file.Files.createTempDirectory("pgstream").toString
    val seg = Fx.ordersSegment(Iterator((5L, 105L, "O", 9.99, 880934400000L, "2-HIGH")))
    MysqlBinlogFixture.writeBacklogSegment(backlog, "seg-000.segb64", seg)
    MysqlBinlogFixture.writeBacklogSegment(backlog, "seg-001.segb64", Fx.truncateSegment())
    val decoded = Fx.decodeBase64Segments(spark.read.text(backlog))
      .collect().map(r => r.getAs[String]("op")).filter(_ != null).sorted
    assert(decoded.toSeq == Seq("c", "t"))
  }
}
