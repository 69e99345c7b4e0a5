package graft.sources

import java.nio.charset.StandardCharsets

import graft.sources.MysqlBinlog._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Binlog segment ENCODER (fixture recorder) + Spark wiring.
 *
 * There is no live MySQL in this environment, so — exactly as the reference
 * fixture-tests its decode path with in-memory events
 * (crates/sources/src/mysql/mysql_event.rs:723-770,
 * crates/sources/src/mysql/mysql_object.rs:78-173) — we RECORD wire-format
 * segments from deterministic source rows and feed them to the real decoder
 * [[MysqlBinlog.decodeSegment]]. The encoder writes the same public binlog
 * layout the decoder parses (header, TABLE_MAP, ROWS v2 bitmaps + null
 * bitmap, GTID, QUERY, XID), so every byte the decoder consumes went
 * through the documented format, not through a private shortcut.
 *
 * Scale shape: encode AND decode run inside `mapPartitions` — segments are
 * a binary column; nothing touches the driver. Segments are BOUNDED at
 * [[MysqlBinlogFixture.SegmentRows]] rows (real binlogs rotate at
 * max_binlog_size for the same reason): one-segment-per-partition made
 * segment size grow with input, and the r7 ×10 probe measured the decode
 * at 192× CPU for 10× data — unbounded per-task byte arrays + their
 * decoded record vectors thrash allocation long before they OOM. With
 * rotation the per-task working set is constant at ANY scale.
 */
object MysqlBinlogFixture {

  /** Column plan entry: type code + metadata (same packing the table-map
   * metadata block uses, see [[MysqlBinlog.decodeSegment]]). */
  case class Col(name: String, typ: Int, meta: Int)

  // ——— low-level writers ———

  final class W {
    // plain growable array — ByteArrayOutputStream.write(int) is
    // synchronized, and the encode half pays it once per BYTE (a top term
    // of the x10 fixture-encode task-CPU)
    private var buf = new Array[Byte](256)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    def u1(v: Int): W = { ensure(1); buf(len) = (v & 0xff).toByte; len += 1; this }
    def u2(v: Int): W = { u1(v); u1(v >> 8) }
    def u3(v: Int): W = { u1(v); u1(v >> 8); u1(v >> 16) }
    def u4(v: Long): W = { u2(v.toInt); u2((v >> 16).toInt) }
    def u6(v: Long): W = { u4(v); u2((v >> 32).toInt) }
    def i8(v: Long): W = { u4(v); u4(v >>> 32) }
    def beN(v: Long, n: Int): W = { var i = n - 1; while (i >= 0) { u1(((v >> (8 * i)) & 0xff).toInt); i -= 1 }; this }
    def leN(v: Long, n: Int): W = { var i = 0; while (i < n) { u1(((v >> (8 * i)) & 0xff).toInt); i += 1 }; this }
    def raw(b: Array[Byte]): W = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
      this
    }
    def rawRange(b: Array[Byte], from: Int, n: Int): W = {
      ensure(n)
      System.arraycopy(b, from, buf, len, n)
      len += n
      this
    }
    def str0(s: String): W = { raw(s.getBytes(StandardCharsets.UTF_8)); u1(0) }
    def lenenc(v: Long): W =
      if (v < 0xfb) u1(v.toInt)
      else if (v < 0x10000) { u1(0xfc); u2(v.toInt) }
      else if (v < 0x1000000) { u1(0xfd); u3(v.toInt) }
      else { u1(0xfe); i8(v) }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    def size: Int = len
    /** Patch a previously-written LE u4 in place (event-length backfill). */
    def patchU4(at: Int, v: Long): Unit = {
      buf(at) = (v & 0xff).toByte
      buf(at + 1) = ((v >> 8) & 0xff).toByte
      buf(at + 2) = ((v >> 16) & 0xff).toByte
      buf(at + 3) = ((v >> 24) & 0xff).toByte
    }
    /** OR a bit mask into an already-written byte (null-bitmap backfill). */
    def orU1(at: Int, mask: Int): Unit =
      buf(at) = (buf(at) | mask).toByte
    /** CRC32 of the range [from, size) — per-event checksums when several
     * events share one segment writer. */
    def crc32From(from: Int): Long = {
      val c = new java.util.zip.CRC32()
      c.update(buf, from, len - from)
      c.getValue
    }
  }

  /** Open a v4 event header in `w` (length backfilled by [[endEvent]]);
   * returns the event's start offset. The single-writer path: the old
   * body-W → event-W → ByteArrayOutputStream chain cost 3 array copies
   * and 2 W allocations per EVENT (2 events per fixture row) — a top term
   * of the r16 encode JFR profile. */
  private def beginEvent(w: W, eventType: Int, tsSec: Long, pos: Long): Int = {
    val start = w.size
    w.u4(tsSec).u1(eventType).u4(1L /*server id*/)
    w.u4(0L) // event_length, patched at end
    w.u4(pos).u2(0)
    start
  }

  private def endEvent(w: W, start: Int, crc32: Boolean = false): Unit = {
    if (crc32) {
      w.patchU4(start + 9, (w.size - start + 4).toLong)
      w.u4(w.crc32From(start))
    } else w.patchU4(start + 9, (w.size - start).toLong)
  }

  /** Wrap a body in a v4 event header. `pos` lands in header.next_pos.
   * `crc32` appends the 4-byte checksum trailer inside event_length —
   * the MySQL default (binlog_checksum=CRC32) since 5.6. */
  def event(eventType: Int, tsSec: Long, pos: Long, body: Array[Byte],
            crc32: Boolean = false): Array[Byte] = {
    val w = new W
    val s = beginEvent(w, eventType, tsSec, pos)
    w.raw(body)
    endEvent(w, s, crc32)
    w.bytes
  }

  /** FORMAT_DESCRIPTION event declaring the checksum algorithm
   * (0 = off, 1 = CRC32) — the alg byte sits at event end - 5. */
  def formatDescription(tsSec: Long, alg: Int): Array[Byte] = {
    val w = new W
    w.u2(4) // binlog version
    w.raw("graft-fixture".padTo(50, '\u0000').getBytes(StandardCharsets.UTF_8).take(50))
    w.u4(tsSec)
    w.u1(19) // common header length
    w.raw(Array.fill[Byte](40)(0)) // post-header length table (unused here)
    w.u1(alg)
    w.u4(0L) // the FDE's own checksum slot (not verified by the decoder)
    event(FORMAT_DESCRIPTION_EVENT, tsSec, 0L, w.bytes)
  }

  def tableMapInto(w: W, tableId: Long, db: String, table: String,
                   cols: Seq[Col], tsSec: Long, pos: Long): Unit = {
    val s = beginEvent(w, TABLE_MAP_EVENT, tsSec, pos)
    w.u6(tableId).u2(0)
    w.u1(db.length).str0(db)
    w.u1(table.length).str0(table)
    w.lenenc(cols.size)
    cols.foreach(c => w.u1(c.typ))
    val mw = new W
    cols.foreach { c =>
      c.typ match {
        case T.VARCHAR | T.VAR_STRING => mw.u2(c.meta)
        case T.NEWDECIMAL => mw.u1(c.meta >> 8).u1(c.meta & 0xff)
        case T.BLOB | T.JSON => mw.u1(c.meta)
        case T.FLOAT | T.DOUBLE => mw.u1(c.meta)
        case T.STRING => mw.u1(c.meta >> 8).u1(c.meta & 0xff)
        case T.TIMESTAMP2 | T.DATETIME2 | T.TIME2 => mw.u1(c.meta)
        case T.BIT => mw.u1(c.meta >> 8).u1(c.meta & 0xff)
        case _ =>
      }
    }
    val meta = mw.bytes
    w.lenenc(meta.length).raw(meta)
    var i = 0
    while (i < (cols.size + 7) / 8) { w.u1(0); i += 1 } // null-allowed bitmap
    endEvent(w, s)
  }

  def tableMap(tableId: Long, db: String, table: String, cols: Seq[Col],
               tsSec: Long, pos: Long): Array[Byte] = {
    val w = new W
    tableMapInto(w, tableId, db, table, cols, tsSec, pos)
    w.bytes
  }

  def gtidInto(w: W, uuid: java.util.UUID, gno: Long, tsSec: Long, pos: Long): Unit = {
    val s = beginEvent(w, GTID_EVENT, tsSec, pos)
    w.u1(1)
    w.beN(uuid.getMostSignificantBits, 8).beN(uuid.getLeastSignificantBits, 8)
    w.i8(gno)
    endEvent(w, s)
  }

  def gtid(uuid: java.util.UUID, gno: Long, tsSec: Long, pos: Long): Array[Byte] = {
    val w = new W
    gtidInto(w, uuid, gno, tsSec, pos)
    w.bytes
  }

  def queryInto(w: W, db: String, sql: String, tsSec: Long, pos: Long): Unit = {
    val s = beginEvent(w, QUERY_EVENT, tsSec, pos)
    w.u4(1L).u4(0L) // thread id, exec time
    w.u1(db.getBytes(StandardCharsets.UTF_8).length)
    w.u2(0) // error code
    w.u2(0) // status vars
    w.raw(db.getBytes(StandardCharsets.UTF_8)).u1(0)
    w.raw(sql.getBytes(StandardCharsets.UTF_8))
    endEvent(w, s)
  }

  def query(db: String, sql: String, tsSec: Long, pos: Long): Array[Byte] = {
    val w = new W
    queryInto(w, db, sql, tsSec, pos)
    w.bytes
  }

  def xidInto(w: W, id: Long, tsSec: Long, pos: Long): Unit = {
    val s = beginEvent(w, XID_EVENT, tsSec, pos)
    w.i8(id)
    endEvent(w, s)
  }

  def xid(id: Long, tsSec: Long, pos: Long): Array[Byte] = {
    val w = new W
    xidInto(w, id, tsSec, pos)
    w.bytes
  }

  // ——— value encode (inverse of MysqlBinlog.decodeValueInto) ———

  def encodeValue(w: W, typ: Int, meta: Int, v: Any): Unit = typ match {
    case T.TINY => w.u1(v.asInstanceOf[Number].intValue())
    case T.SHORT => w.u2(v.asInstanceOf[Number].intValue())
    case T.LONG => w.u4(v.asInstanceOf[Number].longValue() & 0xffffffffL)
    case T.INT24 => w.u3(v.asInstanceOf[Number].intValue())
    case T.LONGLONG => w.i8(v.asInstanceOf[Number].longValue())
    case T.FLOAT => w.u4(java.lang.Float.floatToIntBits(v.asInstanceOf[Number].floatValue()).toLong & 0xffffffffL)
    case T.DOUBLE => w.i8(java.lang.Double.doubleToLongBits(v.asInstanceOf[Number].doubleValue()))
    case T.YEAR => w.u1(v.asInstanceOf[Number].intValue() - 1900)
    case T.DATE =>
      val d = v.asInstanceOf[java.time.LocalDate]
      w.u3(d.getDayOfMonth | (d.getMonthValue << 5) | (d.getYear << 9))
    case T.DATETIME2 =>
      val dt = v.asInstanceOf[java.time.LocalDateTime]
      val ym = dt.getYear * 13L + dt.getMonthValue
      val packed = (((ym << 5) | dt.getDayOfMonth) << 17) |
        (dt.getHour << 12) | (dt.getMinute << 6) | dt.getSecond
      w.beN(packed + 0x8000000000L, 5); fracPad(w, meta)
    case T.TIMESTAMP2 =>
      w.beN(v.asInstanceOf[Number].longValue(), 4); fracPad(w, meta)
    case T.TIME2 =>
      val secs = v.asInstanceOf[Number].longValue() // seconds-of-day, may be negative
      val a = math.abs(secs)
      val packed = ((a / 3600) << 12) | (((a % 3600) / 60) << 6) | (a % 60)
      w.beN((if (secs < 0) -packed else packed) + 0x800000L, 3); fracPad(w, meta)
    case T.BIT =>
      val bits = ((meta >> 8) & 0xff) * 8 + (meta & 0xff)
      w.beN(v.asInstanceOf[Number].longValue(), (bits + 7) / 8)
    case T.NEWDECIMAL =>
      w.raw(encodeDecimal(v.toString, (meta >> 8) & 0xff, meta & 0xff))
    case T.VARCHAR | T.VAR_STRING =>
      val b = toBytes(v)
      if (meta < 256) w.u1(b.length) else w.u2(b.length)
      w.raw(b)
    case T.STRING =>
      val b = toBytes(v)
      // same packed-length decode the reader uses (lengths > 255 ride in
      // bits 4-5 of the type byte) so encode/decode stay symmetric
      val m0 = (meta >> 8) & 0xff
      val m1 = meta & 0xff
      val maxLen = if (m0 != 0 && (m0 & 0x30) != 0x30) m1 | (((m0 & 0x30) ^ 0x30) << 4) else m1
      if (maxLen < 256) w.u1(b.length) else w.u2(b.length)
      w.raw(b)
    case T.BLOB =>
      val b = toBytes(v)
      w.leN(b.length.toLong, meta & 0xff).raw(b)
    case T.JSON =>
      val b = jsonbEncode(v.asInstanceOf[J])
      w.leN(b.length.toLong, meta & 0xff).raw(b)
    case other => throw new IllegalArgumentException(s"unsupported column type $other")
  }

  private def fracPad(w: W, fsp: Int): Unit = (0 until (fsp + 1) / 2).foreach(_ => w.u1(0))

  private def toBytes(v: Any): Array[Byte] = v match {
    case b: Array[Byte] => b
    case s: String => s.getBytes(StandardCharsets.UTF_8)
    case other => other.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Inverse of [[MysqlBinlog.decodeDecimal]]: plain decimal string →
   * MySQL packed format (9-digit base-1e9 groups, sign in MSB of byte 0,
   * negative = all bits inverted). */
  def encodeDecimal(s0: String, precision: Int, scale: Int): Array[Byte] = {
    val neg = s0.startsWith("-")
    val s = if (neg) s0.substring(1) else s0
    val dot = s.indexOf('.')
    val intDigits = (if (dot < 0) s else s.substring(0, dot)).dropWhile(_ == '0') match {
      case "" => ""
      case d => d
    }
    val fracDigits0 = if (dot < 0) "" else s.substring(dot + 1)
    val fracDigits = fracDigits0.padTo(scale, '0').take(scale)
    val intg = precision - scale
    require(intDigits.length <= intg, s"decimal $s0 overflows DECIMAL($precision,$scale)")
    val intPadded = ("0" * (intg - intDigits.length)) + intDigits
    val w = new W
    val dig2bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)
    val lead = intg % 9
    var idx = 0
    if (lead > 0) { w.beN(intPadded.substring(0, lead).toLong, dig2bytes(lead)); idx = lead }
    while (idx < intg) { w.beN(intPadded.substring(idx, idx + 9).toLong, 4); idx += 9 }
    idx = 0
    while (idx + 9 <= scale) { w.beN(fracDigits.substring(idx, idx + 9).toLong, 4); idx += 9 }
    val tail = scale - idx
    if (tail > 0) w.beN(fracDigits.substring(idx).toLong, dig2bytes(tail))
    val out = w.bytes
    if (neg) { var i = 0; while (i < out.length) { out(i) = (~out(i)).toByte; i += 1 } }
    out(0) = (out(0) ^ 0x80).toByte
    out
  }

  // ——— JSONB encode (small documents; inverse of MysqlBinlog.jsonbDecode) ———

  def jsonbEncode(j: J): Array[Byte] = {
    val w = new W
    j match {
      case JObj(_) => w.u1(0x00).raw(encodeSmallContainer(j))
      case JArr(_) => w.u1(0x02).raw(encodeSmallContainer(j))
      case JNull => w.u1(0x04).u1(0)
      case JBool(b) => w.u1(0x04).u1(if (b) 1 else 2)
      case JLong(v) if v >= Short.MinValue && v <= Short.MaxValue => w.u1(0x05).u2(v.toInt & 0xffff)
      case JLong(v) if v >= Int.MinValue && v <= Int.MaxValue => w.u1(0x07).u4(v & 0xffffffffL)
      case JLong(v) => w.u1(0x09).i8(v)
      case JDouble(v) => w.u1(0x0b).i8(java.lang.Double.doubleToLongBits(v))
      case JStr(s) =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        w.u1(0x0c); varlen(w, b.length); w.raw(b)
      case JRaw(_) => throw new IllegalArgumentException("JRaw not encodable")
    }
    w.bytes
  }

  private def varlen(w: W, len0: Int): Unit = {
    var len = len0
    var cont = true
    while (cont) {
      if (len < 0x80) { w.u1(len); cont = false }
      else { w.u1((len & 0x7f) | 0x80); len >>= 7 }
    }
  }

  /** Small object/array payload. MySQL sorts object keys by (length, bytes);
   * we sort here so decode order == MySQL order. Single-pass loops over
   * index arrays — the map/zip/ByteArrayOutputStream version allocated
   * ~20 objects per JSONB value and showed in the r16 encode JFR profile. */
  private def encodeSmallContainer(j: J): Array[Byte] = {
    val (keys, values) = j match {
      case JObj(fs0) =>
        val fs = fs0.sortBy { case (k, _) => (k.length, k) }
        (fs.map(_._1), fs.map(_._2))
      case JArr(items) => (Nil, items)
      case _ => throw new IllegalArgumentException
    }
    val isObj = j.isInstanceOf[JObj]
    val count = values.size
    val headerSize = 4 + (if (isObj) count * 4 else 0) + count * 3
    val keyBytes = keys.iterator.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    var keyTotal = 0
    keyBytes.foreach(kb => keyTotal += kb.length)
    val valuesArr = values.toArray
    // pass 1: encode non-inline values, accumulate spill layout
    val types = new Array[Int](count)
    val inline = new Array[Int](count)
    val payloads = new Array[Array[Byte]](count)
    val spillBase = headerSize + keyTotal
    var spillOff = 0
    var i = 0
    while (i < count) {
      valuesArr(i) match {
        case JNull => types(i) = 0x04; inline(i) = 0
        case JBool(b) => types(i) = 0x04; inline(i) = if (b) 1 else 2
        case JLong(v) if v >= Short.MinValue && v <= Short.MaxValue =>
          types(i) = 0x05; inline(i) = v.toInt & 0xffff
        case v =>
          val enc = jsonbEncode(v)
          types(i) = enc(0) & 0xff
          inline(i) = spillBase + spillOff
          payloads(i) = enc
          spillOff += enc.length - 1 // payload without its type byte
      }
      i += 1
    }
    val w = new W
    w.u2(count).u2(spillBase + spillOff)
    var off = headerSize
    keyBytes.foreach { kb => w.u2(off).u2(kb.length); off += kb.length }
    i = 0
    while (i < count) { w.u1(types(i)).u2(inline(i)); i += 1 }
    keyBytes.foreach(w.raw)
    i = 0
    while (i < count) {
      val p = payloads(i)
      if (p != null) w.rawRange(p, 1, p.length - 1)
      i += 1
    }
    w.bytes
  }

  // ——— orders-table fixture pipeline ———

  val OrdersDb = "inventory"
  val OrdersTable = "orders"
  val OrdersTableId = 42L
  private val FixtureUuid = java.util.UUID.fromString("3e11fa47-71ca-11e1-9e33-c80aa9429562")

  /** Column plan for the orders fixture — deliberately spans the type map:
   * LONGLONG, LONG, CHAR, NEWDECIMAL, DATETIME2, nullable VARCHAR, DOUBLE,
   * TINY, JSONB and BLOB (mysql_object.rs:25-48 coverage). */
  val ordersCols: IndexedSeq[Col] = Vector(
    Col("o_orderkey", T.LONGLONG, 0),
    Col("o_custkey", T.LONG, 0),
    Col("o_orderstatus", T.STRING, (T.STRING << 8) | 1),
    Col("o_totalprice", T.NEWDECIMAL, (15 << 8) | 2),
    Col("o_orderdate", T.DATETIME2, 0),
    Col("o_orderpriority", T.VARCHAR, 20),
    Col("price_d", T.DOUBLE, 8),
    Col("tiny_flag", T.TINY, 0),
    Col("props", T.JSON, 4),
    Col("payload_bin", T.BLOB, 2))

  def rowsEventInto(w: W, eventType: Int, tableId: Long, cols: IndexedSeq[Col],
                    images: Seq[Seq[Seq[Any]]], tsSec: Long, pos: Long): Unit = {
    val s = beginEvent(w, eventType, tsSec, pos)
    w.u6(tableId).u2(0).u2(2) // flags, extra-data len (v2)
    w.lenenc(cols.size)
    val bitmapLen = (cols.size + 7) / 8
    var bi = 0
    while (bi < cols.size) { // all-columns included bitmap, bit-packed inline
      var b = 0
      var j = 0
      while (j < 8 && bi + j < cols.size) { b |= 1 << j; j += 1 }
      w.u1(b)
      bi += 8
    }
    if (eventType == UPDATE_ROWS_V2) {
      bi = 0
      while (bi < cols.size) {
        var b = 0
        var j = 0
        while (j < 8 && bi + j < cols.size) { b |= 1 << j; j += 1 }
        w.u1(b)
        bi += 8
      }
    }
    images.foreach { rowImages =>
      rowImages.foreach { values =>
        // zeroed null bitmap written first, bits OR'd back in as nulls are
        // found — no per-image scratch arrays, no zipWithIndex tuples
        val nbAt = w.size
        var k = 0
        while (k < bitmapLen) { w.u1(0); k += 1 }
        var i = 0
        values.foreach { v =>
          if (v == null) w.orU1(nbAt + (i >> 3), 1 << (i & 7))
          else encodeValue(w, cols(i).typ, cols(i).meta, v)
          i += 1
        }
      }
    }
    endEvent(w, s)
  }

  def rowsEvent(eventType: Int, tableId: Long, cols: Seq[Col],
                images: Seq[Seq[Seq[Any]]], tsSec: Long, pos: Long): Array[Byte] = {
    val w = new W
    rowsEventInto(w, eventType, tableId, cols.toIndexedSeq, images, tsSec, pos)
    w.bytes
  }

  /** Fixture values for one orders row (deterministic functions of the row,
   * so the DuckDB oracle reproduces them). */
  def orderValues(pk: Long, cust: Long, status: String, price: Double,
                  dateMs: Long, prio: String): Seq[Any] = {
    val dt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(dateMs), java.time.ZoneOffset.UTC)
    val dec = java.math.BigDecimal.valueOf(price).setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    Seq(
      pk, cust, status, dec, dt,
      if (pk % 7 == 3) null else prio,
      price,
      pk % 128,
      JObj(Seq("k" -> JLong(pk % 100), "tag" -> JStr("t" + (pk % 10)))),
      Array[Byte](0xde.toByte, 0xad.toByte, (pk % 256).toByte, 0xff.toByte))
  }

  /**
   * Encode one partition of orders rows into a binlog segment:
   * DDL QUERY + TABLE_MAP, then per row GTID + WRITE/UPDATE/DELETE (op mix
   * pk%10, same as [[CdcSynth.opFor]]), closed by XID.
   */
  def ordersSegment(rows: Iterator[(Long, Long, String, Double, Long, String)]): Array[Byte] = {
    // one writer for the whole segment: events append in place with
    // backfilled lengths instead of body-W → event-W → stream copies
    val w = new W
    val ts = 1700000000L
    queryInto(w, OrdersDb, "ALTER TABLE orders ADD COLUMN note VARCHAR(10)", ts, 0)
    tableMapInto(w, OrdersTableId, OrdersDb, OrdersTable, ordersCols, ts, 0)
    rows.foreach { case (pk, cust, status, price, dateMs, prio) =>
      gtidInto(w, FixtureUuid, pk + 1, ts, pk)
      val vals = orderValues(pk, cust, status, price, dateMs, prio)
      (pk % 10) match {
        case m if m <= 5 => rowsEventInto(w, WRITE_ROWS_V2, OrdersTableId, ordersCols, Seq(Seq(vals)), ts + pk, pk)
        case m if m <= 8 => rowsEventInto(w, UPDATE_ROWS_V2, OrdersTableId, ordersCols, Seq(Seq(vals, vals)), ts + pk, pk)
        case _ => rowsEventInto(w, DELETE_ROWS_V2, OrdersTableId, ordersCols, Seq(Seq(vals)), ts + pk, pk)
      }
    }
    xidInto(w, 1L, ts, 0)
    w.bytes
  }

  /**
   * Streaming decode over [[graft.sources.BacklogSource]] lines: each
   * backlog line carries one base64-encoded binlog segment, so the DSv2
   * micro-batch machinery (offsets, admission control, checkpoint resume)
   * applies unchanged to real wire bytes — the reference's
   * binlog-stream-into-coordinator wiring (mysql_event.rs:41-121)
   * re-expressed as source → narrow decode.
   */
  def decodeBase64Segments(lines: DataFrame,
                           names: IndexedSeq[String]): DataFrame =
    decodeBase64Segments(lines, (_: String, _: String) => names)

  /** As above, with [[MysqlBinlog.decodeSegment]]'s schema provider
   * (db, table) → column names. */
  def decodeBase64Segments(lines: DataFrame,
                           columns: (String, String) => IndexedSeq[String]): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.select(unbase64(col("value")).as("seg"))
      .as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY)
      .flatMap(seg => MysqlBinlog.decodeSegment(seg, columns)).toDF()
  }

  /** Write one backlog segment file (a single base64 line) of binlog bytes. */
  def writeBacklogSegment(dir: String, name: String, segment: Array[Byte]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
      java.util.Base64.getEncoder.encodeToString(segment).getBytes(StandardCharsets.UTF_8))
  }

  /** Rows per rotated segment (the fixture's max_binlog_size). */
  val SegmentRows = 4096

  /** The synthesis half alone: orders rows → rotated binlog segments.
   * Narrow map, no shuffle beyond the spread, no driver collect.
   *
   * `orderedByKey = true` spreads with `repartitionByRange(o_orderkey)` +
   * a within-partition sort instead of round-robin: the narrow encode →
   * decode chain then PRESERVES key ranges, so a consumer that needs
   * globally key-ordered output only needs `sortWithinPartitions` — no
   * post-decode range exchange. That matters because a global `orderBy`
   * AFTER the decode samples its child for range bounds, i.e. executes
   * the whole wire encode+decode TWICE (measured 12.8 vs 6.4 task-CPU-s
   * at sf0.1); range-partitioning the RAW ROWS puts the sampling pass on
   * the cheap side of the pipeline — the shape a 100 TB sort wants. */
  def ordersSegments(orders: DataFrame,
                     orderedByKey: Boolean = false): Dataset[Array[Byte]] = {
    val spark = orders.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val projected = orders.select(
      col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
      col("o_orderstatus"), col("o_totalprice").cast("double"),
      unix_millis(col("o_orderdate").cast("timestamp")), col("o_orderpriority"))
    val spread =
      if (orderedByKey)
        projected.repartitionByRange(par, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
      else projected.repartition(par)
    val prepped = spread.as[(Long, Long, String, Double, Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, Long, String, Double, Long, String)])
    prepped.mapPartitions(it =>
      it.grouped(SegmentRows).map(g => ordersSegment(g.iterator)))(
      org.apache.spark.sql.Encoders.BINARY)
  }

  /** orders → rotated binlog segments → decoded envelope rows.
   * Distributed end to end: narrow map, no shuffle, no driver collect.
   * With `orderedByKey` the decoded records come out ordered by `pos`
   * within range-partitioned output (see [[ordersSegments]]). */
  def decodedOrders(orders: DataFrame, orderedByKey: Boolean = false): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val names = ordersCols.map(_.name).toIndexedSeq
    ordersSegments(orders, orderedByKey).flatMap { seg =>
      MysqlBinlog.decodeSegment(seg,
        (_, _) => names) // schema provider (load_schema equivalent)
    }.toDF()
  }
}
