package graft.sources

import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat, lit, struct}

import java.nio.charset.StandardCharsets

/**
 * MySQL binlog row-event decode as PURE functions over bytes.
 *
 * Re-expresses the reference's binlog ingestion semantics
 * (reference crates/sources/src/mysql/mysql_event.rs:74-428 dispatch +
 * crates/sources/src/mysql/mysql_object.rs:8-72 `build_object`) against the
 * publicly documented MySQL replication wire format (binlog event header,
 * TABLE_MAP / WRITE|UPDATE|DELETE_ROWS v2, GTID, QUERY, XID, ROTATE):
 *
 *  - included-columns bitmap → JSON object keyed by column NAME, skipping
 *    excluded columns (mysql_object.rs:18-24);
 *  - DECIMAL / TIME / DATE / DATETIME decode to STRINGS (never through
 *    binary floats — mysql_object.rs:33-37);
 *  - non-UTF-8 strings and BLOBs wrap as `{"_base64": …}`
 *    (mysql_object.rs:42-46);
 *  - JSON columns carry MySQL's binary JSONB, decoded structurally, with
 *    the textual-JSON fallback and `{"_base64_json": …}` last resort
 *    (mysql_object.rs:54-72);
 *  - GTID events accumulate an executed-set string "uuid:1-N[,uuid2:…]"
 *    (mysql_event.rs:447-507 `merge_gtid`);
 *  - QUERY events: BEGIN/COMMIT skipped, DDL detected with table-name
 *    extraction for targeted schema reload (mysql_event.rs:523-721);
 *  - XID marks a transaction boundary (`tx_end`).
 *
 * Everything here is driver/executor-agnostic pure Scala so it runs inside
 * `mapPartitions` over recorded segment bytes — the 100 TB shape is "binlog
 * segments as a binary column, decoded in a narrow distributed map".
 */
object MysqlBinlog {

  // ——— binlog event type codes (public replication protocol) ———
  val QUERY_EVENT = 2
  val ROTATE_EVENT = 4
  val FORMAT_DESCRIPTION_EVENT = 15
  val XID_EVENT = 16
  val TABLE_MAP_EVENT = 19
  val WRITE_ROWS_V2 = 30
  val UPDATE_ROWS_V2 = 31
  val DELETE_ROWS_V2 = 32
  val GTID_EVENT = 33

  // ——— column type codes ———
  object T {
    val TINY = 1; val SHORT = 2; val LONG = 3; val FLOAT = 4; val DOUBLE = 5
    val LONGLONG = 8; val INT24 = 9; val DATE = 10; val YEAR = 13
    val VARCHAR = 15; val BIT = 16
    val TIMESTAMP2 = 17; val DATETIME2 = 18; val TIME2 = 19
    val JSON = 245; val NEWDECIMAL = 246; val BLOB = 252
    val VAR_STRING = 253; val STRING = 254
  }

  case class Header(tsSec: Long, eventType: Int, serverId: Long,
                    eventLength: Int, nextPos: Long, flags: Int)

  case class TableMapInfo(tableId: Long, db: String, table: String,
                          types: Array[Int], meta: Array[Int])

  /** One decoded record. `op` is c/u/d for row events, null for DDL and
   * tx-end markers; payload images are JSON strings (reference-shaped). */
  case class Record(op: String, db: String, table: String,
                    before: String, after: String, tsMs: Long, pos: Long,
                    gtid: String, ddl: String, ddlTable: String, txEnd: Boolean)

  // ————————————————————————— byte reader —————————————————————————

  final class Reader(val buf: Array[Byte], var off: Int) {
    def u1(): Int = { val v = buf(off) & 0xff; off += 1; v }
    def i1(): Int = { val v = buf(off).toInt; off += 1; v }
    def u2(): Int = u1() | (u1() << 8)
    def u3(): Int = u1() | (u1() << 8) | (u1() << 16)
    def i3(): Int = { val v = u3(); if ((v & 0x800000) != 0) v | 0xff000000 else v }
    def u4(): Long = (u2().toLong) | (u2().toLong << 16)
    def i4(): Int = u4().toInt
    def u6(): Long = u4() | (u2().toLong << 32)
    def i8(): Long = u4() | (u4() << 32)
    /** big-endian unsigned of n bytes */
    def beN(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v = (v << 8) | (buf(off + i) & 0xffL); i += 1 }; off += n; v }
    def bytes(n: Int): Array[Byte] = { val a = java.util.Arrays.copyOfRange(buf, off, off + n); off += n; a }
    def lenenc(): Long = {
      val f = u1()
      if (f < 0xfb) f
      else if (f == 0xfc) u2().toLong
      else if (f == 0xfd) u3().toLong
      else i8()
    }
    def zeroTermString(): String = {
      val start = off
      while (buf(off) != 0) off += 1
      val s = new String(buf, start, off - start, StandardCharsets.UTF_8)
      off += 1
      s
    }
    def remaining(limit: Int): Boolean = off < limit
  }

  // ————————————————————————— JSON rendering —————————————————————————

  sealed trait J
  case class JObj(fields: Seq[(String, J)]) extends J
  case class JArr(items: Seq[J]) extends J
  case class JStr(s: String) extends J
  case class JLong(v: Long) extends J
  case class JDouble(v: Double) extends J
  case class JBool(v: Boolean) extends J
  case object JNull extends J
  /** pre-rendered fragment (numbers/strings already in wire form) */
  case class JRaw(s: String) extends J

  /** Append `s` JSON-escaped. Fast path: one scan finds no special chars →
   * a single bulk append (the overwhelmingly common case for CDC images —
   * the per-char StringBuilder walk showed up as a top term in the ×10
   * decode profile). */
  def escapeInto(s: String, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < 0x20) {
        // slow path from here on
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c =>
            sb.append("\\u00")
            sb.append(Character.forDigit((c >> 4) & 0xf, 16))
            sb.append(Character.forDigit(c & 0xf, 16))
        }
        i += 1
      } else {
        // bulk-append the clean run [i, j)
        var j = i + 1
        while (j < n && { val d = s.charAt(j); d != '"' && d != '\\' && d >= 0x20 }) j += 1
        sb.append(s, i, j)
        i = j
      }
    }
  }

  /** Render into a caller-owned builder — zero intermediate strings (the
   * recursive-concat `render` allocated ~3 strings per field and dominated
   * the decode families' ×10 task-CPU alongside the Formatter-based
   * temporal strings). */
  def renderInto(j: J, sb: java.lang.StringBuilder): Unit = j match {
    case JObj(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, v) =>
        if (!first) sb.append(',')
        first = false
        sb.append('"'); escapeInto(k, sb); sb.append('"'); sb.append(':')
        renderInto(v, sb)
      }
      sb.append('}')
    case JArr(xs) =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        renderInto(x, sb)
      }
      sb.append(']')
    case JStr(s) => sb.append('"'); escapeInto(s, sb); sb.append('"')
    case JLong(v) => sb.append(v)
    // serde prints integral doubles as "5.0"; Double.toString agrees
    case JDouble(v) => sb.append(v)
    case JBool(v) => sb.append(v)
    case JNull => sb.append("null")
    case JRaw(s) => sb.append(s)
  }

  def render(j: J): String = {
    val sb = new java.lang.StringBuilder(64)
    renderInto(j, sb)
    sb.toString
  }

  // ————————————————————————— NEWDECIMAL —————————————————————————

  private val dig2bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  def decimalBinSize(precision: Int, scale: Int): Int = {
    val intg = precision - scale
    intg / 9 * 4 + dig2bytes(intg % 9) + scale / 9 * 4 + dig2bytes(scale % 9)
  }

  /** Append `v` zero-padded to `width` decimal digits. */
  private def padN(sb: java.lang.StringBuilder, v: Long, width: Int): Unit = {
    var digits = 1
    var t = v
    while (t >= 10) { t /= 10; digits += 1 }
    var p = width - digits
    while (p > 0) { sb.append('0'); p -= 1 }
    sb.append(v)
  }

  /** Decode MySQL packed decimal → plain string ("-12345.67"), full scale
   * digits kept (reference emits Decimal as string, mysql_object.rs:33). */
  def decodeDecimal(raw: Array[Byte], precision: Int, scale: Int): String = {
    val sb = new java.lang.StringBuilder(precision + 2)
    decodeDecimalInto(sb, raw, 0, precision, scale)
    sb.toString
  }

  /** Copy-free core of [[decodeDecimal]]: reads the packed bytes straight
   * out of `buf` (sign-bit flip + negative-complement applied on the fly
   * instead of cloning and rewriting the array) and appends the rendered
   * digits to the caller's builder. */
  def decodeDecimalInto(sb: java.lang.StringBuilder, buf: Array[Byte], off0: Int,
                        precision: Int, scale: Int): Unit = {
    val positive = (buf(off0) & 0x80) != 0
    val inv = if (positive) 0 else 0xff
    var off = off0
    def beN(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        var x = buf(off + i) & 0xff
        if (off + i == off0) x ^= 0x80
        v = (v << 8) | ((x ^ inv) & 0xffL)
        i += 1
      }
      off += n
      v
    }
    val intg = precision - scale
    if (!positive) sb.append('-')
    val intStart = sb.length
    val lead = intg % 9
    if (lead > 0) padN(sb, beN(dig2bytes(lead)), lead)
    for (_ <- 0 until intg / 9) padN(sb, beN(4), 9)
    // strip leading zeros of the integer part in place ("000" → "0")
    var z = intStart
    val intEnd = sb.length
    while (z < intEnd - 1 && sb.charAt(z) == '0') z += 1
    if (z > intStart) sb.delete(intStart, z)
    if (sb.length == intStart) sb.append('0') // intg == 0 (all-fraction decimals)
    if (scale > 0) {
      sb.append('.')
      for (_ <- 0 until scale / 9) padN(sb, beN(4), 9)
      val tail = scale % 9
      if (tail > 0) padN(sb, beN(dig2bytes(tail)), tail)
    }
  }

  // ————————————————————————— temporal decode —————————————————————————

  // manual digit appends — f"" builds a java.util.Formatter per call
  // (locale lookup + format-string parse), a top ×10 decode-CPU term for
  // per-row temporal strings
  private def pad2(sb: java.lang.StringBuilder, v: Long): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }
  private def pad4(sb: java.lang.StringBuilder, v: Long): Unit = {
    if (v < 1000) sb.append('0')
    if (v < 100) sb.append('0')
    if (v < 10) sb.append('0')
    sb.append(v)
  }

  /** DATE: 3-byte LE day|month<<5|year<<9 → "YYYY-MM-DD". */
  def decodeDateInto(sb: java.lang.StringBuilder, v: Int): Unit = {
    val d = v & 0x1f; val m = (v >> 5) & 0x0f; val y = v >> 9
    pad4(sb, y); sb.append('-'); pad2(sb, m); sb.append('-'); pad2(sb, d)
  }

  /** DATETIME2: 5-byte BE packed (+0x8000000000 offset) → "YYYY-MM-DD HH:MM:SS". */
  def decodeDatetime2Into(sb: java.lang.StringBuilder, packed: Long): Unit = {
    val v = packed - 0x8000000000L
    val ymd = (v >> 17) & 0x3fffff // 17-bit year*13+month | 5-bit day
    val ym = ymd >> 5; val day = ymd & 0x1f
    val year = ym / 13; val month = ym % 13
    val hms = v & 0x1ffff
    val h = (hms >> 12) & 0x1f; val mi = (hms >> 6) & 0x3f; val se = hms & 0x3f
    pad4(sb, year); sb.append('-'); pad2(sb, month); sb.append('-'); pad2(sb, day)
    sb.append(' ')
    pad2(sb, h); sb.append(':'); pad2(sb, mi); sb.append(':'); pad2(sb, se)
  }

  /** TIME2: 3-byte BE packed (+0x800000) → "HH:MM:SS" (negative supported). */
  def decodeTime2Into(sb: java.lang.StringBuilder, packed: Long): Unit = {
    val v = packed - 0x800000L
    val a = math.abs(v)
    val h = (a >> 12) & 0x3ff; val mi = (a >> 6) & 0x3f; val se = a & 0x3f
    if (v < 0) sb.append('-')
    pad2(sb, h); sb.append(':'); pad2(sb, mi); sb.append(':'); pad2(sb, se)
  }

  // ————————————————————————— JSONB —————————————————————————

  private object Jb {
    val SMALL_OBJECT = 0x00; val SMALL_ARRAY = 0x02
    val LITERAL = 0x04; val INT16 = 0x05; val UINT16 = 0x06
    val INT32 = 0x07; val INT64 = 0x09; val DOUBLE = 0x0b; val STRING = 0x0c
  }

  /** Decode MySQL binary JSON (JSONB), small-document subset. */
  def jsonbDecode(bytes: Array[Byte]): J = {
    require(bytes.length >= 1, "empty jsonb")
    decodeJbValue(bytes(0) & 0xff, bytes, 1)
  }

  private def readVarlen(b: Array[Byte], off0: Int): (Int, Int) = {
    var len = 0; var shift = 0; var off = off0
    var cont = true
    while (cont) {
      val x = b(off) & 0xff; off += 1
      len |= (x & 0x7f) << shift; shift += 7
      cont = (x & 0x80) != 0
    }
    (len, off)
  }

  private def leU2(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def leI4(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def leI8(b: Array[Byte], o: Int): Long =
    (leI4(b, o).toLong & 0xffffffffL) | (leI4(b, o + 4).toLong << 32)

  /** `base` = offset of the value payload start (container offsets are
   * relative to their own payload start, per the public JSONB format). */
  private def decodeJbValue(typ: Int, b: Array[Byte], base: Int): J = typ match {
    case Jb.LITERAL => (b(base) & 0xff) match {
      case 0 => JNull
      case 1 => JBool(true)
      case _ => JBool(false)
    }
    case Jb.INT16 => JLong(leU2(b, base).toShort.toLong)
    case Jb.UINT16 => JLong(leU2(b, base).toLong)
    case Jb.INT32 => JLong(leI4(b, base).toLong)
    case Jb.INT64 => JLong(leI8(b, base))
    case Jb.DOUBLE => JDouble(java.lang.Double.longBitsToDouble(leI8(b, base)))
    case Jb.STRING =>
      val (len, dataOff) = readVarlen(b, base)
      JStr(new String(b, dataOff, len, StandardCharsets.UTF_8))
    case Jb.SMALL_OBJECT =>
      val count = leU2(b, base)
      val keyEntries = base + 4
      val valEntries = keyEntries + count * 4
      val fields = (0 until count).map { i =>
        val ko = leU2(b, keyEntries + i * 4); val kl = leU2(b, keyEntries + i * 4 + 2)
        val key = new String(b, base + ko, kl, StandardCharsets.UTF_8)
        val vt = b(valEntries + i * 3) & 0xff
        val vOff = valEntries + i * 3 + 1
        val v =
          if (vt == Jb.LITERAL || vt == Jb.INT16 || vt == Jb.UINT16) decodeJbValue(vt, b, vOff)
          else decodeJbValue(vt, b, base + leU2(b, vOff))
        key -> v
      }
      JObj(fields)
    case Jb.SMALL_ARRAY =>
      val count = leU2(b, base)
      val valEntries = base + 4
      val items = (0 until count).map { i =>
        val vt = b(valEntries + i * 3) & 0xff
        val vOff = valEntries + i * 3 + 1
        if (vt == Jb.LITERAL || vt == Jb.INT16 || vt == Jb.UINT16) decodeJbValue(vt, b, vOff)
        else decodeJbValue(vt, b, base + leU2(b, vOff))
      }
      JArr(items)
    case other => throw new IllegalArgumentException(s"unsupported jsonb type 0x${other.toHexString}")
  }

  private lazy val jsonValidator = new com.fasterxml.jackson.databind.ObjectMapper()

  /** JSON column handler with the reference's fallback chain
   * (mysql_object.rs:62-72): JSONB → textual JSON → base64 wrapper.
   * The textual fragment is VALIDATED before raw passthrough — an
   * unparsed `{…` fragment spliced into the rendered row would corrupt
   * the whole row JSON, not just this field; malformed text falls back
   * to a JSON string, matching serde's parse-or-string behavior. */
  def handleJson(bytes: Array[Byte]): J =
    try jsonbDecode(bytes)
    catch {
      case _: Exception =>
        utf8OrNull(bytes) match {
          case s: String =>
            val t = s.trim
            val parses = t.nonEmpty && (t.head == '{' || t.head == '[') &&
              (try { jsonValidator.readTree(t); true }
               catch { case _: Exception => false })
            if (parses) JRaw(t) else JStr(s)
          case _ => JObj(Seq("_base64_json" -> JStr(b64(bytes))))
        }
    }

  def b64(bytes: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(bytes)

  /** Strict UTF-8 validity scan (RFC 3629: rejects overlongs, surrogates,
   * leads above U+10FFFF, truncated sequences) — replaces the per-value
   * CharsetDecoder + ByteBuffer allocation that led the r16 decode profile
   * (one decoder per VARCHAR/CHAR value; same verdict set as the strict
   * decoder's default REPORT actions). */
  def isValidUtf8(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // bare continuation / overlong 2-byte lead
      else if (c < 0xe0) {
        if (i + 1 >= end || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) {
        if (i + 2 >= end) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) return false
        if (c == 0xe0 && c1 < 0xa0) return false // overlong
        if (c == 0xed && c1 >= 0xa0) return false // UTF-16 surrogate range
        i += 3
      } else if (c < 0xf5) {
        if (i + 3 >= end) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 || (b(i + 3) & 0xc0) != 0x80) return false
        if (c == 0xf0 && c1 < 0x90) return false // overlong
        if (c == 0xf4 && c1 >= 0x90) return false // above U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** Strict UTF-8 decode, null on malformed input. */
  def utf8OrNull(bytes: Array[Byte]): String =
    if (isValidUtf8(bytes, 0, bytes.length)) new String(bytes, StandardCharsets.UTF_8)
    else null

  // ————————————————————————— row image decode —————————————————————————

  private def bit(bitmap: Array[Byte], i: Int): Boolean =
    ((bitmap(i / 8) >> (i % 8)) & 1) != 0

  /** Included-column indices for one rows event — computed ONCE per event,
   * not per row image (the per-image range-filter allocated a fresh
   * IndexedSeq for every one of the ×10 probe's ~1.5M images). */
  private[sources] def includedIdx(included: Array[Byte], nCols: Int): Array[Int] = {
    val out = new Array[Int](nCols)
    var k = 0
    var i = 0
    while (i < nCols) {
      if (bit(included, i)) { out(k) = i; k += 1 }
      i += 1
    }
    if (k == nCols) out else java.util.Arrays.copyOf(out, k)
  }

  /**
   * Decode one row image: null bitmap over INCLUDED columns (`incIdx`, the
   * include-index the caller hoists per rows EVENT), then values. Mirrors
   * `build_object` (mysql_object.rs:8-52): JSON keyed by name, excluded
   * columns absent, nulls explicit. Values render straight into the
   * caller's per-segment builder (no J tuple vector, no per-field string
   * concat).
   */
  private def decodeRowImageInto(r: Reader, tm: TableMapInfo, incIdx: Array[Int],
                                 names: IndexedSeq[String],
                                 sb: java.lang.StringBuilder): String = {
    val nbOff = r.off // null bitmap read in place — no per-image copy
    r.off += (incIdx.length + 7) / 8
    sb.setLength(0)
    sb.append('{')
    var vi = 0
    while (vi < incIdx.length) {
      val ci = incIdx(vi)
      if (vi > 0) sb.append(',')
      sb.append('"')
      escapeInto(if (ci < names.size) names(ci) else s"col$ci", sb)
      sb.append('"'); sb.append(':')
      if (((r.buf(nbOff + (vi >> 3)) >> (vi & 7)) & 1) != 0) sb.append("null")
      else decodeValueInto(r, tm.types(ci), tm.meta(ci), sb)
      vi += 1
    }
    sb.append('}')
    sb.toString
  }

  /** Decode one column value of a row image and render its JSON straight
   * into `sb`: no per-field J wrapper, no intermediate decimal/temporal
   * strings, strings UTF-8-validated and decoded in place from the reader's
   * buffer (zero byte copies on the text path). Text that is not valid
   * UTF-8 renders as `{"_base64": …}` (mysql_object.rs:42-46). */
  def decodeValueInto(r: Reader, typ: Int, meta: Int, sb: java.lang.StringBuilder): Unit = typ match {
    case T.TINY => sb.append(r.i1())
    case T.SHORT => sb.append(r.u2().toShort.toInt)
    case T.LONG => sb.append(r.i4())
    case T.INT24 => sb.append(r.i3())
    case T.LONGLONG => sb.append(r.i8())
    case T.FLOAT => sb.append(java.lang.Float.intBitsToFloat(r.i4()).toDouble)
    case T.DOUBLE => sb.append(java.lang.Double.longBitsToDouble(r.i8()))
    case T.YEAR => sb.append(1900L + r.u1())
    case T.DATE =>
      sb.append('"'); decodeDateInto(sb, r.u3()); sb.append('"')
    case T.DATETIME2 =>
      sb.append('"'); decodeDatetime2Into(sb, r.beN(5)); sb.append('"')
      r.off += (meta + 1) / 2 // fractional-seconds bytes (fsp in meta)
    case T.TIMESTAMP2 =>
      val secs = r.beN(4)
      r.off += (meta + 1) / 2
      sb.append(secs * 1000000L) // micros since epoch (reference emits the number)
    case T.TIME2 =>
      sb.append('"'); decodeTime2Into(sb, r.beN(3)); sb.append('"')
      r.off += (meta + 1) / 2
    case T.BIT =>
      val bits = ((meta >> 8) & 0xff) * 8 + (meta & 0xff)
      sb.append(r.beN((bits + 7) / 8))
    case T.NEWDECIMAL =>
      val prec = (meta >> 8) & 0xff; val scale = meta & 0xff
      sb.append('"')
      decodeDecimalInto(sb, r.buf, r.off, prec, scale) // digits/-/. — no escapes
      r.off += decimalBinSize(prec, scale)
      sb.append('"')
    case T.VARCHAR | T.VAR_STRING =>
      val len = if (meta < 256) r.u1() else r.u2()
      stringishInto(r, len, sb)
    case T.STRING =>
      // meta = (realType << 8) | lenByte; CHAR columns wider than 255
      // BYTES (e.g. CHAR(100) utf8mb4) steal bits 4-5 of the type byte to
      // carry length bits 8-9: len = lenByte | (((m0 & 0x30) ^ 0x30) << 4)
      // (public MySQL row-format metadata packing)
      val m0 = (meta >> 8) & 0xff
      val m1 = meta & 0xff
      val maxLen = if (m0 != 0 && (m0 & 0x30) != 0x30) m1 | (((m0 & 0x30) ^ 0x30) << 4) else m1
      val len = if (maxLen < 256) r.u1() else r.u2()
      stringishInto(r, len, sb)
    case T.BLOB =>
      val lenBytes = meta & 0xff
      val len = r.beNLittle(lenBytes)
      base64Into(r.bytes(len.toInt), sb)
    case T.JSON =>
      val lenBytes = meta & 0xff
      val len = r.beNLittle(lenBytes)
      renderInto(handleJson(r.bytes(len.toInt)), sb)
    case other => throw new IllegalArgumentException(s"unsupported column type $other")
  }

  /** Validate UTF-8 on the reader's buffer and decode the String straight
   * from it; base64 wrapper only on invalid text. */
  private def stringishInto(r: Reader, len: Int, sb: java.lang.StringBuilder): Unit = {
    if (isValidUtf8(r.buf, r.off, len)) {
      sb.append('"')
      escapeInto(new String(r.buf, r.off, len, StandardCharsets.UTF_8), sb)
      sb.append('"')
      r.off += len
    } else base64Into(r.bytes(len), sb)
  }

  /** `{"_base64":"…"}` — base64 text never needs JSON escaping. */
  private def base64Into(bytes: Array[Byte], sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"_base64\":\"")
    sb.append(b64(bytes))
    sb.append("\"}")
  }

  implicit final class ReaderOps(private val r: Reader) extends AnyVal {
    /** little-endian unsigned of n bytes (BLOB/JSON length prefixes) */
    def beNLittle(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v |= (r.buf(r.off + i) & 0xffL) << (8 * i); i += 1 }; r.off += n; v }
  }

  // ————————————————————————— GTID set merge —————————————————————————

  /** Port of merge_gtid (mysql_event.rs:468-507): fold "uuid:N" into an
   * executed set like "uuid:1-N", multi-source entries comma-separated. */
  def mergeGtid(existing: String, newGtid: String): String = {
    val nColon = newGtid.lastIndexOf(':')
    if (nColon < 0) return s"$existing,$newGtid"
    val nUuid = newGtid.substring(0, nColon)
    val nSeq = newGtid.substring(nColon + 1).toLongOption.filter(_ > 0) match {
      case Some(n) => n
      case None => return s"$existing,$newGtid"
    }
    val entries = existing.split(',').toBuffer
    var found = false
    var i = 0
    while (i < entries.length && !found) {
      val entry = entries(i)
      val colon = entry.indexOf(':')
      if (colon >= 0 && entry.substring(0, colon) == nUuid) {
        val range = entry.substring(colon + 1)
        val dash = range.indexOf('-')
        val start = (if (dash >= 0) range.substring(0, dash) else range).toLongOption.getOrElse(1L)
        entries(i) = s"$nUuid:$start-$nSeq"
        found = true
      }
      i += 1
    }
    if (!found) entries += s"$nUuid:$nSeq"
    entries.mkString(",")
  }

  // ————————————————————————— DDL table extraction —————————————————————————

  /** Port of extract_table_from_ddl (mysql_event.rs:525-569). */
  def extractTableFromDdl(sql: String): Option[String] = {
    val upper = sql.toUpperCase
    val trimmed = sql.trim
    val tablePos: Option[Int] =
      if (upper.startsWith("ALTER TABLE") || upper.startsWith("CREATE TABLE") ||
        upper.startsWith("DROP TABLE") || upper.startsWith("TRUNCATE TABLE") ||
        upper.startsWith("RENAME TABLE")) {
        val p = upper.indexOf("TABLE"); if (p >= 0) Some(p + 6) else None
      } else if (upper.startsWith("TRUNCATE ")) Some(9)
      else None
    tablePos.flatMap { pos =>
      if (pos > trimmed.length) None
      else {
        var rest = trimmed.substring(math.min(pos, trimmed.length)).dropWhile(_.isWhitespace)
        val restU = rest.toUpperCase
        if (restU.startsWith("IF EXISTS ")) rest = rest.substring(10).dropWhile(_.isWhitespace)
        else if (restU.startsWith("IF NOT EXISTS ")) rest = rest.substring(14).dropWhile(_.isWhitespace)
        extractIdentifier(rest).map { name =>
          val dot = name.indexOf('.')
          val t = if (dot >= 0) name.substring(dot + 1) else name
          t.stripPrefix("`").stripSuffix("`")
        }
      }
    }
  }

  /** Port of extract_identifier (mysql_event.rs:572-624): backticks,
   * schema.table, plain names. */
  def extractIdentifier(s0: String): Option[String] = {
    val s = s0.dropWhile(_.isWhitespace)
    if (s.isEmpty) None
    else if (s.head == '`') {
      val sb = new StringBuilder
      var i = 1
      while (i < s.length && s.charAt(i) != '`') { sb.append(s.charAt(i)); i += 1 }
      i += 1 // closing backtick
      if (i < s.length && s.charAt(i) == '.') {
        i += 1
        sb.append('.')
        if (i < s.length && s.charAt(i) == '`') i += 1
        while (i < s.length && s.charAt(i) != '`') { sb.append(s.charAt(i)); i += 1 }
      }
      Some(sb.toString)
    } else {
      val end = s.indexWhere(c => c.isWhitespace || c == '(' || c == ';' || c == ',')
      val e = if (end < 0) s.length else end
      if (e == 0) None else Some(s.substring(0, e))
    }
  }

  // ————————————————————————— segment decode —————————————————————————

  /**
   * Decode a segment of concatenated binlog events. Stateful WITHIN the
   * segment (table map, GTID set, file name from ROTATE), stateless across
   * segments — the unit of distribution.
   *
   * `columns`: schema provider (db, table) → ordered column names, the
   * moral equivalent of the reference's `schema.load_schema`
   * (mysql_event.rs:190-193).
   */
  def decodeSegment(seg: Array[Byte],
                    columns: (String, String) => IndexedSeq[String]): Seq[Record] = {
    val out = Vector.newBuilder[Record]
    val maps = scala.collection.mutable.Map[Long, TableMapInfo]()
    val sb = new java.lang.StringBuilder(256) // reused across every row image
    var lastGtid: String = null
    // single-source GTID fast path: while the executed set is one entry of
    // one uuid, "uuid:start-gno" renders directly from tracked state — the
    // general mergeGtid fold (split + Buffer + re-render) plus the
    // Formatter-backed per-byte hex of leHex ran once PER ROW and led the
    // r16 JFR decode profile (java.util.Formatter.format was the top frame)
    var gtidUuid: String = null
    var gtidStart = 0L
    // binlog_checksum trailer width (0 or 4). CRC32 is the MySQL default
    // since 5.6: every post-FDE event carries a 4-byte CRC INSIDE
    // event_length, so value loops must stop 4 bytes early or they parse
    // the CRC as another row. The algorithm is declared by the
    // FORMAT_DESCRIPTION event (alg byte at event end - 5, public
    // replication protocol).
    var checksumLen = 0
    val r = new Reader(seg, 0)
    while (r.off < seg.length) {
      val evStart = r.off
      val h = Header(r.u4(), r.u1(), r.u4(), r.i4(), r.u4(), r.u2())
      val evEnd = evStart + h.eventLength
      val payloadEnd =
        if (h.eventType == FORMAT_DESCRIPTION_EVENT) evEnd else evEnd - checksumLen
      if (checksumLen == 4 && h.eventType != FORMAT_DESCRIPTION_EVENT) {
        // verify, not just skip: CRC32 over header + payload
        val crc = new java.util.zip.CRC32()
        crc.update(seg, evStart, h.eventLength - 4)
        var stored = 0L
        var i = 0
        while (i < 4) { stored |= (seg(evEnd - 4 + i) & 0xffL) << (8 * i); i += 1 }
        if (crc.getValue != stored)
          throw new IllegalArgumentException(
            f"binlog CRC32 mismatch at offset $evStart (event type ${h.eventType})")
      }
      val tsMs = h.tsSec * 1000L
      h.eventType match {
        case FORMAT_DESCRIPTION_EVENT =>
          // v4 layout: u2 binlog version, 50-byte server version, u4 create
          // ts, u1 header length, per-type post-header lengths; 5.6.1+
          // appends checksum_alg (1 byte) + the FDE's own CRC (4 bytes)
          val binlogVersion = r.u2()
          if (binlogVersion >= 4 && evEnd - 5 > r.off) {
            val alg = seg(evEnd - 5) & 0xff
            checksumLen = if (alg == 1) 4 else 0
          }
        case TABLE_MAP_EVENT =>
          val tableId = r.u6(); r.u2() // flags
          r.u1(); val db = r.zeroTermString()
          r.u1(); val table = r.zeroTermString()
          val nCols = r.lenenc().toInt
          val types = Array.fill(nCols)(r.u1())
          r.lenenc() // metadata block length
          val meta = types.map {
            case T.VARCHAR | T.VAR_STRING => r.u2()
            case T.NEWDECIMAL => (r.u1() << 8) | r.u1() // precision, scale
            case T.BLOB | T.JSON => r.u1()
            case T.FLOAT | T.DOUBLE => r.u1()
            case T.STRING => (r.u1() << 8) | r.u1() // real type, max len
            case T.TIMESTAMP2 | T.DATETIME2 | T.TIME2 => r.u1()
            case T.BIT => (r.u1() << 8) | r.u1()
            case _ => 0
          }
          maps(tableId) = TableMapInfo(tableId, db, table, types, meta)

        case GTID_EVENT =>
          r.u1() // flags
          val uuid = uuidString(r.buf, r.off); r.off += 16
          val gno = r.i8()
          if (lastGtid == null) {
            gtidUuid = uuid; gtidStart = gno
            lastGtid = s"$uuid:$gno"
          } else if (gtidUuid != null && gno > 0 && uuid == gtidUuid) {
            // byte-identical to mergeGtid(existing, s"$uuid:$gno") for a
            // single-entry set: start is preserved, upper bound replaced
            lastGtid = s"$uuid:$gtidStart-$gno"
          } else {
            gtidUuid = null // multi-source / non-positive gno: general fold
            lastGtid = mergeGtid(lastGtid, s"$uuid:$gno")
          }

        case QUERY_EVENT =>
          r.u4(); r.u4() // thread id, exec time
          val schemaLen = r.u1()
          r.u2() // error code
          val statusLen = r.u2()
          r.bytes(statusLen)
          val db = new String(r.bytes(schemaLen), StandardCharsets.UTF_8)
          r.u1() // null terminator
          val sql = new String(r.bytes(payloadEnd - r.off), StandardCharsets.UTF_8)
          val upper = sql.toUpperCase
          if (upper != "BEGIN" && upper != "COMMIT" && upper != "ROLLBACK" &&
            (upper.startsWith("ALTER") || upper.startsWith("CREATE") ||
              upper.startsWith("DROP") || upper.startsWith("TRUNCATE") ||
              upper.startsWith("RENAME"))) {
            out += Record(null, db, "_ddl", null, null, tsMs, h.nextPos,
              lastGtid, sql, extractTableFromDdl(sql).orNull, txEnd = false)
          }

        case XID_EVENT =>
          r.i8()
          out += Record(null, null, null, null, null, tsMs, h.nextPos,
            lastGtid, null, null, txEnd = true)

        case ROTATE_EVENT =>
          r.i8(); // position
          r.bytes(payloadEnd - r.off) // new file name — segment-local, unused here

        case WRITE_ROWS_V2 | UPDATE_ROWS_V2 | DELETE_ROWS_V2 =>
          val tableId = r.u6(); r.u2() // flags
          val extraLen = r.u2(); if (extraLen > 2) r.bytes(extraLen - 2)
          val nCols = r.lenenc().toInt
          val bitmapLen = (nCols + 7) / 8
          val inc1 = r.bytes(bitmapLen)
          val inc2 = if (h.eventType == UPDATE_ROWS_V2) r.bytes(bitmapLen) else inc1
          maps.get(tableId) match {
            case Some(tm) =>
              val names = columns(tm.db, tm.table)
              val incIdx1 = includedIdx(inc1, nCols)
              val incIdx2 =
                if (h.eventType == UPDATE_ROWS_V2) includedIdx(inc2, nCols) else incIdx1
              while (r.remaining(payloadEnd)) h.eventType match {
                case WRITE_ROWS_V2 =>
                  val after = decodeRowImageInto(r, tm, incIdx1, names, sb)
                  out += Record("c", tm.db, tm.table, null, after, tsMs,
                    h.nextPos, lastGtid, null, null, txEnd = false)
                case UPDATE_ROWS_V2 =>
                  val before = decodeRowImageInto(r, tm, incIdx1, names, sb)
                  val after = decodeRowImageInto(r, tm, incIdx2, names, sb)
                  out += Record("u", tm.db, tm.table, before, after, tsMs,
                    h.nextPos, lastGtid, null, null, txEnd = false)
                case DELETE_ROWS_V2 =>
                  val before = decodeRowImageInto(r, tm, incIdx1, names, sb)
                  out += Record("d", tm.db, tm.table, before, null, tsMs,
                    h.nextPos, lastGtid, null, null, txEnd = false)
              }
            case None => // unknown table_id: reference warns and skips (mysql_event.rs:262)
          }

        case _ => // FormatDescription / heartbeat / unsupported: skip (mysql_event.rs:114-120)
      }
      r.off = evEnd
    }
    out.result()
  }

  /**
   * Decoded [[Record]] rows → change-event envelopes: the one MySQL record →
   * event mapping. `source.sequence` is the binlog position, `event_id` is
   * `db.table:pos`, `tx_end` marks the XID row, and `source.name` is
   * `sourceName`. A DDL row keeps `op = null`, carries its statement in
   * `ddl` and the table it names (when one parses) in `source.table`.
   */
  def changeEvents(records: DataFrame, sourceName: String): DataFrame = {
    val table = coalesce(col("ddlTable"), col("table"))
    ChangeEvent.conform(records.select(col("op"), col("before"), col("after"),
      struct(lit(sourceName).as("name"), col("db"), table.as("table"), lit("mysql").as("connector"),
        col("gtid"), col("pos"), col("pos").as("sequence")).as("source"),
      col("tsMs").as("ts_ms"),
      concat(col("db"), lit("."), table, lit(":"), col("pos")).as("event_id"),
      col("ddl"),
      col("txEnd").as("tx_end")))
  }

  private final val HexLower = "0123456789abcdef"

  /** 8-4-4-4-12 lowercase hex of 16 bytes in order — what the leHex/f""
   * composition produced, minus the per-byte java.util.Formatter. */
  private def uuidString(b: Array[Byte], off: Int): String = {
    val sb = new java.lang.StringBuilder(36)
    var i = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) sb.append('-')
      val v = b(off + i) & 0xff
      sb.append(HexLower.charAt(v >> 4)).append(HexLower.charAt(v & 0xf))
      i += 1
    }
    sb.toString
  }
}
