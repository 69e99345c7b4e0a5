package graft.sources

import java.nio.charset.StandardCharsets

import graft.sources.MysqlBinlog.{J, JArr, JBool, JDouble, JLong, JNull, JObj, JRaw, JStr, render}

/**
 * PostgreSQL pgoutput logical-replication decode as PURE functions over
 * bytes.
 *
 * Re-expresses the reference's pgoutput ingestion
 * (reference crates/sources/src/postgres/postgres_event.rs:165-700 message
 * dispatch + crates/sources/src/postgres/postgres_object.rs:46-265 value
 * conversion) against the public pgoutput message format:
 *
 *  - 'R' relation messages build the relation map (id → schema/table/columns
 *    with type OIDs, replica identity); a re-mapped relation whose columns
 *    changed surfaces a schema-changed signal (postgres_event.rs:283-330);
 *  - 'B'/'C' begin/commit carry xid + commit timestamp (micros since
 *    2000-01-01) scoping the transaction;
 *  - 'I'/'U'/'D' decode tuple data: 2-byte column count, then per column a
 *    marker 'n' (null), 'u' (TOAST unchanged → `{"_unchanged": true}`),
 *    't' (text value) or 'b' (binary → `{"_base64": …}`);
 *  - text values convert by type OID (postgres_object.rs:105-150): bool
 *    t/f, ints, floats, NUMERIC kept as string for precision, JSON/JSONB
 *    passthrough, BYTEA `\x…` hex → `{"_base64": …}`, array literals
 *    `{a,b}` → JSON arrays (quote/escape aware), timestamps/uuid as
 *    strings;
 *  - 'T' truncate fans out one op='t' record per referenced relation with
 *    cascade / restart-identity flags (postgres_event.rs:645-700).
 *
 * Segments carry XLogData-style framing: repeated
 * `[u64 BE wal_lsn][u32 BE len][message]`.
 */
object PgOutput {

  /** Common type OIDs (pg_catalog.pg_type, public catalog numbers). */
  object Oid {
    val BOOL = 16; val BYTEA = 17; val INT8 = 20; val INT2 = 21; val INT4 = 23
    val TEXT = 25; val OID = 26; val JSON = 114; val FLOAT4 = 700; val FLOAT8 = 701
    val VARCHAR = 1043; val DATE = 1082; val TIME = 1083
    val TIMESTAMP = 1114; val TIMESTAMPTZ = 1184; val NUMERIC = 1700
    val UUID = 2950; val JSONB = 3802
    // 199 = json[], 3807 = jsonb[] (3802 is the SCALAR jsonb OID — it was
    // listed here by mistake and unreachable, the JSON|JSONB case wins)
    val arrayOids: Set[Int] = Set(1000, 1001, 1005, 1007, 1009, 1016, 1021, 1022, 1014, 1015, 2951, 3807, 199)
  }

  case class RelationColumn(name: String, typeOid: Int, typeModifier: Int, flags: Int) {
    def isKey: Boolean = (flags & 1) != 0
  }
  case class RelationInfo(id: Long, schema: String, table: String,
                          columns: IndexedSeq[RelationColumn], replicaIdentity: Char)

  /** Decoded record: op c/u/d/t for DML+truncate; `schemaChanged` marks a
   * relation re-map with differing columns (reload signal). */
  case class PgRecord(op: String, schema: String, table: String,
                      before: String, after: String, lsn: String, txId: Long,
                      tsMs: Long, cascade: Boolean, restartIdentity: Boolean,
                      schemaChanged: Boolean)

  sealed trait PgValue
  case object PgNull extends PgValue
  case object PgUnchanged extends PgValue
  case class PgText(bytes: Array[Byte]) extends PgValue
  case class PgBinary(bytes: Array[Byte]) extends PgValue

  /** "X/Y" hex LSN rendering (pg convention, postgres_event.rs:355-366).
   * Manual hex — an f"" interpolator builds a java.util.Formatter per call,
   * and this runs once per decoded record. */
  def lsnString(lsn: Long): String = {
    val sb = new java.lang.StringBuilder(17)
    appendUpperHex(sb, lsn >>> 32)
    sb.append('/')
    appendUpperHex(sb, lsn & 0xffffffffL)
    sb.toString
  }

  private def appendUpperHex(sb: java.lang.StringBuilder, v: Long): Unit = {
    if (v == 0) { sb.append('0'); return }
    var shift = (63 - java.lang.Long.numberOfLeadingZeros(v)) / 4 * 4
    while (shift >= 0) {
      sb.append("0123456789ABCDEF".charAt(((v >>> shift) & 0xf).toInt))
      shift -= 4
    }
  }

  /** Postgres epoch (2000-01-01) micros → unix millis. */
  def pgTimestampToUnixMs(micros: Long): Long = (micros + 946684800000000L) / 1000L

  // ————————————————————————— value conversion —————————————————————————

  /** postgres_object.rs:90-103 `convert_value`. */
  def convertValue(v: PgValue, typeOid: Int): J = v match {
    case PgNull => JNull
    case PgUnchanged => JObj(Seq("_unchanged" -> JBool(true)))
    case PgText(bytes) => convertTextValue(new String(bytes, StandardCharsets.UTF_8), typeOid)
    case PgBinary(bytes) => JObj(Seq("_base64" -> JStr(MysqlBinlog.b64(bytes))))
  }

  /** postgres_object.rs:105-150 `convert_text_value`. */
  def convertTextValue(s: String, typeOid: Int): J = typeOid match {
    case Oid.BOOL => s.toLowerCase match {
      case "t" | "true" | "1" | "yes" | "on" => JBool(true)
      case "f" | "false" | "0" | "no" | "off" => JBool(false)
      case _ => JStr(s)
    }
    case Oid.INT2 | Oid.INT4 | Oid.INT8 | Oid.OID =>
      s.toLongOption.map(JLong).getOrElse(JStr(s))
    case Oid.FLOAT4 | Oid.FLOAT8 =>
      s.toDoubleOption.map(JDouble).getOrElse(JStr(s))
    case Oid.NUMERIC => JStr(s) // string preserves precision
    case Oid.JSON | Oid.JSONB =>
      val t = s.trim
      if (t.nonEmpty && (t.head == '{' || t.head == '[')) JRaw(t) else JStr(s)
    case Oid.BYTEA if s.startsWith("\\x") =>
      hexDecode(s.substring(2)) match {
        case Some(b) => JObj(Seq("_base64" -> JStr(MysqlBinlog.b64(b))))
        case None => JStr(s)
      }
    case oid if Oid.arrayOids.contains(oid) => parsePgArray(s)
    case _ => JStr(s) // UUID, timestamps, text: keep as string
  }

  private def hexDecode(hex: String): Option[Array[Byte]] =
    if (hex.length % 2 != 0 || !hex.forall(c => Character.digit(c, 16) >= 0)) None
    else Some(hex.grouped(2).map(p => Integer.parseInt(p, 16).toByte).toArray)

  /** postgres_object.rs:178-203 `parse_pg_array`: `{a,"b,c",NULL}` literals. */
  def parsePgArray(s0: String): J = {
    val s = s0.trim
    if (s == "{}") return JArr(Nil)
    if (!s.startsWith("{") || !s.endsWith("}")) return JStr(s)
    val inner = s.substring(1, s.length - 1)
    val elements = Vector.newBuilder[J]
    val current = new StringBuilder
    var inQuotes = false
    var escape = false
    var sawQuotes = false
    def flush(): Unit = {
      elements += parseArrayElement(current.toString, sawQuotes)
      current.clear(); sawQuotes = false
    }
    inner.foreach { c =>
      if (escape) { current.append(c); escape = false }
      else c match {
        case '\\' => escape = true
        case '"' => inQuotes = !inQuotes; sawQuotes = true
        case ',' if !inQuotes => flush()
        case other => current.append(other)
      }
    }
    if (current.nonEmpty || sawQuotes || inner.nonEmpty) flush()
    JArr(elements.result())
  }

  /** postgres_object.rs:239-263: NULL, t/f booleans, numbers, strings.
   * Quoted elements are always strings (pg quotes ambiguous literals). */
  private def parseArrayElement(s0: String, quoted: Boolean): J = {
    val s = s0.trim
    if (!quoted && s.equalsIgnoreCase("null")) JNull
    else if (!quoted && (s == "t" || s.equalsIgnoreCase("true"))) JBool(true)
    else if (!quoted && (s == "f" || s.equalsIgnoreCase("false"))) JBool(false)
    else s.toLongOption.map(JLong)
      .orElse(if (quoted) None else s.toDoubleOption.map(JDouble))
      .getOrElse(JStr(s))
  }

  /** Build the row JSON: every relation column, keyed by name
   * (postgres_object.rs:46-69 `build_object`). */
  def buildObject(columns: IndexedSeq[RelationColumn], values: IndexedSeq[PgValue]): String =
    buildObjectInto(columns, values, keysOnly = false, new java.lang.StringBuilder(128))

  /** Key-columns-only image (postgres_object.rs:72-88). */
  def buildKeyObject(columns: IndexedSeq[RelationColumn], values: IndexedSeq[PgValue]): String =
    buildObjectInto(columns, values, keysOnly = true, new java.lang.StringBuilder(64))

  /** Hot-path image build: per-column values render straight into a
   * caller-owned builder (decodeSegment reuses one per segment) — no
   * zipWithIndex tuple vector, no JObj wrapper, no per-field concat.
   * Byte-identical to the public wrappers above. */
  private def buildObjectInto(columns: IndexedSeq[RelationColumn],
                              values: IndexedSeq[PgValue], keysOnly: Boolean,
                              sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    sb.append('{')
    var first = true
    var i = 0
    while (i < columns.length) {
      val c = columns(i)
      if (!keysOnly || c.isKey) {
        if (!first) sb.append(',')
        first = false
        sb.append('"'); MysqlBinlog.escapeInto(c.name, sb); sb.append('"'); sb.append(':')
        MysqlBinlog.renderInto(
          convertValue(if (i < values.size) values(i) else PgNull, c.typeOid), sb)
      }
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  // ————————————————————————— tuple / message decode —————————————————————————

  final class BeReader(val buf: Array[Byte], var off: Int) {
    def u1(): Int = { val v = buf(off) & 0xff; off += 1; v }
    def u2(): Int = { val v = ((buf(off) & 0xff) << 8) | (buf(off + 1) & 0xff); off += 2; v }
    def i4(): Int = { var v = 0; var i = 0; while (i < 4) { v = (v << 8) | (buf(off + i) & 0xff); i += 1 }; off += 4; v }
    def i8(): Long = { var v = 0L; var i = 0; while (i < 8) { v = (v << 8) | (buf(off + i) & 0xffL); i += 1 }; off += 8; v }
    def cstring(): String = {
      val start = off
      while (buf(off) != 0) off += 1
      val s = new String(buf, start, off - start, StandardCharsets.UTF_8)
      off += 1
      s
    }
    def hasMore(limit: Int): Boolean = off < limit
  }

  /** Single-pass tuple decode + row-image render, straight off the reader —
   * no PgValue wrappers, no per-value byte copies, one String per text
   * value. Tuple data is a u16 column count, then marker-tagged values
   * (postgres_object.rs:265-310 `parse_tuple_data`); the output is
   * byte-identical to [[buildObject]] / [[buildKeyObject]] over the same
   * values. Consumes exactly the tuple's wire bytes (values beyond the
   * relation's columns are parsed and skipped, missing trailing columns
   * render null). */
  private def tupleObjectInto(columns: IndexedSeq[RelationColumn], r: BeReader,
                              keysOnly: Boolean, sb: java.lang.StringBuilder): String = {
    val n = r.u2()
    sb.setLength(0)
    sb.append('{')
    var first = true
    val nCols = columns.length
    val total = math.max(n, nCols)
    var i = 0
    while (i < total) {
      val include = i < nCols && (!keysOnly || columns(i).isKey)
      if (include) {
        if (!first) sb.append(',')
        first = false
        sb.append('"'); MysqlBinlog.escapeInto(columns(i).name, sb); sb.append('"'); sb.append(':')
      }
      if (i < n) {
        r.u1().toChar match {
          case 'n' => if (include) sb.append("null")
          case 'u' => if (include) sb.append("{\"_unchanged\":true}")
          case 't' =>
            val len = r.i4()
            if (include) {
              val s = new String(r.buf, r.off, len, StandardCharsets.UTF_8)
              MysqlBinlog.renderInto(convertTextValue(s, columns(i).typeOid), sb)
            }
            r.off += len
          case 'b' =>
            val len = r.i4()
            if (include) {
              sb.append("{\"_base64\":\"")
              sb.append(MysqlBinlog.b64(java.util.Arrays.copyOfRange(r.buf, r.off, r.off + len)))
              sb.append("\"}")
            }
            r.off += len
          case other => throw new IllegalArgumentException(s"bad tuple marker '$other'")
        }
      } else if (include) sb.append("null")
      i += 1
    }
    sb.append('}')
    sb.toString
  }

  private def columnsDiffer(a: IndexedSeq[RelationColumn], b: IndexedSeq[RelationColumn]): Boolean =
    a.size != b.size || a.zip(b).exists { case (x, y) => x.name != y.name || x.typeOid != y.typeOid }

  /**
   * Decode one segment of framed pgoutput messages
   * (`[u64 lsn][u32 len][msg]`*). Stateful within the segment: relation
   * map, current transaction (xid + commit time).
   */
  def decodeSegment(seg: Array[Byte]): Seq[PgRecord] = {
    val out = Vector.newBuilder[PgRecord]
    val relations = scala.collection.mutable.Map[Long, RelationInfo]()
    val sb = new java.lang.StringBuilder(256) // reused across every row image
    var txId = 0L
    var commitMs = 0L
    val top = new BeReader(seg, 0)
    while (top.hasMore(seg.length)) {
      val walLsn = top.i8()
      val len = top.i4()
      val msgEnd = top.off + len
      val r = new BeReader(top.buf, top.off)
      val msgType = r.u1().toChar
      msgType match {
        case 'R' =>
          val relId = r.i4().toLong & 0xffffffffL
          val schema = r.cstring(); val table = r.cstring()
          val identity = r.u1().toChar
          val nCols = r.u2()
          val cols = (0 until nCols).map { _ =>
            val flags = r.u1(); val name = r.cstring()
            val oid = r.i4(); val tmod = r.i4()
            RelationColumn(name, oid, tmod, flags)
          }
          val changed = relations.get(relId).exists(old => columnsDiffer(old.columns, cols))
          relations(relId) = RelationInfo(relId, schema, table, cols, identity)
          if (changed)
            out += PgRecord(null, schema, table, null, null, lsnString(walLsn),
              txId, commitMs, cascade = false, restartIdentity = false, schemaChanged = true)

        case 'B' =>
          r.i8() // final LSN
          commitMs = pgTimestampToUnixMs(r.i8())
          txId = r.i4().toLong & 0xffffffffL

        case 'C' =>
          r.u1(); r.i8(); r.i8(); r.i8()
          txId = 0L; commitMs = 0L

        case 'I' =>
          val relId = r.i4().toLong & 0xffffffffL
          relations.get(relId).foreach { rel =>
            val marker = r.u1().toChar
            if (marker == 'N') {
              val after = tupleObjectInto(rel.columns, r, keysOnly = false, sb)
              out += PgRecord("c", rel.schema, rel.table, null, after,
                lsnString(walLsn), txId, commitMs, cascade = false,
                restartIdentity = false, schemaChanged = false)
            }
          }

        case 'U' =>
          val relId = r.i4().toLong & 0xffffffffL
          relations.get(relId).foreach { rel =>
            var before: String = null
            var after: String = null
            var done = false
            while (!done && r.hasMore(msgEnd)) {
              r.u1().toChar match {
                case 'K' | 'O' => before = tupleObjectInto(rel.columns, r, keysOnly = false, sb)
                case 'N' => after = tupleObjectInto(rel.columns, r, keysOnly = false, sb); done = true
                case _ => done = true
              }
            }
            if (after != null)
              out += PgRecord("u", rel.schema, rel.table, before, after,
                lsnString(walLsn), txId, commitMs, cascade = false,
                restartIdentity = false, schemaChanged = false)
          }

        case 'D' =>
          val relId = r.i4().toLong & 0xffffffffL
          relations.get(relId).foreach { rel =>
            val marker = r.u1().toChar
            if (marker == 'K' || marker == 'O') {
              val before = tupleObjectInto(rel.columns, r, keysOnly = false, sb)
              out += PgRecord("d", rel.schema, rel.table, before, null,
                lsnString(walLsn), txId, commitMs, cascade = false,
                restartIdentity = false, schemaChanged = false)
            }
          }

        case 'T' =>
          val nRels = r.i4()
          val options = r.u1()
          val relIds = (0 until nRels).map(_ => r.i4().toLong & 0xffffffffL)
          relIds.foreach { id =>
            relations.get(id).foreach { rel =>
              out += PgRecord("t", rel.schema, rel.table, null, null,
                lsnString(walLsn), txId, commitMs,
                cascade = (options & 1) != 0,
                restartIdentity = (options & 2) != 0, schemaChanged = false)
            }
          }

        case _ => // 'O' origin / 'Y' type / 'M' message: skipped (postgres_event.rs:196-210)
      }
      top.off = msgEnd
    }
    out.result()
  }
}
