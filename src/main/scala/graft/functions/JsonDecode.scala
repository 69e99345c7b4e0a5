package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused JSON→struct decoder — the decode twin of the fused encoder
 * [[JsonEncode]], for schemas of string / long / int / double / float /
 * boolean / decimal / timestamp / date leaves nested arbitrarily under
 * struct, array and string-keyed map (each leaf type builtin-probed on
 * 4.1.2): one hand-rolled byte-level pass over the
 * payload, no Jackson, no UTF8String→String conversion for clean strings,
 * no generic parser machinery per field.
 *
 * Why not `from_json`: the lake projection (`cdc_lake_project`) parses two
 * images per change event through Jackson, and that parse is the largest
 * CPU term of the cdc decode/project family at ×10. The reference decodes
 * each image once into typed Arrow columns
 * (crates/deltaforge-core/src/encoding/arrow_schema.rs:31-139 — incl. the
 * nested List<T> envelopes of crates/sinks/src/s3/encoder.rs:1-19); this
 * kernel restores that single-pass cost model on the Spark side.
 *
 * Replicated `from_json` (PERMISSIVE, partial-results) semantics, pinned
 * by JsonDecodeSpec against the builtin on round-trip, adversarial and
 * malformed corpora:
 *  - null / empty / whitespace-only / top-level `null` input → NULL result;
 *  - structurally malformed document → all-null row (never an exception);
 *  - a field whose VALUE doesn't convert (string in a long field, float
 *    token in a long field, long overflow) → that field null, parsing
 *    continues (Spark's enablePartialResults behavior);
 *  - NESTED failure propagation (empirically pinned against the builtin):
 *    coercion failures are absorbed at the nearest enclosing STRUCT
 *    (that field nulls, siblings keep); ARRAYS propagate — any failed
 *    element (or a wrong-token element) nulls the WHOLE array value, which
 *    then propagates to ITS nearest struct. Struct elements inside arrays
 *    absorb their own leaf failures ([{"a":1},{"a":"x"}] → [[1],[null]]);
 *    a non-object element under array<struct> fails the whole array.
 *    Explicit JSON `null` elements/fields are values, never failures;
 *  - missing fields null; unknown fields skipped (nested values skipped
 *    structurally); duplicate keys → LAST occurrence wins;
 *  - strings unescaped exactly (incl. \uXXXX surrogate pairs — escaped
 *    strings go through a java.lang.String so lone-surrogate handling is
 *    byte-identical to Jackson's getText + UTF8String.fromString);
 *  - number tokens into string fields keep their raw source bytes; `true`/
 *    `false` into string fields serialize as their literal text (Jackson
 *    copyCurrentStructure parity); object/array into a string field copies
 *    the raw source slice (byte-equal to Jackson's re-serialization for
 *    compact JSON — the only family the CDC pipeline produces);
 *  - doubles: full JSON number grammar via java.lang.Double.parseDouble
 *    (correctly-rounded IEEE, same as Jackson ≥2.14's FastDoubleParser),
 *    plus the quoted specials "NaN" / "[+-]INF" / "[+-]?Infinity".
 */
object JsonDecode {

  /** Column API: fused parse when the schema qualifies (supported leaf
   * types under any struct/array nesting), builtin `from_json` otherwise —
   * call sites never change semantics by switching. */
  def fusedFromJson(json: Column, schema: StructType): Column =
    if (supported(schema))
      GraftBridge.column(FusedJsonToStruct(GraftBridge.expression(json), schema))
    else org.apache.spark.sql.functions.from_json(json, schema)

  def supported(s: StructType): Boolean = s.fields.forall(f => supportedType(f.dataType))

  private def supportedType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | FloatType |
         BooleanType | TimestampType | DateType => true
    case _: DecimalType => true
    case st: StructType => supported(st)
    case ArrayType(et, _) => supportedType(et)
    case MapType(StringType, vt, _) => supportedType(vt) // builtin: string keys only
    case _ => false // interval / binary / non-string-keyed map … → builtin
  }

  private object BadJson extends Exception with scala.util.control.NoStackTrace

  /** Distinguished coercion-failure sentinel — explicit JSON `null` is a
   * VALUE (never a failure), so `null` can't carry the signal. */
  private object Fail

  private val T_STRING = 0
  private val T_LONG = 1
  private val T_INT = 2
  private val T_DOUBLE = 3
  private val T_BOOL = 4
  private val T_DECIMAL = 5
  private val T_TIMESTAMP = 6
  private val T_STRUCT = 7
  private val T_ARRAY = 8
  private val T_MAP = 9
  private val T_DATE = 10
  private val T_FLOAT = 11

  private val TRUE_U8 = UTF8String.fromString("true")
  private val FALSE_U8 = UTF8String.fromString("false")

  /** Compiled mirror of one schema position: scalar leaf params, struct
   * member tables, or the array element spec. */
  private final class VSpec(val kind: Int,
                            val precision: Int, val scale: Int,
                            val names: Array[Array[Byte]], // T_STRUCT
                            val fields: Array[VSpec],      // T_STRUCT
                            val elem: VSpec)               // T_ARRAY

  private def leaf(kind: Int, p: Int = 0, s: Int = 0): VSpec =
    new VSpec(kind, p, s, null, null, null)

  private def compile(dt: DataType): VSpec = dt match {
    case StringType => leaf(T_STRING)
    case LongType => leaf(T_LONG)
    case IntegerType => leaf(T_INT)
    case DoubleType => leaf(T_DOUBLE)
    case BooleanType => leaf(T_BOOL)
    case d: DecimalType => leaf(T_DECIMAL, d.precision, d.scale)
    case TimestampType => leaf(T_TIMESTAMP)
    case DateType => leaf(T_DATE)
    case FloatType => leaf(T_FLOAT)
    case st: StructType =>
      new VSpec(T_STRUCT, 0, 0,
        st.fields.map(_.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        st.fields.map(f => compile(f.dataType)), null)
    case ArrayType(et, _) => new VSpec(T_ARRAY, 0, 0, null, null, compile(et))
    case MapType(StringType, vt, _) => new VSpec(T_MAP, 0, 0, null, null, compile(vt))
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** One instance per row — holds the cursor as a field (no IntRef boxing
   * in the hot loops). `tsParse` / `dateParse` are the builtin-identical
   * timestamp/date string parses (null when the schema has no such leaf). */
  private final class Parser(a: Array[Byte], root: VSpec,
                             tsParse: String => Long, dateParse: String => Int) {
    private val n = a.length
    private var i = 0
    private var depth = 0 // TOTAL container nesting, parsed AND skipped
                          // (Jackson StreamReadConstraints, 1000)

    private def ws(): Unit = {
      while (i < n && (a(i) == ' ' || a(i) == '\t' || a(i) == '\n' || a(i) == '\r')) i += 1
    }
    private def cur: Int = if (i < n) a(i) & 0xff else -1
    private def bad(): Nothing = throw BadJson
    private def enter(): Unit = { depth += 1; if (depth > 1000) bad() }

    /** null = NULL result; otherwise the decoded row (all-null on a
     * structural error). */
    def parseTop(): InternalRow = {
      ws()
      if (i >= n) return null // empty / whitespace-only → SQL NULL
      // top-level JSON `null` literal → all-null ROW (from_json parity —
      // distinct from empty input, which is SQL NULL; spec-pinned)
      if (cur == 'n' && i + 4 <= n && a(i + 1) == 'u' && a(i + 2) == 'l' && a(i + 3) == 'l')
        return new GenericInternalRow(root.names.length)
      try {
        if (cur != '{') bad()
        parseStruct(root)
      } catch { case BadJson => new GenericInternalRow(root.names.length) }
    }

    /** Cursor on '{'. Parses one object against `spec` — partial results:
     * a failed member VALUE nulls that member only (the struct boundary
     * absorbs failures, builtin-pinned). Structural errors throw. */
    private def parseStruct(spec: VSpec): GenericInternalRow = {
      enter()
      val row = new GenericInternalRow(spec.names.length)
      i += 1
      ws()
      if (cur == '}') { i += 1; depth -= 1; return row }
      var more = true
      while (more) {
        ws()
        if (cur != '"') bad()
        val idx = parseNameMatch(spec)
        ws()
        if (cur != ':') bad()
        i += 1
        ws()
        if (idx >= 0) {
          val v = parseValue(spec.fields(idx))
          row.update(idx, if (v.asInstanceOf[AnyRef] eq Fail) null else v)
        } else skipValue()
        ws()
        if (cur == ',') i += 1
        else if (cur == '}') { i += 1; more = false }
        else bad()
      }
      depth -= 1
      row
    }

    /** Cursor on '['. Parses one array of `elem` values. ANY failed
     * element fails the WHOLE array (builtin-pinned: arrays propagate,
     * structs absorb) — but the array is still consumed structurally so
     * parsing continues behind it. Explicit null elements are values. */
    private def parseArray(elem: VSpec): Any = {
      enter()
      i += 1
      ws()
      if (cur == ']') { i += 1; depth -= 1; return new GenericArrayData(new Array[Any](0)) }
      val buf = new scala.collection.mutable.ArrayBuffer[Any](8)
      var failed = false
      var more = true
      while (more) {
        ws()
        val v = parseValue(elem)
        if (v.asInstanceOf[AnyRef] eq Fail) failed = true else buf += v
        ws()
        if (cur == ',') i += 1
        else if (cur == ']') { i += 1; more = false }
        else bad()
      }
      depth -= 1
      if (failed) Fail else new GenericArrayData(buf.toArray)
    }

    /** Cursor on '{'. Parses one object as a map of `elem` values.
     * Builtin-pinned (probed on 4.1.2): ANY failed entry VALUE fails the
     * WHOLE map — maps propagate like arrays, struct VALUES inside still
     * absorb their own leaf failures. Explicit null values are entries;
     * duplicate keys are BOTH appended (Jackson convertMap appends in
     * document order — last wins only at external Map conversion). */
    private def parseMap(elem: VSpec): Any = {
      enter()
      i += 1
      ws()
      if (cur == '}') {
        i += 1; depth -= 1
        return new ArrayBasedMapData(
          new GenericArrayData(new Array[Any](0)), new GenericArrayData(new Array[Any](0)))
      }
      val keys = new scala.collection.mutable.ArrayBuffer[Any](8)
      val vals = new scala.collection.mutable.ArrayBuffer[Any](8)
      var failed = false
      var more = true
      while (more) {
        ws()
        if (cur != '"') bad()
        val (ks, ke, kesc) = stringExtent()
        val k = stringValue(ks, ke, kesc)
        ws()
        if (cur != ':') bad()
        i += 1
        ws()
        val v = parseValue(elem)
        if (v.asInstanceOf[AnyRef] eq Fail) failed = true
        else { keys += k; vals += v }
        ws()
        if (cur == ',') i += 1
        else if (cur == '}') { i += 1; more = false }
        else bad()
      }
      depth -= 1
      if (failed) Fail
      else new ArrayBasedMapData(
        new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
    }

    /** Consume a string token starting at the opening quote; return the
     * index of the matching field, or -1. */
    private def parseNameMatch(spec: VSpec): Int = {
      val names = spec.names
      val (s, e, escaped) = stringExtent()
      if (!escaped) {
        val len = e - s
        var f = 0
        while (f < names.length) {
          val nb = names(f)
          if (nb.length == len) {
            var j = 0
            while (j < len && nb(j) == a(s + j)) j += 1
            if (j == len) return f
          }
          f += 1
        }
        -1
      } else {
        val name = unescape(s, e).toString
        var f = 0
        while (f < names.length) {
          if (new String(names(f), java.nio.charset.StandardCharsets.UTF_8) == name) return f
          f += 1
        }
        -1
      }
    }

    /** Cursor sits on '"'. Consumes through the closing quote. Returns
     * (contentStart, contentEnd, sawBackslash); validates escape shapes and
     * rejects raw control bytes (Jackson defaults). */
    private def stringExtent(): (Int, Int, Boolean) = {
      i += 1 // opening quote
      val s = i
      var escaped = false
      while (true) {
        if (i >= n) bad()
        val c = a(i) & 0xff
        if (c == '"') { val e = i; i += 1; return (s, e, escaped) }
        else if (c == '\\') {
          escaped = true
          if (i + 1 >= n) bad()
          val esc = a(i + 1) & 0xff
          esc match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i += 2
            case 'u' =>
              if (i + 5 >= n) bad()
              var j = i + 2
              while (j < i + 6) {
                val h = a(j) & 0xff
                val ok = (h >= '0' && h <= '9') || (h >= 'a' && h <= 'f') || (h >= 'A' && h <= 'F')
                if (!ok) bad()
                j += 1
              }
              i += 6
            case _ => bad()
          }
        }
        else if (c < 0x20) bad() // unescaped control byte
        else i += 1
      }
      throw new IllegalStateException("unreachable")
    }

    /** Unescape content bytes [s,e) (known to contain a backslash) through
     * a java.lang.String — char-level \uXXXX handling makes surrogate
     * behavior identical to Jackson getText + UTF8String.fromString. */
    private def unescape(s: Int, e: Int): UTF8String = {
      val raw = new String(a, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(raw.length)
      var j = 0
      while (j < raw.length) {
        val c = raw.charAt(j)
        if (c == '\\') {
          raw.charAt(j + 1) match {
            case 'u' =>
              sb.append(Integer.parseInt(raw.substring(j + 2, j + 6), 16).toChar)
              j += 6
            case 'b' => sb.append('\b'); j += 2
            case 'f' => sb.append('\f'); j += 2
            case 'n' => sb.append('\n'); j += 2
            case 'r' => sb.append('\r'); j += 2
            case 't' => sb.append('\t'); j += 2
            case o => sb.append(o); j += 2 // " \ /
          }
        } else { sb.append(c); j += 1 }
      }
      UTF8String.fromString(sb.toString)
    }

    private def stringValue(s: Int, e: Int, escaped: Boolean): UTF8String =
      if (escaped) unescape(s, e)
      else UTF8String.fromBytes(java.util.Arrays.copyOfRange(a, s, e))

    /** Number token extent with JSON grammar validation (leading-zero rule,
     * exponent shape). Returns (start, end, isIntToken); structural error
     * on an invalid shape (Jackson tokenizer parity → all-null row). */
    private def numberExtent(): (Int, Int, Boolean) = {
      val s = i
      if (cur == '-') i += 1
      if (cur == '0') i += 1
      else if (cur >= '1' && cur <= '9') { while (cur >= '0' && cur <= '9') i += 1 }
      else bad()
      var isInt = true
      if (cur == '.') {
        isInt = false
        i += 1
        if (!(cur >= '0' && cur <= '9')) bad()
        while (cur >= '0' && cur <= '9') i += 1
      }
      if (cur == 'e' || cur == 'E') {
        isInt = false
        i += 1
        if (cur == '+' || cur == '-') i += 1
        if (!(cur >= '0' && cur <= '9')) bad()
        while (cur >= '0' && cur <= '9') i += 1
      }
      (s, i, isInt)
    }

    /** Overflow-checked decimal long over [s,e); null on overflow (the
     * field-level coercion failure → partial-results null). Accumulates
     * NEGATIVE so Long.MinValue parses. */
    private def parseLong(s: Int, e: Int): java.lang.Long = {
      var j = s
      var neg = false
      if (a(j) == '-') { neg = true; j += 1 }
      var v = 0L
      while (j < e) {
        val d = a(j) - '0'
        if (v < (Long.MinValue + d) / 10) return null
        v = v * 10 - d
        j += 1
      }
      if (neg) v
      else if (v == Long.MinValue) null
      else -v
    }

    /** `Decimal(BigDecimal, p, s)` with the builtin's failure semantics:
     * precision overflow / unparseable text → coercion failure. */
    private def decimalOrFail(text: String, spec: VSpec): Any =
      try org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(text), spec.precision, spec.scale)
      catch { case _: ArithmeticException | _: NumberFormatException => Fail }

    /** Parse one value against `spec`. Returns the decoded value, `null`
     * for an explicit JSON null, or [[Fail]] for a coercion failure — the
     * token is ALWAYS fully consumed either way. Structural errors throw. */
    private def parseValue(spec: VSpec): Any = {
      val kind = spec.kind
      cur match {
        case '"' =>
          val (s, e, escaped) = stringExtent()
          kind match {
            case T_STRING => stringValue(s, e, escaped)
            case T_DOUBLE =>
              // Spark's quoted non-numeric specials (allowNonNumericNumbers)
              stringValue(s, e, escaped).toString match {
                case "NaN" => Double.NaN
                case "Infinity" | "+Infinity" | "+INF" => Double.PositiveInfinity
                case "-Infinity" | "-INF" => Double.NegativeInfinity
                case _ => Fail
              }
            case T_DECIMAL =>
              // builtin: string tokens of length >= 1 go through the locale
              // decimal parser (US: plain BigDecimal); failures fail the field
              val t = stringValue(s, e, escaped).toString
              if (t.isEmpty) Fail else decimalOrFail(t, spec)
            case T_TIMESTAMP =>
              val t = stringValue(s, e, escaped).toString
              if (t.isEmpty) Fail
              else try Long.box(tsParse(t))
              catch { case e if scala.util.control.NonFatal(e) => Fail }
            case T_DATE =>
              val t = stringValue(s, e, escaped).toString
              if (t.isEmpty) Fail
              else try Int.box(dateParse(t))
              catch { case e if scala.util.control.NonFatal(e) => Fail }
            case T_FLOAT =>
              // builtin's exact special set (same as double, probed)
              stringValue(s, e, escaped).toString match {
                case "NaN" => Float.NaN
                case "Infinity" | "+Infinity" | "+INF" => Float.PositiveInfinity
                case "-Infinity" | "-INF" => Float.NegativeInfinity
                case _ => Fail
              }
            case _ => Fail // string into long/int/bool/struct/array/map
          }
        case 't' =>
          literal("true")
          kind match {
            case T_BOOL => java.lang.Boolean.TRUE
            case T_STRING => TRUE_U8
            case _ => Fail
          }
        case 'f' =>
          literal("false")
          kind match {
            case T_BOOL => java.lang.Boolean.FALSE
            case T_STRING => FALSE_U8
            case _ => Fail
          }
        case 'n' =>
          literal("null")
          null // explicit null is a VALUE everywhere (duplicate-key: last wins)
        case c if c == '-' || (c >= '0' && c <= '9') =>
          val (s, e, isInt) = numberExtent()
          kind match {
            case T_LONG =>
              if (isInt) { val v = parseLong(s, e); if (v == null) Fail else v }
              else Fail
            case T_DECIMAL =>
              // int AND float tokens: Jackson getDecimalValue == BigDecimal
              // over the token text
              decimalOrFail(
                new String(a, s, e - s, java.nio.charset.StandardCharsets.US_ASCII), spec)
            case T_TIMESTAMP =>
              // builtin: int token = SECONDS since epoch, micros via a plain
              // Java multiply (silently wraps on overflow — reproduced);
              // beyond-long int tokens and float tokens fail the field
              if (isInt) {
                val v = parseLong(s, e)
                if (v == null) Fail else Long.box(v.longValue() * 1000000L)
              } else Fail
            case T_INT =>
              if (isInt) {
                val v = parseLong(s, e)
                if (v != null && v.longValue() >= Int.MinValue && v.longValue() <= Int.MaxValue)
                  Int.box(v.intValue())
                else Fail
              } else Fail
            case T_DOUBLE =>
              Double.box(java.lang.Double.parseDouble(
                new String(a, s, e - s, java.nio.charset.StandardCharsets.US_ASCII)))
            case T_FLOAT =>
              // Jackson getFloatValue is correctly-rounded from the token
              // TEXT (FastFloatParser) — Float.parseFloat matches bit-for-
              // bit incl. the double-narrowing traps (probed: 3.402823567…e38
              // → MaxValue not Inf; 7.00649232…e-46 → MinValue not 0)
              Float.box(java.lang.Float.parseFloat(
                new String(a, s, e - s, java.nio.charset.StandardCharsets.US_ASCII)))
            case T_STRING =>
              // Jackson copyCurrentStructure RE-SERIALIZES numbers into a
              // string field: int tokens via writeNumber(long) (so "-0" →
              // "0"; beyond-long ints via BigInteger == raw digits), float
              // tokens via writeNumber(double) == Double.toString (so
              // "-4.5e2" → "-450.0"). Reproduce exactly.
              if (isInt) {
                val v = parseLong(s, e)
                if (v != null) UTF8String.fromString(java.lang.Long.toString(v.longValue()))
                else UTF8String.fromBytes(java.util.Arrays.copyOfRange(a, s, e))
              } else {
                val d = java.lang.Double.parseDouble(
                  new String(a, s, e - s, java.nio.charset.StandardCharsets.US_ASCII))
                UTF8String.fromString(java.lang.Double.toString(d))
              }
            case _ => Fail // number into bool/struct/array
          }
        case '{' =>
          kind match {
            case T_STRUCT => parseStruct(spec)
            case T_MAP => parseMap(spec.elem)
            case T_STRING =>
              // raw source slice — byte-equal to Jackson's re-serialization
              // for the compact JSON the pipeline produces (scaladoc)
              val s = i
              skipValue()
              UTF8String.fromBytes(java.util.Arrays.copyOfRange(a, s, i))
            case _ => skipValue(); Fail // object into scalar/array
          }
        case '[' =>
          kind match {
            case T_ARRAY => parseArray(spec.elem)
            case T_STRING =>
              val s = i
              skipValue()
              UTF8String.fromBytes(java.util.Arrays.copyOfRange(a, s, i))
            case _ => skipValue(); Fail // array into scalar/struct
          }
        case _ => bad()
      }
    }

    private def literal(lit: String): Unit = {
      var j = 0
      while (j < lit.length) {
        if (i >= n || a(i) != lit.charAt(j)) bad()
        i += 1; j += 1
      }
    }

    /** Skip one complete JSON value by FULL tokenization — a brace-depth
     * walk accepted malformed content inside skipped values (e.g.
     * `{"l":1,"x":{bogus##}}`) that the builtin's tokenizer rejects with an
     * all-null row. Containers recurse through the same token
     * dispatch as parsed values; depth capped like Jackson's
     * StreamReadConstraints (1000, parsed + skipped levels combined). */
    private def skipValue(): Unit = cur match {
      case '"' => stringExtent()
      case 't' => literal("true")
      case 'f' => literal("false")
      case 'n' => literal("null")
      case c if c == '-' || (c >= '0' && c <= '9') => numberExtent()
      case '{' =>
        enter()
        i += 1
        ws()
        if (cur == '}') i += 1
        else {
          var more = true
          while (more) {
            ws()
            if (cur != '"') bad()
            stringExtent()
            ws()
            if (cur != ':') bad()
            i += 1
            ws()
            skipValue()
            ws()
            if (cur == ',') i += 1
            else if (cur == '}') { i += 1; more = false }
            else bad()
          }
        }
        depth -= 1
      case '[' =>
        enter()
        i += 1
        ws()
        if (cur == ']') i += 1
        else {
          var more = true
          while (more) {
            ws()
            skipValue()
            ws()
            if (cur == ',') i += 1
            else if (cur == ']') { i += 1; more = false }
            else bad()
          }
        }
        depth -= 1
      case _ => bad()
    }
  }

  /**
   * The expression. Real `doGenCode` — the child string evaluates inside
   * whole-stage codegen, then one virtual call into the decoder (the
   * CodegenFallback alternative interprets the whole child subtree per row
   * — PLANS.md rule).
   */
  case class FusedJsonToStruct(child: Expression, schema: StructType,
      timeZoneId: Option[String] = None)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression {
    override def dataType: DataType = schema
    override def nullable: Boolean = true
    override def prettyName: String = "fused_from_json"
    // timestamp string leaves parse in the session zone, resolved by
    // analysis exactly like from_json (ResolveTimeZone)
    override def withTimeZone(timeZoneId: String)
        : org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType =>
        if (supported(schema)) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"fused_from_json supports string/long/int/double/float/boolean/decimal/timestamp/date leaves under struct/array/map nesting, got $schema")
      case other => TypeCheckResult.TypeCheckFailure(
        s"fused_from_json needs a string child, got $other")
    }

    @transient private lazy val root: VSpec = compile(schema)

    private def hasLeaf(dt: DataType, p: DataType => Boolean): Boolean = dt match {
      case t if p(t) => true
      case st: StructType => st.fields.exists(f => hasLeaf(f.dataType, p))
      case ArrayType(et, _) => hasLeaf(et, p)
      case MapType(_, vt, _) => hasLeaf(vt, p)
      case _ => false
    }
    @transient private lazy val tsParse: String => Long =
      if (hasLeaf(schema, _ == TimestampType))
        org.apache.spark.sql.classic.GraftBridge.jsonTimestampParser(
          timeZoneId.getOrElse("UTC"))
      else null
    // dates are zone-less (builtin DateFormatter + stringToDate chain)
    @transient private lazy val dateParse: String => Int =
      if (hasLeaf(schema, _ == DateType))
        org.apache.spark.sql.classic.GraftBridge.jsonDateParser()
      else null

    /** Called from generated code; null = SQL NULL result. */
    def parse(u: UTF8String): InternalRow =
      new Parser(u.getBytes, root, tsParse, dateParse).parseTop()

    override protected def nullSafeEval(input: Any): Any =
      parse(input.asInstanceOf[UTF8String])

    // null input → SQL NULL (standard propagation); a NON-null input can
    // still produce NULL (empty/whitespace payload), hence the isNull
    // reassignment inside the null-safe block.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val dec = ctx.addReferenceObj("fusedFromJson", this, classOf[FusedJsonToStruct].getName)
      nullSafeCodeGen(ctx, ev, c => s"""
        |${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $dec.parse($c);
        |${ev.isNull} = ${ev.value} == null;
        |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }
}
