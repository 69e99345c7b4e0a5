package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateArray, CreateNamedStruct, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused struct→JSON encoders, byte-identical to `to_json(struct(...))` for
 * the supported type lattice (string / long / int / boolean / struct /
 * array thereof) — pinned by a property spec against `to_json` on
 * adversarial inputs (control chars, quotes/backslashes, non-BMP unicode,
 * nulls at every level) and by the cdc_envelope DuckDB oracle row.
 *
 * Why not `to_json`: the envelope encode is the single largest CPU term of
 * the backlog-drain headline, and Spark's generic path pays (a) Jackson
 * generator machinery + UTF8String→JVM string conversion per field per
 * row, and (b) the `CreateNamedStruct` UnsafeRow materialization — every
 * embedded row image is COPIED into the struct row before Jackson reads it
 * back out. [[JsonEncode.fusedJson]] unwraps a literal `struct(...)` into
 * a TEMPLATE whose leaves evaluate inside whole-stage codegen and
 * serialize straight from the input row — no intermediate struct row at
 * all. Non-literal struct inputs (e.g. a struct-typed column read from
 * storage) fall back to [[JsonEncode.FusedJsonEncode]], which serializes a
 * materialized InternalRow.
 *
 * Replicated `to_json` semantics (empirically pinned): null struct fields
 * are OMITTED (all-null struct → `{}`); null ARRAY elements are written as
 * `null`; `"` → `\"`, `\` → `\\`, control bytes < 0x20 → `\b \t \n \f \r`
 * short forms or UPPERCASE `\u00XX`; `/` and 0x7F raw; non-ASCII raw
 * UTF-8; longs as plain digits; booleans as `true`/`false`.
 */
object JsonEncode {

  /** Column API: fused JSON of a struct column. A literal `struct(...)`
   * (CreateNamedStruct tree) is unwrapped into the zero-materialization
   * template form; anything else takes the struct-row path. The session
   * time zone is resolved by ANALYSIS (TimeZoneAwareExpression), exactly
   * like to_json — not snapshotted at Column construction.
   *
   * Fallback: when the input's type is already resolvable here and carries
   * a leaf outside the fused lattice, route to builtin `to_json` (the same
   * never-change-semantics contract as [[JsonDecode.fusedFromJson]]).
   * Unresolved inputs can't be type-checked at construction — callers that
   * know the payload schema should use [[fusedJsonFor]]. */
  def fusedJson(struct: Column): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    // EAGER conversion (GraftBridge.eagerExpression): the lazy
    // ColumnNodeExpression wrapper reports resolved=true with
    // dataType=NullType, which (a) defeated the CreateNamedStruct template
    // match and (b) made knownUnsupported classify EVERY unresolved struct
    // as unsupported — silently routing the whole CdcSynth payload family
    // to builtin to_json (a plan audit shows it: the encode then runs as
    // StructsToJsonEvaluator, not fused).
    val e = GraftBridge.eagerExpression(struct)
    fromExpression(e) match {
      case null => org.apache.spark.sql.functions.to_json(struct)
      case expr => GraftBridge.column(expr)
    }
  }

  /** Route a struct-producing Expression to the fused encoder; null means
   * "caller must fall back to builtin to_json" (known-unsupported leaf). */
  private def fromExpression(e: Expression): Expression = {
    def knownUnsupported(expr: Expression): Boolean =
      try expr.resolved && unsupported(expr.dataType).isDefined
      catch { case _: Throwable => false }
    e match {
      case _ if knownUnsupported(e) => null // → builtin
      case c: CreateNamedStruct => templateOf(c) match {
        case Some((shape, leaves)) if !leaves.exists(knownUnsupported) =>
          FusedJsonTemplate(shape, leaves)
        case Some(_) => null
        case None => FusedJsonEncode(e)
      }
      case _ => FusedJsonEncode(e)
    }
  }

  /** [[fusedJson]] when the struct's schema is known at call time (e.g. a
   * whole-table payload built from a DataFrame): any leaf outside the
   * fused lattice routes the WHOLE struct through builtin `to_json`, so
   * call sites never change semantics by switching — the exact mirror of
   * [[JsonDecode.fusedFromJson]]'s supported-schema gate.
   *
   * When the input is a not-yet-resolved `functions.struct(cols...)`
   * (an `UnresolvedFunction` — the shape every DataFrame-built payload
   * arrives in), the declared schema NAMES the leaves, so the
   * zero-materialization template engages here too: the struct row is
   * never built, leaves render straight from whole-stage codegen. The
   * call-site contract (schema == the struct's column list, in order) is
   * the same one the supported-gate itself already relies on. */
  def fusedJsonFor(struct: Column, schema: StructType): Column = {
    import org.apache.spark.sql.classic.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    if (unsupported(schema).isEmpty) {
      GraftBridge.eagerExpression(struct) match {
        case uf: UnresolvedFunction if isStructFn(uf) =>
          toNamed(uf, schema) match {
            // None = declared schema contradicts an argument's own alias
            // (a renamed alias would silently emit stale field names) or
            // an arity mismatch — builtin to_json keeps the
            // caller's own names, loudly consistent either way
            case None => org.apache.spark.sql.functions.to_json(struct)
            case Some(named) => fromExpression(named) match {
              case null => org.apache.spark.sql.functions.to_json(struct)
              case expr => GraftBridge.column(expr)
            }
          }
        case _ => fusedJson(struct)
      }
    } else org.apache.spark.sql.functions.to_json(struct)
  }

  private def isStructFn(uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction): Boolean =
    uf.nameParts == Seq("struct") && !uf.isDistinct
  private def isArrayFn(uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction): Boolean =
    uf.nameParts == Seq("array") && !uf.isDistinct

  /** An argument that carries its own name (Alias / attribute) must AGREE
   * with the declared schema field name — otherwise the fused encoder
   * would emit field names the caller's own expression does not claim
   * (checking arity alone lets a renamed alias silently emit stale names,
   * and differently from the to_json fallback). */
  private def declaredNameMismatch(arg: Expression, declared: String): Boolean =
    arg match {
      case a: Alias => a.name != declared
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.last != declared
      case _ => false
    }

  /**
   * Recursively rebuild NAMED constructors from the declared schema so the
   * zero-materialization template reaches nested `struct(...)` and
   * `array(...)` constructors (as boxed struct/array LEAVES they made
   * codegen materialize a GenericArrayData of rows per input row). None =
   * a declared name contradicts the argument's alias, or an arity/type
   * shape mismatch — caller falls back to builtin.
   */
  private def toNamed(e: Expression, dt: DataType): Option[Expression] = e match {
    case a: Alias => toNamed(a.child, dt)
    case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction if isStructFn(uf) =>
      dt match {
        case st: StructType if uf.arguments.length == st.fields.length =>
          val parts = st.fields.toSeq.zip(uf.arguments).map { case (f, arg) =>
            if (declaredNameMismatch(arg, f.name)) None
            else toNamed(arg, f.dataType).map(x =>
              Seq(Literal(UTF8String.fromString(f.name), StringType), x))
          }
          if (parts.exists(_.isEmpty)) None
          else Some(CreateNamedStruct(parts.flatMap(_.get)))
        case _ => None
      }
    case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction if isArrayFn(uf) =>
      dt match {
        case at: ArrayType =>
          val es = uf.arguments.map(toNamed(_, at.elementType))
          if (es.exists(_.isEmpty)) None
          else Some(CreateArray(es.map(_.get), useStringTypeWhenEmpty = false))
        case _ => None
      }
    case other => Some(other)
  }

  /** Unwrap nested CreateNamedStruct / CreateArray constructor trees into a
   * template whose leaves are arbitrary non-constructor expressions.
   * Returns None when any field NAME is non-literal (cannot template).
   * Array constructors template as [[SArr]]: their elements render
   * straight from codegen leaf values instead of materializing a
   * GenericArrayData (of rows, for array<struct>) per input row. */
  private def templateOf(c: CreateNamedStruct)
      : Option[(Shape, Seq[Expression])] = {
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def walkValue(value: Expression): Option[Shape] = value match {
      case nested: CreateNamedStruct => walkStruct(nested)
      case arr: CreateArray =>
        val es = arr.children.map(walkValue)
        if (es.exists(_.isEmpty)) None else Some(SArr(es.map(_.get)))
      case leaf =>
        leaves += leaf
        Some(SLeaf(leaves.length - 1))
    }
    def walkStruct(cs: CreateNamedStruct): Option[Shape] = {
      val fields = cs.nameExprs.zip(cs.valExprs).map {
        case (Literal(name: UTF8String, StringType), value) =>
          walkValue(value).map(name.toString -> _)
        case _ => None
      }
      if (fields.exists(_.isEmpty)) None else Some(SObj(fields.map(_.get)))
    }
    walkStruct(c).map(s => (s, leaves.toSeq))
  }

  sealed trait Shape extends Serializable
  private[JsonEncode] case class SLeaf(idx: Int) extends Shape
  private[JsonEncode] case class SObj(fields: Seq[(String, Shape)]) extends Shape
  private[JsonEncode] case class SArr(elems: Seq[Shape]) extends Shape

  private val HEX = "0123456789ABCDEF".getBytes
  private val TRUE = "true".getBytes
  private val FALSE = "false".getBytes
  private val NULL = "null".getBytes
  private val NAN_Q = "\"NaN\"".getBytes
  private val INF_Q = "\"Infinity\"".getBytes
  private val NINF_Q = "\"-Infinity\"".getBytes

  /** Minimal growable byte sink (ByteArrayOutputStream is synchronized). */
  private final class Buf(initial: Int) {
    var a = new Array[Byte](initial)
    var n = 0
    def ensure(m: Int): Unit = if (n + m > a.length) {
      var cap = a.length * 2
      while (cap < n + m) cap *= 2
      a = java.util.Arrays.copyOf(a, cap)
    }
    def byte(b: Byte): Unit = { ensure(1); a(n) = b; n += 1 }
    def bytes(bs: Array[Byte]): Unit = { ensure(bs.length)
      System.arraycopy(bs, 0, a, n, bs.length); n += bs.length }
    def raw(base: Object, off: Long, len: Int): Unit = { ensure(len)
      org.apache.spark.unsafe.Platform.copyMemory(
        base, off, a, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + n, len)
      n += len }
    def longNum(v: Long): Unit = { ensure(20)
      n = JsonEncodeRt.writeLong(a, n, v) }
  }

  private type Writer = (Any, Buf) => Unit

  private def fieldNameBytes(name: String): Array[Byte] = {
    require(name.forall(ch => ch >= 0x20 && ch != '"' && ch != '\\'),
      s"fused_to_json: field name needs escaping: $name")
    ("\"" + name + "\":").getBytes("UTF-8")
  }

  /** Per-expression writer factory: temporal leaves need the session time
   * zone (captured at plan time), so writers live behind an instance.
   * Formatters are created once per factory (executor-side, at lazy writer
   * construction) via the SAME code path to_json's JacksonGenerator takes —
   * byte-identity by construction. */
  private final class WriterFactory(timeZoneId: String) extends Serializable {
    @transient private lazy val temporal =
      org.apache.spark.sql.classic.GraftBridge.jsonTemporalWriters(timeZoneId)
    private def asciiQuoted(b: Buf, s: String): Unit = {
      b.byte('"')
      b.bytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      b.byte('"')
    }

    /** Writer for a VALUE of type `dt` (non-null input). */
    def valueWriter(dt: DataType): Writer = dt match {
      case StringType => (v, b) => writeEscaped(v.asInstanceOf[UTF8String], b)
      case LongType => (v, b) => b.longNum(v.asInstanceOf[Long])
      case IntegerType => (v, b) => b.longNum(v.asInstanceOf[Int].toLong)
      case ShortType => (v, b) => b.longNum(v.asInstanceOf[Short].toLong)
      case ByteType => (v, b) => b.longNum(v.asInstanceOf[Byte].toLong)
      // decimals: JacksonGenerator writeNumber(toJavaBigDecimal) →
      // BigDecimal.toString (scientific form for adjusted exponents < -6,
      // exactly like the builtin — spec-pinned)
      case _: DecimalType => (v, b) =>
        b.bytes(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal.toString
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      // binary: Jackson writeBinary = base64, default variant (padding, no
      // linefeeds) == java.util.Base64.getEncoder — spec-pinned
      case BinaryType => (v, b) => {
        b.byte('"')
        b.bytes(java.util.Base64.getEncoder.encode(v.asInstanceOf[Array[Byte]]))
        b.byte('"')
      }
      case BooleanType => (v, b) =>
        b.bytes(if (v.asInstanceOf[Boolean]) TRUE else FALSE)
      // doubles/floats: Jackson writeNumber == [Double|Float].toString;
      // non-finite values are written as QUOTED strings (Jackson
      // WRITE_NAN_AS_STRINGS default) — all spec-pinned vs to_json
      case DoubleType => (v, b) => {
        val d = v.asInstanceOf[Double]
        if (java.lang.Double.isNaN(d)) b.bytes(NAN_Q)
        else if (d == Double.PositiveInfinity) b.bytes(INF_Q)
        else if (d == Double.NegativeInfinity) b.bytes(NINF_Q)
        else b.bytes(java.lang.Double.toString(d)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      case FloatType => (v, b) => {
        val f = v.asInstanceOf[Float]
        if (java.lang.Float.isNaN(f)) b.bytes(NAN_Q)
        else if (f == Float.PositiveInfinity) b.bytes(INF_Q)
        else if (f == Float.NegativeInfinity) b.bytes(NINF_Q)
        else b.bytes(java.lang.Float.toString(f)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      // temporal leaves: to_json writes them as JSON strings through its
      // formatters — reproduced via the exact same formatter construction
      case TimestampType => (v, b) => asciiQuoted(b, temporal._1(v.asInstanceOf[Long]))
      case TimestampNTZType => (v, b) => asciiQuoted(b, temporal._2(v.asInstanceOf[Long]))
      case DateType => (v, b) => asciiQuoted(b, temporal._3(v.asInstanceOf[Int]))
      case s: StructType =>
        val w = structWriter(s)
        (v, b) => w(v, b)
      case ArrayType(et, _) =>
        val ew = valueWriter(et)
        val getter = InternalRow.getAccessor(et, nullable = true)
        (v, b) => {
          val arr = v.asInstanceOf[ArrayData]
          b.byte('[')
          var i = 0
          val m = arr.numElements()
          while (i < m) {
            if (i > 0) b.byte(',')
            if (arr.isNullAt(i)) b.bytes(NULL)
            else ew(getter(arr, i), b)
            i += 1
          }
          b.byte(']')
        }
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

    def structWriter(s: StructType): Writer = {
      val names = s.fields.map(f => fieldNameBytes(f.name))
      val writers = s.fields.map(f => valueWriter(f.dataType))
      val getters = s.fields.map(f => InternalRow.getAccessor(f.dataType, nullable = true))
      val n = s.fields.length
      (v, b) => {
        val row = v.asInstanceOf[InternalRow]
        b.byte('{')
        var first = true
        var i = 0
        while (i < n) {
          if (!row.isNullAt(i)) { // null fields OMITTED, like to_json
            if (!first) b.byte(',')
            first = false
            b.bytes(names(i))
            writers(i)(getters(i)(row, i), b)
          }
          i += 1
        }
        b.byte('}')
      }
    }
  }

  private def writeEscaped(s: UTF8String, b: Buf): Unit = {
    b.byte('"')
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes()
    var i = 0
    var runStart = 0 // flush clean byte runs in one copy
    while (i < len) {
      val c = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      val u = c & 0xff
      if (u == '"' || u == '\\' || u < 0x20) {
        if (i > runStart) b.raw(base, off + runStart, i - runStart)
        b.byte('\\')
        u match {
          case 0x22 => b.byte('"')
          case 0x5c => b.byte('\\')
          case 0x08 => b.byte('b')
          case 0x09 => b.byte('t')
          case 0x0a => b.byte('n')
          case 0x0c => b.byte('f')
          case 0x0d => b.byte('r')
          case _ =>
            b.byte('u'); b.byte('0'); b.byte('0')
            b.byte(HEX(u >> 4)); b.byte(HEX(u & 0xf))
        }
        runStart = i + 1
      }
      i += 1
    }
    if (len > runStart) b.raw(base, off + runStart, len - runStart)
    b.byte('"')
  }

  private def unsupported(dt: DataType): Option[DataType] = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType | DoubleType | FloatType | BinaryType |
         TimestampType | TimestampNTZType | DateType => None
    case _: DecimalType => None
    case s: StructType => s.fields.iterator.flatMap(f => unsupported(f.dataType)).nextOption()
    case a: ArrayType => unsupported(a.elementType)
    case other => Some(other)
  }

  /**
   * Struct-row path: serialize an already-materialized struct value.
   * Used for struct-typed COLUMNS; `fusedJson` routes literal
   * `struct(...)` constructors to [[FusedJsonTemplate]] instead.
   */
  case class FusedJsonEncode(child: Expression,
      timeZoneId: Option[String] = None)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StringType
    override def prettyName: String = "fused_to_json"
    // time zone resolved by ANALYSIS (ResolveTimeZone), exactly like
    // to_json — a construction-time SQLConf snapshot used a stale or
    // default zone when the session zone changed before execution
    override def withTimeZone(timeZoneId: String)
        : org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case s: StructType => unsupported(s) match {
        case None => TypeCheckResult.TypeCheckSuccess
        case Some(bad) => TypeCheckResult.TypeCheckFailure(
          s"fused_to_json: unsupported type $bad")
      }
      case other => TypeCheckResult.TypeCheckFailure(
        s"fused_to_json needs a struct child, got $other")
    }

    @transient private lazy val topWriter =
      new WriterFactory(timeZoneId.getOrElse("UTC"))
        .structWriter(child.dataType.asInstanceOf[StructType])
    @transient private lazy val localBuf = new ThreadLocal[Buf] {
      override def initialValue(): Buf = new Buf(1024)
    }

    /** Called from generated code. */
    def encode(input: Any): UTF8String = {
      val b = localBuf.get()
      b.n = 0
      topWriter(input, b)
      UTF8String.fromBytes(b.a, 0, b.n)
    }

    // keep the child struct construction inside whole-stage codegen (a
    // CodegenFallback here interprets the whole CreateNamedStruct subtree
    // per row — measured 17.3 vs 10.5 proc-CPU-s on the 1M-event drain)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val enc = ctx.addReferenceObj("fusedJsonEnc", this, classOf[FusedJsonEncode].getName)
      defineCodeGen(ctx, ev, c =>
        s"(org.apache.spark.unsafe.types.UTF8String) $enc.encode($c)")
    }
    override protected def nullSafeEval(input: Any): Any = encode(input)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /**
   * Template path: the object SHAPE (field names, nesting) is compile-time
   * constant and the leaves are arbitrary expressions evaluated in
   * whole-stage codegen — the struct row is never materialized, so
   * embedded row images are copied ONCE (input row → output JSON) instead
   * of three times (input → struct row → Jackson buffer → output).
   */
  case class FusedJsonTemplate private[JsonEncode] (
      shape: Shape, children: Seq[Expression],
      timeZoneId: Option[String] = None) extends Expression
      with org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression {
    override def nullable: Boolean = false
    override def dataType: DataType = StringType
    override def prettyName: String = "fused_to_json"
    override def withTimeZone(timeZoneId: String)
        : org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression =
      copy(timeZoneId = Option(timeZoneId))

    override def checkInputDataTypes(): TypeCheckResult =
      children.iterator.flatMap(c => unsupported(c.dataType)).nextOption() match {
        case None => TypeCheckResult.TypeCheckSuccess
        case Some(bad) => TypeCheckResult.TypeCheckFailure(
          s"fused_to_json: unsupported leaf type $bad")
      }

    // (names-bytes, leaf writers) resolved once; the shape walk is encoded
    // as a flat instruction list over the leaf value array
    @transient private lazy val shapeWriter: (Array[Any], Buf) => Unit = {
      val factory = new WriterFactory(timeZoneId.getOrElse("UTC"))
      // render a VALUE in array-element position: a null leaf writes
      // `null` (to_json array semantics), unlike object fields (omitted)
      def compileValue(s: Shape): (Array[Any], Buf) => Unit = s match {
        case SLeaf(idx) =>
          val w = factory.valueWriter(children(idx).dataType)
          (vals, b) => {
            val v = vals(idx)
            if (v == null) b.bytes(NULL) else w(v, b)
          }
        case obj: SObj => compileObj(obj)
        case SArr(elems) =>
          val ews = elems.map(compileValue).toArray
          (vals, b) => {
            b.byte('[')
            var i = 0
            while (i < ews.length) {
              if (i > 0) b.byte(',')
              ews(i)(vals, b)
              i += 1
            }
            b.byte(']')
          }
      }
      def compileObj(obj: SObj): (Array[Any], Buf) => Unit = {
        val parts = obj.fields.map {
          case (name, SLeaf(idx)) =>
            val nb = fieldNameBytes(name)
            val w = factory.valueWriter(children(idx).dataType)
            (vals: Array[Any], b: Buf, first: Boolean) => {
              val v = vals(idx)
              if (v == null) first
              else {
                if (!first) b.byte(',')
                b.bytes(nb); w(v, b); false
              }
            }
          case (name, nested) =>
            // struct(...)/array(...) constructors are never null themselves
            val nb = fieldNameBytes(name)
            val inner = compileValue(nested)
            (vals: Array[Any], b: Buf, first: Boolean) => {
              if (!first) b.byte(',')
              b.bytes(nb); inner(vals, b); false
            }
        }
        (vals, b) => {
          b.byte('{')
          var first = true
          parts.foreach(p => first = p(vals, b, first))
          b.byte('}')
        }
      }
      shape match {
        case obj: SObj => compileObj(obj)
        case _ => throw new IllegalStateException("top shape must be an object")
      }
    }
    @transient private lazy val localBuf = new ThreadLocal[Buf] {
      override def initialValue(): Buf = new Buf(1024)
    }

    /** Called from generated code with the boxed leaf values (null = SQL null). */
    def encodeLeaves(vals: Array[Any]): UTF8String = {
      val b = localBuf.get()
      b.n = 0
      shapeWriter(vals, b)
      UTF8String.fromBytes(b.a, 0, b.n)
    }

    override def eval(input: InternalRow): Any = {
      val vals = new Array[Any](children.length)
      var i = 0
      while (i < children.length) { vals(i) = children(i).eval(input); i += 1 }
      encodeLeaves(vals)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val enc = ctx.addReferenceObj("fusedJsonTpl", this, classOf[FusedJsonTemplate].getName)
      val vals = ctx.freshName("jsonLeaves")
      val evals = children.map(_.genCode(ctx))
      val fill = evals.zipWithIndex.map { case (e, i) =>
        // primitives box via Box.valueOf(...): a cast `($box) ${e.value}`
        // breaks on values that stringify with a leading '-' (null
        // literals default to -1L) — Janino parses `(java.lang.Long) -1L`
        // as BINARY MINUS off a class name and fails compile, which
        // silently dropped the whole projection to interpreter mode.
        // Reference types need no cast to assign into Object[].
        val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        val assign =
          if (cg.isPrimitiveType(children(i).dataType))
            s"$vals[$i] = ${cg.boxedType(children(i).dataType)}.valueOf(${e.value});"
          else s"$vals[$i] = ${e.value};"
        s"""${e.code}
           |if (!${e.isNull}) $assign""".stripMargin
      }.mkString("\n")
      ev.copy(
        code = org.apache.spark.sql.catalyst.expressions.codegen.CodeBlock(
          Seq(s"""Object[] $vals = new Object[${children.length}];
                 |$fill
                 |org.apache.spark.unsafe.types.UTF8String ${ev.value} =
                 |  $enc.encodeLeaves($vals);""".stripMargin),
          Seq.empty),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }
}

/** Static helpers callable from generated code. */
object JsonEncodeRt {
  /** Write `v` as decimal digits into `a` at `off`; returns the new end. */
  def writeLong(a: Array[Byte], off: Int, v: Long): Int = {
    if (v == Long.MinValue) {
      val s = "-9223372036854775808".getBytes
      System.arraycopy(s, 0, a, off, s.length)
      return off + s.length
    }
    var o = off
    var x = v
    if (x < 0) { a(o) = '-'; o += 1; x = -x }
    var digits = 1
    var probe = x
    while (probe >= 10) { probe /= 10; digits += 1 }
    var i = o + digits - 1
    while (i >= o) { a(i) = ('0' + (x % 10).toInt).toByte; x /= 10; i -= 1 }
    o + digits
  }
}
