package graft.operators

import graft.core.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Filter processor: three gates ANDed — op gate, table gate (glob allow-list),
 * field-predicate gate over the `after` JSON payload with `match_mode: all|any`.
 *
 * Reference semantics: crates/processors/src/filter.rs:46-257 and
 * crates/deltaforge-config/src/filter_cfg.rs:12-135. Everything compiles to
 * built-in Catalyst expressions (`get_json_object`, comparisons, `rlike`) —
 * no UDFs, fully codegen'd, and predicates on payload fields are pushable
 * by Catalyst when the payload is later projected to typed columns.
 */
object FilterProcessor {

  sealed trait MatchMode
  case object MatchAll extends MatchMode
  case object MatchAny extends MatchMode

  /**
   * Field predicate ops over dot-paths into `after`
   * (reference filter.rs:132-210). Path resolution: `a.b.c` → `$.a.b.c`;
   * JSON null ⇒ "not exists" (filter.rs:265-271).
   *
   * Known divergence (documented): ordering predicates with a STRING
   * needle compare the extracted text lexicographically; the reference's
   * cmp_values returns None (false) when the field is a number and the
   * needle a string. JSON-path extraction erases the number-vs-string
   * distinction ("42" and 42 both extract as `42`), so that case cannot
   * be told apart here — use numeric needles for numeric fields.
   */
  sealed trait FieldPredicate { def path: String }
  case class Eq(path: String, value: Any) extends FieldPredicate
  case class Ne(path: String, value: Any) extends FieldPredicate
  case class Gt(path: String, value: Any) extends FieldPredicate
  case class Gte(path: String, value: Any) extends FieldPredicate
  case class Lt(path: String, value: Any) extends FieldPredicate
  case class Lte(path: String, value: Any) extends FieldPredicate
  case class In(path: String, values: Seq[Any]) extends FieldPredicate
  case class NotIn(path: String, values: Seq[Any]) extends FieldPredicate
  case class Contains(path: String, value: Any) extends FieldPredicate
  case class Regex(path: String, pattern: String) extends FieldPredicate
  case class Exists(path: String) extends FieldPredicate
  case class NotExists(path: String) extends FieldPredicate
  /** before-vs-after change; passes unconditionally on create/delete (filter.rs:275-289). */
  case class Changed(path: String) extends FieldPredicate

  case class Config(
      ops: Seq[String] = Nil, // empty = all ops pass
      tables: Seq[String] = Nil, // empty = all tables pass; glob patterns
      predicates: Seq[FieldPredicate] = Nil,
      matchMode: MatchMode = MatchAll)

  private def jsonPath(path: String): String = "$." + path

  private def field(payload: Column, path: String): Column =
    get_json_object(payload, jsonPath(path))

  /**
   * Compile one predicate given field-access functions for the `after` and
   * `before` payloads. `afterF`/`beforeF` map a dot-path to the extracted
   * string value — either a fresh `get_json_object` (compat path) or a
   * pre-extracted parse-once column (the hot path, see [[apply]]).
   */
  private def compileOn(
      p: FieldPredicate,
      afterF: String => Column,
      beforeF: String => Column): Column = {
    // numeric-aware: `42 == 42.0` (reference json_eq, filter.rs:292-300) —
    // a numeric config value compares as doubles, anything else as strings
    def cmpF(path: String, value: Any, f: (Column, Column) => Column): Column = {
      val raw = afterF(path)
      value match {
        case n: Int => f(raw.cast(DoubleType), lit(n.toDouble))
        case n: Long => f(raw.cast(DoubleType), lit(n.toDouble))
        case n: Double => f(raw.cast(DoubleType), lit(n))
        case n: BigDecimal => f(raw.cast(DoubleType), lit(n.toDouble))
        case s => f(raw, lit(s.toString))
      }
    }
    val c = p match {
      case Eq(path, v) => cmpF(path, v, _ === _)
      case Ne(path, v) => cmpF(path, v, _ =!= _)
      case Gt(path, v) => cmpF(path, v, _ > _)
      case Gte(path, v) => cmpF(path, v, _ >= _)
      case Lt(path, v) => cmpF(path, v, _ < _)
      case Lte(path, v) => cmpF(path, v, _ <= _)
      case In(path, vs) =>
        val raw = afterF(path)
        if (vs.forall(_.isInstanceOf[String])) raw.isin(vs: _*)
        else raw.cast(DoubleType).isin(vs.map(v => v.toString.toDouble): _*)
      case NotIn(path, vs) =>
        // not_in passes when the field is missing (reference filter.rs:177-184)
        val raw = afterF(path)
        val inC =
          if (vs.forall(_.isInstanceOf[String])) raw.isin(vs: _*)
          else raw.cast(DoubleType).isin(vs.map(v => v.toString.toDouble): _*)
        raw.isNull || !inC
      case Contains(path, v) =>
        // reference semantics (filter.rs:185-198 + json_eq :292-300):
        // STRING field + string needle → substring; ARRAY field → element
        // membership where the NEEDLE'S TYPE matters (a string needle never
        // matches a numeric element and vice versa; 42 == 42.0 numerically);
        // a numeric needle on a string field is false (needle.as_str fails)
        val raw = afterF(path)
        v match {
          case n @ (_: Int | _: Long | _: Double | _: BigDecimal) =>
            when(raw.startsWith("["),
              graft.functions.JsonPathOps.jsonArrayContains(
                raw, n.toString, numericNeedle = true))
              .otherwise(lit(false))
          case s =>
            when(raw.startsWith("["),
              graft.functions.JsonPathOps.jsonArrayContains(
                raw, s.toString, numericNeedle = false))
              .otherwise(raw.contains(s.toString))
        }
      case Regex(path, pat) => afterF(path).rlike(pat)
      case Exists(path) => afterF(path).isNotNull
      case NotExists(path) => afterF(path).isNull
      case Changed(path) =>
        col("op").isin(ChangeEvent.Op.Create, ChangeEvent.Op.Delete) ||
          !(beforeF(path) <=> afterF(path))
    }
    coalesce(c, lit(false))
  }

  /** Compile one predicate to a Catalyst Column (null-safe: null ⇒ false). */
  def compile(p: FieldPredicate): Column =
    compileOn(p, field(col("after"), _), field(col("before"), _))

  /**
   * Compile a table glob allow-list to one Column over `db.table`.
   * Patterns (reference common/src/patterns.rs:47-198): exact `db.table`,
   * bare `table`, `db.*`, `prefix%`, `*.table`.
   */
  def tablePredicate(patterns: Seq[String]): Column = {
    val qual = ChangeEvent.qualifiedTable
    val bare = col("source.table")
    patterns.map { p =>
      if (p.endsWith(".*")) qual.startsWith(p.dropRight(1))
      else if (p.startsWith("*.")) bare === p.drop(2)
      else if (p.endsWith("%")) bare.startsWith(p.dropRight(1)) || qual.startsWith(p.dropRight(1))
      else if (p.contains(".")) qual === p
      else bare === p
    }.reduceOption(_ || _).getOrElse(lit(true))
  }

  /** Full gate: op AND table AND (predicates folded by match_mode). */
  def gate(cfg: Config): Column = {
    val opGate = if (cfg.ops.isEmpty) lit(true) else col("op").isin(cfg.ops: _*)
    val tableGate = if (cfg.tables.isEmpty) lit(true) else tablePredicate(cfg.tables)
    val fieldGate = cfg.predicates.map(compile) match {
      case Nil => lit(true)
      case ps => cfg.matchMode match {
        case MatchAll => ps.reduce(_ && _)
        case MatchAny => ps.reduce(_ || _)
      }
    }
    opGate && tableGate && fieldGate
  }

  /**
   * Parse-once filter. The op/table gates go first (they push down to the
   * scan); payload predicates then read columns produced by ONE fused
   * [[graft.functions.JsonPathOps.JsonPathsGenerate]] pass over `after`
   * (plus one over `before` iff any `changed` predicate) — the reference's
   * one-parse-per-event cost model (crates/processors/src/filter.rs:111-130),
   * vs one full re-parse per predicate with naive `get_json_object`.
   */
  /**
   * `keep` (r17): downstream projections that need `after` fields were
   * re-parsing the payload once per `get_json_object` AFTER the gate's
   * parse-once pass already scanned it — `keep = Seq(path -> outName)`
   * rides those fields on the SAME single parse and emits them as extra
   * string columns (value-identical to `get_json_object(after, $.path)`;
   * spec-pinned). Callers cast/rename as needed. Output names must be new:
   * distinct from each other and from the input's columns, and outside the
   * `__jpa`/`__jpb` staging namespace (compared case-insensitively, as
   * Spark resolves names by default) — otherwise a kept field would
   * silently overwrite, shadow or be dropped with a column.
   */
  def apply(cfg: Config, keep: Seq[(String, String)] = Nil)(df: DataFrame): DataFrame = {
    val outs = keep.map(_._2.toLowerCase)
    val dupOuts = outs.diff(outs.distinct).distinct
    require(dupOuts.isEmpty, s"keep output names repeat: ${dupOuts.mkString(", ")}")
    lazy val inputs = df.columns.map(_.toLowerCase).toSet
    val clashes = keep.map(_._2).filter(o => inputs(o.toLowerCase))
    require(clashes.isEmpty, s"keep output names collide with input columns: ${clashes.mkString(", ")}")
    val staging = keep.map(_._2).filter(o => Seq("__jpa", "__jpb").exists(o.toLowerCase.startsWith))
    require(staging.isEmpty, s"keep output names use the reserved __jpa/__jpb prefix: ${staging.mkString(", ")}")

    val opGate = if (cfg.ops.isEmpty) lit(true) else col("op").isin(cfg.ops: _*)
    val tableGate = if (cfg.tables.isEmpty) lit(true) else tablePredicate(cfg.tables)
    val pre = df.filter(opGate && tableGate)
    if (cfg.predicates.isEmpty && keep.isEmpty) return pre

    import graft.functions.JsonPathOps.jsonPathsTuple
    val afterPaths = (cfg.predicates.map(_.path) ++ keep.map(_._1)).distinct
    val beforePaths = cfg.predicates.collect { case Changed(p) => p }.distinct
    // single-predicate fast path: one get_json_object IS the one parse, and
    // it stays inside whole-stage codegen (a Generate breaks the span).
    // Needs ONE predicate, not just one distinct path — two predicates over
    // the same path would each parse in a Filter (no CSE there).
    if (cfg.predicates.size == 1 && beforePaths.isEmpty && keep.isEmpty) {
      val fieldGate = cfg.predicates
        .map(p => compileOn(p, field(col("after"), _), field(col("before"), _)))
        .reduce((a: Column, b: Column) => if (cfg.matchMode == MatchAll) a && b else a || b)
      return pre.filter(fieldGate)
    }
    val aNames = afterPaths.indices.map(i => s"__jpa$i")
    val bNames = beforePaths.indices.map(i => s"__jpb$i")
    val aCol = afterPaths.zip(aNames).toMap
    val bCol = beforePaths.zip(bNames).toMap

    var staged = pre.select(col("*"), jsonPathsTuple(col("after"), afterPaths).as(aNames))
    if (beforePaths.nonEmpty)
      staged = staged.select(col("*"), jsonPathsTuple(col("before"), beforePaths).as(bNames))

    val filtered = cfg.predicates
      .map(p => compileOn(p, path => col(aCol(path)), path => col(bCol(path))))
      .reduceOption((a: Column, b: Column) => if (cfg.matchMode == MatchAll) a && b else a || b)
      .map(staged.filter).getOrElse(staged)
    val kept = keep.foldLeft(filtered) { case (d, (path, out)) =>
      d.withColumn(out, col(aCol(path)))
    }
    kept.drop(aNames ++ bNames: _*)
  }
}
