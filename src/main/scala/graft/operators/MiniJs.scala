package graft.operators

import scala.collection.mutable

/**
 * A small JavaScript interpreter: tokenizer → recursive-descent/Pratt parser
 * → tree-walking evaluator. Exists because the reference's P-3 processor
 * executes USER-SUPPLIED JAVASCRIPT (crates/processors/src/js.rs:84-130 via
 * deno_core/V8) and this build environment has no JS engine to embed (no
 * GraalJS jar, Nashorn removed in Java 17) — so the contract is implemented
 * rather than delegated: [[ScriptHost]] runs every user script on it.
 *
 * Scope — the ES subset the reference contract and its test corpus use
 * (js_processor_tests.rs): function declarations and expressions, arrow
 * functions (lexical `this`), closures, var/let/const, if/else, while,
 * for(;;), for-of, break/continue/return, ternary/logical/equality/
 * relational/arithmetic operators, compound and member/index assignment,
 * delete, typeof, object/array literals, method calls with `this` binding,
 * and the built-ins the contract leans on: JSON.parse/stringify,
 * Array.isArray + array methods (push/pop/filter/map/forEach/slice/concat/
 * indexOf/includes/join), Object.keys/values, String methods, Math, Number/
 * String/Boolean/parseInt/parseFloat, console.log. Numbers are IEEE doubles
 * (exactly JS semantics — the i64 re-normalization caveat js.rs:1-33 applies
 * identically and is handled at the host boundary).
 *
 * Also supported: template literals (with nested `${}` interpolation),
 * try/catch/finally (user `throw` values bind in the catch; engine errors
 * surface as Error-shaped objects; the step budget is never catchable),
 * destructuring (object/array patterns with nesting, renaming, defaults,
 * and rest — in declarations, parameters, for-of, and (r9) assignment
 * expressions: `[a, b] = arr`, `({x: p, ...rest} = o)`, with defaults
 * via the same cover grammar JS uses — `{a = 1}` parses only as a
 * pattern), and spread (array literals, call arguments, object
 * literals, rest parameters).
 *
 * Regex: literals (`/re/gims`, lexed with the standard
 * cannot-follow-a-value heuristic) compile to java.util.regex — the
 * syntaxes agree on the contract subset (classes, groups, alternation,
 * anchors, \d \w \s, quantifiers). Supported call surface:
 * `r.test/exec/source/flags/global`, `s.match/search/split/replace/
 * replaceAll` with regex args (string AND function replacements, JS `$&`/
 * `$1` references), and a new-less `RegExp(source, flags)` constructor.
 * Divergences (documented): `exec` has no `lastIndex` statefulness, match
 * arrays carry no `index`/`input` properties, and named groups /
 * lookbehind follow Java semantics.
 *
 * Classes & `new` (r9): `new F(args)` (functions get an auto-created
 * `F.prototype`, member lookup walks the prototype chain; an explicit
 * object return from the constructor wins), `class`/`extends`/`super(...)`
 * /`super.m()`/`static` members/instance+static fields, `instanceof`
 * (proto-chain walk), `f.call/apply/bind`, and an `Error`/`TypeError`/
 * `RangeError`/`SyntaxError` hierarchy bootstrapped through the engine's
 * own class support — `throw new Error(x)` and `e instanceof Error` (incl.
 * engine-raised errors in catch) behave like JS. Documented divergences:
 * a derived class's field initializers run before its constructor body
 * (JS runs them after `super()` returns); a class constructor invoked
 * without `new` constructs leniently instead of throwing; string
 * conversion of objects does not consult a user `toString` (static
 * `"[object Object]"` — call `.toString()` explicitly).
 *
 * `Object.create(proto[, descriptors])` (descriptor maps contribute their
 * plain `value` only), `Object.getPrototypeOf`/`setPrototypeOf` are
 * supported. Getters/setters (r9): `get x()`/`set x(v)` in object
 * literals and class bodies (incl. static); reads invoke the getter
 * with the receiver as `this`, assignment routes to the setter found
 * own-or-prototype, a get-only accessor ignores assignment
 * (non-strict), and keys/values/entries/assign/spread/JSON.stringify
 * perform [[Get]] so getters run during iteration; descriptor maps in
 * `Object.defineProperty`/`Object.create` produce accessor slots when
 * get/set are present. `new.target` (r9): the constructor being new'ed
 * in the current frame, propagated through `super()`, undefined in
 * plain calls, lexical through arrows. Generators (r10): `function*`,
 * `yield`/`yield*`, generator methods, next/return/throw, for-of/
 * spread/Array.from over any object with a callable `next` — bodies run
 * on a per-instance daemon thread with strict SynchronousQueue handoff
 * (abandoned instances self-expire). Async (r10): `async function`/
 * methods/arrows, `await`, `Promise` (executor, then/catch/finally,
 * resolve/reject/all/race/allSettled) under a SYNCHRONOUS microtask
 * queue — `await` drains reactions to settlement, so ordering relative
 * to a real event loop differs but data flow and error routing match;
 * a promise nothing can settle fails loudly at `await`. `yield*` runs
 * the full delegation protocol (resume values, throw, return all
 * forward into the delegate). Async generators (r11): `async function*`
 * (+ methods), next/return/throw deliver through settled promises,
 * `yield p` awaits a promised p, `for await (x of it)` settles promised
 * steps and values, `yield*` delegates to async delegates — the bridge
 * thread and the synchronous microtask queue compose because the
 * handoff guarantees one engine thread at a time. Abrupt `for-of` exit
 * (break/throw/return) closes the iterator (IteratorClose), so a
 * suspended generator runs its finally blocks immediately instead of
 * parking until idle expiry.
 * Compound/increment assignment
 * re-evaluates the target's object path (`f().x += 1` calls `f` twice) —
 * don't put side effects in assignment targets. Scripts run under a step
 * budget and recursion cap so a runaway loop fails deterministically
 * instead of pinning an executor thread.
 */
object MiniJs {

  // ————————————————————————— values —————————————————————————

  sealed trait V
  case object VUndef extends V
  case object VNull extends V
  case class VBool(b: Boolean) extends V
  case class VNum(d: Double) extends V
  case class VStr(s: String) extends V
  /** Regex value: JS literal source + flags, compiled eagerly to
   * java.util.regex (the syntaxes agree on the subset the contract's
   * scripts use: classes, groups, alternation, anchors, \d \w \s
   * quantifiers). `g` is tracked as a semantic flag — Java has no
   * equivalent; replace/match branch on it. */
  case class VRegex(source: String, flags: String, p: java.util.regex.Pattern) extends V {
    def global: Boolean = flags.contains('g')
  }
  case class VArr(items: mutable.ArrayBuffer[V]) extends V
  /** Plain class (not case class): JS object identity is reference identity
   * (strictEq already used `eq`), and the prototype slot must not take part
   * in pattern matching — `case VObj(f)` keeps working via the companion
   * unapply and sees OWN fields only. */
  class VObj(val fields: mutable.LinkedHashMap[String, V]) extends V { // open: VPromise subclasses it
    /** [[VNull]] = end of chain. Set by `new`/class evaluation only; plain
     * object literals stay proto-less (own-key iteration, JSON.stringify,
     * and spread all read `fields` and never see the chain). */
    var proto: V = VNull
  }
  object VObj {
    def apply(fields: mutable.LinkedHashMap[String, V]): VObj = new VObj(fields)
    def unapply(o: VObj): Option[mutable.LinkedHashMap[String, V]] = Some(o.fields)
  }
  final class VFunc(val params: Seq[Pat], val body: Seq[Stmt], val env: Env,
                    val isArrow: Boolean, val thisVal: V) extends V {
    /** Function properties (`F.prototype`, statics). Lazy: most functions
     * never touch them. */
    var props: mutable.LinkedHashMap[String, V] = null
    def propsMap: mutable.LinkedHashMap[String, V] = {
      if (props == null) props = mutable.LinkedHashMap[String, V]()
      props
    }
    /** `F.prototype`, auto-created on first access (as in JS). */
    def prototypeObj: VObj = propsMap.getOrElseUpdate("prototype",
      VObj(mutable.LinkedHashMap[String, V]())).asInstanceOf[VObj]
    /** The prototype object a class METHOD was defined on (home object);
     * `super.m` resolves through `homeProto.proto`. VNull for non-methods. */
    var homeProto: V = VNull
    /** Parent class function for a derived-class constructor (`super(...)`).
     * VUndef for everything else. */
    var superClass: V = VUndef
    /** Instance-field initializers (name, expr) run at construction. */
    var fieldInits: Seq[(String, Option[Expr])] = Nil
    /** True for class constructors: `new` runs field inits; a plain call
     * without `new` constructs leniently (covers `Error('x')`). */
    var isClassCtor: Boolean = false
    /** `function*` — calling returns a generator object instead of running. */
    var isGenerator: Boolean = false
    /** `async function` — calling returns a promise of the body's result. */
    var isAsync: Boolean = false
  }
  object VFunc {
    def apply(params: Seq[Pat], body: Seq[Stmt], env: Env,
              isArrow: Boolean, thisVal: V): VFunc =
      new VFunc(params, body, env, isArrow, thisVal)
    def unapply(f: VFunc): Option[(Seq[Pat], Seq[Stmt], Env, Boolean, V)] =
      Some((f.params, f.body, f.env, f.isArrow, f.thisVal))
  }
  case class VNative(name: String, fn: (V, Seq[V]) => V) extends V { // (this, args)
    /** Static properties (`Promise.resolve` & co). Lazy: most natives never
     * carry any. */
    var props: mutable.LinkedHashMap[String, V] = null
  }
  /**
   * A promise. Subclasses [[VObj]] so every object surface (member access,
   * `case VObj(f)` matches, typeof = object) applies unchanged — but the
   * state lives OUTSIDE the fields map, so `Object.keys(p)` is `[]` and
   * `JSON.stringify(p)` is `{}`, exactly as in JS. `then/catch/finally`
   * resolve through the shared promise prototype. The engine's microtask
   * queue is SYNCHRONOUS: reactions run when `await` or end-of-call drains
   * the queue (the host contract is synchronous; a promise that nothing in
   * the queue can ever settle fails loudly at `await`).
   */
  final class VPromise extends VObj(mutable.LinkedHashMap[String, V]()) {
    var state: Int = 0 // 0 pending, 1 fulfilled, 2 rejected
    var result: V = VUndef
    val reactions = mutable.ArrayBuffer[PromiseReaction]()
  }
  /** A `then` registration: handlers (None = pass-through) + the promise
   * the handler's result settles. */
  final case class PromiseReaction(onF: Option[V], onR: Option[V], downstream: VPromise)
  /** Accessor property slot (getter/setter pair), stored in an object's
   * field map. Member reads invoke the getter with the RECEIVER as
   * `this`; assignments route to the setter, found own-or-prototype (a
   * proto setter intercepts assignment, as in JS); a get-only accessor
   * silently ignores assignment (non-strict JS). Iteration surfaces
   * (Object.keys/values/entries, JSON.stringify, object spread) invoke
   * getters like JS's [[Get]] — with `this` = the object being iterated. */
  final case class VAccess(var getter: Option[V], var setter: Option[V]) extends V

  class JsError(msg: String) extends RuntimeException(msg)
  // (generator/promise runtime classes live inside Engine — see the
  // "generators (thread bridge)" and "promises" sections there)

  // ————————————————————————— AST —————————————————————————

  /**
   * Binding patterns (destructuring): a plain name, an object/array
   * pattern with optional rest, a default wrapper, or a rest PARAMETER
   * (function parameter lists only).
   */
  sealed trait Pat
  case class PName(name: String) extends Pat
  case class PDefault(p: Pat, default: Expr) extends Pat
  case class PObj(fields: Seq[(String, Pat)], rest: Option[String]) extends Pat
  case class PArr(items: Seq[Pat], rest: Option[String]) extends Pat
  case class PRest(name: String) extends Pat

  sealed trait Expr
  case class ENum(d: Double) extends Expr
  case class EStr(s: String) extends Expr
  case class ERegex(pattern: String, flags: String) extends Expr
  case class EBool(b: Boolean) extends Expr
  case object ENull extends Expr
  case object EUndef extends Expr
  case object EThis extends Expr
  case class EIdent(name: String) extends Expr
  case class EArr(items: Seq[Expr]) extends Expr
  /** key None = `...spread` entry. */
  case class EObjLit(fields: Seq[(Option[String], Expr)]) extends Expr
  case class EFunc(params: Seq[Pat], body: Seq[Stmt], isArrow: Boolean,
                   isGenerator: Boolean = false, isAsync: Boolean = false) extends Expr
  /** `yield x` / `yield* xs` — only parsed inside generator bodies. */
  case class EYield(arg: Option[Expr], delegate: Boolean) extends Expr
  /** `await x` — only parsed inside async bodies. */
  case class EAwait(e: Expr) extends Expr
  /** `get name() {...}` / `set name(v) {...}` in an object literal;
   * kind is "get" or "set". */
  case class EAccessor(kind: String, fn: EFunc) extends Expr
  /** Cover-grammar node: `{a = dflt}` inside an object literal is only
   * meaningful as a destructuring-assignment target (`({a = 1} = o)`);
   * evaluating it as an actual literal throws. */
  case class EShorthandDefault(name: String, default: Expr) extends Expr
  /** `...e` inside array literals and call argument lists. */
  case class ESpread(e: Expr) extends Expr
  case class EUnary(op: String, e: Expr) extends Expr
  case class EPostfix(op: String, e: Expr) extends Expr
  case class EBin(op: String, l: Expr, r: Expr) extends Expr
  case class ELogical(op: String, l: Expr, r: Expr) extends Expr
  case class ECond(c: Expr, t: Expr, f: Expr) extends Expr
  case class EAssign(op: String, target: Expr, value: Expr) extends Expr
  case class ECall(callee: Expr, args: Seq[Expr]) extends Expr
  case class EMember(obj: Expr, name: String) extends Expr
  case class EIndex(obj: Expr, idx: Expr) extends Expr
  case class EDelete(target: Expr) extends Expr
  case class ENew(callee: Expr, args: Seq[Expr]) extends Expr
  /** `new.target`: the constructor being new'ed in the current frame
   * (propagated through super()); undefined in plain calls. */
  case object ENewTarget extends Expr
  /** `super(...)` — only valid inside a derived-class constructor. */
  case class ESuperCall(args: Seq[Expr]) extends Expr
  /** `super.name` — only valid inside a class method. */
  case class ESuperMember(name: String) extends Expr
  /** Class member: (static?, name, value-expr or field-init). */
  case class ClassMember(static: Boolean, name: String,
                         method: Option[(Seq[Pat], Seq[Stmt])],
                         fieldInit: Option[Expr],
                         accessor: Option[String] = None, // "get" | "set"
                         isGenerator: Boolean = false, isAsync: Boolean = false)
  case class EClass(name: Option[String], parent: Option[Expr],
                    members: Seq[ClassMember]) extends Expr

  sealed trait Stmt
  case class SExpr(e: Expr) extends Stmt
  case class SVar(kind: String, decls: Seq[(Pat, Option[Expr])]) extends Stmt
  case class SFunc(name: String, params: Seq[Pat], body: Seq[Stmt],
                   isGenerator: Boolean = false, isAsync: Boolean = false) extends Stmt
  case class SIf(c: Expr, t: Stmt, f: Option[Stmt]) extends Stmt
  case class SWhile(c: Expr, body: Stmt) extends Stmt
  case class SFor(init: Option[Stmt], cond: Option[Expr], update: Option[Expr], body: Stmt) extends Stmt
  case class SForOf(pat: Pat, iterable: Expr, body: Stmt,
                    isAwait: Boolean = false) extends Stmt
  case class SForIn(varName: String, obj: Expr, body: Stmt) extends Stmt
  case class SReturn(e: Option[Expr]) extends Stmt
  case object SBreak extends Stmt
  case object SContinue extends Stmt
  case class SBlock(stmts: Seq[Stmt]) extends Stmt
  case object SEmpty extends Stmt
  case class SThrow(e: Expr) extends Stmt
  case class STry(body: Seq[Stmt], param: Option[String],
                  handler: Option[Seq[Stmt]], finalizer: Option[Seq[Stmt]]) extends Stmt

  // ————————————————————————— tokenizer —————————————————————————

  private case class Tok(kind: String, text: String, pos: Int) // kind: num str ident punct kw eof

  private val keywords = Set("function", "return", "var", "let", "const", "if", "else",
    "while", "for", "of", "in", "break", "continue", "true", "false", "null",
    "undefined", "typeof", "delete", "this", "new", "throw", "do",
    "try", "catch", "finally", "class", "extends", "super", "static",
    "instanceof")

  private def tokenize(src: String): IndexedSeq[Tok] = {
    val out = mutable.ArrayBuffer[Tok]()
    var i = 0
    val n = src.length
    def err(m: String) = throw new JsError(s"js syntax: $m at offset $i")
    // `/` is a regex literal start iff the previous token cannot END an
    // expression (the standard lexer heuristic — full JS needs parser
    // feedback, but this covers the contract's scripts): after a value
    // token, a closing bracket, or a value-like keyword, `/` is division.
    def regexAllowed: Boolean = out.lastOption match {
      case None => true
      case Some(t) => t.kind match {
        case "num" | "str" | "template" | "ident" => false
        case "kw" => !Set("this", "true", "false", "null", "undefined").contains(t.text)
        case "punct" => t.text != ")" && t.text != "]"
        case _ => true
      }
    }
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) i += 1
        if (i + 1 >= n) err("unterminated block comment")
        i += 2
      } else if (c == '/' && regexAllowed) {
        // regex literal /pattern/flags — escapes pass through verbatim; an
        // unescaped `/` inside a character class does not terminate
        val start = i
        i += 1
        val sb = new StringBuilder
        var inClass = false
        while (i < n && src.charAt(i) != '\n' && (inClass || src.charAt(i) != '/')) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) { sb.append(ch).append(src.charAt(i + 1)); i += 2 }
          else {
            if (ch == '[') inClass = true else if (ch == ']') inClass = false
            sb.append(ch); i += 1
          }
        }
        if (i >= n || src.charAt(i) != '/') err("unterminated regex literal")
        i += 1
        val flagStart = i
        while (i < n && src.charAt(i).isLetter) i += 1
        // one token, FLAGS FIRST: flags are letters-only so the first ' '
        // is an unambiguous separator (the pattern itself may contain any
        // character, including spaces)
        out += Tok("regex", src.substring(flagStart, i) + " " + sb.toString, start)
      } else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.')) i += 1
        if (i < n && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
          i += 1
          if (i < n && (src.charAt(i) == '+' || src.charAt(i) == '-')) i += 1
          while (i < n && src.charAt(i).isDigit) i += 1
        }
        out += Tok("num", src.substring(start, i), start)
      } else if (c == '"' || c == '\'') {
        val quote = c
        val start = i
        i += 1
        val sb = new StringBuilder
        while (i < n && src.charAt(i) != quote) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            src.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case '0' => sb.append('\u0000'); i += 2
              case 'u' if i + 5 < n =>
                sb.append(Integer.parseInt(src.substring(i + 2, i + 6), 16).toChar); i += 6
              case other => sb.append(other); i += 2
            }
          } else { sb.append(ch); i += 1 }
        }
        if (i >= n) err("unterminated string")
        i += 1
        out += Tok("str", sb.toString, start)
      } else if (c == '`') {
        // template literal: raw inner text as one token; the parser splits
        // literal parts from ${...} interpolations (brace-depth aware)
        val start = i
        i += 1
        val sb = new StringBuilder
        var depth = 0
        while (i < n && !(depth == 0 && src.charAt(i) == '`')) {
          val ch = src.charAt(i)
          if (ch == '\\' && i + 1 < n) { sb.append(ch).append(src.charAt(i + 1)); i += 2 }
          else {
            if (ch == '$' && i + 1 < n && src.charAt(i + 1) == '{') depth += 1
            else if (ch == '}' && depth > 0) depth -= 1
            sb.append(ch); i += 1
          }
        }
        if (i >= n) err("unterminated template literal")
        i += 1
        out += Tok("template", sb.toString, start)
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_' || src.charAt(i) == '$')) i += 1
        val w = src.substring(start, i)
        out += Tok(if (keywords(w)) "kw" else "ident", w, start)
      } else {
        val start = i
        val three = if (i + 3 <= n) src.substring(i, i + 3) else ""
        val two = if (i + 2 <= n) src.substring(i, i + 2) else ""
        val p =
          if (three == "===" || three == "!==" || three == "...") { i += 3; three }
          else if (Set("==", "!=", "<=", ">=", "&&", "||", "=>", "++", "--",
            "+=", "-=", "*=", "/=", "%=").contains(two)) { i += 2; two }
          else { i += 1; c.toString }
        out += Tok("punct", p, start)
      }
    }
    out += Tok("eof", "", n)
    out.toIndexedSeq
  }

  // ————————————————————————— parser —————————————————————————

  private class Parser(toks: IndexedSeq[Tok]) {
    private var pos = 0
    private def peek: Tok = toks(pos)
    private def peek2: Tok = toks(math.min(pos + 1, toks.length - 1))
    private def peekAt(n: Int): Tok = toks(math.min(pos + n, toks.length - 1))

    /** Contextual reserved words, as in JS: `yield` is an expression only
     * inside generator bodies, `await` only inside async bodies — outside
     * those contexts both stay ordinary identifiers. Arrows inherit the
     * enclosing context (they cannot be generators themselves); plain
     * function/method bodies reset it. */
    private var inGenerator = false
    private var inAsync = false
    /** Parse a `{...}` function body under the given yield/await context. */
    private def fnBody(gen: Boolean, async: Boolean): Seq[Stmt] = {
      val (sg, sa) = (inGenerator, inAsync)
      inGenerator = gen; inAsync = async
      try { expect("punct", "{"); parseStmtsUntilBrace() }
      finally { inGenerator = sg; inAsync = sa }
    }
    /** Arrow body with `await` enabled (async arrows). */
    private def asyncArrowBody(): Seq[Stmt] = {
      val (sg, sa) = (inGenerator, inAsync)
      inGenerator = false; inAsync = true
      try parseArrowBody() finally { inGenerator = sg; inAsync = sa }
    }
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def err(m: String): Nothing =
      throw new JsError(s"js syntax: $m near '${peek.text}' (offset ${peek.pos})")
    private def expect(kind: String, text: String = null): Tok = {
      val t = next()
      if (t.kind != kind || (text != null && t.text != text))
        throw new JsError(s"js syntax: expected ${Option(text).getOrElse(kind)}, got '${t.text}' (offset ${t.pos})")
      t
    }
    private def isPunct(s: String): Boolean = peek.kind == "punct" && peek.text == s
    private def isKw(s: String): Boolean = peek.kind == "kw" && peek.text == s
    private def eatPunct(s: String): Boolean = { if (isPunct(s)) { pos += 1; true } else false }

    def parseProgram(): Seq[Stmt] = {
      val out = Seq.newBuilder[Stmt]
      while (peek.kind != "eof") out += parseStmt()
      out.result()
    }

    private def parseStmt(): Stmt = {
      if (isPunct("{")) { next(); parseBlockTail() }
      else if (isPunct(";")) { next(); SEmpty }
      else if (isKw("function")) {
        next()
        val isGen = eatPunct("*")
        val name = expect("ident").text
        val params = parseParams()
        SFunc(name, params, fnBody(isGen, async = false), isGenerator = isGen)
      } else if (peek.kind == "ident" && peek.text == "async" &&
                 peek2.kind == "kw" && peek2.text == "function") {
        next(); next()
        val isGen = eatPunct("*") // async function*: both contexts active
        val name = expect("ident").text
        val params = parseParams()
        SFunc(name, params, fnBody(isGen, async = true),
          isGenerator = isGen, isAsync = true)
      } else if (isKw("class")) {
        val e = parseClass()
        val n = e.name.getOrElse(err("class declaration requires a name"))
        SVar("let", Seq((PName(n), Some(e))))
      } else if (isKw("var") || isKw("let") || isKw("const")) {
        val kind = next().text
        val decls = Seq.newBuilder[(Pat, Option[Expr])]
        var more = true
        while (more) {
          val pat = parsePattern()
          val init = if (eatPunct("=")) Some(parseAssign()) else None
          decls += ((pat, init))
          more = eatPunct(",")
        }
        eatPunct(";")
        SVar(kind, decls.result())
      } else if (isKw("if")) {
        next(); expect("punct", "(")
        val c = parseExpr(); expect("punct", ")")
        val t = parseStmt()
        val f = if (isKw("else")) { next(); Some(parseStmt()) } else None
        SIf(c, t, f)
      } else if (isKw("while")) {
        next(); expect("punct", "(")
        val c = parseExpr(); expect("punct", ")")
        SWhile(c, parseStmt())
      } else if (isKw("do")) {
        next()
        val body = parseStmt()
        if (!isKw("while")) err("expected while after do")
        next(); expect("punct", "("); val c = parseExpr(); expect("punct", ")"); eatPunct(";")
        // do-while desugars to: body; while(c) body
        SBlock(Seq(body, SWhile(c, body)))
      } else if (isKw("for")) {
        next()
        // `for await (x of e)` — contextual, async bodies only (as in JS)
        val isAwait = inAsync && peek.kind == "ident" && peek.text == "await" && {
          next(); true
        }
        expect("punct", "(")
        // for (const x of e) | for (x of e) | for (const [a,b] of e) |
        // for (init; cond; update)
        val save = pos
        val declKind = if (isKw("var") || isKw("let") || isKw("const")) Some(next().text) else None
        if (peek.kind == "ident" && (peek2.kind == "kw" && (peek2.text == "of" || peek2.text == "in"))) {
          val name = next().text
          val kind = next().text // of | in
          val it = parseExpr()
          expect("punct", ")")
          val body = parseStmt()
          if (kind == "of") SForOf(PName(name), it, body, isAwait)
          else if (isAwait) err("for await requires 'of'")
          else SForIn(name, it, body)
        } else if (declKind.isDefined && (isPunct("{") || isPunct("["))) {
          val pat = parsePattern()
          if (!isKw("of")) err("destructuring for-loop needs 'of'")
          next()
          val it = parseExpr()
          expect("punct", ")")
          SForOf(pat, it, parseStmt(), isAwait)
        } else {
          if (isAwait) err("for await requires 'of'")
          pos = save
          val init: Option[Stmt] =
            if (isPunct(";")) { next(); None }
            else { val s = parseStmt(); s match { case SVar(_, _) | SExpr(_) => (); case _ => err("bad for-init") }; Some(s) }
          val cond = if (isPunct(";")) None else Some(parseExpr())
          expect("punct", ";")
          val update = if (isPunct(")")) None else Some(parseExpr())
          expect("punct", ")")
          SFor(init, cond, update, parseStmt())
        }
      } else if (isKw("try")) {
        next(); expect("punct", "{")
        val body = parseStmtsUntilBrace()
        var param: Option[String] = None
        var handler: Option[Seq[Stmt]] = None
        if (isKw("catch")) {
          next()
          if (eatPunct("(")) { param = Some(expect("ident").text); expect("punct", ")") }
          expect("punct", "{")
          handler = Some(parseStmtsUntilBrace())
        }
        val finalizer = if (isKw("finally")) {
          next(); expect("punct", "{"); Some(parseStmtsUntilBrace())
        } else None
        if (handler.isEmpty && finalizer.isEmpty) err("try needs catch or finally")
        STry(body, param, handler, finalizer)
      } else if (isKw("return")) {
        next()
        val e = if (isPunct(";") || isPunct("}") || peek.kind == "eof") None else Some(parseExpr())
        eatPunct(";")
        SReturn(e)
      } else if (isKw("break")) { next(); eatPunct(";"); SBreak }
      else if (isKw("continue")) { next(); eatPunct(";"); SContinue }
      else if (isKw("throw")) { next(); val e = parseExpr(); eatPunct(";"); SThrow(e) }
      else { val e = parseExpr(); eatPunct(";"); SExpr(e) }
    }

    private def parseBlockTail(): SBlock = SBlock(parseStmtsUntilBrace())

    private def parseStmtsUntilBrace(): Seq[Stmt] = {
      val out = Seq.newBuilder[Stmt]
      while (!isPunct("}")) {
        if (peek.kind == "eof") err("unterminated block")
        out += parseStmt()
      }
      next() // }
      out.result()
    }

    /** `a${x}b${y}` → (("" + "a") + str(x) + "b" + str(y)) via `+` folds. */
    private def parseTemplate(raw: String): Expr = {
      def unescape(s: String): String = {
        val sb = new StringBuilder
        var i = 0
        while (i < s.length) {
          if (s.charAt(i) == '\\' && i + 1 < s.length) {
            s.charAt(i + 1) match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r'); case other => sb.append(other)
            }
            i += 2
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        sb.toString
      }
      var acc: Expr = null
      def add(e: Expr): Unit = acc = if (acc == null) e else EBin("+", acc, e)
      var i = 0
      var lit = new StringBuilder
      while (i < raw.length) {
        if (raw.charAt(i) == '\\' && i + 1 < raw.length) { lit.append(raw.charAt(i)).append(raw.charAt(i + 1)); i += 2 }
        else if (raw.charAt(i) == '$' && i + 1 < raw.length && raw.charAt(i + 1) == '{') {
          add(EStr(unescape(lit.toString))); lit = new StringBuilder
          var depth = 1
          val start = i + 2
          i += 2
          while (i < raw.length && depth > 0) {
            if (raw.charAt(i) == '{') depth += 1
            else if (raw.charAt(i) == '}') depth -= 1
            if (depth > 0) i += 1
          }
          if (depth > 0) err("unterminated ${ in template")
          val inner = raw.substring(start, i)
          i += 1 // closing }
          // force string coercion: "" + expr
          add(EBin("+", EStr(""), new Parser(tokenize(inner)).parseExpr()))
        } else { lit.append(raw.charAt(i)); i += 1 }
      }
      add(EStr(unescape(lit.toString)))
      acc
    }

    /**
     * One binding pattern: `name`, `{a, b: x, c = 1, ...rest}`,
     * `[x, y = 2, ...rest]`, nested arbitrarily; an optional `= default`
     * wraps any pattern (callers that also accept initializers — var
     * declarations — parse their own `=` BEFORE this default, so defaults
     * here appear only inside enclosing patterns and parameter lists).
     */
    private def parsePattern(): Pat = {
      val base: Pat =
        if (isPunct("{")) {
          next()
          val fields = Seq.newBuilder[(String, Pat)]
          var rest: Option[String] = None
          if (!isPunct("}")) {
            var more = true
            while (more) {
              if (eatPunct("...")) {
                rest = Some(expect("ident").text)
                more = false
              } else {
                val keyTok = next()
                if (keyTok.kind != "ident" && keyTok.kind != "str" && keyTok.kind != "kw")
                  err("bad destructuring key")
                val key = keyTok.text
                val sub0: Pat =
                  if (eatPunct(":")) parsePattern()
                  else PName(key)
                val sub = if (isPunct("=")) { next(); PDefault(sub0, parseAssign()) } else sub0
                fields += ((key, sub))
                more = eatPunct(",") && !isPunct("}")
              }
            }
          }
          expect("punct", "}")
          PObj(fields.result(), rest)
        } else if (isPunct("[")) {
          next()
          val items = Seq.newBuilder[Pat]
          var rest: Option[String] = None
          if (!isPunct("]")) {
            var more = true
            while (more) {
              if (eatPunct("...")) {
                rest = Some(expect("ident").text)
                more = false
              } else {
                val p = parsePattern()
                items += (if (isPunct("=")) { next(); PDefault(p, parseAssign()) } else p)
                more = eatPunct(",") && !isPunct("]")
              }
            }
          }
          expect("punct", "]")
          PArr(items.result(), rest)
        } else PName(expect("ident").text)
      base // `= default` is parsed by each enclosing site (a var
           // declaration's `=` is an initializer, not a default)
    }

    private def parseParams(): Seq[Pat] = {
      expect("punct", "(")
      val out = parseParamsTail()
      expect("punct", ")")
      out
    }

    /** Comma-separated parameter patterns up to (not including) `)`. */
    private def parseParamsTail(): Seq[Pat] = {
      val out = Seq.newBuilder[Pat]
      if (!isPunct(")")) {
        var more = true
        while (more) {
          if (eatPunct("...")) { out += PRest(expect("ident").text); more = false }
          else {
            val p = parsePattern()
            out += (if (isPunct("=")) { next(); PDefault(p, parseAssign()) } else p)
            more = eatPunct(",")
          }
        }
      }
      out.result()
    }

    def parseExpr(): Expr = {
      var e = parseAssign()
      while (isPunct(",")) { next(); e = { val r = parseAssign(); EBin(",", e, r) } }
      e
    }

    private def parseAssign(): Expr = {
      // `yield [*] expr?` — contextual: an expression only inside generators
      if (inGenerator && peek.kind == "ident" && peek.text == "yield") {
        next()
        val delegate = eatPunct("*")
        val arg =
          if (delegate) Some(parseAssign())
          else if (peek.kind == "eof" ||
            (peek.kind == "punct" &&
              Set(";", ")", "]", "}", ",", ":").contains(peek.text))) None
          else Some(parseAssign())
        return EYield(arg, delegate)
      }
      // async function expressions and async arrows
      if (peek.kind == "ident" && peek.text == "async") {
        if (peek2.kind == "kw" && peek2.text == "function") {
          next(); next()
          val isGen = eatPunct("*")
          if (peek.kind == "ident") next() // named async fn expr: ignore name
          val params = parseParams()
          return EFunc(params, fnBody(isGen, async = true),
            isArrow = false, isGenerator = isGen, isAsync = true)
        }
        if (peek2.kind == "ident" && peekAt(2).kind == "punct" && peekAt(2).text == "=>") {
          next(); val p = next().text; next()
          return EFunc(Seq(PName(p)), asyncArrowBody(), isArrow = true, isAsync = true)
        }
        if (peek2.kind == "punct" && peek2.text == "(") {
          val save = pos
          next(); next()
          val attempt =
            try {
              val params = parseParamsTail()
              if (isPunct(")") && peek2.kind == "punct" && peek2.text == "=>") Some(params)
              else None
            } catch { case _: JsError => None }
          attempt match {
            case Some(params) =>
              next(); next()
              return EFunc(params, asyncArrowBody(), isArrow = true, isAsync = true)
            case None => pos = save
          }
        }
      }
      // arrow functions: ident => ... | (a, {b}, ...rest) => ...
      if (peek.kind == "ident" && peek2.kind == "punct" && peek2.text == "=>") {
        val p = next().text; next()
        return EFunc(Seq(PName(p)), parseArrowBody(), isArrow = true)
      }
      if (isPunct("(")) { // try (params) => — full patterns, backtrack on failure
        val save = pos
        next()
        val attempt =
          try {
            val params = parseParamsTail()
            if (isPunct(")") && peek2.kind == "punct" && peek2.text == "=>") Some(params)
            else None
          } catch { case _: JsError => None }
        attempt match {
          case Some(params) =>
            next(); next()
            return EFunc(params, parseArrowBody(), isArrow = true)
          case None => pos = save
        }
      }
      val target = parseCond()
      if (peek.kind == "punct" && Set("=", "+=", "-=", "*=", "/=", "%=").contains(peek.text)) {
        val op = next().text
        target match {
          case EIdent(_) | EMember(_, _) | EIndex(_, _) =>
            EAssign(op, target, parseAssign())
          case EArr(_) | EObjLit(_) if op == "=" => // destructuring assignment
            EAssign(op, target, parseAssign())
          case _ => err("invalid assignment target")
        }
      } else target
    }

    private def parseArrowBody(): Seq[Stmt] =
      if (isPunct("{")) { next(); parseStmtsUntilBrace() }
      else Seq(SReturn(Some(parseAssign())))

    private def parseCond(): Expr = {
      val c = parseLogicalOr()
      if (eatPunct("?")) {
        val t = parseAssign(); expect("punct", ":"); ECond(c, t, parseAssign())
      } else c
    }

    private def parseLogicalOr(): Expr = {
      var l = parseLogicalAnd()
      while (isPunct("||")) { next(); l = ELogical("||", l, parseLogicalAnd()) }
      l
    }
    private def parseLogicalAnd(): Expr = {
      var l = parseEquality()
      while (isPunct("&&")) { next(); l = ELogical("&&", l, parseEquality()) }
      l
    }
    private def parseEquality(): Expr = {
      var l = parseRelational()
      while (peek.kind == "punct" && Set("==", "!=", "===", "!==").contains(peek.text)) {
        val op = next().text; l = EBin(op, l, parseRelational())
      }
      l
    }
    private def parseRelational(): Expr = {
      var l = parseAdditive()
      while ((peek.kind == "punct" && Set("<", "<=", ">", ">=").contains(peek.text))
        || isKw("in") || isKw("instanceof")) {
        val op = next().text; l = EBin(op, l, parseAdditive())
      }
      l
    }
    private def parseAdditive(): Expr = {
      var l = parseMultiplicative()
      while (isPunct("+") || isPunct("-")) { val op = next().text; l = EBin(op, l, parseMultiplicative()) }
      l
    }
    private def parseMultiplicative(): Expr = {
      var l = parseUnary()
      while (isPunct("*") || isPunct("/") || isPunct("%")) { val op = next().text; l = EBin(op, l, parseUnary()) }
      l
    }
    private def parseUnary(): Expr = {
      if (isPunct("!")) { next(); EUnary("!", parseUnary()) }
      else if (isPunct("-")) { next(); EUnary("-", parseUnary()) }
      else if (isPunct("+")) { next(); EUnary("+", parseUnary()) }
      else if (isPunct("++")) { next(); EUnary("++", parseUnary()) }
      else if (isPunct("--")) { next(); EUnary("--", parseUnary()) }
      else if (isKw("typeof")) { next(); EUnary("typeof", parseUnary()) }
      else if (isKw("delete")) { next(); EDelete(parseUnary()) }
      else if (inAsync && peek.kind == "ident" && peek.text == "await" &&
               !(peek2.kind == "punct" &&
                 Set(";", ")", "]", "}", ",", ":", "=", "=>").contains(peek2.text))) {
        next(); EAwait(parseUnary()) // contextual: `await` binds like unary
      }
      else parsePostfix()
    }
    private def parsePostfix(): Expr = {
      var e = parseCallMember()
      if (isPunct("++")) { next(); e = EPostfix("++", e) }
      else if (isPunct("--")) { next(); e = EPostfix("--", e) }
      e
    }

    private def parseCallMember(): Expr = {
      var e = parsePrimary()
      var more = true
      while (more) {
        if (eatPunct(".")) {
          val t = next()
          if (t.kind != "ident" && t.kind != "kw") err("expected property name")
          e = EMember(e, t.text)
        } else if (isPunct("[")) {
          next(); val idx = parseExpr(); expect("punct", "]")
          e = EIndex(e, idx)
        } else if (isPunct("(")) {
          next()
          val args = Seq.newBuilder[Expr]
          if (!isPunct(")")) {
            var m = true
            while (m) {
              args += (if (eatPunct("...")) ESpread(parseAssign()) else parseAssign())
              m = eatPunct(",")
            }
          }
          expect("punct", ")")
          e = ECall(e, args.result())
        } else more = false
      }
      e
    }

    /** `class [Name] [extends Expr] { members }` — `class` already peeked. */
    private def parseClass(): EClass = {
      expectKw("class")
      val name = if (peek.kind == "ident") Some(next().text) else None
      val parent = if (isKw("extends")) { next(); Some(parseCallMember()) } else None
      expect("punct", "{")
      val members = Seq.newBuilder[ClassMember]
      while (!isPunct("}")) {
        if (eatPunct(";")) ()
        else {
          val static = isKw("static") && { next(); true }
          val isAsyncM = (peek.kind == "ident" && peek.text == "async" &&
            !(peek2.kind == "punct" &&
              Set("(", "=", ";", "}").contains(peek2.text))) && { next(); true }
          val isGenM = isPunct("*") && { next(); true } // async * m(): allowed
          val nameTok = next()
          val mname = nameTok.kind match {
            case "ident" | "kw" | "str" | "num" => nameTok.text
            case _ => err("bad class member name")
          }
          if ((mname == "get" || mname == "set") && !isGenM && !isAsyncM &&
              !isPunct("(") && !isPunct("=") && !isPunct(";") && !isPunct("}")) { // accessor member
            val nameTok = next()
            val pname = nameTok.kind match {
              case "ident" | "kw" | "str" | "num" => nameTok.text
              case _ => err("bad accessor name")
            }
            val params = parseParams()
            members += ClassMember(static, pname,
              Some((params, fnBody(gen = false, async = false))), None, accessor = Some(mname))
          }
          else if (isPunct("(")) { // method (incl. *gen() and async m())
            val params = parseParams()
            members += ClassMember(static, mname,
              Some((params, fnBody(isGenM, isAsyncM))), None,
              isGenerator = isGenM, isAsync = isAsyncM)
          } else if (isGenM || isAsyncM) err("expected a method body")
          else if (eatPunct("=")) { // field
            val init = parseAssign()
            eatPunct(";")
            members += ClassMember(static, mname, None, Some(init))
          } else { // bare field declaration: `x;` / `x` — initialized undefined
            eatPunct(";")
            members += ClassMember(static, mname, None, None)
          }
        }
      }
      expect("punct", "}")
      EClass(name, parent, members.result())
    }

    private def expectKw(k: String): Unit =
      if (isKw(k)) next() else err(s"expected '$k'")

    private def parsePrimary(): Expr = {
      val t = peek
      t.kind match {
        case "num" => next(); ENum(t.text.toDouble)
        case "str" => next(); EStr(t.text)
        case "regex" =>
          next()
          val sep = t.text.indexOf(' ')
          ERegex(t.text.substring(sep + 1), t.text.substring(0, sep))
        case "template" => next(); parseTemplate(t.text)
        case "ident" => next(); EIdent(t.text)
        case "kw" => t.text match {
          case "true" => next(); EBool(true)
          case "false" => next(); EBool(false)
          case "null" => next(); ENull
          case "undefined" => next(); EUndef
          case "this" => next(); EThis
          case "function" =>
            next()
            val isGen = eatPunct("*")
            if (peek.kind == "ident") next() // named function expression: ignore name
            val params = parseParams()
            EFunc(params, fnBody(isGen, async = false), isArrow = false, isGenerator = isGen)
          case "class" => parseClass()
          case "new" =>
            next()
            if (isPunct(".")) { // new.target meta-property
              next()
              val pt = next()
              if (pt.kind != "ident" || pt.text != "target") err("expected 'target' after 'new.'")
              return ENewTarget
            }
            // NewExpression: member accesses bind tighter than the ctor
            // call (`new a.b.C(x)`); further chaining (`new C().m()`) is
            // picked up by the enclosing parseCallMember loop.
            var callee = parsePrimary()
            var m = true
            while (m) {
              if (eatPunct(".")) {
                val pt = next()
                if (pt.kind != "ident" && pt.kind != "kw") err("expected property name")
                callee = EMember(callee, pt.text)
              } else if (isPunct("[")) {
                next(); val idx = parseExpr(); expect("punct", "]")
                callee = EIndex(callee, idx)
              } else m = false
            }
            val args = Seq.newBuilder[Expr]
            if (eatPunct("(")) {
              if (!isPunct(")")) {
                var more = true
                while (more) {
                  args += (if (eatPunct("...")) ESpread(parseAssign()) else parseAssign())
                  more = eatPunct(",")
                }
              }
              expect("punct", ")")
            }
            ENew(callee, args.result())
          case "super" =>
            next()
            if (isPunct("(")) {
              next()
              val args = Seq.newBuilder[Expr]
              if (!isPunct(")")) {
                var more = true
                while (more) {
                  args += (if (eatPunct("...")) ESpread(parseAssign()) else parseAssign())
                  more = eatPunct(",")
                }
              }
              expect("punct", ")")
              ESuperCall(args.result())
            } else if (eatPunct(".")) {
              val pt = next()
              if (pt.kind != "ident" && pt.kind != "kw") err("expected property name")
              ESuperMember(pt.text)
            } else err("'super' must be called or member-accessed")
          case other => err(s"unexpected keyword '$other'")
        }
        case "punct" => t.text match {
          case "(" => next(); val e = parseExpr(); expect("punct", ")"); e
          case "[" =>
            next()
            val items = Seq.newBuilder[Expr]
            if (!isPunct("]")) {
              var m = true
              while (m) {
                items += (if (eatPunct("...")) ESpread(parseAssign()) else parseAssign())
                m = eatPunct(",") && !isPunct("]")
              }
            }
            expect("punct", "]")
            EArr(items.result())
          case "{" =>
            next()
            val fields = Seq.newBuilder[(Option[String], Expr)]
            if (!isPunct("}")) {
              var m = true
              while (m) {
                if (eatPunct("...")) fields += ((None, parseAssign()))
                else {
                  val isAsyncM = (peek.kind == "ident" && peek.text == "async" &&
                    !(peek2.kind == "punct" &&
                      Set(":", "(", ",", "}", "=").contains(peek2.text))) && { next(); true }
                  val isGenM = isPunct("*") && { next(); true } // async *m() ok
                  val keyTok = next()
                  val key = keyTok.kind match {
                    case "str" | "ident" | "kw" | "num" => keyTok.text
                    case _ => err("bad object key")
                  }
                  if ((key == "get" || key == "set") && !isGenM && !isAsyncM &&
                      !isPunct(":") && !isPunct("(") && !isPunct(",") && !isPunct("}") &&
                      !isPunct("=")) { // `= ` is shorthand-with-default ({get = 1} = o), not an accessor

                    // accessor: get name() {...} / set name(v) {...}
                    val nameTok = next()
                    val pname = nameTok.kind match {
                      case "str" | "ident" | "kw" | "num" => nameTok.text
                      case _ => err("bad accessor name")
                    }
                    val params = parseParams()
                    fields += ((Some(pname),
                      EAccessor(key, EFunc(params, fnBody(gen = false, async = false), isArrow = false))))
                  }
                  else if ((isGenM || isAsyncM) && !isPunct("(")) err("expected a method body")
                  else if (eatPunct(":")) fields += ((Some(key), parseAssign()))
                  else if (isPunct("(")) { // method shorthand: m(), *gen(), async m()
                    val params = parseParams()
                    fields += ((Some(key), EFunc(params, fnBody(isGenM, isAsyncM),
                      isArrow = false, isGenerator = isGenM, isAsync = isAsyncM)))
                  }
                  else if (eatPunct("=")) // cover grammar: {a = dflt} (destructuring target only)
                    fields += ((Some(key), EShorthandDefault(key, parseAssign())))
                  else fields += ((Some(key), EIdent(key))) // shorthand {a}
                }
                m = eatPunct(",") && !isPunct("}")
              }
            }
            expect("punct", "}")
            EObjLit(fields.result())
          case other => err(s"unexpected '$other'")
        }
        case _ => err("unexpected end of input")
      }
    }
  }

  // ————————————————————————— environment —————————————————————————

  class Env(val parent: Env) {
    private val vars = mutable.HashMap[String, V]()
    def define(name: String, v: V): Unit = vars(name) = v
    def get(name: String): V = {
      var e: Env = this
      while (e != null) { if (e.vars.contains(name)) return e.vars(name); e = e.parent }
      throw new JsError(s"js: '$name' is not defined")
    }
    def has(name: String): Boolean = {
      var e: Env = this
      while (e != null) { if (e.vars.contains(name)) return true; e = e.parent }
      false
    }
    def set(name: String, v: V): Unit = {
      var e: Env = this
      while (e != null) { if (e.vars.contains(name)) { e.vars(name) = v; return }; e = e.parent }
      vars(name) = v // implicit global, like sloppy-mode JS
    }
  }

  // control flow signals
  private case class ReturnSignal(v: V) extends RuntimeException
  private object BreakSignal extends RuntimeException
  private object ContinueSignal extends RuntimeException
  /** a user `throw` — catchable by script try/catch with the thrown value */
  private case class JsThrown(value: V) extends RuntimeException

  // ————————————————————————— evaluator —————————————————————————

  /** One engine = one global environment; eval() scripts into it, then call(). */
  class Engine(maxSteps: Long = 50_000_000L, maxDepth: Int = 256) {
    val global = new Env(null)
    private var steps = 0L
    private var depth = 0
    val consoleLog = mutable.ArrayBuffer[String]()
    Builtins.install(global, this)
    // Error hierarchy bootstrapped through the engine's own class support,
    // so `throw new Error(x)`, `e instanceof TypeError`, and subclassing
    // (`class MyErr extends Error`) all behave like JS. `Error('x')`
    // without `new` constructs too (lenient class-ctor call).
    eval(
      """class Error {
        |  constructor(message) {
        |    this.name = 'Error';
        |    this.message = message === undefined ? '' : String(message);
        |    this.stack = '';
        |  }
        |  toString() { return this.message === '' ? this.name : this.name + ': ' + this.message; }
        |}
        |class TypeError extends Error { constructor(m) { super(m); this.name = 'TypeError'; } }
        |class RangeError extends Error { constructor(m) { super(m); this.name = 'RangeError'; } }
        |class SyntaxError extends Error { constructor(m) { super(m); this.name = 'SyntaxError'; } }
        |""".stripMargin)
    resetBudget()

    /** Engine errors surfaced to script catch blocks as real Error
     * instances (instanceof Error works on them). */
    def makeError(msg: String): V =
      if (global.has("Error")) global.get("Error") match {
        case f: VFunc => construct(f, Seq(VStr(msg)))
        case _ => VObj(mutable.LinkedHashMap[String, V](
          "name" -> VStr("Error"), "message" -> VStr(msg)))
      } else VObj(mutable.LinkedHashMap[String, V](
        "name" -> VStr("Error"), "message" -> VStr(msg)))

    private def tick(): Unit = {
      steps += 1
      if (steps > maxSteps) throw new JsError(s"js: step budget exhausted ($maxSteps)")
    }
    /** reset the step budget (per host invocation). */
    def resetBudget(): Unit = steps = 0

    def eval(src: String): V = {
      val prog = new Parser(tokenize(src)).parseProgram()
      try { execBlock(prog, global, VUndef); drainMicrotasks() }
      catch { case JsThrown(v) => throw new JsError(s"js: uncaught ${stringify(v)}") }
      VUndef
    }

    /** Call a global function by name. Pending promise reactions run to
     * quiescence before the result is returned (synchronous event loop). */
    def call(name: String, args: Seq[V]): V = {
      try {
        val r = global.get(name) match {
          case f: VFunc => callFunction(f, VUndef, args)
          case n: VNative => n.fn(VUndef, args)
          case other => throw new JsError(s"js: '$name' is not a function ($other)")
        }
        drainMicrotasks()
        r match {
          // a host calling an async entrypoint wants the settled value,
          // not the promise shell (the queue is already quiescent)
          case p: VPromise if p.state == 1 => p.result
          case p: VPromise if p.state == 2 => throw JsThrown(p.result)
          case _: VPromise =>
            // still pending after the drain: nothing can ever settle it in
            // this synchronous host — same loud contract as awaitSettle,
            // never a silent `{}` downstream
            throw new JsError(
              "js: await on a promise that never settles (no pending reactions)")
          case v => v
        }
      } catch { case JsThrown(v) => throw new JsError(s"js: uncaught ${stringify(v)}") }
    }

    /** `new.target` for the frame being entered: set by [[constructInto]]
     * immediately before the constructor's callFunction, consumed (and
     * cleared) on entry — plain calls see VUndef. */
    private var pendingNewTarget: V = VUndef

    def callFunction(f: VFunc, thisVal: V, args: Seq[V]): V = {
      // consume new.target BEFORE the depth guard can throw: a 'recursion
      // too deep' raised under `new` must not leave a stale pending value
      // for the next plain call to observe
      val nt = pendingNewTarget
      pendingNewTarget = VUndef
      if (f.isGenerator) return makeGeneratorObject(f, thisVal, args, f.isAsync)
      if (f.isAsync) return runAsync(f, thisVal, args, nt)
      invokePlain(f, thisVal, args, nt)
    }

    /** The plain-call core: bind params, run the body, unwrap `return`. */
    private def invokePlain(f: VFunc, thisVal: V, args: Seq[V], nt: V): V = {
      depth += 1
      if (depth > maxDepth) { depth -= 1; throw new JsError("js: recursion too deep") }
      try {
        val env = new Env(f.env)
        // lexical like `this`: arrows inherit the enclosing binding
        if (!f.isArrow) env.define("__newtarget__", nt)
        // `super` resolution is lexical through these hidden bindings:
        // arrows capture the enclosing env, so super works inside arrow
        // bodies in methods (correct JS semantics) for free.
        if (f.superClass != VUndef) env.define("__superclass__", f.superClass)
        if (f.homeProto != VNull) env.define("__homeproto__", f.homeProto)
        f.params.zipWithIndex.foreach {
          case (PRest(name), i) =>
            env.define(name, VArr(mutable.ArrayBuffer(args.drop(i): _*)))
          case (p, i) =>
            bindPattern(p, if (i < args.length) args(i) else VUndef, env, thisVal)
        }
        env.define("arguments", VArr(mutable.ArrayBuffer(args: _*)))
        val self = if (f.isArrow) f.thisVal else thisVal
        try { execBlock(f.body, env, self); VUndef }
        catch { case ReturnSignal(v) => v }
      } finally if (!genAbandonedUnwind) depth -= 1
    }

    // ———————————————————— generators (thread bridge) ————————————————————
    // A generator body runs on its own daemon thread; control strictly
    // alternates with the caller through a pair of SynchronousQueues, so
    // exactly ONE thread executes engine code at any moment (the queue
    // handoff publishes all engine state — steps, depth — between them).
    // This keeps the tree-walking evaluator untouched: `yield` simply parks
    // the body mid-expression. Cost model: one thread per LIVE generator
    // instance; an abandoned generator (never drained, never returned)
    // self-terminates after `genIdleTimeoutSec` of no resume, so threads
    // cannot leak across host invocations. Reference JS contract hosts
    // arbitrary V8 scripts (crates/processors/src/js.rs:74-130); this
    // covers function*/yield/yield*/next/return/throw + for-of/spread.
    private case class GMResume(v: V); private case class GMThrow(v: V)
    private case class GMReturn(v: V)
    private case class GOYield(v: V); private case class GODone(v: V)
    private case class GOFail(t: Throwable)
    /** `gen.return(v)` unwind: runs finally blocks, skips catch (distinct
     * from JsThrown so script catch handlers never see it). */
    private case class GenReturnSig(v: V) extends RuntimeException
    /** Abandonment unwind after the idle timeout: the thread exits without
     * reporting (nobody is listening). */
    private object GenAbandoned extends RuntimeException
    private val genIdleTimeoutSec: Long =
      sys.env.getOrElse("SPARK_GRAFT_JS_GEN_IDLE_SEC", "600").toLong

    private final class GenBridge {
      val toGen = new java.util.concurrent.SynchronousQueue[AnyRef]()
      val fromGen = new java.util.concurrent.SynchronousQueue[AnyRef]()
      @volatile var started = false
      @volatile var done = false
      /** set when the idle reaper fired: the engine may be LIVE on another
       * thread, so this thread's unwind must not touch shared state. */
      @volatile var abandoned = false
      /** async generator: `yield v` awaits a promised v before emitting. */
      var async = false
      var callerDepth = 0
      var genDepth = 0
    }
    private val currentBridge = new ThreadLocal[GenBridge]

    private def iterResult(v: V, d: Boolean): VObj =
      VObj(mutable.LinkedHashMap[String, V]("value" -> v, "done" -> VBool(d)))

    /** Calling a `function*` (or `async function*`): package the body as a
     * suspended coroutine. In async mode every next/return/throw result is
     * delivered through a promise (settled synchronously — the body runs
     * to its next suspension on the bridge thread before the call
     * returns), composing the generator bridge with the microtask queue:
     * `await` inside the body drains to settlement exactly as in a plain
     * async function, because the handoff guarantees only one thread runs
     * engine code at a time. */
    private def makeGeneratorObject(f: VFunc, thisVal: V, args: Seq[V],
                                    async: Boolean = false): VObj = {
      val bridge = new GenBridge
      bridge.async = async
      /** async delivery: {value,done} (or a throw) becomes a settled
       * promise — same error routing as [[runAsync]]. */
      def wrap(body: => V): V =
        if (!async) body
        else {
          val p = newPromise()
          try settlePromise(p, 1, body)
          catch {
            case JsThrown(v) => settlePromise(p, 2, v)
            case e: JsError if !e.getMessage.contains("step budget") =>
              settlePromise(p, 2, makeError(e.getMessage))
          }
          p
        }
      val starter = () => {
        val t = new Thread(() => {
          currentBridge.set(bridge)
          val out: AnyRef =
            try GODone(invokePlain(f, thisVal, args, VUndef))
            catch {
              case GenReturnSig(v) => GODone(v)
              case GenAbandoned => null // idle-expired: exit silently
              case t: Throwable => GOFail(t)
            }
          if (out != null) bridge.fromGen.put(out)
        }, "minijs-generator")
        t.setDaemon(true)
        t.start()
      }
      def step(msg: AnyRef): V = {
        // re-entrant resume from the generator's own body would deadlock
        // the handoff (nobody is parked at toGen) — JS throws TypeError
        // "Generator is already running"; fail fast the same way
        if (currentBridge.get() eq bridge)
          throw new JsError("js: generator is already running")
        bridge.callerDepth = depth
        if (!bridge.started) {
          bridge.started = true
          msg match {
            case GMReturn(v) => bridge.done = true; return iterResult(v, d = true)
            case GMThrow(v) => bridge.done = true; throw JsThrown(v)
            case _ => starter() // first next(): resume value is discarded (JS)
          }
        } else bridge.toGen.put(msg)
        val out = bridge.fromGen.poll(genIdleTimeoutSec,
          java.util.concurrent.TimeUnit.SECONDS)
        out match {
          case GOYield(v) => iterResult(v, d = false)
          case GODone(v) => bridge.done = true; iterResult(v, d = true)
          case GOFail(t) => bridge.done = true; throw t
          case _ =>
            bridge.done = true
            throw new JsError("js: generator step timed out")
        }
      }
      val obj = VObj(mutable.LinkedHashMap[String, V]())
      obj.fields("next") = VNative("next", (_, a) => wrap(
        if (bridge.done) iterResult(VUndef, d = true)
        else step(GMResume(a.headOption.getOrElse(VUndef)))))
      obj.fields("return") = VNative("return", (_, a) => wrap {
        val v = a.headOption.getOrElse(VUndef)
        if (bridge.done) iterResult(v, d = true) else step(GMReturn(v))
      })
      obj.fields("throw") = VNative("throw", (_, a) => wrap {
        val v = a.headOption.getOrElse(VUndef)
        if (bridge.done) throw JsThrown(v) else step(GMThrow(v))
      })
      obj
    }

    /** One `yield`: park the body, hand the value to the caller, return the
     * resume value (or unwind on injected throw/return/abandonment). */
    private def yieldOnce(bridge: GenBridge, v: V): V = {
      // async generator: `yield p` awaits a promised p before emitting (JS)
      val out = if (bridge.async) v match {
        case p: VPromise => awaitSettle(p)
        case x => x
      } else v
      bridge.genDepth = depth
      depth = bridge.callerDepth // caller resumes at ITS depth
      bridge.fromGen.put(GOYield(out))
      val msg = bridge.toGen.poll(genIdleTimeoutSec,
        java.util.concurrent.TimeUnit.SECONDS)
      // depth restore ONLY on a real resume: on idle expiry the engine may
      // be running on another thread, and writing `depth` here would race
      // it (spurious 'recursion too deep' in long-lived streaming jobs)
      msg match {
        case GMResume(rv) => depth = bridge.genDepth; rv
        case GMThrow(tv) => depth = bridge.genDepth; throw JsThrown(tv)
        case GMReturn(rv) => depth = bridge.genDepth; throw GenReturnSig(rv)
        case _ =>
          bridge.abandoned = true; bridge.done = true; throw GenAbandoned
      }
    }

    /** True on a generator thread unwinding [[GenAbandoned]] after idle
     * expiry. Nobody is listening and the engine may be live on ANOTHER
     * thread — the unwind must exit without mutating shared engine state
     * (`depth`) or running script finally blocks on the shared Env. */
    private def genAbandonedUnwind: Boolean = {
      val b = currentBridge.get()
      b != null && b.abandoned
    }

    private def isCallableV(v: V): Boolean = v match {
      case _: VFunc | _: VNative => true
      case _ => false
    }

    /** JS iteration protocol: arrays and strings directly; any object with
     * a callable `next` (generator objects, user iterators) via the
     * next()/{value,done} pull protocol — LAZILY, so `for (x of infinite())
     * { break; }` terminates. */
    def iteratorOf(v: V): Iterator[V] = iteratorOf(v, awaited = false)

    /** `awaited = true` is the `for await` protocol: a promised step
     * result (async generators) settles to its {value, done}, and a
     * promised VALUE from a sync iterator settles too — both via the
     * synchronous drain. */
    def iteratorOf(v: V, awaited: Boolean): Iterator[V] = {
      def settle(x: V): V = x match {
        case p: VPromise if awaited => awaitSettle(p)
        case other => other
      }
      v match {
        case VArr(a) => a.iterator.map(settle)
        case VStr(s) => s.iterator.map(c => VStr(c.toString))
        case o: VObj =>
          protoLookup(o, "next") match {
            case Some(nf) if isCallableV(nf) => new Iterator[V] {
              private var buf: V = VUndef
              private var ended = false
              private var loaded = false
              private def load(): Unit = if (!loaded && !ended) {
                settle(callValue(nf, o, Nil, "next")) match {
                  case r: VObj =>
                    if (truthy(member(r, "done"))) ended = true
                    else buf = settle(member(r, "value"))
                  case _ => throw new JsError("js: iterator next() must return an object")
                }
                loaded = true
              }
              def hasNext: Boolean = { load(); !ended }
              def next(): V = { load(); loaded = false; buf }
            }
            case _ => throw new JsError("js: object is not iterable (no callable 'next')")
          }
        case other => throw new JsError(s"js: ${typeOf(other)} is not iterable")
      }
    }

    // ———————————————— promises (synchronous microtasks) ————————————————
    // lazy: the Engine constructor's Error-bootstrap eval() drains before
    // later-declared vals would initialize
    private lazy val microtasks = new java.util.ArrayDeque[() => Unit]()
    private def enqueueMicro(t: () => Unit): Unit = microtasks.addLast(t)
    /** Run queued reactions to quiescence. Called at `await` points and at
     * the end of every host `call`/`eval`. */
    def drainMicrotasks(): Unit =
      while (!microtasks.isEmpty) { tick(); microtasks.pollFirst()() }

    /** Shared prototype: then/catch/finally. Own fields of a promise stay
     * empty (Object.keys → [], JSON.stringify → {}, as in JS). */
    private lazy val promiseProto: VObj = {
      def asPromise(t: V): VPromise = t match {
        case p: VPromise => p
        case _ => throw new JsError("js: Promise method on a non-promise")
      }
      val o = VObj(mutable.LinkedHashMap[String, V]())
      o.fields("then") = VNative("then", (t, a) =>
        promiseThen(asPromise(t), a.headOption.filter(isCallableV),
          a.lift(1).filter(isCallableV)))
      o.fields("catch") = VNative("catch", (t, a) =>
        promiseThen(asPromise(t), None, a.headOption.filter(isCallableV)))
      o.fields("finally") = VNative("finally", (t, a) => {
        val p = asPromise(t)
        a.headOption.filter(isCallableV) match {
          case None => promiseThen(p, None, None)
          case Some(cb) => promiseThen(p,
            Some(VNative("", (_, vs) => {
              callValue(cb, VUndef, Nil, "finally")
              vs.headOption.getOrElse(VUndef)
            })),
            Some(VNative("", (_, vs) => {
              callValue(cb, VUndef, Nil, "finally")
              throw JsThrown(vs.headOption.getOrElse(VUndef))
            })))
        }
      })
      o
    }

    def newPromise(): VPromise = {
      val p = new VPromise
      p.proto = promiseProto
      p
    }

    /** Settle: fulfilling WITH a promise adopts its state (then-chaining). */
    def settlePromise(p: VPromise, st: Int, v: V): Unit = if (p.state == 0) {
      if (st == 1) v match {
        case inner: VPromise =>
          inner.state match {
            case 0 => inner.reactions += PromiseReaction(None, None, p)
            case s => p.state = s; p.result = inner.result; flushReactions(p)
          }
          return
        case _ => ()
      }
      p.state = st
      p.result = v
      flushReactions(p)
    }

    private def flushReactions(p: VPromise): Unit = {
      val rs = p.reactions.toList
      p.reactions.clear()
      rs.foreach(r => enqueueMicro(() => runReaction(p, r)))
    }

    private def runReaction(p: VPromise, r: PromiseReaction): Unit = {
      val handler = if (p.state == 1) r.onF else r.onR
      handler match {
        case Some(h) =>
          try settlePromise(r.downstream, 1, callValue(h, VUndef, Seq(p.result), "then"))
          catch {
            case JsThrown(v) => settlePromise(r.downstream, 2, v)
            case e: JsError if !e.getMessage.contains("step budget") =>
              settlePromise(r.downstream, 2, makeError(e.getMessage))
          }
        case None => settlePromise(r.downstream, p.state, p.result) // pass through
      }
    }

    def promiseThen(p: VPromise, onF: Option[V], onR: Option[V]): VPromise = {
      val d = newPromise()
      val r = PromiseReaction(onF, onR, d)
      if (p.state == 0) p.reactions += r
      else enqueueMicro(() => runReaction(p, r))
      d
    }

    /** `await p`: drain microtasks until settled. A promise still pending
     * with an empty queue can NEVER settle in this synchronous host —
     * loud error instead of a silent undefined. */
    def awaitSettle(p: VPromise): V = {
      while (p.state == 0 && !microtasks.isEmpty) { tick(); microtasks.pollFirst()() }
      p.state match {
        case 1 => p.result
        case 2 => throw JsThrown(p.result)
        case _ => throw new JsError(
          "js: await on a promise that never settles (no pending reactions)")
      }
    }

    /** Async call: body runs synchronously (await = drain-to-settle), the
     * result/throw lands in a promise — caller ordering differs from a real
     * event loop, but data flow and error routing match. */
    private def runAsync(f: VFunc, thisVal: V, args: Seq[V], nt: V): V = {
      val p = newPromise()
      try settlePromise(p, 1, invokePlain(f, thisVal, args, nt))
      catch {
        case JsThrown(v) => settlePromise(p, 2, v)
        case e: JsError if !e.getMessage.contains("step budget") =>
          settlePromise(p, 2, makeError(e.getMessage))
      }
      p
    }

    /** `super.name` — method lookup starting ABOVE the defining prototype. */
    private def superMember(env: Env, name: String): V = {
      if (!env.has("__homeproto__"))
        throw new JsError("js: 'super' is only valid inside a class method")
      env.get("__homeproto__") match {
        case home: VObj => protoLookup(home.proto, name).getOrElse(VUndef)
        case _ => throw new JsError("js: 'super' is only valid inside a class method")
      }
    }

    /** Walk a prototype chain for `name` (own fields at each hop). */
    private def protoLookup(start: V, name: String): Option[V] = {
      var cur = start
      var hops = 0
      while (hops < 1000) {
        cur match {
          case o: VObj =>
            o.fields.get(name) match {
              case some @ Some(_) => return some
              case None => cur = o.proto; hops += 1
            }
          case _ => return None
        }
      }
      None
    }

    /** `new F(args)`: fresh object wired to F.prototype, field inits +
     * constructor body run on it; an explicit object/array return wins
     * (as in JS). */
    def construct(f: VFunc, args: Seq[V]): V = {
      val obj = VObj(mutable.LinkedHashMap[String, V]())
      obj.proto = f.prototypeObj
      val r = constructInto(f, obj, args)
      r match { case o: VObj => o; case a: VArr => a; case _ => obj }
    }

    /** Run `f`'s construction steps against an EXISTING `this` — the
     * `super(...)` path (parent fields + parent ctor body on the same
     * object). Field-init timing: this class's fields run before its ctor
     * body (for a derived class JS runs them after super() returns; scripts
     * whose fields read super-initialized state see a documented
     * divergence). */
    def constructInto(f: VFunc, obj: VObj, args: Seq[V],
                      newTarget: V = VUndef): V = {
      f.fieldInits.foreach { case (n, init) =>
        obj.fields(n) = init.map(e => evalExpr(e, f.env, obj)).getOrElse(VUndef)
      }
      // consumed by the callFunction below; functions invoked during the
      // field inits above see VUndef (they are plain calls)
      pendingNewTarget = if (newTarget == VUndef) f else newTarget
      callFunction(f, obj, args)
    }

    /** Class evaluation: prototype object holding methods (chained to the
     * parent's), constructor function carrying statics + field inits. */
    private def evalClass(parentE: Option[Expr], members: Seq[ClassMember],
                          env: Env, thisVal: V): V = {
      val parentV = parentE.map(e => evalExpr(e, env, thisVal))
      val protoObj = VObj(mutable.LinkedHashMap[String, V]())
      parentV.foreach {
        case pf: VFunc => protoObj.proto = pf.prototypeObj
        case _: VNative => () // extends a native ctor: no proto to chain
        case other => throw new JsError(s"js: class extends ${typeOf(other)} — not a constructor")
      }
      val ctorM = members.find(m => !m.static && m.name == "constructor" && m.method.isDefined)
      val ctor = ctorM.flatMap(_.method) match {
        case Some((params, body)) => VFunc(params, body, env, isArrow = false, VUndef)
        case None =>
          // default ctor; derived default forwards every arg to super
          if (parentV.isDefined)
            VFunc(Seq(PRest("args")), Seq(SExpr(ESuperCall(Seq(ESpread(EIdent("args")))))),
              env, isArrow = false, VUndef)
          else VFunc(Nil, Nil, env, isArrow = false, VUndef)
      }
      ctor.isClassCtor = true
      ctor.homeProto = protoObj
      parentV.foreach(p => ctor.superClass = p)
      ctor.propsMap("prototype") = protoObj
      protoObj.fields("constructor") = ctor
      ctor.fieldInits = members.collect {
        case ClassMember(false, n, None, init, None, _, _) => (n, init)
      }
      members.foreach {
        case ClassMember(false, "constructor", Some(_), _, None, _, _) => ()
        case ClassMember(static, n, Some((params, body)), _, Some(kind), _, _) => // accessor
          val m = VFunc(params, body, env, isArrow = false, VUndef)
          m.homeProto = protoObj
          val target = if (static) ctor.propsMap else protoObj.fields
          target.get(n) match {
            case Some(a: VAccess) =>
              if (kind == "get") a.getter = Some(m) else a.setter = Some(m)
            case _ =>
              target(n) =
                if (kind == "get") VAccess(Some(m), None) else VAccess(None, Some(m))
          }
        case ClassMember(static, n, Some((params, body)), _, None, isGen, isAsync) =>
          val m = VFunc(params, body, env, isArrow = false, VUndef)
          m.homeProto = protoObj
          m.isGenerator = isGen
          m.isAsync = isAsync
          if (static) ctor.propsMap(n) = m else protoObj.fields(n) = m
        case ClassMember(true, n, None, init, None, _, _) => // static field
          ctor.propsMap(n) = init.map(e => evalExpr(e, env, thisVal)).getOrElse(VUndef)
        case _ => ()
      }
      ctor
    }

    /** Evaluate an expr list expanding `...spread` items (arrays, strings,
     * generators/iterators via the next() protocol). */
    private def spreadArgs(items: Seq[Expr], env: Env, thisVal: V): Seq[V] =
      items.flatMap {
        case ESpread(e) => evalExpr(e, env, thisVal) match {
          case VArr(a) => a.toSeq
          case VStr(s) => s.map(c => VStr(c.toString))
          case o: VObj => iteratorOf(o).toSeq
          case other => throw new JsError(s"js: ${typeOf(other)} is not iterable (spread)")
        }
        case e => Seq(evalExpr(e, env, thisVal))
      }

    /** Destructure `v` into `pat`, defining every bound name in `env`. */
    private def bindPattern(pat: Pat, v: V, env: Env, thisVal: V): Unit = pat match {
      case PName(name) => env.define(name, v)
      case PDefault(p, default) =>
        bindPattern(p, if (v == VUndef) evalExpr(default, env, thisVal) else v, env, thisVal)
      case PRest(name) => // rest outside a param list behaves like a name
        env.define(name, v)
      case PObj(fields, rest) =>
        val obj = v match {
          case VObj(m) => m
          case VNull | VUndef =>
            throw new JsError(s"js: cannot destructure ${typeOf(v)}")
          case _ => mutable.LinkedHashMap.empty[String, V] // primitives: no own keys
        }
        fields.foreach { case (key, sub) =>
          bindPattern(sub, obj.getOrElse(key, VUndef), env, thisVal)
        }
        rest.foreach { r =>
          val taken = fields.map(_._1).toSet
          env.define(r, VObj(obj.filter { case (k, _) => !taken(k) }
            .foldLeft(mutable.LinkedHashMap[String, V]()) { case (m, (k, x)) => m += (k -> x) }))
        }
      case PArr(items, rest) =>
        val arr: IndexedSeq[V] = v match {
          case VArr(a) => a.toIndexedSeq
          case VStr(s) => s.map(c => VStr(c.toString))
          case VNull | VUndef =>
            throw new JsError(s"js: cannot destructure ${typeOf(v)}")
          case _ => IndexedSeq.empty
        }
        items.zipWithIndex.foreach { case (sub, i) =>
          bindPattern(sub, if (i < arr.length) arr(i) else VUndef, env, thisVal)
        }
        rest.foreach(r => env.define(r, VArr(mutable.ArrayBuffer(arr.drop(items.length): _*))))
    }

    private def execBlock(stmts: Seq[Stmt], env: Env, thisVal: V): Unit = {
      // hoist function declarations
      stmts.foreach {
        case SFunc(name, params, body, isGen, isAsync) =>
          val vf = VFunc(params, body, env, isArrow = false, VUndef)
          vf.isGenerator = isGen
          vf.isAsync = isAsync
          env.define(name, vf)
        case _ => ()
      }
      stmts.foreach(s => exec(s, env, thisVal))
    }

    private def exec(s: Stmt, env: Env, thisVal: V): Unit = {
      tick()
      s match {
        case SExpr(e) => evalExpr(e, env, thisVal); ()
        case SVar(_, decls) =>
          decls.foreach { case (pat, init) =>
            bindPattern(pat, init.map(evalExpr(_, env, thisVal)).getOrElse(VUndef), env, thisVal)
          }
        case _: SFunc => () // hoisted
        case SIf(c, t, f) =>
          if (truthy(evalExpr(c, env, thisVal))) exec(t, env, thisVal)
          else f.foreach(exec(_, env, thisVal))
        case SWhile(c, body) =>
          while (truthy(evalExpr(c, env, thisVal))) {
            tick()
            try exec(body, new Env(env), thisVal)
            catch {
              case BreakSignal => return
              case ContinueSignal => ()
            }
          }
        case SFor(init, cond, update, body) =>
          val loopEnv = new Env(env)
          init.foreach(exec(_, loopEnv, thisVal))
          while (cond.forall(c => truthy(evalExpr(c, loopEnv, thisVal)))) {
            tick()
            try exec(body, new Env(loopEnv), thisVal)
            catch {
              case BreakSignal => return
              case ContinueSignal => ()
            }
            update.foreach(evalExpr(_, loopEnv, thisVal))
          }
        case SForOf(pat, iterable, body, isAwait) =>
          // LAZY protocol pull (iteratorOf): generators and user iterators
          // advance one step per turn, so `break` out of an infinite
          // generator terminates; `for await` settles promised steps/values
          val src = evalExpr(iterable, env, thisVal)
          val it = iteratorOf(src, isAwait)
          // IteratorClose (JS): abrupt loop exit — break, return, throw —
          // calls the iterator's return() so a suspended generator runs
          // its finally blocks NOW, on this thread, instead of parking
          // until the idle reaper abandons it. An ASYNC generator's
          // return() wraps a throwing finally into a REJECTED promise —
          // `for await` must settle it and propagate the rejection on the
          // break path (sync for-of propagates the same finally throw;
          // IteratorClose only suppresses it when an original exception is
          // already unwinding — the caller's try/catch does that).
          def closeIt(): Unit = src match {
            case o: VObj => protoLookup(o, "return") match {
              case Some(rf) if isCallableV(rf) =>
                callValue(rf, o, Nil, "return") match {
                  case p: VPromise if isAwait => awaitSettle(p); ()
                  case _ => ()
                }
              case _ => ()
            }
            case _ => ()
          }
          while (it.hasNext) {
            tick()
            val item = it.next()
            val loopEnv = new Env(env)
            bindPattern(pat, item, loopEnv, thisVal)
            try exec(body, loopEnv, thisVal)
            catch {
              case BreakSignal => closeIt(); return
              case ContinueSignal => ()
              case t: Throwable => // exception/return unwind: original wins
                if (!genAbandonedUnwind)
                  try closeIt() catch { case _: JsThrown | _: JsError => () }
                throw t
            }
          }
        case SForIn(name, objE, body) =>
          val keys: Seq[String] = evalExpr(objE, env, thisVal) match {
            case VObj(f) => f.keys.toSeq
            case VArr(a) => a.indices.map(_.toString)
            case _ => Nil
          }
          keys.foreach { k =>
            tick()
            val loopEnv = new Env(env)
            loopEnv.define(name, VStr(k))
            try exec(body, loopEnv, thisVal)
            catch {
              case BreakSignal => return
              case ContinueSignal => ()
            }
          }
        case SReturn(e) => throw ReturnSignal(e.map(evalExpr(_, env, thisVal)).getOrElse(VUndef))
        case SBreak => throw BreakSignal
        case SContinue => throw ContinueSignal
        case SBlock(stmts) => execBlock(stmts, new Env(env), thisVal)
        case SEmpty => ()
        case SThrow(e) => throw JsThrown(evalExpr(e, env, thisVal))
        case STry(body, param, handler, finalizer) =>
          try {
            try execBlock(body, new Env(env), thisVal)
            catch {
              case JsThrown(v) if handler.isDefined =>
                val henv = new Env(env)
                param.foreach(henv.define(_, v))
                execBlock(handler.get, henv, thisVal)
              case err: JsError if handler.isDefined && !err.getMessage.contains("step budget") =>
                // engine errors surface as real Error instances (instanceof
                // Error holds); the step budget is NOT catchable (a script
                // could loop forever swallowing it — the next tick outside
                // the try re-throws)
                val henv = new Env(env)
                param.foreach(p => henv.define(p, makeError(err.getMessage)))
                execBlock(handler.get, henv, thisVal)
            }
          } finally if (!genAbandonedUnwind) // abandonment: nobody listening,
            // and the Env may be shared with a live thread — skip script code
            finalizer.foreach(f => execBlock(f, new Env(env), thisVal))
      }
    }

    def evalExpr(e: Expr, env: Env, thisVal: V): V = {
      tick()
      e match {
        case ENum(d) => VNum(d)
        case EStr(s) => VStr(s)
        case ERegex(p, f) => compileRegex(p, f)
        case EBool(b) => VBool(b)
        case ENull => VNull
        case EUndef => VUndef
        case EThis => thisVal
        case EIdent(name) => env.get(name)
        case ENewTarget =>
          if (env.has("__newtarget__")) env.get("__newtarget__") else VUndef
        case EArr(items) => VArr(mutable.ArrayBuffer(spreadArgs(items, env, thisVal): _*))
        case ESpread(_) => throw new JsError("js: unexpected spread")
        case EObjLit(fields) =>
          val m = mutable.LinkedHashMap[String, V]()
          val objV = VObj(m)
          fields.foreach {
            case (Some(k), EAccessor(kind, fn)) =>
              val f = evalExpr(fn, env, thisVal)
              m.get(k) match {
                case Some(a: VAccess) =>
                  if (kind == "get") a.getter = Some(f) else a.setter = Some(f)
                case _ =>
                  m(k) = if (kind == "get") VAccess(Some(f), None) else VAccess(None, Some(f))
              }
            case (Some(_), EShorthandDefault(n, _)) => throw new JsError(
              s"js: '$n = …' in an object literal is destructuring-only syntax")
            case (Some(k), v) => m(k) = evalExpr(v, env, thisVal)
            case (None, v) => evalExpr(v, env, thisVal) match { // {...src}
              case src: VObj => // spread invokes getters ([[Get]] per key)
                src.fields.keys.toSeq.foreach(k => m(k) = member(src, k))
              case VArr(a) => a.zipWithIndex.foreach { case (x, i) => m(i.toString) = x }
              case VNull | VUndef => () // JS ignores nullish spreads
              case other => throw new JsError(s"js: cannot spread ${typeOf(other)} into an object")
            }
          }
          objV
        case EFunc(params, body, isArrow, isGen, isAsync) =>
          val vf = VFunc(params, body, env, isArrow, thisVal)
          vf.isGenerator = isGen
          vf.isAsync = isAsync
          vf
        case EYield(argE, delegate) =>
          val bridge = currentBridge.get()
          if (bridge == null) throw new JsError("js: yield outside a generator")
          if (delegate) {
            // yield*: full delegation protocol — resume values forward into
            // the delegate's next(v), an injected gen.throw(v) forwards to
            // the delegate's throw (catchable by the INNER generator; if it
            // has no throw, the exception surfaces here), and an injected
            // gen.return(v) calls the delegate's return (inner finally
            // blocks run) before unwinding. The expression's result is the
            // delegate's COMPLETION value ({done:true}.value; undefined for
            // arrays/strings, whose resume values are necessarily dropped).
            evalExpr(argE.getOrElse(EUndef), env, thisVal) match {
              case o: VObj => protoLookup(o, "next") match {
                case Some(nf) if isCallableV(nf) =>
                  var result: V = VUndef
                  var going = true
                  var sendArgs: Seq[V] = Nil // first next() carries no resume value
                  var throwPending = false
                  var injectVal: V = VUndef
                  while (going) {
                    tick()
                    val stepRaw =
                      if (!throwPending) callValue(nf, o, sendArgs, "next")
                      else {
                        throwPending = false
                        protoLookup(o, "throw").filter(isCallableV) match {
                          case Some(tf) => callValue(tf, o, Seq(injectVal), "throw")
                          case None => throw JsThrown(injectVal)
                        }
                      }
                    // async delegate (yield* inside async function*): the
                    // step arrives as a promise — settle it synchronously
                    val stepRes = stepRaw match {
                      case p: VPromise => awaitSettle(p)
                      case x => x
                    }
                    stepRes match {
                      case r: VObj =>
                        if (truthy(member(r, "done"))) { result = member(r, "value"); going = false }
                        else {
                          try sendArgs = Seq(yieldOnce(bridge, member(r, "value")))
                          catch {
                            case JsThrown(v) => throwPending = true; injectVal = v
                            case grs: GenReturnSig =>
                              protoLookup(o, "return").filter(isCallableV)
                                .foreach(rf => callValue(rf, o, Seq(grs.v), "return"))
                              throw grs
                          }
                        }
                      case _ => throw new JsError("js: iterator next() must return an object")
                    }
                  }
                  result
                case _ => throw new JsError("js: object is not iterable (no callable 'next')")
              }
              case other =>
                val it = iteratorOf(other)
                while (it.hasNext) { tick(); yieldOnce(bridge, it.next()) }
                VUndef
            }
          } else
            yieldOnce(bridge, argE.map(evalExpr(_, env, thisVal)).getOrElse(VUndef))
        case EAwait(inner) => evalExpr(inner, env, thisVal) match {
          case p: VPromise => awaitSettle(p)
          case v => v // await non-promise = the value itself
        }
        case EUnary(op, inner) => op match {
          case "!" => VBool(!truthy(evalExpr(inner, env, thisVal)))
          case "-" => VNum(-toNum(evalExpr(inner, env, thisVal)))
          case "+" => VNum(toNum(evalExpr(inner, env, thisVal)))
          case "typeof" =>
            val v = try evalExpr(inner, env, thisVal) catch { case _: JsError => VUndef }
            VStr(typeOf(v))
          case "++" | "--" =>
            val cur = toNum(evalExpr(inner, env, thisVal))
            val nv = VNum(if (op == "++") cur + 1 else cur - 1)
            assign(inner, nv, env, thisVal); nv
        }
        case EPostfix(op, inner) =>
          val cur = toNum(evalExpr(inner, env, thisVal))
          assign(inner, VNum(if (op == "++") cur + 1 else cur - 1), env, thisVal)
          VNum(cur)
        case EBin(",", l, r) => evalExpr(l, env, thisVal); evalExpr(r, env, thisVal)
        case EBin(op, l, r) => binop(op, evalExpr(l, env, thisVal), evalExpr(r, env, thisVal))
        case ELogical("&&", l, r) =>
          val lv = evalExpr(l, env, thisVal)
          if (!truthy(lv)) lv else evalExpr(r, env, thisVal)
        case ELogical("||", l, r) =>
          val lv = evalExpr(l, env, thisVal)
          if (truthy(lv)) lv else evalExpr(r, env, thisVal)
        case ELogical(op, _, _) => throw new JsError(s"js: bad logical op $op")
        case ECond(c, t, f) =>
          if (truthy(evalExpr(c, env, thisVal))) evalExpr(t, env, thisVal) else evalExpr(f, env, thisVal)
        case EAssign("=", target, value) =>
          val v = evalExpr(value, env, thisVal)
          assign(target, v, env, thisVal); v
        case EAssign(op, target, value) => // += etc.
          val cur = evalExpr(target, env, thisVal)
          val rhs = evalExpr(value, env, thisVal)
          val v = binop(op.stripSuffix("="), cur, rhs)
          assign(target, v, env, thisVal); v
        case ECall(EMember(objE, name), args) =>
          val obj = evalExpr(objE, env, thisVal)
          val argv = spreadArgs(args, env, thisVal)
          val f = member(obj, name)
          callValue(f, obj, argv, s"$name")
        case ECall(EIndex(objE, idxE), args) =>
          val obj = evalExpr(objE, env, thisVal)
          val idx = evalExpr(idxE, env, thisVal)
          val argv = spreadArgs(args, env, thisVal)
          callValue(member(obj, toPropName(idx)), obj, argv, "computed")
        case ECall(ESuperMember(name), args) =>
          val argv = spreadArgs(args, env, thisVal)
          callValue(superMember(env, name), thisVal, argv, s"super.$name")
        case ECall(callee, args) =>
          val f = evalExpr(callee, env, thisVal)
          val argv = spreadArgs(args, env, thisVal)
          callValue(f, VUndef, argv, callee match { case EIdent(n) => n; case _ => "anonymous" })
        case ENew(callee, args) =>
          val f = evalExpr(callee, env, thisVal)
          val argv = spreadArgs(args, env, thisVal)
          f match {
            case fn: VFunc => construct(fn, argv)
            case VNative(_, nat) => nat(VUndef, argv) // new Error(...) ≡ Error(...)
            case other => throw new JsError(s"js: ${typeOf(other)} is not a constructor")
          }
        case EClass(_, parentE, members) => evalClass(parentE, members, env, thisVal)
        case ESuperCall(args) =>
          val argv = spreadArgs(args, env, thisVal)
          if (!env.has("__superclass__"))
            throw new JsError("js: 'super' is only valid in a derived-class constructor")
          env.get("__superclass__") match {
            case parent: VFunc => thisVal match {
              case obj: VObj => // new.target propagates through super()
                val nt = if (env.has("__newtarget__")) env.get("__newtarget__") else VUndef
                constructInto(parent, obj, argv, newTarget = nt); VUndef
              case _ => throw new JsError("js: super() outside a construction")
            }
            case VNative(_, nat) => // class extends a native ctor (Error bootstrap)
              nat(thisVal, argv); VUndef
            case _ => throw new JsError("js: 'super' is only valid in a derived-class constructor")
          }
        case ESuperMember(name) => superMember(env, name)
        case EMember(objE, name) => member(evalExpr(objE, env, thisVal), name)
        case EIndex(objE, idxE) =>
          val obj = evalExpr(objE, env, thisVal)
          member(obj, toPropName(evalExpr(idxE, env, thisVal)))
        case EDelete(target) => target match {
          case EMember(objE, name) =>
            evalExpr(objE, env, thisVal) match {
              case VObj(f) => VBool(f.remove(name).isDefined)
              case _ => VBool(false)
            }
          case EIndex(objE, idxE) =>
            val k = toPropName(evalExpr(idxE, env, thisVal))
            evalExpr(objE, env, thisVal) match {
              case VObj(f) => VBool(f.remove(k).isDefined)
              case _ => VBool(false)
            }
          case _ => VBool(true)
        }
      }
    }

    def callValue(f: V, thisVal: V, args: Seq[V], name: String): V = f match {
      // a class ctor invoked as a plain call constructs (lenient — real JS
      // throws, but this keeps `Error('x')`-style usage working)
      case fn: VFunc if fn.isClassCtor && (thisVal == VUndef || thisVal == VNull) =>
        construct(fn, args)
      case fn: VFunc => callFunction(fn, thisVal, args)
      case VNative(_, fn) => fn(thisVal, args)
      case other => throw new JsError(s"js: $name is not a function (got ${typeOf(other)})")
    }

    private def assign(target: Expr, v: V, env: Env, thisVal: V): Unit = target match {
      case EIdent(name) => env.set(name, v)
      case EMember(objE, name) => setMember(evalExpr(objE, env, thisVal), name, v)
      case EIndex(objE, idxE) =>
        val obj = evalExpr(objE, env, thisVal)
        setMember(obj, toPropName(evalExpr(idxE, env, thisVal)), v)
      // destructuring-assignment targets (`[a, b] = arr`, `({x: p} = o)`):
      // array/object literals reinterpreted as patterns, with nesting,
      // renaming, defaults (cover grammar) and rest
      case EArr(items) =>
        val arr: Seq[V] = v match {
          case VArr(a) => a.toSeq
          case VStr(s) => s.map(c => VStr(c.toString))
          case other => throw new JsError(
            s"js: cannot array-destructure ${typeOf(other)}")
        }
        var i = 0
        items.foreach {
          case ESpread(t) =>
            assign(t, VArr(mutable.ArrayBuffer(arr.drop(i): _*)), env, thisVal)
            i = arr.length
          case EAssign("=", inner, dflt) => // element default
            val x = if (i < arr.length) arr(i) else VUndef
            assign(inner, if (x == VUndef) evalExpr(dflt, env, thisVal) else x, env, thisVal)
            i += 1
          case t =>
            assign(t, if (i < arr.length) arr(i) else VUndef, env, thisVal)
            i += 1
        }
      case EObjLit(fields) =>
        val taken = mutable.Set[String]()
        fields.foreach {
          case (Some(k), EShorthandDefault(name, dflt)) =>
            taken += k
            val x = member(v, k)
            env.set(name, if (x == VUndef) evalExpr(dflt, env, thisVal) else x)
          case (Some(k), EAssign("=", inner, dflt)) => // {a: t = dflt}
            taken += k
            val x = member(v, k)
            assign(inner, if (x == VUndef) evalExpr(dflt, env, thisVal) else x, env, thisVal)
          case (Some(k), t) => // shorthand, rename, nested pattern, member target
            taken += k
            assign(t, member(v, k), env, thisVal)
          case (None, t) => // `...rest`: remaining own keys as a new object
            v match {
              case src: VObj =>
                val m = mutable.LinkedHashMap[String, V]()
                src.fields.keys.toSeq.filterNot(taken).foreach(k => m(k) = member(src, k))
                assign(t, VObj(m), env, thisVal)
              case _ => assign(t, VObj(mutable.LinkedHashMap[String, V]()), env, thisVal)
            }
        }
      case _ => throw new JsError("js: invalid assignment target")
    }

    def setMember(obj: V, name: String, v: V): Unit = obj match {
      case o: VObj =>
        // an accessor (own or prototype) intercepts assignment; a get-only
        // accessor silently ignores it (non-strict JS). Plain data
        // properties: assignment always creates an OWN property.
        (o.fields.get(name) orElse protoLookup(o.proto, name)) match {
          case Some(VAccess(_, s)) =>
            s.foreach(callValue(_, o, Seq(v), s"set $name"))
          case _ => o.fields(name) = v
        }
      case f: VFunc => f.propsMap.get(name) match { // statics, F.prototype = {...}
        case Some(VAccess(_, s)) => s.foreach(callValue(_, f, Seq(v), s"set $name"))
        case _ => f.propsMap(name) = v
      }
      case VArr(a) =>
        if (name == "length") {
          val n = toNum(v).toInt
          if (n < a.length) a.remove(n, a.length - n)
          else while (a.length < n) a += VUndef
        } else name.toIntOption match {
          case Some(i) if i >= 0 =>
            while (a.length <= i) a += VUndef
            a(i) = v
          case _ => throw new JsError(s"js: cannot set '$name' on array")
        }
      case other => throw new JsError(s"js: cannot set property '$name' of ${typeOf(other)}")
    }

    def member(obj: V, name: String): V = obj match {
      case o: VObj =>
        (o.fields.get(name) orElse protoLookup(o.proto, name)) match {
          case Some(VAccess(g, _)) => // getter runs with the RECEIVER as this
            g.map(callValue(_, o, Nil, s"get $name")).getOrElse(VUndef)
          case Some(v) => v
          case None => Builtins.objectMethod(obj, name)
        }
      case f: VFunc => name match {
        case "prototype" => f.prototypeObj
        case "call" => VNative("call", (_, args) =>
          callFunction(f, args.headOption.getOrElse(VUndef), args.drop(1)))
        case "apply" => VNative("apply", (_, args) => {
          val argv = args.lift(1) match {
            case Some(VArr(a)) => a.toSeq
            case _ => Nil
          }
          callFunction(f, args.headOption.getOrElse(VUndef), argv)
        })
        case "bind" => VNative("bind", (_, args) => {
          val boundThis = args.headOption.getOrElse(VUndef)
          val bound = args.drop(1)
          VNative("bound", (_, callArgs) => callFunction(f, boundThis, bound ++ callArgs))
        })
        case _ =>
          if (f.props != null) f.props.getOrElse(name, VUndef) match {
            case VAccess(g, _) => // static accessor: this = the class fn
              g.map(callValue(_, f, Nil, s"get $name")).getOrElse(VUndef)
            case v => v
          }
          else VUndef
      }
      case VArr(a) =>
        if (name == "length") VNum(a.length)
        else name.toIntOption match {
          case Some(i) => if (i >= 0 && i < a.length) a(i) else VUndef
          case None => Builtins.arrayMethod(this, a, name)
        }
      case VStr(s) =>
        if (name == "length") VNum(s.length)
        else name.toIntOption match {
          case Some(i) => if (i >= 0 && i < s.length) VStr(s.charAt(i).toString) else VUndef
          case None => Builtins.stringMethod(this, s, name)
        }
      case r: VRegex => name match {
        case "test" => VNative("test", (_, args) =>
          VBool(r.p.matcher(toStr(args.headOption.getOrElse(VUndef))).find()))
        // exec without `g`-statefulness (no lastIndex): first match + groups
        case "exec" => VNative("exec", (_, args) =>
          Builtins.regexFirstMatch(r, toStr(args.headOption.getOrElse(VUndef))))
        case "source" => VStr(r.source)
        case "flags" => VStr(r.flags)
        case "global" => VBool(r.global)
        case "toString" => VNative("toString", (_, _) => VStr(toStr(r)))
        case _ => VUndef
      }
      case VNull => throw new JsError(s"js: cannot read '$name' of null")
      case VUndef => throw new JsError(s"js: cannot read '$name' of undefined")
      case VNum(d) => name match {
        case "toFixed" => VNative("toFixed", (_, args) => {
          val digits = args.headOption.map(a => toNum(a).toInt).getOrElse(0)
          VStr(String.format(java.util.Locale.ROOT,
            s"%.${math.max(0, math.min(20, digits))}f", Double.box(d)))
        })
        case "toString" => VNative("toString", (_, _) => VStr(numToString(d)))
        case _ => VUndef
      }
      case VBool(_) => VUndef
      case _: VAccess => VUndef // accessor slots never escape member()
      case n: VNative => // statics (Promise.resolve & co)
        if (n.props != null) n.props.getOrElse(name, VUndef) else VUndef
      case _: VFunc => VUndef
    }
  }

  // ————————————————————————— semantics helpers —————————————————————————

  def truthy(v: V): Boolean = v match {
    case VBool(b) => b
    case VNum(d) => d != 0 && !d.isNaN
    case VStr(s) => s.nonEmpty
    case VNull | VUndef => false
    case _ => true
  }

  def toNum(v: V): Double = v match {
    case VNum(d) => d
    case VBool(b) => if (b) 1 else 0
    case VStr(s) => if (s.trim.isEmpty) 0 else s.trim.toDoubleOption.getOrElse(Double.NaN)
    case VNull => 0
    case _ => Double.NaN
  }

  /** JS regex flags → java.util.regex; `g` is semantic (no Java bit). */
  def compileRegex(pattern: String, flags: String): VRegex = {
    var bits = 0
    flags.foreach {
      case 'g' => () // global: handled by replace/match/exec call sites
      case 'i' => bits |= java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CASE
      case 'm' => bits |= java.util.regex.Pattern.MULTILINE
      case 's' => bits |= java.util.regex.Pattern.DOTALL
      case 'u' => () // java regex is code-point aware already
      case other => throw new JsError(s"js: unsupported regex flag '$other'")
    }
    try VRegex(pattern, flags, java.util.regex.Pattern.compile(pattern, bits))
    catch { case e: java.util.regex.PatternSyntaxException =>
      throw new JsError(s"js: invalid regex /$pattern/$flags: ${e.getDescription}")
    }
  }

  /** JS replacement string → Java: `$&` (whole match) becomes `$0`;
   * backslashes are literal in JS replacements so they're escaped. */
  def toJavaReplacement(r: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      val c = r.charAt(i)
      if (c == '\\') { sb.append("\\\\"); i += 1 }
      else if (c == '$' && i + 1 < r.length) {
        r.charAt(i + 1) match {
          case '&' => sb.append("$0"); i += 2
          case '$' => sb.append("\\$"); i += 2
          case d if d.isDigit => sb.append('$').append(d); i += 2
          case _ => sb.append("\\$"); i += 1
        }
      } else if (c == '$') { sb.append("\\$"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def toStr(v: V): String = v match {
    case VStr(s) => s
    case VNum(d) => numToString(d)
    case VBool(b) => b.toString
    case VNull => "null"
    case VUndef => "undefined"
    case VArr(a) => a.map(x => if (x == VNull || x == VUndef) "" else toStr(x)).mkString(",")
    case VObj(_) => "[object Object]"
    case r: VRegex => s"/${r.source}/${r.flags}"
    case _: VAccess => "undefined" // accessor slots never escape member()
    case _: VFunc | _: VNative => "function"
  }

  /** JS number→string: integral doubles print without a decimal point. */
  def numToString(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "Infinity" else "-Infinity" }
    else if (d == d.floor && math.abs(d) < 1e21)
      { val l = d.toLong; if (l == d) l.toString else BigDecimal(d).toBigInt.toString }
    else d.toString

  private def toPropName(v: V): String = toStr(v)

  def typeOf(v: V): String = v match {
    case VUndef => "undefined"
    case VNull => "object"
    case VBool(_) => "boolean"
    case VNum(_) => "number"
    case VStr(_) => "string"
    case _: VFunc | _: VNative => "function"
    case _ => "object"
  }

  private def strictEq(l: V, r: V): Boolean = (l, r) match {
    case (VNum(a), VNum(b)) => a == b
    case (VStr(a), VStr(b)) => a == b
    case (VBool(a), VBool(b)) => a == b
    case (VNull, VNull) | (VUndef, VUndef) => true
    case (a: VArr, b: VArr) => a eq b
    case (a: VObj, b: VObj) => a eq b
    case (a: VFunc, b: VFunc) => a eq b
    case (a: VRegex, b: VRegex) => a eq b
    case _ => false
  }

  private def looseEq(l: V, r: V): Boolean = (l, r) match {
    case (VNull, VUndef) | (VUndef, VNull) => true
    case (VNum(_), VStr(_)) | (VStr(_), VNum(_)) |
         (VBool(_), _) | (_, VBool(_)) => toNum(l) == toNum(r)
    case _ => strictEq(l, r)
  }

  private def binop(op: String, l: V, r: V): V = op match {
    case "+" => (l, r) match {
      case (VStr(_), _) | (_, VStr(_)) | (VArr(_), _) | (_, VArr(_)) |
           (VObj(_), _) | (_, VObj(_)) => VStr(toStr(l) + toStr(r))
      case _ => VNum(toNum(l) + toNum(r))
    }
    case "-" => VNum(toNum(l) - toNum(r))
    case "*" => VNum(toNum(l) * toNum(r))
    case "/" => VNum(toNum(l) / toNum(r))
    case "%" => VNum(toNum(l) % toNum(r))
    case "===" => VBool(strictEq(l, r))
    case "!==" => VBool(!strictEq(l, r))
    case "==" => VBool(looseEq(l, r))
    case "!=" => VBool(!looseEq(l, r))
    case "<" | "<=" | ">" | ">=" => (l, r) match {
      case (VStr(a), VStr(b)) =>
        val c = a.compareTo(b)
        VBool(op match { case "<" => c < 0; case "<=" => c <= 0; case ">" => c > 0; case _ => c >= 0 })
      case _ =>
        val (a, b) = (toNum(l), toNum(r))
        VBool(op match { case "<" => a < b; case "<=" => a <= b; case ">" => a > b; case _ => a >= b })
    }
    case "in" => (r: @unchecked) match {
      case VObj(f) => VBool(f.contains(toStr(l)))
      case VArr(a) => VBool(toStr(l).toIntOption.exists(i => i >= 0 && i < a.length))
      case _ => throw new JsError("js: 'in' needs an object")
    }
    case "instanceof" => r match {
      case f: VFunc =>
        val target = if (f.props != null) f.props.getOrElse("prototype", VUndef) else VUndef
        var cur: V = l match { case o: VObj => o.proto; case _ => VNull }
        var found = false
        var hops = 0 // proto cycles are constructible; bound the walk
        while (!found && hops < 1000) {
          cur match {
            case o: VObj =>
              if (target match { case t: VObj => t eq o; case _ => false }) found = true
              else { cur = o.proto; hops += 1 }
            case _ => hops = 1000
          }
        }
        VBool(found)
      case _: VNative => VBool(false) // native ctors produce primitives here
      case _ => throw new JsError("js: right-hand side of 'instanceof' is not callable")
    }
    case other => throw new JsError(s"js: unsupported operator '$other'")
  }

  // ————————————————————————— JSON —————————————————————————

  def stringify(v: V): String = stringifyWith(v, null)

  /** `get` resolves accessor properties (JSON.stringify invokes getters,
   * like JS's [[Get]]); null → accessors render as undefined (skipped) —
   * the engine-less fallback used by error formatting. */
  def stringifyWith(v: V, get: (VObj, String) => V): String = v match {
    case VUndef => "null" // stringify of bare undefined is undefined; inside containers → null
    case VNull => "null"
    case VBool(b) => b.toString
    case VNum(d) => if (d.isNaN || d.isInfinite) "null" else numToString(d)
    case VStr(s) => quote(s)
    case VArr(a) => a.map(stringifyWith(_, get)).mkString("[", ",", "]")
    case o @ VObj(f) =>
      f.keys.toSeq.iterator
        .map { k =>
          val x = f(k) match {
            case a: VAccess =>
              if (get != null && a.getter.isDefined) get(o, k) else VUndef
            case plain => plain
          }
          (k, x)
        }
        .filterNot(kv => kv._2.isInstanceOf[VFunc] || kv._2.isInstanceOf[VNative] || kv._2 == VUndef)
        .map { case (k, x) => quote(k) + ":" + stringifyWith(x, get) }.mkString("{", ",", "}")
    case _: VRegex => "{}" // JSON.stringify(/re/) === "{}" in JS
    case _: VAccess => "null"
    case _: VFunc | _: VNative => "null"
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def parseJson(s: String): V = {
    val p = new JsonP(s)
    val v = p.value()
    p.skipWs()
    if (!p.done) throw new JsError("js: JSON.parse trailing data")
    v
  }

  private class JsonP(s: String) {
    private var i = 0
    def done: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def err() = throw new JsError(s"js: JSON.parse error at $i")
    def value(): V = {
      skipWs()
      if (done) err()
      s.charAt(i) match {
        case '{' =>
          i += 1
          val m = mutable.LinkedHashMap[String, V]()
          skipWs()
          if (i < s.length && s.charAt(i) == '}') { i += 1; return VObj(m) }
          var more = true
          while (more) {
            skipWs()
            val k = str()
            skipWs()
            if (done || s.charAt(i) != ':') err()
            i += 1
            m(k) = value()
            skipWs()
            if (!done && s.charAt(i) == ',') { i += 1 }
            else { if (done || s.charAt(i) != '}') err(); i += 1; more = false }
          }
          VObj(m)
        case '[' =>
          i += 1
          val a = mutable.ArrayBuffer[V]()
          skipWs()
          if (i < s.length && s.charAt(i) == ']') { i += 1; return VArr(a) }
          var more = true
          while (more) {
            a += value()
            skipWs()
            if (!done && s.charAt(i) == ',') { i += 1 }
            else { if (done || s.charAt(i) != ']') err(); i += 1; more = false }
          }
          VArr(a)
        case '"' => VStr(str())
        case 't' => expectLit("true"); VBool(true)
        case 'f' => expectLit("false"); VBool(false)
        case 'n' => expectLit("null"); VNull
        case _ =>
          val start = i
          if (s.charAt(i) == '-') i += 1
          while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
          if (i == start) err()
          VNum(s.substring(start, i).toDouble)
      }
    }
    private def expectLit(lit: String): Unit = {
      if (!s.startsWith(lit, i)) err()
      i += lit.length
    }
    private def str(): String = {
      if (done || s.charAt(i) != '"') err()
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '/' => sb.append('/'); i += 2
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case _ => err()
          }
        } else { sb.append(c); i += 1 }
      }
      if (done) err()
      i += 1
      sb.toString
    }
  }

  // ————————————————————————— built-ins —————————————————————————

  private object Builtins {
    /** Property descriptor → field slot: {get,set} become a VAccess,
     * otherwise the plain `value` (enumerable/writable/configurable
     * attributes are ignored — documented divergence). */
    private def descToSlot(d: mutable.LinkedHashMap[String, V]): V = {
      val g = d.get("get").filter(_ != VUndef)
      val s = d.get("set").filter(_ != VUndef)
      if (g.isDefined || s.isDefined) VAccess(g, s)
      else d.getOrElse("value", VUndef)
    }

    def install(g: Env, engine: Engine): Unit = {
      val jsonObj = VObj(mutable.LinkedHashMap(
        "parse" -> VNative("JSON.parse", (_, args) => parseJson(argStr(args, 0))),
        "stringify" -> VNative("JSON.stringify", (_, args) =>
          args.headOption match {
            case None | Some(VUndef) => VUndef
            case Some(v) => VStr(stringifyWith(v, (o, k) => engine.member(o, k)))
          })))
      g.define("JSON", jsonObj)
      g.define("Array", VObj(mutable.LinkedHashMap(
        "isArray" -> VNative("Array.isArray", (_, args) =>
          VBool(args.headOption.exists(_.isInstanceOf[VArr]))),
        "from" -> VNative("Array.from", (_, args) => {
          val seq: Seq[V] = args.headOption.getOrElse(VUndef) match {
            case VArr(a) => a.toSeq
            case VStr(s) => s.map(c => VStr(c.toString))
            case o: VObj => engine.iteratorOf(o).toSeq // generators/iterators
            case _ => Nil
          }
          val mapped = args.lift(1) match {
            case Some(f @ (_: VFunc | _: VNative)) => seq.zipWithIndex.map {
              case (v, i) => engine.callValue(f, VUndef, Seq(v, VNum(i)), "Array.from")
            }
            case _ => seq
          }
          VArr(mutable.ArrayBuffer(mapped: _*))
        }))))
      // Promise: constructible native (`new Promise(exec)` routes through
      // the VNative new-path); statics live on the native's props map.
      // Synchronous microtask model — see VPromise's doc.
      val promiseCtor = VNative("Promise", (_, args) => {
        val p = engine.newPromise()
        args.headOption match {
          case Some(exec @ (_: VFunc | _: VNative)) =>
            val res = VNative("resolve", (_, a) => {
              engine.settlePromise(p, 1, a.headOption.getOrElse(VUndef)); VUndef
            })
            val rej = VNative("reject", (_, a) => {
              engine.settlePromise(p, 2, a.headOption.getOrElse(VUndef)); VUndef
            })
            try engine.callValue(exec, VUndef, Seq(res, rej), "Promise executor")
            catch { case JsThrown(v) => engine.settlePromise(p, 2, v) }
          case _ => throw new JsError("js: Promise executor must be a function")
        }
        p
      })
      def wrapResolved(v: V): VPromise = v match {
        case p: VPromise => p
        case other =>
          val p = engine.newPromise(); engine.settlePromise(p, 1, other); p
      }
      def iterableArg(a: Seq[V], who: String): Seq[V] = a.headOption match {
        case Some(VArr(arr)) => arr.toSeq
        case Some(o: VObj) => engine.iteratorOf(o).toSeq
        case _ => throw new JsError(s"js: $who expects an iterable")
      }
      promiseCtor.props = mutable.LinkedHashMap(
        "resolve" -> VNative("Promise.resolve", (_, a) =>
          wrapResolved(a.headOption.getOrElse(VUndef))),
        "reject" -> VNative("Promise.reject", (_, a) => {
          val p = engine.newPromise()
          engine.settlePromise(p, 2, a.headOption.getOrElse(VUndef))
          p
        }),
        "all" -> VNative("Promise.all", (_, a) => {
          val items = iterableArg(a, "Promise.all")
          val out = engine.newPromise()
          val results = mutable.ArrayBuffer.fill[V](items.length)(VUndef)
          var remaining = items.length
          if (remaining == 0) engine.settlePromise(out, 1, VArr(mutable.ArrayBuffer()))
          else items.zipWithIndex.foreach { case (item, i) =>
            engine.promiseThen(wrapResolved(item),
              Some(VNative("", (_, vs) => {
                results(i) = vs.headOption.getOrElse(VUndef)
                remaining -= 1
                if (remaining == 0) engine.settlePromise(out, 1, VArr(results))
                VUndef
              })),
              Some(VNative("", (_, vs) => {
                engine.settlePromise(out, 2, vs.headOption.getOrElse(VUndef)); VUndef
              })))
          }
          out
        }),
        "race" -> VNative("Promise.race", (_, a) => {
          val items = iterableArg(a, "Promise.race")
          val out = engine.newPromise() // first settle wins (state guard)
          items.foreach { item =>
            engine.promiseThen(wrapResolved(item),
              Some(VNative("", (_, vs) => {
                engine.settlePromise(out, 1, vs.headOption.getOrElse(VUndef)); VUndef
              })),
              Some(VNative("", (_, vs) => {
                engine.settlePromise(out, 2, vs.headOption.getOrElse(VUndef)); VUndef
              })))
          }
          out
        }),
        "allSettled" -> VNative("Promise.allSettled", (_, a) => {
          val items = iterableArg(a, "Promise.allSettled")
          val out = engine.newPromise()
          val results = mutable.ArrayBuffer.fill[V](items.length)(VUndef)
          var remaining = items.length
          if (remaining == 0) engine.settlePromise(out, 1, VArr(mutable.ArrayBuffer()))
          else items.zipWithIndex.foreach { case (item, i) =>
            def record(status: String, key: String): (V, Seq[V]) => V = (_, vs) => {
              results(i) = VObj(mutable.LinkedHashMap[String, V](
                "status" -> VStr(status), key -> vs.headOption.getOrElse(VUndef)))
              remaining -= 1
              if (remaining == 0) engine.settlePromise(out, 1, VArr(results))
              VUndef
            }
            engine.promiseThen(wrapResolved(item),
              Some(VNative("", record("fulfilled", "value"))),
              Some(VNative("", record("rejected", "reason"))))
          }
          out
        }))
      g.define("Promise", promiseCtor)
      // host bridge: synchronously settle a promise (identity on
      // non-promises). The ScriptHost preamble routes processBatch's
      // result through this so ASYNC processBatch works on the built-in
      // engine; external JSR-223 engines fall back to identity.
      g.define("__await", VNative("__await", (_, a) =>
        a.headOption.getOrElse(VUndef) match {
          case p: VPromise => engine.awaitSettle(p)
          case v => v
        }))
      // callable without `new` (as in JS); RegExp(/re/) re-wraps the source
      g.define("RegExp", VNative("RegExp", (_, args) => args.headOption match {
        case Some(r: VRegex) =>
          compileRegex(r.source, args.lift(1).map(toStr).getOrElse(r.flags))
        case other =>
          compileRegex(other.map(toStr).getOrElse(""), args.lift(1).map(toStr).getOrElse(""))
      }))
      g.define("Object", VObj(mutable.LinkedHashMap(
        "keys" -> VNative("Object.keys", (_, args) => args.headOption match {
          case Some(VObj(f)) => VArr(mutable.ArrayBuffer(f.keys.map(VStr).toSeq: _*))
          case Some(VArr(a)) => VArr(mutable.ArrayBuffer(a.indices.map(i => VStr(i.toString)): _*))
          case _ => VArr(mutable.ArrayBuffer())
        }),
        "values" -> VNative("Object.values", (_, args) => args.headOption match {
          case Some(o @ VObj(f)) => // [[Get]] per key: getters run
            VArr(mutable.ArrayBuffer(f.keys.toSeq.map(k => engine.member(o, k)): _*))
          case Some(VArr(a)) => VArr(a.clone())
          case _ => VArr(mutable.ArrayBuffer())
        }),
        "assign" -> VNative("Object.assign", (_, args) => args.headOption match {
          case Some(t: VObj) =>
            args.drop(1).foreach { // source reads are [[Get]], target writes
              case src @ VObj(sf) => // are [[Set]]: accessors run on BOTH sides
                sf.keys.toSeq.foreach(k => engine.setMember(t, k, engine.member(src, k)))
              case _ => ()
            }
            t
          case other => other.getOrElse(VUndef)
        }),
        "create" -> VNative("Object.create", (_, args) => {
          val o = VObj(mutable.LinkedHashMap[String, V]())
          args.headOption match {
            case Some(p: VObj) => o.proto = p
            case Some(VNull) | None => ()
            case Some(other) => throw new JsError(
              s"js: Object.create prototype must be an object or null, got ${typeOf(other)}")
          }
          args.lift(1).foreach { // property-descriptor map
            case VObj(descs) => descs.foreach {
              case (k, VObj(d)) => o.fields(k) = descToSlot(d)
              case (k, v) => o.fields(k) = v
            }
            case _ => ()
          }
          o
        }),
        "entries" -> VNative("Object.entries", (_, args) => args.headOption match {
          case Some(o @ VObj(f)) => // [[Get]] per key: getters run
            VArr(mutable.ArrayBuffer(f.keys.toSeq.map(k =>
              VArr(mutable.ArrayBuffer(VStr(k), engine.member(o, k)))): _*))
          case Some(VArr(a)) =>
            VArr(mutable.ArrayBuffer(a.toSeq.zipWithIndex.map { case (x, i) =>
              VArr(mutable.ArrayBuffer(VStr(i.toString), x)): V }: _*))
          case _ => VArr(mutable.ArrayBuffer())
        }),
        "defineProperty" -> VNative("Object.defineProperty", (_, args) => args.headOption match {
          case Some(o: VObj) =>
            (args.lift(1), args.lift(2)) match {
              case (Some(kv), Some(VObj(d))) => o.fields(toStr(kv)) = descToSlot(d)
              case _ => throw new JsError("js: Object.defineProperty needs (obj, key, descriptor)")
            }
            o
          case other => throw new JsError(
            s"js: Object.defineProperty target must be an object, got ${other.map(typeOf).getOrElse("nothing")}")
        }),
        "getPrototypeOf" -> VNative("Object.getPrototypeOf", (_, args) => args.headOption match {
          case Some(o: VObj) => o.proto
          case _ => VNull
        }),
        "setPrototypeOf" -> VNative("Object.setPrototypeOf", (_, args) => {
          args.headOption match {
            case Some(o: VObj) => args.lift(1) match {
              case Some(p: VObj) => o.proto = p
              case Some(VNull) => o.proto = VNull
              case _ => ()
            }
            case _ => ()
          }
          args.headOption.getOrElse(VUndef)
        }))))
      g.define("Math", VObj(mutable.LinkedHashMap(
        "floor" -> mathFn(math.floor), "ceil" -> mathFn(math.ceil),
        "round" -> mathFn(d => math.floor(d + 0.5)), "abs" -> mathFn(math.abs),
        "sqrt" -> mathFn(math.sqrt), "trunc" -> mathFn(d => d.toLong.toDouble),
        "min" -> VNative("Math.min", (_, args) =>
          VNum(if (args.isEmpty) Double.PositiveInfinity else args.map(toNum).min)),
        "max" -> VNative("Math.max", (_, args) =>
          VNum(if (args.isEmpty) Double.NegativeInfinity else args.map(toNum).max)),
        "pow" -> VNative("Math.pow", (_, args) =>
          VNum(math.pow(argNum(args, 0), argNum(args, 1)))))))
      g.define("console", VObj(mutable.LinkedHashMap(
        "log" -> VNative("console.log", (_, args) => {
          // engines are cached per (thread, script) across micro-batches —
          // an unbounded log would leak on a long-lived executor
          if (engine.consoleLog.size >= 1000) engine.consoleLog.remove(0)
          engine.consoleLog += args.map(toStr).mkString(" ")
          VUndef
        }))))
      g.define("String", VNative("String", (_, args) => VStr(args.headOption.map(toStr).getOrElse(""))))
      g.define("Number", VNative("Number", (_, args) => VNum(args.headOption.map(toNum).getOrElse(0))))
      g.define("Boolean", VNative("Boolean", (_, args) => VBool(args.headOption.exists(truthy))))
      g.define("parseInt", VNative("parseInt", (_, args) => {
        val s = argStr(args, 0).trim
        val m = "^[+-]?\\d+".r.findFirstIn(s)
        m.map(x => VNum(x.toDouble)).getOrElse(VNum(Double.NaN))
      }))
      g.define("parseFloat", VNative("parseFloat", (_, args) => {
        val s = argStr(args, 0).trim
        val m = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r.findFirstIn(s)
        m.map(x => VNum(x.toDouble)).getOrElse(VNum(Double.NaN))
      }))
      g.define("isNaN", VNative("isNaN", (_, args) => VBool(toNum(args.headOption.getOrElse(VUndef)).isNaN)))
      g.define("NaN", VNum(Double.NaN))
      g.define("Infinity", VNum(Double.PositiveInfinity))
    }

    private def mathFn(f: Double => Double): VNative =
      VNative("math", (_, args) => VNum(f(argNum(args, 0))))
    private def argStr(args: Seq[V], i: Int): String =
      toStr(args.lift(i).getOrElse(VUndef))
    private def argNum(args: Seq[V], i: Int): Double =
      toNum(args.lift(i).getOrElse(VUndef))

    def objectMethod(obj: V, name: String): V = name match {
      case "hasOwnProperty" => VNative("hasOwnProperty", (self, args) => self match {
        case VObj(f) => VBool(f.contains(argStr(args, 0)))
        case _ => VBool(false)
      })
      case "toString" => VNative("toString", (self, _) => VStr(toStr(self)))
      case _ => VUndef
    }

    def arrayMethod(engine: Engine, a: mutable.ArrayBuffer[V], name: String): V = name match {
      case "push" => VNative("push", (_, args) => { a ++= args; VNum(a.length) })
      case "pop" => VNative("pop", (_, _) =>
        if (a.isEmpty) VUndef else a.remove(a.length - 1))
      case "shift" => VNative("shift", (_, _) => if (a.isEmpty) VUndef else a.remove(0))
      case "unshift" => VNative("unshift", (_, args) => { a.prependAll(args); VNum(a.length) })
      case "filter" => VNative("filter", (_, args) => {
        val f = args.head
        VArr(a.zipWithIndex.collect {
          case (v, i) if truthy(engine.callValue(f, VUndef, Seq(v, VNum(i)), "filter")) => v
        })
      })
      case "map" => VNative("map", (_, args) => {
        val f = args.head
        VArr(a.zipWithIndex.map { case (v, i) =>
          engine.callValue(f, VUndef, Seq(v, VNum(i)), "map")
        })
      })
      case "forEach" => VNative("forEach", (_, args) => {
        val f = args.head
        a.zipWithIndex.foreach { case (v, i) =>
          engine.callValue(f, VUndef, Seq(v, VNum(i)), "forEach")
        }
        VUndef
      })
      case "find" => VNative("find", (_, args) => {
        val f = args.head
        a.find(v => truthy(engine.callValue(f, VUndef, Seq(v), "find"))).getOrElse(VUndef)
      })
      case "some" => VNative("some", (_, args) => {
        val f = args.head
        VBool(a.exists(v => truthy(engine.callValue(f, VUndef, Seq(v), "some"))))
      })
      case "every" => VNative("every", (_, args) => {
        val f = args.head
        VBool(a.forall(v => truthy(engine.callValue(f, VUndef, Seq(v), "every"))))
      })
      case "reduce" => VNative("reduce", (_, args) => {
        val f = args.head
        var acc = if (args.length > 1) args(1)
          else { if (a.isEmpty) throw new JsError("js: reduce of empty array"); a.head }
        val start = if (args.length > 1) 0 else 1
        (start until a.length).foreach(i =>
          acc = engine.callValue(f, VUndef, Seq(acc, a(i), VNum(i)), "reduce"))
        acc
      })
      case "indexOf" => VNative("indexOf", (_, args) =>
        VNum(a.indexWhere(v => strictEq(v, args.headOption.getOrElse(VUndef)))))
      case "includes" => VNative("includes", (_, args) =>
        VBool(a.exists(v => strictEq(v, args.headOption.getOrElse(VUndef)))))
      case "join" => VNative("join", (_, args) => {
        val sep = args.headOption.map(toStr).getOrElse(",")
        VStr(a.map(x => if (x == VNull || x == VUndef) "" else toStr(x)).mkString(sep))
      })
      case "slice" => VNative("slice", (_, args) => {
        val len = a.length
        def clamp(raw: Double, dflt: Int): Int = {
          if (raw.isNaN) dflt
          else { val i = raw.toInt; if (i < 0) math.max(0, len + i) else math.min(i, len) }
        }
        val from = args.lift(0).map(v => clamp(toNum(v), 0)).getOrElse(0)
        val until = args.lift(1).map(v => clamp(toNum(v), len)).getOrElse(len)
        VArr(a.slice(from, math.max(from, until)).clone())
      })
      case "concat" => VNative("concat", (_, args) => {
        val out = a.clone()
        args.foreach { case VArr(b) => out ++= b; case v => out += v }
        VArr(out)
      })
      case "sort" => VNative("sort", (_, args) => {
        val sorted = args.headOption match {
          case Some(f @ (_: VFunc | _: VNative)) =>
            a.sortWith((x, y) => toNum(engine.callValue(f, VUndef, Seq(x, y), "sort")) < 0)
          case _ => a.sortBy(toStr)
        }
        a.clear(); a ++= sorted
        VArr(a)
      })
      case "reverse" => VNative("reverse", (_, _) => {
        val rev = a.reverse; a.clear(); a ++= rev; VArr(a)
      })
      case _ => VUndef
    }

    /** exec/match result: [full, group1, ...] (unmatched groups → undefined)
     * or null when no match. */
    def regexFirstMatch(r: VRegex, s: String): V = {
      val m = r.p.matcher(s)
      if (!m.find()) VNull
      else VArr(mutable.ArrayBuffer((0 to m.groupCount()).map { g =>
        Option(m.group(g)).map(VStr).getOrElse(VUndef): V
      }: _*))
    }

    /** replace with a regex pattern: string replacements go through the
     * JS→Java `$`-reference translation; function replacements are called
     * as fn(match, group1..., offset, string) per JS. */
    def regexReplace(engine: Engine, r: VRegex, s: String, repl: V, global: Boolean): String =
      repl match {
        case f @ (_: VFunc | _: VNative) =>
          val m = r.p.matcher(s)
          val sb = new StringBuffer
          var more = m.find()
          while (more) {
            val args = (0 to m.groupCount()).map(g =>
              Option(m.group(g)).map(VStr).getOrElse(VUndef): V) ++
              Seq(VNum(m.start()), VStr(s))
            val res = toStr(engine.callValue(f, VUndef, args, "replace callback"))
            m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(res))
            more = global && m.find()
          }
          m.appendTail(sb)
          sb.toString
        case other =>
          val j = toJavaReplacement(toStr(other))
          if (global) r.p.matcher(s).replaceAll(j) else r.p.matcher(s).replaceFirst(j)
      }

    def stringMethod(engine: Engine, s: String, name: String): V = name match {
      case "toUpperCase" => VNative(name, (_, _) => VStr(s.toUpperCase))
      case "toLowerCase" => VNative(name, (_, _) => VStr(s.toLowerCase))
      case "includes" => VNative(name, (_, args) => VBool(s.contains(argStr(args, 0))))
      case "startsWith" => VNative(name, (_, args) => VBool(s.startsWith(argStr(args, 0))))
      case "endsWith" => VNative(name, (_, args) => VBool(s.endsWith(argStr(args, 0))))
      case "indexOf" => VNative(name, (_, args) => VNum(s.indexOf(argStr(args, 0))))
      case "trim" => VNative(name, (_, _) => VStr(s.trim))
      case "split" => VNative(name, (_, args) => args.headOption match {
        case Some(r: VRegex) =>
          VArr(mutable.ArrayBuffer(r.p.split(s, -1).toSeq.map(VStr): _*))
        case _ =>
          val sep = argStr(args, 0)
          val parts = if (sep.isEmpty) s.map(_.toString) else s.split(java.util.regex.Pattern.quote(sep), -1).toSeq
          VArr(mutable.ArrayBuffer(parts.map(VStr): _*))
      })
      case "replace" => VNative(name, (_, args) => args.headOption match {
        case Some(r: VRegex) => VStr(regexReplace(engine, r, s, args.lift(1).getOrElse(VUndef), r.global))
        case _ => VStr(s.replaceFirst(java.util.regex.Pattern.quote(argStr(args, 0)),
          java.util.regex.Matcher.quoteReplacement(argStr(args, 1))))
      })
      case "replaceAll" => VNative(name, (_, args) => args.headOption match {
        case Some(r: VRegex) =>
          if (!r.global) throw new JsError("js: replaceAll requires a /g regex")
          VStr(regexReplace(engine, r, s, args.lift(1).getOrElse(VUndef), global = true))
        case _ => VStr(s.replace(argStr(args, 0), argStr(args, 1)))
      })
      case "match" => VNative(name, (_, args) => args.headOption match {
        case Some(r: VRegex) if r.global =>
          val m = r.p.matcher(s)
          val all = mutable.ArrayBuffer[V]()
          while (m.find()) all += VStr(m.group())
          if (all.isEmpty) VNull else VArr(all)
        case Some(r: VRegex) => regexFirstMatch(r, s)
        case _ => regexFirstMatch(compileRegex(java.util.regex.Pattern.quote(argStr(args, 0)), ""), s)
      })
      case "search" => VNative(name, (_, args) => args.headOption match {
        case Some(r: VRegex) =>
          val m = r.p.matcher(s); VNum(if (m.find()) m.start() else -1)
        case _ => VNum(s.indexOf(argStr(args, 0)))
      })
      case "substring" => VNative(name, (_, args) => {
        val from = math.max(0, math.min(argNum(args, 0).toInt, s.length))
        val to = args.lift(1).map(v => math.max(0, math.min(toNum(v).toInt, s.length))).getOrElse(s.length)
        VStr(s.substring(math.min(from, to), math.max(from, to)))
      })
      case "slice" => VNative(name, (_, args) => {
        val len = s.length
        def clamp(raw: Double): Int = { val i = raw.toInt; if (i < 0) math.max(0, len + i) else math.min(i, len) }
        val from = args.lift(0).map(v => clamp(toNum(v))).getOrElse(0)
        val until = args.lift(1).map(v => clamp(toNum(v))).getOrElse(len)
        VStr(if (from >= until) "" else s.substring(from, until))
      })
      case "charAt" => VNative(name, (_, args) => {
        val i = argNum(args, 0).toInt
        VStr(if (i >= 0 && i < s.length) s.charAt(i).toString else "")
      })
      case "charCodeAt" => VNative(name, (_, args) => {
        val i = argNum(args, 0).toInt
        if (i >= 0 && i < s.length) VNum(s.charAt(i).toInt) else VNum(Double.NaN)
      })
      case "padStart" => VNative(name, (_, args) => {
        val n = argNum(args, 0).toInt
        val pad = args.lift(1).map(toStr).getOrElse(" ")
        var out = s
        while (out.length < n && pad.nonEmpty) out = (pad + out).takeRight(math.max(n, s.length))
        VStr(out)
      })
      case "concat" => VNative(name, (_, args) => VStr(s + args.map(toStr).mkString))
      case "repeat" => VNative(name, (_, args) => VStr(s * math.max(0, argNum(args, 0).toInt)))
      case "toString" => VNative(name, (_, _) => VStr(s))
      case _ => VUndef
    }

    private def strictEq(l: V, r: V): Boolean = MiniJs.strictEq(l, r)
  }
}
