package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Pins [[JsonDecode.fusedFromJson]] to builtin `from_json` (PERMISSIVE +
 * partial results — Spark's defaults) on:
 *  1. the round-trip family the CDC pipeline actually produces
 *     (to_json of typed rows, nulls at every position),
 *  2. adversarial escapes / unicode / number formats,
 *  3. structural-shape cases (missing/extra/nested/duplicate keys),
 *  4. malformed documents,
 *  5. a randomized corpus over all of the above.
 *
 * Every case asserts FIELD-LEVEL equality of the two structs (and
 * null-ness of the struct itself), so a semantics drift in either
 * implementation fails with the offending payload in the message.
 */
class JsonDecodeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType),
    StructField("l", LongType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("b", BooleanType)))

  private def compare(payloads: Seq[String], clue: String,
                      cmpSchema: StructType = schema): Unit = {
    import spark.implicits._
    val df = payloads.toDF("j")
    val rows = df.select(
        col("j"),
        from_json(col("j"), cmpSchema).as("ref"),
        JsonDecode.fusedFromJson(col("j"), cmpSchema).as("got"))
      .collect()
    rows.foreach { r =>
      val j = r.getString(0)
      val ref = if (r.isNullAt(1)) null else r.getStruct(1)
      val got = if (r.isNullAt(2)) null else r.getStruct(2)
      assert((ref == null) == (got == null),
        s"[$clue] struct nullness diverged for <$j>: ref=$ref got=$got")
      if (ref != null) {
        // boxed-equality with recursion: NaN == NaN holds (a primitive
        // ArraySeq.ofDouble would compare NaN with ==), -0.0 != 0.0 strict
        def deepEq(x: Any, y: Any): Boolean = (x, y) match {
          case (null, null) => true
          case (null, _) | (_, null) => false
          // collection.Seq, not the immutable default alias — Spark hands
          // back mutable.ArraySeq, which the `Seq` pattern does NOT match
          case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) =>
            a.length == b.length &&
              a.iterator.zip(b.iterator).forall { case (u, v) => deepEq(u, v) }
          // external map conversion dedupes duplicate keys identically for
          // both impls, so Map-level equality is the right external check
          case (a: scala.collection.Map[_, _], b: scala.collection.Map[_, _]) =>
            a.size == b.size && a.forall { case (k, v) =>
              b.asInstanceOf[scala.collection.Map[Any, Any]].get(k) match {
                case Some(bv) => deepEq(v, bv)
                case None => false
              }
            }
          case (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) =>
            a.length == b.length &&
              (0 until a.length).forall(k => deepEq(
                if (a.isNullAt(k)) null else a.get(k),
                if (b.isNullAt(k)) null else b.get(k)))
          case (a, b) =>
            java.util.Objects.equals(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef])
        }
        (0 until cmpSchema.length).foreach { f =>
          val rv = if (ref.isNullAt(f)) null else ref.get(f)
          val gv = if (got.isNullAt(f)) null else got.get(f)
          assert(deepEq(rv, gv),
            s"[$clue] field ${cmpSchema(f).name} diverged for <$j>: ref=$rv got=$gv")
        }
      }
    }
  }

  test("round-trip family: to_json of typed rows, nulls at every position") {
    import spark.implicits._
    val rows = Seq(
      ("plain text", 42L, 7, 3.5, true),
      ("", 0L, 0, 0.0, false),
      ("unicode é 漢 😀", Long.MaxValue, Int.MinValue, -1.25e-3, true),
      (null, Long.MinValue, Int.MaxValue, 1.0e300, false),
      ("q\"uote\\back\nnl\ttabctl", -1L, -1, -0.0, true))
    val payloads = rows.toDF("s", "l", "i", "d", "b")
      .select(to_json(struct(col("s"), col("l"), col("i"), col("d"), col("b"))))
      .as[String].collect().toSeq ++
      Seq("""{"s":null,"l":null,"i":null,"d":null,"b":null}""", "{}")
    compare(payloads, "roundtrip")
  }

  test("escapes and unicode: short forms, \\uXXXX, surrogate pairs, lone surrogate") {
    compare(Seq(
      """{"s":"a\"b\\c\/d\be\ff\ng\rh\ti"}""",
      """{"s":"Aé漢"}""",
      """{"s":"😀"}""",
      """{"s":"𐐷 mixed"}""",
      "{\"s\":\"lone \\ud800 high\"}", // the 6-character JSON escape of a lone high surrogate
      "{\"s\":\"lone \\udc00 low\"}", // and of a lone low one
      "{\"s\":\"\u0000nul\"}", // a raw NUL inside the string
      """{"s":"ends with backslash \\"}"""), "escapes")
  }

  test("structure: missing, extra (incl. nested), duplicate keys, whitespace") {
    compare(Seq(
      """{"l":1}""",
      """{"x":1,"l":2,"y":"z"}""",
      """{"nested":{"a":[1,2,{"b":"}"}],"c":"]"},"l":3}""",
      """{"arr":[[1,2],["a","{"],null,true],"s":"kept"}""",
      """{"l":1,"l":2}""",
      """{"s":"first","s":null}""",
      """  {  "l" :  5 , "s" : "sp"  }  """,
      """{"l":1,"unknown":"😀\n"}"""), "structure")
  }

  test("field coercion failures null the field, not the row (partial results)") {
    compare(Seq(
      """{"s":"ok","l":"notanumber"}""",
      """{"l":1.5,"s":"kept"}""",
      """{"l":1e3}""",
      """{"l":99999999999999999999999,"i":7}""",
      """{"i":4294967296,"s":"kept"}""",
      """{"b":"true","s":"kept"}""",
      """{"b":1,"s":"kept"}""",
      """{"d":true,"s":"kept"}""",
      """{"s":123}""",
      """{"s":-4.5e2}""",
      """{"s":true,"l":8}""",
      """{"s":false}""",
      """{"s":{"raw":"obj"},"l":9}""",
      """{"s":[1,"a",null],"l":10}""",
      """{"l":{"x":1}}""",
      """{"d":[1]}"""), "coercion")
  }

  test("double formats: exponents, subnormals, -0.0, quoted specials") {
    compare(Seq(
      """{"d":1}""",
      """{"d":-0.0}""",
      """{"d":1e308}""",
      """{"d":-1.7976931348623157e308}""",
      """{"d":5e-324}""",
      """{"d":1.0000000000000002}""",
      """{"d":2.5E3}""",
      """{"d":0.1}""",
      """{"d":"NaN"}""",
      """{"d":"Infinity"}""",
      """{"d":"+INF"}""",
      """{"d":"-Infinity"}""",
      """{"d":"-INF"}""",
      """{"d":"1.5"}""",
      """{"d":"junk"}"""), "doubles")
  }

  test("malformed documents and degenerate inputs") {
    compare(Seq(
      null, "", "   ", "null", " null ",
      "{", """{"s"""", """{"s":}""", """{"s":"unterminated""",
      """{"l":01}""", """{"l":+1}""", """{"l":1,}""", """{"l":1""",
      """{"s":"bad \q escape"}""", """{"s":"bad \""" + """u00zz"}""",
      "[]", """[{"l":1}]""", "true", "123", "\"str\"",
      """{"l":1}trailing""", """{"l":--1}""", """{bare:1}"""), "malformed")
  }

  test("skipped values tokenize strictly: nested garbage nulls the row like the builtin") {
    compare(Seq(
      """{"l":1,"x":{bogus##}}""",
      """{"l":1,"x":{"a":tru}}""",
      """{"l":1,"x":[01]}""",
      """{"l":1,"x":[1,]}""",
      """{"l":1,"x":{"a":1,}}""",
      """{"l":1,"x":{"a" 1}}""",
      """{"l":1,"x":["unterminated}""",
      """{"l":1,"x":{"ok":[{"deep":"fine"}],"n":-2.5e3},"s":"kept"}""",
      """{"s":{"ok":true,"arr":[null,false,"x"]},"l":2}""",
      """{"s":[raw#],"l":3}"""), "strict-skip")
  }

  test("nested structs/arrays: builtin-parity on the full failure-propagation matrix") {
    // empirically pinned builtin semantics (r15): struct boundaries ABSORB
    // coercion failures (field nulls, siblings keep), arrays PROPAGATE
    // (any failed element nulls the whole array value), struct elements
    // inside arrays absorb their own leaf failures, explicit JSON null is
    // a value everywhere
    val nestedSchema = StructType(Seq(
      StructField("o", StructType(Seq(
        StructField("a", LongType), StructField("b", LongType)))),
      StructField("arr", ArrayType(LongType)),
      StructField("sarr", ArrayType(StructType(Seq(StructField("a", LongType))))),
      StructField("aa", ArrayType(ArrayType(LongType))),
      StructField("as", ArrayType(StringType)),
      StructField("ab", ArrayType(BooleanType)),
      StructField("ad", ArrayType(DoubleType)),
      StructField("sa", StructType(Seq(
        StructField("in", ArrayType(LongType)), StructField("k", LongType)))),
      StructField("so", ArrayType(StructType(Seq(
        StructField("x", StructType(Seq(StructField("y", LongType)))))))),
      StructField("s", StringType),
      StructField("l", LongType)))
    compare(Seq(
      // struct absorption + wrong tokens for containers
      """{"o":{"a":1,"b":"str"},"l":7}""",
      """{"o":5,"l":7}""",
      """{"o":[1,2],"l":7}""",
      """{"o":null,"l":7}""",
      """{"o":{},"l":7}""",
      """{"o":{"a":1,"a":2},"l":7}""",
      """{"o":{"a":1,"z":{"deep":[1,2]}},"l":7}""",
      // scalar arrays: propagate failures, keep explicit nulls
      """{"arr":[1,"x",3],"l":7}""",
      """{"arr":{"a":1},"l":7}""",
      """{"arr":[1,null,3],"l":7}""",
      """{"arr":[1,2.5,3],"l":7}""",
      """{"arr":[],"l":7}""",
      """{"arr":[9007199254740993111111111111],"l":7}""",
      """{"ab":[true,false,null,1],"l":7}""",
      """{"ad":[1,2.5,"NaN","x"],"l":7}""",
      """{"ad":[1,2.5,"NaN","-INF"],"l":7}""",
      // arrays of structs: object elements absorb, non-object fails all
      """{"sarr":[{"a":1},{"a":"x"},{"a":3}],"l":7}""",
      """{"sarr":[{"a":1},5],"l":7}""",
      """{"so":[{"x":{"y":"bad"}},{"x":{"y":2}}],"l":7}""",
      """{"so":[{"x":5}],"l":7}""",
      // nested arrays: inner failure nulls the OUTER array value
      """{"aa":[[1,2],[3]],"l":7}""",
      """{"aa":[[1,"x"],[3]],"l":7}""",
      """{"aa":[[1,2],5],"l":7}""",
      """{"aa":[],"as":[],"l":7}""",
      // string coercions inside arrays: Jackson re-serialization parity
      """{"as":["x",{"y":1},5,-4.5e2,true,null],"l":7}""",
      """{"as":["A\n",[1,2]],"l":7}""",
      // struct field inside struct: inner array failure absorbed at sa.in
      """{"sa":{"in":[1,"x"],"k":9},"l":7}""",
      // malformed inside a PARSED nested container → whole row all-null
      """{"o":{bogus},"l":7}""",
      """{"arr":[01],"l":7}""",
      """{"sarr":[{"a":1},{"a"}],"l":7}""",
      // escaped nested field names still match
      """{"o":{"a":42},"l":7}"""), "nested", nestedSchema)
  }

  test("nested decimals and timestamps: leaf semantics hold under nesting") {
    val sch = StructType(Seq(
      StructField("d", StructType(Seq(
        StructField("dec", DecimalType(10, 2)), StructField("ts", TimestampType)))),
      StructField("adec", ArrayType(DecimalType(6, 3))),
      StructField("ats", ArrayType(TimestampType)),
      StructField("l", LongType)))
    compare(Seq(
      """{"d":{"dec":12.345,"ts":"2024-03-01T10:15:30Z"},"l":1}""",
      """{"d":{"dec":"99.99","ts":1709288130},"l":2}""",
      """{"d":{"dec":123456789012.3,"ts":"junk"},"l":3}""",
      """{"adec":[1.5,"2.25",3],"l":4}""",
      """{"adec":[1.5,"junk"],"l":5}""",
      """{"adec":[1234.5678],"l":6}""",
      """{"ats":["2024-03-01 10:15:30",1709288130,null],"l":7}""",
      """{"ats":["2024-03-01 10:15:30","junk"],"l":8}"""), "nested-leaf", sch)
  }

  test("nesting depth cap matches Jackson's 1000-deep constraint exactly") {
    // total nesting counts the PARSED top-level object too (r14 advice):
    // 1000 deep (top + 999 skipped levels) must parse, 1001 must null the
    // row — on both implementations
    def doc(depth: Int): String = {
      val inner = "[" * (depth - 1) + "1" + "]" * (depth - 1)
      s"""{"l":7,"x":$inner}"""
    }
    compare(Seq(doc(999), doc(1000), doc(1001), doc(1002)), "depth-cap")
  }

  test("decimal leaves: number + string tokens, rounding, overflow, junk") {
    val decSchema = StructType(Seq(
      StructField("dec", DecimalType(12, 2)),
      StructField("tiny", DecimalType(20, 10)),
      StructField("s", StringType)))
    compare(Seq(
      """{"dec":1234.56,"tiny":0.0000000001,"s":"a"}""",
      """{"dec":1234.567,"s":"rounded"}""",
      """{"dec":-0.005,"s":"half-up"}""",
      """{"dec":1,"tiny":2}""",
      """{"dec":1e3,"tiny":1.5e-9}""",
      """{"dec":99999999999,"s":"overflow-precision"}""",
      """{"dec":"1234.56","tiny":"-42"}""",
      """{"dec":" 1 ","s":"ws-in-string"}""",
      """{"dec":"junk","s":"kept"}""",
      """{"dec":"","s":"empty"}""",
      """{"dec":true,"s":"bool"}""",
      """{"dec":null,"tiny":-0.0000000001}""",
      """{"dec":{"x":1},"s":"obj"}""",
      """{"dec":"1e2","tiny":"0.1e-3"}"""), "decimals", decSchema)
  }

  test("timestamp leaves: ISO/space strings, offsets, epoch-second ints, junk") {
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("s", StringType)))
    compare(Seq(
      """{"ts":"2026-03-01T12:34:56.789Z","s":"iso-z"}""",
      """{"ts":"2026-03-01T12:34:56.789+05:30"}""",
      """{"ts":"2026-03-01 12:34:56"}""",
      """{"ts":"2026-03-01 12:34:56.123456"}""",
      """{"ts":"2026-03-01"}""",
      """{"ts":"2026-03-01T12:34:56"}""",
      """{"ts":1700000000,"s":"epoch-secs"}""",
      """{"ts":-1,"s":"neg-secs"}""",
      """{"ts":99999999999999999999,"s":"beyond-long"}""",
      """{"ts":1.5,"s":"float"}""",
      """{"ts":"not a time","s":"kept"}""",
      """{"ts":"","s":"empty"}""",
      """{"ts":true}""",
      """{"ts":null,"s":"explicit-null"}"""), "timestamps", tsSchema)
  }

  test("timestamp decode resolves the session zone at analysis, like from_json") {
    import spark.implicits._
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      val tsSchema = StructType(Seq(StructField("ts", TimestampType)))
      val df = Seq("""{"ts":"2026-03-01 12:34:56"}""",
        """{"ts":"2026-03-01T00:00:00"}""").toDF("j")
      // build BOTH columns first, switch the session zone, then execute —
      // zone-less timestamp strings must parse in the zone in force at
      // analysis, identically on both sides (TimeZoneAwareExpression)
      val fused = JsonDecode.fusedFromJson(col("j"), tsSchema).getField("ts").cast("long").as("f")
      val builtin = from_json(col("j"), tsSchema).getField("ts").cast("long").as("b")
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val rows = df.select(fused, builtin).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"zone divergence: fused=${r.getLong(0)} builtin=${r.getLong(1)}"))
      // and the parse genuinely used Tokyo: noon Tokyo != noon UTC
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = df.select(
        JsonDecode.fusedFromJson(col("j"), tsSchema).getField("ts").cast("long").as("f"))
        .collect()
      assert(rows(0).getLong(0) != utc(0).getLong(0),
        "expected different instants under different session zones")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("map leaves: entry semantics, propagation, dup keys, nesting (r15)") {
    // builtin-probed on 4.1.2: a failed entry VALUE fails the WHOLE map
    // (maps propagate like arrays), struct values inside absorb their own
    // leaf failures, explicit nulls are entries, dup keys last-win at the
    // external Map conversion
    val msch = StructType(Seq(
      StructField("m", MapType(StringType, LongType)),
      StructField("k", LongType)))
    compare(Seq(
      """{"m":{"a":1,"b":2},"k":9}""",
      """{"m":{},"k":9}""",
      """{"m":{"a":null,"b":2},"k":9}""",
      """{"m":{"a":1,"a":2},"k":9}""",
      """{"m":{"a":"x","b":2},"k":9}""",
      """{"m":{"a":1,"b":1.5},"k":9}""",
      """{"m":[1,2],"k":9}""",
      """{"m":"x","k":9}""",
      """{"m":7,"k":9}""",
      """{"m":true,"k":9}""",
      """{"m":null,"k":9}""",
      """{"m":{"esc":1,"q\"uo":2},"k":9}""",
      """{ "m" : { "a" : 1 , "b" : 2 } , "k" : 9 }"""), "map-long", msch)

    val mstr = StructType(Seq(StructField("m", MapType(StringType, StringType))))
    compare(Seq(
      """{"m":{"a":"x","b":"y"}}""",
      """{"m":{"a":1,"b":2.5,"c":true,"d":null}}""",
      """{"m":{"a":{"inner":1},"b":[1,2]}}"""), "map-string-coercions", mstr)

    val mstruct = StructType(Seq(StructField("m", MapType(StringType,
      StructType(Seq(StructField("x", LongType), StructField("y", StringType)))))))
    compare(Seq(
      """{"m":{"a":{"x":1,"y":"u"},"b":{"x":"bad","y":"v"}}}""",
      """{"m":{"a":7}}""",
      """{"m":{"a":{"x":1},"b":null}}"""), "map-of-struct", mstruct)

    val marr = StructType(Seq(StructField("m", MapType(StringType, ArrayType(LongType)))))
    compare(Seq(
      """{"m":{"a":[1,2],"b":[]}}""",
      """{"m":{"a":[1,2],"b":[3,"bad"]}}""",
      """{"m":{"a":[1,null,2]}}"""), "map-of-array", marr)

    val amap = StructType(Seq(StructField("a", ArrayType(MapType(StringType, LongType)))))
    compare(Seq(
      """{"a":[{"k":1},{"j":2}]}""",
      """{"a":[{"k":1},{"j":"bad"}]}""",
      """{"a":[{},null,{"k":3}]}"""), "array-of-map", amap)

    val mmap = StructType(Seq(StructField("m",
      MapType(StringType, MapType(StringType, LongType)))))
    compare(Seq(
      """{"m":{"o1":{"a":1},"o2":{"b":2}}}""",
      """{"m":{"o1":{"a":"bad"},"o2":{"b":2}}}""",
      """{"m":{"o1":null}}"""), "map-of-map", mmap)

    // unsupported key type routes whole to builtin (behavioral no-op)
    assert(!JsonDecode.supported(StructType(Seq(
      StructField("m", MapType(LongType, StringType))))))
  }

  test("map containers count toward the 1000-deep nesting cap (r15)") {
    val msch = StructType(Seq(
      StructField("m", MapType(StringType, LongType)), StructField("l", LongType)))
    // parsed top (1) + skipped [ levels: 1000 total parses, 1001 nulls
    def doc(depth: Int): String = {
      val inner = "[" * (depth - 2) + "1" + "]" * (depth - 2)
      s"""{"m":{"a":1},"l":7,"x":$inner}"""
    }
    compare(Seq(doc(1000), doc(1001)), "map-depth-cap", msch)
    // and a parsed MAP level itself counts: {top{map ⇒ 2 levels
    val deepMap = StructType(Seq(StructField("m",
      MapType(StringType, MapType(StringType, LongType)))))
    compare(Seq("""{"m":{"a":{"b":1}}}"""), "map-parsed-depth", deepMap)
  }

  test("date leaves: formatter chain, legacy fallbacks, junk (r15)") {
    val dsch = StructType(Seq(
      StructField("d", DateType), StructField("s", StringType)))
    compare(Seq(
      """{"d":"2024-03-05","s":"iso"}""",
      """{"d":"2024-3-5","s":"loose"}""",
      """{"d":"2024-03-05T12:34:56","s":"ts-truncates"}""",
      """{"d":"2024-03-05 12:34:56","s":"space-ts"}""",
      """{"d":" 2024-03-05 ","s":"padded"}""",
      """{"d":"2024-03-05Z","s":"trailing-z"}""",
      """{"d":"2024","s":"year-only"}""",
      """{"d":"2024-03","s":"year-month"}""",
      """{"d":"+2024-03-05","s":"plus"}""",
      """{"d":"0001-01-01","s":"min"}""",
      """{"d":"9999-12-31","s":"max"}""",
      """{"d":"19000","s":"days-as-string-rebase"}""",
      """{"d":"-1","s":"neg-days"}""",
      """{"d":"0","s":"epoch"}""",
      """{"d":19000,"s":"int-token-fails"}""",
      """{"d":19000.5,"s":"float-token-fails"}""",
      """{"d":true,"s":"bool-fails"}""",
      """{"d":"","s":"empty-fails"}""",
      """{"d":"abc","s":"junk-fails"}""",
      """{"d":"2024-03-05x","s":"suffix-fails"}""",
      """{"d":null,"s":"null"}""",
      """{"d":[1],"s":"array-fails"}""",
      """{"d":{"y":1},"s":"object-fails"}"""), "date-leaf", dsch)
    // nested: date inside array inside struct
    val nsch = StructType(Seq(StructField("o", StructType(Seq(
      StructField("ds", ArrayType(DateType)), StructField("k", LongType))))))
    compare(Seq(
      """{"o":{"ds":["2024-03-05","1970-01-01",null],"k":1}}""",
      """{"o":{"ds":["2024-03-05","junk"],"k":2}}"""), "date-nested", nsch)
  }

  test("float leaves: rounding, overflow, specials, coercions (r15)") {
    val fsch = StructType(Seq(
      StructField("f", FloatType), StructField("s", StringType)))
    compare(Seq(
      """{"f":1.5,"s":"exact"}""",
      """{"f":-0.0,"s":"neg-zero"}""",
      """{"f":3,"s":"int-token"}""",
      """{"f":0.1,"s":"repeating"}""",
      """{"f":3.4e38,"s":"near-max"}""",
      """{"f":3.5e38,"s":"overflow-inf"}""",
      """{"f":-1e39,"s":"neg-overflow"}""",
      """{"f":1.4e-45,"s":"min-subnormal"}""",
      """{"f":7e-46,"s":"underflow-zero"}""",
      // the two double-narrowing traps: correct single rounding required
      """{"f":3.4028235677973366e38,"s":"trap-max-not-inf"}""",
      """{"f":7.0064923216240854e-46,"s":"trap-min-not-zero"}""",
      """{"f":16777217,"s":"int-precision-loss"}""",
      """{"f":123456789012345678901234567890,"s":"huge-int"}""",
      """{"f":"NaN","s":"nan"}""",
      """{"f":"Infinity","s":"inf"}""",
      """{"f":"+Infinity","s":"plus-inf"}""",
      """{"f":"+INF","s":"plus-INF"}""",
      """{"f":"-INF","s":"minus-INF"}""",
      """{"f":"-Infinity","s":"minus-inf"}""",
      """{"f":"INF","s":"bare-INF-fails"}""",
      """{"f":"nan","s":"lowercase-fails"}""",
      """{"f":"1.5","s":"quoted-number-fails"}""",
      """{"f":"","s":"empty-fails"}""",
      """{"f":true,"s":"bool-fails"}""",
      """{"f":null,"s":"null"}"""), "float-leaf", fsch)
    // maps of floats: propagation with float coercion failures
    val mfsch = StructType(Seq(StructField("m", MapType(StringType, FloatType))))
    compare(Seq(
      """{"m":{"a":1.5,"b":"NaN"}}""",
      """{"m":{"a":1.5,"b":"bad"}}"""), "map-of-float", mfsch)
  }

  test("randomized corpus: generated payloads agree field-for-field") {
    val rnd = new scala.util.Random(20260815)
    def randStr(): String = {
      val pieces = Seq("plain", "q\\\"uo", "\\\\", "\\n", "\\u0041", "é", "漢",
        "\\ud83d\\ude00", " ", "x" * rnd.nextInt(20))
      Seq.fill(1 + rnd.nextInt(4))(pieces(rnd.nextInt(pieces.length))).mkString
    }
    def randVal(kind: Int): String = kind match {
      case 0 => "\"" + randStr() + "\""
      case 1 => rnd.nextLong().toString
      case 2 => rnd.nextInt().toString
      case 3 => rnd.nextDouble().toString + (if (rnd.nextBoolean()) "e" + (rnd.nextInt(20) - 10) else "")
      case 4 => if (rnd.nextBoolean()) "true" else "false"
      case _ => "null"
    }
    val fields = Seq("s", "l", "i", "d", "b", "extra1", "extra2")
    val payloads = (1 to 300).map { _ =>
      val picked = rnd.shuffle(fields).take(1 + rnd.nextInt(fields.length))
      picked.map { f =>
        val kind = if (rnd.nextInt(10) == 0) rnd.nextInt(6) // wrong-type 10%
          else f match {
            case "s" => 0
            case "l" => 1
            case "i" => 2
            case "d" => 3
            case "b" => 4
            case _ => rnd.nextInt(6)
          }
        "\"" + f + "\":" + randVal(kind)
      }.mkString("{", ",", "}")
    }
    compare(payloads, "random")
  }

  test("fusedFromJson stays inside whole-stage codegen") {
    import spark.implicits._
    val df = Seq("""{"s":"a","l":1,"i":2,"d":3.5,"b":true}""").toDF("j")
      .select(JsonDecode.fusedFromJson(col("j"), schema).as("p"))
      .select(col("p.s"), col("p.l"))
    val cg = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(cg.contains("WholeStageCodegen"), s"fell out of codegen:\n${cg.take(1500)}")
  }
}
