package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.classic.GraftBridge

/**
 * Native signature expressions for fuzzy dedup.
 *
 * The naive formulation (explode tokens → 64 aggregate columns per doc) is a
 * full shuffle plus a code-generation blow-up: 40s of fixed overhead at toy
 * scale. These expressions compute the whole signature per row in one fused
 * loop — NO shuffle, no explode — so signature generation over 100 TB is a
 * pure narrow map over the corpus.
 *
 * Input: `array<long>` of 64-bit token hashes (`xxhash64` per token).
 */
object TextHashOps {

  /**
   * SimHash: bit j of the result = sign of Σ_tokens (bit j ? +1 : -1).
   * (Charikar similarity-preserving hash; near-dup ⇔ small Hamming distance.)
   */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override protected def nullSafeEval(input: Any): Any =
      TextHashHelpers.simhash64(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.TextHashHelpers.simhash64($a);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Deterministic MinHash coefficients (splitmix64 of the index). */
  private[graft] def coef(i: Int, salt: Long): Long = {
    val p = MinHashSignature.P
    var z = i.toLong * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    math.abs(z ^ (z >>> 31)) % (p - 1) + 1
  }

  object MinHashSignature {
    /** 2^31-1, Mersenne prime — universal-hash modulus. */
    val P: Long = 2147483647L
  }

  /**
   * MinHash signature: k permutation-mins over the token-hash set,
   * h_i(x) = (a_i·x + b_i) mod p. One fused loop per row.
   */
  case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    private lazy val as: Array[Long] = Array.tabulate(k)(i => coef(i, 0xA5A5L))
    private lazy val bs: Array[Long] = Array.tabulate(k)(i => coef(i, 0x5A5AL))

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.minhash(input.asInstanceOf[ArrayData], as, bs))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("minhashA", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashB", bs, "long[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.TextHashHelpers.minhash($a, $asRef, $bsRef));")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * All LSH band hashes of a signature in ONE pass: out[b] =
   * xxhash64(slice(sig, b·r+1, r), b) for b ∈ [0, bands), r = |sig|/bands —
   * VALUE-IDENTICAL to the composed builtin chain (XXH64.hashLong folded
   * over the slice from seed 42, then over the band literal; spec-pinned).
   * The composed form evaluates 32 `slice` calls per row, each allocating
   * an ArrayData copy before hashing 2 longs — this walks the signature
   * array once with zero allocation beyond the output.
   */
  case class BandHashes(child: Expression, bands: Int) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "band_hashes"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.bandHashes(input.asInstanceOf[ArrayData], bands))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.TextHashHelpers.bandHashes($a, $bands));")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * text → distinct word n-grams in ONE native pass: whitespace tokenization
   * (runs of spaces, matching `split(text, " +")` + empty-drop) fused with
   * n-gram construction. No higher-order functions anywhere — the interpreted
   * per-token lambda machinery (~ms/doc) was the dominant cost of every
   * fuzzy-dedup pipeline stage.
   */
  case class TextNgrams(child: Expression, n: Int) extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "text_ngrams"
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      // tokenize: runs of spaces as separators, drop empties
      val toks = new java.util.ArrayList[String]()
      var i = 0
      val len = s.length
      while (i < len) {
        while (i < len && s.charAt(i) == ' ') i += 1
        val start = i
        while (i < len && s.charAt(i) != ' ') i += 1
        if (i > start) toks.add(s.substring(start, i))
      }
      val m = toks.size() - n + 1
      if (m <= 0) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String](m)
      var j = 0
      val sb = new java.lang.StringBuilder(64)
      while (j < m) {
        sb.setLength(0)
        var q = 0
        while (q < n) {
          if (q > 0) sb.append(' ')
          sb.append(toks.get(j + q)); q += 1
        }
        seen.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
        j += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * text → ALL word n-grams (multiset, document order) in one native pass —
   * the [[TextNgrams]] tokenize+join fused walk WITHOUT the distinct set.
   * Needed wherever multiplicity carries signal: n-gram language-model
   * count training and per-document rarity scoring (an LM trained on
   * distinct n-grams would weight a once-used and a thousand-times-used
   * bigram identically).
   */
  case class TextNgramsAll(child: Expression, n: Int) extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "text_ngrams_all"
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val toks = new java.util.ArrayList[String]()
      var i = 0
      val len = s.length
      while (i < len) {
        while (i < len && s.charAt(i) == ' ') i += 1
        val start = i
        while (i < len && s.charAt(i) != ' ') i += 1
        if (i > start) toks.add(s.substring(start, i))
      }
      val m = toks.size() - n + 1
      if (m <= 0) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](m)
      var j = 0
      val sb = new java.lang.StringBuilder(64)
      while (j < m) {
        sb.setLength(0)
        var q = 0
        while (q < n) {
          if (q > 0) sb.append(' ')
          sb.append(toks.get(j + q)); q += 1
        }
        out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Fused whole-array string hashing: `array<string>` → `array<long>` in one
   * tight loop per row. Replaces `transform(arr, t => xxhash64(t))` — Spark
   * higher-order functions are interpreted per ELEMENT (closure + expression
   * tree eval each), measured at ~⅔ of the simhash/minhash query CPU. Values
   * are bit-identical to the HOF formulations (`xxhash64` seed 42;
   * `conv(substring(md5(t),1,15),16,10)` for the md5-60 variant), which the
   * DuckDB oracles rely on.
   */
  case class HashStringArray(child: Expression, algo: String) extends UnaryExpression {
    require(algo == "xxh64" || algo == "md5h60", s"unknown algo $algo")
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = s"hash_string_array_$algo"

    private def useMd5: Boolean = algo == "md5h60"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.hashStrings(input.asInstanceOf[ArrayData], useMd5))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.TextHashHelpers.hashStrings($a, $useMd5));")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * `array<long>` → SORTED DISTINCT `array<long>` in one pass (sort +
   * in-place dedup). Emitted once per doc at signature time so every
   * downstream pair verification can count set intersections with a
   * two-pointer MERGE instead of `array_intersect`/`array_union` (which
   * build a hash set PER PAIR — measured as the top stage of the
   * minhash-mining profile, ~12 task-CPU-s at sf0.1). Set semantics are
   * unchanged: the inputs are hashed shingle SETS, and dedup here mirrors
   * exactly what array_intersect/array_union did per pair.
   */
  case class SortedDistinctLongs(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "sorted_distinct_longs"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.sortedDistinct(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"""
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |  graft.functions.TextHashHelpers.sortedDistinct($a));
        |""".stripMargin)

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * text → SORTED DISTINCT xxhash64 hashes of word n-gram shingles, fused
   * into one byte-level pass. Value-equal (up to the standing xxhash64
   * collision argument) to `sorted_distinct_longs(hash_string_array_xxh64(
   * text_ngrams(text, n)))` — spec-pinned — but with ZERO string
   * allocation: the [[TextNgrams]]+[[HashStringArray]] chain decoded the
   * UTF8String to a java String, substring'd every token, built every
   * shingle through a StringBuilder→String→UTF8String round-trip and
   * hash-set-deduped the strings, which profiled as the dominant
   * DATA-SIZED term of the whole minhash family (~6 of ~20 task-CPU-s at
   * sf0.1, ~60 at ×10). Here tokens are byte spans (0x20 never occurs
   * inside a multi-byte UTF-8 sequence, so byte-level splitting equals the
   * char-level split), shingles are assembled into one reused buffer, and
   * xxhash64 runs over those bytes — identical bytes, identical seed,
   * identical hash values as hashing the shingle string.
   */
  case class TextNgramsHashedSorted(child: Expression, n: Int) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "text_ngrams_xxh64_sorted"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.ngramHashes64Sorted(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"""
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |  graft.functions.TextHashHelpers.ngramHashes64Sorted($a, $n));
        |""".stripMargin)

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * The POSITIONAL variant of [[TextNgramsHashedSorted]]: every w-gram's
   * xxhash64 in document order, multiplicity kept — the fused form of
   * `xxhash64Array(textNgramsAll(text, n))` (value-identical: same
   * " "-joined shingle bytes, same seed 42, same order), with zero string
   * allocation. For span probes that need the gram POSITION
   * ([[graft.llm.SubstringDedup]]'s duplicated-range marking).
   */
  case class TextNgramsHashedAll(child: Expression, n: Int) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "text_ngrams_xxh64_all"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.ngramHashes64All(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"""
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |  graft.functions.TextHashHelpers.ngramHashes64All($a, $n));
        |""".stripMargin)

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Whitespace token count in one byte walk — the fused form of
   * `size(textNgramsAll(text, 1))` (value-identical: runs of 0x20 split,
   * empties dropped) without materializing a string per token.
   */
  case class TokenCount(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def prettyName: String = "token_count"

    override protected def nullSafeEval(input: Any): Any =
      TextHashHelpers.tokenCount(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.TextHashHelpers.tokenCount($a);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Intersection COUNT of two sorted-distinct long arrays — a branchy-but-
   * allocation-free two-pointer merge per pair. With `|A∩B| = c`,
   * `|A∪B| = |A|+|B|-c`, so exact Jaccard needs no materialized
   * intersection/union arrays at all.
   */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_long_intersect_count"

    override protected def nullSafeEval(l: Any, r: Any): Any =
      TextHashHelpers.sortedIntersectCount(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextHashHelpers.sortedIntersectCount($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /**
   * Per-doc DSIR bucket-count vector — the fused form of exploding
   * `md5Hash60Array(textNgramsAll(text,1)) ++ (text,2)` and counting per
   * `pmod(h, B)` bucket, emitted as one array<double> row so
   * [[VectorSumAgg]] builds both corpus models map-side with NO explode.
   */
  case class DsirBucketCounts(child: Expression, buckets: Int) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "dsir_bucket_counts"

    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(TextHashHelpers.dsirBucketCounts(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], buckets))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => s"""
        |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        |  graft.functions.TextHashHelpers.dsirBucketCounts($a, $buckets));
        |""".stripMargin)

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /**
   * Per-doc DSIR log importance weight against a BROADCAST-LITERAL scale-10
   * fixed-point log-ratio model: struct(n_feats: long, w: decimal(38,10)).
   * The long sum of per-occurrence scaled llr values is exactly the
   * Decimal(·,10) sum the exploded join+agg shape computed — order-free —
   * so the output is value-identical with zero shuffle and zero explode.
   */
  case class DsirLogWeight(child: Expression, llrScaled: Array[Long], buckets: Int)
      extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = StructType(Seq(
      StructField("n_feats", LongType, nullable = false),
      StructField("w", DecimalType(38, 10), nullable = false)))
    override def prettyName: String = "dsir_log_weight"

    override protected def nullSafeEval(input: Any): Any =
      TextHashHelpers.dsirLogWeightRow(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], llrScaled, buckets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val llrRef = ctx.addReferenceObj("dsirLlr", llrScaled, "long[]")
      nullSafeCodeGen(ctx, ev, a => s"""
        |${ev.value} = graft.functions.TextHashHelpers.dsirLogWeightRow($a, $llrRef, $buckets);
        |""".stripMargin)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def simhash64(tokenHashes: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokenHashes)))
  def minhashSignature(tokenHashes: Column, k: Int): Column =
    GraftBridge.column(MinHashSignature(GraftBridge.expression(tokenHashes), k))
  /** array<long> signature → array<long> of `bands` LSH band hashes. */
  def bandHashes(sig: Column, bands: Int): Column =
    GraftBridge.column(BandHashes(GraftBridge.expression(sig), bands))
  def textNgramsAll(text: Column, n: Int): Column =
    GraftBridge.column(TextNgramsAll(GraftBridge.expression(text), n))
  def textNgrams(text: Column, n: Int): Column =
    GraftBridge.column(TextNgrams(GraftBridge.expression(text), n))
  /** array<string> → array<long> via xxhash64 (seed 42, = `xxhash64()`). */
  def xxhash64Array(tokens: Column): Column =
    GraftBridge.column(HashStringArray(GraftBridge.expression(tokens), "xxh64"))
  /** array<long> → sorted distinct array<long> (merge-verification form). */
  def sortedDistinct(hashes: Column): Column =
    GraftBridge.column(SortedDistinctLongs(GraftBridge.expression(hashes)))
  /** text → sorted-distinct xxhash64 shingle hashes, one fused byte pass. */
  def textNgramsXxh64Sorted(text: Column, n: Int): Column =
    GraftBridge.column(TextNgramsHashedSorted(GraftBridge.expression(text), n))
  /** text → ALL xxhash64 shingle hashes in document order (positions kept). */
  def textNgramsXxh64All(text: Column, n: Int): Column =
    GraftBridge.column(TextNgramsHashedAll(GraftBridge.expression(text), n))
  /** text → whitespace token count, one fused byte walk. */
  def tokenCount(text: Column): Column =
    GraftBridge.column(TokenCount(GraftBridge.expression(text)))
  /** |A∩B| over two sorted-distinct long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedLongIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  /** array<string> → array<long> via the md5-60-bit hash (DuckDB-reproducible). */
  def md5Hash60Array(tokens: Column): Column =
    GraftBridge.column(HashStringArray(GraftBridge.expression(tokens), "md5h60"))
  /** text → per-bucket DSIR feature counts (array<double>, length `buckets`). */
  def dsirBucketCounts(text: Column, buckets: Int): Column =
    GraftBridge.column(DsirBucketCounts(GraftBridge.expression(text), buckets))
  /** text → struct(n_feats, w decimal(38,10)) against a scaled llr model. */
  def dsirLogWeight(text: Column, llrScaled: Array[Long], buckets: Int): Column =
    GraftBridge.column(DsirLogWeight(GraftBridge.expression(text), llrScaled, buckets))
}

/** Static helpers callable from generated code (static forwarders). */
object TextHashHelpers {
  import org.apache.spark.unsafe.types.UTF8String

  def xxh64(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(s, StringType, 42L)

  /** SimHash of a token-hash array: bit j set when more hashes have bit j
   * set than clear (the [[TextHashOps.SimHash64]] kernel; empty input = 0). */
  def simhash64(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** MinHash signature: mins(j) = min over the hashes x of (as(j)·x + bs(j))
   * mod P, with x reduced mod P first (the [[TextHashOps.MinHashSignature]]
   * kernel; Long.MaxValue for an empty input). */
  def minhash(arr: ArrayData, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val P = TextHashOps.MinHashSignature.P
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val x = java.lang.Math.floorMod(arr.getLong(i), P)
      var j = 0
      while (j < k) {
        // (a·x+b) mod P by Mersenne folding (P = 2³¹−1, y < 2⁶²):
        // y ≡ (y>>>31)+(y&P), two folds land in [0, P+1] — VALUE-IDENTICAL
        // to floorMod but division-free (the 64 divisions per feature were
        // the dominant term of the whole minhash family's signature cost)
        val y = as(j) * x + bs(j)
        var v = (y >>> 31) + (y & P)
        v = (v >>> 31) + (v & P)
        if (v >= P) v -= P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /** out(b) = XXH64 of signature slice [b·r, b·r + r) from seed 42, then of
   * the band index, r = |sig| / bands (the [[TextHashOps.BandHashes]] kernel). */
  def bandHashes(sig: ArrayData, bands: Int): Array[Long] = {
    val r = sig.numElements() / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var j = b * r
      val end = j + r
      while (j < end) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig.getLong(j), h)
        j += 1
      }
      // the band index is an Int literal in the composed chain → hashInt
      out(b) = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, h)
      b += 1
    }
    out
  }

  /** Each string of `arr` hashed by [[md5h60]] when `useMd5`, else by
   * [[xxh64]] (the [[TextHashOps.HashStringArray]] kernel). */
  def hashStrings(arr: ArrayData, useMd5: Boolean): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    if (useMd5) while (i < n) { out(i) = md5h60(arr.getUTF8String(i)); i += 1 }
    else while (i < n) { out(i) = xxh64(arr.getUTF8String(i)); i += 1 }
    out
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a long — bit-identical to
   * `conv(substring(md5(t),1,15),16,10)` (60 bits, always positive). */
  def md5h60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) & 0xf0L) >>> 4)
  }

  private val shingleBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 10)
  }
  private val spanBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](512)
  }

  /** Fused tokenize→shingle→xxhash64→sort→dedup over UTF-8 BYTES; hash
   * values identical to xxh64 of the " "-joined shingle strings (same
   * bytes, same seed 42). */
  def ngramHashes64Sorted(u: UTF8String, n: Int): Array[Long] = {
    val out = ngramHashes64All(u, n)
    val m = out.length
    if (m == 0) return out
    java.util.Arrays.sort(out)
    var w2 = 0
    var k = 0
    while (k < m) {
      if (w2 == 0 || out(k) != out(w2 - 1)) { out(w2) = out(k); w2 += 1 }
      k += 1
    }
    if (w2 == m) out else java.util.Arrays.copyOf(out, w2)
  }

  /** The positional core of [[ngramHashes64Sorted]]: every n-gram's xxh64
   * in document order, duplicates kept (= xxh64 of each " "-joined shingle
   * of `textNgramsAll`). */
  def ngramHashes64All(u: UTF8String, n: Int): Array[Long] = {
    val bytes = u.getBytes
    val len = bytes.length
    // token spans packed as (start, end) pairs
    var spans = spanBuf.get()
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      val start = i
      while (i < len && bytes(i) != ' ') i += 1
      if (i > start) {
        if (nTok * 2 + 2 > spans.length) {
          spans = java.util.Arrays.copyOf(spans, spans.length * 2)
          spanBuf.set(spans)
        }
        spans(nTok * 2) = start
        spans(nTok * 2 + 1) = i
        nTok += 1
      }
    }
    val m = nTok - n + 1
    if (m <= 0) return new Array[Long](0)
    var buf = shingleBuf.get()
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var w = 0
      var q = 0
      while (q < n) {
        val s = spans((j + q) * 2)
        val e = spans((j + q) * 2 + 1)
        val tl = e - s
        if (w + tl + 1 > buf.length) {
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, w + tl + 1))
          shingleBuf.set(buf)
        }
        if (q > 0) { buf(w) = ' '; w += 1 }
        System.arraycopy(bytes, s, buf, w, tl)
        w += tl
        q += 1
      }
      out(j) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, w, 42L)
      j += 1
    }
    out
  }

  /** Whitespace (0x20-run) token count over UTF-8 bytes, empties dropped —
   * = `size(textNgramsAll(text, 1))` without the per-token strings. */
  def tokenCount(u: UTF8String): Int = {
    val bytes = u.getBytes
    val len = bytes.length
    var c = 0
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      if (i < len) { c += 1; while (i < len && bytes(i) != ' ') i += 1 }
    }
    c
  }

  /** Sort + in-place dedup of a long array (set canonicalization). */
  def sortedDistinct(a: org.apache.spark.sql.catalyst.util.ArrayData): Array[Long] = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i); i += 1 }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == n) out else java.util.Arrays.copyOf(out, w)
  }

  /** md5-60 bucket of `len` bytes at `off` — the gram-level core of
   * [[md5h60]] (identical digest bytes, identical 60-bit fold) followed by
   * the non-negative `% buckets` ([[graft.llm.Dsir]]'s pmod: the 60-bit
   * value is always ≥ 0, so % == pmod). */
  private def md5BucketOf(bytes: Array[Byte], off: Int, len: Int, buckets: Int): Int = {
    val d = md5.get()
    d.reset()
    d.update(bytes, off, len)
    val dig = d.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v = (v << 4) | ((dig(7) & 0xf0L) >>> 4)
    (v % buckets).toInt
  }

  /** Walk the doc's DSIR feature stream — every unigram and bigram, with
   * multiplicity, md5-60-hashed mod `buckets` (value-identical to
   * exploding `md5Hash60Array(textNgramsAll(text,1|2)) pmod B`) — calling
   * `f(bucket)` per occurrence. Returns the occurrence count. */
  private def dsirWalk(u: UTF8String, buckets: Int)(f: Int => Unit): Long = {
    val bytes = u.getBytes
    val len = bytes.length
    var spans = spanBuf.get()
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && bytes(i) == ' ') i += 1
      val start = i
      while (i < len && bytes(i) != ' ') i += 1
      if (i > start) {
        if (nTok * 2 + 2 > spans.length) {
          spans = java.util.Arrays.copyOf(spans, spans.length * 2)
          spanBuf.set(spans)
        }
        spans(nTok * 2) = start
        spans(nTok * 2 + 1) = i
        nTok += 1
      }
    }
    var j = 0
    while (j < nTok) { // unigrams: md5 straight over the token's byte span
      f(md5BucketOf(bytes, spans(j * 2), spans(j * 2 + 1) - spans(j * 2), buckets))
      j += 1
    }
    var buf = shingleBuf.get()
    j = 0
    while (j < nTok - 1) { // bigrams: "tokA tokB" bytes in the reused buffer
      val s1 = spans(j * 2); val l1 = spans(j * 2 + 1) - s1
      val s2 = spans(j * 2 + 2); val l2 = spans(j * 2 + 3) - s2
      val w = l1 + 1 + l2
      if (w > buf.length) {
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, w))
        shingleBuf.set(buf)
      }
      System.arraycopy(bytes, s1, buf, 0, l1)
      buf(l1) = ' '
      System.arraycopy(bytes, s2, buf, l1 + 1, l2)
      f(md5BucketOf(buf, 0, w, buckets))
      j += 1
    }
    nTok.toLong + math.max(0, nTok - 1).toLong
  }

  /** Per-doc DSIR bucket-count vector (array<double> so [[VectorSumAgg]]
   * reduces it map-side): counts of uni+bigram md5-60 features per bucket. */
  def dsirBucketCounts(u: UTF8String, buckets: Int): Array[Double] = {
    val out = new Array[Double](buckets)
    dsirWalk(u, buckets)(b => out(b) += 1.0)
    out
  }

  /** Per-doc DSIR log weight against a scale-10 fixed-point log-ratio model:
   * returns (n_feats, Σ llrScaled[bucket]) — the long sum over occurrences
   * is EXACTLY the Decimal(·,10) sum of the per-occurrence llr decimals
   * (order-free, overflow-impossible at corpus-feasible magnitudes). */
  def dsirLogWeightRow(u: UTF8String, llrScaled: Array[Long], buckets: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    var sum = 0L
    val n = dsirWalk(u, buckets)(b => sum += llrScaled(b))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, org.apache.spark.sql.types.Decimal(sum, 38, 10)))
  }

  /** Two-pointer |A∩B| over sorted-distinct long arrays. */
  def sortedIntersectCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                           b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
