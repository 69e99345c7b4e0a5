package graft.functions

import graft.functions.TextHashOps._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/**
 * Property tests: native expressions vs straightforward Scala reference
 * implementations, over generated inputs (no SparkSession — direct
 * expression eval).
 */
object ExpressionProps extends Properties("graft.expressions") {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).map(_.take(8))
  private val text = Gen.listOf(word).map(_.mkString(" "))
  private val hashes = Gen.listOf(Gen.long)

  private def strArray(s: Seq[String]): ArrayData =
    new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])

  property("TextNgrams(1) = distinct whitespace tokens in first-seen order") =
    Prop.forAll(text) { t =>
      val got = TextNgrams(Literal(UTF8String.fromString(t), StringType), 1)
        .eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
      val want = t.split(" +").filter(_.nonEmpty).distinct.toSeq
      got == want
    }

  property("TextNgrams(n) equals sliding-window reference") =
    Prop.forAll(text, Gen.choose(1, 4)) { (t, n) =>
      val got = TextNgrams(Literal(UTF8String.fromString(t), StringType), n)
        .eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
      val toks = t.split(" +").filter(_.nonEmpty).toSeq
      val want = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq.distinct
      got == want
    }

  property("TextNgramsAll(n) equals sliding-window reference WITH multiplicity, in order") =
    Prop.forAll(text, Gen.choose(1, 4)) { (t, n) =>
      val got = TextNgramsAll(Literal(UTF8String.fromString(t), StringType), n)
        .eval(null).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.toString).toSeq
      val toks = t.split(" +").filter(_.nonEmpty).toSeq
      val want = toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
      got == want
    }

  property("SimHash64 equals bit-count reference; empty input = 0") =
    Prop.forAll(hashes) { hs =>
      val got = SimHash64(Literal(new GenericArrayData(hs.toArray[Any]), ArrayType(LongType)))
        .eval(null).asInstanceOf[Long]
      val counts = new Array[Int](64)
      for (h <- hs; j <- 0 until 64)
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
      var want = 0L
      for (j <- 0 until 64) if (counts(j) > 0) want |= 1L << j
      got == want
    }

  property("MinHashSignature: k mins, permutation-invariant, monotone under union") =
    Prop.forAll(hashes, Gen.choose(1, 32)) { (hs, k) =>
      def sig(xs: Seq[Long]): Seq[Long] =
        MinHashSignature(Literal(new GenericArrayData(xs.toArray[Any]), ArrayType(LongType)), k)
          .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val s = sig(hs)
      val shuffled = sig(scala.util.Random.javaRandomToRandom(new java.util.Random(42)).shuffle(hs))
      val superset = sig(hs ++ Seq(12345L))
      s.length == k &&
        s == shuffled && // order-insensitive
        s.zip(superset).forall { case (a, b) => b <= a } // adding elements only lowers mins
    }

  property("SimHash similarity: shared tokens → small hamming distance") =
    Prop.forAll(Gen.listOfN(30, Gen.long)) { base =>
      def fp(xs: Seq[Long]): Long =
        SimHash64(Literal(new GenericArrayData(xs.toArray[Any]), ArrayType(LongType)))
          .eval(null).asInstanceOf[Long]
      val a = fp(base)
      val b = fp(base) // identical input
      java.lang.Long.bitCount(a ^ b) == 0
    }

  property("HashStringArray(xxh64) bit-equals per-token xxhash64(seed 42)") =
    Prop.forAll(Gen.listOf(word)) { toks =>
      val got = HashStringArray(Literal(strArray(toks), ArrayType(StringType)), "xxh64")
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val want = toks.map(t => org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(t), StringType, 42L))
      got == want
    }

  property("HashStringArray(md5h60) bit-equals conv(substring(md5,1,15),16,10)") =
    Prop.forAll(Gen.listOf(word)) { toks =>
      val got = HashStringArray(Literal(strArray(toks), ArrayType(StringType)), "md5h60")
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val want = toks.map { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.take(15), 16)
      }
      got == want
    }

  // ---- fused text scanners vs split/regex reference semantics ----

  private val stopwords = graft.llm.TextAnalysis.stopwords
  private val piece = Gen.frequency(
    (5, word), (3, Gen.oneOf(stopwords)), (2, Gen.numStr.map(_.take(5))),
    (2, Gen.oneOf(".", ",", "!", "?", ";", ":", "..", "a.b", "x1y2", "\tq", "é")),
    // astral (surrogate-pair) pieces: the byte-walk must count the 4-byte
    // sequence as ONE char and ONE bpe "other", and not break tokenization
    (1, Gen.oneOf("a💡b", "😀", "💡.💡")),
    (2, Gen.const("")))
  private val scanText: Gen[String] =
    Gen.listOf(Gen.zip(piece, Gen.choose(1, 3))).map(
      _.map { case (p, sp) => p + (" " * sp) }.mkString)

  property("TextMetricsScan equals per-metric split/regex reference") =
    Prop.forAll(scanText) { t =>
      val row = TextScanOps.TextMetricsScan(
        Literal(UTF8String.fromString(t), StringType), stopwords)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val words = t.split(" +").filter(_.nonEmpty).toSeq
      val want = (
        t.codePointCount(0, t.length),
        words.length,
        t.count(".,!?;:".contains(_)),
        words.count(stopwords.contains),
        "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]".r.findAllIn(t).size)
      (row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4)) == want
    }

  property("TokenListHits equals per-list split+contains reference") =
    Prop.forAll(scanText) { t =>
      val lists = Seq("en", "es", "de", "fr").map(graft.llm.TextAnalysis.langStopwords)
      val got = TextScanOps.TokenListHits(
        Literal(UTF8String.fromString(t), StringType), lists)
        .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
      val words = t.split(" +").filter(_.nonEmpty).toSeq
      got == lists.map(l => words.count(l.contains))
    }

  // cross-kernel tokenizer pin: both kernels must see the same tokens, so
  // a stopword-hit count computed by either is identical (guards against
  // the two byte-walks drifting apart on future edits)
  property("TextMetricsScan.n_stop === TokenListHits([stopwords])[0]") =
    Prop.forAll(scanText) { t =>
      val lit = Literal(UTF8String.fromString(t), StringType)
      val viaMetrics = TextScanOps.TextMetricsScan(lit, stopwords)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow].getInt(3)
      val viaLists = TextScanOps.TokenListHits(lit, Seq(stopwords))
        .eval(null).asInstanceOf[ArrayData].toIntArray()(0)
      viaMetrics == viaLists
    }

  // ——— product quantization (PqOps) ———

  private val pqM = 4; private val pqK = 3; private val pqD = 2
  private val pqVec = Gen.listOfN(pqM * pqD, Gen.chooseNum(-2.0f, 2.0f))
  private val pqCb = Gen.listOfN(pqM * pqK * pqD, Gen.chooseNum(-2.0, 2.0))
  private val pqQt = Gen.listOfN(pqM * pqK, Gen.chooseNum(0.0, 8.0))

  /** Reference implementation: per-subspace sequential-sum argmin (ties →
   * lower j), ADC = table lookups summed in subspace order. */
  private def pqRef(v: Array[Float], cb: Array[Double], qt: Array[Double])
      : (Seq[Int], Double) = {
    val codes = (0 until pqM).map { m =>
      var best = Double.PositiveInfinity; var bj = 0
      for (j <- 0 until pqK) {
        var s = 0.0
        for (i <- 0 until pqD) {
          val d = v(m * pqD + i).toDouble - cb((m * pqK + j) * pqD + i); s += d * d
        }
        if (s < best) { best = s; bj = j }
      }
      bj
    }
    (codes, codes.zipWithIndex.map { case (j, m) => qt(m * pqK + j) }.sum)
  }

  private def floatLit(v: Seq[Float]) =
    Literal(new GenericArrayData(v.toArray[Float]), ArrayType(FloatType))

  property("PqCodes equals sequential-argmin reference (ties to lower j)") =
    Prop.forAll(pqVec, pqCb) { (v, cb) =>
      val got = PqOps.PqCodes(floatLit(v), cb.toArray, pqM, pqK, pqD)
        .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
      got == pqRef(v.toArray, cb.toArray, new Array[Double](pqM * pqK))._1
    }

  property("PqAdc = Σ_m qtable[m][PqCodes[m]] exactly") =
    Prop.forAll(pqVec, pqCb, pqQt) { (v, cb, qt) =>
      val got = PqOps.PqAdc(floatLit(v), cb.toArray, qt.toArray, pqM, pqK, pqD)
        .eval(null).asInstanceOf[Double]
      // same codes (pinned by the PqCodes property) + same m-order sum →
      // bit-equal
      got == pqRef(v.toArray, cb.toArray, qt.toArray)._2
    }

  property("PqCodes ties break to the LOWER code index") =
    Prop.forAll(pqVec) { v =>
      // every centroid identical → all distances tie → code 0 everywhere
      val cb = Array.fill(pqM * pqK * pqD)(0.25)
      val got = PqOps.PqCodes(floatLit(v), cb, pqM, pqK, pqD)
        .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
      got == Seq.fill(pqM)(0)
    }
}
