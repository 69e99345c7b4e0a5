package graft.llm

import graft.SparkSpec
import graft.functions.{TextHashOps, VectorOps}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
      (2L, "completely different content about spark shuffle partitions and joins here"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (4L, "unrelated short text")
    ).toDF("doc_id", "text")
  }

  // sliding-window word docs: distance-d windows have J = (W-d)/(W+d), so
  // the corpus is a GRADIENT of similarities around the 0.5 threshold —
  // buckets mix >=t neighbors with sub-t hub collisions, exercising the
  // ADVICE r11 scenario (hub edge fails while two members still pair)
  private lazy val gradientDocs = {
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    val W = 11
    (0 until 28).map { i =>
      (i.toLong, vocab.slice(i, i + W).mkString(" "))
    }.toDF("doc_id", "text")
  }
  private def gradientFeats = split(col("text"), " ")

  // deterministic corpus: 6 planted near-dup groups of 5 (base + small
  // perturbations) + 30 noise vectors, so buckets mix true dups with
  // hash-collided strangers and hub edges FAIL often enough to drive the
  // intra-bucket fallback (the ADVICE hub-transitivity scenario)
  private val plantedDim = 8
  private lazy val plantedRows: Seq[(Long, Seq[Float])] = {
    def lcg(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    def vec(seed: Long): Seq[Float] = {
      var s = lcg(seed)
      (0 until plantedDim).map { _ => s = lcg(s); ((s >>> 40).toInt % 1000) / 500f - 1f }
    }
    (0 until 6).flatMap { g =>
      val base = vec(g * 1000L + 1)
      (0 until 5).map { i =>
        val p = vec(g * 1000L + 100 + i)
        ((g * 10 + i).toLong, base.zip(p).map { case (b, d) => b + 0.15f * d })
      }
    } ++ (0 until 30).map(i => ((100 + i).toLong, vec(50000L + i * 7)))
  }
  private lazy val plantedEmb = {
    import spark.implicits._
    plantedRows.toDF("vec_id", "embedding")
  }

  test("exact dedup groups identical texts, keeps min id") {
    val res = Dedup.exact(docs).orderBy("canonical_id").collect()
    assert(res.length == 4)
    val dupGroup = res.find(_.getAs[Long]("canonical_id") == 0L).get
    assert(dupGroup.getAs[Long]("n_dups") == 2)
  }

  test("shingle jaccard finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, 0.5).collect()
    val ids = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ids.contains((0L, 1L)) && ids.contains((0L, 3L)) && ids.contains((1L, 3L)))
    assert(!ids.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("containment catches a subset-dup that jaccard misses; capped == uncapped") {
    import spark.implicits._
    val subsetDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), // fully contained in 1
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi " +
        "omicron pi rho sigma tau upsilon phi chi psi omega one two three four five six"),
      (2L, "entirely different words about spark catalyst plans and exchanges here now")
    ).toDF("doc_id", "text")
    // jaccard is LOW (small ∩ vs big ∪) — the pair is invisible at 0.5
    assert(Dedup.jaccardPairs(subsetDocs, 0.5).collect().isEmpty)
    // containment is 1.0: every shingle of doc 0 appears in doc 1
    val cont = Dedup.containmentPairs(subsetDocs, 0.9).collect()
    assert(cont.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet == Set((0L, 1L)))
    assert(cont.head.getAs[Double]("containment") == 1.0)
    // the stop-feature cap path is score-exact (same pairs, same scores)
    val capped = Dedup.containmentPairs(subsetDocs, 0.9, maxDf = Some(2L)).collect()
    assert(capped.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("containment"))).toSet ==
      cont.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"))).toSet)
  }

  test("maxDf recovers pairs whose ENTIRE intersection is stop-features (hot-only)") {
    import spark.implicits._
    // Boilerplate phrase P appears in 5 docs, so with cap=3 EVERY shingle
    // of doc 0 (= exactly P) is hot — the capped posting self-join emits
    // NO row for 0's pairs, and before the hot-dominated recovery path
    // they were silently dropped. This is precisely the subset-dup case
    // the containment metric exists to catch.
    val p = "alpha beta gamma delta epsilon"
    val hotDocs = Seq(
      (0L, p),                                                        // pure boilerplate
      (5L, p),                                                        // exact dup of 0
      (1L, s"$p one tail with six extra words here"),                 // contains P
      (2L, s"$p two other tail continues with more words"),           // contains P
      (3L, s"$p three completely separate ending words follow now"),  // contains P
      (4L, "entirely different content about catalyst exchanges")
    ).toDF("doc_id", "text")

    def pairsOf(df: org.apache.spark.sql.DataFrame, score: String) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double](score))).toSet

    // containment: doc 0/5 fully contained in 1,2,3 and each other
    val contFull = pairsOf(Dedup.containmentPairs(hotDocs, 0.9), "containment")
    val contCap = pairsOf(Dedup.containmentPairs(hotDocs, 0.9, maxDf = Some(3L)), "containment")
    assert(contFull.map(t => (t._1, t._2)) ==
      Set((0L, 5L), (0L, 1L), (0L, 2L), (0L, 3L), (1L, 5L), (2L, 5L), (3L, 5L)))
    assert(contCap == contFull, s"capped dropped hot-only pairs: $contCap vs $contFull")

    // jaccard: the exact-dup pair (0,5) shares ONLY hot shingles
    val jacFull = pairsOf(Dedup.jaccardPairs(hotDocs, 0.9), "jaccard")
    val jacCap = pairsOf(Dedup.jaccardPairs(hotDocs, 0.9, maxDf = Some(3L)), "jaccard")
    assert(jacFull.map(t => (t._1, t._2)) == Set((0L, 5L)))
    assert(jacCap == jacFull, s"capped dropped the hot-only dup: $jacCap vs $jacFull")
  }

  test("cross-corpus minhash pairs: only train×benchmark edges, benchmark side joined by size") {
    // docs 0/1/3 are mutual near-dups; put 1 in the "benchmark" set and the
    // rest in "train": cross pairs must link 0 and 3 to benchmark doc 1 and
    // must NOT contain any train×train pair (0,3) even though it qualifies
    val bench = docs.filter(col("doc_id") === 1L)
    val train = docs.filter(col("doc_id") =!= 1L)
    val pairs = Dedup.crossMinhashPairs(train, bench, 0.5)
    val ids = pairs.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ids == Set((0L, 1L), (3L, 1L)), s"got $ids")
    // (crossMinhashPairs gives no join hint: Spark's broadcast threshold
    // picks the join; the next test pins the shuffle join's pairs)
  }

  test("cross-corpus minhash pairs: a shuffle join finds the pairs the default join finds") {
    val bench = docs.filter(col("doc_id") === 1L)
    val train = docs.filter(col("doc_id") =!= 1L)
    def pairs(): Set[(Long, Long, Double)] =
      Dedup.crossMinhashPairs(train, bench, 0.5).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    val byDefault = pairs()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1") // no broadcast, static or adaptive
    val shuffled = try pairs() finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(byDefault.map(p => (p._1, p._2)) == Set((0L, 1L), (3L, 1L)), s"got $byDefault")
    assert(shuffled == byDefault)
  }

  test("minhash LSH pairs == exact jaccard pairs on this corpus (recall check)") {
    val exact = Dedup.jaccardPairs(docs, 0.5).select("id_a", "id_b").collect().toSet
    val lsh = Dedup.minhashPairs(docs, 0.5).select("id_a", "id_b").collect().toSet
    assert(lsh == exact)
  }

  test("spanning-edge LSH: Θ(d) edges per dup group, clique-identical clusters") {
    import spark.implicits._
    // dup-heavy corpus: three template groups of 12 + singletons — the
    // shape LSH bucketing exists for. Clique mining emits 66 pairs per
    // group; the spanning star must emit 11, with IDENTICAL connected
    // components (the verdict's Θ(d²)→Θ(d) pair-mining task).
    val tmpl = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "spark catalyst rewrites logical plans into physical exchanges and sorts",
      "training data pipelines deduplicate shard and pack token sequences nightly")
    val heavy = (tmpl.zipWithIndex.flatMap { case (p, g) =>
      (0 until 12).map(i => ((g * 100 + i).toLong, s"$p copy marker $g"))
    } ++ Seq((900L, "totally unrelated standalone words only here once today now then"),
             (901L, "another lonely document with its own vocabulary and nothing shared")))
      .toDF("doc_id", "text")

    val clique = Dedup.minhashPairs(heavy, 0.5)
    // force the spanning path (the r15 occupancy gate would route this
    // small fixture to the clique miner): floor 0, per-doc budget 0
    val spanning = Dedup.minhashSpanningPairs(heavy, 0.5,
      cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L)
    val nClique = clique.count()
    val nSpan = spanning.count()
    assert(nSpan == 3 * 11, s"expected 11 star edges per 12-doc group, got $nSpan")
    assert(nClique == 3 * 66, s"expected full cliques from the banded join, got $nClique")

    def cc(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.clusters(heavy, pairs).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(cc(spanning) == cc(clique)) // CC can't tell star from clique
    // singletons self-cluster in both
    assert(cc(spanning).contains((900L, 900L)) && cc(spanning).contains((901L, 901L)))
  }

  test("minhash signature: identical docs identical sigs; sig length k") {
    val sigs = Dedup.minhashSignatures(docs, 64).select("id", "sig").collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(sigs(0L).length == 64)
    assert(sigs(0L) != sigs(2L))
  }

  test("simhash: exact dups distance 0; near-dups close; unrelated far") {
    val fps = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(3L)) == 0)
    assert(ham(fps(0L), fps(1L)) <= 8)
    assert(ham(fps(0L), fps(2L)) > 10)
    val pairs = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("simhashPairs emits each pair exactly once under multi-chunk collisions") {
    import spark.implicits._
    // exact duplicates collide in ALL maxDist+1 chunks — a regression in
    // the first-match filter would re-emit every such pair once per chunk
    // (invisible to a Set-based assertion, hence this row-count pin)
    val dupHeavy = (0 until 10).flatMap { g =>
      (0 until 6).map(i => ((g * 10 + i).toLong,
        s"group $g shares the very same sentence body verbatim across copies"))
    }.toDF("doc_id", "text")
    val rows = Dedup.simhashPairs(dupHeavy, 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(rows.length == rows.toSet.size,
      s"duplicate emission: ${rows.length} rows for ${rows.toSet.size} distinct pairs")
    // completeness: each 6-doc identical group contributes its full 15-pair clique
    assert(rows.toSet.size == 10 * 15, s"expected 150 pairs, got ${rows.toSet.size}")
  }

  test("native cosine matches interpreted HOF reference bit-for-bit") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, -1.5f, 2.5f), Array(-0.5f, 1.25f, 0.75f)),
      (4L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "a", "b")
    val toD = (c: org.apache.spark.sql.Column) => transform(c, x => x.cast("double"))
    val out = vecs.select(
      VectorOps.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(toD(col("a")), toD(col("b"))).as("hof")).collect()
    out.foreach { r => assert(r.getDouble(0) == r.getDouble(1)) }
  }

  test("simhash64 expression equals a scala reference implementation") {
    import spark.implicits._
    val hashes = Seq(Seq(1L, 2L, 3L, -5L, 1L << 63)).toDF("hs")
    val got = hashes.select(TextHashOps.simhash64(col("hs"))).head().getLong(0)
    val counts = new Array[Int](64)
    for (h <- Seq(1L, 2L, 3L, -5L, 1L << 63); j <- 0 until 64)
      if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
    var want = 0L
    for (j <- 0 until 64) if (counts(j) > 0) want |= 1L << j
    assert(got == want)
  }

  test("ann topk ranks the self-similar vector first") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => i.toFloat + 1)
    val vecs = Seq(
      (0L, base),
      (1L, base.map(_ * 2.0f)), // same direction => cos 1
      (2L, base.map(x => -x)), // opposite
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.topK(vecs, base.map(_.toDouble).toSeq, 2)
    val first = top.collect().head
    assert(Set(0L, 1L).contains(first.getAs[Long]("vec_id")))
    assert(math.abs(first.getAs[Double]("cos_sim") - 1.0) < 1e-12)
  }

  test("ivf assignment picks the nearest centroid") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq((10L, Array(2.0f, 0.1f)), (20L, Array(0.1f, 2.0f))).toDF("centroid_id", "vec")
    val assigned = Similarity.ivfAssign(vecs, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    assert(assigned == Map(1L -> 10L, 2L -> 20L))
  }

  test("trained IVF centroids: recall vs exact top-k beats the modulo stub") {
    import spark.implicits._
    // 90 vectors in 3 tight clusters around orthogonal axes (dim 6) with
    // deterministic jitter — k-means should recover the 3 clusters exactly
    def jitter(id: Long, pos: Int): Float = {
      val h = graft.functions.ReservoirSample.priority(s"$id:$pos")
      ((h & 0xff).toFloat / 255f - 0.5f) * 0.2f
    }
    val vecs = (0L until 90L).map { id =>
      val axis = (id % 3).toInt
      id -> Array.tabulate(6)(p => (if (p == axis * 2) 5.0f else 0.0f) + jitter(id, p))
    }.toDF("vec_id", "embedding")
    val query = Seq(5.0, 0.0, 0.1, 0.0, 0.05, 0.0) // near axis-0 cluster

    val exact = Similarity.topK(vecs, query, 10)
      .select("vec_id").as[Long].collect().toSet

    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val assigned = Similarity.ivfAssign(vecs, cents)
      val got = Similarity.ivfTopK(assigned, cents, query, k = 10, nprobe = 1)
        .select("vec_id").as[Long].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }

    // the SparkEntry oracle-stable stub: every 30th vector is a "centroid"
    val stub = vecs.filter(col("vec_id") % 30 === 0)
      .select((col("vec_id") / 30).cast("long").as("centroid_id"),
        col("embedding").as("vec"))
    val trainedSeq = Similarity.trainCentroidsSeq(vecs, k = 3, iters = 4)
    val trained = Similarity.trainCentroids(vecs, k = 3, iters = 4)

    // the zero-shuffle literal fold assigns identically to the window path
    val viaWindow = Similarity.ivfAssign(vecs, trained).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    val viaLiteral = Similarity.ivfAssignLiteral(vecs, trainedSeq).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    assert(viaLiteral == viaWindow)
    // and its physical plan has NO exchange — pure narrow map
    val literalPlan = Similarity.ivfAssignLiteral(vecs, trainedSeq)
      .queryExecution.executedPlan.toString
    assert(!literalPlan.contains("Exchange"), s"unexpected shuffle:\n$literalPlan")

    assert(trained.count() == 3)
    val (rTrained, rStub) = (recall(trained), recall(stub))
    assert(rTrained >= rStub)
    assert(rTrained == 1.0) // tight clusters + nprobe=1: trained nails it
    // centroids are unit vectors (spherical k-means invariant)
    val norms = trained.select(Similarity.norm(col("vec"))).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-9))
  }

  test("clusters: multi-hop chains collapse to min label; singletons stand alone") {
    import spark.implicits._
    // chain 10-11, 11-12 (10 and 12 NOT directly paired) + isolated 13
    val ids = Seq(10L, 11L, 12L, 13L).toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
  }

  test("verifyPairsExact: per-pair and posting branches agree (and match jaccardPairs)") {
    import spark.implicits._
    // candidates = all pairs over the fixture docs (true + false pairs)
    val ids = docs.select(col("doc_id")).as[Long].collect().sorted
    val cands = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val small = norm(Dedup.verifyPairsExact(docs, cands, 0.5)) // <= cap branch
    val posting = norm(Dedup.verifyPairsExact(docs, cands, 0.5, smallCap = 0L))
    assert(small == posting)
    // ground truth: the mining pipeline's own >= 0.5 pair set
    val mined = Dedup.jaccardPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small == mined)
  }

  test("clusters: driver union-find fast path equals the distributed loop") {
    import spark.implicits._
    // star + chain + 2-cycle-ish extras + singletons; unordered pair dirs
    val ids = (0L to 40L).toDF("doc_id")
    val pairs = Seq(
      (5L, 3L), (3L, 9L), (9L, 17L),          // chain, min 3
      (20L, 21L), (22L, 20L), (23L, 20L),     // star, min 20
      (31L, 30L), (30L, 31L),                 // duplicate both dirs
      (40L, 39L)
    ).toDF("id_a", "id_b")
    val fast = Dedup.clusters(ids, pairs) // 9 edges << default cap
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Dedup.clusters(ids, pairs, smallGraphEdgeCap = -1L) // force the loop
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == loop)
    assert(fast(17L) == 3L && fast(23L) == 20L && fast(31L) == 30L &&
      fast(40L) == 39L && fast(0L) == 0L && fast(38L) == 38L)
  }

  test("clusters: edge endpoints outside docs carry connectivity in BOTH paths") {
    import spark.implicits._
    // r12 ADVICE: connectivity must flow THROUGH non-doc nodes, cluster_id
    // is the min reachable node id (doc or not), output rows = docs only —
    // and the result must not depend on which side of smallGraphEdgeCap ran.
    val ids = Seq(10L, 20L, 30L, 40L).toDF("doc_id")
    val pairs = Seq(
      (10L, 99L), (99L, 20L), // 10—20 connected only through non-doc 99
      (30L, 5L)               // non-doc 5 is the component MIN → cluster_id 5
    ).toDF("id_a", "id_b")
    def run(cap: Long) = Dedup.clusters(ids, pairs, smallGraphEdgeCap = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run(Long.MaxValue) // driver union-find
    val loop = run(-1L)           // forced RDD fixpoint
    assert(fast == loop, s"paths diverged on non-doc endpoints: fast=$fast loop=$loop")
    assert(fast == Map(10L -> 10L, 20L -> 10L, 30L -> 5L, 40L -> 40L), fast.toString)
    assert(!fast.contains(99L) && !fast.contains(5L), "non-doc nodes must not be output rows")
  }

  test("clusters: non-integral id columns fail loudly instead of nulling") {
    import spark.implicits._
    val strDocs = Seq("a", "b").toDF("doc_id")
    val strPairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] { Dedup.clusters(strDocs, strPairs) }
    assert(e.getMessage.contains("must be integral"), e.getMessage)
  }

  test("substring dedup: shared passages mark exact interval-union coverage") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val fix = Seq(
      (0L, (1 to 5).map(i => s"a$i").mkString(" ") + " " + shared),       // 25 toks, shared at 5..24
      (1L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" ")),      // 30 toks, shared at 0..19
      (2L, (1 to 40).map(i => s"c$i").mkString(" ")),                     // unique
      (3L, ((1 to 16) ++ (1 to 16)).map(i => s"p$i").mkString(" ")),      // self-repeat, adjacent spans
      (4L, "tiny doc under window width")                                 // < w tokens
    ).toDF("doc_id", "text")
    val got = SubstringDedup.spanStats(fix, w = 16, minCount = 2L, maxDupRatio = 0.2)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_grams"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Boolean]("keep")))).toMap
    // 20-token shared passage → 5 full 16-gram windows inside it, present
    // in docs 0 and 1; interval union covers exactly the 20 shared tokens
    assert(got(0L) == ((25L, 5L, 20L, 1L, false)))
    assert(got(1L) == ((30L, 5L, 20L, 1L, false)))
    assert(got(2L) == ((40L, 0L, 0L, 0L, true)))
    // within-doc repeat: the only duplicated grams start at 0 and 16;
    // delta == w merges them into ONE contiguous span covering all 32
    assert(got(3L) == ((32L, 2L, 32L, 1L, false)))
    assert(got(4L) == ((5L, 0L, 0L, 0L, true)))
  }

  test("SemDeDup keeps the most atypical member of each within-cell dup group") {
    import spark.implicits._
    // two orthogonal cells; in cell 0 three near-identical vectors (one
    // slightly rotated off the centroid), in cell 1 two dups + a loner
    // that clears the cell-assignment but not the eps gate
    val vecs = Seq(
      (10L, Array(1.00f, 0.00f, 0.02f, 0f)), // cell 0 dup group
      (11L, Array(0.99f, 0.00f, 0.02f, 0f)),
      (12L, Array(0.90f, 0.00f, 0.44f, 0f)), // same group, most rotated off c0
      (20L, Array(0.00f, 1.00f, 0.00f, 0f)), // cell 1 dup pair
      (21L, Array(0.00f, 0.98f, 0.01f, 0f)),
      (22L, Array(0.00f, 0.30f, 0.95f, 0f))  // cell 1, below eps vs 20/21
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "vec")
    val got = Similarity.semDedup(vecs, cents, eps = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("centroid_id"), r.getAs[Long]("group_id"),
          r.getAs[Boolean]("keep")))).toMap
    assert(got(10L)._1 == 0L && got(12L)._1 == 0L)
    assert(got(22L)._1 == 1L) // assigned to cell 1 despite being no dup
    // {10,11,12} one group: keeper = 12 (lowest cos to c0 — most atypical)
    assert(got(10L)._2 == got(11L)._2 && got(11L)._2 == got(12L)._2)
    assert(!got(10L)._3 && !got(11L)._3 && got(12L)._3)
    // {20,21} keeper = 21 (0.98 direction is farther from c1 than exact hit)
    assert(got(20L)._2 == got(21L)._2 && !got(20L)._3 && got(21L)._3)
    // 22 is its own singleton group, kept
    assert(got(22L)._2 == 22L && got(22L)._3)
  }

  test("clusterSurvivors keeps exactly one doc per near-dup cluster") {
    val pairs = Dedup.jaccardPairs(docs, 0.5)
    val survivors = Dedup.clusterSurvivors(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // docs 0,1,3 are one cluster (survivor 0); 2 and 4 stand alone
    assert(survivors.toSeq == Seq(0L, 2L, 4L))
  }

  test("PQ/ADC: codegen path matches interpreted eval; candidates carry real recall") {
    import graft.functions.PqOps
    import spark.implicits._
    // 120 vectors in 3 tight clusters (dim 8 → M=4 subspaces of 2),
    // deterministic jitter; query sits in cluster 0
    def jitter(id: Long, pos: Int): Float = {
      val h = graft.functions.ReservoirSample.priority(s"pq:$id:$pos")
      ((h & 0xff).toFloat / 255f - 0.5f) * 0.3f
    }
    val dim = 8; val M = 4; val dsub = 2; val ksub = 4
    val vecs = (0L until 120L).map { id =>
      val axis = (id % 3).toInt
      id -> Array.tabulate(dim)(p => (if (p == axis * 2) 4.0f else 0.5f) + jitter(id, p))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // codebook: first ksub vectors' slices (deterministic, like the query)
    val cb = Array.ofDim[Double](M * ksub * dsub)
    for (m <- 0 until M; j <- 0 until ksub; i <- 0 until dsub)
      cb((m * ksub + j) * dsub + i) = vecs(j)._2(m * dsub + i).toDouble
    val qv = vecs.head._2.map(_.toDouble)
    val qt = Array.ofDim[Double](M * ksub)
    for (m <- 0 until M; j <- 0 until ksub) {
      var s = 0.0
      for (i <- 0 until dsub) {
        val d = qv(m * dsub + i) - cb((m * ksub + j) * dsub + i); s += d * d
      }
      qt(m * ksub + j) = s
    }

    // codegen (DataFrame) result == direct interpreted eval, bit-for-bit
    val viaDf = df.select(col("vec_id"),
        PqOps.adc(col("embedding"), cb, qt, M, ksub, dsub).as("d"),
        PqOps.codes(col("embedding"), cb, M, ksub, dsub).as("c"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2).toList))).toMap
    vecs.foreach { case (id, v) =>
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      val d = PqOps.PqAdc(lit, cb, qt, M, ksub, dsub).eval(null).asInstanceOf[Double]
      val c = PqOps.PqCodes(lit, cb, M, ksub, dsub).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toList
      assert(viaDf(id) == ((d, c)), s"codegen/interpreted mismatch for vec $id")
    }

    // the plan is a pure narrow scan — no exchange before the top-k
    val plan = df.select(col("vec_id"),
      PqOps.adc(col("embedding"), cb, qt, M, ksub, dsub).as("d"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")

    // recall: ADC top-20 candidates vs exact cosine top-10 — the shortlist
    // the float re-rank would consume must contain most true neighbors
    val exact = Similarity.topK(df, qv.toSeq, 10).select("vec_id").as[Long].collect().toSet
    val adcTop = viaDf.toSeq.sortBy { case (id, (d, _)) => (d, id) }
      .take(20).map(_._1).toSet
    val recall = exact.intersect(adcTop).size.toDouble / exact.size
    assert(recall >= 0.7, s"ADC recall@20 too low: $recall")
  }

  test("trained PQ codebook reduces reconstruction error vs the sampled init") {
    import graft.functions.PqOps
    import spark.implicits._
    def jitter(id: Long, pos: Int): Float = {
      val h = graft.functions.ReservoirSample.priority(s"pqt:$id:$pos")
      ((h & 0xff).toFloat / 255f - 0.5f) * 0.4f
    }
    val dim = 8; val M = 4; val dsub = 2; val ksub = 4
    val vecs = (0L until 200L).map { id =>
      val axis = (id % 4).toInt
      id -> Array.tabulate(dim)(p => (if (p == axis * 2) 3.0f else 0.2f) + jitter(id, p))
    }
    val df = vecs.toDF("vec_id", "embedding")

    // mean squared quantization error under a codebook
    def mse(cb: Array[Double]): Double = {
      val errs = vecs.map { case (_, v) =>
        var total = 0.0
        for (mm <- 0 until M) {
          var best = Double.PositiveInfinity
          for (j <- 0 until ksub) {
            var s = 0.0
            for (i <- 0 until dsub) {
              val d = v(mm * dsub + i).toDouble - cb((mm * ksub + j) * dsub + i)
              s += d * d
            }
            if (s < best) best = s
          }
          total += best
        }
        total
      }
      errs.sum / errs.size
    }

    val init = Similarity.trainPqCodebook(df, M, ksub, dsub, iters = 0)
    val trained = Similarity.trainPqCodebook(df, M, ksub, dsub, iters = 4)
    val (e0, e4) = (mse(init), mse(trained))
    assert(e4 < e0, s"training should reduce quantization error: init=$e0 trained=$e4")
    // Lloyd iterations never increase the objective: 1 iter sits between
    val e1 = mse(Similarity.trainPqCodebook(df, M, ksub, dsub, iters = 1))
    assert(e1 <= e0 && e4 <= e1 + 1e-12, s"monotone: $e0 -> $e1 -> $e4")

    // trained codes still agree between kernel and reference loop
    val got = df.select(PqOps.codes(col("embedding"), trained, M, ksub, dsub).as("c"))
      .collect().map(_.getSeq[Int](0).toList)
    assert(got.forall(_.forall(j => j >= 0 && j < ksub)))
  }

  test("banded LSH: band 0 reproduces the legacy single-table signature") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 40).map { id =>
      (id.toLong, (0 until dim).map { i =>
        val z = (id * 131 + i * 17 + 7) % 97
        (z - 48).toFloat / 10f
      })
    }.toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), dim, 6).as("legacy"),
        element_at(Similarity.lshBandSignatures(col("embedding"), dim, 4, 6), 1).as("band0"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("legacy") == r.getAs[Long]("band0"),
        s"vec ${r.getAs[Long]("vec_id")}: legacy ${r.getAs[Long]("legacy")} != band0 ${r.getAs[Long]("band0")}")
    }
  }

  test("adaptiveBits: bucket count grows with the corpus (linear candidate mining)") {
    // the oracle scales (n<=512) pin width 6; bench sf0.1 (2000) and the
    // x10 probe (20000) widen — expected bucket occupancy stays <= target
    assert(Similarity.adaptiveBits(500) == 6)
    assert(Similarity.adaptiveBits(2000) == 8)
    assert(Similarity.adaptiveBits(20000) == 12)
    assert(Similarity.adaptiveBits(20000000) == 22)
    assert(Similarity.adaptiveBits(1L << 40) == 24) // capped
    // invariant: expected occupancy n/2^bits <= target once past the floor
    for (n <- Seq(1000L, 5000L, 123456L, 10000000L)) {
      val bits = Similarity.adaptiveBits(n)
      assert(bits == 24 || (n >> bits) <= 8, s"n=$n bits=$bits occupancy ${(n >> bits)}")
    }
  }

  test("cosineSpanningPairs: CC-identical to the banded clique graph, fallback exercised") {
    val dim = plantedDim
    val rows = plantedRows
    val emb = plantedEmb
    val t = 0.6
    val clique = Similarity.cosinePairsBanded(emb, t, dim, bands = 2, bitsPerBand = 3)
    // force the spanning arm (the r15 occupancy gate routes this small
    // fixture to the clique path otherwise)
    val span = Similarity.cosineSpanningPairs(emb, t, dim, bands = 2, bitsPerBand = 3,
      cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L)
    val cliqueSet = clique.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos_sim"))).toSet
    val spanSet = span.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos_sim"))).toSet
    // every spanning edge is an exactly-verified clique-graph edge
    assert(spanSet.subsetOf(cliqueSet), s"spanning emitted non-clique edges: ${spanSet -- cliqueSet}")

    def cc(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.clusters(emb.select(col("vec_id")), pairs, idCol = "vec_id").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(cc(span) == cc(clique), "spanning+fallback CC diverged from clique CC")
    // pruneGate = 0 forces the pass-set prune path (engaged at scale when
    // the failed-edge count clears the gate): pruned edges are provably
    // hub-connected, so CC equality must hold there too
    val spanPruned = Similarity.cosineSpanningPairs(emb, t, dim, bands = 2,
      bitsPerBand = 3, pruneGate = 0L, cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L)
    assert(cc(spanPruned) == cc(clique), "pruned spanning CC diverged from clique CC")

    // default gate on this small fixture = the CLIQUE path: the pair set
    // must equal cosinePairsBanded's exactly (ids AND cos_sim)
    val gated = Similarity.cosineSpanningPairs(emb, t, dim, bands = 2, bitsPerBand = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos_sim"))).toSet
    assert(gated == cliqueSet, "default-gate (clique-path) pair set diverged from cosinePairsBanded")

    // precondition audit: the corpus genuinely contains the hub-transitivity
    // hazard — some bucket has a member whose hub edge fails while an edge to
    // another member of the same bucket passes (without the fallback this
    // would break CC equality, which is exactly what ADVICE r11 flagged)
    val vs = rows.toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    def bandSig(v: Seq[Float], band: Int, bits: Int): Long =
      (0 until bits).map { j =>
        val p = v.zipWithIndex.map { case (x, i) =>
          x * graft.functions.LshOps.hyperplaneSign(band * 32 + j, i) }.sum
        if (p > 0) 1L << j else 0L
      }.sum
    val buckets = rows.flatMap { case (id, v) =>
      (0 until 2).map(b => ((b, bandSig(v, b, 3)), id)) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val hazard = buckets.exists { ids =>
      val hub = ids.head
      ids.tail.exists(x => cos(vs(hub), vs(x)) < t &&
        ids.exists(y => y != x && y != hub && cos(vs(x), vs(y)) >= t))
    }
    assert(hazard, "test corpus never exercised the failed-hub fallback; strengthen the fixture")
  }

  test("minhashSpanningPairs: failed-hub fallback restores clique CC equality") {
    val docsW = gradientDocs
    val feats = gradientFeats
    val clique = Dedup.minhashPairs(docsW, 0.5, features = feats)
    val span = Dedup.minhashSpanningPairs(docsW, 0.5, features = feats,
      cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L)
    val cliqueSet = clique.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    val spanSet = span.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    assert(spanSet.subsetOf(cliqueSet), s"non-clique spanning edges: ${spanSet -- cliqueSet}")
    def cc(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.clusters(docsW, pairs).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(cc(span) == cc(clique), "spanning+fallback CC diverged from clique CC")
    // pruneGate = 0 forces the pass-set prune path (the scale shape)
    val spanPruned = Dedup.minhashSpanningPairs(docsW, 0.5, features = feats,
      pruneGate = 0L, cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L)
    assert(cc(spanPruned) == cc(clique), "pruned spanning CC diverged from clique CC")

    // precondition audit (driver side, from the same signatures/buckets the
    // miner uses): some bucket has a member whose hub edge is sub-threshold
    // while an edge to another member of the SAME bucket passes — without
    // the fallback that edge is only found through transitivity luck
    val sig = Dedup.minhashSignatures(docsW, 64, features = feats)
    val banded = sig.select(col("id"),
      posexplode(array((0 until 32).map { b =>
        xxhash64(slice(col("sig"), b * 2 + 1, 2), lit(b))
      }: _*)).as(Seq("band", "band_hash")))
      .collect().map(r => ((r.getAs[Int]("band"), r.getAs[Long]("band_hash")), r.getAs[Long]("id")))
    val wordSets = docsW.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ").toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (wordSets(a), wordSets(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    val hazard = banded.groupBy(_._1).values.map(_.map(_._2).distinct.sorted).exists { ids =>
      val hub = ids.head
      ids.tail.exists(x => jac(hub, x) < 0.5 &&
        ids.exists(y => y != x && y != hub && jac(x, y) >= 0.5))
    }
    assert(hazard, "fixture never exercised the failed-hub fallback; strengthen it")
  }

  test("clustersAndSurvivors: one mining pass, outputs == the two independent calls") {
    import spark.implicits._
    val tmpl = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "spark catalyst rewrites logical plans into physical exchanges and sorts")
    val corpus = (tmpl.zipWithIndex.flatMap { case (p, g) =>
      (0 until 8).map(i => ((g * 100 + i).toLong, s"$p copy marker $g"))
    } ++ Seq((900L, "totally unrelated standalone words only here once today now then")))
      .toDF("doc_id", "text")
    val (cl, surv) = Dedup.clustersAndSurvivors(corpus, 0.5)
    val clSet = cl.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survSet = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    val clRef = Dedup.clusters(corpus, Dedup.minhashSpanningPairs(corpus, 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survRef = Dedup.clusterSurvivors(corpus, Dedup.minhashSpanningPairs(corpus, 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clSet == clRef, "fused cluster map diverged from the independent call")
    assert(survSet == survRef, "fused survivors diverged from the independent call")
    assert(survSet == clSet.filter(p => p._1 == p._2).map(_._1),
      "survivors must be exactly the self-labeled cluster representatives")
  }

  test("occupancy gate: default-gate miner == clique pair set, spanning above gate") {
    // gradient fixture again — under the default gate its measured clique
    // volume is tiny, so the r15 occupancy gate must route it to the
    // CLIQUE path: output == minhashPairs exactly (ids AND jaccard), not
    // just CC-equal. The forced-spanning variants above pin the other arm.
    val docsW = gradientDocs
    val feats = gradientFeats
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    val gated = pairSet(Dedup.minhashSpanningPairs(docsW, 0.5, features = feats))
    val clique = pairSet(Dedup.minhashPairs(docsW, 0.5, features = feats))
    assert(gated == clique, "default-gate (clique-path) pair set diverged from minhashPairs")
    // a per-doc budget of 0 with floor 0 must flip the SAME corpus to the
    // spanning star: strictly fewer edges, subset of the clique set
    val span = pairSet(Dedup.minhashSpanningPairs(docsW, 0.5, features = feats,
      cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L))
    // on this gradient corpus the fallback repairs nearly every bucket, so
    // the edge SETS may coincide — the strict Θ(d) saving is pinned by the
    // dup-heavy fixture above; here the contract is subset + non-empty
    assert(span.subsetOf(clique) && span.nonEmpty,
      s"forced-spanning output not a subset: span=${span.size} clique=${clique.size}")
  }

  test("LSH pair miners: every arm leaves only the result's checkpoint cached") {
    // each call may keep exactly one stored RDD: the eager local
    // checkpoint under the returned plan. Any other cache, persist or
    // checkpoint left behind leaks executor storage into later queries.
    val sc = spark.sparkContext
    def leavesOnlyItsCheckpoint(arm: String)(mine: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = mine
      val added = sc.getPersistentRDDs.keySet -- before
      val own = out.queryExecution.logical
        .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }.toSet
      assert(own.size == 1 && added == own,
        s"$arm: RDDs left cached $added, the result's checkpoint $own")
    }
    val (docsW, feats) = (gradientDocs, gradientFeats)
    leavesOnlyItsCheckpoint("minhash clique")(
      Dedup.minhashSpanningPairs(docsW, 0.5, features = feats))
    leavesOnlyItsCheckpoint("minhash spanning")(
      Dedup.minhashSpanningPairs(docsW, 0.5, features = feats,
        cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L))
    leavesOnlyItsCheckpoint("minhash prune")(
      Dedup.minhashSpanningPairs(docsW, 0.5, features = feats,
        pruneGate = 0L, cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L))
    leavesOnlyItsCheckpoint("cosine clique")(
      Similarity.cosineSpanningPairs(plantedEmb, 0.6, plantedDim, bands = 2, bitsPerBand = 3))
    leavesOnlyItsCheckpoint("cosine spanning")(
      Similarity.cosineSpanningPairs(plantedEmb, 0.6, plantedDim, bands = 2, bitsPerBand = 3,
        cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L))
    leavesOnlyItsCheckpoint("cosine prune")(
      Similarity.cosineSpanningPairs(plantedEmb, 0.6, plantedDim, bands = 2, bitsPerBand = 3,
        pruneGate = 0L, cliqueVolumePerDoc = 0L, cliqueVolumeFloor = 0L))
    leavesOnlyItsCheckpoint("minhash clique miner")(
      Dedup.minhashPairs(docsW, 0.5, features = feats))
    leavesOnlyItsCheckpoint("cosine clique miner")(
      Similarity.cosinePairsBanded(plantedEmb, 0.6, plantedDim, bands = 2, bitsPerBand = 3))
  }

  test("prefix+positional mining == brute force on a randomized overlapping corpus") {
    import spark.implicits._
    // Deterministic RNG; a tiny token vocab forces heavy shingle sharing,
    // so one corpus exercises every candidate-generation mechanism at
    // once: prefix cuts, the positional bound, the Jaccard size filter,
    // equal-size ties, and (capped) hot features with dominated docs and
    // the hot-only recovery join. Oracle = literal all-pairs brute force
    // over the SAME hashed shingle sets.
    val rnd = new scala.util.Random(20260816L)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randTokens(len: Int): Seq[String] = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
    // 20 random bases; each base spawns 2 mutated near-dups (append / drop
    // a token) so qualifying pairs exist at every threshold, and the
    // 6-token vocab makes boilerplate shingles frequent enough that low
    // caps mark them hot (incl. dominated short docs)
    val corpus: Seq[(Long, String)] = (0L until 20L).flatMap { i =>
      val base = randTokens(4 + rnd.nextInt(8))
      Seq((i * 3, base), (i * 3 + 1, base :+ vocab(rnd.nextInt(vocab.size))),
        (i * 3 + 2, base.drop(1)))
    }.map { case (id, toks) => (id, toks.mkString(" ")) }
    val df = corpus.toDF("doc_id", "text")
    val sets: Map[Long, Array[Long]] = df
      .select(col("doc_id"), TextHashOps.textNgramsXxh64Sorted(col("text"), 3).as("f"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toArray).toMap
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def brute(tJ: Double, tC: Double): (Set[(Long, Long, Double)], Set[(Long, Long, Double)]) = {
      val ids = sets.keys.toSeq.sorted
      val (jb, cb) = (Set.newBuilder[(Long, Long, Double)], Set.newBuilder[(Long, Long, Double)])
      for (a <- ids; b <- ids if a < b) {
        val (fa, fb) = (sets(a).toSet, sets(b).toSet)
        if (fa.nonEmpty && fb.nonEmpty) {
          val nc = (fa & fb).size.toDouble
          if (nc / (fa.size + fb.size - nc) >= tJ)
            jb += ((a, b, r4(nc / (fa.size + fb.size - nc))))
          if (nc / math.min(fa.size, fb.size) >= tC)
            cb += ((a, b, r4(nc / math.min(fa.size, fb.size))))
        }
      }
      (jb.result(), cb.result())
    }
    def got(d: org.apache.spark.sql.DataFrame, score: String) =
      d.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double](score))).toSet
    val (expJ, expC) = brute(0.5, 0.7)
    assert(expJ.nonEmpty && expC.nonEmpty, "degenerate fixture: no qualifying pairs")
    for (cap <- Seq(None, Some(5L), Some(2L))) {
      assert(got(Dedup.jaccardPairs(df, 0.5, maxDf = cap), "jaccard") == expJ,
        s"jaccard mismatch at cap=$cap")
      assert(got(Dedup.containmentPairs(df, 0.7, maxDf = cap), "containment") == expC,
        s"containment mismatch at cap=$cap")
    }
    // the caps are real on this corpus: cap=2 must actually mark features hot
    val hotDf = df.select(explode(TextHashOps.textNgramsXxh64Sorted(col("text"), 3)).as("h"))
      .groupBy("h").count().filter(col("count") > 2)
    assert(hotDf.count() > 0, "cap=2 exercised no hot features")
  }
}
