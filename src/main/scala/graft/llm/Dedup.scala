package graft.llm

import graft.functions.TextHashOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, in increasing fuzziness:
 * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine
 * (embedding-based pairs live in [[Similarity]]).
 *
 * Scale design (100 TB):
 * - Signatures (MinHash, SimHash) are computed per-row by native codegen
 *   expressions ([[TextHashOps]]) — a narrow map over the corpus, NO shuffle,
 *   no per-token explode.
 * - Candidate generation (LSH bands / SimHash chunks / shared shingles) bounds
 *   the pair space before any exact verification join; joins are
 *   hash-partitioned on high-cardinality hash keys so skew is bounded and AQE
 *   can split hot buckets.
 * - A document-frequency cap drops ubiquitous features so inverted-index
 *   self-joins cannot go quadratic on stop-features.
 */
object Dedup {

  /** Exact dedup: hash-groupBy on content, keep lowest id as canonical. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles (n consecutive tokens joined by space), distinct per doc. */
  def shingles(text: Column, n: Int): Column =
    TextHashOps.textNgrams(text, n)

  /**
   * Exact Jaccard over SORTED-DISTINCT hashed feature arrays (the form
   * [[minhashSignatures]] emits): `|A∩B|` from one two-pointer merge, and
   * `|A∪B| = |A|+|B|-|A∩B|` — value-identical to the old
   * `array_intersect`/`array_union` formulation (both are set-semantics
   * over the same hashes) with zero per-pair hash-set allocation, which
   * profiled as the single largest stage of the minhash mining pipeline.
   */
  private def mergeJaccard(a: Column, b: Column): Column = {
    val nc = TextHashOps.sortedIntersectCount(a, b).cast("double")
    nc / (size(a) + size(b) - nc)
  }

  /**
   * Exact-Jaccard verification of an EXPLICIT candidate pair list, with the
   * verifier shape chosen by the (driver-known) candidate count:
   *
   *  - `pairs.count() <= smallCap` (the normal case when an estimator
   *    already decided all but a sliver): per-pair `array_intersect`/
   *    `array_union` over shingle sets computed ONLY for the pair docs via
   *    a broadcast semi-join. Interpreted set ops, but on a bounded list
   *    they beat the posting join's 6-stage fixed cost — that machinery
   *    billed ~1 s to verify SEVEN pairs in dedup_streaming_parity.
   *  - above `smallCap`: the posting-join count shape (the
   *    [[jaccardPairs]]/minedPairCounts pattern) — |pairs|·avg_shingles
   *    rows through codegen'd equi-joins, map-side-combined counts, no
   *    broadcast of an unbounded id list.
   *
   * Both shapes compute J over the same hashed shingle sets — identical
   * output by construction (spec-pinned by forcing each branch on one
   * fixture). Caller supplies `pairs` as (id_a, id_b); output keeps only
   * pairs with exact J ≥ threshold. NOTE: `pairs` is counted — hand in a
   * materialized (checkpointed/persisted) frame, or its lineage runs twice.
   *
   * Input pairs are CANONICALIZED here — (least, greatest), distinct —
   * before either branch: a duplicated or both-orientations pair would
   * double `nc` in the posting-join branch (sa/sb don't double → wrong J)
   * while the small branch would just emit duplicates; canonicalizing makes
   * the branches agree for ANY input. Output ids keep the canonical
   * orientation (id_a < id_b). threshold ≤ 0 short-circuits to the
   * canonical pair list itself (J ≥ 0 always holds, including zero-overlap
   * pairs the posting join would silently drop).
   *
   * BEHAVIOR NOTE (r14, intentional): explicit `features` arrays are now
   * `sortedDistinct`-hashed on BOTH branches, so duplicate-containing
   * feature arrays get SET semantics everywhere. Before r14 the posting
   * branch counted duplicates (multiset J) while the small branch did not —
   * callers who tuned thresholds against the old large-path multiset
   * numbers will see slightly higher J for dup-heavy features now.
   */
  def verifyPairsExact(docs: DataFrame, pairs: DataFrame, threshold: Double,
                       smallCap: Long = 8192L, idCol: String = "doc_id",
                       features: Column = null): DataFrame = {
    // no checkpoint: `pairs` is materialized by contract, so re-running
    // the canonical projection per consumer is one tiny shuffle — an
    // eager checkpoint here billed ~2 task-CPU-s of pure job overhead to
    // dedup_streaming_parity (r13 A/B) to save re-shuffles of ~200 rows
    val canon = pairs
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    if (threshold <= 0.0) return canon
    // same fused-vs-composable split as minhashSignatures
    val hashedFeat =
      if (features == null) TextHashOps.textNgramsXxh64Sorted(col("text"), 3)
      else TextHashOps.sortedDistinct(TextHashOps.xxhash64Array(features))
    val ids = canon.select(col("id_a").as("id"))
      .unionByName(canon.select(col("id_b").as("id"))).distinct()
    if (canon.count() <= smallCap) {
      val pfeats = docs
        .join(broadcast(ids), docs(idCol) === ids("id"), "left_semi")
        .select(col(idCol).as("id"), hashedFeat.as("feats"))
        .localCheckpoint(true) // <= 2·|pairs| rows; scan docs once
      val fa = pfeats.select(col("id").as("id_a"), col("feats").as("_fa"))
      val fb = pfeats.select(col("id").as("id_b"), col("feats").as("_fb"))
      canon.join(broadcast(fa), "id_a").join(broadcast(fb), "id_b")
        .filter(mergeJaccard(col("_fa"), col("_fb")) >= threshold)
        .select("id_a", "id_b")
    } else {
      val posts = docs
        .join(ids, docs(idCol) === ids("id"), "left_semi")
        .select(col(idCol).as("id"), explode(hashedFeat).as("h"))
        .localCheckpoint(true) // read 3× (sizes + both join sides)
      val sizes = posts.groupBy("id").agg(count(lit(1)).as("sz"))
      canon
        .join(posts.select(col("id").as("id_a"), col("h")), "id_a")
        .join(posts.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("nc"))
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sa")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("sb")), "id_b")
        .filter(col("nc").cast("double") /
          (col("sa") + col("sb") - col("nc")).cast("double") >= threshold)
        .select("id_a", "id_b")
    }
  }

  /**
   * N-gram Jaccard near-dup pairs >= threshold - EXACT prefix-filtered
   * candidate generation (the AllPairs/PPJoin family: Bayardo, Ma &
   * Srikant WWW'07; Xiao et al. WWW'08) plus sorted-merge verification.
   *
   * Shape: each doc's shingles are hashed and sorted ONCE into a
   * sorted-distinct long array (the [[minhashSignatures]] feature form -
   * the hash order doubles as the global canonical feature order the
   * prefix theorem needs). A qualifying pair must place its SMALLEST
   * shared feature inside both docs' (|F| - ceil(t*|F|) + 1)-element
   * prefixes (if it sat deeper on either side, fewer than the required
   * nc >= ceil(t*|F|) shared features would fit behind it), so candidate
   * generation self-joins PREFIX postings only - at t=0.5 half the
   * posting rows and ~2x fewer candidates than the full inverted-index
   * self-join, with the exact size filter min(|A|,|B|) >= t*max(|A|,|B|)
   * pruning the join output before the distinct. Verification then
   * recomputes the TRUE overlap per surviving candidate with a
   * two-pointer merge over the full sorted arrays
   * ([[TextHashOps.sortedIntersectCount]]) - no posting-join recount, no
   * per-pair hash sets (which cost O(|A|*|B|) interpreted compares per
   * candidate - measured ~6300 CPU-s for 1.1M candidates at sf0.1), and
   * J = nc / (|A|+|B|-nc).
   *
   * Scale guard `maxDf`: a feature shared by d docs contributes d^2 rows
   * to the prefix self-join, so one stop-shingle still goes quadratic in
   * corpus size. With a cap, candidate postings use only features with
   * df <= cap, and exactness is preserved by two adjustments (proof in
   * [[minedPairCounts]]): hot-DOMINATED docs (hot >= t*|F| - the only
   * docs whose required overlap can hide entirely inside stop-features)
   * post their whole capped list instead of a prefix, and pairs whose
   * ENTIRE intersection is hot are recovered through the dominated x hot
   * join. Scoring is cap-independent either way: merge verification
   * always runs over the FULL feature arrays, so capped == uncapped
   * exactly. API default is None (complete recall); pass a cap
   * explicitly at scale.
   *
   * 64-bit feature hashing is score-exact up to xxhash64 collisions
   * (expected collisions ~ F^2/2^65 for F distinct features - ~3 total
   * at F=10^10, each perturbing one pair's count by 1).
   */
  def jaccardPairs(
      docs: DataFrame,
      threshold: Double,
      idCol: String = "doc_id",
      features: Column = null,
      maxDf: Option[Long] = None): DataFrame = {
    val t = threshold
    val jac = col("nc").cast("double") /
      (col("sa") + col("sb") - col("nc")).cast("double")
    minedPairCounts(docs, idCol, features, maxDf, t, symmetric = true,
      scored => scored.filter(jac >= t)
        .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard")))
  }

  /**
   * N-gram CONTAINMENT pairs: C(A,B) = |A cap B| / min(|A|,|B|) >=
   * threshold - the subset-duplicate metric Jaccard misses (a short doc
   * embedded verbatim in a much longer one has high containment but low
   * Jaccard; the standard C4/RefinedWeb-style decontamination check).
   * Same exact prefix-filter + merge-verify shape as [[jaccardPairs]],
   * with the asymmetric prefix the containment bound dictates: only the
   * MIN-size side of a pair carries a per-doc overlap bound
   * (nc >= ceil(t*min) says nothing about the larger doc), so min-side
   * PREFIX postings join against the other side's FULL posting list,
   * size-ordered - at t=0.9 that is ~10x fewer probe postings and ~8x
   * fewer candidates than the symmetric full self-join. Same `maxDf`
   * stop-feature guard and dominated/recovery machinery
   * ([[minedPairCounts]]).
   */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double,
      idCol: String = "doc_id",
      features: Column = null,
      maxDf: Option[Long] = None): DataFrame = {
    val t = threshold
    val cont = col("nc").cast("double") / least(col("sa"), col("sb")).cast("double")
    minedPairCounts(docs, idCol, features, maxDf, t, symmetric = false,
      scored => scored.filter(cont >= t)
        .select(col("id_a"), col("id_b"), round(cont, 4).as("containment")))
  }

  /**
   * Shared pair-mining core for the n-gram set-similarity family: exact
   * prefix-filtered candidate generation + full-array merge verification.
   *
   * CANONICAL ORDER + PREFIX THEOREM. Features are sorted-distinct
   * 64-bit hashes, ascending - a global total order uncorrelated with
   * df. For a doc with |F| = sz features, both metrics give the per-doc
   * REQUIRED OVERLAP T = ceil(t*sz) on any qualifying pair (Jaccard:
   * J >= t and nc <= sb give nc >= t*sa; containment: T holds on the
   * min side only). If every shared feature sat outside the doc's first
   * sz - T + 1 features, at most T - 1 could be shared - so the smallest
   * shared feature lies in the PREFIX of sz - T + 1 elements on BOTH
   * bounded sides simultaneously (it is the same feature). Candidate
   * generation therefore joins prefix postings (symmetric for Jaccard,
   * plus the exact size filter min >= t*max; min-side prefix x full
   * list for containment, orientation fixed by (sz, id) order), dedupes,
   * and hands every candidate to the exact merge verifier. eps = 1e-9
   * biases T downward - a too-LONG prefix is always exact, a too-short
   * one is not.
   *
   * STOP-FEATURE CAP (maxDf). Hot features (df > cap) are excluded from
   * candidate-generation postings; with h = |hot(A)| the shared CAPPED
   * count obeys s_c >= T - h, so for docs with h < T ("non-dominated")
   * the prefix argument survives on the capped sublist with UNCHANGED
   * cut length sz - T + 1 (the hot count cancels:
   * |C| - (T - h) + 1 = sz - T + 1). Dominated docs (h >= T, condition
   * hot >= t*sz; only docs made mostly of boilerplate) post their
   * ENTIRE capped list, and pairs sharing NOTHING capped - possible
   * only when a bounded side is dominated - are recovered by re-mining
   * the hot postings with one side restricted to the dominated set
   * (output-bounded: a boilerplate doc genuinely contained in many docs
   * has a proportionally large TRUE pair set). Verification always runs
   * on FULL arrays (hot included), so scores are cap-independent and
   * capped == uncapped exactly.
   *
   * Returns finish(id_a, id_b, nc, sa, sb) with id_a < id_b.
   */
  private def minedPairCounts(
      docs: DataFrame,
      idCol: String,
      features: Column,
      maxDf: Option[Long],
      threshold: Double,
      symmetric: Boolean,
      finish: DataFrame => DataFrame): DataFrame = {
    // Two rules learned from the physical plan:
    // 1. repartition first - single-file inputs scan as ONE task;
    // 2. persist the spine before deriving postings - otherwise
    //    projection-collapse inlines the (fused) feature expression above
    //    each Generate and re-evaluates it per exploded row.
    val hashedFeat =
      if (features == null) TextHashOps.textNgramsXxh64Sorted(col("text"), 3)
      else TextHashOps.sortedDistinct(TextHashOps.xxhash64Array(features))
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val spine = docs.repartition(par)
      .select(col(idCol).as("id"), hashedFeat.as("feats"))
      .select(col("id"), col("feats"), size(col("feats")).as("sz"))
      .filter(col("sz") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-doc prefix cut: sz - ceil(t*sz) + 1 (eps biases the ceil DOWN -
    // longer prefix - which is the exact-safe direction)
    val prefLen = col("sz") -
      ceil(lit(threshold) * col("sz") - 1e-9).cast("int") + 1
    // exact size filter (Jaccard only): J >= t implies min >= t*max
    def sizeKeep(sa: Column, sb: Column): Column =
      if (symmetric)
        least(sa, sb).cast("double") >= lit(threshold) * greatest(sa, sb) - 1e-9
      else lit(true)
    // min-side orientation for the asymmetric (containment) join
    def minFirst(sa: Column, ia: Column, sb: Column, ib: Column): Column =
      sa < sb || (sa === sb && ia < ib)
    // the pair's required overlap: Jaccard J >= t implies
    // nc >= t*(sa+sb)/(1+t); containment implies nc >= t*min(sa,sb)
    def pairNeed(sa: Column, sb: Column): Column =
      if (symmetric)
        ceil(lit(threshold) * (sa + sb) / (1.0 + threshold) - 1e-9)
      else ceil(lit(threshold) * least(sa, sb) - 1e-9)
    // PPJoin POSITIONAL filter: at the smallest shared feature, matched
    // at 0-based positions (pa, pb), every shared feature lies at-or-
    // after the match on both sides, so nc <= min(sa-pa, sb-pb) - a
    // qualifying pair's smallest-match row always clears its required
    // overlap, so filtering each join row by its own positions keeps
    // candidate generation exact while cutting the surviving rows ~2x
    // beyond the prefix cut (measured at sf0.1, t=0.5)
    def posKeep(rem: Column, sa: Column, sb: Column): Column =
      rem >= pairNeed(sa, sb)

    var hotCache: Option[DataFrame] = None
    var cappedCache: Option[DataFrame] = None

    def candidatesNoHot: DataFrame = {
      val pre = spine
        .select(col("id"), col("sz"), posexplode(slice(col("feats"), lit(1), prefLen)))
        .withColumnRenamed("col", "h")
      if (symmetric)
        pre.select(col("id").as("id_a"), col("sz").as("sa"), col("pos").as("pa"), col("h"))
          .join(pre.select(col("id").as("id_b"), col("sz").as("sb"), col("pos").as("pb"),
            col("h")), "h")
          .filter(col("id_a") < col("id_b") && sizeKeep(col("sa"), col("sb")) &&
            posKeep(least(col("sa") - col("pa"), col("sb") - col("pb")),
              col("sa"), col("sb")))
          .select("id_a", "id_b")
      else {
        val full = spine
          .select(col("id"), col("sz"), posexplode(col("feats")))
          .withColumnRenamed("col", "h")
        pre.select(col("id").as("id_a"), col("sz").as("sa"), col("pos").as("pa"), col("h"))
          .join(full.select(col("id").as("id_b"), col("sz").as("sb"), col("pos").as("pb"),
            col("h")), "h")
          .filter(minFirst(col("sa"), col("id_a"), col("sb"), col("id_b")) &&
            posKeep(least(col("sa") - col("pa"), col("sb") - col("pb")),
              col("sa"), col("sb")))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
      }
    }

    val candidates = maxDf match {
      case None => candidatesNoHot
      case Some(cap) =>
        val hotFeats = spine.select(explode(col("feats")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("h")
          .persist(StorageLevel.MEMORY_AND_DISK)
        hotCache = Some(hotFeats)
        // Driver-side gate: with NO hot features the cap is inactive and
        // the capped machinery (posting windows, dominated probe, the
        // recovery subtree) is identity overhead - run the plain prefix
        // shape. The probe costs one aggregation pass over the spine.
        if (hotFeats.isEmpty) candidatesNoHot
        else {
          // Postings with document order kept (pos) so the capped
          // sublist's prefix is cut by RANK among capped postings -
          // arrays are never rebuilt. Hot branch only: the windows cost
          // one exchange on id, paid only on corpora that actually have
          // stop-features.
          val posts = spine
            .select(col("id"), col("sz"), posexplode(col("feats")))
            .withColumnRenamed("col", "h")
          val byId = Window.partitionBy("id")
          val cappedPosts = posts.join(broadcast(hotFeats), Seq("h"), "left_anti")
            .withColumn("crank", row_number().over(byId.orderBy("pos")))
            .withColumn("ccnt", count(lit(1)).over(byId))
            .withColumn("dom",
              (col("sz") - col("ccnt")).cast("double") >=
                lit(threshold) * col("sz") - 1e-9)
            .persist(StorageLevel.MEMORY_AND_DISK)
          cappedCache = Some(cappedPosts)
          // prefix postings: rank cut at sz - T + 1 on the CAPPED list
          // (the hot count cancels out of the bound - scaladoc), whole
          // capped list for dominated docs. rem/hot feed the capped
          // positional bound: at the smallest shared CAPPED feature the
          // shared capped count is <= min(rem) and the shared hot count
          // is <= min(hot), so nc <= min(rem) + min(hot).
          def sided(p: DataFrame, s: String) = p.select(
            col("id").as(s"id_$s"), col("sz").as(s"s$s"),
            (col("ccnt") - col("crank") + 1).as(s"rem_$s"),
            (col("sz") - col("ccnt")).as(s"hot_$s"), col("h"))
          def cappedBound: Column =
            least(col("rem_a"), col("rem_b")) + least(col("hot_a"), col("hot_b"))
          val pre = cappedPosts
            .filter(col("crank") <= when(col("dom"), col("ccnt")).otherwise(prefLen))
          val main =
            if (symmetric)
              sided(pre, "a").join(sided(pre, "b"), "h")
                .filter(col("id_a") < col("id_b") && sizeKeep(col("sa"), col("sb")) &&
                  posKeep(cappedBound, col("sa"), col("sb")))
                .select("id_a", "id_b")
            else
              sided(pre, "a").join(sided(cappedPosts, "b"), "h")
                .filter(minFirst(col("sa"), col("id_a"), col("sb"), col("id_b")) &&
                  posKeep(cappedBound, col("sa"), col("sb")))
                .select(least(col("id_a"), col("id_b")).as("id_a"),
                  greatest(col("id_a"), col("id_b")).as("id_b"))
          // hot-only recovery (scaladoc): a pair sharing nothing capped
          // has a dominated bounded side - re-mine those from hot
          // postings. Docs whose EVERY feature is hot have no capped
          // postings at all, so their dominated flag comes from the
          // spine anti-join, not from cappedPosts.
          val domIds = cappedPosts.filter(col("dom")).select("id").distinct()
            .unionByName(spine.join(
              cappedPosts.select("id").distinct(), Seq("id"), "left_anti").select("id"))
          // Driver-side gate (the zero-row-repair-subtree rule): with no
          // dominated docs - the common case on non-degenerate corpora -
          // the recovery join would stream the hot postings into a union
          // that re-shuffles every candidate for nothing.
          val anyDominated = !domIds.isEmpty
          if (!anyDominated) main
          else {
            val hotPosts = posts.join(broadcast(hotFeats), Seq("h"), "left_semi")
            val domPosts = hotPosts.join(broadcast(domIds), Seq("id"), "left_semi")
            val recovered = domPosts.select(col("id").as("id_x"), col("h"))
              .join(hotPosts.select(col("id").as("id_y"), col("h")), "h")
              .filter(col("id_x") =!= col("id_y"))
              .select(least(col("id_x"), col("id_y")).as("id_a"),
                greatest(col("id_x"), col("id_y")).as("id_b"))
            main.unionByName(recovered)
          }
        }
    }

    // merge verification over FULL arrays: nc is exact, so no prune
    // bounds and no posting-list recount exist in this pipeline at all
    val scored = candidates.dropDuplicates("id_a", "id_b")
      .join(spine.select(col("id").as("id_a"), col("feats").as("_fa"),
        col("sz").cast("long").as("sa")), "id_a")
      .join(spine.select(col("id").as("id_b"), col("feats").as("_fb"),
        col("sz").cast("long").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        TextHashOps.sortedIntersectCount(col("_fa"), col("_fb")).cast("long").as("nc"),
        col("sa"), col("sb"))
    // Materialize the (small) finished result with a hard lineage cut,
    // then release the multi-referenced caches. Unpersisting
    // lazily-returned frames would silently disable the caches mid-plan;
    // unpersisting nothing leaks executor storage into every later query
    // in the session (measured: dedup_exact regressed 5.7x under the
    // leaked blocks). The metric's filter/select runs INSIDE the cut
    // (before unpersist) so the threshold prunes before materialization.
    val result = finish(scored).localCheckpoint(true)
    spine.unpersist(false)
    hotCache.foreach(_.unpersist(false))
    cappedCache.foreach(_.unpersist(false))
    result
  }

  /**
   * MinHash signatures via the fused native expression — one narrow pass,
   * no shuffle. Output: (id, feats array<long> of HASHED features, sig
   * array<long> of k mins).
   *
   * `feats` carries the 64-bit xxhash64 of each feature, not the raw
   * shingle strings: every downstream consumer (the exact-Jaccard
   * verification joins) operates on the hashed sets, and emitting them
   * here means each doc is hashed exactly ONCE — the signature expression
   * and the feats column share the same hashing subexpression inside one
   * Project (whole-stage codegen CSE), where re-hashing at the verify
   * joins cost 2 extra full passes over the corpus (r13: +30 task-CPU-s
   * at x10 where docs outnumber candidate pairs). Long arrays also halve
   * the exchange bytes vs shingle strings. J over hashed sets is
   * score-exact up to xxhash64 collisions ([[jaccardPairs]] argument).
   */
  def minhashSignatures(docs: DataFrame, k: Int, idCol: String = "doc_id",
                        features: Column = null): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // default path: the fused byte-level shingle+hash expression (zero
    // string allocation — the tokenize/substring/StringBuilder chain was
    // the dominant data-sized term of the whole minhash family); explicit
    // feature columns take the composable hash+sort chain. Both emit the
    // SORTED-DISTINCT form so every downstream exact-J verification counts
    // intersections with a two-pointer merge (no per-pair hash sets).
    val hashed =
      if (features == null) TextHashOps.textNgramsXxh64Sorted(col("text"), 3)
      else TextHashOps.sortedDistinct(TextHashOps.xxhash64Array(features))
    // one spread exchange of the RAW docs, signature computed narrow after
    // it; every caller persists the result immediately, and that persist is
    // the materialization barrier that stops projection-collapse from
    // inlining (and re-evaluating) `hashed` into downstream band
    // expressions. The previous trailing repartition(par, id) was a second
    // FULL exchange of (id, feats, sig) — a whole-corpus shuffle of the
    // widest frame in the pipeline — bought nothing: banded derivations
    // re-exchange on (band, bucket) anyway and the feats verify joins
    // broadcast the candidate side (r15 measurement: removing it is part of
    // the survivors ×10 177→65 task-CPU drop).
    docs.repartition(par)
      .select(col(idCol).as("id"),
        hashed.as("feats"),
        TextHashOps.minhashSignature(hashed, k).as("sig"))
  }

  /**
   * MinHash LSH candidate pairs: band the k-wide signature into `bands`
   * groups of k/bands rows, hash each band, bucket-join on (band, hash).
   * With k=64, bands=32 (r=2): P(candidate | J=0.5) ≈ 0.9999, random pairs
   * essentially never collide.
   *
   * `feats_a`/`feats_b` carry the 64-BIT HASHED feature sets (one
   * xxhash64 pass per doc), not the raw shingle strings: downstream exact
   * verification does per-pair `array_intersect`/`array_union`, and set
   * ops over longs beat interpreted string hashing/compares ~5-10× while
   * J stays score-exact up to xxhash64 collisions (the [[jaccardPairs]]
   * hashing argument — ≈F²/2⁶⁵ expected collisions).
   */
  def minhashCandidates(docs: DataFrame, k: Int, bands: Int,
                        idCol: String = "doc_id", features: Column = null): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    // checkpointed: the banding branch and both feature re-joins read `sig`;
    // without materialization each branch re-computes the whole signature
    // pipeline. Released before return — see jaccardPairs' leak note.
    val sig = minhashSignatures(docs, k, idCol, features)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // band join carries ids only (narrow shuffle); features re-join after dedup
    val feats = sig.select(col("id"), col("feats")) // already hashed (see minhashSignatures)
    val result = bucketPairs(minhashBands(sig, bands))
      .join(feats.select(col("id").as("id_a"), col("feats").as("feats_a")), "id_a")
      .join(feats.select(col("id").as("id_b"), col("feats").as("feats_b")), "id_b")
      .localCheckpoint(true)
    sig.unpersist(false)
    result
  }

  /** Banded rows `(id, band, bucket)` of a [[minhashSignatures]] frame: one
   * fused walk of each signature hashes all its bands (no per-band slice). */
  private def minhashBands(sig: DataFrame, bands: Int): DataFrame =
    sig.select(col("id"),
      posexplode(TextHashOps.bandHashes(col("sig"), bands)).as(Seq("band", "bucket")))

  /** Every distinct pair `(id_a < id_b)` that shares a `(band, bucket)` in
   * banded rows `(band, bucket, id)`: the LSH clique candidates. */
  private def bucketPairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
  }

  /**
   * CROSS-corpus near-dup pairs (decontamination shape): every left
   * ("train") doc whose Jaccard with ANY right ("benchmark") doc clears
   * the threshold. Unlike the self-join family this joins BETWEEN two
   * sets — banded MinHash buckets on both sides, candidates from the
   * (band, hash) equi-join, exact-Jaccard verification on the candidate
   * pairs only. At 100 TB the benchmark side is typically small (eval
   * suites): its banded buckets broadcast, and the train corpus streams
   * through map-side — one pass, no train-side self-join ever exists.
   * Output: (id_a = left id, id_b = right id, jaccard), score-exact.
   */
  def crossMinhashPairs(left: DataFrame, right: DataFrame, threshold: Double,
                        k: Int = 64, bands: Int = 32,
                        idCol: String = "doc_id", features: Column = null): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    def banded(docs: DataFrame, side: String): (DataFrame, DataFrame) = {
      val sig = minhashSignatures(docs, k, idCol, features)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val b = sig.select(
        col("id").as(s"id_$side"),
        posexplode(TextHashOps.bandHashes(col("sig"), bands))
          .as(Seq("band", "band_hash")))
      (b, sig)
    }
    val (ba, sigA) = banded(left, "a")
    val (bb, sigB) = banded(right, "b")
    // benchmark buckets broadcast (eval suites are small by construction).
    // The explicit hint bypasses autoBroadcastJoinThreshold: Spark never
    // falls back to a shuffle, it broadcasts the right side whatever its
    // size, so an oversized benchmark corpus risks a driver or executor
    // OOM (and fails the query past Spark's hard 8 GB broadcast limit)
    val cands = ba.join(broadcast(bb), Seq("band", "band_hash"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    val jac = mergeJaccard(col("feats_a"), col("feats_b"))
    val result = cands
      .join(sigA.select(col("id").as("id_a"), col("feats").as("feats_a")), "id_a")
      .join(sigB.select(col("id").as("id_b"), col("feats").as("feats_b")), "id_b")
      .filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), round(jac, 4).as("jaccard"))
      .localCheckpoint(true)
    sigA.unpersist(false)
    sigB.unpersist(false)
    result
  }

  /** LSH candidates verified with exact Jaccard ≥ threshold. */
  def minhashPairs(docs: DataFrame, threshold: Double, k: Int = 64, bands: Int = 32,
                   idCol: String = "doc_id", features: Column = null): DataFrame = {
    minhashCandidates(docs, k, bands, idCol, features)
      .withColumn("jaccard", mergeJaccard(col("feats_a"), col("feats_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /**
   * CC-contract LSH pair miner, verified with exact Jaccard ≥ threshold —
   * the pair source for [[clusters]]/[[clusterSurvivors]]: the MinHash
   * buckets of [[minhashCandidates]] mined by [[bucketSpanningPairs]]
   * (clique or spanning shape, chosen by its occupancy gate). Output:
   * (id_a, id_b, jaccard), every pair exactly verified ≥ `threshold`,
   * whose connected components equal those of the verified-clique graph
   * ([[minhashPairs]]).
   */
  def minhashSpanningPairs(docs: DataFrame, threshold: Double, k: Int = 64, bands: Int = 32,
                           idCol: String = "doc_id", features: Column = null,
                           pruneGate: Long = 65536L,
                           cliqueVolumePerDoc: Long = 16L,
                           cliqueVolumeFloor: Long = 65536L): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sig = minhashSignatures(docs, k, idCol, features)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Exact-Jaccard verification of an explicit CANDIDATE LIST stays in
    // the per-pair merge shape on purpose: the posting-count alternative
    // (minedPairCounts' shape) wins when the posting join IS the candidate
    // generator, but verifying a given pair list that way costs
    // |cands|×avg_shingles intermediate rows through 6 shuffled joins —
    // dearer than one merge per candidate (PLANS.md "One LSH pair miner").
    val featsA = sig.select(col("id").as("id_a"), col("feats").as("feats_a"))
    val featsB = sig.select(col("id").as("id_b"), col("feats").as("feats_b"))
    // the banded rows stay a cheap NARROW derivation off the sig cache: the
    // miner reads them more than once and recomputes them rather than
    // persist 32n tiny rows (caching the exploded frame measured dearer)
    val result = bucketSpanningPairs(minhashBands(sig, bands), bands,
      _.join(featsA, "id_a").join(featsB, "id_b")
        .select(col("id_a"), col("id_b"),
          mergeJaccard(col("feats_a"), col("feats_b")).as("jaccard")),
      threshold, "jaccard", pruneGate, cliqueVolumePerDoc, cliqueVolumeFloor)
    sig.unpersist(false)
    result
  }

  /**
   * The LSH pair miner behind [[minhashSpanningPairs]] and
   * [[Similarity.cosineSpanningPairs]]. Input: banded rows `(band, bucket,
   * id)` over `bands` bands, and `verify`, which scores candidate pairs
   * `(id_a, id_b)` as `(id_a, id_b, <score>)`. Output: `(id_a, id_b,
   * <score>)` rounded to 4 places, every pair verified ≥ `threshold`, as an
   * eager local checkpoint; its connected components equal those of the
   * verified-clique graph (every verified in-bucket pair). The caller owns,
   * and releases after this returns, `banded`'s cache and whatever
   * `verify` reads; everything cached here is released here.
   *
   * Two shapes, one output contract, chosen by a measured occupancy gate:
   *
   *  - **Clique** (bounded bucket occupancy — the sparse/ordinary corpus):
   *    one bucket self-join emits every in-bucket pair, one verification
   *    pass keeps score ≥ t. Fewest stages; pair volume = Σ_buckets
   *    d(d−1)/2, which the gate just measured to be ~linear in n.
   *  - **Spanning** (dup-heavy buckets — LSH's raison d'être): per bucket,
   *    every member links to the bucket-min hub (a Θ(d) star), hub edges
   *    are verified, and members whose hub edge FAILS are re-verified
   *    against every other member of that bucket. For any in-bucket pair
   *    (X,Y) with score ≥ t either both hub edges pass (X—hub—Y path) or
   *    the failing side emits X—Y directly, so CC equals the clique
   *    graph's by construction, with no transitivity assumption. A
   *    dup-heavy bucket costs ~d hub verifications; a bucket of mutual
   *    strangers degrades to the clique cost it would have paid anyway.
   *
   * Why gate at all: hub-edge verification only SAVES work when hub edges
   * mostly pass. On a sparse corpus most bucket cohabitants are strangers,
   * nearly every bucket falls back to clique re-verification anyway, and
   * the spanning machinery (hub window, verdict persist, failed-member
   * scoping joins) is pure overhead. The gate reads the exact clique pair
   * volume off a one-pass bucket-size aggregation (map-side-combined, rows
   * = distinct buckets) and takes the clique arm when volume ≤
   * max(`cliqueVolumeFloor`, `cliqueVolumePerDoc`·n), i.e. when the
   * self-join it would schedule is provably ~linear in the corpus. A
   * dup-heavy corpus (template spam: buckets of thousands) blows the gate
   * quadratically and takes the Θ(d) star.
   */
  private[llm] def bucketSpanningPairs(banded: DataFrame, bands: Int,
                                       verify: DataFrame => DataFrame,
                                       threshold: Double, score: String,
                                       pruneGate: Long, cliqueVolumePerDoc: Long,
                                       cliqueVolumeFloor: Long): DataFrame = {
    val passes = col(score) >= threshold
    def finish(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a"), col("id_b"), round(col(score), 4).as(score))
        .localCheckpoint(true)

    // OCCUPANCY GATE: the exact clique pair volume (Σ d(d−1)/2 per bucket)
    // and the corpus size (Σd = bands·n); the exchange carries only
    // distinct buckets. Volume summed in decimal(38,0): a long sum wraps
    // silently with ANSI off on exactly the dup-heavy corpora the gate
    // exists to protect. A null sum means decimal overflow — above-gate.
    val occ = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("d"))
      .agg(sum(col("d").cast("decimal(38,0)") * (col("d") - lit(1))),
        sum(col("d")))
      .head()
    val nBandedRows = if (occ.isNullAt(1)) 0L else occ.getLong(1)
    val cliqueVolume: Option[BigInt] =
      if (nBandedRows == 0L) Some(BigInt(0))
      else Option(occ.getDecimal(0)).map(d => BigInt(d.toBigInteger) / 2)
    val gate = BigInt(math.max(cliqueVolumeFloor, cliqueVolumePerDoc * (nBandedRows / bands.toLong)))
    if (cliqueVolume.exists(_ <= gate))
      return finish(verify(bucketPairs(banded)).filter(passes))

    // SPANNING arm. Hub edges WITH bucket provenance (needed to scope the
    // fallback) via a whole-partition window min: ONE exchange of the
    // banded rows, where a groupBy + join pays it twice, and skew-equivalent
    // (a degenerate bucket stays d rows, never a collected d-array).
    // Persisted: read by the verification pass AND the failed-member scoping.
    val hubEdges = banded
      .withColumn("id_a", min(col("id")).over(Window.partitionBy("band", "bucket")))
      .filter(col("id") =!= col("id_a"))
      .select(col("band"), col("bucket"), col("id_a"), col("id").as("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hubVerdicts = verify(hubEdges.select("id_a", "id_b").dropDuplicates())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hubPass = hubVerdicts.filter(passes)
    val hubFail = hubVerdicts.filter(col(score) < threshold)

    // Driver-side gate: the fallback subtree (4 joins + a distinct) exists
    // only to repair FAILED hub edges. When every hub edge verifies (the
    // common dup-heavy case) this one probe — which fills the verdict cache
    // hubPass reads anyway — skips those stages instead of scheduling them
    // to produce zero rows.
    val failedCount = hubFail.count()
    var prunedFrom: Option[DataFrame] = None // the prune arm's checkpoint
    val combined = if (failedCount == 0L) hubPass else {
      // members whose hub edge failed, paired with every other member of
      // each bucket where it failed
      val failedMembers = hubEdges.join(hubFail, Seq("id_a", "id_b"))
        .select(col("band"), col("bucket"), col("id_b").as("fid"))
      val fallbackCands = failedMembers
        .join(banded, Seq("band", "bucket"))
        .filter(col("id") =!= col("fid"))
        .select(least(col("fid"), col("id")).as("id_a"),
          greatest(col("fid"), col("id")).as("id_b"))
        .dropDuplicates("id_a", "id_b")
        // hub edges (pass or fail) are already decided — don't re-verify
        .join(hubVerdicts.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      // PASS-SET PRUNE: a fallback pair whose endpoints BOTH carry a passing
      // hub edge to the same node z is already in one component through z,
      // so its verification can be skipped (CC is the only consumer
      // contract). The prune costs a checkpoint + two adjacency joins, so it
      // engages only above `pruneGate` failed hub edges, where the saved
      // verifications dominate (degenerate buckets at scale); below it,
      // verifying every fallback pair is cheaper.
      val toVerify = if (failedCount <= pruneGate) fallbackCands else {
        val cands = fallbackCands.localCheckpoint(true) // read by the prune AND the anti below
        prunedFrom = Some(cands)
        val adj = hubPass.select(col("id_a").as("_z"), col("id_b").as("_m"))
          .unionByName(hubPass.select(col("id_b").as("_z"), col("id_a").as("_m")))
        val prunable = cands
          .join(adj.select(col("_z"), col("_m").as("id_a")), Seq("id_a"))
          .join(adj.select(col("_z"), col("_m").as("id_b")), Seq("id_b", "_z"))
          .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
        cands.join(prunable, Seq("id_a", "id_b"), "left_anti")
      }
      hubPass.unionByName(verify(toVerify).filter(passes)).dropDuplicates("id_a", "id_b")
    }
    val result = finish(combined)
    hubEdges.unpersist(false)
    hubVerdicts.unpersist(false)
    prunedFrom.foreach(releaseCheckpoint)
    result
  }

  /** Drop the rows an eager `localCheckpoint` stored. `unpersist` does not
   * reach them: they are blocks of the RDD under the checkpoint's plan,
   * not a cache-manager entry. */
  private def releaseCheckpoint(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical
      .collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /**
   * Connected components over near-dup pairs → cluster ids, via iterative
   * min-label propagation with POINTER JUMPING: every node starts labeled
   * with itself; each round every node takes the min of its own and its
   * neighbors' labels, then twice composes the result through the previous
   * round's label map (label(v) ← min(label(v), prevLabel(label(v)))), so
   * covered distance ~triples per round and convergence takes O(log
   * diameter) rounds instead of diameter-many. That matters beyond worst
   * case: near-clique dup groups converge in 2-3 rounds either way, but
   * low-threshold similarity graphs CHAIN (the banded cosine graph at
   * t=0.30 is near-path-shaped at sf0.1 — 17 rounds plain, 10 jumped).
   *
   * The fixpoint LOOP runs on pair RDDs, not DataFrames — the deliberate,
   * measured exception to the DataFrame-first rule (PLANS.md): Catalyst +
   * AQE re-plan the full logical tree per round per stage, which billed
   * 0.25-1.6 s of pure DRIVER planning per round at sf0.1 (growing with
   * join depth, to minutes when the round plan was unrolled deeper) — a
   * constant that data size cannot amortize and that dwarfs the actual
   * sub-second data work of a round at bench scale. The RDD loop runs the
   * identical dataflow with zero per-round planning. Scale shape: the edge
   * list is hash-partitioned ONCE by source endpoint and reused narrow
   * every round; per-round shuffles carry only the node-sized label table
   * (map-side-combined neighbor mins + the two jump compositions), never
   * the edge list. Every round's labels are localCheckpoint'd (hard
   * lineage cut — on a fault-tolerant cluster swap for checkpoint();
   * persist-only lineage chains re-executed the whole mining pipeline per
   * round when a cache block evicted: measured 1296 vs ~60 CPU-s at sf0.1).
   *
   * Node ids must be INTEGRAL — enforced with a hard error (a string/UUID
   * id would silently null under the long cast). Labels only ever decrease
   * toward reachable ids, so the fixed point — no improvement anywhere in a
   * round — is the component-min labeling.
   *
   * Edge endpoints need not be a subset of `docs`: the node universe is
   * docs ∪ endpoints, connectivity flows THROUGH non-doc endpoints, and
   * `cluster_id` is the min reachable node id (doc or not) — but output
   * rows are emitted for `docs` only. Both paths implement this same
   * contract (the driver union-find naturally; the RDD loop by seeding
   * labels with the endpoint set and filtering the result to doc nodes),
   * so results don't depend on which side of `smallGraphEdgeCap` ran.
   *
   * Graphs at or under `smallGraphEdgeCap` edges skip the loop entirely:
   * the materialized edge list is union-found on the driver and the label
   * map broadcast-joined back onto `docs` — same component-min labeling,
   * one narrow stage instead of rounds × stages (spec-pinned equal to the
   * distributed path).
   *
   * Output: (doc_id, cluster_id) for EVERY doc in `docs`; `cluster_id` is
   * the minimum doc id reachable through the pair graph — so the canonical
   * survivor of each cluster is exactly the row where doc_id == cluster_id.
   */
  def clusters(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
               maxIterations: Int = 50,
               smallGraphEdgeCap: Long = 524288L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    def requireIntegral(df: DataFrame, c: String, what: String): Unit = {
      val dt = df.schema(c).dataType
      require(integral.contains(dt),
        s"clusters: $what column '$c' must be integral, got $dt — a string/UUID id would silently null under the long cast")
    }
    requireIntegral(docs, idCol, "docs id")
    requireIntegral(pairs, "id_a", "pairs")
    requireIntegral(pairs, "id_b", "pairs")
    // both orientations keyed by (src → dst's labels flow to src); built
    // from ONE pass over `pairs` (whose upstream is the whole pair-mining
    // pipeline), partitioned once, reused narrow in every round
    val edgesRaw = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .distinct()
    edgesRaw.localCheckpoint()
    val edgeCount = edgesRaw.count() // materialize; hard-cuts mining lineage
    // SMALL-GRAPH fast path: a VERIFIED near-dup edge list is usually tiny
    // relative to the corpus (dedup's whole premise), and the iterative
    // loop's floor is rounds × stages of task launches — 0.7 s at bench
    // scale for a 246-edge graph. Under the cap (≤ 512k edges ⇒ ≤ 8 MB of
    // longs, broadcast-dim territory), union-find the edge list on the
    // driver and label docs with ONE broadcast join: cluster_id = min id
    // of the component, identical to the loop's min-label fixpoint. The
    // bound is the already-materialized edge COUNT, not a guess — a
    // dup-heavy 100 TB corpus whose edge list outgrows it takes the
    // distributed pointer-jumping loop below.
    if (edgeCount <= smallGraphEdgeCap) {
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while ({ val p = parent.get(r); p != null && p.longValue() != r }) r = parent.get(r)
        var c = x // path compression
        while ({ val p = parent.get(c); p != null && p.longValue() != c }) {
          val nxt = parent.get(c).longValue(); parent.put(c, r); c = nxt
        }
        r
      }
      edgesRaw.collect().foreach { case (a, b) =>
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val relabeled = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      parent.keySet().forEach { id =>
        val r = find(id)
        if (r != id) relabeled += ((id, r)) // singletons label themselves via coalesce
      }
      val lm = spark.createDataset(relabeled.toSeq).toDF(idCol, "_cc_label")
      return docs.select(col(idCol).cast("long").as(idCol))
        .join(broadcast(lm), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("_cc_label"), col(idCol)).as("cluster_id"))
    }
    // RIGHT-SIZED parallelism: the per-round cost floor is task launches
    // (stages × partitions), and AQE's post-shuffle coalescing does not
    // apply to RDD stages — a 32-way partitioner on a 1k-edge graph billed
    // ~0.5 s/round of pure task scheduling (≈190 sub-KB tasks). Partition
    // count scales with the edge list (~20k edges/partition), capped at the
    // cluster's parallelism, so bench-scale graphs run 1-2 wide while a
    // 100 TB edge list still fans out fully.
    val part = new HashPartitioner(math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, edgeCount / 20000L + 1L)).toInt)
    val edges = edgesRaw.partitionBy(part)
    edges.localCheckpoint()
    edges.count()
    // node universe = docs ∪ edge endpoints (scaladoc contract): labels
    // must propagate THROUGH endpoints absent from docs, matching the
    // driver union-find path. Doc nodes are kept for the final filter.
    val docNodes = docs.select(col(idCol).cast("long"))
      .as[Long].rdd.map(v => (v, v)).partitionBy(part)
    docNodes.localCheckpoint()
    var labels: RDD[(Long, Long)] = docNodes
      .union(edgesRaw.keys.map(v => (v, v)))
      .reduceByKey(part, (a: Long, _: Long) => a)
    labels.localCheckpoint()
    val nNodes = labels.count()
    var converged = nNodes == 0L
    var iter = 0
    while (!converged && iter < maxIterations) {
      val prev = labels
      // neighbor min: edges(src,dst) ⋈ labels(dst) — NARROW (both sides
      // hash-partitioned by key) — then map-side-combined min per src
      val nmin = edges.join(prev)
        .map { case (_, (src, dstLabel)) => (src, dstLabel) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val stepped = prev.leftOuterJoin(nmin) // narrow: both on `part`
        .mapValues { case (l, m) => (math.min(l, m.getOrElse(l)), l) }
      // one pointer jump through prev; (id,(label,origLabel)) keyed by label
      // (a second jump composition measured ZERO round-count benefit on the
      // real sf0.1 similarity graphs — distance growth saturates — so one
      // jump keeps the shuffle count minimal while still collapsing
      // pathological chains: a 256-path converges in 8 rounds, not 255)
      val jumped = stepped
        .map { case (id, (lab, prevL)) => (lab, (id, prevL)) }
        .leftOuterJoin(prev)
        .map { case (lab, ((id, prevL), ll)) =>
          (id, (math.min(lab, ll.getOrElse(lab)), prevL))
        }
      val changedAcc = spark.sparkContext.longAccumulator
      val next = jumped
        .partitionBy(part)
        .mapValues { case (lab, prevL) => // mapValues PRESERVES partitioning
          if (lab < prevL) changedAcc.add(1L)
          lab
        }
      next.localCheckpoint()
      next.count() // materialize; accumulator now holds the change count
      // (task retries can only over-count → at worst one extra round)
      converged = changedAcc.value == 0L
      labels = next
      iter += 1
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[dedup] clusters converged in $iter rounds")
    // emit doc rows only (narrow: both sides on `part`); endpoint-only
    // nodes carried labels for connectivity but are not output rows
    docNodes.join(labels).map { case (id, (_, lab)) => (id, lab) }
      .toDF(idCol, "cluster_id")
  }

  /** Canonical survivors: one representative row per near-dup cluster. */
  def clusterSurvivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.join(clusters(docs, pairs, idCol).filter(col(idCol) === col("cluster_id"))
      .select(idCol), idCol)

  /**
   * ONE mining pass feeding BOTH dedup output shapes: the cluster map
   * (id, cluster_id) and the canonical survivor rows, derived from a
   * single [[minhashSpanningPairs]] pair frame and a single [[clusters]]
   * labeling. This is the pipeline shape a real dedup run uses — compute
   * the cluster frame once, ship both the assignment table and the
   * deduplicated corpus from it — where running [[clusters]] and
   * [[clusterSurvivors]] independently mines the pair graph twice. The
   * standalone `dedup_clusters`/`dedup_survivors` bench queries stay
   * independent on purpose (each timed run pays its own full cost); this
   * is the fused alternative, spec-pinned output-identical to the two
   * independent calls.
   */
  def clustersAndSurvivors(docs: DataFrame, threshold: Double,
                           idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val pairs = minhashSpanningPairs(docs, threshold, idCol = idCol)
    val cl = clusters(docs, pairs, idCol)
      .localCheckpoint(true) // one labeling feeds both consumers
    val survivors = docs.join(
      cl.filter(col(idCol) === col("cluster_id")).select(idCol), idCol)
    (cl, survivors)
  }

  /** Default token-array hash: fused xxhash64 (fastest; Spark-only). */
  val xxhashTokens: Column => Column = TextHashOps.xxhash64Array

  /**
   * md5-based 60-bit token-array hash — bit-reproducible in any engine with
   * md5 (the DuckDB oracle uses `('0x' || substr(md5(t),1,15))::BIGINT`).
   * 60 bits so the value is always a positive Long. Fused loop, value-equal
   * to `transform(arr, t => conv(substring(md5(t),1,15),16,10))`.
   */
  val md5Tokens: Column => Column = TextHashOps.md5Hash60Array

  /**
   * SimHash 64-bit fingerprints via the fused native expressions — narrow
   * map, no shuffle, no interpreted HOFs. Token-level (unigram) hashing;
   * `tokenHasher` maps the distinct-token ARRAY to an array of hashes.
   */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              tokenHasher: Column => Column = xxhashTokens): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // one spread exchange of the raw docs; the fingerprint compute is
    // narrow after it and [[simhashPairs]] persists the result — the
    // persist is the materialization barrier (the old trailing
    // repartition(par, id) was a second full exchange bought for nothing,
    // same finding as minhashSignatures r15)
    docs.repartition(par).select(col(idCol).as("id"),
      TextHashOps.simhash64(
        tokenHasher(TextHashOps.textNgrams(col(textCol), 1))).as("simhash"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ maxDist via the block
   * trick: split 64 bits into `maxDist+1` chunks — any pair within distance
   * must share one exact chunk (pigeonhole). Join on (chunk, value), verify
   * with bit_count(xor).
   *
   * FIRST-MATCH dedup (r15): a pair colliding in k chunks used to be
   * emitted k times and canonicalized by a `.distinct()` — which shuffled
   * the ENTIRE raw candidate stream (33M rows at the ×10 probe, where the
   * contractual output is 4.7M pairs: dup-heavy groups collide in all 4
   * chunks). Both fingerprints are in hand after the join, so "this is the
   * pair's FIRST matching chunk" is a narrow filter (no earlier chunk
   * equal) — each pair survives exactly once BY CONSTRUCTION and the plan
   * has zero post-join exchange: join → project → filter, all pipelined.
   * Value-identical to the distinct (spec-pinned; same pigeonhole
   * completeness, hamming filtered before materialization).
   */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text",
                   tokenHasher: Column => Column = xxhashTokens): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    def chunkOf(fp: Column, c: Int): Column =
      shiftright(fp, c * width).bitwiseAND((1L << width) - 1)
    val fp = simhash(docs, idCol, textCol, tokenHasher).persist(StorageLevel.MEMORY_AND_DISK)
    val banded = fp.select(
      col("id"), col("simhash"),
      posexplode(array((0 until chunks).map(chunkOf(col("simhash"), _)): _*))
        .as(Seq("chunk", "chunk_val")))
    val a = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("simhash").as("fp_a"))
    val b = banded.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("simhash").as("fp_b"))
    val noEarlierMatch = not((0 until chunks - 1).map { cPrev =>
      col("chunk") > cPrev && (chunkOf(col("fp_a"), cPrev) === chunkOf(col("fp_b"), cPrev))
    }.reduce(_ || _))
    val result = a.join(b, Seq("chunk", "chunk_val")).filter(col("id_a") < col("id_b"))
      .filter(noEarlierMatch)
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .localCheckpoint(true)
    fp.unpersist(false)
    result
  }
}
