package graft.streaming

import graft.functions.TextHashOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming deduplication for a document stream — the ingest-time half of
 * the batch dedup family ([[graft.llm.Dedup]]): suppress exact duplicates
 * and surface NEAR-duplicate candidates while the corpus streams in, so a
 * training-data pipeline never materializes the duplicated bytes at all.
 *
 * Two tiers, mirroring the batch design:
 *
 *  1. '''Exact''' — a normalized-text fingerprint + Structured Streaming's
 *     `dropDuplicatesWithinWatermark`: built-in, state = one fingerprint
 *     per doc inside the watermark, evicted by the engine. At 100 TB the
 *     state is #docs-in-watermark × 8-byte hash — sketch-sized, not
 *     corpus-sized.
 *  2. '''Near-dup''' — banded MinHash with per-bucket keyed state
 *     (`flatMapGroupsWithState`, the same surface as
 *     [[StatefulSessionize]]): each doc's k-perm signature is banded; each
 *     (band, bucket) group keeps a BOUNDED buffer of (docId, signature)
 *     canonicals; an arriving doc whose signature agrees with a stored one
 *     on ≥ threshold of the k perms emits a candidate pair. Duplicates are
 *     NOT added to state (the canonical stays), so a burst of repeats
 *     costs zero state growth. The emitted stream is candidate PAIRS —
 *     the bucket candidates the batch `Dedup.minhashPairs` mines before
 *     it verifies them — so downstream can verify exactly (shingle
 *     Jaccard) or act directly.
 *
 * Scale shape: a doc fans out to `bands` keyed groups (narrow explode +
 * one shuffle on the bucket key — exactly the batch LSH shuffle, but
 * incremental); state per bucket is capped at `maxPerBucket` entries and
 * idle buckets expire via processing-time timeout. The per-perm equality
 * fraction is the standard unbiased MinHash estimate of Jaccard.
 */
object StreamingDedup {

  /** One (doc × band) routing record. */
  case class BandedDoc(docId: Long, band: Int, bucket: Long, sig: Array[Long])
  /** A bucket's bounded canonical buffer. */
  case class BucketState(ids: Array[Long], sigs: Array[Array[Long]])
  /** Candidate near-dup pair: `docId` agreed with earlier `dupOf` on
   * `estJaccard` (fraction of equal perms) in `band`'s bucket. */
  case class DupCandidate(docId: Long, dupOf: Long, estJaccard: Double, band: Int)

  /** Exact streaming dedup: content-fingerprint
   * `dropDuplicatesWithinWatermark` (same raw-text hash contract as the
   * batch `Dedup.exact`). `tsCol` must be a timestamp column; repeats
   * arriving inside the watermark are dropped. */
  def exactDeduped(docs: DataFrame, textCol: String = "text",
                   tsCol: String = "ts", watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_fp", xxhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /**
   * The bounded per-bucket fold core: O(maxPerBucket) memory regardless of
   * how many docs stream through the bucket — a degenerate mass-duplicated
   * bucket at 100× scale costs the task only the capped canonical buffer,
   * never the incoming group. Each [[step]] compares ONE incoming doc
   * against the stored canonicals, emitting at most one candidate (best
   * estimate, tie → the EARLIEST canonical); non-duplicates join the
   * buffer, evicting the oldest entry past `maxPerBucket`.
   */
  private final class BucketFold(init: Option[BucketState], threshold: Double,
                                 maxPerBucket: Int, band: Int) {
    private var ids = init.map(_.ids.toVector).getOrElse(Vector.empty)
    private var sigs = init.map(_.sigs.toVector).getOrElse(Vector.empty)
    def step(id: Long, sig: Array[Long]): Option[DupCandidate] = {
      var bestEst = -1.0
      var bestId = Long.MaxValue
      var i = 0
      while (i < ids.length) {
        if (ids(i) != id) {
          val stored = sigs(i)
          val k = math.min(sig.length, stored.length)
          var eq = 0; var p = 0
          while (p < k) { if (sig(p) == stored(p)) eq += 1; p += 1 }
          val est = if (k == 0) 0.0 else eq.toDouble / k
          if (est > bestEst || (est == bestEst && ids(i) < bestId)) {
            bestEst = est; bestId = ids(i)
          }
        }
        i += 1
      }
      if (bestEst >= threshold) {
        // canonical stays; the duplicate is not stored
        Some(DupCandidate(id, bestId, bestEst, band))
      } else {
        if (!ids.contains(id)) {
          ids :+= id; sigs :+= sig
          if (ids.length > maxPerBucket) { ids = ids.tail; sigs = sigs.tail }
        }
        None
      }
    }
    def result: Option[BucketState] =
      if (ids.isEmpty) None else Some(BucketState(ids.toArray, sigs.toArray))
  }

  /**
   * Lazily folds `incoming` (in its GIVEN order) through the bounded
   * bucket buffer, emitting candidates as they are found; when the input
   * is exhausted, `onComplete` receives the bucket's new state exactly
   * once. Neither the incoming group nor the emitted candidates are ever
   * materialized — peak memory is O(maxPerBucket) + one doc.
   */
  def foldBucket(state: Option[BucketState], incoming: Iterator[(Long, Array[Long])],
                 threshold: Double, maxPerBucket: Int, band: Int)
                (onComplete: Option[BucketState] => Unit): Iterator[DupCandidate] =
    new Iterator[DupCandidate] {
      private val fold = new BucketFold(state, threshold, maxPerBucket, band)
      private var nextEmit: Option[DupCandidate] = None
      private var done = false
      private def advance(): Unit = {
        while (nextEmit.isEmpty && incoming.hasNext) {
          val (id, sig) = incoming.next()
          nextEmit = fold.step(id, sig)
        }
        if (nextEmit.isEmpty && !done) { done = true; onComplete(fold.result) }
      }
      def hasNext: Boolean = { advance(); nextEmit.isDefined }
      def next(): DupCandidate = {
        advance(); val e = nextEmit.get; nextEmit = None; e
      }
    }

  /**
   * Eager docId-ordered wrapper over [[foldBucket]] — the unit-testable
   * pure update step (and the form the split-invariance argument is
   * stated in: a left fold over docId-ordered arrivals). Callers with
   * unbounded groups use [[foldBucket]] directly and order upstream.
   */
  def updateBucket(state: Option[BucketState], incoming: Seq[(Long, Array[Long])],
                   threshold: Double, maxPerBucket: Int, band: Int)
      : (Seq[DupCandidate], Option[BucketState]) = {
    var fin: Option[BucketState] = state
    val out = foldBucket(state, incoming.sortBy(_._1).iterator,
      threshold, maxPerBucket, band)(fin = _).toList
    (out, fin)
  }

  /** One [[BandedDoc]] per (doc × band): each doc's k-perm MinHash
   * signature over the fused byte-level 3-gram hashes of `textCol`
   * (sorted-distinct form; the k-min is order-insensitive over the same
   * set), banded by one fused walk of the signature. */
  private def bandedDocs(docs: DataFrame, k: Int, bands: Int, idCol: String,
                         textCol: String): Dataset[BandedDoc] = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    import docs.sparkSession.implicits._
    val sig = TextHashOps.minhashSignature(
      TextHashOps.textNgramsXxh64Sorted(col(textCol), 3), k)
    docs
      .select(col(idCol).cast("long").as("docId"), sig.as("sig"))
      .select(col("docId"), col("sig"),
        posexplode(TextHashOps.bandHashes(col("sig"), bands))
          .as(Seq("band", "bucket")))
      .as[BandedDoc]
  }

  /**
   * Batch-parity replay of the streaming near-dup path: runs the SAME
   * per-bucket fold the streaming operator applies ([[updateBucket]]) over
   * the full corpus in ONE distributed pass. `updateBucket` is a left fold
   * over docId-ordered arrivals, so feeding each (band, bucket) group its
   * complete doc list in one call produces EXACTLY the candidate set a
   * docId-ordered micro-batch replay emits — splitting a fold's input into
   * batches cannot change the fold (`StreamingDedupSpec` pins the
   * equivalence against a live `flatMapGroupsWithState` query). This is
   * what makes the streaming operator oracle-checkable: the replay is a
   * plain batch query whose result is SQL-expressible, while the streaming
   * mechanics (state store, watermarks) stay covered by the spec.
   *
   * Scale shape: identical to [[nearDupCandidates]] — narrow signature
   * pass, band explode, ONE shuffle on the bucket key. The docId ordering
   * the fold's determinism needs comes from a SECONDARY SORT
   * (`sortWithinPartitions(band, bucket, docId)` — Spark's external,
   * spillable sort, the same sort `flatMapGroups` would have inserted on
   * the key alone) and each contiguous bucket run then streams through
   * [[foldBucket]] — no bucket's membership is ever materialized, so a
   * degenerate mass-duplicated bucket costs O(maxPerBucket), not O(group).
   * No driver collect anywhere.
   */
  def replayedCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
                         threshold: Double = 0.7, maxPerBucket: Int = 64,
                         idCol: String = "doc_id", textCol: String = "text")
      : Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedDocs(
      docs.repartition(spark.sparkContext.defaultParallelism), // single-file scans stay 1-task otherwise
      k, bands, idCol, textCol)
      .repartition(col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket", "docId")
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[DupCandidate] {
          private var pending: Iterator[DupCandidate] = Iterator.empty
          private def advance(): Unit =
            // move to the next bucket run only once the current fold is
            // drained (a drained fold has consumed its whole run)
            while (!pending.hasNext && it.hasNext) {
              val band = it.head.band
              val bucket = it.head.bucket
              val run = new Iterator[(Long, Array[Long])] {
                def hasNext: Boolean =
                  it.hasNext && it.head.band == band && it.head.bucket == bucket
                def next(): (Long, Array[Long]) = { val d = it.next(); (d.docId, d.sig) }
              }
              pending = foldBucket(None, run, threshold, maxPerBucket, band)(_ => ())
            }
          def hasNext: Boolean = { advance(); pending.hasNext }
          def next(): DupCandidate = { advance(); pending.next() }
        }
      }
  }

  /**
   * Near-dup candidate stream. `docs` is a (streaming) DataFrame with an
   * id column and a text column; emits [[DupCandidate]] records in Append
   * mode. `stateTimeoutMs > 0` expires idle buckets (production mode —
   * tests pass 0 and rely on explicit emission, like sessionize).
   */
  def nearDupCandidates(docs: DataFrame, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7, maxPerBucket: Int = 8,
                        idCol: String = "doc_id", textCol: String = "text",
                        stateTimeoutMs: Long = 3600000L): Dataset[DupCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (stateTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    bandedDocs(docs, k, bands, idCol, textCol)
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, DupCandidate](
        OutputMode.Append(), timeoutConf) {
        case (_, _, state: GroupState[BucketState]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case ((band, _), ds, state: GroupState[BucketState]) =>
          // Bounded-memory group consumption: pull up to `liveSortCap`
          // docs — the common micro-batch group fits entirely and keeps
          // the deterministic docId-ordered fold; a degenerate mass-dup
          // bucket overflows the cap and folds its TAIL in arrival order
          // with O(cap) peak memory instead of O(group). The head buffer
          // is sorted in BOTH branches: on overflow the first `cap` docs
          // still fold docId-ordered, so the deterministic prefix (where
          // canonicals are established) is as large as memory allows and
          // only the past-cap remainder — overwhelmingly duplicates in the
          // bucket shapes that overflow — is order-dependent. State writes
          // land via the fold's completion hook; Spark persists GroupState
          // after the returned iterator drains.
          val head = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]
          while (ds.hasNext && head.length < liveSortCap) {
            val d = ds.next(); head += ((d.docId, d.sig))
          }
          val ordered =
            head.sortInPlaceBy(_._1).iterator ++ ds.map(d => (d.docId, d.sig))
          foldBucket(state.getOption, ordered, threshold, maxPerBucket, band) {
            case Some(s) =>
              state.update(s)
              if (stateTimeoutMs > 0) state.setTimeoutDuration(stateTimeoutMs)
            case None => if (state.exists) state.remove()
          }
      }
  }

  /** Per-group docId-sort buffer cap for the live operator — groups that
   * fit sort deterministically; larger (degenerate hot-bucket) groups
   * fold their tail in arrival order rather than materializing. */
  private[streaming] val liveSortCap = 4096
}
