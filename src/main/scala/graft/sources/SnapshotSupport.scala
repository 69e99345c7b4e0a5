package graft.sources

/**
 * Consistent-snapshot (backfill) support: read chunking + resume ledger +
 * source-position reachability guard.
 *
 * Reference: crates/sources/src/mysql/mysql_snapshot.rs:156-331 (integer-PK
 * range chunking :572-580, per-table resume :44-74, binlog-retention guard
 * :93-155) and postgres_snapshot.rs:93+ (ctid page-range fallback :338-361).
 *
 * On Spark the chunked parallel scan IS `spark.read.jdbc(partitionColumn,
 * lowerBound, upperBound, numPartitions)` — each chunk a task, predicate
 * pushdown on. What Spark does not give you is captured here: chunk-count
 * policy, per-table resume, and the "is my resume position still replayable"
 * guard that decides snapshot-vs-resume on startup.
 */
object SnapshotSupport {

  /** PK-range chunking policy (reference mysql_snapshot.rs:572-580). */
  def chunkCount(rowEstimate: Long, targetRowsPerChunk: Long = 500000L, maxChunks: Int = 4096): Int =
    math.min(maxChunks, math.max(1L, (rowEstimate + targetRowsPerChunk - 1) / targetRowsPerChunk)).toInt

  /**
   * Chunk-strategy chooser (reference postgres_snapshot.rs:349-362): a single
   * integer PK gets range chunking; composite or missing PKs fall back to
   * ctid page ranges.
   */
  sealed trait ChunkStrategy
  case class ByPk(pkCol: String) extends ChunkStrategy
  case object ByCtid extends ChunkStrategy

  def chunkStrategy(pk: Seq[String], isIntegerCol: String => Boolean): ChunkStrategy =
    pk match {
      case Seq(single) if isIntegerCol(single) => ByPk(single)
      case _ => ByCtid
    }

  /**
   * Postgres ctid page-range chunking for PK-less / composite-PK tables
   * (reference postgres_snapshot.rs:595-663). The heap is split into
   * `[page, endPage)` tid ranges, each becoming one predicate — and with
   * Spark's predicate-array JDBC reader, one partition/task. Page count
   * comes from `pg_class.relpages` (ANALYZE first — relpages is 0 on
   * never-analyzed tables, reference :599-607).
   *
   * Rows-per-page is an estimate only (reference assumes ~100, :626); a
   * wrong estimate skews chunk *sizes*, never correctness — tid ranges
   * partition the heap exactly, so every row lands in exactly one chunk.
   */
  def ctidPagesPerChunk(chunkSizeRows: Long, rowsPerPageEstimate: Long = 100L): Long =
    math.max(1L, chunkSizeRows / math.max(1L, rowsPerPageEstimate))

  def ctidPredicates(totalPages: Long, pagesPerChunk: Long): Array[String] = {
    require(pagesPerChunk > 0, "pagesPerChunk must be positive")
    // relpages is an ESTIMATE (stale until VACUUM/ANALYZE, 0 on
    // never-analyzed tables): the LAST chunk must be open-ended so rows on
    // pages appended after the estimate still land in exactly one chunk —
    // a bounded tail would silently drop them from the snapshot.
    if (totalPages <= 0) Array("ctid >= '(0,1)'::tid")
    else (0L until totalPages by pagesPerChunk).map { page =>
      val endPage = page + pagesPerChunk
      // (page,1) sorts before every tuple on `page`; end bound exclusive —
      // the reference's WHERE clause (postgres_snapshot.rs:636-640)
      if (endPage >= totalPages) s"ctid >= '($page,1)'::tid"
      else s"ctid >= '($page,1)'::tid AND ctid < '($endPage,1)'::tid"
    }.toArray
  }

  /**
   * Per-table snapshot resume ledger (reference SnapshotProgress,
   * mysql_snapshot.rs:44-74): tables already fully snapshotted are skipped
   * on restart. Same tiny-file pattern as the sink ledger.
   */
  class SnapshotLedger(dir: String) {
    private val inner = new graft.streaming.SinkLedger(dir)
    def isDone(table: String): Boolean = inner.committed(s"snapshot::$table") >= 0L
    def markDone(table: String): Unit = inner.commit(s"snapshot::$table", 0L)
    def pending(tables: Seq[String]): Seq[String] = tables.filterNot(isDone)
  }

  /**
   * Source-position reachability guard (reference binlog-retention guard
   * mysql_snapshot.rs:93-155 + failover reachability identity.rs:54-80):
   * before resuming a stream, verify the checkpointed position still exists
   * at the source; if purged, policy decides re-snapshot vs halt.
   */
  sealed trait ReachabilityPolicy
  case object Adapt extends ReachabilityPolicy // re-snapshot then stream
  case object Halt extends ReachabilityPolicy // operator intervention

  sealed trait ResumeDecision
  case object Resume extends ResumeDecision
  case object Resnapshot extends ResumeDecision
  case class HaltWith(reason: String) extends ResumeDecision

  def decideResume(requested: BacklogSource.BacklogOffset, backlogDir: String,
                   policy: ReachabilityPolicy): ResumeDecision = {
    val segs = BacklogSource.segments(backlogDir)
    // Identity-aware when the offset names its segment (binlog positions
    // name their file): index-in-range is NOT enough — after a purge a
    // different segment can shift into the index (chaos binlog_purge).
    val indexOk = requested.segment < segs.length ||
      (segs.isEmpty && requested.segment == 0 && requested.line == 0L)
    val identityOk = requested.name.isEmpty || (requested.segment < segs.length &&
      segs(requested.segment).getFileName.toString == requested.name)
    val reachable = indexOk && identityOk
    if (reachable) Resume
    else policy match {
      case Adapt => Resnapshot
      case Halt => HaltWith(
        s"checkpoint ${requested.json()} purged from $backlogDir (retention); halting per policy")
    }
  }
}
