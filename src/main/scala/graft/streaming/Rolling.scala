package graft.streaming

/**
 * File rolling thresholds — port of the reference's rolling policy
 * (reference crates/sinks/src/s3/rolling.rs:17-69): a writer rolls when
 * ANY of max_bytes / max_events / max_age (since open) / idle_age (since
 * last event) trips, never when empty, checked in that precedence order.
 *
 * Spark mapping: the micro-batch committer closes every file at batch end,
 * so `max_age`/`idle_age` are structurally bounded by the trigger interval
 * (a file can never outlive its batch); the knobs that remain load-bearing
 * are bytes/events, applied as dynamic `maxRecordsPerFile` sizing from the
 * batch's row count and average row width (its plan statistics), with one
 * write task per rolled file — see [[ParquetLakeSink]].
 */
object Rolling {

  /** Defaults aim at ~256 MiB / 1M events / 5 min, 10 min idle
   * (rolling.rs:24-33). */
  case class Config(maxBytes: Long = 256L * 1024 * 1024,
                    maxEvents: Long = 1000000L,
                    maxAgeMs: Long = 300000L,
                    idleAgeMs: Long = 600000L)

  sealed trait RollReason
  case object Bytes extends RollReason
  case object Events extends RollReason
  case object Age extends RollReason
  case object Idle extends RollReason

  /** Pure roll decision (rolling.rs:45-69): empty writers never roll;
   * precedence bytes > events > age > idle. */
  def shouldRoll(cfg: Config, bytes: Long, events: Long,
                 openedAtMs: Long, lastEventAtMs: Long, nowMs: Long): Option[RollReason] =
    if (events == 0) None
    else if (bytes >= cfg.maxBytes) Some(Bytes)
    else if (events >= cfg.maxEvents) Some(Events)
    else if (nowMs - openedAtMs >= cfg.maxAgeMs) Some(Age)
    else if (nowMs - lastEventAtMs >= cfg.idleAgeMs) Some(Idle)
    else None

  /** Records-per-file so that BOTH the event cap and the byte cap hold for
   * the measured average row width. */
  def recordsPerFile(cfg: Config, avgRowBytes: Double): Long =
    math.max(1L, math.min(cfg.maxEvents,
      (cfg.maxBytes / math.max(avgRowBytes, 1.0)).toLong))
}
