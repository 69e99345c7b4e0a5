package graft.core

/**
 * The one bounded retry loop (reference common/src/retry.rs:235-330,
 * `retry_async(op, is_transient, …)`), shared by the spooler pumps and the
 * wire sinks.
 *
 * Runs `op` (given the attempt number, from 1) up to `attempts` times. A
 * failure that `transient` accepts is followed by a sleep of `backoffMs(n)`,
 * n = failures so far (from 1), and another attempt. Any other failure, and
 * the transient failure of the last attempt, propagates unchanged — so a
 * non-retryable condition (failover, dropped slot, a server's `-ERR`, an
 * HTTP 4xx) fails on the first attempt.
 */
object Retry {
  def apply[T](attempts: Int, backoffMs: Int => Long)(transient: Throwable => Boolean)
              (op: Int => T): T = {
    var n = 1
    var result: Option[T] = None
    while (result.isEmpty) {
      try result = Some(op(n))
      catch {
        case e: Throwable if n < attempts && transient(e) =>
          Thread.sleep(backoffMs(n))
          n += 1
      }
    }
    result.get
  }

  /** The transient class of the socket paths: a dropped or refused connection. */
  val io: Throwable => Boolean = _.isInstanceOf[java.io.IOException]
}
