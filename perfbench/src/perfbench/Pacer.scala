package perfbench

/** Open-loop arrival schedule: arrival `i` is due at `t0 + i * period`.
  * Due times are absolute, so a late arrival never shifts the ones
  * after it, and the schedule never waits for the consumer.
  */
final class Pacer(val t0Ns: Long, val periodNs: Long) {
  require(periodNs > 0, "period must be positive")

  def dueNs(i: Int): Long = t0Ns + i.toLong * periodNs

  /** How late an action taken at `actualNs` is for arrival `i` (0 when
    * early or on time).
    */
  def latenessNs(i: Int, actualNs: Long): Long = math.max(0L, actualNs - dueNs(i))

  /** Wait (sleeping, never spinning for long) until arrival `i` is due. */
  def awaitDue(i: Int, now: () => Long = () => System.nanoTime()): Unit = {
    var left = dueNs(i) - now()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = dueNs(i) - now()
    }
  }
}
