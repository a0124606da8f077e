package org.apache.spark

/** Package-local access the benchmark needs to read its own listener's
  * totals: every event of a finished job has been delivered once the
  * listener bus is empty (`waitUntilEmpty` is `private[spark]`). A timeout
  * leaves the totals slightly short; it never fails the run. */
object PerfbenchHooks {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
