package org.apache.spark

/** Package-local bridge to `private[spark]` internals.
  *
  * Per-query task-metric attribution (spill bytes, peak execution memory)
  * listens on the async listener bus; attributing events to the query that
  * produced them needs "every event for the job that just finished has been
  * delivered" — `LiveListenerBus.waitUntilEmpty`, which is `private[spark]`.
  * A bounded wait outside the timed region; a timeout degrades to slightly
  * under-counted metrics, never to a failure.
  */
object GraftSparkHooks {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }

  /** A copy of the calling thread's local properties (job group,
    * description, scheduler pool); `graft.core.BlockScope.fork` hands it to
    * the threads it starts. */
  def localProperties(sc: SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Give the calling thread its own copy of `props`. */
  def setLocalProperties(sc: SparkContext, props: java.util.Properties): Unit =
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
}
