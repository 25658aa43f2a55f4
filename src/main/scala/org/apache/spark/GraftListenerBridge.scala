/* Lives in Spark's package on purpose: LiveListenerBus.waitUntilEmpty is
 * private[spark], but task metrics arrive on the bus asynchronously after
 * an action returns, so a tally read at a query boundary needs a
 * deterministic flush first. Used by Bench's per-query deltas, SpillCheck
 * and SpillSpec; same rationale as GraftColumnBridge. */
package org.apache.spark

object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Throws `java.util.concurrent.TimeoutException` if the bus has not
    * drained within `timeoutMillis`. */
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
