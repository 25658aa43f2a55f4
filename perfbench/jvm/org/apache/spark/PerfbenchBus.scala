/* In Spark's package because LiveListenerBus.waitUntilEmpty is
 * private[spark]: the benchmark flushes listener events at each layer
 * boundary so counts taken there are exact. */
package org.apache.spark

object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
