package org.apache.spark.graftdev

import org.apache.spark.SparkContext

/** Dev-tool escape hatch: SparkContext.listenerBus is private[spark],
  * but graft.Profile needs a deterministic drain before reading its
  * listener counters (a fixed sleep raced on slow buses and
  * under-counted stages). Used only by the profiling main, never by a
  * query path. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
