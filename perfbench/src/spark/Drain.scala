package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * per-layer numbers read after a timed section include all of it.
  */
object BenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
