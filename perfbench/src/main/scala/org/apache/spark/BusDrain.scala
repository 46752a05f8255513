package org.apache.spark

/** The listener bus delivers events asynchronously; the trace reads its
  * counters only after every event posted so far has been handled.
  * `listenerBus` is package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
