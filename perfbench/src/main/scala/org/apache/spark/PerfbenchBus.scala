package org.apache.spark

/** The listener bus delivers events on its own thread; a span's totals are
  * read only after every event posted so far has been handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
