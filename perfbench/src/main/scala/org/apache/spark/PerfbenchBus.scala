package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read its listeners only after every posted event was delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
