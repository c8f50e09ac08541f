package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before reading what its own listeners collected. `listenerBus` is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
