package org.apache.spark

/** The listener bus delivers events asynchronously, and its drain call is
  * package-private: this shim lets the benchmark read its listeners only
  * after every event of the work it just ran has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
