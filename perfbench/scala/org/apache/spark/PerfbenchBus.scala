package org.apache.spark

/** The listener bus delivers events asynchronously; the harness reads its
  * listeners' counters only after the bus has drained, which needs the
  * package-private bus handle.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
