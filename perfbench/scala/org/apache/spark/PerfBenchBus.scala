package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads
  * its listeners only after the bus has delivered everything posted so
  * far, which needs the bus, private to this package.
  */
object PerfBenchBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
