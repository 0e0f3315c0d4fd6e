package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener
  * events are delivered asynchronously, so per-span counters are read
  * only after the bus has drained. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
