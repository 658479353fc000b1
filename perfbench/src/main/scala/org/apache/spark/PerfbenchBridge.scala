package org.apache.spark

/** The one private Spark hook the harness needs: listener events are
  * delivered asynchronously, so counts are read only after the bus drains. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
