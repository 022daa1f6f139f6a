package org.apache.spark

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so per-span counts are read only after the
  * bus has drained. Lives in Spark's package because `listenerBus` is
  * `private[spark]`.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
