package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto a context's listener bus (package-private in
  * Spark), so the benchmark's tracer can queue a drain marker behind the
  * events of work that has already finished.
  */
object PerfbenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
