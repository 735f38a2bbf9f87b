package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer needs
  * it so a span closes only after every event its jobs posted arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = {
    sc.listenerBus.waitUntilEmpty()
  }
}
