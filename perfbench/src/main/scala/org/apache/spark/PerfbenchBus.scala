package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every event
  * posted so far, so span and storage counters are read complete instead
  * of after a guessed sleep. The bus is `private[spark]`, hence the package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
