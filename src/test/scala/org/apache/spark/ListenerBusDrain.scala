package org.apache.spark

/** Lets a spec wait until Spark's listener bus has delivered every event
  * posted so far, so listener counts are read complete. The bus is
  * `private[spark]`, hence the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
