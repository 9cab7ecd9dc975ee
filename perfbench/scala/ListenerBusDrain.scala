package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event. The bus is `private[spark]`, hence this one-line bridge
  * in Spark's package; the benchmark calls it after each traced
  * operation so listener events land on the operation that caused them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
