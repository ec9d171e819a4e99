package org.apache.spark

/** The listener bus delivers events asynchronously and its drain call is
  * `private[spark]`; this one-line shim lets the tracer read complete
  * per-op counters before the next op starts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
