package org.apache.spark

/** Test-only accessor: `SparkContext.listenerBus` is `private[spark]`,
  * but a spec that inspects listener events must wait for the bus to
  * deliver everything posted so far before it reads them. */
object ListenerBusTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
