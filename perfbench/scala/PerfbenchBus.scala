package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading its spans. `waitUntilEmpty` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
