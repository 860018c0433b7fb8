package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading the per-layer counters, so a pass's last tasks are
  * not charged to the next pass. `listenerBus` is package-private, hence
  * this one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
