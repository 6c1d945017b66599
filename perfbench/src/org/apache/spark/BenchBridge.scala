package org.apache.spark

/** Drains the listener bus so task metrics of finished jobs have reached
  * the benchmark's listener before a span's numbers are read
  * (`SparkContext.listenerBus` is package-private). */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
