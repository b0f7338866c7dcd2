package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * per-span totals only after the bus has caught up with the work it traced.
  * `listenerBus` is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
