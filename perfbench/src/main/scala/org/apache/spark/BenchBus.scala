package org.apache.spark

/** The live listener bus delivers events asynchronously; the traced run
  * waits for it to drain after each op so every task of the op has been
  * seen before the op's metrics are read. `listenerBus` is package-private
  * to Spark, hence this one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
