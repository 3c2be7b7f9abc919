package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener's totals only after the bus has drained, so every task
  * of a finished span is counted. `waitUntilEmpty` is package-private
  * to Spark, hence this one-line accessor in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
