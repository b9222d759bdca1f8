package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so every event of an
  * operation has reached the benchmark's listeners before the operation's
  * counters are read. The bus is package-private to Spark, hence this
  * package.
  */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
