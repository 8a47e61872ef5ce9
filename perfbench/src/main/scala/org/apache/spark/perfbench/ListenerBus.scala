package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The benchmark drains it at each operation boundary so that every task
  * and block event of an operation is counted before the next one starts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
