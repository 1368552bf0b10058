package org.apache.spark.dmarcbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; the benchmark reads
  * its counters only after every event posted so far has been handled.
  * The bus is package-private to Spark, hence this one accessor.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
