package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far, so a traced op's tasks are all recorded before its
  * layer metrics are derived. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
