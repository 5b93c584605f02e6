package org.apache.spark

/** The listener bus is private to Spark; a traced pass must see every
  * event its operations caused before it reads the recorded spans. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
