package org.apache.spark.perfbench

/** Listener events are delivered asynchronously; the tracer drains the
  * bus at each operation boundary so every event lands on the operation
  * that caused it. The bus is private to the spark package, hence this
  * file's package.
  */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
