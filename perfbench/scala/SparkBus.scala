package org.apache.spark

/** The listener bus delivers events asynchronously; a traced job's
  * task metrics are complete only once it has drained. `listenerBus`
  * is private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
