package org.apache.spark

/** Listener-bus drain for the benchmark: Spark delivers listener events
  * asynchronously, so per-pass task metrics are read only after every
  * event posted during the pass has been handled. `listenerBus` is
  * package-private to Spark, hence this file's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
