package org.apache.spark

/** Listener-bus drain for the benchmark's job trace: Spark delivers
  * listener events asynchronously, so a span's job and task metrics are
  * complete only once every event posted before its last action has been
  * delivered. `waitUntilEmpty` is `private[spark]`, hence this file's
  * package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
