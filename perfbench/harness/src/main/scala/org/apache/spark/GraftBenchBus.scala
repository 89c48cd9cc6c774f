package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait until
  * every job, stage and task event of a pass has been delivered before
  * it attributes them to spans.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
