package org.apache.spark

/** The one scheduler hook the benchmark's tracer needs that Spark keeps
  * package-private: block until every posted listener event has been
  * delivered, so a traced op's job, stage and task metrics are complete
  * before they are read. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
