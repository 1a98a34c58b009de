package org.apache.spark

/** Test access to Spark internals the public API does not expose. */
object GraftTestBridge {

  /** Block until every event posted so far has reached its listeners,
    * so a listener's counts are complete when an action returns. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
