package org.apache.spark

/** The one private Spark call the benchmark needs: block until every
  * listener event posted so far has been delivered, so an operation's task
  * metrics are complete when the benchmark reads them.
  */
object KbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
