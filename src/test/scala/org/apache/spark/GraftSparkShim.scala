package org.apache.spark

/** Test bridge into `SparkContext.listenerBus` (private[spark]): specs
  * that count jobs or capture plans with a listener drain the bus so
  * every event of the work under test has been delivered before they
  * read what the listener saw (listener events are delivered
  * asynchronously).
  */
object GraftSparkShim {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
