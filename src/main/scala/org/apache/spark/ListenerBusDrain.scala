package org.apache.spark

/** Same-package accessor for the `private[spark]` listener-bus drain. */
object ListenerBusDrain {

  /** Block until every event posted so far reached every listener; throws
    * `java.util.concurrent.TimeoutException` after `timeoutMillis`.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
