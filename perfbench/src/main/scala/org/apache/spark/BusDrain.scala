package org.apache.spark

/** Access to the listener bus's own "wait until every queued event is
  * delivered" call, which Spark keeps package-private. */
object BusDrain {
  /** True when every queue emptied within `timeoutMs`. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
