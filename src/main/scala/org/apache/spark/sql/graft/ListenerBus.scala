package org.apache.spark.sql.graft

import java.util.concurrent.TimeoutException
import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]. Listener events are
  * delivered asynchronously, so a counter read straight after an action can
  * miss that action's last stage; [[drain]] waits for delivery instead of
  * sleeping a guessed interval. */
object ListenerBus {
  /** Blocks until every event posted so far has reached its listeners, or
    * `timeoutMs` has passed (then the events still queued are read late). */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: TimeoutException => () }
}
