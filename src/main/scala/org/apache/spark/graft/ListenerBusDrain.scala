package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Accessor for the `private[spark]` listener-bus drain. [[graft.core.Meter]]
  * is SparkListener-fed and the live bus is asynchronous, so a count read
  * right after an action returns can miss events still in the queue;
  * draining first makes the counts exact. [[graft.core.Engine]] drains the
  * same way before it reads an `Observation`, which the bus completes after
  * the action returns. (Same mechanism Spark's own test harness uses; no
  * Spark internals are modified — this object only lives under the
  * `org.apache.spark` namespace to satisfy the access qualifier.)
  * `waitUntilEmpty` throws a `TimeoutException` when the bus is not empty
  * after 10 s.
  */
object ListenerBusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
