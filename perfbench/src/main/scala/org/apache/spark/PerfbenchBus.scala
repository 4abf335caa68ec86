package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener callbacks run on the listener-bus threads; the traced run
  * drains the bus after each operation so that the operation's job, task
  * and query-execution events are attributed to it before the next one
  * starts. `waitUntilEmpty` is package-private to `org.apache.spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
