package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus. Spark posts a job's
  * stage-completion and job-end events before the action that ran it
  * returns, but delivers them to listeners on another thread; after
  * `apply` returns, every event posted so far has been delivered. A bus
  * that does not drain within Spark's timeout (10 s) throws
  * `TimeoutException` instead of leaving a caller with partial counts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
