package org.apache.spark

/** Blocks until Spark's listener bus has delivered every event posted so
  * far. The bus is `private[spark]`, hence this one-line shim in Spark's
  * package. Spark posts a job's end event before the action that ran the
  * job returns, so after an action returns and the bus is drained, every
  * listener has seen the end of every job that action started.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
