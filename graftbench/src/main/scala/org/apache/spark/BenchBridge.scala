package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * event posted so far has reached the listeners, so a traced repetition
  * reads complete job and task counts.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
