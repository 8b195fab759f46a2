package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered. Spark's listener bus is asynchronous and its drain
  * call is package-private, hence this one-line bridge in Spark's
  * package. Used only by the traced mode, after an action has returned.
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
