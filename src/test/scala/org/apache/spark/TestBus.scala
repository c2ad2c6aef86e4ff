package org.apache.spark

/** Test access to the one listener-bus fact Spark keeps package-private:
  * waiting until every posted event has reached its listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
