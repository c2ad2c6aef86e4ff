package org.apache.spark

import java.util.concurrent.TimeoutException
import scala.jdk.CollectionConverters._

/** The two listener-bus facts the benchmark needs and Spark keeps
  * package-private: whether every posted event has been delivered, and how
  * many events the bus queues have dropped. */
object BenchBus {

  /** true once every event posted so far has reached its listeners */
  def drained(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(math.max(timeoutMs, 1L)); true }
    catch { case _: TimeoutException => false }

  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
