package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the one listener-bus fact Spark keeps package-private:
  * waiting until every posted event has reached its listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)

  /** the Spark jobs `body` starts, counted by a listener on the job group
    * `group`; exact, because the bus is drained before the count is read */
  def jobsIn(sc: SparkContext, group: String)(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
