package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs `body` submits: it runs under a job group of its
  * own, and a listener counts the job starts tagged with that group
  * once the (asynchronous) listener bus has delivered every event.
  * Lives in Spark's package because `listenerBus` is `private[spark]`. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val group = s"job-count-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(l)
    n.get
  }
}
