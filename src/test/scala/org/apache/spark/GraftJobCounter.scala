package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only: the number of Spark jobs a block runs. The count is read
  * only after every posted job event has been delivered, and
  * `listenerBus.waitUntilEmpty` is `private[spark]`; the object lives in
  * the spark package for that access and exposes nothing else. */
object GraftJobCounter {
  def jobsRunBy[T](sc: SparkContext)(body: => T): (T, Int) = {
    // events of earlier work must not reach the new listener
    sc.listenerBus.waitUntilEmpty(60000L)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
