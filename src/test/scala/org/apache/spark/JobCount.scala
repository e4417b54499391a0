package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs `body` starts on `sc`. The listener bus is drained
  * before and after `body`, so no earlier job leaks in and none of
  * `body`'s is missed; it lives in this package because
  * `SparkContext.listenerBus` is private to it. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
