package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Test access to the listener bus's drain (package-private to Spark):
  * the number of Spark jobs `body` started, counted by a listener after
  * every event posted before and during `body` has been delivered. */
object JobProbe {
  def jobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
