package org.apache.spark.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block runs. Listener events arrive
  * asynchronously; the bus drain that makes the count exact
  * (`listenerBus.waitUntilEmpty`) is private[spark], hence this shim's
  * package. */
object JobCounter {
  def jobsOf[A](sc: SparkContext)(body: => A): (A, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

/** The number of listeners on a SparkContext's bus (`listenerBus` is
  * private[spark]). */
object ListenerBus {
  def size(sc: SparkContext): Int = sc.listenerBus.listeners.size()
}
