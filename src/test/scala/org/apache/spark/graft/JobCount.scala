package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs that start while a block runs. Listener events
  * arrive asynchronously, so the listener bus (private to the
  * `org.apache.spark` package) is drained before and after the block;
  * an undrained count can miss the block's last job. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
