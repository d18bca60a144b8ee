package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The physical plans of the SQL executions that `body` starts, each as
  * Spark reports it when the execution starts: for an adaptive query,
  * its initial plan, before any stage runs. Eager checkpoints taken
  * while a DataFrame is built are executions too. Lives in Spark's
  * package to drain the listener bus, as [[JobCount]] does. */
object SqlStarts {
  def apply(sc: SparkContext)(body: => Unit): Seq[SparkPlanInfo] = {
    sc.listenerBus.waitUntilEmpty()
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      plans.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
