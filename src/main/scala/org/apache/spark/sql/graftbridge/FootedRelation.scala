package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/**
 * The `LogicalRDD` half of `graft.core.Checkpoint`. `Dataset
 * .localCheckpoint(eager = true)` materializes a frame with one job
 * that counts every partition and drops the counts, and it labels the
 * result with the planner's estimate. Here the materializing job is
 * run by the caller's `foot`, one summary per partition, and the
 * summaries become the relation's `originStats`, so the optimizer
 * reads the frame's real statistics. Spark's helpers for this are
 * `private[sql]`, hence the package.
 */
object FootedRelation {

  /** RDDs backing footed relations; weak, so a freed checkpoint's entry
    * goes with it. */
  private val footed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], java.lang.Boolean])

  /** `ds` materialized as `localCheckpoint(eager = true)` does it
    * (`executedPlan.execute().map(_.copy()).localCheckpoint()`, under
    * the action's SQL execution id), with the one job run by `foot` on
    * each partition and `stats` building the statistics from the
    * relation's output and the partitions' summaries. The blocks the
    * job caches are the checkpoint, so no second job runs. */
  def checkpoint[T, F: ClassTag](ds: Dataset[T])(foot: Iterator[InternalRow] => F)
      (stats: (Seq[Attribute], Array[F]) => Statistics): Dataset[T] = {
    val cds = ds.asInstanceOf[classic.Dataset[T]]
    val qe = cds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val rdd = plan.execute().map(_.copy())
      rdd.localCheckpoint()
      val feet = rdd.sparkContext.runJob(rdd, foot)
      // runJob has checkpointed every partition it cached; this only
      // seals the lineage, with no job
      rdd.doCheckpoint()
      val lr = LogicalRDD.fromDataset(rdd, cds, cds.isStreaming)
      val relation = lr.copy()(cds.sparkSession,
        Some(stats(lr.output, feet)), Some(lr.constraints))
      footed.put(rdd, java.lang.Boolean.TRUE)
      new classic.Dataset[T](cds.sparkSession, relation, cds.encoder)
    }
  }

  /** The footed relation `ds` is, if it is one. */
  def relation(ds: Dataset[_]): Option[LogicalRDD] =
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD if footed.containsKey(lr.rdd) => Some(lr)
      case _ => None
    }
}
