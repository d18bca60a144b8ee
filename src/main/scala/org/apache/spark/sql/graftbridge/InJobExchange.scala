package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
  SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution,
  ShuffledRowRDD, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.StructType

/**
 * Shuffles that run inside the job of whoever consumes them. With
 * adaptive execution on, the planner makes every `Exchange` of a query
 * a query stage, runs its map side as a job of its own and re-plans on
 * the driver before going on; so a frame built with `repartition` costs
 * a job before the job that reads it. Here an exchange is an RDD: the
 * `ShuffleDependency` that `ShuffleExchangeExec` would build, read by a
 * `ShuffledRowRDD`, whose map side the scheduler runs as a stage of the
 * consuming job. An input's plan is compiled without adaptive
 * execution, so its own shuffles become stages of that job too, and
 * building an exchange starts no job and no SQL execution. Spark's
 * helpers for this are `private[sql]`, hence the package.
 */
object InJobExchange {

  private def plan(ds: Dataset[_]): SparkPlan = {
    val cds = ds.asInstanceOf[classic.Dataset[_]]
    QueryExecution.prepareExecutedPlan(cds.sparkSession,
      cds.queryExecution.optimizedPlan)
  }

  /** The rows of `ds`, read in the job that consumes them. Unlike
    * `Dataset.rdd` this starts no SQL execution. */
  def rows(ds: Dataset[_]): RDD[InternalRow] = plan(ds).execute()

  /** The objects of `ds`, decoded from its [[rows]]. */
  def objects[T: ClassTag](ds: Dataset[T]): RDD[T] = {
    val p = plan(ds)
    val enc = ds.asInstanceOf[classic.Dataset[T]].exprEnc
      .resolveAndBind(p.output)
    p.execute().mapPartitions { it =>
      val decode = enc.createDeserializer()
      it.map(decode)
    }
  }

  /** `rows`, `UnsafeRow`s of `schema`, shuffled over `n` partitions:
    * each row goes where `repartition(n, keys)` puts it, the partition
    * pmod(murmur3(keys), n). */
  def exchange(rows: RDD[InternalRow], schema: StructType, keys: Seq[String],
               n: Int): RDD[InternalRow] = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val partitioning = HashPartitioning(keys.map(k =>
      attrs.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"no key $k in $schema"))), n)
    val sc = rows.sparkContext
    val dependency = ShuffleExchangeExec.prepareShuffleDependency(rows, attrs,
      partitioning, new UnsafeRowSerializer(attrs.length),
      SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc))
    new ShuffledRowRDD(dependency,
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc))
  }

  /** `rdd`, rows of `schema`, as a frame. Its statistics are the
    * planner's estimate of `input`'s row count, at `schema`'s row
    * width, so that arm and broadcast choices downstream see the size
    * they would see without the exchange; reading them starts no job.
    * A one-partition `rdd` is declared as such, so that an aggregate
    * over the whole frame plans no exchange (which adaptive execution
    * would run as a job of its own). */
  def frame(rdd: RDD[InternalRow], schema: StructType,
            input: Dataset[_]): DataFrame = {
    val cds = input.asInstanceOf[classic.Dataset[_]]
    val in = cds.queryExecution.optimizedPlan
    val rowCount = in.stats.rowCount.getOrElse(
      in.stats.sizeInBytes / EstimationUtils.getSizePerRow(in.output))
    val output = DataTypeUtils.toAttributes(schema)
    val partitioning =
      if (rdd.getNumPartitions == 1) SinglePartition else UnknownPartitioning(0)
    val relation = LogicalRDD(output, rdd, partitioning)(cds.sparkSession,
      Some(Statistics(sizeInBytes = (rowCount *
        EstimationUtils.getSizePerRow(output)).max(1),
        rowCount = in.stats.rowCount)), None)
    classic.Dataset.ofRows(cds.sparkSession, relation)
  }
}
