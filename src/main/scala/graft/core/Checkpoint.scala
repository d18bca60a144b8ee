package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeMap, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.FootedRelation
import org.apache.spark.sql.types.{IntegerType, LongType}

/**
 * The engine's one eager checkpoint: a footed checkpoint. It truncates
 * the lineage like `localCheckpoint(eager = true)` and costs the same
 * job, whose tasks also report what they saw: the row count, the
 * `UnsafeRow` bytes, and the min and max of every int and long column
 * (nulls skipped). Those become the checkpoint's statistics, so
 * `optimizedPlan.stats` on it is exact, and an operator that picks an
 * arm by row count or sizes tiles by extent reads [[rows]] and
 * [[range]] instead of running a count or min/max job.
 */
object Checkpoint {

  /** What one partition's task reports. Per summarized column, `seen`
    * is false when the partition holds no non-null value. */
  private final case class Foot(rows: Long, bytes: Long, min: Array[Long],
                                max: Array[Long], seen: Array[Boolean])

  /** `ds` materialized, with exact statistics. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val types = ds.schema.fields.map(_.dataType)
    val cols = types.indices
      .filter(i => types(i) == IntegerType || types(i) == LongType).toArray
    val isLong = cols.map(types(_) == LongType)
    FootedRelation.checkpoint(ds)(foot(_, cols, isLong)) { (output, feet) =>
      val colStats = cols.indices.flatMap { k =>
        val seen = feet.filter(_.seen(k))
        if (seen.isEmpty) None
        else {
          def typed(v: Long): Any = if (isLong(k)) v else v.toInt
          Some(output(cols(k)) -> ColumnStat(
            min = Some(typed(seen.map(_.min(k)).min)),
            max = Some(typed(seen.map(_.max(k)).max))))
        }
      }
      Statistics(sizeInBytes = BigInt(math.max(feet.map(_.bytes).sum, 1L)),
        rowCount = Some(BigInt(feet.map(_.rows).sum)),
        attributeStats = AttributeMap(colStats))
    }
  }

  /** Rows of the footed checkpoint `ds`, read without a job. */
  def rows(ds: Dataset[_]): Long =
    relation(ds).stats.rowCount.get.toLong

  /** Min and max of the int or long `column` of the footed checkpoint
    * `ds`, read without a job; None when it holds no non-null value. */
  def range(ds: Dataset[_], column: String): Option[(Long, Long)] = {
    val lr = relation(ds)
    val attr = lr.output.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column in ${lr.output}"))
    require(attr.dataType == IntegerType || attr.dataType == LongType,
      s"$column is ${attr.dataType}; only int and long columns have a range")
    lr.stats.attributeStats.get(attr).map { s =>
      def long(v: Option[Any]) = v.get match {
        case i: Int => i.toLong
        case l: Long => l
      }
      (long(s.min), long(s.max))
    }
  }

  /** Id of the persisted RDD that holds the footed checkpoint `ds`. */
  def rddId(ds: Dataset[_]): Int = relation(ds).rdd.id

  private def relation(ds: Dataset[_]): LogicalRDD =
    FootedRelation.relation(ds).getOrElse(throw new IllegalArgumentException(
      "not a footed checkpoint (make it with graft.core.Checkpoint): " +
        ds.queryExecution.analyzed.nodeName))

  private def foot(it: Iterator[InternalRow], cols: Array[Int],
                   isLong: Array[Boolean]): Foot = {
    val n = cols.length
    val min = Array.fill(n)(Long.MaxValue)
    val max = Array.fill(n)(Long.MinValue)
    val seen = new Array[Boolean](n)
    var rows = 0L
    var bytes = 0L
    while (it.hasNext) {
      val row = it.next()
      rows += 1
      bytes += (row match {
        case u: UnsafeRow => u.getSizeInBytes
        case r => 8L * r.numFields // fixed-width part only
      })
      var k = 0
      while (k < n) {
        val i = cols(k)
        if (!row.isNullAt(i)) {
          val v = if (isLong(k)) row.getLong(i) else row.getInt(i).toLong
          if (v < min(k)) min(k) = v
          if (v > max(k)) max(k) = v
          seen(k) = true
        }
        k += 1
      }
    }
    Foot(rows, bytes, min, max, seen)
  }
}
