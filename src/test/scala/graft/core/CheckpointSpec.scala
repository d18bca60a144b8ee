package graft.core

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TestSpark

/** A footed checkpoint materializes a frame in the one job a
  * `localCheckpoint(eager = true)` costs, and its statistics (row
  * count, int/long column ranges) are exact and read without a job. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withNulls = Seq[(Option[Int], Option[Long], String)](
    (Some(3), None, "a"), (None, Some(-7L), "b"), (Some(-2), Some(40L), "c"),
    (None, None, "d"), (Some(11), Some(5L), null))
    .toDF("i", "l", "s").repartition(3)

  /** The ranges an aggregate job gives, None where no value is non-null. */
  private def aggRange(df: DataFrame, c: String): Option[(Long, Long)] = {
    val r = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  test("rows equals count() on shuffled, plain and empty frames") {
    val frames = Seq(
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 13).as("k")).count(),
      spark.range(0, 777, 1, 3).toDF("id"),
      withNulls,
      spark.range(0, 50).where(col("id") < 0))
    frames.foreach { df =>
      assert(Checkpoint.rows(Checkpoint(df)) === df.count())
    }
  }

  test("min and max equal an aggregate on int, long, null and empty columns") {
    val cp = Checkpoint(withNulls)
    Seq("i", "l").foreach(c => assert(Checkpoint.range(cp, c) === aggRange(withNulls, c), c))
    assert(Checkpoint.range(cp, "i") === Some((-2L, 11L)))
    assert(Checkpoint.range(cp, "l") === Some((-7L, 40L)))
    val allNull = withNulls.where(col("s") === "d")
    Seq("i", "l").foreach(c => assert(Checkpoint.range(Checkpoint(allNull), c) === None, c))
    val empty = withNulls.where(col("i") > 100)
    val ecp = Checkpoint(empty)
    assert(Checkpoint.rows(ecp) === 0L)
    Seq("i", "l").foreach(c => assert(Checkpoint.range(ecp, c) === aggRange(empty, c), c))
    intercept[IllegalArgumentException](Checkpoint.range(cp, "s"))
  }

  test("the optimizer's row count on a checkpoint is exact") {
    val df = spark.range(0, 1234, 1, 4).where(col("id") % 3 === 0)
    val cp = Checkpoint(df)
    assert(cp.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(df.count())))
    assert(cp.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
  }

  test("the checkpoint truncates the lineage and keeps the rows") {
    val df = spark.range(0, 100, 1, 4)
      .join(spark.range(0, 100, 1, 2).toDF("id2"), col("id") === col("id2"))
      .select(col("id"), (col("id2") * 2).as("twice"))
    val cp = Checkpoint(df)
    assert(cp.queryExecution.optimizedPlan.children.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs(Checkpoint.rddId(cp)).isCheckpointed)
    assert(cp.collect().toSet === df.collect().toSet)
  }

  test("a shuffle-free frame costs one job; reading its statistics costs none") {
    val df = spark.range(0, 5000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
    var cp: DataFrame = null
    assert(JobCount(spark.sparkContext) { cp = Checkpoint(df) } === 1)
    assert(JobCount(spark.sparkContext) {
      assert(Checkpoint.rows(cp) === 5000L)
      assert(Checkpoint.range(cp, "k") === Some((0L, 6L)))
    } === 0)
  }

  test("rows refuses a frame that is not a footed checkpoint") {
    val df = spark.range(0, 10).toDF("id")
    intercept[IllegalArgumentException](Checkpoint.rows(df))
    intercept[IllegalArgumentException](Checkpoint.rows(df.localCheckpoint(true)))
    intercept[IllegalArgumentException](
      Checkpoint.rows(Checkpoint(df).select(col("id") + 1)))
  }
}
