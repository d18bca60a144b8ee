package graft.operators

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Blocks.place`, the in-job block exchange: the rows and order of
  * `repartition(n, br, bc).sortWithinPartitions("br", "bc")`, with no
  * job to build it and the planner's size estimate kept. */
class PlaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 5 000 rows over three input partitions, many per block, blocks
    * negative and positive, a payload that tells the rows apart. */
  private def keyed: DataFrame = spark.range(0, 5000, 1, 3)
    .select(col("id"),
      (pmod(col("id") * 7919, lit(13)) - 6).as("br"),
      pmod(col("id") * 104729, lit(5)).as("bc"),
      (col("id") * 0.5).as("x"))

  private def partitions(df: DataFrame): Seq[Seq[Row]] =
    df.rdd.glom().collect().toSeq.map(_.toSeq)

  test("each partition holds the rows, in the order, that repartition and sortWithinPartitions give") {
    for (n <- Seq(1, 3, 4)) {
      val want = partitions(keyed.repartition(n, col("br"), col("bc"))
        .sortWithinPartitions("br", "bc"))
      val got = partitions(Blocks.place(keyed, n))
      assert(got.length === n)
      assert(got === want, s"n = $n")
      assert(got.flatten.length === 5000)
    }
  }

  test("a placed frame keeps its input's size estimate") {
    val est = SpatialJoins.estimatedRows(keyed)
    assert(est < BigInt(Long.MaxValue))
    assert(SpatialJoins.estimatedRows(Blocks.place(keyed, 3)) === est)
  }

  test("building a gather or a placement over a grid made by a groupBy starts 0 jobs") {
    val grid = spark.range(0, 4000, 1, 4)
      .select((col("id") % 50).as("r"),
        (col("id").divide(50).cast("long") % 70).as("c"),
        (col("id") * 37 % 101).cast("double").as("v"))
      .groupBy("r", "c").agg(max("v").as("v"))
    var gathered: DataFrame = null
    assert(JobCount(spark.sparkContext) {
      gathered = Terrain.gatherNeighbors(grid)
      Blocks.place(grid.select(col("r").as("br"), col("c").as("bc")), 4)
    } === 0)
    val want = Terrain.gatherNeighbors(grid.localCheckpoint(true)).collect()
    assert(gathered.collect().sortBy(x => (x.getLong(0), x.getLong(1))) ===
      want.sortBy(x => (x.getLong(0), x.getLong(1))))
  }
}
