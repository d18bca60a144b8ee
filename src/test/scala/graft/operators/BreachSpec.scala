package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the two sequential depression tools
  * with no SQL-expressible oracle: BreachDepressions' least-cost
  * carve (BreachDepressions.java:309-510 semantics) and FloodOrder's
  * priority-flood visitation order (FloodOrder.groovy:118-210). */
class BreachSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dir = "/root/testdata/sf0.001"

  /** 5x7 DEM: pit z=1.0 at (2,2); outlet z=0.5 at (2,5) behind a
    * 5.0/5.0 barrier at (2,3),(2,4); everything else 9.0. max|z|=9
    * -> aSmall=1e-5. The unique least-cost path runs straight east;
    * carving lowers the barrier to 1.0-1e-5 and 1.0-2e-5. */
  test("breachDepressions carves the hand-computed channel") {
    import spark.implicits._
    val cells = for (r <- 0 until 5; c <- 0 until 7) yield {
      val v =
        if (r == 2 && c == 2) 1.0
        else if (r == 2 && c == 5) 0.5
        else if (r == 2 && (c == 3 || c == 4)) 5.0
        else 9.0
      (r.toLong, c.toLong, v)
    }
    val grid = cells.toDF("r", "c", "v")
    val out = Terrain.breachDepressions(grid, 5, 7, maxDist = 3)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    // aSmall carries the reference's FLOAT literal widened to double
    // ((double) 0.00001F = 9.999999747378752e-06)
    val aSmall = 0.00001f.toDouble
    assert(out((2L, 3L)) === 1.0 - aSmall)
    assert(out((2L, 4L)) === (1.0 - aSmall) - aSmall)
    assert(out((2L, 5L)) === 0.5)     // already below the channel
    assert(out((2L, 2L)) === 1.0)     // the pit itself is untouched
    assert(out((1L, 3L)) === 9.0)     // off-path cells unchanged
    // nothing ever rises
    val in = cells.map { case (r, c, v) => ((r, c), v) }.toMap
    in.foreach { case (k, v) => assert(out(k) <= v) }
  }

  /** Same DEM with a maxCost below the 5.0-barrier's cost (~4): the
    * only path to the outlet crosses a barrier cell, so the pit is
    * left uncarved (BreachDepressions.java:461-484 numUnsolvedCells
    * arm); a maxCost above it carves exactly like "not specified". */
  test("breachDepressions maxCost arm: barrier blocks the carve") {
    import spark.implicits._
    val cells = for (r <- 0 until 5; c <- 0 until 7) yield {
      val v =
        if (r == 2 && c == 2) 1.0
        else if (r == 2 && c == 5) 0.5
        else if (r == 2 && (c == 3 || c == 4)) 5.0
        else 9.0
      (r.toLong, c.toLong, v)
    }
    val grid = cells.toDF("r", "c", "v")
    val blocked = Terrain
      .breachDepressions(grid, 5, 7, maxDist = 3, maxCost = 2.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    cells.foreach { case (r, c, v) =>
      assert(blocked((r, c)) === v, s"no cell may change at ($r,$c)") }
    val open = Terrain
      .breachDepressions(grid, 5, 7, maxDist = 3, maxCost = 50.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    val aSmall = 0.00001f.toDouble
    assert(open((2L, 3L)) === 1.0 - aSmall)
    assert(open((2L, 4L)) === (1.0 - aSmall) - aSmall)
  }

  test("breachDepressions on the part grid is monotone and deterministic") {
    val grid = Derived.partGrid(spark, dir)
    val a = Terrain.breachDepressions(grid, 40, 50)
    val joined = a.join(grid, Seq("r", "c"))
      .where(col("breached") > col("v")).count()
    assert(joined === 0, "carving must never raise a cell")
    val b = Terrain.breachDepressions(grid, 40, 50)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  /** 1x5 strip [3,1,2,0,4]: seeds = edge pits (0,1)z=1 and (0,3)z=0;
    * pops in (z,row,col) order give flood orders [3,1,2,0,4]. */
  test("floodOrder matches the hand-computed pop sequence") {
    import spark.implicits._
    val grid = Seq(3.0, 1.0, 2.0, 0.0, 4.0).zipWithIndex
      .map { case (v, c) => (0L, c.toLong, v) }.toDF("r", "c", "v")
    val out = Terrain.floodOrder(grid).collect()
      .map(x => (x.getLong(1), x.getLong(2))).toMap
    assert(out === Map(0L -> 3L, 1L -> 1L, 2L -> 2L, 3L -> 0L, 4L -> 4L))
  }

  test("floodOrder on the part grid is a permutation of 0..n-1") {
    val grid = Derived.partGrid(spark, dir)
    val n = grid.count()
    val orders = Terrain.floodOrder(grid).select("flood_order")
      .collect().map(_.getLong(0)).sorted
    // every present cell visited exactly once (the sf0.001 grid has
    // holes, so every region touches an absent edge and floods)
    assert(orders.toSeq === (0L until n))
  }

  test("floodOrder and breachDepressions fail above localFixpointMaxRows") {
    val grid = Derived.partGrid(spark, dir)
    val saved = Terrain.localFixpointMaxRows
    Terrain.localFixpointMaxRows = 10
    try {
      val runs = Seq[() => Any](
        () => Terrain.floodOrder(grid).count(),
        () => Terrain.breachDepressions(grid, 40, 50).count())
      runs.foreach { run =>
        val e = intercept[Exception](run())
        assert(e.getMessage.contains("grid exceeds localFixpointMaxRows=10"),
          e.getMessage)
      }
    } finally Terrain.localFixpointMaxRows = saved
  }
}
