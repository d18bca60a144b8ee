package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * Binary line morphology over full (r, c, b/v) grids — LineThinning
 * and ThickenRasterLine (ImageProcessingTools/LineThinning.java;
 * Scripts/ThickenRasterLine.groovy). Unlike the NoData absent-row
 * rasters elsewhere, these operate on a DENSE mask: background cells
 * carry 0 and only off-grid reads are NoData (they fail every
 * pattern, the reference's `noData != val` behaviour).
 *
 * Parallel-execution contract: the reference mutates the raster
 * in row-major scan order, so later cells in one pass see earlier
 * edits (Gauss-Seidel). A distributed engine cannot reproduce a scan
 * order, so the contract here is the standard parallel-thinning
 * formulation: each of the 8 structuring elements runs as its own
 * synchronous (Jacobi) sub-pass — all matches against the current
 * snapshot clear simultaneously — and a pass is the fixed sequence
 * of the 8 sub-passes. The result is a deterministic thinned
 * skeleton independent of partitioning; it can differ from the
 * reference's scan-order skeleton at individual cells, which is why
 * the DuckDB oracle mirrors the identical sub-pass semantics.
 */
object Morphology {

  /** LineThinning.java element table: neighbour indices in the tool's
    * own order dX = {1,1,1,0,-1,-1,-1,0}, dY = {-1,0,1,1,1,0,-1,-1}
    * (0 = NE, 1 = E, ... clockwise), with the required 0/1 values. */
  private[graft] val thinDX = Array(1, 1, 1, 0, -1, -1, -1, 0)
  private[graft] val thinDY = Array(-1, 0, 1, 1, 1, 0, -1, -1)
  private[graft] val thinElements: Seq[Seq[(Int, Int)]] = Seq(
    Seq(6 -> 0, 7 -> 0, 0 -> 0, 4 -> 1, 3 -> 1, 2 -> 1),
    Seq(7 -> 0, 0 -> 0, 1 -> 0, 3 -> 1, 5 -> 1),
    Seq(0 -> 0, 1 -> 0, 2 -> 0, 4 -> 1, 5 -> 1, 6 -> 1),
    Seq(1 -> 0, 2 -> 0, 3 -> 0, 5 -> 1, 7 -> 1),
    Seq(2 -> 0, 3 -> 0, 4 -> 0, 6 -> 1, 7 -> 1, 0 -> 1),
    Seq(3 -> 0, 4 -> 0, 5 -> 0, 7 -> 1, 1 -> 1),
    Seq(4 -> 0, 5 -> 0, 6 -> 0, 0 -> 1, 1 -> 1, 2 -> 1),
    Seq(5 -> 0, 6 -> 0, 7 -> 0, 1 -> 1, 3 -> 1))

  /**
   * LineThinning (LineThinning.java, do-while over the 8 elements):
   * `passes` fixed passes of the 8 element sub-passes over a dense
   * 0/1 mask (r, c, b). Small grids run the identical sub-pass
   * schedule in one task; at scale each sub-pass is a self-join of
   * the mask with its needed neighbour offsets (one shuffle per
   * sub-pass, checkpointed per pass).
   */
  def lineThinning(mask: DataFrame, passes: Int, nRows: Long,
                   nCols: Long): DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    val n = nRows * nCols
    if (n <= Terrain.localFixpointMaxRows) {
      return mask.select(col("r"), col("c"), col("b").cast("long"))
        .as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
          val rows = it.toArray
          val w = nCols.toInt
          val b = Array.ofDim[Long](nRows.toInt * w)
          rows.foreach(t => b(t._1.toInt * w + t._2.toInt) = t._3)
          def rd(cur: Array[Long], r: Int, c: Int): Long =
            if (r < 0 || r >= nRows || c < 0 || c >= nCols) -1L
            else cur(r * w + c)
          var cur = b
          for (_ <- 1 to passes; a <- 0 until 8) {
            val nxt = cur.clone()
            var r = 0
            while (r < nRows) {
              var c = 0
              while (c < nCols) {
                if (cur(r * w + c) == 1L &&
                    thinElements(a).forall { case (j, v) =>
                      rd(cur, r + thinDY(j), c + thinDX(j)) == v.toLong
                    }) nxt(r * w + c) = 0L
                c += 1
              }
              r += 1
            }
            cur = nxt
          }
          val out = cur
          rows.iterator.map(t =>
            (t._1, t._2, out(t._1.toInt * w + t._2.toInt)))
        }.toDF("r", "c", "b")
    }
    var m = mask.select(col("r"), col("c"), col("b").cast("long").as("b"))
    for (p <- 1 to passes) {
      for (a <- 0 until 8) {
        val needed = thinElements(a)
        var j = m
        needed.foreach { case (idx, _) =>
          j = j.join(
            m.select((col("r") - thinDY(idx)).as("r"),
              (col("c") - thinDX(idx)).as("c"),
              col("b").as(s"nb$idx")), Seq("r", "c"), "left")
        }
        val cond = needed.map { case (idx, v) =>
          col(s"nb$idx") === v.toLong
        }.reduce(_ && _)
        m = j.select(col("r"), col("c"),
          when(col("b") === 1L && cond, 0L).otherwise(col("b")).as("b"))
      }
      m = Checkpoint(m)
    }
    m
  }

  /**
   * ThickenRasterLine (Scripts/ThickenRasterLine.groovy): a
   * background cell adjacent to two line cells that form a diagonal
   * step (N1 and N3 on, the between-diagonal N2 off) is filled with
   * N1's value, trying the four rotations in order. The reference
   * reads its own partially-written output in scan order; the
   * engine contract is ONE synchronous pass over the input snapshot
   * (order-free, partition-invariant), mirrored by the oracle.
   * Input: dense (r, c, v) with 0 = background.
   */
  def thickenLines(grid: DataFrame): DataFrame = {
    val n1 = Array((-1, 0), (0, 1), (1, 0), (0, -1))
    val n2 = Array((-1, 1), (1, 1), (1, -1), (-1, -1))
    val n3 = Array((0, 1), (1, 0), (0, -1), (-1, 0))
    var j = grid.select(col("r"), col("c"), col("v"))
    def add(nm: String, dy: Int, dx: Int): Unit =
      j = j.join(grid.select((col("r") - dy).as("r"),
        (col("c") - dx).as("c"), col("v").as(nm)), Seq("r", "c"), "left")
    (0 until 4).foreach { i =>
      add(s"a$i", n1(i)._1, n1(i)._2)
      add(s"b$i", n2(i)._1, n2(i)._2)
      add(s"d$i", n3(i)._1, n3(i)._2)
    }
    val fill = (0 until 4).foldRight(lit(0.0)) { (i, rest) =>
      when(col(s"a$i") > 0 && col(s"d$i") > 0 &&
        (col(s"b$i").isNull || col(s"b$i") === 0.0), col(s"a$i"))
        .otherwise(rest)
    }
    j.select(col("r"), col("c"),
      when(col("v") === 0.0, fill).otherwise(col("v")).as("v"))
  }
}
