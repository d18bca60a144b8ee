package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The block gather behind `Terrain.gatherNeighbors` against a plain
  * Scala gather: every cell (and, with `reflect`, its mirror copies
  * across the grid edge) is a source at its position, the largest
  * value wins where sources share a position (Spark's max order: NaN
  * above everything, -0.0 equal to 0.0), and each in-grid position
  * with a value gets one row with its 8 neighbours. */
class GatherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val far = Long.MaxValue / 4
  private val B = Blocks.Side

  private def mirrors(x: Long, reflect: Boolean, n: Long): Seq[Long] =
    if (!reflect) Seq(x)
    else Seq(x) ++ (if (x < 1) Seq(-x - 1) else Nil) ++
      (if (x >= n - 1) Seq(2 * n - x - 1) else Nil)

  /** Per target, its value then n0..n7, each as the bit patterns of
    * every value that ties for the max there (one, unless -0.0 and 0.0
    * share a position); empty when nothing resolves. */
  private def reference(cells: Seq[(Long, Long, Option[Double])],
                        reflect: Boolean, nRows: Long, nCols: Long)
      : Map[(Long, Long), Seq[Set[Long]]] = {
    val sources = for {
      (r, c, Some(v)) <- cells
      vr <- mirrors(r, reflect, nRows)
      vc <- mirrors(c, reflect, nCols)
    } yield ((vr, vc), v)
    val at = sources.groupMap(_._1)(_._2).map { case (k, vs) =>
      val top = vs.reduce((a, b) =>
        if (SQLOrderingUtil.compareDoubles(b, a) > 0) b else a)
      k -> vs.filter(SQLOrderingUtil.compareDoubles(_, top) == 0)
        .map(java.lang.Double.doubleToLongBits).toSet
    }
    at.collect { case ((r, c), v)
        if r >= 0 && r < nRows && c >= 0 && c < nCols =>
      (r, c) -> (v +: (0 until 8).map(i =>
        at.getOrElse((r + Terrain.dY(i), c + Terrain.dX(i)), Set.empty[Long])))
    }
  }

  private def check(cells: Seq[(Long, Long, Option[Double])],
                    reflect: Boolean = false, nRows: Long = far,
                    nCols: Long = far): Unit = {
    val got = Terrain.gatherNeighbors(cells.toDF("r", "c", "v"), reflect,
      nRows, nCols).collect()
    val want = reference(cells, reflect, nRows, nCols)
    assert(got.length === want.size, "one row per target")
    got.foreach { row =>
      val key = (row.getLong(0), row.getLong(1))
      val w = want.getOrElse(key, fail(s"unexpected target $key"))
      (0 until 9).foreach { k =>
        val g = if (row.isNullAt(2 + k)) None
                else Some(java.lang.Double.doubleToLongBits(row.getDouble(2 + k)))
        val ok = g match {
          case None => w(k).isEmpty
          case Some(bits) => w(k).contains(bits)
        }
        assert(ok, s"$key column ${if (k == 0) "v" else s"n${k - 1}"}: " +
          s"got ${g.map(java.lang.Double.longBitsToDouble)}, want " +
          w(k).map(java.lang.Double.longBitsToDouble))
      }
    }
  }

  /** A seeded nR x nC grid at (r0, c0) with about one cell in `holeEvery`
    * missing and one in 50 holding a null value. */
  private def seeded(nR: Int, nC: Int, seed: Long, r0: Long = 0L,
                     c0: Long = 0L, holeEvery: Int = 9) = {
    val rnd = new scala.util.Random(seed)
    for (r <- 0 until nR; c <- 0 until nC
         if rnd.nextInt(holeEvery) != 0) yield {
      val v = if (rnd.nextInt(50) == 0) None
              else Some(math.round(rnd.nextGaussian() * 400) / 4.0)
      (r0 + r, c0 + c, v)
    }
  }

  test("seeded grids with holes, across several blocks") {
    check(seeded(150, 170, seed = 1))
    check(seeded(150, 170, seed = 2), reflect = true, 150, 170)
  }

  test("1-wide strips") {
    val row = seeded(1, 300, seed = 3, holeEvery = 7)
    val column = seeded(300, 1, seed = 4, holeEvery = 7)
    check(row)
    check(row, reflect = true, 1, 300)
    check(column)
    check(column, reflect = true, 300, 1)
  }

  test("cells on block edges and corners") {
    val edges = Seq(0L, B - 1, B, 2 * B - 1, 2 * B)
    val cells = for (r <- edges; c <- edges; dr <- -1L to 1L; dc <- -1L to 1L
                     if r + dr >= 0 && c + dc >= 0 && (r + 2 * c + dr) % 3 != 0)
      yield (r + dr, c + dc, Some((r * 7 + c * 13 + dr * 3 + dc).toDouble))
    check(cells.distinct)
    check(cells.distinct, reflect = true, 2 * B + 1, 2 * B + 2)
  }

  test("grids offset to large r and c, and cells off the grid") {
    check(seeded(70, 90, seed = 5, r0 = 1000000000003L, c0 = 77777777777L))
    // negative positions are never targets but are read as neighbours
    check(seeded(80, 80, seed = 6, r0 = -40L, c0 = -B))
  }

  test("reflect on and off with nRows/nCols set, cells past the edges included") {
    val g = seeded(80, 90, seed = 7)
    for (reflect <- Seq(false, true); (nR, nC) <- Seq((80L, 90L), (70L, 66L), (1L, 2L)))
      check(g, reflect, nR, nC)
  }

  test("NaN, -0.0 and 0.0 values and duplicate positions") {
    val specials = Seq(Double.NaN, -0.0, 0.0, 1.5, Double.NegativeInfinity,
      Double.PositiveInfinity)
    val base = seeded(40, 70, seed = 8, r0 = B - 20)
    val rnd = new scala.util.Random(9)
    val cells = base.map { case (r, c, v) =>
      (r, c, if (rnd.nextInt(5) == 0) Some(specials(rnd.nextInt(specials.length))) else v)
    } ++ base.filter(_ => rnd.nextInt(4) == 0).map { case (r, c, _) =>
      (r, c, Some(specials(rnd.nextInt(specials.length))))
    } ++ base.take(30).map { case (r, c, v) => (r, c, v.map(_ - 1.0)) }
    check(cells)
    check(cells, reflect = true, B + 20, 70)
  }

  test("values and coordinates keep their types") {
    val big = (1L << 53) + 1
    val cells = for (r <- 0 until 3; c <- 0 until 70) yield (r, c, big + r * 70 + c)
    val out = Terrain.gatherNeighbors(cells.toDF("r", "c", "v"))
    assert(out.schema("r").dataType === IntegerType)
    assert(out.schema("n0").dataType === LongType)
    val byCell = out.collect().map(x => (x.getInt(0), x.getInt(1)) -> x).toMap
    val x = byCell((1, 64))
    assert(x.getLong(2) === big + 70 + 64)
    (0 until 8).foreach(i => assert(x.getLong(3 + i) ===
      big + (1 + Terrain.dY(i)) * 70 + 64 + Terrain.dX(i), s"n$i"))
  }

  /** The reference's D8 (FlowPointerD8.java:240-270) in plain Scala. */
  private def referenceD8(cells: Map[(Long, Long), Double]): Map[(Long, Long), Long] =
    cells.map { case ((r, c), v) =>
      var (best, ptr) = (0.0, 0L)
      for (i <- 0 until 8) cells.get((r + Terrain.dY(i), c + Terrain.dX(i))).foreach { n =>
        val s = (v - n) / (if (i % 2 == 0) math.sqrt(2.0) else 1.0)
        if (s > best) { best = s; ptr = 1L << i }
      }
      (r, c) -> ptr
    }

  test("d8Pointer equals the reference D8 where flowpaths cross block edges") {
    // a surface falling towards (0, 0) with ripples, so flowpaths run
    // across several block edges and corners
    val rnd = new scala.util.Random(10)
    val dem = (for (r <- 0L until 3 * B; c <- 0L until 2 * B + 9
                    if rnd.nextInt(31) != 0)
      yield (r, c) -> (r + 0.7 * c + 5 * math.sin(r / 7.0) * math.cos(c / 5.0) +
        rnd.nextDouble() * 0.01)).toMap
    val df: DataFrame = dem.toSeq.map { case ((r, c), v) => (r, c, v) }
      .toDF("r", "c", "v")
    val got = Terrain.d8Pointer(df).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val want = referenceD8(dem)
    assert(got === want)
    assert(want.count { case ((r, c), p) =>
      p != 0 && {
        val i = Integer.numberOfTrailingZeros(p.toInt)
        Blocks.of(r, c) != Blocks.of(r + Terrain.dY(i), c + Terrain.dX(i))
      }
    } > 100, "flowpaths crossing block edges")
  }
}
