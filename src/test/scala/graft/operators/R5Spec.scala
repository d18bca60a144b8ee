package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixtures for the r5 additions: azimuth-general ray-walk tools
  * (HorizonAngle / FetchAnalysis / DirectionalRelief), the MDInf
  * stream-side and stream-heads tools, and the wind-flux horizon
  * arm. */
class R5Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dir = "/root/testdata/sf0.001"

  private def flat(n: Int, z: Double = 10.0) = {
    import spark.implicits._
    (for (r <- 0 until n; c <- 0 until n)
      yield (r.toLong, c.toLong, z)).toDF("r", "c", "v")
  }

  test("horizonAngle: flat grid is 0 everywhere; east wall subtends atan(h/d)") {
    import spark.implicits._
    val f = Terrain.horizonAngle(flat(8), 8, 8, azimuthDeg = 90.0)
      .collect()
    assert(f.forall(_.getDouble(2) == 0.0), "flat: angle 0")

    // wall of height +90 at c = 6; a cell at (4, 2) sees slope 90/4
    val wall = (for (r <- 0 until 8; c <- 0 until 8)
      yield (r.toLong, c.toLong, if (c == 6) 100.0 else 10.0))
      .toDF("r", "c", "v")
    val w = Terrain.horizonAngle(wall, 8, 8, azimuthDeg = 90.0)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    val expect = math.toDegrees(math.atan(90.0 / 4.0))
    assert(math.abs(w((4L, 2L)) - expect) < 1e-6,
      s"wall angle ${w((4L, 2L))} vs $expect")
    // cells east of the wall see flat ground -> 0
    assert(w((4L, 7L)) == 0.0)
  }

  test("horizonAngle maxDist: the walk ends at the last step within maxDist") {
    import spark.implicits._
    // wall of height +90 at c = 6, 4 cells east of (4, 2)
    val wall = (for (r <- 0 until 8; c <- 0 until 8)
      yield (r.toLong, c.toLong, if (c == 6) 100.0 else 10.0))
      .toDF("r", "c", "v")
    def at42(maxDist: Double) =
      Terrain.horizonAngle(wall, 8, 8, azimuthDeg = 90.0, maxDist = maxDist)
        .where(col("r") === 4 && col("c") === 2).head().getDouble(2)
    val seen = math.toDegrees(math.atan(90.0 / 4.0))
    assert(math.abs(at42(4.0) - seen) < 1e-6)
    assert(math.abs(at42(4.5) - seen) < 1e-6)
    assert(at42(3.5) == 0.0)
    assert(at42(0.0) == 0.0)
  }

  test("fetchAnalysis: flat grid is -walk-length; barrier gives +distance") {
    import spark.implicits._
    // due east, flat: no sample ever rises 0.05/unit above the cell,
    // so fetch = -(distance to the last in-grid sample)
    val f = Terrain.fetchAnalysis(flat(8), 8, 8, azimuthDeg = 90.0,
        heightIncrement = 0.05)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    assert(f((4L, 0L)) == -7.0, s"got ${f((4L, 0L))}")
    assert(f((4L, 5L)) == -2.0)
    // wall at c = 6 high enough to trigger at distance 4
    val wall = (for (r <- 0 until 8; c <- 0 until 8)
      yield (r.toLong, c.toLong, if (c == 6) 100.0 else 10.0))
      .toDF("r", "c", "v")
    val w = Terrain.fetchAnalysis(wall, 8, 8, azimuthDeg = 90.0,
        heightIncrement = 0.05)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
      .toMap
    assert(w((4L, 2L)) == 4.0, s"got ${w((4L, 2L))}")
  }

  test("directionalRelief: flat grid is 0; azimuth-215 run is deterministic") {
    val f = Terrain.directionalRelief(flat(8), 8, 8, azimuthDeg = 90.0)
      .collect()
    assert(f.forall(_.getDouble(2) == 0.0))
    val g = Derived.partGrid(spark, dir)
    val a = Terrain.directionalRelief(g, 40, 50, 215.0)
    val b = Terrain.directionalRelief(g, 40, 50, 215.0)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("streamHeadsMdinf: heads are a nonempty subset of stream cells, none D8-fed") {
    val g = Derived.partGrid(spark, dir)
    val heads = Terrain.streamHeadsMdinf(g, caThr = 5.0)
    val n = heads.where(col("head") === 1).count()
    assert(n > 0, "the part grid must yield some stream heads")
    // determinism
    val again = Terrain.streamHeadsMdinf(g, caThr = 5.0)
    assert(heads.exceptAll(again).count() == 0)
  }

  test("sideMdinf: total = right + left; non-stream cells are 0") {
    val g = Derived.partGrid(spark, dir)
    val accum = Terrain.mdinfAccum(g, 1.0, 24)
    val streams = accum.where(col("acc") > 5.0).select("r", "c")
    val s = Terrain.sideMdinf(g, accum, streams, caThr = 5.0)
      .collect()
    assert(s.exists(_.getDouble(2) != 0.0), "some stream cells")
    s.foreach { x =>
      val (t, rr, ll) = (x.getDouble(2), x.getDouble(3), x.getDouble(4))
      // each of the three outputs rounds to 6 decimals independently,
      // so the identity holds to two rounding steps
      assert(math.abs(t - (rr + ll)) < 2e-6,
        s"total $t != right $rr + left $ll")
    }
  }

  test("wind-flux horizon arm reduces toward the no-horizon arm when HA = 0") {
    import spark.implicits._
    // flat grid: horizon angle 0 everywhere, slope 0 -> exposure =
    // cos(0)*sin(0) + sin(0)*... = 0
    val e = Terrain.exposureTowardsWindFluxHorizon(flat(8), 215.0, 8, 8)
      .collect()
    assert(e.forall(x => math.abs(x.getDouble(2)) < 1e-9))
  }
}
