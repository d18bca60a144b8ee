package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.operators.Terrain

/**
 * `dem_flow`: `Terrain.d8Pointer` plus `Terrain.flowAccumD8` on a seeded
 * DEM, through the distributed tiled-packet arm.
 *
 * The engine picks that arm for grids above `localFixpointMaxRows`
 * (4 M cells by default), where one pass takes minutes. The benchmark
 * lowers the switch, as the engine's own fixpoint tests do, so that a
 * [[Side]]² grid takes the same arm within a few seconds.
 *
 * Both operators are memoized per input plan, so every pass, and the
 * warm-up, gets its own DEM (same size and relief, another noise seed):
 * no pass can be served by an earlier pass's memo entry.
 */
final class DemFlow extends Workload {
  import DemFlow._

  override val nominalPassS = 3.5

  private var dem: DataFrame = _
  private var accum: DataFrame = _
  private val problems = Seq.newBuilder[String]

  override def setup(ctx: Ctx): Unit = {
    Terrain.localFixpointMaxRows = DistributedAbove
    // warm-up: one whole pass on a DEM of its own, untimed
    prepare(ctx, -1)
    runOnce(new Spans(ctx.tallies, enabled = false))
    accum = null
    Main.reap(ctx.spark, Set.empty)
    prepare(ctx, 0)
  }

  /** Materialize pass `i`'s DEM (untimed). */
  private def prepare(ctx: Ctx, i: Int): Unit =
    dem = Dem.frame(ctx.spark, ctx.seed, i, Side).localCheckpoint(true)

  private def runOnce(span: Spans): Unit = {
    span("operators.d8Pointer")(Terrain.d8Pointer(dem))
    accum = span("operators.flowAccumD8")(Terrain.flowAccumD8(dem))
  }

  override def pass(ctx: Ctx, i: Int): PassOutcome = {
    val t0 = System.nanoTime()
    runOnce(ctx.spans)
    PassOutcome(1, 0, (System.nanoTime() - t0) / 1e9)
  }

  override def afterPass(ctx: Ctx, i: Int): Unit = {
    verify(ctx, i)
    // free this pass's DEM and results (memo entries of later passes
    // evict older ones); the next pass reads a DEM of its own
    Main.reap(ctx.spark, Set.empty)
    prepare(ctx, i + 1)
  }

  /** Accumulation of every cell against the plain-Scala D8 recomputation. */
  private def verify(ctx: Ctx, i: Int): Unit = if (accum != null) {
    val z = Dem.values(ctx.seed, i, Side)
    val got = accum.collect().toSeq.map(r =>
      (r.getAs[Long]("r"), r.getAs[Long]("c"), r.getAs[Long]("n_upslope")))
    problems ++= Checks.flowAccum(z, Side, Side, got).map(p => s"pass $i: $p")
    accum = null
  }

  override def check(ctx: Ctx): Seq[String] = problems.result()

  override def layers(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spans
    Map(
      "operators.d8Pointer.s" -> s.median("operators.d8Pointer")(_.seconds),
      "operators.flowAccumD8.s" -> s.median("operators.flowAccumD8")(_.seconds),
      "operators.flowAccumD8.jobs" ->
        s.median("operators.flowAccumD8")(_.tally.jobs.toDouble),
      "operators.flowAccumD8.shuffle_mb" ->
        s.median("operators.flowAccumD8")(_.tally.shuffleWriteBytes / 1e6))
  }
}

object DemFlow {
  /** Grid side: the DEM has Side² cells. */
  val Side = 256
  /** Cell count above which the fixpoints take their distributed arm. */
  val DistributedAbove = 10000L
}

/**
 * The seeded DEM: a gently tilted surface with three sinusoidal ridge
 * systems, whose basins send flowpaths across several 16-cell tiles,
 * plus seeded hash noise that breaks every slope tie. The relief is the
 * same for every seed, so the number of packet rounds (and of Spark
 * jobs) barely moves with the seed; the noise is too small to reroute
 * the main flowpaths. Pure function of (seed, pass, r, c), so the check
 * recomputes the elevations without reading them back.
 */
object Dem {
  val NoiseAmplitude = 0.05

  def value(seed: Long, pass: Int, side: Int, r: Int, c: Int): Double = {
    val x = c.toDouble / side
    val y = r.toDouble / side
    val relief = 40.0 * math.sin(8 * math.Pi * x + 0.7) * math.cos(9 * math.Pi * y + 1.9) +
      25.0 * math.sin(3 * math.Pi * (x + y) + 2.6) + 10.0 * (x + 0.5 * y)
    var h = (seed * 1000003L + pass) * 6364136223846793005L + r * 1442695040888963407L + c
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    relief + ((h >>> 11).toDouble / (1L << 53)) * NoiseAmplitude
  }

  def values(seed: Long, pass: Int, side: Int): Array[Double] =
    Array.tabulate(side * side)(k => value(seed, pass, side, k / side, k % side))

  def frame(spark: org.apache.spark.sql.SparkSession, seed: Long, pass: Int,
            side: Int): DataFrame = {
    import spark.implicits._
    spark.range(side.toLong * side).map { k =>
      val r = (k / side).toInt
      val c = (k % side).toInt
      (r.toLong, c.toLong, value(seed, pass, side, r, c))
    }.toDF("r", "c", "v")
  }
}
