package graft.operators

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The size-adaptive fixpoints must produce BIT-IDENTICAL results on
  * both strategies: the one-task local kernel (small-relation path)
  * and the distributed rounds (the 100 TB path). Each test runs the
  * same operator with `localFixpointMaxRows` at its default (local
  * kernel) and forced to 0 (distributed), and compares exactly. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hashGrid(nR: Long, nC: Long) =
    (for (r <- 0L until nR; c <- 0L until nC)
      yield (r, c, ((r * nC + c) * 37 % 1000).toDouble / 10.0))
      .toDF("r", "c", "v")

  private def withMaxRows[T](maxRows: Long)(body: => T): T = {
    val saved = Terrain.localFixpointMaxRows
    Terrain.localFixpointMaxRows = maxRows
    try body finally Terrain.localFixpointMaxRows = saved
  }

  private def both(run: () => Map[(Long, Long), Any]): Unit = {
    val local = withMaxRows(Long.MaxValue)(run())
    val dist = withMaxRows(0L)(run())
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) =>
      assert(v == dist(k), s"cell $k: local=$v dist=${dist(k)}")
    }
  }

  /** Flow accumulation by cell. `flowAccumD8Impl` skips the memo,
    * which would serve a second arm on the same grid the first arm's
    * result. */
  private def flowAccum(g: DataFrame, tileSize: Int = 16) =
    Terrain.flowAccumD8Impl(g, tileSize).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap

  /** Upslope flowpath stats by cell: (max_len_nano, n_paths,
    * sum_len_nano). */
  private def upslopeStats(g: DataFrame) =
    Terrain.upslopeFlowpathStats(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap

  private def costPaths(cost: DataFrame, sources: DataFrame,
                        dests: DataFrame, nR: Long, nC: Long) =
    Terrain.costPathway(cost, sources.select("r", "c"),
      dests.select("r", "c"), nR, nC).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap

  private def assertSameAccum(got: Map[(Long, Long), Long],
                              want: Map[(Long, Long), Long],
                              what: String): Unit = {
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    if (bad.nonEmpty) fail(s"$what: ${bad.size} cells differ, e.g. " +
      bad.take(3).map(k => s"$k got ${got.get(k)} want ${want.get(k)}"))
  }

  /** A plane falling to the north-west: every pointer is diagonal
    * (slope 1.8 / sqrt 2 beats 1 and 0.8) until the top row or the left
    * column, so the whole grid drains to (0, 0) along a diagonal
    * mainstem, and cell (k, k), k >= 1, drains side - k cells. */
  private def tilted(side: Long) =
    (for (r <- 0L until side; c <- 0L until side)
      yield (r, c, r + 0.8 * c)).toDF("r", "c", "v")

  /** Seeded rough relief with nodata holes (missing cells): a random
    * scatter plus a rectangular lake. */
  private def holeyDem(nR: Int, nC: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (for (r <- 0 until nR; c <- 0 until nC) yield {
      val v = 30 * math.sin(r / 9.0) * math.cos(c / 13.0) +
        0.05 * (r + c) + rnd.nextDouble()
      val hole = rnd.nextInt(23) == 0 ||
        (r >= 40 && r < 52 && c >= 60 && c < 75)
      (r.toLong, c.toLong, v, hole)
    }).collect { case (r, c, v, false) => (r, c, v) }.toDF("r", "c", "v")
  }

  test("flow accumulation: local Kahn == perimeter-graph contraction") {
    val g = hashGrid(20, 25)
    both(() => flowAccum(g))
  }

  test("flow accumulation: contraction == local Kahn on a DEM with holes") {
    // 97 x 131 is a multiple of no tile size; side 2 contracts three
    // times (T = 2, 4, 16), side 200 covers the grid with one tile
    val g = holeyDem(97, 131, seed = 7)
    val local = withMaxRows(Long.MaxValue)(flowAccum(g))
    for (t <- Seq(2, 3, 5, 16, 200))
      assertSameAccum(withMaxRows(0L)(flowAccum(g, t)), local, s"tile $t")
  }

  test("flow accumulation: contraction == local Kahn away from the origin") {
    // the tiles follow the extent read from the pointer checkpoint's
    // statistics; here no tile edge lines up with the grid's. (The
    // stencil drops cells at r < 0 or c < 0, so a grid with negative
    // coordinates never reaches the accumulation.)
    val g = holeyDem(61, 53, seed = 11)
      .select((col("r") + 37).as("r"), (col("c") + 1003).as("c"), col("v"))
    val ptr = Terrain.d8Pointer(g)
    val (rs, cs) = (g.select("r").as[Long].collect(), g.select("c").as[Long].collect())
    assert(graft.core.Checkpoint.range(ptr, "r") === Some((rs.min, rs.max)))
    assert(graft.core.Checkpoint.range(ptr, "c") === Some((cs.min, cs.max)))
    val local = withMaxRows(Long.MaxValue)(flowAccum(g))
    assert(local.size === rs.length)
    for (t <- Seq(2, 5, 16))
      assertSameAccum(withMaxRows(0L)(flowAccum(g, t)), local, s"tile $t")
  }

  test("flow accumulation: a mainstem across 10 tiles drains the grid") {
    val g = tilted(40)
    val dist = withMaxRows(0L)(flowAccum(g, 4))
    assert(dist((0L, 0L)) == 1600L)
    (1L until 40L).foreach(k => assert(dist((k, k)) == 40L - k, s"cell $k"))
    assertSameAccum(dist, withMaxRows(Long.MaxValue)(flowAccum(g)), "tilted")
  }

  test("flow accumulation: tile side below 2 is rejected") {
    intercept[IllegalArgumentException](
      Terrain.flowAccumD8(tilted(8), tileSize = 1))
  }

  test("flow accumulation: Spark jobs follow levels, not flowpath length") {
    // at tile side 4 both grids contract at T = 4 and T = 16 and reach
    // the base case at T = 256; their mainstems cross 10 and 15 tiles
    val jobs = Seq(40L, 60L).map { side =>
      val g = tilted(side)
      Terrain.d8Pointer(g).count() // memoized: its jobs stay uncounted
      withMaxRows(0L)(JobCount(spark.sparkContext) {
        Terrain.flowAccumD8Impl(g, 4).count()
      })
    }
    assert(jobs.head == jobs.last, s"jobs per grid side 40, 60: $jobs")
  }

  test("flow accumulation: a 256^2 DEM takes 2 jobs, D8 pointer included") {
    // ridges whose basins send flowpaths across many tiles and blocks,
    // plus seeded noise that breaks slope ties
    val side = 256
    val dem = spark.range(side.toLong * side).map { k =>
      val (r, c) = (k / side, k % side)
      val (x, y) = (c.toDouble / side, r.toDouble / side)
      var h = k * 6364136223846793005L + 1442695040888963407L
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      (r, c, 40.0 * math.sin(8 * math.Pi * x + 0.7) * math.cos(9 * math.Pi * y + 1.9) +
        10.0 * (x + 0.5 * y) + (h >>> 11).toDouble / (1L << 53) * 0.05)
    }.toDF("r", "c", "v").localCheckpoint(true)
    var acc: DataFrame = null
    // one checkpoint job each: the pointer's neighbour shuffle and the
    // accumulation's shuffle of the inflows between blocks run as
    // stages of those jobs
    val jobs = withMaxRows(10000L)(JobCount(spark.sparkContext) {
      Terrain.d8Pointer(dem)
      acc = Terrain.flowAccumD8(dem)
    })
    assert(jobs === 2)
    assertSameAccum(acc.collect().map(x => (x.getLong(0), x.getLong(1)) ->
      x.getLong(2)).toMap, withMaxRows(Long.MaxValue)(flowAccum(dem)), "256^2")
  }

  test("watershed: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.watershed(g, 25).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
  }

  test("flowpath length: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.flowpathLength(g).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("stream links: local chase == distributed doubling") {
    val g = hashGrid(20, 25)
    both(() => Terrain.streamLinkId(g, 5, 25).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap)
  }

  test("upstream channel stats: one task == forest contraction") {
    val g = hashGrid(20, 25)
    both(() => Terrain.upstreamChannelStats(g, 5).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap)
  }

  test("upslope flowpath stats: one task == forest contraction") {
    // each arm reads a fresh checkpoint of the grid, so the memoized
    // D8 forest of one arm cannot serve the other
    val g = hashGrid(20, 25)
    both(() => upslopeStats(g.localCheckpoint()))
  }

  test("upslope flowpath stats: a 79-step mainstem, one task == contraction") {
    val g = tilted(80)
    val local = withMaxRows(Long.MaxValue)(upslopeStats(g.localCheckpoint()))
    // (0, 0) drains all 6 400 cells; its longest arriving path is the
    // diagonal mainstem from (79, 79), and cell (r, c) reaches it in
    // min(r, c) diagonal and |r - c| straight steps
    val sumLen = (for (r <- 0L until 80L; c <- 0L until 80L)
      yield math.min(r, c) * Terrain.DiagNano + math.abs(r - c) * 1000000000L).sum
    assert(local((0L, 0L)) == ((79L * Terrain.DiagNano, 6400L, sumLen)))
    assert(local.map { case (k, v) => k -> v._2 } == flowAccum(g))
    both(() => upslopeStats(g.localCheckpoint()))
  }

  test("upstream channel stats: a 79-step mainstem, one task == contraction") {
    val g = tilted(80)
    both(() => Terrain.upstreamChannelStats(g, 3).collect()
      .map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap)
  }

  test("cost pathway: one task == forest contraction") {
    val g = hashGrid(20, 25)
    val cost = g.select(col("r"), col("c"), (col("v") / 100.0 + 1.0).as("v"))
    both(() => costPaths(cost, g.where(col("v") >= 97.0),
      g.where(col("v") <= 3.0), 20, 25))
  }

  test("cost pathway: a 299-step backlink path, one task == contraction") {
    // a 1 x 300 strip of unit cost: the one destination's path back to
    // the source at the other end visits every cell once
    val strip = (0L until 300L).map(c => (0L, c, 1.0)).toDF("r", "c", "v")
    def run() = costPaths(strip, strip.where(col("c") === 0),
      strip.where(col("c") === 299), 1, 300)
    assert(withMaxRows(Long.MaxValue)(run()) ==
      (0L until 300L).map(c => (0L, c) -> 1L).toMap)
    both(() => run())
  }

  test("forest accumulation: a cycle throws") {
    val two = Array(FlowNode(0, 0, 0, 1, link = true, 1, 0, 0, 1),
      FlowNode(0, 1, 0, 0, link = true, 1, 0, 0, 1))
    val e = intercept[IllegalArgumentException](
      FlowForest.accumulate(two, Iterator.empty))
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("gate grid: 24 rounds reach the fixpoint of every round-capped accumulation") {
    // the gate's queries stop their Jacobi accumulations at 24 rounds,
    // as their SQL oracles do; on the gate's 40 x 50 grid that is the
    // fixpoint once rounded to the queries' 6 decimals, so the gate
    // checks the accumulation and not a truncation
    val g = Derived.partGrid(spark, "/root/testdata/sf0.01")
    val mass = g.withColumn("load", col("v"))
      .withColumn("eff", lit(0.8) + (col("r") % 3).cast("double") * lit(0.05))
      .withColumn("absorp", (col("c") % 4).cast("double") * lit(0.01))
    def acc(df: DataFrame) = df.select(col("r"), col("c"),
        round(col("acc"), 6).as("acc")).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val ops: Seq[(String, Int => Map[(Long, Long), Any])] = Seq(
      "dinfAccum" -> (n => acc(Terrain.dinfAccum(g, rounds = n))),
      "fd8Accum" -> (n => acc(Terrain.fd8Accum(g, 1.0, rounds = n))),
      "mdinfAccum" -> (n => acc(Terrain.mdinfAccum(g, 1.0, rounds = n))),
      "massFluxD8" -> (n => acc(Terrain.massFluxD8(mass, rounds = n))),
      "massFluxDinf" -> (n => acc(Terrain.massFluxDinf(mass, rounds = n))),
      "streamHeadsMdinf" -> (n =>
        Terrain.streamHeadsMdinf(g, caThr = 5.0, rounds = n).collect()
          .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap))
    for ((name, run) <- ops) {
      val (gate, fixpoint) = (run(24), run(2000))
      assert(gate.nonEmpty, name)
      val bad = (gate.keySet ++ fixpoint.keySet)
        .filter(k => gate.get(k) != fixpoint.get(k))
      assert(bad.isEmpty, s"$name: ${bad.size} cells move after 24 rounds, " +
        s"e.g. ${bad.take(3).map(k => s"$k ${gate.get(k)} -> ${fixpoint.get(k)}")}")
    }
  }

  test("downslope index: local walk == distributed stepping") {
    val g = hashGrid(20, 25)
    both(() => Terrain.downslopeIndex(g, 15.0).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("fd8 accumulation: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
    both(() => Terrain.fd8Accum(g, 1.0, rounds = 24).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("dinf accumulation: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
    both(() => Terrain.dinfAccum(g, rounds = 24).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("kNN join: broadcast kd-tree == iterative deepening (ties incl.)") {
    // clustered + duplicate coordinates to exercise the tie-break
    val build = (0L until 400L).map { i =>
      (i, (i % 23).toDouble * 0.37 + (i % 7) * 0.01,
        (i % 19).toDouble * 0.29 + (i % 5) * 0.01)
    } ++ Seq((400L, 1.0, 1.0), (401L, 1.0, 1.0), (402L, 1.0, 1.0))
    val probe = (0L until 150L).map { i =>
      (i, (i % 17).toDouble * 0.41, (i % 13).toDouble * 0.33)
    }
    val bDf = build.toDF("bid", "bx0", "by0")
    val pDf = probe.toDF("pid", "px0", "py0")
    def run(): Map[(Long, Long), (Long, Double)] =
      SpatialJoins.knnJoin(pDf, bDf, 4, probeId = "pid",
          buildId = "bid", px = "px0", py = "py0", bx = "bx0",
          by = "by0")
        .collect()
        .map(x => (x.getLong(0), x.getLong(2)) ->
          (x.getLong(1), x.getDouble(3))).toMap
    val saved = SpatialJoins.broadcastKnnMaxBuildRows
    try {
      SpatialJoins.broadcastKnnMaxBuildRows = Long.MaxValue
      val bcast = run()
      SpatialJoins.broadcastKnnMaxBuildRows = 0L
      val iter = run()
      assert(bcast.keySet == iter.keySet)
      bcast.foreach { case (k, v) =>
        assert(v == iter(k), s"probe/rnk $k: bcast=$v iter=${iter(k)}")
      }
    } finally SpatialJoins.broadcastKnnMaxBuildRows = saved
  }

  test("kNN join: a build side the planner underestimates past the row bound takes the rounds") {
    // one row exploded into 60 build points: the planner sees ~1 row
    val pts = (0 until 60).map(i => (i.toLong, (i % 11) * 0.3, (i % 7) * 0.4))
    val bDf = Seq(Tuple1(pts)).toDF("a").select(explode(col("a")).as("p"))
      .select(col("p._1").as("bid"), col("p._2").as("bx0"),
        col("p._3").as("by0"))
    val probe = (0L until 40L).map(i => (i, (i % 9) * 0.35, (i % 5) * 0.5))
    val pDf = probe.toDF("pid", "px0", "py0")
    val saved = SpatialJoins.broadcastKnnMaxBuildRows
    try {
      SpatialJoins.broadcastKnnMaxBuildRows = 10L
      assert(SpatialJoins.estimatedRows(bDf) <= 10)
      var got: DataFrame = null
      // the broadcast arm builds with its one collect; the rounds with more
      val jobs = JobCount(spark.sparkContext) {
        got = SpatialJoins.knnJoin(pDf, bDf, 3, probeId = "pid",
          buildId = "bid", px = "px0", py = "py0", bx = "bx0", by = "by0")
      }
      assert(jobs > 1, s"$jobs build jobs: the broadcast arm ran")
      val expect = probe.flatMap { case (pid, px, py) =>
        pts.map { case (bid, bx, by) =>
          (bid, (px - bx) * (px - bx) + (py - by) * (py - by))
        }.sortBy { case (bid, d2) => (d2, bid) }.take(3).zipWithIndex
          .map { case ((bid, _), i) => (pid, bid, (i + 1).toLong) }
      }.toSet
      assert(got.select("pid", "bid", "rnk").as[(Long, Long, Long)]
        .collect().toSet === expect)
    } finally SpatialJoins.broadcastKnnMaxBuildRows = saved
  }

  test("connected components: local union-find == label propagation") {
    // chains, a cycle, a star, self-loop isolated nodes
    val edges = ((0L until 50L).map(i => (i * 3, i * 3 + 3)) ++
      Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L)) ++
      (0L until 10L).map(i => (2000L, 2001L + i)) ++
      Seq((5000L, 5000L), (6000L, 6000L))).toDF("a", "b")
    def run(): Map[Long, Long] = GraphCC.label(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val saved = GraphCC.localMaxEdges
    try {
      GraphCC.localMaxEdges = Long.MaxValue
      val local = run()
      GraphCC.localMaxEdges = 0L
      val dist = run()
      assert(local == dist)
    } finally GraphCC.localMaxEdges = saved
  }

  test("stream heads MDInf: threshold switch and D8 pass-down, local == distributed") {
    // at caThr 3 most cells spread their area over the MDInf facets
    // while the larger ones reset to caThr and send it down the D8
    // flag alone, so both branches of the send rule run in every round
    val g = hashGrid(20, 25)
    for (thr <- Seq(3.0, 8.0)) {
      def run() = Terrain.streamHeadsMdinf(g, caThr = thr).collect()
        .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
      val heads = withMaxRows(Long.MaxValue)(run()).values
      assert(heads.count(_ == 1) > 0 && heads.count(_ == 0) > 0,
        s"caThr $thr: heads ${heads.count(_ == 1)} of ${heads.size}")
      both(() => run())
    }
  }

  test("mass flux Dinf: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
      .withColumn("load", col("v") / 10.0)
      .withColumn("eff", lit(0.8) + (col("r") % 3).cast("double") * 0.05)
      .withColumn("absorp", (col("c") % 4).cast("double") * 0.01)
    both(() => Terrain.massFluxDinf(g, rounds = 24).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }

  test("downslope distance to stream: absorbing chase with step counts, local == distributed") {
    val g = hashGrid(20, 25)
    def run() = Terrain.downslopeDistanceToStream(g, 5L).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val dist = withMaxRows(Long.MaxValue)(run()).values
    // stream cells stop at 0; the rest compose straight and diagonal
    // steps, so both step kinds appear in the totals
    assert(dist.exists(_ == 0L))
    assert(dist.exists(d => d > 0 && d % 1000000000L == 0))
    assert(dist.exists(d => d % 1000000000L != 0))
    both(() => run())
  }

  test("mass flux: local Jacobi == distributed rounds") {
    val g = hashGrid(20, 25)
      .withColumn("load", col("v") / 10.0)
      .withColumn("eff", lit(0.9))
      .withColumn("absorp", lit(0.5))
    both(() => Terrain.massFluxD8(g, rounds = 24).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap)
  }
}
