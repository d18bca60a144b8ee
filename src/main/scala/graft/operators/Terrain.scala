package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.InJobExchange

import graft.core.Checkpoint

/** A node of a forest that [[FlowForest]] accumulates: cell (r, c),
  * linked downstream to (tr, tc) when `link` is set, over a link of
  * length `d` (nano units); `w`, `m` and `s` are its own weight, path
  * maximum and path sum. A solved forest carries in each node
  *  - w: the sum of w over the node and everything upstream of it;
  *  - m: the longest path that arrives at it, the max over its
  *    in-links i of m(i) + d(i), and its own m;
  *  - s: its own s plus, over its in-links i, s(i) + w(i) * d(i), the
  *    summed length of every upstream node's path to it, weighted.
  * Every field is a long sum or max, so the result does not depend on
  * the order of operations. */
case class FlowNode(r: Long, c: Long, tr: Long, tc: Long, link: Boolean,
                    w: Long, m: Long, s: Long, d: Long)

/** Sequential kernels of the forest accumulation — the reference's
  * recursive walk (FlowAccumD8.java:330-375) as one Kahn topological
  * pass over a tile, or over a whole forest in one task. */
object FlowForest {

  def tileOf(r: Long, c: Long, t: Long): (Long, Long) =
    (Math.floorDiv(r, t), Math.floorDiv(c, t))

  private def onBorder(f: FlowNode, t: Long): Boolean = {
    val (i, j) = (Math.floorMod(f.r, t), Math.floorMod(f.c, t))
    i == 0 || i == t - 1 || j == 0 || j == t - 1
  }

  /** Kahn accumulation over `nodes`, following only links whose target
    * is one of `nodes`; each of `seeds`, a solved node outside the set,
    * flows into its link target as a node of the set would. Returns the
    * solved nodes, each node's link-target index (-1 when none) and the
    * visit order (upstream first). A cycle leaves nodes unvisited, and
    * throws. */
  private def kahn(nodes: Array[FlowNode], seeds: Iterator[FlowNode])
      : (Array[FlowNode], Array[Int], Array[Int]) = {
    val idx = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    nodes.indices.foreach(i => idx((nodes(i).r, nodes(i).c)) = i)
    val (w, m, s) = (nodes.map(_.w), nodes.map(_.m), nodes.map(_.s))
    def flow(t: Int, fw: Long, fm: Long, fs: Long, fd: Long): Unit = {
      w(t) += fw
      m(t) = math.max(m(t), fm + fd)
      s(t) += fs + fw * fd
    }
    seeds.foreach(f =>
      idx.get((f.tr, f.tc)).foreach(flow(_, f.w, f.m, f.s, f.d)))
    val next = nodes.map(f =>
      if (f.link) idx.getOrElse((f.tr, f.tc), -1) else -1)
    val indeg = new Array[Int](nodes.length)
    next.foreach(t => if (t >= 0) indeg(t) += 1)
    val order = nodes.indices.filter(indeg(_) == 0).toBuffer // FIFO
    var head = 0
    while (head < order.length) {
      val i = order(head)
      head += 1
      val t = next(i)
      if (t >= 0) {
        flow(t, w(i), m(i), s(i), nodes(i).d)
        indeg(t) -= 1
        if (indeg(t) == 0) order += t
      }
    }
    require(order.length == nodes.length,
      s"forest has a cycle: ${order.length} of ${nodes.length} nodes visited")
    (Array.tabulate(nodes.length)(i => nodes(i).copy(w = w(i), m = m(i), s = s(i))),
      next, order.toArray)
  }

  /** Every node of `nodes`, once, solved; `seeds` are solved nodes
    * outside the set whose links may end in it. */
  def accumulate(nodes: Array[FlowNode],
                 seeds: Iterator[FlowNode]): Iterator[FlowNode] =
    kahn(nodes, seeds)._1.iterator

  /** The perimeter forest of one tile: `nodes`, which lie in one tile
    * of side `t` and one block of side `b` (the tile cut along block
    * edges; `b` = `t` for a tile that is not cut). An exit node (its
    * link leaves the tile) keeps that link and its own `d`, solved
    * tile-locally. Any other border node links to the exit its in-tile
    * path reaches, with `d` the length of that path and w = s = 0 (m,
    * a max, may keep its tile-local value); it is dropped when that
    * path ends inside the tile, as inflow there never leaves. Interior
    * nodes are dropped: a cross-tile link joins D8 neighbours, so only
    * border nodes can receive one. */
  def perimeter(nodes: Array[FlowNode], t: Long,
                b: Long): Iterator[FlowNode] = {
    def tile(r: Long, c: Long) = (tileOf(r, c, t), tileOf(r, c, b))
    val home = tile(nodes(0).r, nodes(0).c)
    def leaves(f: FlowNode) = f.link && tile(f.tr, f.tc) != home
    val (solved, next, order) = kahn(nodes, Iterator.empty)
    val exit = Array.fill(nodes.length)(-1)
    val len = new Array[Long](nodes.length)
    order.reverseIterator.foreach { i =>
      if (leaves(nodes(i))) exit(i) = i
      else if (next(i) >= 0 && exit(next(i)) >= 0) {
        exit(i) = exit(next(i))
        len(i) = nodes(i).d + len(next(i))
      }
    }
    nodes.indices.iterator
      .filter(i => exit(i) >= 0 &&
        (onBorder(nodes(i), t) || onBorder(nodes(i), b)))
      .map { i =>
        val e = nodes(exit(i))
        if (exit(i) == i) solved(i)
        else solved(i).copy(tr = e.r, tc = e.c, link = true, w = 0L,
          s = 0L, d = len(i))
      }
  }

  /** The perimeter forests of one block's tiles of side `t`, cut along
    * the block's edges. */
  def blockPerimeter(block: Seq[FlowNode], t: Long): Iterator[FlowNode] =
    block.groupBy(f => tileOf(f.r, f.c, t)).valuesIterator
      .flatMap(tile => perimeter(tile.toArray, t, Blocks.Side))

  /** How many tiles of side `t`, cut along the edges of blocks of side
    * `b`, span [lo, hi] along one axis: one, plus one per tile or block
    * edge inside the span. */
  def cutTiles(lo: Long, hi: Long, t: Long, b: Long): Long = {
    def edges(s: Long) = Math.floorDiv(hi, s) - Math.floorDiv(lo, s)
    1 + edges(t) + edges(b) - edges(t / BigInt(t).gcd(BigInt(b)).toLong * b)
  }

  /** The accumulation of every node of a forest in block layout, block
    * by block: `seeds` are the solved nodes whose links cross into each
    * block, in the layout of their link targets' blocks, placed over as
    * many partitions. A seed for a block that has no nodes means the
    * two inputs were not placed alike, and throws. */
  def accumulateBlocks(nodes: Iterator[FlowNode],
                       seeds: Iterator[FlowNode]): Iterator[FlowNode] = {
    val in = Blocks.runs(seeds)(s => Blocks.of(s.tr, s.tc)).buffered
    def stray() = new IllegalStateException(
      s"inflow to block ${in.head._1}, which holds no node of this partition")
    Blocks.runs(nodes)(f => Blocks.of(f.r, f.c)).flatMap { case (b, block) =>
      if (in.hasNext && Ordering[(Long, Long)].lt(in.head._1, b)) throw stray()
      val inflow = if (in.hasNext && in.head._1 == b) in.next()._2 else Nil
      accumulate(block.toArray, inflow.iterator)
    } ++ { if (in.hasNext) throw stray(); Iterator.empty }
  }
}

/** Sequential per-tile kernels of the tiled priority-flood and
  * cost-distance fixpoints. */
object FlowTiles {

  /**
   * One tile's Wang & Liu priority flood, seeded by the tile's
   * grid-border cells (level = dem) and the current halo estimates
   * (FillDepressions.java pop-min semantics). Emits cell outputs as
   * (-1, -1, r, c, filled) and boundary-level packets addressed to
   * the adjacent tile as (destTileR, destTileC, r, c, filled).
   */
  def localFlood(tile: (Long, Long), cells: Seq[(Long, Long, Double)],
                 halos: Seq[(Long, Long, Double)], t: Long,
                 nRows: Long, nCols: Long)
      : Iterator[(Long, Long, Long, Long, Double)] = {
    val dem = cells.iterator.map(x => (x._1, x._2) -> x._3).toMap
    val filled = scala.collection.mutable.Map
      .empty[(Long, Long), Double].withDefaultValue(Double.PositiveInfinity)
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Double, Long, Long)](Ordering.by(x => -x._1))
    cells.foreach { case (r, c, v) =>
      if (r == 0 || r == nRows - 1 || c == 0 || c == nCols - 1)
        pq.enqueue((v, r, c))
    }
    halos.foreach { case (hr, hc, hl) =>
      for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
        val n = (hr + dr, hc + dc)
        dem.get(n).foreach { nv =>
          if (Math.floorDiv(n._1, t) == tile._1 &&
              Math.floorDiv(n._2, t) == tile._2)
            pq.enqueue((math.max(nv, hl), n._1, n._2))
        }
      }
    }
    while (pq.nonEmpty) {
      val (lvl, r, c) = pq.dequeue()
      if (lvl < filled((r, c))) {
        filled((r, c)) = lvl
        for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
          val n = (r + dr, c + dc)
          if (Math.floorDiv(n._1, t) == tile._1 &&
              Math.floorDiv(n._2, t) == tile._2)
            dem.get(n).foreach { nv =>
              val cand = math.max(nv, lvl)
              if (cand < filled(n)) pq.enqueue((cand, n._1, n._2))
            }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Double)]()
    filled.foreach { case ((r, c), lvl) =>
      out += ((-1L, -1L, r, c, lvl))
      // export boundary levels to every adjacent foreign tile
      val dests = scala.collection.mutable.Set[(Long, Long)]()
      for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
        val (nr, nc) = (r + dr, c + dc)
        if (nr >= 0 && nr < nRows && nc >= 0 && nc < nCols) {
          val dt = (Math.floorDiv(nr, t), Math.floorDiv(nc, t))
          if (dt != tile) dests += dt
        }
      }
      dests.foreach(dt => out += ((dt._1, dt._2, r, c, lvl)))
    }
    out.iterator
  }

  /**
   * One tile's cost-distance Dijkstra (GISTools/CostAccumulation
   * .java:162-260 label-correcting semantics): accumulated cost to
   * reach each cell from the nearest source, moving cost
   * (cost(a) + cost(b)) / 2 * dist with dist = sqrt(2) on diagonals;
   * ties broken by smallest source id (CostAllocation). Emits cell
   * outputs as (-1, -1, r, c, acc, src) and boundary packets
   * addressed to the adjacent tile as (tileR, tileC, r, c, acc, src).
   */
  def localCostDijkstra(tile: (Long, Long),
                        cells: Seq[(Long, Long, Double, Boolean)],
                        halos: Seq[(Long, Long, Double, Double, Long)],
                        t: Long, nRows: Long, nCols: Long)
      : Iterator[(Long, Long, Long, Long, Double, Double, Long)] = {
    val cost = cells.iterator.map(x => (x._1, x._2) -> x._3).toMap
    val best = scala.collection.mutable.Map
      .empty[(Long, Long), (Double, Long)]
    val pq = scala.collection.mutable.PriorityQueue
      .empty[(Double, Long, Long, Long)](Ordering.by(x => (-x._1, -x._4)))
    cells.foreach { case (r, c, _, isSrc) =>
      if (isSrc) pq.enqueue((0.0, r, c, r * nCols + c))
    }
    halos.foreach { case (hr, hc, hl, hcost, hs) =>
      // packets carry (accum, cost) of the out-of-tile cell; the move
      // into the tile prices the full (cost(H) + cost(N)) / 2 * dist
      for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
        val n = (hr + dr, hc + dc)
        if (Math.floorDiv(n._1, t) == tile._1 &&
            Math.floorDiv(n._2, t) == tile._2)
          cost.get(n).foreach { nv =>
            val dist = if (dr != 0 && dc != 0) math.sqrt(2.0) else 1.0
            pq.enqueue((hl + (hcost + nv) / 2.0 * dist, n._1, n._2, hs))
          }
      }
    }
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    while (pq.nonEmpty) {
      val (lvl, r, c, src) = pq.dequeue()
      val cand = (lvl, src)
      if (!best.contains((r, c)) || better(cand, best((r, c)))) {
        best((r, c)) = cand
        val myCost = cost((r, c))
        for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
          val n = (r + dr, c + dc)
          if (Math.floorDiv(n._1, t) == tile._1 &&
              Math.floorDiv(n._2, t) == tile._2)
            cost.get(n).foreach { nv =>
              val dist = if (dr != 0 && dc != 0) math.sqrt(2.0) else 1.0
              val nl = lvl + (myCost + nv) / 2.0 * dist
              val c2 = (nl, src)
              if (!best.contains(n) || better(c2, best(n)))
                pq.enqueue((nl, n._1, n._2, src))
            }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Long, Long, Double, Double, Long)]()
    best.foreach { case ((r, c), (lvl, src)) =>
      out += ((-1L, -1L, r, c, lvl, 0.0, src))
      val dests = scala.collection.mutable.Set[(Long, Long)]()
      for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0)) {
        val (nr, nc) = (r + dr, c + dc)
        if (nr >= 0 && nr < nRows && nc >= 0 && nc < nCols) {
          val dt = (Math.floorDiv(nr, t), Math.floorDiv(nc, t))
          if (dt != tile) dests += dt
        }
      }
      dests.foreach { dt =>
        out += ((dt._1, dt._2, r, c, lvl, cost((r, c)), src))
      }
    }
    out.iterator
  }
}

/**
 * Terrain-flow operators over the cell-relational grid (r, c, v) —
 * the reference's iterative pointer-DAG family (SURVEY.md §2.10).
 */
object Terrain {

  /** Neighbour order shared by Slope/FlowPointerD8
    * (HydroTools/src/plugins/FlowPointerD8.java:199-200). */
  val dY = Seq(-1, 0, 1, 1, 1, 0, -1, -1)
  val dX = Seq(1, 1, 1, 0, -1, -1, -1, 0)

  /**
   * Gather the 8 neighbour values as n0..n7 (null when unresolved)
   * plus the centre v, one row per cell with a value: one tile-and-halo
   * pass over blocks of the grid ([[Blocks.gather]]), whose rows come
   * out in block layout. Its one shuffle runs inside the job that
   * consumes the output, so building the gather starts no job.
   * `reflect` mirrors out-of-grid reads at the edge like the
   * reference's isReflectedAtEdges (WhiteboxRaster.java:535-557).
   */
  private[operators] def gatherNeighbors(grid: DataFrame,
                                         reflect: Boolean = false,
                                         nRows: Long = Long.MaxValue / 4,
                                         nCols: Long = Long.MaxValue / 4)
      : DataFrame =
    Blocks.gather(grid, reflect, nRows, nCols)

  /** Horn fx/fy finite differences from the gathered stencil with the
    * NoData->centre substitution shared by Slope/Aspect/Hillshade
    * (Aspect.java:245-257). gridRes = 1 so eightGridRes = 8. */
  private def fxFy(df: DataFrame): DataFrame = {
    val n = (0 until 8).map(i => coalesce(col(s"n$i"), col("v")))
    df.withColumn("fx",
        (n(2) - n(4) + (n(1) - n(5)) * 2 + n(0) - n(6)) / 8.0)
      .withColumn("fy",
        (n(6) - n(4) + (n(7) - n(3)) * 2 + n(0) - n(2)) / 8.0)
  }

  /**
   * Aspect (TerrainAnalysisTools/Aspect.java:242-262, reflected
   * edges): 180 - atan(fy/fx)*180/pi + 90*sign(fx); flat (fx == 0)
   * cells emit -1.
   */
  def aspect(grid: DataFrame, nRows: Long, nCols: Long): DataFrame =
    fxFy(gatherNeighbors(grid, reflect = true, nRows, nCols))
      .select(col("r"), col("c"),
        round(when(col("fx") =!= 0,
          lit(180.0) - atan(col("fy") / col("fx")) * (180.0 / math.Pi) +
            lit(90.0) * (col("fx") / abs(col("fx"))))
          .otherwise(lit(-1.0)), 6).as("aspect"))

  /**
   * RelativeAspect (TerrainAnalysisTools/RelativeAspect.java, inner
   * loop): |aspect - azimuth| folded into [0, 180]; flat cells
   * (fx = 0) emit -1, mirroring the reference's early-out.
   */
  def relativeAspect(grid: DataFrame, azimuthDeg: Double, nRows: Long,
                     nCols: Long): DataFrame = {
    val asp = lit(180.0) - atan(col("fy") / col("fx")) *
      (180.0 / math.Pi) + lit(90.0) * (col("fx") / abs(col("fx")))
    val d = abs(asp - lit(azimuthDeg))
    fxFy(gatherNeighbors(grid, reflect = true, nRows, nCols))
      .select(col("r"), col("c"),
        round(when(col("fx") =!= 0,
          when(d > 180.0, lit(360.0) - d).otherwise(d))
          .otherwise(lit(-1.0)), 6).as("rel_aspect"))
  }

  /**
   * RadiationOnSlope (Scripts/RadiationOnSlope.groovy:160-217): total
   * incident shortwave on a sloping surface — equivalent slope/
   * latitude, slope-adjusted sunrise/sunset, extraterrestrial Ket,
   * then diffuse/direct/backscatter composition into Kcs. The
   * atmospheric scalars (Wp, transmissivities, day angle, declination)
   * are precomputed constants (dew point 10 C, optical air mass 2,
   * dust 0.1, albedo 0.2, Julian day 180, latitude 45 N) embedded as
   * double literals so the DuckDB oracle parses the identical IEEE
   * values. The three inverse-trig domain edges are clamped to
   * [-1, 1] on both sides (the reference lets Java produce NaN there;
   * clamping keeps the slope-noon geometry finite and is the only
   * deviation). Slope/aspect inputs are the tool outputs rounded to 6
   * decimals, mirroring the reference's re-read of the float rasters
   * the Slope/Aspect tools write.
   */
  def radiationOnSlope(grid: DataFrame, nRows: Long,
                       nCols: Long): DataFrame = {
    val dew = 10.0; val airMass = 2.0; val yDust = 0.1; val albedo = 0.2
    val wp = 1.12 * math.exp(0.0614 * dew)
    val tAtm = math.exp((-0.124 - 0.0207 * wp) +
      (-0.0682 - 0.0248 * wp) * airMass) - yDust
    val da = 2.0 * math.Pi * (180.0 - 1.0) / 365.0
    val eo = 1.000110 + (0.034221 * math.cos(da)) +
      (0.001280 * math.sin(da)) + (0.000719 * math.cos(2 * da)) +
      (0.000077 * math.sin(2 * da))
    val decl = 0.006918 - 0.399912 * math.cos(da) +
      0.070257 * math.sin(da) - 0.006758 * math.cos(2 * da) +
      (0.000907 * math.cos(3 * da) + 0.00148 * math.sin(3 * da))
    val ts = math.exp((-0.0363 - 0.0084 * wp) +
      (-0.0572 - 0.0173 * wp) * airMass)
    val ys = 1.0 - ts + yDust
    val lat = math.toRadians(45.0)
    val omega = 0.2618; val isc = 4.921
    val thr = -math.acos(-math.tan(decl) * math.tan(lat)) / omega
    val ths = math.acos(-math.tan(decl) * math.tan(lat)) / omega
    val degToRad = math.Pi / 180.0
    def clamp(x: Column) = least(greatest(x, lit(-1.0)), lit(1.0))
    val slopeDeg = round(
      atan(sqrt(col("fx") * col("fx") + col("fy") * col("fy"))) *
        lit(180.0 / math.Pi), 6)
    val aspectDeg = round(when(col("fx") =!= 0,
      lit(180.0) - atan(col("fy") / col("fx")) * (180.0 / math.Pi) +
        lit(90.0) * (col("fx") / abs(col("fx")))).otherwise(lit(-1.0)), 6)
    fxFy(gatherNeighbors(grid, reflect = true, nRows, nCols))
      .select(col("r"), col("c"), (slopeDeg * degToRad).as("beta"),
        (aspectDeg * degToRad).as("alpha"))
      .select(col("r"), col("c"),
        atan(sin(col("beta")) * sin(col("alpha")) /
          (cos(col("beta")) * math.cos(lat) -
            sin(col("beta")) * math.sin(lat) * cos(col("alpha"))))
          .as("eqslope"),
        asin(clamp(sin(col("beta")) * cos(col("alpha")) * math.cos(lat) +
          cos(col("beta")) * math.sin(lat))).as("eqlat"))
      .select(col("r"), col("c"), col("eqslope"), col("eqlat"),
        acos(clamp((lit(0.0) - tan(col("eqlat"))) * math.tan(decl)))
          .as("acv"))
      .select(col("r"), col("c"), col("eqslope"), col("eqlat"),
        greatest((lit(0.0) - col("acv") - col("eqslope")) / omega,
          lit(thr)).as("tsr"),
        least((col("acv") - col("eqslope")) / omega, lit(ths)).as("tss"))
      .select(col("r"), col("c"),
        (lit(isc * eo) * (cos(col("eqlat")) * math.cos(decl) *
          ((sin(lit(omega) * col("tss") + col("eqslope")) -
            sin(lit(omega) * col("tsr") + col("eqslope"))) / omega) +
          sin(col("eqlat")) * math.sin(decl) * (col("tss") - col("tsr"))))
          .as("ket"))
      .select(col("r"), col("c"),
        ((lit(tAtm) * col("ket")) + (lit(0.5 * ys) * col("ket"))).as("kg"))
      .select(col("r"), col("c"),
        round(lit(11.575) * (col("kg") + lit(0.5 * ys * albedo) * col("kg")),
          6).as("kcs"))
  }

  /**
   * FindRidges (TerrainAnalysisTools/FindRidges.java:163-210, no
   * line-thinning arm): a cell is a ridge when both its N and S
   * neighbours are lower, or failing that both its W and E
   * neighbours are; off-grid/NoData reads fail the test. Emits only
   * ridge cells (absent-row NoData convention).
   */
  def findRidges(grid: DataFrame): DataFrame = {
    val n = grid.select(col("r").as("nr"), col("c").as("nc"),
      col("v").as("nv"))
    def withNbr(df: DataFrame, dy: Int, dx: Int, nm: String) =
      df.join(n.select((col("nr") - dy).as("r"), (col("nc") - dx).as("c"),
        col("nv").as(nm)), Seq("r", "c"), "left")
    val j = Seq((-1, 0, "zu"), (1, 0, "zd"), (0, -1, "zl"), (0, 1, "zr"))
      .foldLeft(grid) { case (df, (dy, dx, nm)) => withNbr(df, dy, dx, nm) }
    j.where((col("zu") < col("v") && col("zd") < col("v")) ||
        (col("zl") < col("v") && col("zr") < col("v")))
      .select(col("r"), col("c"), lit(1L).as("ridge"))
  }

  /**
   * Hillshade (TerrainAnalysisTools/Hillshade.java:255-276, reflected
   * edges; azimuth/altitude in degrees, azimuth stored as (az-90)):
   * the continuous shade value BEFORE the (int)(z*255) display
   * quantization (quantization is a one-cast postfix; the continuous
   * form keeps the oracle comparison off integer-truncation ulp
   * boundaries). Flat cells emit 0.5.
   */
  def hillshade(grid: DataFrame, nRows: Long, nCols: Long,
                azimuthDeg: Double = 315.0,
                altitudeDeg: Double = 45.0): DataFrame = {
    val azimuth = (azimuthDeg - 90.0) * math.Pi / 180.0
    val altitude = altitudeDeg * math.Pi / 180.0
    val sinTheta = math.sin(altitude)
    val cosTheta = math.cos(altitude)
    fxFy(gatherNeighbors(grid, reflect = true, nRows, nCols))
      .withColumn("tanSlope",
        sqrt(col("fx") * col("fx") + col("fy") * col("fy")))
      .withColumn("aspectRad",
        (lit(180.0) - atan(col("fy") / col("fx")) * (180.0 / math.Pi) +
          lit(90.0) * (col("fx") / abs(col("fx")))) * (math.Pi / 180.0))
      .select(col("r"), col("c"),
        round(when(col("fx") =!= 0,
          (col("tanSlope") / sqrt(col("tanSlope") * col("tanSlope") + 1)) *
            (lit(sinTheta) / col("tanSlope") -
              lit(cosTheta) * sin(lit(azimuth) - col("aspectRad"))))
          .otherwise(lit(0.5)), 6).as("shade"))
  }

  /**
   * TopographicRuggednessIndex (TopographicRuggednessIndex.java:
   * 230-245, NO edge reflection): sqrt(mean squared elevation
   * difference to resolved neighbours).
   */
  def ruggednessIndex(grid: DataFrame): DataFrame = {
    val diffs = (0 until 8).map(i =>
      when(col(s"n$i").isNotNull,
        (col(s"n$i") - col("v")) * (col(s"n$i") - col("v"))))
    val ss = diffs.reduce((a, b) => coalesce(a, lit(0.0)) +
      coalesce(b, lit(0.0)))
    val n = (0 until 8).map(i =>
      when(col(s"n$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    gatherNeighbors(grid)
      .select(col("r"), col("c"),
        round(sqrt(ss / n), 6).as("tri"))
  }

  /** Shared 2nd-order surface terms (PlanCurv.java:257-262, reflected
    * edges, gridRes = 1): Zx, Zy, Zxx, Zyy, Zxy. */
  private def surfaceTerms(grid: DataFrame, nRows: Long,
                           nCols: Long): DataFrame = {
    val df = gatherNeighbors(grid, reflect = true, nRows, nCols)
    val n = (0 until 8).map(i => coalesce(col(s"n$i"), col("v")))
    df.withColumn("zx", (n(1) - n(5)) / 2.0)
      .withColumn("zy", (n(7) - n(3)) / 2.0)
      .withColumn("zxx", n(1) - lit(2) * col("v") + n(5))
      .withColumn("zyy", n(7) - lit(2) * col("v") + n(3))
      .withColumn("zxy", (-n(6) + n(0) + n(4) - n(2)) / 4.0)
      .withColumn("zx2", col("zx") * col("zx"))
      .withColumn("zy2", col("zy") * col("zy"))
  }

  private val RadToDeg = 180.0 / math.Pi

  /** PlanCurv (PlanCurv.java:258-272): contour curvature x 180/pi x
    * 100; flat cells (Zx^2+Zy^2 = 0) are NoData (absent). p^1.5 is
    * spelled p*sqrt(p) — mul and sqrt are IEEE correctly-rounded, so
    * the value is bit-identical across engines, unlike libm pow. */
  def planCurvature(grid: DataFrame, nRows: Long, nCols: Long): DataFrame =
    surfaceTerms(grid, nRows, nCols)
      .withColumn("p", col("zx2") + col("zy2"))
      .where(col("p") > 0)
      .select(col("r"), col("c"),
        round((col("zxx") * col("zy2") -
          lit(2) * col("zxy") * col("zx") * col("zy") +
          col("zyy") * col("zx2")) /
          (col("p") * sqrt(col("p"))) * RadToDeg * 100, 6).as("plan_curv"))

  /** ProfCurv (ProfCurv.java:258-272): profile curvature. */
  def profileCurvature(grid: DataFrame, nRows: Long, nCols: Long): DataFrame =
    surfaceTerms(grid, nRows, nCols)
      .withColumn("p", col("zx2") + col("zy2"))
      .where(col("p") > 0)
      .select(col("r"), col("c"),
        round((col("zxx") * col("zx2") +
          lit(2) * col("zxy") * col("zx") * col("zy") +
          col("zyy") * col("zy2")) /
          (col("p") * ((col("p") + 1) * sqrt(col("p") + 1))) * RadToDeg * 100,
          6).as("prof_curv"))

  /** TangentialCurv (TangentialCurv.java:262-271): plan-curvature
    * numerator over p * q^1.5 with q = p + 1; q^1.5 spelled
    * q*sqrt(q) for cross-engine bit-exactness (see planCurvature). */
  def tangentialCurvature(grid: DataFrame, nRows: Long,
                          nCols: Long): DataFrame =
    surfaceTerms(grid, nRows, nCols)
      .withColumn("p", col("zx2") + col("zy2"))
      .where(col("p") > 0)
      .select(col("r"), col("c"),
        round((col("zxx") * col("zy2") -
          lit(2) * col("zxy") * col("zx") * col("zy") +
          col("zyy") * col("zx2")) /
          (col("p") * ((col("p") + 1) * sqrt(col("p") + 1))) *
          RadToDeg * 100, 6).as("tang_curv"))

  /** TotalCurv (TotalCurv.java:258-264): Zxx^2 + 2*Zxy^2 + Zyy^2. */
  def totalCurvature(grid: DataFrame, nRows: Long, nCols: Long): DataFrame =
    surfaceTerms(grid, nRows, nCols)
      .select(col("r"), col("c"),
        round((col("zxx") * col("zxx") + lit(2) * col("zxy") * col("zxy") +
          col("zyy") * col("zyy")) * RadToDeg * 100, 6).as("total_curv"))

  /**
   * FlowPointerD8 (HydroTools/FlowPointerD8.java:240-270): steepest
   * descent among the 8 neighbours, slope = (z - z_n)/dist with
   * dist = sqrt(2) on diagonals (even i) and 1 on orthogonals,
   * pointer = 2^i of the FIRST strictly-greatest slope, 0 when no
   * neighbour is lower (maxSlope <= 0). Off-grid neighbours are
   * skipped (NoData semantics).
   */
  def d8Pointer(grid: DataFrame): DataFrame =
    // memoized per DEM: the pointer grid is the shared ancestor of
    // ~25 hydrology queries in a session (same materialized-view
    // rationale as the stream-graph memo)
    graft.core.Memo.cached(
      graft.core.Memo.key(grid, "d8Pointer"),
      grid.sparkSession) { d8PointerImpl(grid) }

  private def d8PointerImpl(grid: DataFrame): DataFrame = {
    val nb = gatherNeighbors(grid)
    val slopes = (0 until 8).map { i =>
      val dist = if (i % 2 == 0) math.sqrt(2.0) else 1.0
      ((col("v") - col(s"n$i")) / dist).as(s"s$i")
    }
    val withS = nb.select((col("r") +: col("c") +: slopes): _*)
    // Array-form decode: array_max skips nulls and array_position
    // takes the FIRST index attaining the max (the strict-> update
    // rule), exactly like the unrolled when-chain — but each slope
    // subtree appears ONCE. The when-chain duplicated every s_i ~10x
    // after projection collapse; the fused whole-stage method blew
    // janino's 64 KB limit, and every action paid a multi-second
    // failed compile before running interpreted.
    d8DecodeFromSlopes(withS)
  }

  /** (r, c, s0..s7) -> (r, c, ptr): first-max-index D8 encoding,
    * shared by [[d8Pointer]] and [[rho8Pointer]]. */
  private def d8DecodeFromSlopes(withS: DataFrame): DataFrame =
    withS
      .withColumn("__sl", array((0 until 8).map(i => col(s"s$i")): _*))
      .withColumn("__m", array_max(col("__sl")))
      .select(col("r"), col("c"),
        when(col("__m") > 0,
          call_function("shiftleft", lit(1),
            array_position(col("__sl"), col("__m")).cast("int") - 1))
          .otherwise(lit(0)).cast("long").as("ptr"))

  /**
   * FlowAccumD8 (HydroTools/FlowAccumD8.java:291-375): number of
   * cells draining through each cell (itself included), accumulated
   * along the D8 pointer DAG.
   *
   * Scale design — recursive perimeter-graph contraction (Barnes 2017,
   * "Parallel non-divergent flow accumulation for trillion cell
   * digital elevation models"). The pointer grid is a forest of
   * [[FlowNode]]s with unit weights and step-length links, solved in
   * three stages over tiles of side T = `tileSize`:
   *  1. one tile pass runs a local Kahn and emits each tile's
   *     perimeter forest: exit cells keep their cross-tile link and
   *     their tile-local accumulation; other border cells link with
   *     weight 0 to the exit their in-tile path reaches, over a link as
   *     long as that path;
   *  2. the perimeter forest is solved by the same recursion with
   *     tile side T^2. Tiles nest, and a link that crosses a T^2 tile
   *     is an original D8 link, so its ends lie on the T^2 border;
   *  3. one pass reruns Kahn with the solved cross-tile inflows as
   *     seeds, emitting every cell once.
   * The first level reads the pointer grid where it lies: the grid is
   * in block layout ([[Blocks]], from [[gatherNeighbors]]), so its
   * tiles are cut along block edges and stage 1 runs over each
   * partition's blocks with no shuffle. Stage 3 of that level reruns
   * each block's Kahn with the inflows that cross into it, placed in
   * the same layout ([[Blocks.place]]) and zipped with the pointer
   * grid partition by partition. Levels above it group their nodes by
   * T^2 tile. The base case is one task over the whole forest, taken
   * when the forest has at most [[localFixpointMaxRows]] nodes or fits
   * in one tile. The inflow placement runs inside the job that
   * consumes the result
   * ([[org.apache.spark.sql.graftbridge.InJobExchange]]): when the
   * first level's perimeter forest fits the base case, the whole
   * accumulation is one job, its checkpoint. Level k + 1 holds at
   * most (4T - 4) nodes per level-k tile, a bound taken from the
   * extent of the top level (read from the footed pointer checkpoint's
   * statistics, no job), so the number of Spark jobs depends only on
   * the number of levels — one per squaring of T until a tile covers
   * the grid — and not on how many tiles a flowpath crosses.
   */
  def flowAccumD8(grid: DataFrame, tileSize: Int = ForestTile): DataFrame =
    d8Forest(grid, tileSize).select("r", "c", "n_upslope")

  /** The solved D8 forest of `grid`, memoized: (r, c, n_upslope,
    * max_len_nano, sum_len_nano), which [[flowAccumD8]] and
    * [[upslopeFlowpathStats]] read. */
  private def d8Forest(grid: DataFrame, tileSize: Int): DataFrame = {
    require(tileSize >= 2,
      s"flowAccumD8 needs tileSize >= 2 (tiles grow T -> T^2 per " +
        s"level), got $tileSize")
    graft.core.Memo.cached(
      graft.core.Memo.key(grid, s"d8Forest:$tileSize"),
      grid.sparkSession) { flowAccumD8Impl(grid, tileSize) }
  }

  /** [[d8Forest]] without the memo, so that tests can run both arms on
    * one grid. */
  private[graft] def flowAccumD8Impl(grid: DataFrame,
                                     tileSize: Int): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    // the memoized pointer grid is a footed checkpoint in block layout:
    // its row count and r/c extent are read from its statistics, with
    // no job
    val ptr = d8Pointer(grid)
    val cells = ptr.select(col("r").cast("long").as("r"),
        col("c").cast("long").as("c"),
        (col("r") + perDir(dY)).cast("long").as("tr"),
        (col("c") + perDir(dX)).cast("long").as("tc"),
        (col("ptr") =!= 0).as("link"), lit(1L).as("w"), lit(0L).as("m"),
        lit(0L).as("s"),
        perDir(i => if (i % 2 == 0) DiagNano else 1000000000L)
          .cast("long").as("d"))
      .as[FlowNode]
    val (rows, extent, t) = (Checkpoint.rows(ptr), extentOf(ptr), tileSize.toLong)
    val acc =
      if (oneTask(rows, extent, t)) accumulateForest(cells, rows, extent, t)
      else contractBlocks(cells, rows, extent, t)
    acc.map(f => (f.r, f.c, f.w, f.m, f.s))
      .toDF("r", "c", "n_upslope", "max_len_nano", "sum_len_nano")
  }

  /** Tile side of the forest contraction. */
  private val ForestTile = 16

  /** (min r, max r, min c, max c) of the footed checkpoint `cp`, read
    * without a job; zeros when it is empty. */
  private def extentOf(cp: Dataset[_]): (Long, Long, Long, Long) =
    (for (r <- Checkpoint.range(cp, "r"); c <- Checkpoint.range(cp, "c"))
      yield (r._1, r._2, c._1, c._2)).getOrElse((0L, 0L, 0L, 0L))

  /** The solved forest of `nodes`, a frame of [[FlowNode]]'s columns
    * whose links join D8 neighbours, one node per cell of the footed
    * checkpoint `cells`: [[accumulateForest]] with tiles of side
    * [[ForestTile]], bounded by the row count and extent of `cells`,
    * read with no job. */
  private def solveForest(nodes: DataFrame,
                          cells: DataFrame): Dataset[FlowNode] = {
    import nodes.sparkSession.implicits._
    accumulateForest(nodes.as[FlowNode], Checkpoint.rows(cells),
      extentOf(cells), ForestTile)
  }

  /** Whether [[accumulateForest]] takes its base case: the forest has
    * at most `bound` nodes inside `extent` and fits one task. */
  private def oneTask(bound: Long, extent: (Long, Long, Long, Long),
                      t: Long): Boolean = {
    val (minR, maxR, minC, maxC) = extent
    bound <= localFixpointMaxRows ||
      (Math.floorDiv(maxR, t) - Math.floorDiv(minR, t) + 1) *
        (Math.floorDiv(maxC, t) - Math.floorDiv(minC, t) + 1) == 1
  }

  /** The accumulation of every node of the forest `nodes`, which has at
    * most `bound` nodes inside `extent` (min r, max r, min c, max c),
    * contracted over tiles of side `t` (see [[flowAccumD8]]). */
  private def accumulateForest(nodes: Dataset[FlowNode], bound: Long,
                               extent: (Long, Long, Long, Long),
                               t: Long): Dataset[FlowNode] = {
    import nodes.sparkSession.implicits._
    if (oneTask(bound, extent, t))
      return nodes.coalesce(1).mapPartitions(it =>
        FlowForest.accumulate(it.toArray, Iterator.empty))
    val (minR, maxR, minC, maxC) = extent
    val tiles = (Math.floorDiv(maxR, t) - Math.floorDiv(minR, t) + 1) *
      (Math.floorDiv(maxC, t) - Math.floorDiv(minC, t) + 1)
    val byTile = nodes.groupByKey(f => FlowForest.tileOf(f.r, f.c, t))
    val perimeter = byTile.flatMapGroups((_, it) =>
      FlowForest.perimeter(it.toArray, t, t))
    val solved = accumulateForest(perimeter,
      math.min(bound, tiles * (4 * t - 4)), extent, Math.multiplyExact(t, t))
    val seeds = solved.filter(f => f.link &&
      FlowForest.tileOf(f.tr, f.tc, t) != FlowForest.tileOf(f.r, f.c, t))
    byTile.cogroup(seeds.groupByKey(s => FlowForest.tileOf(s.tr, s.tc, t))) {
      (_, it, in) => FlowForest.accumulate(it.toArray, in)
    }
  }

  /** [[accumulateForest]]'s first level over the D8 forest `cells`,
    * which is in block layout: tiles of side `t` cut along block edges,
    * stage 1 over each partition's blocks, stage 3 per block with the
    * inflows zipped in (see [[flowAccumD8]]). */
  private def contractBlocks(cells: Dataset[FlowNode], rows: Long,
                             extent: (Long, Long, Long, Long),
                             t: Long): Dataset[FlowNode] = {
    val spark = cells.sparkSession
    import spark.implicits._
    val (minR, maxR, minC, maxC) = extent
    val tiles = FlowForest.cutTiles(minR, maxR, t, Blocks.Side) *
      FlowForest.cutTiles(minC, maxC, t, Blocks.Side)
    val perimeter = cells.mapPartitions(it =>
      Blocks.runs(it)(f => Blocks.of(f.r, f.c))
        .flatMap { case (_, block) => FlowForest.blockPerimeter(block, t) })
    val solved = accumulateForest(perimeter,
      math.min(rows, tiles * (4 * t - 4)), extent, Math.multiplyExact(t, t))
    // both sides are read in the job that consumes the result, with
    // no job or SQL execution of their own
    val nodes = InJobExchange.objects(cells)
    val inflow = InJobExchange.objects(Blocks.place(solved
        .filter(f => f.link && Blocks.of(f.tr, f.tc) != Blocks.of(f.r, f.c))
        .map { f =>
          val (br, bc) = Blocks.of(f.tr, f.tc)
          (br, bc, f)
        }.toDF("br", "bc", "f"), nodes.getNumPartitions)
      .select("f.*").as[FlowNode])
    spark.createDataset(nodes.zipPartitions(inflow)(FlowForest.accumulateBlocks))
  }

  /**
   * Pennock landform classification (TerrainAnalysisTools/
   * Pennocks_Landform_Classification.java:290-325): slope (degrees)
   * + profile/plan curvature thresholds -> classes 1-7 (convergent/
   * divergent foot/shoulder/back slopes, level). Flat cells (p = 0)
   * produce NaN curvatures whose comparisons are all false, falling
   * through to Level when slope <= threshold — reproduced exactly.
   */
  def pennockLandform(grid: DataFrame, nRows: Long, nCols: Long,
                      slopeT: Double = 3.0, profT: Double = 0.1,
                      planT: Double = 0.1): DataFrame = {
    val st = fxFy(surfaceTerms(grid, nRows, nCols))
      .withColumn("p", col("zx2") + col("zy2"))
    val slope = atan(sqrt(col("fx") * col("fx") + col("fy") * col("fy"))) *
      RadToDeg
    // flat cells (p = 0) would divide by zero; the reference's NaN
    // comparisons are all false — a null curvature behaves identically
    val prof = when(col("p") =!= 0, (col("zxx") * col("zx2") +
      lit(2) * col("zxy") * col("zx") * col("zy") +
      col("zyy") * col("zy2")) *
      lit(-1.0) / pow(col("p") * (col("p") + 1), 1.5) * RadToDeg)
    val plan = when(col("p") =!= 0, (col("zxx") * col("zy2") -
      lit(2) * col("zxy") * col("zx") * col("zy") +
      col("zyy") * col("zx2")) / pow(col("p"), 1.5) * RadToDeg)
    st.withColumn("slope", slope)
      .withColumn("prof", prof)
      .withColumn("plan", plan)
      .withColumn("cls",
        when(col("prof") < -profT && col("plan") <= -planT &&
          col("slope") > slopeT, 1L)
        .when(col("prof") < -profT && col("plan") > planT &&
          col("slope") > slopeT, 2L)
        .when(col("prof") > profT && col("plan") <= planT &&
          col("slope") > slopeT, 3L)
        .when(col("prof") > profT && col("plan") > planT &&
          col("slope") > slopeT, 4L)
        .when(col("prof") >= -profT && col("prof") < profT &&
          col("slope") > slopeT && col("plan") <= -planT, 5L)
        .when(col("prof") >= -profT && col("prof") < profT &&
          col("slope") > slopeT && col("plan") > planT, 6L)
        .when(col("slope") <= slopeT, 7L))
      .where(col("cls").isNotNull)
      .select(col("r"), col("c"), col("cls"))
  }

  /**
   * HorizonAngle, due-east azimuth (TerrainAnalysisTools/
   * HorizonAngle.java sweep semantics): per cell, atan of the max
   * elevation-over-distance ratio among cells east of it in its row;
   * cells with nothing east emit no row. Per-row array scan — one
   * shuffle on the row key.
   */
  def horizonAngleEast(grid: DataFrame): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    grid.select(col("r"), col("c"), col("v"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (r, it) =>
        // O(n log n) per row instead of the O(n^2) pairwise scan: the
        // max-slope target east of a cell always lies on the upper
        // convex hull of the cells east of it, and slope from a point
        // west of a strictly-convex chain is unimodal along the chain
        // — peak-find by binary search. Scan right-to-left keeping the
        // hull (buffer ordered east->west, westmost last); the slope
        // division uses the same operands as the naive scan, so the
        // attained max is bit-identical.
        val cells = it.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        val hx = new Array[Double](cells.length)
        val hz = new Array[Double](cells.length)
        var m = 0 // hull size; hx(0) eastmost, hx(m-1) westmost
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]
        var i = cells.length - 1
        while (i >= 0) {
          val qx = cells(i)._1.toDouble
          val qz = cells(i)._2
          if (m > 0) {
            @inline def f(k: Int): Double = (hz(k) - qz) / (hx(k) - qx)
            var lo = 0
            var hi = m - 1
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (f(mid) < f(mid + 1)) lo = mid + 1 else hi = mid
            }
            out += ((r, cells(i)._1, math.atan(f(lo))))
          }
          // insert q at the west end, restoring upper-hull convexity:
          // pop the current westmost while it sits on/below segment
          // (q -> second-westmost)
          while (m >= 2 && {
            val tx = hx(m - 1); val tz = hz(m - 1)
            val sx = hx(m - 2); val sz = hz(m - 2)
            (tz - qz) * (sx - qx) <= (sz - qz) * (tx - qx)
          }) m -= 1
          hx(m) = qx; hz(m) = qz; m += 1
          i -= 1
        }
        out.iterator
      }
      .toDF("r", "c", "ha0")
      .select(col("r"), col("c"), round(col("ha0"), 6).as("ha"))
  }

  /** Decoded D8 edges (r, c) -> (tr, tc) for flowing cells. */
  private[graft] def d8Edges(grid: DataFrame): DataFrame =
    d8EdgesFromPtr(d8Pointer(grid))

  /** Edge decode over an (r, c, ptr) frame. Callers that use the
    * pointer frame AGAIN alongside the edges (e.g. [[numInflowing]])
    * must pass a MATERIALIZED ptr: the when-chain over a plain `ptr`
    * attribute is cheap, but over the full d8Pointer pipeline the
    * fused stage duplicates the slope-array subtree per branch and
    * overflows janino's 64 KB method limit. */
  private[graft] def d8EdgesFromPtr(ptr: DataFrame): DataFrame =
    ptr.where(col("ptr") > 0).select(col("r"), col("c"),
      (col("r") + perDir(dY)).as("tr"), (col("c") + perDir(dX)).as("tc"))

  /** The D8 pointer decoder: `of(i)` where column `ptr` is 2^i, else
    * `none` (sinks). */
  private def perDir(of: Int => Any, none: Any = 0): Column =
    (0 until 8).foldLeft(lit(none)) { (acc, i) =>
      when(col("ptr") === (1 << i), lit(of(i))).otherwise(acc)
    }

  /** Dinf facet table (Tarboton 1997; reference FlowPointerDinf.java):
    * (orthogonal neighbour index, diagonal neighbour index) per facet
    * in the shared dY/dX neighbour order. Facet f spans the 45-degree
    * wedge between its orthogonal and diagonal edge. */
  private[operators] val dinfFacets: Seq[(Int, Int)] =
    Seq((1, 0), (7, 0), (7, 6), (5, 6), (5, 4), (3, 4), (3, 2), (1, 2))

  /**
   * FlowPointerDinf (Tarboton's D-infinity; reference
   * FlowPointerDinf.java facet sweep): per cell, the steepest of 8
   * triangular facets; flow splits between the facet's orthogonal
   * neighbour e1 and diagonal neighbour e2 by the angular position of
   * the steepest direction within the facet.
   *
   * Facet slope with s1 = z - z_e1, s2 = z_e1 - z_e2:
   *   s2 < 0   -> direction clamps to e1, slope s1       (all flow e1)
   *   s2 > s1  -> clamps to the diagonal, (z - z_e2)/√2  (all flow e2)
   *   else     -> sqrt(s1² + s2²), diagonal weight atan2(s2, s1)/(π/4)
   *
   * The clamp branches compare s1/s2 directly (never the atan2 result)
   * so branch decisions are bit-exact across engines; atan2 appears
   * only inside the continuous weight. Facets missing a neighbour
   * (grid edge) are invalid; max-slope <= 0 or no valid facet -> sink.
   * First facet attaining the max wins (d8Pointer's tie rule).
   *
   * Output: one row per flowing cell, (r, c, facet, t1r, t1c, w1,
   * t2r, t2c, w2) with w1 + w2 = 1 and w_i >= 0.
   */
  def dinfPointer(grid: DataFrame): DataFrame = {
    val nb = gatherNeighbors(grid)
    val sq2 = math.sqrt(2.0)
    def s1(f: Int) = col("v") - col(s"n${dinfFacets(f)._1}")
    def s2(f: Int) = col(s"n${dinfFacets(f)._1}") - col(s"n${dinfFacets(f)._2}")
    def sF(f: Int) = {
      val (o, d) = dinfFacets(f)
      when(col(s"n$o").isNull || col(s"n$d").isNull,
        lit(null).cast("double"))
        .when(s2(f) < 0, s1(f))
        .when(s2(f) > s1(f), (col("v") - col(s"n$d")) / sq2)
        .otherwise(sqrt(s1(f) * s1(f) + s2(f) * s2(f)))
    }
    // materialize between stages: CollapseProject would otherwise
    // inline each facet-slope tree into every downstream reference
    // (mx, chosen, weights — exponential expression blowup)
    val withS = nb.select(
      (col("r") +: col("c") +: col("v") +:
        (0 until 8).map(i => col(s"n$i"))) ++
        (0 until 8).map(f => sF(f).as(s"f$f")): _*)
      .transform(Checkpoint(_))
    val mx = greatest((0 until 8).map(f =>
      coalesce(col(s"f$f"), lit(-9.9999999e7))): _*)
    val chosen = (0 until 8).foldLeft(lit(-1)) { (acc, f) =>
      when(acc === -1 && col(s"f$f").isNotNull && col(s"f$f") === col("__mx"),
        lit(f)).otherwise(acc)
    }
    val pi4 = math.Pi / 4.0
    def perFacet(mk: Int => Column): Column =
      (0 until 8).foldLeft(lit(null).cast("double")) { (acc, f) =>
        when(col("__f") === f, mk(f)).otherwise(acc)
      }
    withS.withColumn("__mx", mx)
      .where(col("__mx") > 0)
      .withColumn("__f", chosen)
      .transform(Checkpoint(_))
      .withColumn("__w2", perFacet(f =>
        when(s2(f) < 0, lit(0.0))
          .when(s2(f) > s1(f), lit(1.0))
          .otherwise(atan2(s2(f), s1(f)) / pi4)))
      .select(col("r"), col("c"), col("__f").cast("long").as("facet"),
        (col("r") + perFacet(f => lit(dY(dinfFacets(f)._1).toDouble)))
          .cast("long").as("t1r"),
        (col("c") + perFacet(f => lit(dX(dinfFacets(f)._1).toDouble)))
          .cast("long").as("t1c"),
        (lit(1.0) - col("__w2")).as("w1"),
        (col("r") + perFacet(f => lit(dY(dinfFacets(f)._2).toDouble)))
          .cast("long").as("t2r"),
        (col("c") + perFacet(f => lit(dX(dinfFacets(f)._2).toDouble)))
          .cast("long").as("t2c"),
        col("__w2").as("w2"))
  }

  /** Dinf weighted edges (r, c) -> (tr, tc, w), w > 0, plus the
    * direction index `j` of the source RELATIVE TO the target (so the
    * accumulation can pivot incoming loads into a fixed 8-slot order —
    * at most one in-edge per slot — and sum them in deterministic
    * textual order on both engines). */
  private[graft] def dinfEdges(grid: DataFrame): DataFrame = {
    val p = dinfPointer(grid)
    val e1 = p.where(col("w1") > 0).select(col("r"), col("c"),
      col("t1r").as("tr"), col("t1c").as("tc"), col("w1").as("w"))
    val e2 = p.where(col("w2") > 0).select(col("r"), col("c"),
      col("t2r").as("tr"), col("t2c").as("tc"), col("w2").as("w"))
    val dirIdx = (0 until 8).foldLeft(lit(-1)) { (acc, j) =>
      when(col("r") - col("tr") === dY(j) && col("c") - col("tc") === dX(j),
        lit(j)).otherwise(acc)
    }
    e1.unionByName(e2).withColumn("j", dirIdx)
  }

  /**
   * Dinf flow accumulation: specific catchment = 1 + Σ(w_in · acc_up)
   * over the weighted Dinf DAG, by [[slotAccum]]'s `rounds`
   * direction-slot Jacobi iterations.
   */
  def dinfAccum(grid: DataFrame, rounds: Int = 24): DataFrame =
    weightedAccum(dinfEdges(grid), grid, rounds)

  /**
   * Size switch for the iterative fixpoints: below this many rows the
   * Jacobi rounds / pointer chases run in ONE task over primitive
   * arrays — identical arithmetic in identical order, so the result
   * is bit-equal to the distributed rounds, without paying ~0.5 s of
   * job-scheduling overhead per round for a relation that fits in one
   * executor's memory. Above it, the distributed form runs (the
   * 100 TB path). This is the same runtime-statistics-driven strategy
   * choice AQE makes for joins, applied to iteration. Tests lower it
   * to force the distributed path.
   */
  private[graft] var localFixpointMaxRows: Long = 4000000L

  /**
   * Slot-ordered Jacobi accumulation, the one kernel of the weighted
   * DAG accumulations (Dinf, FD8, MDInf, the stream-head threshold
   * switch and mass flux). `cells` is (r, c, seed, source attributes)
   * and `edges` is (r, c, tr, tc, j, edge attributes), where `j` is
   * the direction of the source relative to the target, so each
   * (target, slot) holds at most one edge. Every round sets each cell
   * to seed + d0 + … + d7, where d_j is what the slot's source sends
   * (0.0 for an empty slot), added in that textual order — no
   * ordering freedom anywhere, so every round is bit-exact against
   * the identically-unrolled SQL oracle, and once the longest path
   * has propagated the same doubles recompute: any `rounds` >= the
   * longest path length yields the fixpoint.
   *
   * The send rule comes in two forms that must agree: `sendCol` over
   * `__a` (the source's value) and the attribute columns, for the
   * distributed rounds, and `send(a, src, edge)` with the source and
   * edge attributes as doubles in column order, for the one-task
   * rounds. The loop is not lazy: edges and cells are footed
   * checkpoints (one eager job each), and the arm is picked from the
   * cells checkpoint's row count, which costs no job. Up to
   * [[localFixpointMaxRows]] cells the rounds run in one task (one
   * job when the result is used); above it each round is one shuffle
   * of the cell relation, and every second round a checkpoint
   * truncates the lineage. Output: (r, c, acc).
   */
  private def slotAccum(cellsIn: DataFrame, edgesIn: DataFrame,
                        rounds: Int)(sendCol: Column,
      send: (Double, Array[Double], Array[Double]) => Double): DataFrame = {
    val edges = Checkpoint(edgesIn)
    val cells = Checkpoint(cellsIn)
    val srcAttrs = cells.columns.toSeq.diff(Seq("r", "c", "seed"))
    val edgeAttrs = edges.columns.toSeq.diff(Seq("r", "c", "tr", "tc", "j"))
    if (Checkpoint.rows(cells) <= localFixpointMaxRows) {
      val spark = cells.sparkSession
      import spark.implicits._
      def doubles(names: Seq[String]) =
        if (names.isEmpty) typedLit(Seq.empty[Double])
        else array(names.map(n => col(n).cast("double")): _*)
      val tagged = cells
        .select(col("r").cast("long").as("r"),
          col("c").cast("long").as("c"),
          lit(0L).as("tr"), lit(0L).as("tc"), lit(-1).as("j"),
          col("seed").cast("double").as("seed"), doubles(srcAttrs).as("x"))
        .unionByName(edges.select(col("r").cast("long").as("r"),
          col("c").cast("long").as("c"), col("tr").cast("long").as("tr"),
          col("tc").cast("long").as("tc"), col("j").cast("int").as("j"),
          lit(0.0).as("seed"), doubles(edgeAttrs).as("x")))
        .as[(Long, Long, Long, Long, Int, Double, Array[Double])]
      return tagged.coalesce(1).mapPartitions { it =>
        val rows = it.toArray
        val nodes = rows.filter(_._5 == -1)
        val idx = new scala.collection.mutable.HashMap[(Long, Long), Int]
        nodes.zipWithIndex.foreach { case (t, i) => idx((t._1, t._2)) = i }
        val n = nodes.length
        val seed = nodes.map(_._6)
        val src = nodes.map(_._7)
        // slot i * 8 + j of target i: its source's index and attributes
        val inSrc = Array.fill(n * 8)(-1)
        val inE = new Array[Array[Double]](n * 8)
        rows.foreach {
          case (r, c, tr, tc, j, _, x) if j >= 0 =>
            val k = idx((tr, tc)) * 8 + j
            require(inSrc(k) == -1, s"duplicate edge slot ($tr,$tc,$j)")
            inSrc(k) = idx((r, c)); inE(k) = x
          case _ =>
        }
        var acc = seed.clone()
        for (_ <- 1 to rounds) {
          val nxt = new Array[Double](n)
          var i = 0
          while (i < n) {
            var s = seed(i)
            var k = i * 8
            while (k < i * 8 + 8) {
              val si = inSrc(k)
              if (si >= 0) s += send(acc(si), src(si), inE(k))
              else s += 0.0
              k += 1
            }
            nxt(i) = s
            i += 1
          }
          acc = nxt
        }
        nodes.indices.iterator.map(i => (nodes(i)._1, nodes(i)._2, acc(i)))
      }.toDF("r", "c", "acc")
    }
    var acc = cells.select(col("r") +: col("c") +: col("seed").as("acc") +:
      srcAttrs.map(col): _*)
    for (i <- 1 to rounds) {
      val contrib = edges
        .join(acc.withColumnRenamed("acc", "__a"), Seq("r", "c"))
        .groupBy(col("tr").as("r"), col("tc").as("c"))
        .agg(sum(when(col("j") === 0, sendCol)).as("d0"),
          (1 until 8).map(j =>
            sum(when(col("j") === j, sendCol)).as(s"d$j")): _*)
      acc = cells.join(contrib, Seq("r", "c"), "left")
        .select(col("r") +: col("c") +:
          (0 until 8).foldLeft(col("seed")) { (s, j) =>
            s + coalesce(col(s"d$j"), lit(0.0))
          }.as("acc") +: srcAttrs.map(col): _*)
      // frequent lineage truncation: nested join+pivot rounds blow up
      // the optimizer's constraint propagation (OOM past ~6 rounds)
      if (i % 2 == 0 && i < rounds) acc = Checkpoint(acc)
    }
    acc.select(col("r"), col("c"), col("acc"))
  }

  /** Accumulation of 1.0 per cell over weighted (r, c, tr, tc, w, j)
    * edges: Dinf, FD8 and MDInf. */
  private def weightedAccum(edges: DataFrame, grid: DataFrame,
                            rounds: Int): DataFrame =
    slotAccum(grid.select(col("r"), col("c"), lit(1.0).as("seed")),
      edges, rounds)(col("w") * col("__a"), (a, _, e) => e(0) * a)

  /**
   * FD8 weighted edges (HydroTools/FlowAccumFD8.java:400-436): flow
   * splits among ALL strictly-lower neighbours proportionally to
   * relief^power (relief = z - z_n, NOT distance-corrected — the
   * reference apportions on relief alone). Output matches
   * [[dinfEdges]]'s contract: (r, c, tr, tc, w, j) with j the
   * direction of the source relative to the target, so
   * [[weightedAccum]]'s fixed-slot pivot applies unchanged.
   */
  private[graft] def fd8Edges(grid: DataFrame,
                              power: Double): DataFrame = {
    val nb = gatherNeighbors(grid)
    def relief(i: Int) =
      when(col(s"n$i").isNotNull && col("v") > col(s"n$i"),
        pow(col("v") - col(s"n$i"), lit(power)))
        .otherwise(lit(null).cast("double"))
    val withR = nb.select(
      (col("r") +: col("c") +:
        (0 until 8).map(i => relief(i).as(s"rl$i"))): _*)
      .withColumn("__tot", (0 until 8).foldLeft(lit(0.0)) { (s, i) =>
        s + coalesce(col(s"rl$i"), lit(0.0))
      })
      .where(col("__tot") > 0)
    val perDir = (0 until 8).map { i =>
      withR.where(col(s"rl$i").isNotNull)
        .select(col("r"), col("c"),
          (col("r") + dY(i)).as("tr"), (col("c") + dX(i)).as("tc"),
          (col(s"rl$i") / col("__tot")).as("w"),
          // direction of source relative to target = opposite of i
          lit((i + 4) % 8).as("j"))
    }
    perDir.reduce(_.unionByName(_))
  }

  /** FD8 flow accumulation (FlowAccumFD8.java): 1 + relief-weighted
    * multi-direction inflow, via [[weightedAccum]]. */
  def fd8Accum(grid: DataFrame, power: Double = 1.0,
               rounds: Int = 24): DataFrame =
    weightedAccum(fd8Edges(grid, power), grid, rounds)

  /** MDInf neighbour order (GeasyTools/FlowAccumMDInf.java:50-52,
    * Seibert & McGlynn): m = 0 is north, sweeping west-about. Maps to
    * the shared dY/dX order (NE clockwise) as n(7 - m). */
  private[graft] val mYd = Seq(-1, -1, 0, 1, 1, 1, 0, -1)
  private[graft] val mXd = Seq(0, -1, -1, -1, 0, 1, 1, 1)
  private val mDd = Seq(1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0),
    1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0))

  /**
   * MDInf weighted edges (FlowAccumMDInf.java:413-570, the Seibert &
   * McGlynn 2007 multiple-direction Dinf): eight triangular facets
   * between consecutive neighbour rays; each facet gets a downslope
   * direction hr (clamped into its 45-degree wedge, falling back to
   * the lower of its two edge neighbours) and slope hs; facets whose
   * direction survives the reference's valley tests contribute
   * hs^hExp / Σ hs^hExp of the cell's flow, split between the facet's
   * two bounding rays by angular position.
   *
   * hs is the facet-plane gradient magnitude computed algebraically as
   * -sqrt(1 - x²)/x with x = nz/|n| — the exact value of the
   * reference's -tan(acos(x)) without the tan/acos library calls (so
   * both engines evaluate identical arithmetic). The p1-only fallback
   * keeps the reference's dd[ii] divisor verbatim. Output matches
   * [[dinfEdges]]'s (r, c, tr, tc, w, j) contract so
   * [[weightedAccum]]'s fixed-slot pivot applies unchanged.
   */
  private[graft] def mdinfEdges(grid: DataFrame,
                                hExp: Double): DataFrame =
    graft.core.Memo.cached(
      graft.core.Memo.key(grid, s"mdinfEdges:$hExp"),
      grid.sparkSession) { mdinfEdgesImpl(grid, hExp) }

  private def mdinfEdgesImpl(grid: DataFrame,
                             hExp: Double): DataFrame = {
    require(hExp < 10,
      "hExp >= 10 selects the reference's single-direction arm; use d8")
    val pi = math.Pi
    // The facet computation runs in THREE narrow projections with a
    // materialization between each: fused into one stage, the 16
    // full facet trees blow whole-stage codegen's 64KB processNext
    // (janino InternalCompilerException -> ~3s of failed compilation
    // + interpreted fallback per run). Materializing doubles is
    // exact, so the staged values are bit-identical to the fused
    // tree's.
    val nb = gatherNeighbors(grid).select(
      col("r") +: col("c") +: col("v") +:
        (0 until 8).map(m => col(s"n${7 - m}").as(s"p$m")): _*)
      .transform(Checkpoint(_))
    def p(m: Int) = col(s"p${m % 8}")
    def nzd(m: Int): Double = {
      val m1 = (m + 1) % 8
      (mXd(m) * mYd(m1) - mXd(m1) * mYd(m)).toDouble
    }
    // stage 1: facet normals (FlowAccumMDInf.java:443-459)
    val withN = nb.select(
      (col("r") +: col("c") +: col("v") +:
        (0 until 8).map(m => p(m))) ++
        (0 until 8).flatMap { m =>
          val m1 = (m + 1) % 8
          val z1 = p(m) - col("v")
          val z2 = p(m1) - col("v")
          Seq((lit(mYd(m).toDouble) * z2 - lit(mYd(m1).toDouble) * z1)
            .as(s"nx$m"),
            (lit(mXd(m1).toDouble) * z1 - lit(mXd(m).toDouble) * z2)
              .as(s"ny$m"))
        }: _*)
      .transform(Checkpoint(_))
    // stage 2: unclamped direction + algebraic slope magnitude
    val withH = withN.select(
      (col("r") +: col("c") +: col("v") +:
        (0 until 8).map(m => p(m))) ++
        (0 until 8).flatMap { m =>
          val nxc = col(s"nx$m"); val nyc = col(s"ny$m")
          val hr0 = when(nxc === 0,
              when(nyc >= 0, lit(0.0)).otherwise(lit(pi)))
            .otherwise(when(nxc >= 0, lit(pi / 2) - atan(nyc / nxc))
              .otherwise(lit(3 * pi / 2) - atan(nyc / nxc)))
          val xq = lit(nzd(m)) /
            sqrt(nxc * nxc + nyc * nyc + lit(nzd(m) * nzd(m)))
          val hs0 = -(sqrt(lit(1.0) - xq * xq) / xq)
          Seq(hr0.as(s"hr0_$m"), hs0.as(s"hs0_$m"))
        }: _*)
      .transform(Checkpoint(_))
    // stage 3: wedge clamp + single-neighbour fallback
    // (FlowAccumMDInf.java:461-501)
    def hrhs(m: Int): (Column, Column) = {
      val m1 = (m + 1) % 8
      val hr0 = col(s"hr0_$m"); val hs0 = col(s"hs0_$m")
      val lo = lit(m * pi / 4)
      val hi = lit((m + 1) * pi / 4)
      val clamp = hr0 < lo || hr0 > hi
      val both = p(m).isNotNull && p(m1).isNotNull
      val hr = when(both,
          when(clamp,
            when(p(m) < p(m1), lo).otherwise(lit(m1 * pi / 4)))
            .otherwise(hr0))
        .when(p(m).isNotNull && p(m) < col("v"), lo)
        .otherwise(lit(0.0))
      val hs = when(both,
          when(clamp,
            when(p(m) < p(m1), (col("v") - p(m)) / mDd(m))
              .otherwise((col("v") - p(m1)) / mDd(m1)))
            .otherwise(hs0))
        .when(p(m).isNotNull && p(m) < col("v"),
          (col("v") - p(m)) / mDd(m1))
        .otherwise(lit(null).cast("double"))
      (hr, hs)
    }
    // materialize the facet stage: downstream valley tests reference
    // adjacent facets, which would otherwise duplicate each facet
    // tree 3x (same CollapseProject blowup dinfPointer guards against)
    val withF = withH.select(
      (col("r") +: col("c") +:
        (0 until 8).flatMap { m =>
          val (hr, hs) = hrhs(m)
          Seq(hr.as(s"hr$m"), hs.as(s"hs$m"))
        }): _*)
      .transform(Checkpoint(_))
    def hrc(m: Int) = col(s"hr${m % 8}")
    def hsc(m: Int) = col(s"hs${m % 8}")
    // valley tests (FlowAccumMDInf.java:504-529): a facet flows iff
    // its direction is strictly inside its wedge, or degenerately on a
    // wedge border shared with an equal-direction / NoData neighbour
    def valleyCol(m: Int): Column = {
      val lo = lit(m * pi / 4); val hi = lit((m + 1) * pi / 4)
      when(hsc(m).isNotNull && hsc(m) > 0,
        when(hrc(m) > lo && hrc(m) < hi, hsc(m))
          .when(hrc(m) === hrc(m + 1), hsc(m))
          .when(hsc(m + 1).isNull && hrc(m) === hi, hsc(m))
          .when(hsc(m + 7).isNull && hrc(m) === lo, hsc(m))
          .otherwise(lit(0.0)))
        .otherwise(lit(0.0))
    }
    val withV = withF.select(
      (Seq(col("r"), col("c")) ++
        (0 until 8).map(m => hrc(m)) ++
        (0 until 8).map(m => valleyCol(m).as(s"vl$m"))): _*)
      .withColumn("__vsum",
        (0 until 8).map(m => pow(col(s"vl$m"), lit(hExp)))
          .reduce(_ + _))
      .where(col("__vsum") > 0)
      .transform(Checkpoint(_))
    def wgt(m: Int) = pow(col(s"vl$m"), lit(hExp)) / col("__vsum")
    // rFacet[7] == 0 -> 2π (FlowAccumMDInf.java:547-549) so facet 7's
    // angular split sees north as 2π, not 0
    def rr(m: Int): Column =
      if (m == 7) when(col("hr7") === 0, lit(2 * pi))
        .otherwise(col("hr7"))
      else col(s"hr$m")
    // portion to ray d = own-facet share + previous-facet share
    // (two-term add is order-free; zero terms are exact no-ops)
    def portion(d: Int): Column = {
      val prev = (d + 7) % 8
      val own = when(wgt(d) > 0,
        (wgt(d) * (lit((d + 1) * pi / 4) - rr(d))) / lit(pi / 4))
        .otherwise(lit(0.0))
      val fromPrev = when(wgt(prev) > 0,
        (wgt(prev) * (rr(prev) - lit(prev * pi / 4))) / lit(pi / 4))
        .otherwise(lit(0.0))
      own + fromPrev
    }
    val arms = (0 until 8).map { d =>
      withV.withColumn("__w", portion(d))
        .where(col("__w") > 0)
        .select(col("r"), col("c"),
          (col("r") + mYd(d)).as("tr"), (col("c") + mXd(d)).as("tc"),
          col("__w").as("w"),
          // source direction relative to target in the shared dY/dX
          // order: repo index of mdinf ray d is 7-d; opposite is +4
          lit((11 - d) % 8).as("j"))
    }
    arms.reduce(_.unionByName(_))
  }

  /** MDInf flow accumulation (FlowAccumMDInf.java): 1 + Seibert &
    * McGlynn facet-apportioned inflow, via [[weightedAccum]]. Both
    * the edges and the accumulation are memoized: geo_mdinf_accum /
    * geo_side_mdinf / geo_stream_heads_mdinf all derive them from
    * the same DEM in one session. */
  def mdinfAccum(grid: DataFrame, hExp: Double = 1.0,
                 rounds: Int = 24): DataFrame =
    graft.core.Memo.cached(
      graft.core.Memo.key(grid, s"mdinfAccum:$hExp:$rounds"),
      grid.sparkSession) {
      weightedAccum(mdinfEdges(grid, hExp), grid, rounds)
    }

  /** D8 steepest-descent direction in the MDINF neighbour order
    * (m = 0 north, west-about): first-wins argmax of
    * (z - z_m)/dd_m over strictly-lower present neighbours, null
    * when the cell has none — the shared D8FlowDirection of
    * SIDE_MDInf.java:728-753 and StreamHeadsMDInf.java:497-522
    * (their MIN_VALUE vs NEGATIVE_INFINITY seeds are equivalent for
    * the always-positive downhill slopes). */
  private[graft] def d8DirMdinf(grid: DataFrame): DataFrame = {
    val nb = gatherNeighbors(grid).select(
      col("r") +: col("c") +: col("v") +:
        (0 until 8).map(m => col(s"n${7 - m}").as(s"p$m")): _*)
    def sl(m: Int) = when(col(s"p$m").isNotNull && col("v") > col(s"p$m"),
      (col("v") - col(s"p$m")) / lit(mDd(m)))
    val withS = nb.select(col("r") +: col("c") +:
      (0 until 8).map(m => sl(m).as(s"sl$m")): _*)
      .withColumn("__mx", greatest((0 until 8).map(m =>
        coalesce(col(s"sl$m"), lit(Double.NegativeInfinity))): _*))
    val dir = (0 until 8).reverse.foldLeft(lit(null).cast("int")) {
      (acc, m) =>
        when(col(s"sl$m").isNotNull && col(s"sl$m") === col("__mx"),
          lit(m)).otherwise(acc)
    }
    withS.select(col("r"), col("c"), dir.as("dir"))
  }

  /** Azimuth preprocessing shared by HorizonAngle / FetchAnalysis /
    * DirectionalRelief (FetchAnalysis.java:236-248, identical in all
    * three): clamp degenerate azimuths off the axes, line slope from
    * the tangent, quadrant step signs. */
  private[graft] def azParams(azimuthDeg: Double): (Double, Int, Int) = {
    var az = azimuthDeg
    if (az > 360 || az < 0) az = 0.1
    if (az == 0) az = 0.1
    if (az == 180) az = 179.9
    if (az == 360) az = 359.9
    val lineSlope =
      if (az < 180) math.tan(math.toRadians(90 - az))
      else math.tan(math.toRadians(270 - az))
    val (xs, ys) =
      if (az > 0 && az <= 90) (1, 1)
      else if (az <= 180) (1, -1)
      else if (az <= 270) (-1, -1)
      else (-1, 1)
    (lineSlope, xs, ys)
  }

  /** Out-of-grid sentinel: WhiteboxRaster.getValue returns the
    * raster's NoData for out-of-range reads (WhiteboxRaster.java:
    * 534-537, isReflectedAtEdges false); the engine's stand-in DEMs
    * carry the conventional .dep default of -32768. The azimuth
    * ray-walk tools interpolate THROUGH this sentinel exactly like
    * the reference does (including its horizontal-pass
    * `getValue((int)y, ...)` negated-row read, which lands out of
    * grid for every step past the cell's own row). */
  private val azNoData = -32768.0

  /**
   * The shared two-pass sight-line sampler of HorizonAngle /
   * FetchAnalysis / DirectionalRelief (FetchAnalysis.java:284-378 —
   * the same walk copy-pasted in all three): per cell, pass 0 walks
   * the VERTICAL grid-line intersections of the azimuth ray (x steps
   * by +-1, z linearly interpolated between the bracketing rows) and
   * pass 1 the HORIZONTAL intersections (y steps by +-1 in the
   * negated-row space, z interpolated between bracketing columns).
   * Each pass ends at its first bounds / maxDist violation — the
   * walk's do-break structure is reproduced by keeping only steps
   * BEFORE the first violating k (window min), with no monotonicity
   * assumption. Emits one row per surviving (cell, pass, k):
   * (r, c, v, pass, k, dist, z1, z2, z).
   *
   * Executed as cells x step-range (steps capped at ceil(maxDist)
   * cells when finite) with two bounded joins back to
   * the grid — O(N*K) like the reference's own walk, but shuffled
   * once and embarrassingly parallel over cells.
   */
  private def azimuthWalkSamples(grid: DataFrame, nRows: Long,
                                 nCols: Long, azimuthDeg: Double,
                                 maxDist: Double,
                                 x2Bounds: Boolean): DataFrame = {
    val spark = grid.sparkSession
    val (ls, xs, ys) = azParams(azimuthDeg)
    val useMax = !maxDist.isInfinite
    val cells = grid.select(col("r"), col("c"), col("v"))
    val g1 = grid.select(col("r").as("jr1"), col("c").as("jc1"),
      col("v").as("z1r"))
    val g2 = grid.select(col("r").as("jr2"), col("c").as("jc2"),
      col("v").as("z2r"))
    val yI = -col("r").cast("double") - lit(ls) * col("c")
    // Step k lies at least k cells from its cell, so every step past
    // ceil(maxDist) is bad: capping the range there, before the cross
    // join, leaves the surviving prefix (k < first bad k) unchanged.
    val stepCap =
      if (useMax && !maxDist.isNaN) math.max(0L, math.ceil(maxDist).toLong)
      else Long.MaxValue

    // pass 0: vertical intersections
    val k0 = spark.range(1, math.min(nCols, stepCap) + 1).toDF("k")
    val xD0 = (col("c") + col("k") * xs).cast("double")
    val v0 = cells.crossJoin(broadcast(k0))
      .withColumn("xD", xD0)
      .withColumn("yD", (lit(ls) * xD0 + yI) * lit(-1.0))
      .withColumn("dist",
        sqrt((col("xD") - col("c")) * (col("xD") - col("c")) +
          (col("yD") - col("r")) * (col("yD") - col("r"))))
      .withColumn("bad",
        !(col("xD") >= 0 && col("xD") < nCols) ||
          !(col("yD") >= 0 && col("yD") < nRows) ||
          (if (useMax) col("dist") > maxDist else lit(false)))
      .withColumn("jr1", col("yD").cast("long"))
      .withColumn("jc1", col("xD").cast("long"))
      .withColumn("jr2", col("jr1") - ys)
      .withColumn("jc2", col("jc1"))
      .withColumn("frac", col("yD") - col("jr1"))
      .withColumn("pass", lit(0))
    // pass 1: horizontal intersections (y in negated-row space).
    // An axis-parallel azimuth (90/270) makes lineSlope 0: the
    // reference's x = (y - yIntercept)/lineSlope divides by zero to
    // +-Infinity and breaks on the x bounds check at the first step
    // — i.e. the pass contributes nothing. ANSI mode errors on the
    // double division instead, so the ls == 0 case short-circuits to
    // an all-bad pass with a dummy x.
    val k1 = spark.range(1, math.min(nRows, stepCap) + 1).toDF("k")
    val yH = (-col("r") + col("k") * ys).cast("double")
    val xD1 = if (ls == 0.0) lit(0.0) else (yH - yI) / lit(ls)
    val h0 = cells.crossJoin(broadcast(k1))
      .withColumn("yH", yH)
      .withColumn("xD", xD1)
      .withColumn("x1", xD1.cast("long"))
      .withColumn("x2", col("x1") + xs)
      .withColumn("dist",
        sqrt((col("xD") - col("c")) * (col("xD") - col("c")) +
          (-col("yH") - col("r")) * (-col("yH") - col("r"))))
      .withColumn("bad",
        if (ls == 0.0) lit(true)
        else !(-col("yH") >= 0 && -col("yH") < nRows) ||
          !(col("xD") >= 0 && col("xD") < nCols) ||
          (if (useMax) col("dist") > maxDist else lit(false)) ||
          (if (x2Bounds) !(col("x2") >= 0 && col("x2") < nCols)
           else lit(false)))
      .withColumn("jr1", (-col("yH")).cast("long"))
      .withColumn("jc1", col("x1"))
      .withColumn("jr2", col("yH").cast("long"))
      .withColumn("jc2", col("x2"))
      .withColumn("frac", col("xD") - col("x1"))
      .withColumn("pass", lit(1))
    val shared = Seq("r", "c", "v", "pass", "k", "dist", "bad",
      "jr1", "jc1", "jr2", "jc2", "frac")
    val samples = v0.select(shared.map(col): _*)
      .unionByName(h0.select(shared.map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c", "pass")
    samples
      .withColumn("firstBad",
        min(when(col("bad"), col("k"))).over(w))
      .where(col("k") < coalesce(col("firstBad"),
        lit(Long.MaxValue)))
      .join(g1, Seq("jr1", "jc1"), "left")
      .join(g2, Seq("jr2", "jc2"), "left")
      .select(col("r"), col("c"), col("v"), col("pass"), col("k"),
        col("dist"),
        coalesce(col("z1r"), lit(azNoData)).as("z1"),
        coalesce(col("z2r"), lit(azNoData)).as("z2"),
        (coalesce(col("z1r"), lit(azNoData)) + col("frac") *
          (coalesce(col("z2r"), lit(azNoData)) -
            coalesce(col("z1r"), lit(azNoData)))).as("z"))
  }

  /**
   * HorizonAngle at an arbitrary azimuth (TerrainAnalysisTools/
   * HorizonAngle.java:286-430): max over both sight-line passes of
   * (z - z0)/dist seeded at -9999999, to degrees(atan); angles below
   * -89 (including the no-sample case) emit 0. Float max is
   * order-free, so the two-pass scan order needs no reproduction.
   */
  def horizonAngle(grid: DataFrame, nRows: Long, nCols: Long,
                   azimuthDeg: Double,
                   maxDist: Double = Double.PositiveInfinity)
      : DataFrame = {
    val s = azimuthWalkSamples(grid, nRows, nCols, azimuthDeg,
      maxDist, x2Bounds = false)
    val agg = s.groupBy("r", "c")
      .agg(max((col("z") - col("v")) / col("dist")).as("mslope"))
    val ang = degrees(atan(
      greatest(coalesce(col("mslope"), lit(-9999999.0)),
        lit(-9999999.0))))
    grid.select(col("r"), col("c")).join(agg, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        round(when(ang < -89, lit(0.0)).otherwise(ang), 6)
          .as("horizon_angle"))
  }

  /**
   * FetchAnalysis at an arbitrary azimuth (FetchAnalysis.java:
   * 284-388): distance to the first sight-line sample whose
   * interpolated z rises at >= heightIncrement per unit distance
   * above the cell — each pass stops at ITS first such hit, and the
   * horizontal pass only overrides a vertical hit when nearer
   * (= min of the two first-hit distances); with no hit anywhere the
   * output is minus the longer of the two walks' end distances
   * (0 for a pass that never produced a valid step). The first hit
   * per pass is the min-k hit inside the walk prefix, so the
   * sequential break reproduces as a pair of min-aggregations.
   * `+ 0.0` canonicalises the reference's `-0.0` for empty corner
   * walks on both engine and oracle.
   */
  def fetchAnalysis(grid: DataFrame, nRows: Long, nCols: Long,
                    azimuthDeg: Double, heightIncrement: Double)
      : DataFrame = {
    val s = azimuthWalkSamples(grid, nRows, nCols, azimuthDeg,
      Double.PositiveInfinity, x2Bounds = true)
      .withColumn("hit",
        col("z") >= col("v") + col("dist") * heightIncrement)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c", "pass")
    // the walk prefix truncates at the pass's first hit
    val pre = s
      .withColumn("firstHit", min(when(col("hit"), col("k"))).over(w))
      .where(col("k") <= coalesce(col("firstHit"), lit(Long.MaxValue)))
    val perPass = pre.groupBy("r", "c", "pass")
      .agg(min(when(col("hit"), col("dist"))).as("hitDist"),
        max(col("dist")).as("lastDist"))
    val agg = perPass.groupBy("r", "c")
      .agg(min(col("hitDist")).as("hd"),
        max(col("lastDist")).as("ld"))
    grid.select(col("r"), col("c")).join(agg, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        round(coalesce(col("hd"), -coalesce(col("ld"), lit(0.0))) +
          lit(0.0), 6).as("fetch_dist"))
  }

  /**
   * DirectionalRelief at an arbitrary azimuth (DirectionalRelief
   * .java:296-395): mean of the interpolated sight-line elevations
   * (samples whose BOTH bracketing reads are in-grid — the
   * reference's noData guard, which its negated-row horizontal read
   * fails for all but the first step) minus the cell's own
   * elevation; 0 with no samples. The float sum is made order-free
   * by accumulating in nanometre-scaled integers (exact in both
   * engines; within 1e-9/sample of the reference's float sum, far
   * inside the 6-decimal output rounding).
   */
  def directionalRelief(grid: DataFrame, nRows: Long, nCols: Long,
                        azimuthDeg: Double,
                        maxDist: Double = Double.PositiveInfinity)
      : DataFrame = {
    val s = azimuthWalkSamples(grid, nRows, nCols, azimuthDeg,
      maxDist, x2Bounds = true)
      .where(col("z1") =!= azNoData && col("z2") =!= azNoData)
    val agg = s.groupBy("r", "c")
      .agg(sum(round(col("z") * 1e9).cast("long")).as("sn"),
        count(lit(1)).as("n"))
    grid.select(col("r"), col("c"), col("v"))
      .join(agg, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        round(when(col("n").isNotNull && col("n") > 0,
          col("sn").cast("double") / 1e9 / col("n") - col("v"))
          .otherwise(lit(0.0)), 6).as("relief"))
  }

  /** x/y components of the MDINF ray for a direction column. */
  private def mXdOf(dir: Column): Column =
    (0 until 8).foldLeft(lit(0)) { (acc, m) =>
      when(dir === m, lit(mXd(m))).otherwise(acc) }
  private def mYdOf(dir: Column): Column =
    (0 until 8).foldLeft(lit(0)) { (acc, m) =>
      when(dir === m, lit(mYd(m))).otherwise(acc) }

  /**
   * SIDE_MDInf (GeasyTools/src/plugins/SIDE_MDInf.java:180-560): for
   * every stream cell, the total / right-bank / left-bank lateral
   * inflow. Each stream cell starts at initialValue - caThreshold
   * (split half/half); a NON-stream neighbour contributes its input
   * flow-accumulation times its MDInf portion toward the stream cell
   * (the same Seibert & McGlynn facet apportioning as
   * [[mdinfEdges]]), bank-classified by FindSide (SIDE_MDInf.java:
   * 558-700: integer cross products of the flow-line vector against
   * the stream cell's D8 direction and its upstream tributaries'
   * directions, with the sharp-bend and junction-between-tributaries
   * rules); a STREAM neighbour whose D8 steepest descent is the
   * stream cell contributes caThreshold, split half/half.
   * Contributions fold in the reference's fixed neighbour order
   * (c = 0..7 west-about), so the float sums are order-exact.
   *
   * Everything is a bounded-stencil relational pass — the tool is
   * NOT sequential (the input flow accumulation is a separate input,
   * SIDE_MDInf.java:348) — so it distributes like any focal op.
   * Output covers every grid cell (non-stream cells are 0, loop 1).
   */
  def sideMdinf(grid: DataFrame, flowAccum: DataFrame,
                streams: DataFrame, caThr: Double,
                hExp: Double = 1.0): DataFrame = {
    val st = streams.select(col("r"), col("c")).transform(Checkpoint(_))
    // per-cell info code: 16*isStream + D8 dir (8 = no downslope)
    val info = d8DirMdinf(grid)
      .join(st.withColumn("__s", lit(1)), Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        (coalesce(col("dir"), lit(8)) +
          when(col("__s").isNotNull, lit(16)).otherwise(lit(0)))
          .cast("double").as("v"))
    val gath = gatherNeighbors(info).select(
      col("r") +: col("c") +: col("v").cast("int").as("code") +:
        (0 until 8).map(m => col(s"n${7 - m}").cast("int").as(s"q$m")): _*)
      .transform(Checkpoint(_))
    // MDInf edges from non-stream sources into stream targets, with
    // the source's input flow accumulation
    val edges = mdinfEdges(grid, hExp)
      .join(st.select(col("r").as("tr"), col("c").as("tc"),
        lit(1).as("__ts")), Seq("tr", "tc"))
      .join(st.withColumn("__ss", lit(1)), Seq("r", "c"), "left")
      .where(col("__ss").isNull)
      .join(flowAccum.select(col("r"), col("c"), col("acc")),
        Seq("r", "c"))
      .select(col("r"), col("c"), col("tr"), col("tc"),
        // mdinf slot of the source seen from the target = 7 - repo j
        (lit(7) - col("j")).as("slot"),
        (col("acc") * col("w")).as("val"))
    // FindSide per edge: flow-line vector F->S from the offsets,
    // stream cell's own D8 vector, then the 8-step tributary fold
    val e2 = edges.join(gath.select(
      Seq(col("r").as("tr"), col("c").as("tc"),
        col("code").as("scode")) ++
        (0 until 8).map(m => col(s"q$m").as(s"sq$m")): _*),
      Seq("tr", "tc"))
    val fx = (col("tc") - col("c")).cast("int")
    val fy = (col("tr") - col("r")).cast("int")
    val s1d = col("scode") % 16
    val s1x = mXdOf(s1d); val s1y = mYdOf(s1d)
    // The reference's 8-step state machine (INIT -> SIDED(s) on the
    // first tributary; SIDED(r) absorbs equal sides and jumps to
    // BOTH on the first disagreement, where it stays) reduces to a
    // FLAT form — no tributary -> UNKNOWN; any tributary whose side
    // differs from the first's -> UNKNOWN; else the first's side.
    // The per-tributary trib/side columns MATERIALIZE first (the SQL
    // oracle's sd3 stage): inlined, the firstS chain re-expands
    // inside every anyDiff term and the single projection blows past
    // whole-stage codegen's method limit (~6 s of failed compilation
    // + interpreted fallback, measured as geo_side_mdinf's 8 s r5
    // debut).
    val stage1 = e2.select(
      Seq(col("tr").as("r"), col("tc").as("c"), col("slot"),
        col("val"),
        // sp ~ -1 iff the stream direction is exactly antiparallel
        // to the flow line (the only value of the discrete vector
        // dot within the reference's 1e-5 band of -1)
        (s1d === 8 || (s1x === -fx && s1y === -fy)).as("skip")) ++
        (0 until 8).map { i =>
          val q = col(s"sq$i")
          (q.isNotNull && q >= 16 && (q % 16) === ((i + 4) % 8))
            .as(s"t$i")
        } ++
        (0 until 8).map { i =>
          val nd = col(s"sq$i") % 16
          val nx = mXdOf(nd); val ny = mYdOf(nd)
          val zcpA = fx * s1y - fy * s1x
          val zcpB = fx * ny - fy * nx
          val zcpC = s1x * ny - s1y * nx
          when(zcpA * zcpB > 0, zcpB > 0).otherwise(zcpC > 0)
            .as(s"s$i")
        }: _*)
      .transform(Checkpoint(_))
    val hasTrib = (0 until 8).map(i => col(s"t$i")).reduce(_ || _)
    val firstS = (0 until 8).reverse
      .foldLeft(lit(null).cast("boolean")) { (acc, i) =>
        when(col(s"t$i"), col(s"s$i")).otherwise(acc)
      }
    val anyDiff = (0 until 8)
      .map(i => col(s"t$i") && col(s"s$i") =!= firstS).reduce(_ || _)
    // side: 0 = RIGHT, 1 = LEFT, 2 = UNKNOWN (split half/half)
    val side = when(col("skip") || !hasTrib || anyDiff, lit(2))
      .when(firstS, lit(0))
      .otherwise(lit(1))
    val withSide = stage1.select(col("r"), col("c"),
      col("slot"), col("val"),
      when(side === 0, col("val"))
        .when(side === 2, col("val") / 2).otherwise(lit(0.0)).as("rc"),
      when(side === 1, col("val"))
        .when(side === 2, col("val") / 2).otherwise(lit(0.0)).as("lc"))
    val piv = withSide.groupBy("r", "c").agg(
      sum(when(col("slot") === 0, col("val"))).as("mt0"),
      ((1 until 8).map(m =>
        sum(when(col("slot") === m, col("val"))).as(s"mt$m")) ++
        (0 until 8).map(m =>
          sum(when(col("slot") === m, col("rc"))).as(s"mr$m")) ++
        (0 until 8).map(m =>
          sum(when(col("slot") === m, col("lc"))).as(s"ml$m"))): _*)
    def d8slot(m: Int) = {
      val q = col(s"q$m")
      q.isNotNull && q >= 16 && (q % 16) === ((m + 4) % 8)
    }
    def fold(base: Double, pfx: String, d8c: Double) =
      (0 until 8).foldLeft(lit(base)) { (acc, m) =>
        acc + when(d8slot(m), lit(d8c))
          .otherwise(coalesce(col(s"$pfx$m"), lit(0.0)))
      }
    val sCells = gath.where(col("code") >= 16)
      .join(piv, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        round(fold(1.0 - caThr, "mt", caThr), 6).as("fa_total"),
        round(fold((1.0 - caThr) / 2, "mr", caThr / 2), 6)
          .as("fa_right"),
        round(fold((1.0 - caThr) / 2, "ml", caThr / 2), 6)
          .as("fa_left"))
    grid.select(col("r"), col("c")).join(sCells, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        coalesce(col("fa_total"), lit(0.0)).as("fa_total"),
        coalesce(col("fa_right"), lit(0.0)).as("fa_right"),
        coalesce(col("fa_left"), lit(0.0)).as("fa_left"))
  }

  /**
   * StreamHeadsMDInf (GeasyTools/src/plugins/StreamHeadsMDInf.java:
   * 253-540): find stream heads under the MDInf accumulation with
   * the reference's threshold switch — a cell at or below
   * caThreshold spreads its accumulated area over the MDInf facet
   * portions; a cell ABOVE it is a stream cell whose area resets to
   * caThreshold and flows only to its D8 steepest-descent neighbour
   * (which thereby also becomes a stream cell and, having received
   * stream water, can never be a head). Heads are the stream cells
   * no other stream cell's D8 send reaches.
   *
   * The accumulation is [[slotAccum]]'s Jacobi rounds (the
   * topological process order of the reference is reproduced by
   * `rounds` >= the DAG depth).
   */
  def streamHeadsMdinf(grid: DataFrame, caThr: Double,
                       hExp: Double = 1.0, rounds: Int = 24)
      : DataFrame = {
    val em = mdinfEdges(grid, hExp)
      .select(col("r"), col("c"), col("tr"), col("tc"),
        (lit(7) - col("j")).cast("int").as("j"), col("w").as("wm"))
    val ed = d8DirMdinf(grid).where(col("dir").isNotNull)
      .select(col("r"), col("c"),
        (col("r") + mYdOf(col("dir"))).as("tr"),
        (col("c") + mXdOf(col("dir"))).as("tc"),
        ((col("dir") + 4) % 8).cast("int").as("j"))
      .transform(Checkpoint(_))
    // merge: one edge row per (source, target) carrying both the
    // MDInf portion (if any) and the D8-steepest flag (if any) —
    // the threshold on the source's value selects which one sends
    val edges = em
      .join(ed.withColumn("__d8", lit(true)),
        Seq("r", "c", "tr", "tc", "j"), "full_outer")
      .select(col("r"), col("c"), col("tr"), col("tc"), col("j"),
        coalesce(col("wm"), lit(0.0)).as("wm"),
        coalesce(col("__d8"), lit(false)).as("d8"))
    val acc = slotAccum(grid.select(col("r"), col("c"),
        lit(1.0).as("seed")), edges, rounds)(
      when(col("__a") <= caThr, col("wm") * col("__a"))
        .otherwise(when(col("d8"), lit(caThr)).otherwise(lit(0.0))),
      (a, _, e) =>
        if (a <= caThr) e(0) * a else if (e(1) != 0.0) caThr else 0.0)
    // head = stream cell (acc > T) not fed by any stream cell's D8
    // send (the reference's output=0 mark, StreamHeadsMDInf.java:525)
    val blocked = ed
      .join(acc.select(col("r"), col("c"), col("acc").as("__sa")),
        Seq("r", "c"))
      .where(col("__sa") > caThr)
      .select(col("tr").as("r"), col("tc").as("c")).distinct()
    acc.join(blocked.withColumn("__b", lit(1)), Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        when(col("acc") > caThr && col("__b").isNull, lit(1))
          .otherwise(lit(0)).as("head"))
  }

  /**
   * DirectionalRelief for the east azimuth (TerrainAnalysisTools/
   * DirectionalRelief.java:337-392): mean elevation of every cell in
   * the sight line minus the cell's own elevation; 0 for the last
   * cell of a row. One window over the row — O(n) per row via the
   * running suffix sum; the sum runs in scaled-integer space (grid
   * values are multiples of 1/10) so it is order-independent and
   * bit-identical across engines.
   */
  def directionalReliefEast(grid: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("r").orderBy("c")
      .rowsBetween(1, org.apache.spark.sql.expressions.Window
        .unboundedFollowing)
    grid.select(col("r"), col("c"),
      round(coalesce(
        sum(round(col("v") * 10).cast("long")).over(w).cast("double") /
          (count(lit(1)).over(w) * lit(10.0)) - col("v"),
        lit(0.0)), 6).as("relief"))
  }

  /**
   * FetchAnalysis for the east azimuth (TerrainAnalysisTools/
   * FetchAnalysis.java:233-292): distance travelled along the ray
   * until the surface rises to z + dist * heightIncrement, else the
   * distance to the grid edge (grid-cell units; the east ray crosses
   * only integer columns, so no interpolation is involved and every
   * comparison is on identical doubles in both engines). The
   * per-cell pair join is O(n²) per row at this grid size; the
   * monotone-stack of [[horizonAngleEast]] is the O(n) scale path
   * for full-raster sweeps.
   */
  def fetchAnalysisEast(grid: DataFrame, heightIncrement: Double,
                        nCols: Long): DataFrame = {
    val b = grid.select(col("r").as("__r2"), col("c").as("__c2"),
      col("v").as("__v2"))
    grid.join(b, col("__r2") === col("r") && col("__c2") > col("c"),
        "left")
      .withColumn("__k", col("__c2") - col("c"))
      .withColumn("__blk",
        when(col("__v2") >= col("v") + col("__k") * lit(heightIncrement),
          col("__k")))
      .groupBy(col("r"), col("c"))
      .agg(min(col("__blk")).as("__mk"))
      .select(col("r"), col("c"),
        coalesce(col("__mk"), lit(nCols - 1) - col("c"))
          .cast("double").as("fetch"))
  }

  /**
   * MassFluxD8 (HydroTools/MassFluxD8.java:274-305): each cell starts
   * at its loading; along the D8 pointer DAG a cell passes
   * max(0, (flux - absorption) * efficiency) to its downslope
   * neighbour. Input grid carries (r, c, v, load, eff, absorp);
   * executed as [[slotAccum]]'s Jacobi rounds with the source-side
   * clamp as the send rule — stationary once the longest flowpath has
   * propagated, bit-exact vs the identically-unrolled SQL oracle.
   */
  def massFluxD8(grid: DataFrame, rounds: Int = 24): DataFrame = {
    val ptr = d8Pointer(grid.select(col("r"), col("c"), col("v")))
    val edges = ptr.where(col("ptr") > 0)
      .select(col("r"), col("c"),
        (col("r") + perDir(dY)).as("tr"),
        (col("c") + perDir(dX)).as("tc"),
        lit(1.0).as("w"), perDir(i => (i + 4) % 8, -1).as("j"))
    massFlux(edges, grid, rounds)
  }

  /**
   * MassFluxDinf (HydroTools/MassFluxDinf.java): the same
   * loading/efficiency/absorption routing contract as [[massFluxD8]],
   * but each cell's clamped send splits between its two Dinf facet
   * neighbours by the angular proportions of [[dinfEdges]] —
   * w·max((acc − absorp)·eff, 0) per edge. (The reference's
   * proportional split of the outflux by the Dinf angle is exactly
   * the dinfEdges weight pair.)
   */
  def massFluxDinf(grid: DataFrame, rounds: Int = 24): DataFrame =
    massFlux(dinfEdges(grid.select(col("r"), col("c"), col("v"))), grid,
      rounds)

  /** acc = load + Σ_slots w·max((acc_src − absorp_src)·eff_src, 0)
    * over weighted (r, c, tr, tc, w, j) edges. */
  private def massFlux(edges: DataFrame, grid: DataFrame,
                       rounds: Int): DataFrame =
    slotAccum(grid.select(col("r"), col("c"), col("load").as("seed"),
        col("absorp"), col("eff")), edges, rounds)(
      col("w") *
        greatest((col("__a") - col("absorp")) * col("eff"), lit(0.0)),
      (a, s, e) => e(0) * math.max((a - s(0)) * s(1), 0.0))

  /**
   * Rho8 stochastic flow pointer (HydroTools/FlowPointerRho8.java:
   * 210-255): D8's steepest-descent rule, but each DIAGONAL
   * neighbour's relief is scaled by 1/(2 - u), u ~ U(0,1) — on
   * average the diagonal distance correction, randomized so repeated
   * runs trace distinct plausible flowpaths (Fairfield & Leymarie).
   * Cardinal neighbours use plain relief. The reference draws from a
   * seeded java.util.Random in scan order; a distributed engine
   * cannot reproduce a sequential PRNG stream, so u is a hash of
   * (r, c, i) — partition-invariant, retry-deterministic, and
   * SQL-mirrorable (the geo_random_field LCG pattern).
   * Output: (r, c, ptr) with ptr = 2^i of the chosen direction, 0 for
   * sinks — d8Pointer's encoding.
   */
  def rho8Pointer(grid: DataFrame): DataFrame = {
    val nb = gatherNeighbors(grid)
    def u(i: Int) =
      ((((col("r") * 50 + col("c")) * 8 + lit(i)) * 2654435761L +
        98765L) % 1000003L).cast("double") / 1000003.0
    val slopes = (0 until 8).map { i =>
      val rel = col("v") - col(s"n$i")
      // i odd = cardinal (E,S,W,N in the dX/dY layout); even = diagonal
      val s = if (i % 2 == 1) rel else rel / (lit(2.0) - u(i))
      s.as(s"s$i")
    }
    val withS = nb.select((col("r") +: col("c") +: slopes): _*)
    d8DecodeFromSlopes(withS)
  }

  /**
   * Viewshed (TerrainAnalysisTools/Viewshed.java semantics): a cell is
   * visible from the station iff no point along the sight line
   * subtends a vertical angle >= the target's. Executed target-
   * parallel (R3): each target samples its ray at the n-1 integer
   * parameter steps (n = Chebyshev distance), reads the surface by
   * bilinear interpolation, and blocks when any intermediate tangent
   * (z_k - z_station)/(k/n) meets the target tangent — collinear
   * samples let the common ray length cancel, so only the k/n
   * fraction appears. The reference sweeps cells serially per
   * octant; the per-target form is embarrassingly parallel (the
   * choice for a 1000-executor cluster) at O(n^1.5) total samples.
   *
   * All arithmetic is +,-,*,/ and floor on identical inputs, so the
   * result is bit-exact against the SQL mirror. Station height adds
   * `stationH` to the station cell's elevation.
   */
  def viewshed(grid: DataFrame, vr: Long, vc: Long,
               stationH: Double = 1.0): DataFrame = {
    val vz = grid.where(col("r") === vr && col("c") === vc)
      .select((col("v") + stationH).as("zv"))
    val t = grid.crossJoin(broadcast(vz))
      .withColumn("n", greatest(abs(col("r") - vr), abs(col("c") - vc)))
      .transform(Checkpoint(_))
    val s = t.where(col("n") >= 2)
      .withColumn("k", explode(sequence(lit(1L), col("n") - 1)))
      .withColumn("xr",
        lit(vr) + (col("k") * (col("r") - vr)) / col("n").cast("double"))
      .withColumn("xc",
        lit(vc) + (col("k") * (col("c") - vc)) / col("n").cast("double"))
      .withColumn("fr", floor(col("xr")).cast("long"))
      .withColumn("fc", floor(col("xc")).cast("long"))
      .withColumn("wr", col("xr") - floor(col("xr")))
      .withColumn("wc", col("xc") - floor(col("xc")))
    def gAt(rr: Column, cc: Column, name: String) =
      grid.select(rr.as("__jr"), cc.as("__jc"), col("v").as(name))
    val z = s
      .join(gAt(col("r"), col("c"), "z00").toDF("__jr", "__jc", "z00"),
        col("fr") === col("__jr") && col("fc") === col("__jc"))
      .drop("__jr", "__jc")
      .join(gAt(col("r"), col("c"), "z01").toDF("__jr", "__jc", "z01"),
        col("fr") === col("__jr") && col("fc") + 1 === col("__jc"), "left")
      .drop("__jr", "__jc")
      .join(gAt(col("r"), col("c"), "z10").toDF("__jr", "__jc", "z10"),
        col("fr") + 1 === col("__jr") && col("fc") === col("__jc"), "left")
      .drop("__jr", "__jc")
      .join(gAt(col("r"), col("c"), "z11").toDF("__jr", "__jc", "z11"),
        col("fr") + 1 === col("__jr") && col("fc") + 1 === col("__jc"), "left")
      .drop("__jr", "__jc")
    val zk = z.withColumn("zk",
      col("z00") * (lit(1) - col("wr")) * (lit(1) - col("wc")) +
        when(col("wc") > 0,
          col("z01") * (lit(1) - col("wr")) * col("wc")).otherwise(0.0) +
        when(col("wr") > 0,
          col("z10") * col("wr") * (lit(1) - col("wc"))).otherwise(0.0) +
        when(col("wr") > 0 && col("wc") > 0,
          col("z11") * col("wr") * col("wc")).otherwise(0.0))
    val blk = zk.groupBy("r", "c")
      .agg(max(when((col("zk") - col("zv")) /
        (col("k") / col("n").cast("double")) >= col("v") - col("zv"), 1)
        .otherwise(0)).as("blk"))
    t.join(blk, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        when(col("n") <= 1, lit(1L))
          .otherwise(lit(1L) - coalesce(col("blk"), lit(0)).cast("long"))
          .as("vis"))
  }

  /**
   * VisibilityIndex (TerrainAnalysisTools/VisibilityIndex.java:
   * 260-300, 976-981): run a viewshed from every station on a
   * `step`-spaced lattice of grid cells and emit, per cell, the
   * fraction of stations that see it. One declarative plan rather
   * than S sequential viewshed jobs: the station set (tiny — grid /
   * step² rows) broadcasts into a cells × stations cross join, every
   * (cell, station) ray samples its n-1 integer parameter steps
   * exactly as [[viewshed]] does, and the final per-cell index is
   * avg over the station dimension (each cell sees exactly S station
   * rows, so avg = visible/S — the reference's outputData/
   * numViewsheds). Work is map-side after the (fr, fc) surface
   * lookups; stations scale the job linearly, never serially.
   */
  def visibilityIndex(grid: DataFrame, step: Long,
                      stationH: Double = 1.0): DataFrame = {
    val st = grid
      .where(col("r") % step === 0 && col("c") % step === 0)
      .select(col("r").as("sr"), col("c").as("sc"),
        (col("v") + stationH).as("zv"))
    val t = grid.crossJoin(broadcast(st))
      .withColumn("n",
        greatest(abs(col("r") - col("sr")), abs(col("c") - col("sc"))))
      .transform(Checkpoint(_))
    val s = t.where(col("n") >= 2)
      .withColumn("k", explode(sequence(lit(1L), col("n") - 1)))
      .withColumn("xr", col("sr") +
        (col("k") * (col("r") - col("sr"))) / col("n").cast("double"))
      .withColumn("xc", col("sc") +
        (col("k") * (col("c") - col("sc"))) / col("n").cast("double"))
      .withColumn("fr", floor(col("xr")).cast("long"))
      .withColumn("fc", floor(col("xc")).cast("long"))
      .withColumn("wr", col("xr") - floor(col("xr")))
      .withColumn("wc", col("xc") - floor(col("xc")))
    def gAt(name: String) =
      grid.select(col("r").as("__jr"), col("c").as("__jc"),
        col("v").as(name))
    val z = s
      .join(gAt("z00"),
        col("fr") === col("__jr") && col("fc") === col("__jc"))
      .drop("__jr", "__jc")
      .join(gAt("z01"),
        col("fr") === col("__jr") && col("fc") + 1 === col("__jc"),
        "left")
      .drop("__jr", "__jc")
      .join(gAt("z10"),
        col("fr") + 1 === col("__jr") && col("fc") === col("__jc"),
        "left")
      .drop("__jr", "__jc")
      .join(gAt("z11"),
        col("fr") + 1 === col("__jr") && col("fc") + 1 === col("__jc"),
        "left")
      .drop("__jr", "__jc")
    val zk = z.withColumn("zk",
      col("z00") * (lit(1) - col("wr")) * (lit(1) - col("wc")) +
        when(col("wc") > 0,
          col("z01") * (lit(1) - col("wr")) * col("wc")).otherwise(0.0) +
        when(col("wr") > 0,
          col("z10") * col("wr") * (lit(1) - col("wc"))).otherwise(0.0) +
        when(col("wr") > 0 && col("wc") > 0,
          col("z11") * col("wr") * col("wc")).otherwise(0.0))
    val blk = zk.groupBy("r", "c", "sr", "sc")
      .agg(max(when((col("zk") - col("zv")) /
        (col("k") / col("n").cast("double")) >= col("v") - col("zv"), 1)
        .otherwise(0)).as("blk"))
    t.join(blk, Seq("r", "c", "sr", "sc"), "left")
      .withColumn("__vis",
        when(col("n") <= 1, lit(1.0))
          .otherwise(lit(1.0) - coalesce(col("blk"), lit(0))))
      .groupBy("r", "c")
      .agg(round(avg(col("__vis")), 6).as("vis_index"))
  }

  /**
   * ExtractStreams (StreamNetworkAnalysisTools/ExtractStreams.java):
   * cells whose D8 flow accumulation meets `threshold`.
   */
  def extractStreams(grid: DataFrame, threshold: Long): DataFrame =
    flowAccumD8(grid).where(col("n_upslope") >= threshold)

  /** Stream cells + stream-to-stream edges + per-cell stream
    * in-degree, shared by the link/order tools. */
  private def streamGraph(grid: DataFrame, threshold: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    // memoized: the six stream-network tools all derive the same
    // (stream cells, stream edges, in-degree) triple from the same
    // DEM + threshold; in a multi-query session the recompute is the
    // dominant cost of each tool (BENCH_r03 anti-scaling note)
    val out = graft.core.Memo.cachedSeq(
      graft.core.Memo.key(grid, s"streamGraph:$threshold"),
      grid.sparkSession) {
      val stream = extractStreams(grid, threshold).select("r", "c")
        .transform(Checkpoint(_))
      // checkpoint the edge decode: embedding the full stencil-pivot
      // plan twice in the joins below explodes whole-stage codegen
      val edges = d8Edges(grid).transform(Checkpoint(_))
      val sedges = edges
        .join(stream, Seq("r", "c"))
        .join(stream.select(col("r").as("tr"), col("c").as("tc")),
          Seq("tr", "tc"))
        .select("r", "c", "tr", "tc")
        .transform(Checkpoint(_))
      val indeg = sedges.groupBy("tr", "tc").agg(count(lit(1)).as("n"))
      Seq(stream, sedges, indeg)
    }
    (out(0), out(1), out(2))
  }

  /**
   * TotalLengthOfUpstreamChannels (Scripts/TotalLengthOfUpstream
   * Channels.groovy:125-195) + FurtherestUpstreamChannelHeadDistance
   * (Scripts/FurtherestUpstreamChannelHeadDistance.groovy, same
   * head-queue walk with max instead of sum): per stream cell, the
   * summed length of every upstream channel segment, and the longest
   * along-stream distance from any channel head. Lengths are exact
   * nano-integers ([[DiagNano]]) so sum/max are order-independent
   * across engines. The stream cells are a forest linked along the
   * stream-to-stream D8 edges, solved by the forest contraction of
   * [[flowAccumD8]]: each cell weighs its own out-edge length d, so its
   * solved weight less d is the upstream total and its path maximum
   * the head distance.
   */
  def upstreamChannelStats(grid: DataFrame, threshold: Long): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val (stream, sedges, _) = streamGraph(grid, threshold)
    val d = when(col("tr").isNull, lit(0L)).otherwise(stepNano)
    solveForest(stream.join(sedges, Seq("r", "c"), "left")
        .select(col("r").cast("long").as("r"), col("c").cast("long").as("c"),
          coalesce(col("tr"), lit(0L)).cast("long").as("tr"),
          coalesce(col("tc"), lit(0L)).cast("long").as("tc"),
          col("tr").isNotNull.as("link"), d.as("w"), lit(0L).as("m"),
          lit(0L).as("s"), d.as("d")), stream)
      .map(f => (f.r, f.c, f.w - f.d, f.m))
      .toDF("r", "c", "total_upstream_nano", "head_dist_nano")
  }

  /**
   * DownslopeIndex, tangent arm (GeasyTools/DownslopeIndex.java:
   * 245-300, drop threshold `d`): walk the D8 path from each cell
   * until the drop from the START elevation reaches d; the index is
   * d / flowLength with the final step linearly interpolated. The
   * reference's inner loop re-reads the START cell for zLastCell
   * (DownslopeIndex.java:256 uses (row, col), not (y, x)), so the
   * interpolated step is glen*d/drop and a path that dies before
   * dropping d emits 0 — mirrored literally here. Start cells that
   * are themselves pits emit NoData (absent rows). Path lengths are
   * exact nano-int pairs; rounds bound the walked path length in the
   * distributed arm (one-task walk below [[localFixpointMaxRows]]).
   */
  def downslopeIndex(grid: DataFrame, d: Double,
                     rounds: Int = 64): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val ptr = d8Pointer(grid)
    val edges = d8EdgesFromPtr(ptr)
      .join(grid.select(col("r").as("tr"), col("c").as("tc"),
        col("v").as("tz")), Seq("tr", "tc"))
      .select(col("r"), col("c"), col("tr"), col("tc"), col("tz"),
        when(abs(col("tr") - col("r")) + abs(col("tc") - col("c")) === 2,
          lit(DiagNano)).otherwise(lit(1000000000L)).as("stepn"))
      .transform(Checkpoint(_))
    val base = grid.select(col("r"), col("c"), col("v")).transform(Checkpoint(_))
    if (Checkpoint.rows(base) <= localFixpointMaxRows) {
      val tagged = base
        .select(col("r"), col("c"), lit(0L).as("tr"), lit(0L).as("tc"),
          col("v").as("tz"), lit(-1L).as("stepn"))
        .unionByName(edges.select(col("r"), col("c"), col("tr"),
          col("tc"), col("tz"), col("stepn")))
        .as[(Long, Long, Long, Long, Double, Long)]
      return tagged.coalesce(1).mapPartitions { it =>
        val rows = it.toArray
        val cellz = new scala.collection.mutable.HashMap[(Long, Long), Double]
        rows.foreach { case (r, c, _, _, z, sn) =>
          if (sn == -1L) cellz((r, c)) = z
        }
        val nxt = new scala.collection.mutable.HashMap[
          (Long, Long), (Long, Long, Long)]
        rows.foreach { case (r, c, tr, tc, _, sn) =>
          if (sn >= 0L) nxt((r, c)) = (tr, tc, sn)
        }
        cellz.iterator.flatMap { case ((sr, sc), zSt) =>
          if (!nxt.contains((sr, sc))) Iterator.empty
          else {
            var cur = (sr, sc); var ns = 0L; var nd = 0L
            var res: Option[Double] = None; var done = false
            while (!done) {
              nxt.get(cur) match {
                case Some((tr, tc, sn)) =>
                  val drop = zSt - cellz((tr, tc))
                  if (drop < d) {
                    if (sn == 1000000000L) ns += 1 else nd += 1
                    cur = (tr, tc)
                  } else {
                    val prev = ns * 1.0 + nd * math.sqrt(2.0)
                    val glen = if (sn == 1000000000L) 1.0
                               else math.sqrt(2.0)
                    res = Some(d / (prev + glen * d / drop)); done = true
                  }
                case None =>
                  res = if (ns + nd > 0) Some(0.0) else None
                  done = true
              }
            }
            res.iterator.map(v =>
              (sr, sc, BigDecimal(v).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble))
          }
        }
      }.toDF("r", "c", "dsi")
    }
    // distributed arm: advance every unfinished walker one D8 step per
    // round; state is O(cells), each round one broadcast-ready join
    var st = base.join(edges.select(col("r"), col("c")).distinct(),
        Seq("r", "c"))
      .select(col("r").as("sr"), col("c").as("sc"), col("v").as("zst"),
        col("r").as("cr"), col("c").as("cc"),
        lit(0L).as("ns"), lit(0L).as("nd"),
        lit(null).cast("double").as("out"), lit(false).as("done"))
    for (i <- 1 to rounds) {
      val step = st.where(!col("done"))
        .join(edges.select(col("r").as("cr"), col("c").as("cc"),
          col("tr"), col("tc"), col("tz"), col("stepn")),
          Seq("cr", "cc"), "left")
      val adv = step.select(col("sr"), col("sc"), col("zst"),
        when(col("tr").isNotNull && col("zst") - col("tz") < d,
          col("tr")).otherwise(col("cr")).as("cr"),
        when(col("tr").isNotNull && col("zst") - col("tz") < d,
          col("tc")).otherwise(col("cc")).as("cc"),
        (col("ns") + when(col("tr").isNotNull &&
          col("zst") - col("tz") < d && col("stepn") === 1000000000L,
          1L).otherwise(0L)).as("ns"),
        (col("nd") + when(col("tr").isNotNull &&
          col("zst") - col("tz") < d && col("stepn") =!= 1000000000L,
          1L).otherwise(0L)).as("nd"),
        when(col("tr").isNotNull && col("zst") - col("tz") >= d,
          lit(d) / ((col("ns") * 1.0 + col("nd") * math.sqrt(2.0)) +
            when(col("stepn") === 1000000000L, 1.0)
              .otherwise(math.sqrt(2.0)) * d / (col("zst") - col("tz"))))
          .when(col("tr").isNull && col("ns") + col("nd") > 0, lit(0.0))
          .otherwise(lit(null).cast("double")).as("out"),
        (col("tr").isNull || col("zst") - col("tz") >= d).as("done"))
      // at most one partition per core: when the edge join is a
      // broadcast, both sides of the union keep st's partitions, and
      // the count would double every round
      st = st.where(col("done")).unionByName(adv)
        .coalesce(spark.sparkContext.defaultParallelism)
      if (i % 2 == 0 && i < rounds) st = Checkpoint(st)
    }
    st.where(col("out").isNotNull)
      .select(col("sr").as("r"), col("sc").as("c"),
        round(col("out"), 6).as("dsi"))
  }

  /**
   * StreamLinkID (StreamNetworkAnalysisTools/StreamLinkID.java
   * semantics): maximal stream segments between junctions; a cell
   * with stream in-degree != 1 heads a new link (junction cells open
   * the downstream link). link_id = head cell id (r * width + c).
   * Resolved by pointer doubling on the unique-predecessor pointer —
   * O(log link length) rounds, the watershed trick upstream.
   */
  def streamLinkId(grid: DataFrame, threshold: Long,
                   width: Long): DataFrame = {
    val (stream, sedges, indeg) = streamGraph(grid, threshold)
    linkFromGraph(stream, sedges, indeg, width)
  }

  private def linkFromGraph(stream: DataFrame, sedges: DataFrame,
                            indeg: DataFrame, width: Long): DataFrame = {
    // predecessor pointer: v -> its unique stream predecessor when
    // in-degree is exactly 1, else self (head)
    val pred1 = sedges.join(indeg.where(col("n") === 1), Seq("tr", "tc"))
      .select(col("tr").as("r"), col("tc").as("c"),
        col("r").as("pr"), col("c").as("pc"))
    val nxt = stream
      .join(pred1, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        coalesce(col("pr"), col("r")).as("tr"),
        coalesce(col("pc"), col("c")).as("tc"), lit(0L).as("ns"),
        lit(0L).as("nd"))
      .transform(Checkpoint(_))
    resolvePointers(nxt).select(col("r"), col("c"),
      (col("tr") * width + col("tc")).as("link_id"))
  }

  /**
   * RasterToVectorLines (ConversionTools/RasterToVectorLines.java,
   * 520 LoC) over the stream network: every stream LINK (maximal
   * junction-free arc, streamLinkId) becomes one polyline whose
   * vertices are its cell centres ordered downstream. The walk runs
   * sequentially per link inside `mapGroups` (per-link memory bounds
   * at the arc length, matching the reference's per-arc tracing);
   * step lengths (1 or √2) sum as round(len·1e9) integers so the
   * per-link total is order-independent and SQL-mirrorable.
   *
   * Output: (link_id, n_cells, len_nano, xs, ys).
   */
  def streamPolylines(grid: DataFrame, threshold: Long,
                      width: Long): DataFrame = {
    val (stream, sedges, indeg) = streamGraph(grid, threshold)
    val links = linkFromGraph(stream, sedges, indeg, width)
      .transform(Checkpoint(_))
    polylinesFromLinks(sedges, links)
  }

  /** [[streamPolylines]] core over a precomputed stream graph — lets
    * [[streamMetrics]] trace lengths without re-deriving flow
    * accumulation and link ids. */
  private def polylinesFromLinks(sedges: DataFrame,
                                 links: DataFrame): DataFrame = {
    val spark = sedges.sparkSession
    import spark.implicits._
    // intra-link downstream edges
    val intra = sedges
      .join(links.select(col("r"), col("c"), col("link_id")), Seq("r", "c"))
      .join(links.select(col("r").as("tr"), col("c").as("tc"),
        col("link_id").as("__l2")), Seq("tr", "tc"))
      .where(col("link_id") === col("__l2"))
      .select(col("link_id"), col("r"), col("c"), col("tr"), col("tc"))
    val cells = links.select(col("link_id"), col("r"), col("c"),
        lit(null).cast("long").as("tr"), lit(null).cast("long").as("tc"))
      .unionByName(intra.select(col("link_id"), col("r"), col("c"),
        col("tr"), col("tc")))
      .as[(Long, Long, Long, Option[Long], Option[Long])]
    cells.groupByKey(_._1).mapGroups { (linkId, it) =>
      val rows = it.toArray
      val nodes = rows.filter(_._4.isEmpty).map(t => (t._2, t._3)).distinct
      val nxt = rows.flatMap(t => t._4.map(tr => (t._2, t._3) -> (tr, t._5.get)))
        .toMap
      val hasPred = nxt.values.toSet
      // head = the link's cell with no intra-link predecessor
      val head = nodes.filterNot(hasPred.contains).minOption
        .getOrElse(nodes.min)
      val xs = scala.collection.mutable.ArrayBuffer[Double]()
      val ys = scala.collection.mutable.ArrayBuffer[Double]()
      var lenNano = 0L
      var cur = head
      var continue = true
      val seen = scala.collection.mutable.Set.empty[(Long, Long)]
      while (continue) {
        seen += cur
        xs += cur._2.toDouble; ys += cur._1.toDouble
        nxt.get(cur) match {
          case Some(n) if !seen.contains(n) =>
            val dr = (n._1 - cur._1).toDouble
            val dc = (n._2 - cur._2).toDouble
            lenNano += math.round(math.sqrt(dr * dr + dc * dc) * 1e9)
            cur = n
          case _ => continue = false
        }
      }
      (linkId, xs.length.toLong, lenNano, xs.toSeq, ys.toSeq)
    }.toDF("link_id", "n_cells", "len_nano", "xs", "ys")
  }

  /**
   * StreamOrder, Strahler method (StreamNetworkAnalysisTools/
   * StreamOrder.java): per link, 1 for headwater links; a junction
   * link takes max(child orders) + 1 when at least two children tie
   * the max. Label correction over the LINK graph, iterated to exact
   * fixpoint (no representable-order cap).
   */
  /** Shared junction-scale scaffold of the stream-order tools: the
    * per-cell link labeling, the link-to-link child->parent edge
    * graph (distributed cell-scale joins), and the distinct link
    * ids. */
  private def linkGraph(grid: DataFrame, threshold: Long, width: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (stream, sedges, indeg) = streamGraph(grid, threshold)
    val links = linkFromGraph(stream, sedges, indeg, width)
      .transform(Checkpoint(_))
    val cgraph = sedges
      .join(links.select(col("r"), col("c"), col("link_id").as("child")),
        Seq("r", "c"))
      .join(links.select(col("r").as("tr"), col("c").as("tc"),
        col("link_id").as("parent")), Seq("tr", "tc"))
      .where(col("child") =!= col("parent"))
      .select("child", "parent").distinct()
    (links, cgraph, links.select("link_id").distinct(), sedges)
  }

  /**
   * One-task harness over the junction-scale link graph. The LINK
   * graph is orders of magnitude smaller than the cell grid at any
   * raster size, so the order/magnitude fixpoints run IN-MEMORY over
   * the coalesced edge list (the r2 distributed loop spent 486 s on
   * per-round job overhead for a 92-link graph). One job, exact
   * convergence. A graph too big for one task would mean ~10^8
   * junctions — revisit with partitioned label correction then.
   * `compute` receives (ids, children-map, parent-map) and returns
   * (link_id, value) rows.
   */
  private def linkTask(linkIds: DataFrame, cgraph: DataFrame)(
      compute: (scala.collection.mutable.ArrayBuffer[Long],
        scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.ArrayBuffer[Long]],
        scala.collection.mutable.HashMap[Long, Long])
        => Iterator[(Long, Long)]): DataFrame = {
    val spark = linkIds.sparkSession
    import spark.implicits._
    linkIds.as[Long].rdd.map(id => (id, Long.MinValue)) // tag ids
      .union(cgraph.as[(Long, Long)].rdd)
      .coalesce(1)
      .mapPartitions { it =>
        val children = new scala.collection.mutable.HashMap[
          Long, scala.collection.mutable.ArrayBuffer[Long]]()
        val parent = new scala.collection.mutable.HashMap[Long, Long]()
        val allIds = new scala.collection.mutable.ArrayBuffer[Long]
        it.foreach { case (a, b) =>
          if (b == Long.MinValue) allIds += a
          else {
            children.getOrElseUpdate(b,
              new scala.collection.mutable.ArrayBuffer[Long]) += a
            parent(a) = b
          }
        }
        compute(allIds, children, parent)
      }.toDF("link_id", "value")
  }

  /** In-memory Shreve magnitude fixpoint body (shared by
    * streamMetrics and hackOrder). */
  private def shreveFixpoint(
      allIds: scala.collection.mutable.ArrayBuffer[Long],
      children: scala.collection.mutable.HashMap[Long,
        scala.collection.mutable.ArrayBuffer[Long]])
      : scala.collection.mutable.HashMap[Long, Long] = {
    val mag = new scala.collection.mutable.HashMap[Long, Long]()
    allIds.foreach(id => mag(id) = 1L)
    var changed = true
    while (changed) {
      changed = false
      allIds.foreach { id =>
        children.get(id).foreach { cs =>
          val next = math.max(1L, cs.map(mag).sum)
          if (next != mag(id)) { mag(id) = next; changed = true }
        }
      }
    }
    mag
  }

  def strahlerOrder(grid: DataFrame, threshold: Long,
                    width: Long): DataFrame = {
    val (_, cgraph, linkIds, _) = linkGraph(grid, threshold, width)
    linkTask(linkIds, cgraph) { (allIds, children, _) =>
      val ord = new scala.collection.mutable.HashMap[Long, Long]()
      allIds.foreach(id => ord(id) = 1L)
      var changed = true
      while (changed) {
        changed = false
        allIds.foreach { id =>
          children.get(id).foreach { cs =>
            var mx = 0L
            var nMax = 0
            cs.foreach { c =>
              val o = ord(c)
              if (o > mx) { mx = o; nMax = 1 }
              else if (o == mx) nMax += 1
            }
            val next = if (nMax >= 2) mx + 1 else mx
            if (next != ord(id)) { ord(id) = next; changed = true }
          }
        }
      }
      allIds.iterator.map(id => (id, ord(id)))
    }.toDF("link_id", "strahler")
  }

  /**
   * Stream-link metrics (StreamNetworkAnalysisTools StreamMagnitude/
   * StreamLinkLength/StreamLinkSlope/FindMainStem): per link —
   * Shreve magnitude (count of headwater links upstream, inclusive),
   * trunk flag (the max-magnitude child at its downstream junction,
   * ties to the smaller link id; outlet links are trunk), elevation
   * min/max over the link's cells, and slope = (zmax - zmin) /
   * (len / 1e9) over the traced length. The magnitude fixpoint runs
   * in-memory over the junction-scale link graph (one job — the
   * strahlerOrder pattern); cell-scale aggregates stay distributed.
   */
  def streamMetrics(grid: DataFrame, threshold: Long,
                    width: Long): DataFrame = {
    val (links, cgraph, linkIds, sedges) = linkGraph(grid, threshold,
      width)
    // in-memory Shreve magnitude fixpoint over the link graph
    val mags = linkTask(linkIds, cgraph) { (allIds, children, _) =>
        val mag = shreveFixpoint(allIds, children)
        allIds.iterator.map(id => (id, mag(id)))
      }.toDF("link_id", "magnitude").transform(Checkpoint(_))
    // trunk: max-(magnitude, -link_id) child of the link's parent; a
    // link with no parent (outlet) is trunk
    val withParent = cgraph
      .join(mags.select(col("link_id").as("child"),
        col("magnitude").as("cmag")), Seq("child"))
    val best = withParent.groupBy("parent")
      .agg(max_by(col("child"),
        struct(col("cmag"), -col("child"))).as("bestChild"))
    val trunk = mags.select(col("link_id"))
      .join(withParent.select(col("child").as("link_id"),
        col("parent")), Seq("link_id"), "left")
      .join(best, Seq("parent"), "left")
      .select(col("link_id"),
        when(col("parent").isNull ||
          col("bestChild") === col("link_id"), 1L).otherwise(0L)
          .as("trunk"))
    // elevation range per link + traced length
    val zr = links.join(grid, Seq("r", "c"))
      .groupBy("link_id")
      .agg(min(col("v")).as("zmin"), max(col("v")).as("zmax"))
    val lens = polylinesFromLinks(sedges, links)
      .select(col("link_id"), col("n_cells"), col("len_nano"))
    mags.join(trunk, Seq("link_id"))
      .join(zr, Seq("link_id"))
      .join(lens, Seq("link_id"))
      .select(col("link_id"), col("magnitude"), col("trunk"),
        col("n_cells"), col("zmin"), col("zmax"),
        when(col("len_nano") > 0,
          round((col("zmax") - col("zmin")) /
            (col("len_nano") / 1e9), 6)).as("slope"))
  }

  /**
   * Hack stream order (StreamNetworkAnalysisTools Hack/
   * TopologicalStreamOrder.groovy semantics): outlet links take
   * order 1; at each junction the child carrying the largest Shreve
   * magnitude (ties -> smaller link id, the [[streamMetrics]] trunk
   * rule) continues the parent's order, every other child starts
   * parent+1. Top-down BFS over the (tiny) link forest in one task;
   * the per-cell expansion stays distributed.
   */
  def hackOrder(grid: DataFrame, threshold: Long,
                width: Long): DataFrame = {
    val (_, cgraph, linkIds, _) = linkGraph(grid, threshold, width)
    linkTask(linkIds, cgraph) { (allIds, children, parent) =>
      val mag = shreveFixpoint(allIds, children)
      // top-down order assignment from the outlets
      val hack = new scala.collection.mutable.HashMap[Long, Long]()
      val queue = scala.collection.mutable.Queue[Long]()
      allIds.filterNot(parent.contains).foreach { id =>
        hack(id) = 1L; queue.enqueue(id)
      }
      while (queue.nonEmpty) {
        val p = queue.dequeue()
        children.get(p).foreach { cs =>
          val trunk = cs.maxBy(c => (mag(c), -c))
          cs.foreach { c =>
            hack(c) = if (c == trunk) hack(p) else hack(p) + 1L
            queue.enqueue(c)
          }
        }
      }
      allIds.iterator.map(id => (id, hack(id)))
    }.toDF("link_id", "hack")
  }

  /**
   * RemoveShortStreams (StreamNetworkAnalysisTools/
   * RemoveShortStreams.java semantics): drop EXTERIOR links (no
   * upstream link) whose traced polyline length is under the
   * threshold; interior links always survive. Emits the surviving
   * stream cells with their link ids.
   */
  def removeShortStreams(grid: DataFrame, threshold: Long,
                         width: Long, minLenNano: Long): DataFrame = {
    val (links, cgraph, _, sedges) = linkGraph(grid, threshold, width)
    val interior = cgraph.select(col("parent").as("link_id")).distinct()
      .withColumn("__int", lit(true))
    val lens = polylinesFromLinks(sedges, links)
      .select(col("link_id"), col("len_nano"))
    val kept = lens.join(interior, Seq("link_id"), "left")
      .where(col("__int").isNotNull || col("len_nano") >= minLenNano)
      .select("link_id")
    links.join(kept, Seq("link_id"))
      .select(col("r"), col("c"), col("link_id"))
  }

  /**
   * Subbasins (HydroTools/Subbasins.java semantics): label every cell
   * with the stream LINK id of the first stream cell its D8 flowpath
   * reaches; cells draining to a non-stream sink are NoData (absent).
   * Pointer doubling with stream cells as absorbing states — the
   * watershed machinery with a different absorbing set.
   */
  def subbasins(grid: DataFrame, threshold: Long,
                width: Long): DataFrame = {
    val (stream, sedges, indeg) = streamGraph(grid, threshold)
    val links = linkFromGraph(stream, sedges, indeg, width)
      .transform(Checkpoint(_))
    resolvePointers(d8Next(d8Pointer(grid), Some(stream)))
      .join(links.select(col("r").as("tr"), col("c").as("tc"),
        col("link_id")), Seq("tr", "tc"))
      .select(col("r"), col("c"), col("link_id").as("basin"))
  }

  /**
   * ElevationAboveStream / ElevAboveCreek (HydroTools): per cell, the
   * elevation difference to the FIRST stream cell its D8 flowpath
   * reaches (0 on stream cells; cells draining to a non-stream pit
   * are NoData/absent). Pointer doubling with stream cells absorbing
   * — the subbasins machinery joined back to the stream elevation.
   */
  def elevAboveStream(grid: DataFrame, threshold: Long): DataFrame = {
    val (stream, _, _) = streamGraph(grid, threshold)
    val sv = stream.join(grid.select(col("r"), col("c"), col("v")),
        Seq("r", "c"))
      .select(col("r").as("tr"), col("c").as("tc"), col("v").as("sv"))
    resolvePointers(d8Next(d8Pointer(grid), Some(stream)))
      .join(sv, Seq("tr", "tc"))
      .join(grid.select(col("r"), col("c"), col("v")), Seq("r", "c"))
      .select(col("r"), col("c"),
        round(col("v") - col("sv"), 6).as("elev_above"))
  }

  /**
   * FindSaddlePoints.groovy: (1) channel heads = stream cells with no
   * inflowing stream neighbour (:108-127); (2) every ridge cell —
   * here, cells receiving no D8 inflow at all, the zero-accumulation
   * crest set — walks its D8 flowpath to the FIRST stream cell it
   * reaches (:138-170, the same absorbing pointer chase as
   * [[elevAboveStream]]); (3) per channel head, the minimum-elevation
   * ridge cell draining to it is that head's saddle point (the
   * reference's strict < under row-major scan = the (z, r, c)
   * lexicographic minimum). Head ids are coordinate-packed
   * (r·width + c) per the repo's streamLinkId convention rather than
   * scan-sequential. Heads reached by no ridge walker are absent
   * (minElev stays infinite in the reference).
   */
  def saddlePoints(grid: DataFrame, threshold: Long,
                   width: Long): DataFrame = {
    val (stream, _, indeg) = streamGraph(grid, threshold)
    val heads = stream
      .join(indeg.select(col("tr").as("r"), col("tc").as("c"),
        col("n")), Seq("r", "c"), "left")
      .where(coalesce(col("n"), lit(0L)) === 0)
      .select(col("r").as("tr"), col("c").as("tc"),
        (col("r") * width + col("c")).as("head_id"))
    val edges = d8Edges(grid).transform(Checkpoint(_))
    val ridge = grid.select(col("r"), col("c"), col("v"))
      .join(edges.select(col("tr").as("r"), col("tc").as("c"))
        .distinct().withColumn("__in", lit(true)),
        Seq("r", "c"), "left")
      .where(col("__in").isNull)
      .select(col("r"), col("c"), col("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("head_id").orderBy("v", "r", "c")
    resolvePointers(d8Next(d8Pointer(grid), Some(stream)))
      .join(ridge, Seq("r", "c"))
      .join(heads, Seq("tr", "tc"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("head_id"), col("r"), col("c"),
        col("v").as("saddle_z"))
  }

  /**
   * MapGullyDepth.groovy: (1) candidate cells have
   * difference-from-mean-elevation <= dfmeThreshold (:99-112; the
   * test runs in EXACT integer space — v is a multiple of 0.1, so
   * v − Σw/n <= T ⟺ v10·n − Σw10 <= T10·n over scaled longs, making
   * the mask bit-identical across engines where a double mean would
   * ulp-flip); (2) through each candidate, four cross sections
   * (vertical, horizontal, the two diagonals) walk the candidate run
   * to its bounding non-candidate cells (:152-231 and the three
   * repeats), flagged when the run carries a high-plan-curvature cell,
   * stays within maxGullyWidth during both walks, and its interpolated
   * cross-section depth profile peaks in (minGullyDepth,
   * maxGullyDepth]; (3) the SHORTEST flagged cross section's
   * interpolated depth is the output (:449-459; ties by direction
   * order). Runs touching the grid edge are dropped — the reference's
   * NoData boundary elevation forces those flags false. The diagonal
   * distance keeps the reference's gridResXY double-scaling verbatim
   * (dist = √(Δj²+Δk²)·√2, :349-351).
   *
   * Scale shape: one focal scatter for DFME, the surface-fit stencil
   * for plan curvature, then per direction one window pass
   * (gaps-and-islands run ids), one run aggregation, and one bounded
   * run×cells join — no iteration, every stage keyed on the line key.
   */
  def mapGullyDepth(grid: DataFrame, nRows: Long, nCols: Long,
                    maxGullyWidth: Double, maxGullyDepth: Double,
                    minGullyDepth: Double, dfmeThreshold10: Long,
                    highPlanCurv: Double, dfmeRadius: Int): DataFrame = {
    val Sq2 = math.sqrt(2.0)
    val dfme = Focal
      .contributions(grid, dfmeRadius, reflect = false, nRows, nCols)
      .groupBy("r", "c")
      .agg(sum(round(col("nv") * 10).cast("long")).as("sum10"),
        count(lit(1)).as("cnt"))
    val hpDf = planCurvature(grid, nRows, nCols)
      .select(col("r"), col("c"),
        (col("plan_curv") >= highPlanCurv).as("hp0"))
    val cells = grid
      .join(dfme, Seq("r", "c"))
      .join(hpDf, Seq("r", "c"), "left")
      .select(col("r"), col("c"), col("v").as("z"),
        ((round(col("v") * 10).cast("long") * col("cnt") - col("sum10"))
          <= lit(dfmeThreshold10) * col("cnt")).as("m"),
        coalesce(col("hp0"), lit(false)).as("hp"))
      .transform(Checkpoint(_))
    def dirResult(dir: Int, keyE: Column, posE: Column,
                  diag: Boolean): DataFrame = {
      val resL = if (diag) Sq2 else 1.0
      def distOf(steps: Column): Column =
        if (diag) sqrt(steps.cast("double") * steps.cast("double") *
          lit(2.0)) * Sq2
        else steps.cast("double") * lit(1.0)
      val base = cells.select(col("r"), col("c"), col("z"), col("m"),
        col("hp"), keyE.as("key"), posE.as("pos"))
      val wKey = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy("pos")
      val mm = base.where(col("m"))
        .withColumn("grp", col("pos") - row_number().over(wKey))
      val runs = mm.groupBy("key", "grp")
        .agg(min(col("pos")).as("a"), max(col("pos")).as("b"),
          max(col("hp").cast("int")).as("runhp"))
      val st = base.select(col("key"), (col("pos") + 1).as("a"),
        col("z").as("stz"))
      val en = base.select(col("key"), (col("pos") - 1).as("b"),
        col("z").as("endz"))
      val rb = runs.join(st, Seq("key", "a")).join(en, Seq("key", "b"))
        .withColumn("len",
          (col("b") - col("a") + 3).cast("double") * resL)
        .transform(Checkpoint(_))
      val zz = base.select(col("key"), col("pos").as("zp"),
        col("z").as("zv"))
      // depth profiles only for runs short enough to ever flag
      // (okDown already fails longer ones) — bounds the run x cells
      // join fan-out to maxGullyWidth/res + 2 cells per run
      val mxd = rb
        .where((col("b") - col("a") + 2).cast("double") * resL
          <= maxGullyWidth)
        .join(zz, Seq("key"))
        .where(col("zp") >= col("a") - 1 && col("zp") <= col("b") + 1)
        .withColumn("dep",
          (col("stz") + (col("endz") - col("stz")) *
            distOf(col("zp") - (col("a") - 1)) / col("len")) - col("zv"))
        .groupBy("key", "grp").agg(max(col("dep")).as("mxd"))
      val d0 = (col("stz") + (col("endz") - col("stz")) *
        distOf(col("pos") - (col("a") - 1)) / col("len")) - col("z")
      mm.join(rb, Seq("key", "grp")).join(mxd, Seq("key", "grp"), "left")
        .select(col("r"), col("c"), lit(dir).as("dir"), col("len"),
          (col("runhp") === 1 &&
            (col("pos") - col("a") + 1).cast("double") * resL
              <= maxGullyWidth &&
            (col("b") - col("a") + 2).cast("double") * resL
              <= maxGullyWidth &&
            coalesce(col("mxd") <= maxGullyDepth &&
              col("mxd") > minGullyDepth, lit(false))).as("flag"),
          when(d0 <= 0, lit(0.0)).otherwise(d0).as("depth"))
    }
    val all = dirResult(0, col("c"), col("r"), diag = false)
      .unionByName(dirResult(1, col("r"), col("c"), diag = false))
      .unionByName(dirResult(2, col("c") - col("r"), col("r"),
        diag = true))
      .unionByName(dirResult(3, col("r") + col("c"), col("r"),
        diag = true))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c").orderBy(col("len"), col("dir"))
    val picked = all.where(col("flag"))
      .withColumn("__rn", row_number().over(wPick))
      .where(col("__rn") === 1)
      .select(col("r"), col("c"), col("depth"))
    grid.select(col("r"), col("c"))
      .join(picked, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        round(coalesce(col("depth"), lit(0.0)), 6).as("gully_depth"))
  }

  /**
   * Hillslopes (HydroTools/Hillslopes.java): label every cell by the
   * bank-specific hillslope draining to its stream link — right-bank
   * cells of link k get id(k), left-bank cells 100000 + id(k). Seeds
   * follow the reference's rotation scans around each stream cell
   * (Hillslopes.java:355-425: clockwise from the downslope direction
   * until the next stream cell after a non-stream run = right bank;
   * the remaining 7 counter-clockwise = left bank; in row-major
   * processing order later right-writes overwrite, left-writes only
   * fill blanks). The interior is the downstream trace to the first
   * seeded cell (Hillslopes.java:437-485, pointer doubling here).
   * Stream cells output 0 (loop 5); cells draining to a non-stream
   * pit are NoData (absent). Head stream cells (no inflowing stream
   * neighbour) seed their own hillslope pair separate from their
   * link's (Hillslopes.java:311-333); ids are coordinate-packed
   * rather than scan-sequential, the [[streamLinkId]] renumbering
   * convention (head id = 10000 + r*width + c).
   */
  def hillslopes(grid: DataFrame, threshold: Long,
                 width: Long): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val (stream, sedges, indeg) = streamGraph(grid, threshold)
    val links = linkFromGraph(stream, sedges, indeg, width)
      .transform(Checkpoint(_))
    val ptr = d8Pointer(grid)
    val sid = links
      .join(indeg.select(col("tr").as("r"), col("tc").as("c"),
        col("n")), Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        when(coalesce(col("n"), lit(0L)) === 0,
          lit(10000L) + col("r") * width + col("c"))
          .otherwise(col("link_id")).as("sid"))
    // 8-neighbour scan table around every stream cell with a pointer;
    // rp = rotation position clockwise from the downslope direction
    val sp = stream.join(ptr, Seq("r", "c")).where(col("ptr") > 0)
      .join(sid, Seq("r", "c"))
      .select(col("r"), col("c"), col("sid"), perDir(i => i, -1).as("cix"))
    val dirs = (0 until 8).map(d => (d, dY(d), dX(d), 1 << ((d + 4) % 8)))
    val g = grid.select(col("r"), col("c"))
    val nb = Focal.crossLiteral(sp, Seq("d", "dy", "dx", "inflow"), dirs)
      .select(col("r"), col("c"), col("sid"), col("cix"), col("d"),
        ((col("d") - col("cix") + 7) % 8).as("rp"),
        (col("r") + col("dy")).as("xr"), (col("c") + col("dx")).as("xc"),
        col("inflow"))
      .join(g.select(col("r").as("xr"), col("c").as("xc"),
        lit(true).as("__in")), Seq("xr", "xc"), "left")
      .join(stream.select(col("r").as("xr"), col("c").as("xc"),
        lit(true).as("__st")), Seq("xr", "xc"), "left")
      .join(ptr.select(col("r").as("xr"), col("c").as("xc"),
        col("ptr").as("xptr")), Seq("xr", "xc"), "left")
      .select(col("r"), col("c"), col("sid"), col("cix"), col("d"),
        col("rp"), col("xr"), col("xc"),
        (col("__in").isNotNull && col("__st").isNull).as("nonstream"),
        (col("xptr") === col("inflow")).as("inflowing"))
      .transform(Checkpoint(_))
    // the right scan stops at the first stream/off-grid neighbour
    // AFTER a non-stream one; the left scan covers the other 7 dirs
    val m1 = nb.groupBy("r", "c")
      .agg(min(when(col("nonstream"), col("rp"))).as("minns"))
    val m2 = nb.join(m1, Seq("r", "c"))
      .groupBy("r", "c")
      .agg(min(when(!col("nonstream") && col("rp") > col("minns"),
        col("rp"))).as("stoprp"))
    val base = nb.join(m2, Seq("r", "c"))
      .where(col("nonstream") && coalesce(col("inflowing"), lit(false)))
    val ord = col("r") * width + col("c")
    val rights = base
      .where(col("stoprp").isNull || col("rp") < col("stoprp"))
      .select(col("xr"), col("xc"),
        struct(ord.as("o"), col("sid").as("lbl")).as("w"),
        lit(1).as("pri"))
    val lefts = base.where(col("d") =!= col("cix"))
      .select(col("xr"), col("xc"),
        struct(ord.as("o"), (col("sid") + 100000L).as("lbl")).as("w"),
        lit(0).as("pri"))
    // overwrite semantics: any right-write -> the max-order right
    // wins; otherwise the min-order left
    val bank = rights.unionByName(lefts)
      .groupBy(col("xr").as("r"), col("xc").as("c"))
      .agg(max(when(col("pri") === 1, col("w"))).as("mr"),
        min(when(col("pri") === 0, col("w"))).as("ml"))
      .select(col("r"), col("c"),
        coalesce(col("mr.lbl"), col("ml.lbl")).as("lbl"))
    val seeds = bank
      .unionByName(sid.select(col("r"), col("c"), col("sid").as("lbl")))
      .transform(Checkpoint(_))
    val resolved = resolvePointers(d8Next(ptr, Some(seeds)))
      .join(seeds.select(col("r").as("tr"), col("c").as("tc"),
        col("lbl")), Seq("tr", "tc"))
      .select(col("r"), col("c"), col("lbl"))
    resolved.join(stream.select(col("r"), col("c"),
        lit(true).as("__st")), Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        when(col("__st").isNotNull, lit(0L)).otherwise(col("lbl"))
          .as("hillslope"))
  }

  /**
   * DownslopeFlowpathLength (HydroTools/DownslopeFlowpathLength.java):
   * the D8 path length from each cell to its terminal sink. Pointer
   * doubling composes (target, straightSteps, diagSteps) pairs — the
   * step counts add EXACTLY as integers under composition, and the
   * final length nS + nD·√2 is evaluated once, so the distributed
   * doubling is bit-exact against the sequential-walk oracle.
   */
  def flowpathLength(grid: DataFrame): DataFrame = {
    resolvePointers(d8Next(d8Pointer(grid))).select(col("r"), col("c"),
      round(col("ns") + col("nd") * math.sqrt(2.0), 6).as("fp_len"))
  }

  /** Length of one D8 step in exact nano units (straight 1e9,
    * diagonal round(sqrt(2)*1e9)) — integer lengths keep flowpath
    * max/sum aggregates order-independent across engines. */
  private[graft] val DiagNano = math.round(math.sqrt(2.0) * 1e9)

  /**
   * NumInflowingNeighbours (HydroTools/NumInflowingNeighbours.java,
   * d8 arm): per pointer cell, how many of its 8 neighbours route
   * into it. One edge aggregation — no iteration.
   */
  def numInflowing(grid: DataFrame): DataFrame = {
    // one materialized pointer pass reused by both join sides — two
    // independent d8Pointer pipelines joined together recomputed the
    // 9-aggregate neighbour pivot twice AND blew the fused stage past
    // janino's 64 KB limit (failed compile + interpreted fallback on
    // every action)
    val ptr = d8Pointer(grid)
    val cnt = d8EdgesFromPtr(ptr)
      .groupBy(col("tr").as("r"), col("tc").as("c"))
      .agg(count(lit(1)).as("n"))
    ptr.join(cnt, Seq("r", "c"), "left")
      .select(col("r"), col("c"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /**
   * Isobasin (HydroTools/Isobasin.java:245-380): partition the D8
   * drainage network into basins of approximately `threshold`
   * contributing-area cells. Loop 1 walks every flowpath from its
   * start in row-major order, dropping a numbered seed (outlet)
   * wherever accumulated area reaches the threshold — choosing
   * between the current cell and its largest-inflow neighbour
   * (ICLCA) by which is closer to the threshold, deferring when the
   * ICLCA itself still exceeds it — and SUBTRACTS the seeded area
   * from every cell downstream. Loop 2 assigns each remaining cell
   * the id of the first seed met walking downslope (cells draining
   * to a pit past every seed are NoData — absent rows here).
   *
   * Scale note: the area decrement feeds back into later seed
   * decisions along the same row-major walk order — a global
   * sequential mutation with no stable distributed decomposition
   * (COVERAGE.md). It therefore runs as ONE task over the compact
   * (r, c, ptr, area) cell table (~32 B/cell, bounded by
   * [[localFixpointMaxRows]]), exactly like the other small-graph
   * fast paths; the D8 pointer and flow accumulation it consumes are
   * the distributed operators.
   *
   * The reference's flowpath-start test reads the transposed
   * neighbourhood (`getValue(col + dX[i], row + dY[i])` with a
   * (row, col) signature, Isobasin.java:253 — an argument swap not
   * present in NumInflowingNeighbours.java); the intended
   * no-inflowing-neighbour test is implemented here.
   *
   * Output: (r, c, basin) for cells that drain through a seed;
   * basin ids number seeds 1..n in discovery order.
   */
  def isobasin(grid: DataFrame, threshold: Long): DataFrame = {
    require(threshold >= 2, "isobasin: threshold must be >= 2")
    val spark = grid.sparkSession
    import spark.implicits._
    val ptr = d8Pointer(grid)
    val ca = flowAccumD8(grid)
    val cells = ptr.join(ca, Seq("r", "c"))
      .select(col("r"), col("c"), col("ptr"),
        col("n_upslope").cast("long"))
      .as[(Long, Long, Long, Long)]
    val dYl = dY.toArray
    val dXl = dX.toArray
    val maxRows = localFixpointMaxRows
    cells.coalesce(1).mapPartitions { it =>
      val rows = it.toArray
      require(rows.length <= maxRows,
        s"isobasin: ${rows.length} cells exceeds the one-task bound " +
          s"$maxRows (inherently sequential reference semantics)")
      // row-major order drives both loops, like the reference scan
      java.util.Arrays.sort(rows,
        Ordering.by((t: (Long, Long, Long, Long)) => (t._1, t._2)))
      val n = rows.length
      val idx = new scala.collection.mutable.HashMap[(Long, Long), Int]
      var i0 = 0
      while (i0 < n) { idx((rows(i0)._1, rows(i0)._2)) = i0; i0 += 1 }
      val ptrA = rows.map(_._3)
      val caA = rows.map(_._4) // mutable: decremented below seeds
      val UNASSIGNED = 0L
      val NODATA = -1L
      val out = Array.fill(n)(UNASSIGNED)
      @inline def at(r: Long, c: Long): Int = idx.getOrElse((r, c), -1)
      @inline def step(j: Int): Int = { // downslope neighbour index
        val p = ptrA(j)
        if (p <= 0) -1
        else {
          val d = java.lang.Long.numberOfTrailingZeros(p)
          at(rows(j)._1 + dYl(d), rows(j)._2 + dXl(d))
        }
      }
      // inflowing neighbour of j in direction d: its pointer must be
      // the opposite direction bit (inflowingVals, Isobasin.java:39)
      @inline def inflow(j: Int, d: Int): Int = {
        val k = at(rows(j)._1 + dYl(d), rows(j)._2 + dXl(d))
        if (k >= 0 && ptrA(k) == (1L << ((d + 4) % 8))) k else -1
      }
      var outletId = 1L
      // loop 1: seed placement with downstream area decrement
      var s = 0
      while (s < n) {
        var d = 0
        var hasIn = false
        while (d < 8 && !hasIn) { hasIn = inflow(s, d) >= 0; d += 1 }
        if (!hasIn) { // flowpath start
          var cur = s
          var stop = false
          while (!stop) {
            val nxt = step(cur)
            if (nxt >= 0) cur = nxt else stop = true
            if (caA(cur) >= threshold) {
              // inflowing cell with the largest contributing area
              var maxSCA = Long.MinValue
              var icl = -1
              var e = 0
              while (e < 8) {
                val k = inflow(cur, e)
                if (k >= 0 && caA(k) > maxSCA) { maxSCA = caA(k); icl = k }
                e += 1
              }
              if (caA(icl) > threshold) stop = true // solve that path first
              else {
                val d1 = math.abs(caA(icl) - threshold)
                val d2 = math.abs(caA(cur) - threshold)
                val seed = if (d1 < d2) icl else cur
                out(seed) = outletId
                val dec = caA(seed)
                var w = seed
                var wStop = false
                while (!wStop) {
                  caA(w) -= dec
                  val wn = step(w)
                  if (wn >= 0) w = wn else wStop = true
                }
                outletId += 1
              }
            }
          }
        }
        s += 1
      }
      // loop 2: basin assignment — first seed met walking downslope
      var a = 0
      while (a < n) {
        if (out(a) == UNASSIGNED) {
          var cur = a
          var oid = NODATA
          var stop = false
          while (!stop) {
            val nxt = step(cur)
            if (nxt >= 0) {
              cur = nxt
              if (out(cur) != UNASSIGNED) { oid = out(cur); stop = true }
            } else stop = true
          }
          cur = a
          out(cur) = oid
          stop = false
          while (!stop) {
            val nxt = step(cur)
            if (nxt >= 0) {
              cur = nxt
              if (out(cur) != UNASSIGNED) stop = true
              out(cur) = oid
            } else stop = true
          }
        }
        a += 1
      }
      (0 until n).iterator.filter(j => out(j) > 0)
        .map(j => (rows(j)._1, rows(j)._2, out(j)))
    }.toDF("r", "c", "basin")
  }

  /**
   * FindNoFlowCells (HydroTools/FindNoFlowCells.java): cells with no
   * strictly-lower resolved 8-neighbour (the reference writes 1
   * there and NoData elsewhere — absent-row convention here).
   */
  def findNoFlowCells(grid: DataFrame): DataFrame = {
    val nb = gatherNeighbors(grid)
    val hasLower = (0 until 8).map(i =>
      col(s"n$i").isNotNull && col(s"n$i") < col("v")).reduce(_ || _)
    nb.where(!hasLower).select(col("r"), col("c"), lit(1L).as("noflow"))
  }

  /**
   * DownslopeDistanceToStream (Scripts/DownslopeDistanceToStream
   * .groovy): trace the D8 flowpath until the first stream cell
   * (flow accumulation >= threshold) and report the traversed
   * length; stream cells emit 0, cells draining to a non-stream pit
   * are NoData (absent). Same pointer-doubling machinery as
   * [[elevAboveStream]]; length as an exact nano BIGINT.
   */
  def downslopeDistanceToStream(grid: DataFrame,
                                threshold: Long): DataFrame = {
    val (stream, _, _) = streamGraph(grid, threshold)
    resolvePointers(d8Next(d8Pointer(grid), Some(stream)))
      .join(stream.select(col("r").as("tr"), col("c").as("tc")),
        Seq("tr", "tc"))
      .select(col("r"), col("c"),
        (col("ns") * 1000000000L + col("nd") * DiagNano).as("dist_nano"))
  }

  /**
   * Upslope-flowpath metric family (SURVEY §2.10 row 8;
   * MaximumUpslopeFlowpathLength.java and kin): per cell, over all
   * D8 flowpaths arriving at it — the longest arriving path
   * (max_len_nano; 0 with no inflow), the contributing-cell count
   * (n_paths, self included = D8 flow accumulation), and the total
   * arriving length (sum_len_nano). Exact nano-BIGINT lengths make
   * every aggregate order-independent. The fields are those of the
   * solved D8 forest that [[flowAccumD8]] memoizes, so both read one
   * contraction.
   */
  def upslopeFlowpathStats(grid: DataFrame): DataFrame =
    d8Forest(grid, ForestTile).select(col("r"), col("c"),
      col("max_len_nano"), col("n_upslope").as("n_paths"),
      col("sum_len_nano"))

  /**
   * FillDepressions (HydroTools/FillDepressions.java, Wang & Liu
   * priority-flood): filled(c) = the minimum over all 8-connected
   * paths from the grid border to c of the maximum elevation along
   * the path — depressions rise to their spill elevation.
   *
   * Scale design — tile-parallel priority flood (Barnes 2016 style):
   * each round runs the sequential Wang & Liu flood INSIDE each tile,
   * seeded by the tile's grid-border cells plus the current halo
   * estimates from neighbouring tiles; falling boundary levels are
   * exchanged as halo packets until a global fixpoint. Estimates are
   * monotonically non-increasing, so rounds scale with the tile
   * diameter of spill paths, not their cell length.
   */
  def fillDepressions(grid: DataFrame, nRows: Long, nCols: Long,
                      tileSize: Int = 16,
                      memoize: Boolean = true): DataFrame =
    if (memoize)
      graft.core.Memo.cached(
        graft.core.Memo.key(grid, s"fillDepressions:$nRows:$nCols:$tileSize"),
        grid.sparkSession) { fillDepressionsImpl(grid, nRows, nCols, tileSize) }
    else fillDepressionsImpl(grid, nRows, nCols, tileSize)

  private def fillDepressionsImpl(grid: DataFrame, nRows: Long, nCols: Long,
                                  tileSize: Int): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val T = tileSize.toLong
    def tileOf(r: Long, c: Long): (Long, Long) =
      (Math.floorDiv(r, T), Math.floorDiv(c, T))
    val cells = grid.select(col("r"), col("c"), col("v"))
      .as[(Long, Long, Double)].transform(Checkpoint(_))
    val byTile = cells.groupByKey(t => tileOf(t._1, t._2))

    // halo packet: a filled-level estimate for cell (r, c), addressed
    // to the ADJACENT tile identified by (tr, tc)
    var halos = spark.emptyDataset[(Long, Long, Long, Long, Double)]
    var converged = false
    var outputs: org.apache.spark.sql.Dataset[(Long, Long, Double)] = null
    while (!converged) {
      val next = byTile.cogroup(
        halos.groupByKey(h => (h._1, h._2))) { (tile, cellIt, haloIt) =>
          FlowTiles.localFlood(tile, cellIt.toSeq,
            haloIt.map(h => (h._3, h._4, h._5)).toSeq, T, nRows, nCols)
        }.transform(Checkpoint(_))
      // rows with sentinel tile (-1) are cell outputs; others are halos
      outputs = next.filter(_._1 == -1L).map(o => (o._3, o._4, o._5))
      val newHalos = next.filter(_._1 >= 0L)
      // fixpoint: the halo set stabilises (levels only fall)
      val changed = newHalos.toDF("t1", "t2", "r", "c", "lvl")
        .join(halos.toDF("t1", "t2", "r", "c", "olvl"),
          Seq("t1", "t2", "r", "c"), "left")
        .where(col("olvl").isNull || col("lvl") =!= col("olvl"))
        .limit(1).count()
      halos = Checkpoint(newHalos)
      converged = changed == 0
    }
    outputs.toDF("r", "c", "filled")
  }

  /**
   * CostAccumulation + CostAllocation (GISTools/CostAccumulation
   * .java:162-260, CostAllocation.java): per cell, the least
   * accumulated cost to any source over the 8-connected graph with
   * move cost (cost(a)+cost(b))/2 * dist, plus the source cell id
   * that attains it (ties -> smallest id). Same tile-parallel
   * label-correcting scheme as [[fillDepressions]]: sequential
   * Dijkstra inside tiles, falling (acc, src) boundary estimates
   * exchanged until fixpoint.
   * cost: (r, c, v) positive cost surface; sources: (r, c).
   */
  def costAccumulation(cost: DataFrame, sources: DataFrame,
                       nRows: Long, nCols: Long,
                       tileSize: Int = 16): DataFrame = {
    val spark = cost.sparkSession
    import spark.implicits._
    val T = tileSize.toLong
    def tileOf(r: Long, c: Long): (Long, Long) =
      (Math.floorDiv(r, T), Math.floorDiv(c, T))
    val cells = cost
      .join(sources.select(col("r"), col("c"), lit(true).as("isSrc")),
        Seq("r", "c"), "left")
      .select(col("r"), col("c"), col("v"),
        coalesce(col("isSrc"), lit(false)).as("isSrc"))
      .as[(Long, Long, Double, Boolean)]
      .transform(Checkpoint(_))
    val byTile = cells.groupByKey(t => tileOf(t._1, t._2))
    var halos = spark
      .emptyDataset[(Long, Long, Long, Long, Double, Double, Long)]
    var converged = false
    var outputs: org.apache.spark.sql.Dataset[
      (Long, Long, Double, Long)] = null
    while (!converged) {
      val next = byTile.cogroup(
        halos.groupByKey(h => (h._1, h._2))) { (tile, cellIt, haloIt) =>
          FlowTiles.localCostDijkstra(tile, cellIt.toSeq,
            haloIt.map(h => (h._3, h._4, h._5, h._6, h._7)).toSeq,
            T, nRows, nCols)
        }.transform(Checkpoint(_))
      outputs = next.filter(_._1 == -1L)
        .map(o => (o._3, o._4, o._5, o._7))
      val newHalos = next.filter(_._1 >= 0L)
      val changed = newHalos.toDF("t1", "t2", "r", "c", "lvl", "cc", "src")
        .join(halos.toDF("t1", "t2", "r", "c", "olvl", "occ", "osrc"),
          Seq("t1", "t2", "r", "c"), "left")
        .where(col("olvl").isNull || col("lvl") =!= col("olvl") ||
          col("src") =!= col("osrc"))
        .limit(1).count()
      halos = Checkpoint(newHalos)
      converged = changed == 0
    }
    outputs.toDF("r", "c", "acc", "alloc")
  }

  /**
   * CostPathway (GISTools/CostPathway.java, run()): trace each
   * destination cell back along the cost-accumulation backlink and
   * count, per cell, how many destination paths visit it (the
   * reference's output increments every visited cell; untouched
   * cells stay NoData/absent). The backlink is recovered from the
   * ROUNDED accumulated-cost surface: pred = argmin over the 8
   * neighbours of acc6(n) + (cost(n)+cost(c))/2*dist, ties by
   * window index — Dijkstra's predecessor up to cost ties, and a
   * pure function of the oracle-checked acc6 surface, so both
   * engines derive the identical pointer. Costs >= 1 make acc6
   * strictly decrease along the backlink (cycle-free). Path counts
   * are the weights of the backlink forest, each destination weighing
   * 1, solved by the forest contraction of [[flowAccumD8]].
   */
  def costPathway(cost: DataFrame, sources: DataFrame, dests: DataFrame,
                  nRows: Long, nCols: Long): DataFrame = {
    val spark = cost.sparkSession
    import spark.implicits._
    val acc6 = costAccumulation(cost, sources, nRows, nCols)
      .select(col("r"), col("c"), round(col("acc"), 6).as("a6"))
      .transform(Checkpoint(_))
    val withCost = acc6.join(cost, Seq("r", "c"))
    val nbr = withCost
      .select(col("r").as("nr"), col("c").as("nc"),
        col("a6").as("na"), col("v").as("cn"))
    val bl = withCost
      .join(nbr, abs(col("nr") - col("r")) <= 1 &&
        abs(col("nc") - col("c")) <= 1 &&
        !(col("nr") === col("r") && col("nc") === col("c")))
      .join(sources.select(col("r"), col("c"), lit(true).as("__src")),
        Seq("r", "c"), "left")
      .where(col("__src").isNull)
      .select(col("r"), col("c"), col("nr"), col("nc"),
        (col("na") + (col("cn") + col("v")) / 2.0 *
          when(col("nr") =!= col("r") && col("nc") =!= col("c"),
            lit(math.sqrt(2.0))).otherwise(lit(1.0))).as("vl"),
        ((col("nr") - col("r") + 1) * 3 +
          (col("nc") - col("c") + 1)).as("i"))
      .groupBy("r", "c")
      .agg(min_by(struct(col("nr"), col("nc")),
        struct(col("vl"), col("i"))).as("p"))
      .select(col("r"), col("c"), col("p.nr").as("tr"),
        col("p.nc").as("tc"))
    solveForest(acc6.select(col("r"), col("c"))
        .join(dests.select(col("r"), col("c"), lit(1L).as("__d")),
          Seq("r", "c"), "left")
        .join(bl, Seq("r", "c"), "left")
        .select(col("r").cast("long").as("r"), col("c").cast("long").as("c"),
          coalesce(col("tr"), lit(0L)).cast("long").as("tr"),
          coalesce(col("tc"), lit(0L)).cast("long").as("tc"),
          col("tr").isNotNull.as("link"),
          coalesce(col("__d"), lit(0L)).as("w"), lit(0L).as("m"),
          lit(0L).as("s"), lit(0L).as("d")), acc6)
      .filter(_.w > 0L)
      .map(f => (f.r, f.c, f.w)).toDF("r", "c", "n_paths")
  }

  /**
   * BurnStreams (HydroTools/BurnStreams.java:403-425, decay arm):
   * burned = dem - (gridRes/(gridRes+dist))^decay * decrement with
   * dist the Euclidean distance to the nearest stream cell
   * (gridRes = 1; decay fixed at 2 so the power is spelled w*w —
   * transcendental-free and bit-identical across engines). The
   * distance transform is the engine's bounded-exact kNN join
   * (k = 1) against the extracted stream cells.
   */
  def burnStreams(grid: DataFrame, threshold: Long,
                  decrement: Double): DataFrame = {
    val (stream, _, _) = streamGraph(grid, threshold)
    val probe = grid.select((col("r") * 100000 + col("c")).as("pid"),
      col("c").cast("double").as("px"), col("r").cast("double").as("py"))
    val build = stream.select((col("r") * 100000 + col("c")).as("bid"),
      col("c").cast("double").as("bx"), col("r").cast("double").as("by"))
    val nn = SpatialJoins.knnJoin(probe, build, 1, probeId = "pid",
        buildId = "bid", px = "px", py = "py", bx = "bx", by = "by")
      .select(expr("pid DIV 100000").as("r"), (col("pid") % 100000).as("c"),
        sqrt(col("dist2")).as("dist"))
    val w = lit(1.0) / (lit(1.0) + col("dist"))
    grid.join(nn, Seq("r", "c"))
      .select(col("r"), col("c"),
        round(col("v") - w * w * lit(decrement), 6).as("burned"))
  }

  /**
   * Pointer chase shared by watershed / subbasins / stream links /
   * flowpath length and the stream-absorbed traces: input
   * (r, c, tr, tc, ns, nd) with absorbing cells self-pointing with no
   * steps; output has every (tr, tc) resolved to its terminal cell,
   * with the straight / diagonal step counts summed along the path
   * (integers — exact under any composition order; callers without
   * steps pass zeros). Size-adaptive ([[localFixpointMaxRows]]):
   * small relations chase in ONE task with memoised path walking,
   * large ones run distributed pointer doubling until a round moves
   * no target and no count. Input must already be checkpointed (both
   * paths re-scan it).
   */
  private[graft] def resolvePointers(next0: DataFrame): DataFrame = {
    if (Checkpoint.rows(next0) <= localFixpointMaxRows) {
      val spark = next0.sparkSession
      import spark.implicits._
      return next0
        .select(col("r"), col("c"), col("tr"), col("tc"), col("ns"),
          col("nd"))
        .as[(Long, Long, Long, Long, Long, Long)]
        .coalesce(1).mapPartitions { it =>
          val rows = it.toArray
          val nxt = new scala.collection.mutable.HashMap[
            (Long, Long), (Long, Long, Long, Long)]
          rows.foreach(t => nxt((t._1, t._2)) = (t._3, t._4, t._5, t._6))
          // memo: cell -> (root, total ns, total nd)
          val memo = new scala.collection.mutable.HashMap[
            (Long, Long), (Long, Long, Long, Long)]
          def target(k: (Long, Long)) =
            nxt.get(k).map(e => (e._1, e._2)).getOrElse(k)
          def resolve(k0: (Long, Long)): (Long, Long, Long, Long) = {
            var path = List.empty[(Long, Long)]
            var k = k0
            while (!memo.contains(k) && target(k) != k) {
              path ::= k
              k = target(k)
            }
            var cur = memo.getOrElse(k, (k._1, k._2, 0L, 0L))
            path.foreach { p =>
              val e = nxt(p)
              cur = (cur._1, cur._2, cur._3 + e._3, cur._4 + e._4)
              memo(p) = cur
            }
            memo.getOrElse(k0, cur)
          }
          rows.iterator.map { t =>
            val r = resolve((t._1, t._2))
            (t._1, t._2, r._1, r._2, r._3, r._4)
          }
        }.toDF("r", "c", "tr", "tc", "ns", "nd")
    }
    var next = next0
    var converged = false
    while (!converged) {
      val hop = next.select(col("r").as("hr"), col("c").as("hc"),
        col("tr").as("ttr"), col("tc").as("ttc"),
        col("ns").as("hns"), col("nd").as("hnd"))
      val doubled = next.join(hop,
          col("tr") === col("hr") && col("tc") === col("hc"), "inner")
        .select(col("r"), col("c"), col("ttr").as("tr"),
          col("ttc").as("tc"), (col("ns") + col("hns")).as("ns"),
          (col("nd") + col("hnd")).as("nd"))
        .transform(Checkpoint(_))
      val moved = doubled.join(next.select(col("r"), col("c"),
          col("tr").as("otr"), col("tc").as("otc"),
          col("ns").as("ons"), col("nd").as("ond")), Seq("r", "c"))
        .where(col("tr") =!= col("otr") || col("tc") =!= col("otc") ||
          col("ns") =!= col("ons") || col("nd") =!= col("ond"))
        .count()
      next = doubled
      converged = moved == 0
    }
    next
  }

  /** [[resolvePointers]]' input over the D8 pointer grid `ptr`: each
    * cell points at its downslope neighbour with one straight (ns) or
    * diagonal (nd) step; sinks and the `absorbing` cells point at
    * themselves with none. Checkpointed. */
  private def d8Next(ptr: DataFrame,
                     absorbing: Option[DataFrame] = None): DataFrame = {
    val p = absorbing.fold(ptr)(a => ptr.join(
      a.select(col("r"), col("c"), lit(true).as("__s")), Seq("r", "c"),
      "left"))
    val stop = absorbing.fold(col("ptr") === 0)(_ =>
      col("__s").isNotNull || col("ptr") === 0)
    val diag = perDir(_ % 2 == 0, false)
    p.select(col("r"), col("c"),
        when(stop, col("r")).otherwise(col("r") + perDir(dY)).as("tr"),
        when(stop, col("c")).otherwise(col("c") + perDir(dX)).as("tc"),
        when(!stop && !diag, 1L).otherwise(0L).as("ns"),
        when(!stop && diag, 1L).otherwise(0L).as("nd"))
      .transform(Checkpoint(_))
  }

  /**
   * FillPits (HydroTools/FillPits.java:206-240): single-cell pits
   * (no PRESENT 8-neighbour strictly lower; absent/noData neighbours
   * are skipped, so border cells can be pits) rise to
   * lowestNeighbour + aSmallValue, where aSmallValue is bucketed by
   * the DEM's max |z| (FillPits.java:186-201; the reference's float
   * literals carried as doubles). One stencil pass — embarrassingly
   * parallel at any scale.
   */
  def fillPits(grid: DataFrame): DataFrame = {
    val offs = (-1 to 1).flatMap(dr => (-1 to 1).map(dc => (dr, dc)))
      .filterNot(o => o._1 == 0 && o._2 == 0)
    val nbrs = Focal.crossLiteral(grid, Seq("dr", "dc"), offs)
      .select((col("r") + col("dr")).as("r"),
        (col("c") + col("dc")).as("c"), col("v").as("nv"))
      .groupBy("r", "c").agg(min(col("nv")).as("lowest"))
    // the reference assigns FLOAT literals to a double field
    // (FillPits.java:189-201), so the engine carries the widened
    // float values, e.g. (double) 0.00001F = 9.999999747378752e-06
    val aSmall = when(col("zmax") <= 9, lit(0.00001f.toDouble))
      .when(col("zmax") <= 99, lit(0.0001f.toDouble))
      .when(col("zmax") <= 999, lit(0.001f.toDouble))
      .when(col("zmax") <= 9999, lit(0.001f.toDouble))
      .when(col("zmax") <= 99999, lit(0.01f.toDouble))
      .otherwise(lit(1.0))
    // abs(max(v)), NOT max(abs(v)): the reference buckets on
    // Math.abs(DEM.getMaximumValue()) (FillPits.java:187), so an
    // all-negative DEM buckets on |max|, not |min| (ADVICE r4)
    grid.join(nbrs, Seq("r", "c"), "left")
      .crossJoin(broadcast(grid.agg(abs(max(col("v"))).as("zmax"))))
      .select(col("r"), col("c"),
        when(col("lowest").isNotNull && col("lowest") >= col("v"),
          col("lowest") + aSmall).otherwise(col("v")).as("filled"))
  }

  /**
   * BreachPits (HydroTools/BreachPits.java:210-240): for each pit —
   * here ALL 8 neighbours must be present AND >= z, because the
   * reference's `z2 < z` count treats noData (a large negative) as
   * lower (BreachPits.java:217, no noData guard) — every ring-2 cell
   * strictly lower than the pit carves the interjacent ring-1 cell
   * (`breachcell` map) down to (z + z2)/2. Writes go to a copy while
   * reads stay on the input, so the pass is order-free except where
   * two writes hit one cell: the reference's row-major, ring-index-
   * ascending scan means the LAST (pr, pc, i) wins — reproduced with
   * a window rank, keeping the operator fully relational.
   */
  def breachPits(grid: DataFrame): DataFrame = {
    val offs = (-1 to 1).flatMap(dr => (-1 to 1).map(dc => (dr, dc)))
      .filterNot(o => o._1 == 0 && o._2 == 0)
    val agg = Focal.crossLiteral(grid, Seq("dr", "dc"), offs)
      .select((col("r") + col("dr")).as("r"),
        (col("c") + col("dc")).as("c"), col("v").as("nv"))
      .groupBy("r", "c")
      .agg(count(lit(1)).as("n8"), min(col("nv")).as("lowest"))
    val pits = grid.join(agg, Seq("r", "c"))
      .where(col("n8") === 8 && col("lowest") >= col("v"))
      .select(col("r").as("pr"), col("c").as("pc"), col("v").as("pz"))
    // (i, dX2, dY2, dX[breachcell], dY[breachcell]) per
    // BreachPits.java:166-168
    val dX2 = Seq(2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2, -2, -1, 0, 1)
    val dY2 = Seq(-2, -1, 0, 1, 2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2)
    val bCell = Seq(0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 0)
    val ring = (0 until 16).map(i =>
      (i, dX2(i), dY2(i), dX(bCell(i)), dY(bCell(i))))
    val writes = Focal.crossLiteral(pits, Seq("i", "dx2", "dy2", "bdx", "bdy"),
        ring)
      .select(col("pr"), col("pc"), col("pz"), col("i"),
        (col("pr") + col("dy2")).as("r2"), (col("pc") + col("dx2")).as("c2"),
        (col("pr") + col("bdy")).as("r"), (col("pc") + col("bdx")).as("c"))
      .join(grid.select(col("r").as("r2"), col("c").as("c2"),
        col("v").as("z2")), Seq("r2", "c2"))
      .where(col("z2") < col("pz"))
      .select(col("r"), col("c"), ((col("pz") + col("z2")) / 2).as("w"),
        col("pr"), col("pc"), col("i"))
    val lastWrite = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c")
      .orderBy(col("pr").desc, col("pc").desc, col("i").desc)
    val chosen = writes
      .withColumn("rn", row_number().over(lastWrite))
      .where(col("rn") === 1).select(col("r"), col("c"), col("w"))
    grid.join(chosen, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        coalesce(col("w"), col("v")).as("breached"))
  }

  /**
   * Sink (Scripts/Sink.py:47-76): cells raised by FillDepressions
   * (z < filled), clumped 8-connected. Component ids follow the
   * engine's clump convention (min linearised cell id in the
   * component — the same deterministic relabelling of the
   * reference's scan-order ids used by geo_clump).
   */
  def sink(grid: DataFrame, nRows: Long, nCols: Long): DataFrame = {
    val mask = fillDepressions(grid, nRows, nCols)
      .join(grid, Seq("r", "c"))
      .where(col("v") < col("filled"))
      .select("r", "c")
    Raster.clump(mask, nCols)
  }

  /**
   * DepthInSink (Scripts/DepthInSink.py:50-77, background=0 arm):
   * filled - z inside sinks, 0 elsewhere (absent rows stay absent).
   */
  def depthInSink(grid: DataFrame, nRows: Long, nCols: Long): DataFrame =
    fillDepressions(grid, nRows, nCols)
      .join(grid, Seq("r", "c"))
      .select(col("r"), col("c"),
        when(col("v") < col("filled"), col("filled") - col("v"))
          .otherwise(lit(0.0)).as("sink_depth"))

  /**
   * ElevAbovePit (TerrainAnalysisTools/ElevAbovePit.java:244-296):
   * z(cell) - z(terminal pit of the cell's D8 flowpath). The walk is
   * the same absorbing pointer-graph as [[watershed]] (pointer
   * doubling, O(log path) rounds), so the tool is a join on the
   * resolved sink id.
   */
  def elevAbovePit(grid: DataFrame, width: Long): DataFrame =
    watershed(grid, width)
      .join(grid, Seq("r", "c"))
      .join(grid.select((col("r") * width + col("c")).as("sink_id"),
        col("v").as("pz")), Seq("sink_id"))
      .select(col("r"), col("c"), (col("v") - col("pz")).as("elev_above_pit"))

  /**
   * FloodOrder (Scripts/FloodOrder.groovy:118-210): the index at
   * which each cell is visited by a Wang & Liu priority flood seeded
   * from edge-touching pits. The queue order is the TOTAL order
   * (z, row, col) (whitebox.structures.GridCell.compareTo), so the
   * sequence is well-defined — but it is inherently sequential (each
   * pop depends on the global frontier), so like the reference the
   * operator runs as one task over the grid. That task fails with a
   * message when the grid has more than [[localFixpointMaxRows]]
   * cells; no job runs before it to count them. Unvisited-but-present
   * cells keep order 0 (the reference's floodOrder array default); the
   * first pop is also 0, mirroring the reference exactly.
   */
  def floodOrder(grid: DataFrame): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val cells = grid.select(col("r"), col("c"), col("v"))
      .as[(Long, Long, Double)]
    val dYl = dY.toArray
    val dXl = dX.toArray
    val maxRows = localFixpointMaxRows
    cells.coalesce(1).mapPartitions { it =>
      val rows = it.toArray
      require(rows.length <= maxRows,
        s"floodOrder runs the reference's sequential priority flood in " +
          s"one task; grid exceeds localFixpointMaxRows=" +
          s"$maxRows — revisit with a tile-parallel " +
          s"variant before using at this scale")
      val z = new scala.collection.mutable.HashMap[(Long, Long), Double]
      rows.foreach { case (r, c, v) => z((r, c)) = v }
      // seeds: pits (no present neighbour lower) touching an absent
      // neighbour (isEdgeCell, FloodOrder.groovy:131-147)
      implicit val ord: Ordering[(Double, Long, Long)] =
        Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Long,
          Ordering.Long)
      val queue = scala.collection.mutable.TreeSet.empty[(Double, Long, Long)]
      val inQueue = scala.collection.mutable.HashSet.empty[(Long, Long)]
      rows.foreach { case (r, c, v) =>
        var isPit = true
        var isEdge = false
        var a = 0
        while (a < 8 && isPit) {
          val k = (r + dYl(a), c + dXl(a))
          z.get(k) match {
            case Some(zn) => if (zn < v) isPit = false
            case None => isEdge = true
          }
          a += 1
        }
        // for surviving pits the scan ran all 8 neighbours, so
        // isEdge is final (the reference's break only fires on
        // non-pits, which are discarded anyway)
        if (isPit && isEdge) {
          queue.add((v, r, c)); inQueue.add((r, c))
        }
      }
      val order = new scala.collection.mutable.HashMap[(Long, Long), Long]
      var ord0 = 0L
      while (queue.nonEmpty) {
        val head = queue.head
        queue.remove(head)
        val (_, r, c) = head
        order((r, c)) = ord0
        ord0 += 1
        var a = 0
        while (a < 8) {
          val k = (r + dYl(a), c + dXl(a))
          if (z.contains(k) && !inQueue.contains(k)) {
            queue.add((z(k), k._1, k._2)); inQueue.add(k)
          }
          a += 1
        }
      }
      rows.iterator.map { case (r, c, _) =>
        (r, c, order.getOrElse((r, c), 0L))
      }
    }.toDF("r", "c", "flood_order")
  }

  /**
   * BreachDepressions (HydroTools/BreachDepressions.java:188-570):
   * every interior no-flow cell, visited in row-major order, carves a
   * least-cost channel through its (2k+1)^2 neighbourhood to the
   * nearest cell lower than itself (cost = elevation excess + a
   * Manhattan-scaled decrement; Dijkstra with the reference's
   * (aCost, row, col) queue comparator and insertion sequence, so
   * heap tie behaviour matches), lowering path cells to
   * previousZ - aSmallValue. Later pits see earlier carvings — the
   * tool is SEQUENTIAL BY CONSTRUCTION (the reference is too), so it
   * runs as one task over the grid, which fails with a message when
   * the grid has more than [[localFixpointMaxRows]] cells (no job runs
   * before it to count them); at true raster scale the reference's
   * own recommendation is tile-wise processing (FastBreach-
   * Depressions.groovy), which composes with the engine's tile
   * machinery if ever needed above the bound. aSmallValue buckets
   * per BreachDepressions.java:272-287 — the reference assigns FLOAT
   * literals to a double (so e.g. (double) 0.001F =
   * 1.0000000474974513e-03, carried verbatim, including the
   * reference's duplicated 0.001 bucket for z<=999 and z<=9999).
   * `maxCost` mirrors BreachDepressions.java:290-292/459-484: when
   * finite, cells whose elevation-excess cost exceeds it become
   * barriers, and a least-cost path that is forced through a barrier
   * leaves the pit uncarved (numUnsolvedCells); infinity selects the
   * reference's "not specified" arm.
   */
  def breachDepressions(grid: DataFrame, nRows: Long, nCols: Long,
                        maxDist: Int = 5,
                        maxCost: Double = Double.PositiveInfinity)
      : DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val cells = grid.select(col("r"), col("c"), col("v"))
      .as[(Long, Long, Double)]
    val dYl = dY.toArray
    val dXl = dX.toArray
    val (nr, nc) = (nRows, nCols)
    val k = maxDist
    val maxRows = localFixpointMaxRows
    cells.coalesce(1).mapPartitions { it =>
      val rows = it.toArray
      require(rows.length <= maxRows,
        s"breachDepressions mirrors the reference's sequential pit-by-" +
          s"pit carving in one task; grid exceeds localFixpointMaxRows=" +
          s"$maxRows — use the tile-parallel fill/breach " +
          s"composition at this scale")
      val z = new scala.collection.mutable.HashMap[(Long, Long), Double]
      rows.foreach { case (r, c, v) => z((r, c)) = v }
      // abs of the MAX (BreachDepressions.java:275), not max of abs
      val zmax = math.abs(
        rows.iterator.map(_._3).foldLeft(Double.NegativeInfinity)(math.max))
      val aSmall =
        (if (zmax <= 9) 0.00001f else if (zmax <= 99) 0.0001f
         else if (zmax <= 999) 0.001f else if (zmax <= 9999) 0.001f
         else if (zmax <= 99999) 0.01f else 1f).toDouble
      val sub = 2 * k + 1
      val largeVal = Float.MaxValue.toDouble
      val dist = Array(math.sqrt(2), 1.0, math.sqrt(2), 1.0,
        math.sqrt(2), 1.0, math.sqrt(2), 1.0)
      val backLinkDir = Array(4, 5, 6, 7, 0, 1, 2, 3)
      // loop 1: interior no-flow cells in row-major order, judged on
      // the ORIGINAL surface (BreachDepressions.java:309-330)
      val orig = rows.map { case (r, c, v) => (r, c, v) }
        .filter { case (r, c, _) =>
          r >= 1 && r < nr - 1 && c >= 1 && c < nc - 1 }
        .sortBy(t => (t._1, t._2))
        .filter { case (r, c, v) =>
          (0 until 8).forall { a =>
            z.get((r + dYl(a), c + dXl(a))).forall(_ >= v) } }
      // loop 2: neighbour reads see the carved surface, but the
      // centre's elevation is the LOOP-1 SNAPSHOT (cell.z,
      // BreachDepressions.java:351-378, 489): the re-check, the cost
      // surface and the previousZ seed all use it even if an earlier
      // pit's carve path lowered this cell (ADVICE r4)
      orig.foreach { case (row0, col0, zc) =>
        val stillLowest = (0 until 8).forall { a =>
          z.get((row0 + dYl(a), col0 + dXl(a))).forall(_ >= zc) }
        if (stillLowest) {
          val cost = Array.fill(sub, sub)(largeVal)
          val accum = Array.fill(sub, sub)(largeVal)
          val backLink = Array.fill(sub, sub)(-1)
          val present = Array.fill(sub, sub)(false)
          var atLeastOneSource = false
          var rr = -k
          while (rr <= k) {
            var cc = -k
            while (cc <= k) {
              val j = cc + k
              val kk = rr + k
              val dec = (math.abs(cc) + math.abs(rr)) * aSmall
              z.get((row0 + rr, col0 + cc)) match {
                case Some(zn) =>
                  present(kk)(j) = true
                  if (zn + dec < zc) {
                    cost(kk)(j) = 0.0; accum(kk)(j) = 0.0
                    atLeastOneSource = true
                  } else {
                    // a cost above the user's maxCost becomes a
                    // barrier (BreachDepressions.java:380-386)
                    val cost1 = (zn - zc) + dec
                    cost(kk)(j) =
                      if (cost1 <= maxCost) cost1 else largeVal
                    accum(kk)(j) = largeVal
                  }
                case None => // noData: stays a barrier (largeVal arrays
                  // carry the reference's noData sentinel semantics)
                  present(kk)(j) = false
              }
              cc += 1
            }
            rr += 1
          }
          cost(k)(k) = 0.0
          accum(k)(k) = largeVal
          if (atLeastOneSource) {
            // (aCost, row, col) comparator — CostDistCell.compareTo
            val pq = new java.util.PriorityQueue[(Double, Int, Int, Int)](
              (p, q) =>
                if (p._1 < q._1) -1 else if (p._1 > q._1) 1
                else if (p._2 < q._2) -1 else if (p._2 > q._2) 1
                else if (p._3 < q._3) -1 else if (p._3 > q._3) 1 else 0)
            var r1 = 0
            while (r1 < sub) {
              var c1 = 0
              while (c1 < sub) {
                if (present(r1)(c1) && accum(r1)(c1) == largeVal) {
                  var a = 0
                  while (a < 8) {
                    val rn = r1 + dYl(a)
                    val cn = c1 + dXl(a)
                    if (rn >= 0 && rn < sub && cn >= 0 && cn < sub &&
                        present(rn)(cn) && accum(rn)(cn) == 0.0) {
                      pq.add(((cost(r1)(c1) + cost(rn)(cn)) / 2 * dist(a),
                        r1, c1, a))
                    }
                    a += 1
                  }
                }
                c1 += 1
              }
              r1 += 1
            }
            if (!pq.isEmpty) {
              while (!pq.isEmpty) {
                val (aCost, r2, c2, bl) = pq.poll()
                if (accum(r2)(c2) > aCost) {
                  accum(r2)(c2) = aCost
                  backLink(r2)(c2) = bl
                  var a = 0
                  while (a < 8) {
                    val rn = r2 + dYl(a)
                    val cn = c2 + dXl(a)
                    if (rn >= 0 && rn < sub && cn >= 0 && cn < sub &&
                        present(rn)(cn)) {
                      val nv = aCost + (cost(r2)(c2) + cost(rn)(cn)) / 2 *
                        dist(a)
                      if (nv < accum(rn)(cn))
                        pq.add((nv, rn, cn, backLinkDir(a)))
                    }
                    a += 1
                  }
                }
              }
              // with a finite maxCost, a least-cost path forced
              // through a barrier cell leaves the pit uncarved
              // (BreachDepressions.java:461-484, numUnsolvedCells)
              var solutionFound = true
              if (maxCost != Double.PositiveInfinity) {
                var r4 = k; var c4 = k; var f4 = true
                while (f4) {
                  val b = backLink(r4)(c4)
                  if (b >= 0) {
                    r4 += dYl(b); c4 += dXl(b)
                    if (cost(r4)(c4) == largeVal) solutionFound = false
                  } else f4 = false
                }
              }
              // carve: walk the backlinks from the pit, lowering to
              // previousZ - aSmall (BreachDepressions.java:487-510);
              // previousZ seeds from the loop-1 snapshot z
              if (solutionFound) {
                var r3 = k
                var c3 = k
                var row = row0
                var colG = col0
                var previousZ = zc
                var flag = true
                while (flag) {
                  val b = backLink(r3)(c3)
                  if (b >= 0) {
                    r3 += dYl(b); c3 += dXl(b)
                    row += dYl(b); colG += dXl(b)
                    val zn = z((row, colG))
                    if (zn > previousZ - aSmall)
                      z((row, colG)) = previousZ - aSmall
                    previousZ = z((row, colG))
                  } else flag = false
                }
              }
            }
          }
        }
      }
      rows.iterator.map { case (r, c, _) => (r, c, z((r, c))) }
    }.toDF("r", "c", "breached")
  }

  /**
   * JensonSnapPourPoints (HydroTools/JensonSnapPourPoints.java:
   * 360-400, raster arm): each outlet snaps to the stream cell
   * (n_upslope >= threshold) with minimum squared cell distance
   * within `snapDist` cells; the reference's col-ascending-then-row-
   * ascending scan with a strict `<` keeps the FIRST minimum, i.e.
   * ties break by (dist2, col, row) — unlike [[snapPourPoints]]'
   * max-accumulation semantics. Executed as a bounded stencil join:
   * each outlet explodes its (2k+1)^2 offsets row by row, so the plan
   * has the same size for any k, and no table is broadcast.
   */
  def jensonSnapPourPoints(grid: DataFrame, outlets: DataFrame,
                           threshold: Long, snapDist: Int): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val stream = extractStreams(grid, threshold)
      .select(col("r").as("sr"), col("c").as("sc"))
    val offset = explode(sequence(lit(-snapDist), lit(snapDist)))
    val cand = outlets
      .select(col("outlet_id"), col("r"), col("c"), offset.as("dr"))
      .select(col("*"), offset.as("dc"))
      .select(col("outlet_id"), col("r"), col("c"),
        (col("r") + col("dr")).as("sr"), (col("c") + col("dc")).as("sc"))
      .join(stream, Seq("sr", "sc"))
      .select(col("outlet_id"), col("sr"), col("sc"),
        ((col("sr") - col("r")) * (col("sr") - col("r")) +
         (col("sc") - col("c")) * (col("sc") - col("c"))).as("d2"))
    val firstMin = org.apache.spark.sql.expressions.Window
      .partitionBy("outlet_id")
      .orderBy(col("d2"), col("sc"), col("sr"))
    val snapped = cand.withColumn("rn", row_number().over(firstMin))
      .where(col("rn") === 1)
      .select(col("outlet_id"), col("sr"), col("sc"))
    // no stream cell in the window -> the outlet keeps its own cell
    // (the reference's minX/minY defaults, JensonSnapPourPoints.java:298)
    outlets.join(snapped, Seq("outlet_id"), "left")
      .select(col("outlet_id"),
        coalesce(col("sr"), col("r")).as("snap_r"),
        coalesce(col("sc"), col("c")).as("snap_c"))
  }

  /** Per-step nano distance between 8-adjacent cells (diagonal vs
    * straight), exact-integer so path sums are order-independent. */
  private def stepNano: Column =
    when(abs(col("tr") - col("r")) + abs(col("tc") - col("c")) === 2,
      lit(DiagNano)).otherwise(lit(1000000000L))

  /**
   * Full flowpath closure: every (sr, sc, r, c, dn) with (r, c) on
   * the D8 path from (sr, sc) and dn the exact nano path distance
   * (identity rows dn = 0 included). Transitive-closure doubling —
   * O(log pathLen) rounds, each a self-join; closure size is
   * O(cells x path length), the same bound as the walk CTEs the
   * oracle uses. Paths are unique in a functional graph, so each
   * (start, cell) pair carries one distance and `distinct` is exact.
   */
  private def flowpathClosure(grid: DataFrame): DataFrame =
    graft.core.Memo.cached(
      graft.core.Memo.key(grid, "flowpathClosure"),
      grid.sparkSession) {
      // memoized on the GRID plan (the four flowpath tools all derive
      // the identical closure from the same DEM per session; keying
      // on the checkpointed pointer would never hit)
      val ptr = d8Pointer(grid)
      closure(ptr, d8EdgesFromPtr(ptr).withColumn("dn", stepNano))
    }

  /** Transitive closure (sr, sc, r, c, dn) of the paths along
    * `edges` (r, c, tr, tc, dn) over `cells` (r, c), identity rows
    * (dn = 0) included, by doubling: each round joins the relation to
    * itself, adding `dn` along the joined paths, until a round adds
    * no row. */
  private def closure(cells: DataFrame, edges: DataFrame): DataFrame = {
    var r = cells.select(col("r").as("sr"), col("c").as("sc"),
        col("r"), col("c"), lit(0L).as("dn"))
      .unionByName(edges.select(col("r").as("sr"), col("c").as("sc"),
        col("tr").as("r"), col("tc").as("c"), col("dn")))
      .transform(Checkpoint(_))
    var n = Checkpoint.rows(r)
    var converged = false
    while (!converged) {
      val hop = r.select(col("sr").as("hr"), col("sc").as("hc"),
        col("r").as("r2"), col("c").as("c2"), col("dn").as("d2"))
      val doubled = r
        .join(hop, col("r") === col("hr") && col("c") === col("hc"))
        .select(col("sr"), col("sc"), col("r2").as("r"),
          col("c2").as("c"), (col("dn") + col("d2")).as("dn"))
        .unionByName(r).distinct().transform(Checkpoint(_))
      val n2 = Checkpoint.rows(doubled)
      converged = n2 == n
      n = n2
      r = doubled
    }
    r
  }

  /**
   * BranchLength (TerrainAnalysisTools/BranchLength.java:262-420):
   * for every E/SE/S/SW-adjacent in-grid cell pair, trace both D8
   * flowpaths to their confluence (the first shared cell); each cell
   * of the pair receives its along-path nano distance to the
   * confluence, or its full path length when the paths never meet;
   * the output is the max over a cell's pairs. Relational form: the
   * confluence of (p, q) is the common closure cell minimizing p's
   * distance (path suffixes coincide in a functional graph, so the
   * argmin is the true junction and q's distance rides along).
   */
  def branchLength(grid: DataFrame, nRows: Long, nCols: Long): DataFrame = {
    val ptr = d8Pointer(grid)
    val reach = flowpathClosure(grid)
    // E, SE, S, SW (BranchLength.java's testByte c = 1..4), in-grid
    val dirs = Seq((0, 1), (1, 1), (1, 0), (1, -1))
    val cells = ptr.select(col("r"), col("c"))
    val pairs = Focal.crossLiteral(cells, Seq("qdy", "qdx"), dirs)
      .select(col("r").as("pr"), col("c").as("pc"),
        (col("r") + col("qdy")).as("qr"), (col("c") + col("qdx")).as("qc"))
      .join(cells.select(col("r").as("qr"), col("c").as("qc")),
        Seq("qr", "qc"))
      .transform(Checkpoint(_))
    val ra = reach.select(col("sr").as("pr"), col("sc").as("pc"),
      col("r").as("jr"), col("c").as("jc"), col("dn").as("d1"))
    val rb = reach.select(col("sr").as("qr"), col("sc").as("qc"),
      col("r").as("jr"), col("c").as("jc"), col("dn").as("d2"))
    val confl = pairs.join(ra, Seq("pr", "pc")).join(rb,
        Seq("qr", "qc", "jr", "jc"))
      .groupBy("pr", "pc", "qr", "qc")
      .agg(min_by(struct(col("d1"), col("d2")), col("d1")).as("j"))
      .select(col("pr"), col("pc"), col("qr"), col("qc"),
        col("j.d1").as("d1"), col("j.d2").as("d2"))
    val full = reach.groupBy(col("sr"), col("sc"))
      .agg(max(col("dn")).as("fl"))
    val noConfl = pairs.join(confl.select("pr", "pc", "qr", "qc")
        .withColumn("__c", lit(1)), Seq("pr", "pc", "qr", "qc"), "left")
      .where(col("__c").isNull)
      .join(full.select(col("sr").as("pr"), col("sc").as("pc"),
        col("fl").as("d1")), Seq("pr", "pc"))
      .join(full.select(col("sr").as("qr"), col("sc").as("qc"),
        col("fl").as("d2")), Seq("qr", "qc"))
      .select("pr", "pc", "qr", "qc", "d1", "d2")
    val contrib = confl.unionByName(noConfl)
    contrib.select(col("pr").as("r"), col("pc").as("c"), col("d1").as("d"))
      .unionByName(contrib.select(col("qr").as("r"), col("qc").as("c"),
        col("d2").as("d")))
      .groupBy("r", "c").agg(max(col("d")).as("branch_nano"))
  }

  /**
   * FindParallelFlow (HydroTools/FindParallelFlow.java:230-260, no
   * streams arm): 1 where some neighbour that is neither the cell's
   * downslope target nor flowing into the cell carries the SAME D8
   * pointer value, else 0. One stencil pass.
   */
  def findParallelFlow(grid: DataFrame): DataFrame = {
    val ptr = d8Pointer(grid)
    val offs = (0 until 8).map(i =>
      (dY(i), dX(i), 1L << i, 1L << ((i + 4) % 8)))
    Focal.crossLiteral(ptr, Seq("dy", "dx", "outv", "inv"), offs)
      .join(ptr.select(col("r").as("nr"), col("c").as("nc"),
          col("ptr").as("nptr")),
        col("nr") === col("r") + col("dy") &&
          col("nc") === col("c") + col("dx"), "left")
      .groupBy("r", "c")
      .agg(max(when(col("ptr") =!= col("outv") &&
        col("nptr") === col("ptr") && col("nptr") =!= col("inv"), 1L)
        .otherwise(0L)).as("parallel"))
  }

  /**
   * TraceDownslopeFlowpaths (Scripts/TraceDownslopeFlowpaths.groovy:
   * 95-130, background=0 arm): each seed paints its D8 path with its
   * value, stopping at already-painted cells; the row-major seed scan
   * makes the first-scan-order seed win every shared downstream cell,
   * while seed cells always keep their own value (the unconditional
   * self-write). seeds: (sr, sc, sval).
   */
  def traceDownslopeFlowpaths(grid: DataFrame,
                              seeds: DataFrame): DataFrame = {
    val reach = flowpathClosure(grid)
    val painted = seeds.join(reach, Seq("sr", "sc"))
    val firstSeed = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c").orderBy(col("sr"), col("sc"))
    val byScan = painted
      .withColumn("rn", row_number().over(firstSeed))
      .where(col("rn") === 1)
      .select(col("r"), col("c"), col("sval"))
    byScan.join(seeds.select(col("sr").as("r"), col("sc").as("c"),
        col("sval").as("own")), Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        coalesce(col("own"), col("sval")).as("trace_val"))
  }

  /**
   * MedianUpstreamArea (GeasyTools/MedianUpstreamArea.java:296-400):
   * over the creek-cell graph (creek = accumulation >= threshold)
   * with edges to each cell's steepest LOWER creek neighbour
   * (slope = dz/dist, first-in-scan tie win over the tool's N-first
   * counter-clockwise stencil), every creek cell gets the median of
   * the accumulation values of its upstream closure including
   * itself — the reference's elevation-ordered chain walk computes
   * exactly this closure median (its value-remove step is multiset-
   * safe and its elevation filter only discards cells that are
   * already downstream).
   */
  def medianUpstreamArea(grid: DataFrame, threshold: Long): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val creek = extractStreams(grid, threshold)
      .join(grid, Seq("r", "c"))
      .select(col("r"), col("c"), col("v"), col("n_upslope").as("area"))
      .transform(Checkpoint(_))
    // MedianUpstreamArea.java:45-47 stencil (N-first, counter-
    // clockwise) with its own dd distances
    val xd = Seq(0, -1, -1, -1, 0, 1, 1, 1)
    val ydRef = Seq(-1, -1, 0, 1, 1, 1, 0, -1)
    val dd = Seq(1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0), 1.0,
      math.sqrt(2.0), 1.0, math.sqrt(2.0))
    val offs = (0 until 8).map(i => (i, ydRef(i), xd(i), dd(i)))
    val cand = Focal.crossLiteral(creek, Seq("ci", "dy", "dx", "dd"), offs)
      .join(creek.select(col("r").as("nr"), col("c").as("nc"),
          col("v").as("nz")),
        col("nr") === col("r") + col("dy") &&
          col("nc") === col("c") + col("dx"))
      .where(col("nz") < col("v"))
      .withColumn("slope", (col("v") - col("nz")) / col("dd"))
    val firstMax = org.apache.spark.sql.expressions.Window
      .partitionBy("r", "c").orderBy(col("slope").desc, col("ci"))
    val edges = cand.withColumn("rn", row_number().over(firstMax))
      .where(col("rn") === 1)
      .select(col("r"), col("c"), col("nr").as("tr"), col("nc").as("tc"))
      .transform(Checkpoint(_))
    val rch = closure(creek, edges.withColumn("dn", lit(0L)))
    rch.join(creek.select(col("r").as("sr"), col("c").as("sc"),
        col("area")), Seq("sr", "sc"))
      .groupBy("r", "c")
      .agg(percentile(col("area").cast("double"), lit(0.5)).as("med_area"))
  }

  /**
   * StrahlerOrderBasins (HydroTools/StrahlerOrderBasins.java:
   * 230-360): every cell takes the Strahler order of the FIRST
   * stream cell on its D8 flowpath (stream cells keep their own
   * order — the headwater-walk order assignment of the reference
   * equals the link-graph Strahler propagated to link cells). Cells
   * whose path exits the grid without touching a stream are absent.
   */
  def strahlerOrderBasins(grid: DataFrame, threshold: Long,
                          width: Long): DataFrame = {
    val ord = strahlerOrder(grid, threshold, width)
    val links = streamLinkId(grid, threshold, width)
    val cellOrd = links.join(ord, Seq("link_id"))
      .select(col("r"), col("c"), col("strahler"))
    val reach = flowpathClosure(grid)
    reach.join(cellOrd, Seq("r", "c"))
      .groupBy(col("sr").as("r"), col("sc").as("c"))
      .agg(min_by(col("strahler"), col("dn")).as("basin_order"))
  }

  /**
   * StreamLinkClassification (StreamNetworkAnalysisTools/
   * StreamLinkClassification.java:250-345): per stream cell — 5 at
   * outlets (pointer 0), 3 at source nodes (no stream inflow), 4 at
   * junctions (>1 inflow), else min(2, upstream headwater count).
   * The reference's order-dependent headwater walks reduce to
   * exactly that closure count (paths stop at 2-valued cells, whose
   * downstream is already saturated — an induction the Scaladoc of
   * the oracle mirrors), so the operator is fully relational here.
   */
  def streamLinkClassification(grid: DataFrame,
                               threshold: Long): DataFrame = {
    val (stream0, sedges0, indeg0) = streamGraph(grid, threshold)
    // re-alias the shared memoized frames (fresh attribute ids): the
    // assembly below joins them several times in one plan and the
    // using-join resolution otherwise collides
    val stream = stream0.toDF("r", "c")
    val sedges = sedges0.toDF("r", "c", "tr", "tc")
    val indeg = indeg0.toDF("tr", "tc", "n")
    val heads = stream.join(indeg.select(col("tr").as("r"),
        col("tc").as("c")), Seq("r", "c"), "left_anti")
      .transform(Checkpoint(_))
    // upstream headwater count via the full-grid flowpath closure:
    // accumulation is monotone downstream, so a stream headwater's
    // D8 path never leaves the stream — cell X has headwater h
    // upstream (in the stream graph) iff X lies on h's flowpath
    val ptr = d8Pointer(grid)
    val hk = flowpathClosure(grid)
      .join(heads.select(col("r").as("sr"), col("c").as("sc")),
        Seq("sr", "sc"))
      .groupBy("r", "c").agg(count(lit(1)).as("k"))
    stream.join(ptr, Seq("r", "c"))
      .join(indeg.select(col("tr").as("r"), col("tc").as("c"),
        col("n").as("n_in")), Seq("r", "c"), "left")
      .join(hk, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        when(col("ptr") === 0, 5L)
          .when(col("n_in").isNull, 3L)
          .when(col("n_in") > 1, 4L)
          .otherwise(least(lit(2L), coalesce(col("k"), lit(0L))))
          .as("link_class"))
  }

  /**
   * WallWatershed (HydroTools/WallWatershed.java:258-280, raster
   * arm): cells of a watershed bordering a different id (an absent /
   * off-grid neighbour counts as different) rise by `increment`;
   * non-bordering watershed-interior cells are NOT written and stay
   * NoData — the reference's missing else-branch, mirrored
   * literally as absent rows. The reference's `w > 0` test only
   * filters NoData/background watershed values; the engine's ids are
   * linearized cell ids (r*width+c) where a legitimate sink at (0,0)
   * is id 0 and every cell HAS a basin, so the background branch is
   * vacuous here (ADVICE r4: a `sink_id <= 0` guard silently exempted
   * basin 0 from walling).
   */
  def wallWatershed(grid: DataFrame, width: Long,
                    increment: Double): DataFrame = {
    val ws = watershed(grid, width).transform(Checkpoint(_))
    val offs = (0 until 8).map(i => (dY(i), dX(i)))
    val same = Focal.crossLiteral(ws, Seq("dy", "dx"), offs)
      .join(ws.select(col("r").as("nr"), col("c").as("nc"),
          col("sink_id").as("nw")),
        col("nr") === col("r") + col("dy") &&
          col("nc") === col("c") + col("dx"))
      .where(col("nw") === col("sink_id"))
      .groupBy("r", "c").agg(count(lit(1)).as("nsame"))
    grid.join(ws, Seq("r", "c"))
      .join(same, Seq("r", "c"), "left")
      .where(coalesce(col("nsame"), lit(0L)) < 8)
      .select(col("r"), col("c"), (col("v") + increment).as("walled"))
  }

  /**
   * ExposureTowardsWindFlux (TerrainAnalysisTools/
   * ExposureTowardsWindFlux.java:305-330, no-horizon arm):
   * exposure = cos(slope)·sin(HA=0) + sin(slope)·cos(HA=0)·
   * cos(relAspect) = sin(slope)·cos(relAspect). The reference's
   * azimuth is converted to radians at parse (line 218) and then
   * subtracted from the DEGREE aspect before the 180-fold and a
   * SECOND toRadians — that unit slip is mirrored literally.
   * Slope here is the engine's radian hornSlope (the reference
   * pipes the degree Slope raster through toRadians — same angle).
   */
  def exposureTowardsWindFlux(grid: DataFrame, azimuthDeg: Double,
                              nRows: Long, nCols: Long): DataFrame = {
    val sl = Raster.hornSlope(grid, nRows, nCols)
    val asp = aspect(grid, nRows, nCols)
    val azPrime = math.toRadians(azimuthDeg - 90)
    val rel0 = lit(azPrime) - col("aspect")
    val rel = when(rel0 > 180, lit(360.0) - rel0).otherwise(rel0)
    sl.join(asp, Seq("r", "c")).select(col("r"), col("c"),
      round(sin(col("slope_rad")) *
        cos(rel * lit(math.Pi) / lit(180.0)), 6).as("exposure"))
  }

  /**
   * ExposureTowardsWindFlux, horizon-shadowing arm
   * (ExposureTowardsWindFlux.java:264-301): exposure =
   * cos(slope)·sin(HA) + sin(slope)·cos(HA)·cos(relAspect), with HA
   * the HorizonAngle raster toward the wind azimuth (degrees, read
   * back through toRadians like the slope input). The azimuth/aspect
   * unit slip of the no-horizon arm is mirrored identically
   * (radian azimuth minus degree aspect, 180-fold, then a second
   * toRadians). ONE deliberate deviation: the reference's write sits
   * inside its `relativeAspect > 180` branch (a misplaced brace,
   * line 277-292) which — with a radian azimuth that can never
   * exceed 2π against a degree aspect — would emit an empty raster
   * for every input; the engine applies the branch as the fold it
   * plainly intends and writes every cell, composing the same
   * formula the no-horizon arm uses with HA = 0.
   */
  def exposureTowardsWindFluxHorizon(grid: DataFrame,
                                     azimuthDeg: Double, nRows: Long,
                                     nCols: Long): DataFrame = {
    val sl = Raster.hornSlope(grid, nRows, nCols)
    val asp = aspect(grid, nRows, nCols)
    val ha = horizonAngle(grid, nRows, nCols, azimuthDeg)
    val azPrime = math.toRadians(azimuthDeg - 90)
    val rel0 = lit(azPrime) - col("aspect")
    val rel = when(rel0 > 180, lit(360.0) - rel0).otherwise(rel0)
    val haRad = col("horizon_angle") * lit(math.Pi) / lit(180.0)
    sl.join(asp, Seq("r", "c")).join(ha, Seq("r", "c"))
      .select(col("r"), col("c"),
        round(cos(col("slope_rad")) * sin(haRad) +
          sin(col("slope_rad")) * cos(haRad) *
            cos(rel * lit(math.Pi) / lit(180.0)), 6).as("exposure"))
  }

  /**
   * TurningBands (StatsTools/TurningBands.java:234-480): a Gaussian
   * random field as the sum of `numBands` independent filtered 1-D
   * line processes projected onto the grid along random directions.
   * The engine variant is SEEDED (the reference uses an unseeded
   * Random — its own output is unreproducible), with a moving-mean
   * line filter and linear interpolation at the projection. Band
   * lines are driver-built (numBands x diagonal doubles — trivially
   * small) and inlined as LITERAL array expressions, so the field is
   * one shuffle-free map-side projection whose `numBands`-term sum
   * folds in fixed band order — and the identical literals/fold
   * replay in the DuckDB oracle (the r4 crossJoin+groupBy form had
   * no SQL oracle because the sum order was runtime-dependent).
   */
  private[graft] def turningBandLines(nRows: Long, nCols: Long,
                                      range: Double, numBands: Int,
                                      seed: Long)
      : (Int, Seq[(Double, Double, Array[Double])]) = {
    val diag = math.ceil(math.sqrt(
      (nRows * nRows + nCols * nCols).toDouble)).toInt + 2
    val half = math.max(1, (range / 2).toInt)
    val bands = (0 until numBands).map { b =>
      val rnd = new scala.util.Random(seed * 7919 + b)
      val theta = rnd.nextDouble() * math.Pi
      val raw = Array.fill(diag + 2 * half)(rnd.nextGaussian())
      // moving-mean filter over 2*half+1 taps
      val line = Array.tabulate(diag) { j =>
        var s = 0.0
        var k = -half
        while (k <= half) { s += raw(j + half + k); k += 1 }
        s / (2 * half + 1)
      }
      (math.cos(theta), math.sin(theta), line)
    }
    (diag, bands)
  }

  def turningBands(grid: DataFrame, nRows: Long, nCols: Long,
                   range: Double, numBands: Int, seed: Long): DataFrame = {
    val (diag, bands) = turningBandLines(nRows, nCols, range, numBands,
      seed)
    val contribs = bands.map { case (ct, st, line) =>
      val lineCol = array(line.toSeq.map(lit): _*)
      // projection offset keeps indices in [0, diag)
      val off = lit((diag / 2).toDouble) +
        (col("c") * lit(ct) + col("r") * lit(st)) -
        lit(nCols / 2.0 * ct) - lit(nRows / 2.0 * st)
      val idx = floor(off).cast("int")
      val frac = off - floor(off)
      val v1 = element_at(lineCol, idx + 1)
      val v2 = element_at(lineCol, idx + 2)
      v1 + frac * (v2 - v1)
    }
    grid.select(col("r"), col("c"),
      round(contribs.reduce(_ + _) /
        sqrt(lit(numBands.toDouble)), 6).as("tb"))
  }

  /**
   * StochasticDepressionAnalysis (TerrainAnalysisTools/
   * StochasticDepressionAnalysis.java): Monte-Carlo pdep — add a
   * seeded error field (per-cell hash-derived Box-Muller normals,
   * scale `rmse`) to the DEM, fill depressions, and report the
   * fraction of iterations each cell sits in a depression. Each
   * iteration is one tiled priority-flood fill; the per-cell error
   * is a pure column expression (squared-mix modular hash -> uniform
   * -> Box-Muller normal, the exact integer/IEEE ops the DuckDB
   * oracle replays), so every iteration is deterministic and
   * distributed, and the full pdep surface has a SQL oracle (one
   * recursive spill-path CTE per error field). The `iters` fills are
   * independent, so they run CONCURRENTLY on the scheduler (each is
   * a multi-round tiled job; serializing them made this the slowest
   * query of BENCH_r04 at 10.5 s) and skip the memo (fresh one-off
   * inputs can never produce a second hit — ADVICE r4).
   */
  def stochasticDepressionAnalysis(grid: DataFrame, nRows: Long,
                                   nCols: Long, rmse: Double,
                                   iters: Int, seed: Long): DataFrame = {
    import scala.concurrent.duration.Duration
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(iters)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val futs = (0 until iters).map { it =>
      Future {
        // squared-mix hash: reduce mod p BEFORE squaring so the
        // square stays under 2^63 (ANSI mode and DuckDB BIGINT both
        // error on overflow instead of wrapping)
        val p = 1000000007L
        val h1 = (col("r") * lit(7919L) + col("c") * lit(104729L) +
          lit((seed + it) * 15485863L)) % lit(p)
        val h2 = (col("r") * lit(104729L) + col("c") * lit(7919L) +
          lit((seed * 31 + it) * 15485867L)) % lit(p)
        val u1 = ((h1 * h1) % lit(p)).cast("double")
          .plus(lit(1.0)) / lit(1000000009.0)
        val u2 = ((h2 * h2) % lit(p)).cast("double") / lit(1000000007.0)
        val gauss = sqrt(lit(-2.0) * log(u1)) *
          cos(lit(2.0 * math.Pi) * u2)
        val demE = grid.select(col("r"), col("c"),
          (col("v") + lit(rmse) * gauss).as("v")).transform(Checkpoint(_))
        fillDepressions(demE, nRows, nCols, memoize = false)
          .join(demE, Seq("r", "c"))
          .where(col("v") < col("filled"))
          .select(col("r"), col("c"))
          .transform(Checkpoint(_))
      }
    }
    val masks = futs.map(Await.result(_, Duration.Inf))
    pool.shutdown()
    val hits = masks.reduce(_ unionByName _)
      .groupBy("r", "c").agg(count(lit(1)).as("k"))
    grid.join(hits, Seq("r", "c"), "left")
      .select(col("r"), col("c"),
        (coalesce(col("k"), lit(0L)).cast("double") / iters).as("pdep"))
  }

  /**
   * Watershed (HydroTools/Watershed.java:386-401 trace semantics):
   * label every cell with the sink (terminal cell, ptr = 0) its D8
   * flowpath reaches, by [[resolvePointers]] — pointer doubling in
   * the distributed arm, so convergence takes O(log(longest path))
   * rounds instead of O(path): the Spark-native answer to the
   * reference's per-cell downstream trace loop.
   * Output: (r, c, sink_id) with sink_id = sink.r * width + sink.c.
   */
  def watershed(grid: DataFrame, width: Long): DataFrame =
    resolvePointers(d8Next(d8Pointer(grid))).select(col("r"), col("c"),
      (col("tr") * width + col("tc")).as("sink_id"))
}
