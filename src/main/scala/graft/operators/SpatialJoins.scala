package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{CellIndex, Checkpoint}
import graft.expr.GeoFunctions._

/**
 * Cell-keyed spatial joins — the Spark-native re-expression of the
 * reference's spatial lookup patterns (SURVEY.md §2.3):
 *
 *  - [[pipJoin]]: point-in-polygon overlay join — replaces the nested
 *    loop + DE-9IM of
 *    VectorTools/src/plugins/IsolateVectorFeaturesByLocation.java:360-611
 *    with a broadcast cell-cover equi-join plus an exact ray-cast
 *    residual predicate;
 *  - [[distanceJoin]]: distance-within theta join via k-ring expansion
 *    (`isWithinDistance`, IsolateVectorFeaturesByLocation.java:779);
 *  - [[knnJoin]]: exact k-nearest-neighbour join via iterative-
 *    deepening k-ring + distance-bounded window rank — the distributed
 *    mirror of KdTree.nearestNeighbor's heap search
 *    (WhiteboxAPI/src/whitebox/structures/KdTree.java:339-430).
 *
 * All joins key both sides by the deterministic cell index
 * (graft.core.CellIndex), so at cluster scale they run as hash
 * shuffles on cell ids with AQE skew-splitting; the polygon side of
 * the PIP join is broadcast (small-dim assumption, matching the
 * reference where zone layers are small relative to the page table).
 */
// Serializable: the broadcast-kNN kernel's nested defs lift to
// methods on this object, so the task closure captures it.
object SpatialJoins extends Serializable {

  /**
   * Points × polygon zones, inner join on containment.
   *
   * `points` must carry (`xCol`, `yCol`); `zones` must carry
   * (xs: Array[Double], ys: Array[Double], parts: Array[Int],
   * min_x, min_y, max_x, max_y). Each zone is exploded over the cells
   * covering its bbox at `res` and broadcast; points join on their
   * single containing cell; the exact even-odd PIP runs only on cell
   * matches (bbox pretest folded in, Clip.java:281 analogue).
   *
   * Output: all point columns + zone columns minus geometry arrays.
   */
  def pipJoin(points: DataFrame, zones: DataFrame, res: Int,
              xCol: String = "x", yCol: String = "y"): DataFrame = {
    val zoneCells = zones
      .withColumn("__cell", explode(cover_bbox(
        col("min_x"), col("min_y"), col("max_x"), col("max_y"), lit(res))))
    val pts = points.withColumn("__cell",
      latlng_to_cell(col(yCol), col(xCol), lit(res)))
    val px = pts(xCol)
    val py = pts(yCol)
    pts.join(broadcast(zoneCells), Seq("__cell"), "inner")
      .where(px >= col("min_x") && px <= col("max_x") &&
             py >= col("min_y") && py <= col("max_y") &&
             pip_contains(px, py, col("xs"), col("ys"), col("parts")))
      .drop("__cell", "xs", "ys", "parts",
        "min_x", "min_y", "max_x", "max_y")
  }

  /** Coarsest resolution whose cell extent is >= `radius` but still
    * >= minRes; keeps the k-ring fanout at ~9 cells per probe. */
  def resForRadius(radius: Double, maxRes: Int = CellIndex.DefaultRes): Int = {
    var r = maxRes
    while (r > 0 && CellIndex.cellHeightDeg(r) < radius) r -= 1
    r
  }

  /**
   * All (left, right) pairs within planar distance `radius`.
   * Executed as: ring-explode the RIGHT side (the small dim in every
   * engine query — suppliers vs the page cloud) over the k-ring that
   * guarantees covering `radius` and broadcast it; the big left side
   * keys by its single containing cell and streams map-side — no
   * shuffle and no big-side row amplification. Ring membership is
   * symmetric on the lattice (|Δrow| and wrapped |Δcol| are
   * symmetric), so covering from the right side yields the identical
   * candidate superset; the exact distance predicate then decides.
   * When the right side exceeds `broadcastRows`, falls back to a
   * cell-keyed hash shuffle join with the explode on the right —
   * at 1000-executor scale that is a plain equi-shuffle on cell ids
   * with AQE skew-splitting.
   *
   * Columns: both frames need (`xCol`,`yCol`); output = left columns +
   * right columns (caller disambiguates names beforehand) + `dist2`.
   */
  def distanceJoin(left: DataFrame, right: DataFrame, radius: Double,
                   lx: String = "x", ly: String = "y",
                   rx: String = "rx", ry: String = "ry",
                   broadcastRows: Long = 1000000L): DataFrame = {
    val res = resForRadius(radius)
    val k = CellIndex.ringsForRadius(res, radius) - 1
    val l = left.withColumn("__cell",
      latlng_to_cell(col(ly), col(lx), lit(res)))
    val r = right.withColumn("__cell", explode(k_ring(
      latlng_to_cell(col(ry), col(rx), lit(res)), lit(k))))
    val d2 = (col(lx) - col(rx)) * (col(lx) - col(rx)) +
             (col(ly) - col(ry)) * (col(ly) - col(ry))
    // planner size estimate of the un-exploded right side, times the
    // ring fan-out, against a ~256 MB broadcast budget (~40 bytes/row)
    val rBytes = right.queryExecution.optimizedPlan.stats
      .sizeInBytes * (2L * k + 1) * (2L * k + 1)
    val joined =
      if (rBytes <= broadcastRows * 256L)
        l.join(broadcast(r), Seq("__cell"), "inner")
      else l.join(r, Seq("__cell"), "inner")
    joined
      .where(d2 <= lit(radius * radius))
      .drop("__cell")
      .withColumn("dist2", d2)
  }

  /**
   * Exact kNN join: for each probe row the `k` nearest build rows by
   * planar distance, ties broken by build id ascending (deterministic,
   * mirroring ResultHeap's stable ordering, KdTree.java:918-986).
   *
   * Hierarchical iterative deepening: each round searches the 2-ring
   * of the probe's cell at resolution res - t (cell size doubles per
   * round, fan-out stays ~25 cells), keeping probes whose k-th
   * neighbour distance is within the round's ring-guarantee radius —
   * provably exact. Ring-doubling at a fixed resolution would explode
   * quadratically for sparse-region probes (certifying a neighbour at
   * distance d needs a d/cellSize ring); coarsening the grid keeps
   * the per-round candidate fan-out constant and converges in
   * O(log(domain/cell)) rounds — the distributed equivalent of the
   * kd-tree's geometric search-region growth.
   *
   * probe: (probeIdCol, x, y); build: (buildIdCol, rx, ry).
   * Output: probeId, buildId, rnk (1..k), dist2.
   */
  /** Density-aware resolution: coarse enough that the k0-ring of a
    * probe is expected to hold ~2k build points, so most probes
    * resolve in the first round (the kd-tree's implicit locality,
    * chosen explicitly here). */
  def resForKnn(buildCount: Long, kNeighbors: Int): Int = {
    val targetCells = math.max(1.0, 25.0 * buildCount / (2.0 * kNeighbors))
    // ceil: err on the FINER side — a too-coarse start pays one huge
    // candidate round, a too-fine start pays cheap extra rounds that
    // the branch-and-bound prune shrinks geometrically
    val r = math.ceil((math.log(targetCells) / math.log(2.0) - 1) / 2)
      .toInt
    math.max(2, math.min(r, CellIndex.DefaultRes))
  }

  /** Build-side row threshold under which [[knnJoin]] switches to the
    * broadcast kd-tree plan ([[knnJoinBroadcast]]). Tests lower it to
    * force the iterative-deepening path. */
  private[graft] var broadcastKnnMaxBuildRows: Long = 200000L

  /** Planner row estimate of `df`, read without a job: the optimizer's
    * row count when it has one, else its size estimate over the row
    * width. Exact on a footed checkpoint (`core.Checkpoint`), and on
    * a frame over one the size is its real bytes, not a guess. BigInt,
    * because an unknown size is Long.MaxValue bytes. */
  private[graft] def estimatedRows(df: DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.getOrElse(
      plan.stats.sizeInBytes / EstimationUtils.getSizePerRow(plan.output))
  }

  /**
   * Broadcast-kNN: when the build side fits in executor memory, the
   * whole join is ONE map-side pass — a balanced kd-tree is built
   * once from the collected build points (id, x, y), broadcast, and
   * every probe partition streams through it independently (no
   * candidate shuffle, no rounds; probe-side parallelism is
   * unbounded). This is
   * the plan a 1000-executor cluster wants whenever the build side is
   * a gazetteer-scale dimension — the literal distributed form of the
   * reference's KdTree.nearestNeighbor (KdTree.java:339-430).
   * Output contract identical to [[knnJoin]]: exact top-k by
   * (dist2, buildId), dist2 = dx·dx + dy·dy in the same operation
   * order as the Column form.
   */
  private def knnJoinBroadcast(probe: DataFrame,
      pts: Array[(Long, Double, Double)], kNeighbors: Int,
      probeId: String, buildId: String, px: String, py: String)
      : DataFrame = {
    val spark = probe.sparkSession
    import spark.implicits._
    val n = pts.length
    val ids = new Array[Long](n)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    // balanced kd layout: axis alternates with depth; node = median
    val ord = pts.indices.toArray
    def buildTree(lo: Int, hi: Int, axis: Int): Unit = {
      if (lo >= hi) return
      val mid = (lo + hi) >>> 1
      val key: Int => Double =
        if (axis == 0) i => pts(ord(i))._2 else i => pts(ord(i))._3
      // nth_element via quickselect on ord[lo, hi)
      var l = lo; var h = hi - 1
      while (l < h) {
        val pivot = key((l + h) >>> 1)
        var i = l; var j = h
        while (i <= j) {
          while (key(i) < pivot) i += 1
          while (key(j) > pivot) j -= 1
          if (i <= j) {
            val t = ord(i); ord(i) = ord(j); ord(j) = t
            i += 1; j -= 1
          }
        }
        if (mid <= j) h = j
        else if (mid >= i) l = i
        else { l = h } // mid between j and i: positioned
      }
      buildTree(lo, mid, 1 - axis)
      buildTree(mid + 1, hi, 1 - axis)
    }
    buildTree(0, n, 0)
    for (i <- 0 until n) {
      ids(i) = pts(ord(i))._1
      xs(i) = pts(ord(i))._2
      ys(i) = pts(ord(i))._3
    }
    val bc = spark.sparkContext.broadcast((ids, xs, ys))
    probe.select(col(probeId), col(px), col(py))
      .as[(Long, Double, Double)]
      .mapPartitions { it =>
        val (bi, bxArr, byArr) = bc.value
        val nn = bi.length
        val k = math.min(kNeighbors, nn)
        it.flatMap { case (pid, qx, qy) =>
          val kd = Array.fill(k)(Double.PositiveInfinity)
          val ki = Array.fill(k)(Long.MaxValue)
          @inline def worse(d2: Double, id: Long): Boolean =
            d2 > kd(k - 1) || (d2 == kd(k - 1) && id >= ki(k - 1))
          def insert(d2: Double, id: Long): Unit = {
            if (!worse(d2, id)) {
              var pos = k - 1
              while (pos > 0 && (d2 < kd(pos - 1) ||
                (d2 == kd(pos - 1) && id < ki(pos - 1)))) {
                kd(pos) = kd(pos - 1); ki(pos) = ki(pos - 1)
                pos -= 1
              }
              kd(pos) = d2; ki(pos) = id
            }
          }
          def search(lo: Int, hi: Int, axis: Int): Unit = {
            if (lo >= hi) return
            val mid = (lo + hi) >>> 1
            val dx = qx - bxArr(mid)
            val dy = qy - byArr(mid)
            insert(dx * dx + dy * dy, bi(mid))
            val delta = if (axis == 0) dx else dy
            val (nearLo, nearHi, farLo, farHi) =
              if (delta < 0) (lo, mid, mid + 1, hi)
              else (mid + 1, hi, lo, mid)
            search(nearLo, nearHi, 1 - axis)
            // descend the far side unless strictly beyond the current
            // k-th distance (equality can still improve the id
            // tie-break, so it does NOT prune)
            if (delta * delta <= kd(k - 1)) search(farLo, farHi, 1 - axis)
          }
          search(0, nn, 0)
          (0 until k).iterator
            .filter(j => ki(j) != Long.MaxValue)
            .map(j => (pid, ki(j), (j + 1).toLong, kd(j)))
        }
      }
      .toDF(probeId, buildId, "rnk", "dist2")
  }

  def knnJoin(probe: DataFrame, build: DataFrame, kNeighbors: Int,
              res0: Int = -1, probeId: String = "probe_id",
              buildId: String = "build_id",
              px: String = "x", py: String = "y",
              bx: String = "rx", by: String = "ry",
              k0: Int = 2): DataFrame = {
    val spark = probe.sparkSession
    import spark.implicits._
    val keyed = build.select(col(buildId), col(bx), col(by))
    // Size-adaptive plan choice (the AQE pattern): a build side that
    // fits in memory takes the shuffle-free broadcast kd-tree plan —
    // exact same output, one map-side job instead of deepening rounds.
    // The planner's size estimate picks the arm without a job; the
    // broadcast arm's one collect then checks the exact row bound and
    // hands a build side above it to the deepening rounds.
    if (estimatedRows(keyed) <= broadcastKnnMaxBuildRows) {
      val pts = keyed.as[(Long, Double, Double)].collect()
      if (pts.length <= broadcastKnnMaxBuildRows)
        return knnJoinBroadcast(probe, pts, kNeighbors, probeId, buildId,
          px, py)
    }
    // Materialise the keyed build side once (inheriting the input's
    // partitioning — a repartition here would add a full extra
    // shuffle+write of the big side that does not parallelise);
    // every deepening round re-joins against a cheap parent-cell
    // projection of it instead of re-scanning the build table.
    val b = keyed
      .withColumn("__cellF",
        latlng_to_cell(col(by), col(bx), lit(CellIndex.DefaultRes)))
      .transform(Checkpoint(_))
    val res =
      if (res0 > 0) res0
      else {
        // ONE pass over the checkpointed build side for the distinct
        // cells; its row count comes with the checkpoint. The start
        // resolution accounts for BOTH effects of duplicate-heavy data
        // (many pages per gazetteer location — the web-scale norm):
        //  - density from the EFFECTIVE distinct-location count, not
        //    raw rows (raw count picks a resolution so fine that
        //    certification takes many deepening rounds);
        //  - the k-th neighbour needs only ceil(k / dupFactor)
        //    LOCATIONS when each location carries dupFactor rows —
        //    sizing the ring for k full locations at dup 1000 makes
        //    round 0 process ~1000x more candidates than the top-k
        //    can ever keep.
        val eff = math.max(
          b.agg(approx_count_distinct(col("__cellF"))).head().getLong(0), 1L)
        val dup = math.max(1.0, Checkpoint.rows(b).toDouble / eff)
        val neededLocs =
          math.max(1, math.ceil(kNeighbors / dup).toInt)
        resForKnn(eff, neededLocs)
      }
    val d2 = (col(px) - col(bx)) * (col(px) - col(bx)) +
             (col(py) - col(by)) * (col(py) - col(by))
    // Bounded top-k aggregation against hot cells (the capital-city
    // skew of the north rule): a probe whose ring covers a hot cell
    // would, under a window rank, sort millions of candidates in ONE
    // partition. SmallestKAgg keeps a k-slot insertion buffer with
    // MAP-SIDE partial aggregation instead, so the per-round shuffle
    // carries one <=k buffer per (probe x partition) — candidate rows
    // never leave the partition they were generated in.
    val topk = (kc: Column, ic: Column) =>
      graft.expr.SmallestKAgg.smallestK(kNeighbors)(kc, ic)

    // Each round materializes its per-probe aggregate (a checkpoint
    // truncates lineage) — without this the pending-probe plan embeds
    // the prior round's join and grows exponentially. The pending
    // probes are checkpointed too; their row count ends the loop.
    // pending carries a branch-and-bound prune: `__bnd2` is the probe's
    // current k-th-neighbour distance² upper bound (found in an earlier
    // round but not yet certified). A build farther than the bound can
    // never enter the top-k, so coarse rounds filter hot-cell
    // candidates BEFORE the aggregation — the distributed mirror of
    // the kd-tree heap's maxDistance prune (KdTree.java:377-400).
    var pending = probe.select(col(probeId), col(px), col(py))
      .withColumn("__bnd2", lit(null).cast("double"))
      .transform(Checkpoint(_))
    var pendingCnt = Checkpoint.rows(pending)
    var acc: DataFrame = null
    var t = 0
    var done = false
    while (!done) {
      val tRound0 = System.nanoTime()
      val resT = math.max(res - t, 2)
      // at res 2 a ring of 8 covers the whole globe (clamped/wrapped)
      val exact = resT == 2
      val ring = if (exact) 8 else k0
      val guarantee = CellIndex.kRingGuaranteeDeg(resT, k0)
      val g2 = guarantee * guarantee
      val bT = b.withColumn("__cell",
        cell_to_parent(col("__cellF"), lit(resT))).drop("__cellF")
      val pcells = pending.withColumn("__pcell",
        latlng_to_cell(col(py), col(px), lit(resT)))
      // Probes sharing a cell share its ring, so the broadcast side is
      // (distinct probe cell) x k-ring — NOT probe x k-ring. On
      // duplicate-heavy probes (many pages per gazetteer location —
      // the web-scale norm) this shrinks the broadcast relation by the
      // duplication factor, and the driver-serial hashed-relation
      // build (measured ~2 s per round at 1.6M exploded entries) drops
      // to milliseconds. The big build side then streams map-side
      // through BOTH broadcasts (ring membership, then per-probe
      // expansion) straight into the top-k partial aggregation: zero
      // candidate shuffle. Falls back to a cell-key shuffle join when
      // pending is too large to broadcast (first rounds of a
      // billion-probe join on a real cluster).
      val pendingRows = pendingCnt * (2L * ring + 1) * (2L * ring + 1)
      val joined0 =
        if (pendingRows <= 8000000L && pendingCnt <= 4000000L) {
          val ringPairs = pcells.select(col("__pcell")).distinct()
            .withColumn("__cell", explode(k_ring(col("__pcell"),
              lit(ring))))
          bT.join(broadcast(ringPairs), Seq("__cell"), "inner")
            .join(broadcast(pcells), Seq("__pcell"), "inner")
        } else {
          pcells.withColumn("__cell", explode(k_ring(col("__pcell"),
              lit(ring))))
            .join(bT, Seq("__cell"), "inner")
        }
      // ONE aggregation jobs per round: per-probe top-k buffer + the
      // certification stats derived from it. <= |pending| rows.
      val agg = joined0
        .withColumn("dist2", d2)
        .where(col("__bnd2").isNull || col("dist2") <= col("__bnd2"))
        .groupBy(col(probeId))
        .agg(topk(col("dist2"), col(buildId)).as("__tk"))
        .withColumn("__n", size(col("__tk.ks")))
        .withColumn("__maxd2", element_at(col("__tk.ks"), col("__n")))
        .withColumn("__ok",
          // strict <: a build point OUTSIDE the ring can sit at
          // exactly the guarantee distance g and tie the k-th
          // candidate with a smaller buildId — boundary ties force
          // one more deepening round so the documented
          // (dist2, buildId) tie-break holds exactly.
          if (exact) lit(true)
          else col("__n") === kNeighbors && col("__maxd2") < lit(g2))
        .transform(Checkpoint(_))
      val resolved = agg.where(col("__ok"))
        .select(col(probeId), col("__tk.ks").as("__ks"),
          posexplode(col("__tk.ids")).as(Seq("__pos", buildId)))
        .select(col(probeId), col(buildId),
          (col("__pos") + 1).cast("long").as("rnk"),
          element_at(col("__ks"), col("__pos") + 1).as("dist2"))
      acc = if (acc == null) resolved else acc.unionByName(resolved)
      if (exact) {
        done = true
      } else {
        // unresolved probes tighten their bound to this round's k-th
        // candidate distance (monotonically non-increasing); probes
        // with zero candidates are absent from `agg` and stay pending
        // with no bound. The checkpoint's row count is the round's
        // bookkeeping, with no job of its own.
        pending = pending.drop("__bnd2")
          .join(agg.select(col(probeId), col("__ok"), col("__n"),
              col("__maxd2")), Seq(probeId), "left_outer")
          .where(col("__ok").isNull || !col("__ok"))
          .select(col(probeId), col(px), col(py),
            when(col("__n") === kNeighbors, col("__maxd2"))
              .otherwise(lit(null).cast("double")).as("__bnd2"))
          .transform(Checkpoint(_))
        pendingCnt = Checkpoint.rows(pending)
        done = pendingCnt == 0
      }
      if (sys.env.contains("GRAFT_KNN_DEBUG")) {
        System.err.println(f"[knn] round $t resT=$resT " +
          f"pending=$pendingCnt sec=${(System.nanoTime() - tRound0) / 1e9}%.2f")
      }
      t += 1
    }
    acc
  }
}
