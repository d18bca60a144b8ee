package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * LiDAR gridding family — the engine's re-expression of the
 * reference LidarTools: LiDAR_IDW_interpolation.java:612-780
 * (`neighborsWithinRange` radius scans), Scripts/
 * LiDAR_BareEarthDEM.groovy (ground-class min-criterion grid),
 * Scripts/LiDAR_CanopyModel.groovy (first-return surface minus bare
 * earth), LiDAR_PointDensity and GetLasFileSummary.groovy /
 * LidarHistogram.groovy.
 *
 * The reference walks every LAS point per output cell through a
 * KD-tree on one thread; here every grid is ONE hash aggregation on
 * the cell key (map-side partial combine, no driver state), and the
 * radius interpolator reuses [[SpatialJoins.distanceJoin]]'s
 * broadcast ring join — both shapes scale linearly with executors at
 * a 10^12-point cloud because the only shuffle is the final
 * cell-keyed combine.
 *
 * Point schema (the LasIO.readLas contract): x, y, z, intensity,
 * return_num, n_returns, classification. ASPRS class 2 = ground.
 */
object Lidar {

  /** Cell assignment: row = floor(y/cs), col = floor(x/cs). */
  private def withCell(points: DataFrame, cellSize: Double): DataFrame =
    points
      .withColumn("cr", floor(col("y") / lit(cellSize)).cast("long"))
      .withColumn("cc", floor(col("x") / lit(cellSize)).cast("long"))

  /** Ground points per LiDAR_BareEarthDEM.groovy: ASPRS class 2
    * AND last return (return_num == n_returns). */
  def groundPoints(points: DataFrame): DataFrame =
    points.where(col("classification") === 2 &&
      col("return_num") === col("n_returns"))

  /**
   * Bare-earth DEM (LiDAR_BareEarthDEM.groovy): minimum ground-point
   * elevation per cell, with the supporting point count.
   */
  def bareEarthDem(points: DataFrame, cellSize: Double): DataFrame =
    withCell(groundPoints(points), cellSize)
      .groupBy("cr", "cc")
      .agg(round(min("z"), 6).as("ground_z"),
        count(lit(1)).as("n_ground"))

  /**
   * Canopy-height model (LiDAR_CanopyModel.groovy): first-return
   * surface max minus bare-earth min, on cells having both.
   */
  def canopyModel(points: DataFrame, cellSize: Double): DataFrame = {
    val surf = withCell(points.where(col("return_num") === 1), cellSize)
      .groupBy("cr", "cc").agg(max("z").as("__surf"))
    val ground = withCell(groundPoints(points), cellSize)
      .groupBy("cr", "cc").agg(min("z").as("__gz"))
    surf.join(ground, Seq("cr", "cc"))
      .select(col("cr"), col("cc"),
        round(col("__surf") - col("__gz"), 6).as("chm"))
  }

  /** Point density (LiDAR_PointDensity): points per unit area. */
  def pointDensity(points: DataFrame, cellSize: Double): DataFrame =
    withCell(points, cellSize)
      .groupBy("cr", "cc")
      .agg(count(lit(1)).as("n"),
        round(count(lit(1)) / lit(cellSize * cellSize), 6)
          .as("density"))

  /**
   * Per-class summary (GetLasFileSummary.groovy / LidarHistogram
   * .groovy): point count, z range, mean intensity per ASPRS class.
   */
  def summary(points: DataFrame): DataFrame =
    points.groupBy("classification").agg(
      count(lit(1)).as("n"),
      round(min("z"), 6).as("z_min"),
      round(max("z"), 6).as("z_max"),
      round(sum("intensity") / count(lit(1)), 6).as("mean_intensity"))

  /**
   * IDW surface over ground points (LiDAR_IDW_interpolation.java:612
   * `neighborsWithinRange`, power 2): targets = cell centers; the
   * radius scan is [[SpatialJoins.distanceJoin]] (ring-exploded
   * broadcast, no shuffle on the cloud), exact-hit rule identical to
   * [[Raster.idw]].
   */
  def idwSurface(points: DataFrame, rows: Int, cols: Int,
                 cellSize: Double, radius: Double): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val targets = (0 until rows).flatMap(r => (0 until cols).map(c =>
        (r.toLong, c.toLong,
          c * cellSize + cellSize / 2, r * cellSize + cellSize / 2)))
      .toDF("r", "c", "x", "y")
    val pts = groundPoints(points).select(
      col("pid"), col("x").as("px"), col("y").as("py"),
      col("z").as("pval"))
    Raster.idw(targets, pts, radius)
  }

  /**
   * LiDAR_segmentation (LidarTools/LiDAR_segmentation.java): per
   * point, maxDownwardAngle = z − min z among neighbours within
   * searchDist, z itself when none lower (:314-333); region growing
   * joins neighbouring points whose maxDownwardAngle difference is
   * within threshold = searchDist·tan(65°) (:312, :553-565). The
   * reference's recursive flood fill over a SYMMETRIC pairwise
   * predicate IS undirected connected components, so segments come
   * from the CC labeller over the cell-bucketed distance join —
   * ids are the component's minimum pid (the clump convention)
   * rather than the reference's lowest-seed-first class numbers
   * (same partition, different names).
   */
  def segmentation(cloud: DataFrame, searchDist: Double): DataFrame = {
    val threshold = searchDist * math.tan(math.toRadians(65.0))
    val pts = cloud.select(col("pid"), col("x"), col("y"), col("z"))
    val r = pts.select(col("pid").as("rpid"), col("x").as("rx"),
      col("y").as("ry"), col("z").as("rz"))
    val pairs = SpatialJoins.distanceJoin(pts, r, searchDist)
      .where(col("pid") =!= col("rpid"))
      .select(col("pid"), col("rpid"), col("rz"))
      .transform(Checkpoint(_))
    val mda = pts.join(
        pairs.groupBy("pid").agg(min(col("rz")).as("__mn")),
        Seq("pid"), "left")
      .select(col("pid"),
        (col("z") - least(col("z"), coalesce(col("__mn"), col("z"))))
          .as("mda"))
    // the pair relation is symmetric; one direction suffices for the
    // undirected CC labeller (halves the edge shuffle and the
    // one-task union-find input)
    val e = pairs
      .where(col("pid") < col("rpid"))
      .join(mda.select(col("pid"), col("mda").as("ma")), Seq("pid"))
      .join(mda.select(col("pid").as("rpid"), col("mda").as("mb")),
        Seq("rpid"))
      .where(abs(col("ma") - col("mb")) <= threshold)
      .select(col("pid").as("a"), col("rpid").as("b"))
    val selfLoops = pts.select(col("pid").as("a"), col("pid").as("b"))
    GraphCC.label(e.unionByName(selfLoops))
      .select(col("node").as("pid"), col("comp").as("seg_id"))
  }
}
