package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint
import graft.expr.GeoFunctions._
import graft.operators.{Derived, Raster, Similarity, SpatialJoins, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2
  * re-expressed Spark-first; [[oracleSql]] carries the DuckDB-runnable
  * ANSI SQL equivalent over the same parquet tables. Geospatial inputs
  * are derived deterministically from the TPC-H-ish tables
  * (graft.operators.Derived) so both sides compute from identical
  * data. Aggregate outputs use integer (cents) arithmetic wherever
  * possible so comparisons are exact rather than float-rounded.
  */
object SparkEntry {

  import Derived.{customerPointsSql => PTS, supplierPointsSql => SPTS,
    partGridSql => GRID}

  private val RES = 14 // ~1.2 km cells (H3-res-7-like)

  /** partGrid dimensions (Derived.partGrid: 40 rows x 50 cols). */
  private val GridRows = 40L
  private val GridCols = 50L

  /** lat bin at res 14 in SQL (mirrors CellIndex.latBin). */
  private val latBin14Sql =
    "LEAST(GREATEST(CAST(floor((y + 90.0) / 180.0 * 16384) AS BIGINT), 0), 16383)"
  private val lonBin14Sql =
    "((CAST(floor((x + 180.0) / 360.0 * 32768) AS BIGINT) % 32768) + 32768) % 32768"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Pages (documents) -> extracted geo-entity points -> cell index ->
    * PIP zone join -> per-zone page counts (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    queries("geo_entity_zones")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational baseline (scan/filter/agg/join sanity) ----

    "q1_agg" -> ((s, dir) => {
      val li = Derived.table(s, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus").agg(
        sum(li("l_quantity")).cast("long").as("sum_qty"),
        sum(round(li("l_extendedprice") * 100).cast("long"))
          .as("sum_price_cents"),
        sum(round(li("l_discount") * 100).cast("long"))
          .as("sum_disc_cents"),
        count(lit(1)).as("n"))
    }),

    "q2_filter" -> ((s, dir) => {
      val li = Derived.table(s, dir, "lineitem")
      li.where(li("l_quantity") > 45 && li("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q3_join" -> ((s, dir) => {
      val o = Derived.table(s, dir, "orders")
      val li = Derived.table(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderkey"))
        .agg(sum(round(li("l_extendedprice") * (lit(1.0) - li("l_discount")) * 100)
          .cast("long")).as("rev_cents"))
        .orderBy(col("rev_cents").desc, o("o_orderkey").asc)
        .limit(10)
    }),

    // ---- cell index: tile assignment (north-rule core) ----

    "geo_cell_assign" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val cell = latlng_to_cell(pts("y"), pts("x"), lit(RES))
      pts.select(pts("id"),
        cell_lat_bin(cell).as("lat_bin"),
        cell_lon_bin(cell).as("lon_bin"))
    }),

    "geo_tile_histogram" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val parent = cell_to_parent(
        latlng_to_cell(pts("y"), pts("x"), lit(RES)), lit(6))
      pts.select(cell_lat_bin(parent).as("lat_bin6"),
          cell_lon_bin(parent).as("lon_bin6"))
        .groupBy("lat_bin6", "lon_bin6").agg(count(lit(1)).as("n"))
    }),

    // ---- spatial joins ----

    "geo_pip_join" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      SpatialJoins.pipJoin(pts, Derived.zones(s), res = 7)
        .select(col("zone_id"), col("id"))
    }),

    "geo_knn" -> ((s, dir) => {
      val probe = Derived.supplierPoints(s, dir)
        .select(col("s_id"), col("sx"), col("sy"))
      val build = Derived.customerPoints(s, dir)
        .select(col("id").as("c_id"), col("x").as("cx"),
          col("y").as("cy"))
      SpatialJoins.knnJoin(probe, build, 3,
          probeId = "s_id", buildId = "c_id",
          px = "sx", py = "sy", bx = "cx", by = "cy")
        .select("s_id", "c_id", "rnk")
    }),

    "geo_nn_alloc" -> ((s, dir) => {
      val probe = Derived.customerPoints(s, dir)
        .select(col("id").as("c_id"), col("x"), col("y"))
      val build = Derived.supplierPoints(s, dir)
        .select(col("s_id"), col("sx"), col("sy"))
      SpatialJoins.knnJoin(probe, build, 1,
          probeId = "c_id", buildId = "s_id",
          px = "x", py = "y", bx = "sx", by = "sy")
        .select("c_id", "s_id")
    }),

    "geo_distance_join" -> ((s, dir) => {
      val l = Derived.customerPoints(s, dir)
      val r = Derived.supplierPoints(s, dir)
        .select(col("s_id"), col("sx"), col("sy"))
      SpatialJoins.distanceJoin(l, r, radius = 1.5,
          lx = "x", ly = "y", rx = "sx", ry = "sy")
        .select(col("id").as("c_id"), col("s_id"))
    }),

    // Empirical semivariogram (PlotVariogram's series; the input of
    // SemivariogramCurveFitter): lag-binned pair dissimilarity from
    // the cell-bucketed bounded-distance pair join
    "geo_variogram" -> ((s, dir) => {
      val sp = Derived.supplierPoints(s, dir)
        .select(col("s_id").as("id"), col("sx").as("x"),
          col("sy").as("y"),
          (lit(25) * (col("s_id") * 6151 % 36000) +
            lit(50) * (col("s_id") * 4517 % 17000)).as("zq"))
      operators.Kriging.empiricalVariogram(sp, lagWidth = 8.0,
        nBins = 10, zScale = 10000.0)
    }),

    // FindStraightSegments.groovy: split each polyline at vertices
    // whose deflection angle exceeds the threshold; emit per-segment
    // vertex count + length. The break test runs on cos(angle) vs
    // cos(threshold) — same decision as the reference's
    // degrees(acos(...)) > T without the acos library call, so both
    // engines compare identical +,*,/,sqrt doubles. Lines are a
    // deterministic 10-vertex walk per supplier.
    "geo_straight_segments" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("line_id").orderBy("k")
      val cosT = math.cos(math.Pi / 6) // 30 degrees
      val v = Derived.table(s, dir, "supplier")
        .select(col("s_suppkey").as("line_id"),
          explode(sequence(lit(0L), lit(9L))).as("k"))
        .select(col("line_id"), col("k"),
          (col("k") * 2).cast("double").as("x"),
          ((col("line_id") * (col("k") + 1) * 7919) % 200)
            .cast("double") / lit(10.0) as "y")
      val px = lag("x", 1).over(w); val py = lag("y", 1).over(w)
      val nx = lead("x", 1).over(w); val ny = lead("y", 1).over(w)
      val cosang = ((col("x") - px) * (nx - col("x")) +
        (col("y") - py) * (ny - col("y"))) /
        (sqrt((col("x") - px) * (col("x") - px) +
          (col("y") - py) * (col("y") - py)) *
          sqrt((nx - col("x")) * (nx - col("x")) +
            (ny - col("y")) * (ny - col("y"))))
      val marked = v.withColumn("brk",
          when(col("k") >= 1 && col("k") <= 8 && cosang < cosT, 1L)
            .otherwise(0L))
        .withColumn("run_inc", sum(col("brk")).over(w))
        .withColumn("seg_id",
          lit(1L) + coalesce(lag("run_inc", 1).over(w), lit(0L)))
        .withColumn("elen_nano",
          coalesce(round(sqrt((col("x") - px) * (col("x") - px) +
            (col("y") - py) * (col("y") - py)) * 1e9).cast("long"),
            lit(0L)))
      marked.where(col("k") >= 1) // one row per edge
        .groupBy("line_id", "seg_id")
        .agg((count(lit(1)) + 1L).as("n_vertices"),
          sum(col("elen_nano")).as("len_nano"))
    }),

    // RemoveOffTerrainObjects (grayscale-opening arm): cells more
    // than minHeight above the morphological opening are cut to it
    "geo_remove_oto" -> ((s, dir) =>
      operators.Focal.removeOffTerrainObjects(Derived.partGrid(s, dir),
        radius = 2, minHeight = 5.0, nRows = GridRows,
        nCols = GridCols)),

    // RemovePolygonNecks: neck vertices = ring folds back within the
    // neighbour radius (two separated index runs); chains emitted
    "geo_polygon_necks" -> ((s, dir) =>
      operators.VectorReshape.polygonNecks(Derived.dumbbellVertices(s),
        radius = 2.0, nodeGapThreshold = 5L,
        numPoints = Derived.dumbbellRing.length.toLong)),

    // FindPolygonMidline: per-polygon Delaunay of the ring vertices
    // (the reference's skeleton substrate, FindPolygonMidline.java:
    // 307-320); midline nodes = midpoints of interior triangles'
    // internal (non-boundary) edges
    "geo_polygon_midline" -> ((s, dir) => {
      val verts = Derived.zones(s).where(col("zone_id") =!= 3)
        .select(col("zone_id"),
          posexplode(arrays_zip(col("xs"), col("ys"))))
        .select(col("zone_id").as("gid"), col("pos").as("pid"),
          col("col.xs").as("px"), col("col.ys").as("py"))
      val tri = operators.Tin.delaunayGrouped(verts)
      def vAs(n: String) = verts.select(col("gid"),
        col("pid").as(s"i$n"), col("px").as(s"x$n"),
        col("py").as(s"y$n"))
      val t3 = tri.join(vAs("a"), Seq("gid", "ia"))
        .join(vAs("b"), Seq("gid", "ib"))
        .join(vAs("c"), Seq("gid", "ic"))
      val cents = t3.select(col("gid"), col("ia"), col("ib"), col("ic"),
        ((col("xa") + col("xb") + col("xc")) / 3.0).as("x"),
        ((col("ya") + col("yb") + col("yc")) / 3.0).as("y"))
      val interior = SpatialJoins.pipJoin(cents, Derived.zones(s),
          res = 4)
        .where(col("zone_id") === col("gid"))
        .select("gid", "ia", "ib", "ic")
      val nv = verts.groupBy("gid").agg(count(lit(1)).as("nv"))
      val edges = interior
        .select(col("gid"), col("ia").as("va"), col("ib").as("vb"))
        .unionByName(interior.select(col("gid"), col("ib").as("va"),
          col("ic").as("vb")))
        .unionByName(interior.select(col("gid"), col("ia").as("va"),
          col("ic").as("vb")))
        .distinct()
        .join(nv, Seq("gid"))
        .where(!(col("vb") - col("va") === 1 ||
          (col("va") === 0 && col("vb") === col("nv") - 1)))
      edges
        .join(verts.select(col("gid"), col("pid").as("va"),
          col("px").as("ax"), col("py").as("ay")), Seq("gid", "va"))
        .join(verts.select(col("gid"), col("pid").as("vb"),
          col("px").as("bx"), col("py").as("by")), Seq("gid", "vb"))
        .select(col("gid").as("zone_id"), col("va"), col("vb"),
          ((col("ax") + col("bx")) / 2.0).as("mx"),
          ((col("ay") + col("by")) / 2.0).as("my"))
    }),

    // DeleteSmallLakesAndExtendRivers.groovy: small lakes with >= 2
    // nearby stream endpoints are deleted and those endpoints snap to
    // the lake interior point (highest-id lake wins per endpoint)
    "geo_extend_rivers" -> ((s, dir) => {
      def half = lit(4.0) + (col("id") % 3).cast("double") * 4
      val lakes = Derived.customerPoints(s, dir)
        .where(col("id") <= 150)
        .select(col("id").as("lake_id"),
          (col("x") - half).as("xmin"), (col("y") - half).as("ymin"),
          (col("x") + half).as("xmax"), (col("y") + half).as("ymax"),
          col("x").as("cx"), col("y").as("cy"))
      val lines = Derived.supplierLines(s, dir)
        .select(col("line_id"),
          element_at(col("xs"), 1).as("sx0"),
          element_at(col("ys"), 1).as("sy0"),
          element_at(col("xs"), 3).as("ex0"),
          element_at(col("ys"), 3).as("ey0"))
      val eps = lines.select(col("line_id"), lit(0L).as("kind"),
          col("sx0").as("px"), col("sy0").as("py"))
        .unionByName(lines.select(col("line_id"), lit(1L).as("kind"),
          col("ex0").as("px"), col("ey0").as("py")))
      val picks = operators.VectorReshape.extendRivers(lakes, eps,
        searchDistance = 3.0, areaThreshold = 150.0)
      lines
        .join(picks.where(col("kind") === 0)
          .select(col("line_id"), col("cx").as("pcx"),
            col("cy").as("pcy")), Seq("line_id"), "left")
        .join(picks.where(col("kind") === 1)
          .select(col("line_id"), col("cx").as("acx"),
            col("cy").as("acy")), Seq("line_id"), "left")
        .select(col("line_id"),
          when(col("pcx").isNotNull, 1L).otherwise(0L).as("prepended"),
          coalesce(col("pcx"), col("sx0")).as("sx"),
          coalesce(col("pcy"), col("sy0")).as("sy"),
          when(col("acx").isNotNull, 1L).otherwise(0L).as("appended"),
          coalesce(col("acx"), col("ex0")).as("ex"),
          coalesce(col("acy"), col("ey0")).as("ey"))
    }),

    // ---- rasterization / zonal / focal / interpolation ----

    "geo_rasterize_points" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val cell = latlng_to_cell(pts("y"), pts("x"), lit(6))
      Raster.rasterizePoints(pts, cell_lat_bin(cell), cell_lon_bin(cell),
        pts("val"), pts("id"))
    }),

    "geo_zonal" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val cell = latlng_to_cell(pts("y"), pts("x"), lit(5))
      Raster.zonalStats(pts,
        cell_lat_bin(cell) * 64 + cell_lon_bin(cell), pts("val"))
    }),

    "geo_focal_mean" -> ((s, dir) =>
      Raster.focalMean(Derived.partGrid(s, dir))),

    "geo_slope" -> ((s, dir) =>
      Raster.hornSlope(Derived.partGrid(s, dir), GridRows, GridCols)),

    // ExposureTowardsWindFlux (TerrainAnalysisTools, no-horizon arm):
    // sin(slope)*cos(relAspect), azimuth 135 with the reference's
    // radian/degree mixing mirrored
    "geo_wind_exposure" -> ((s, dir) =>
      operators.Terrain.exposureTowardsWindFlux(Derived.partGrid(s, dir),
        azimuthDeg = 135.0, GridRows, GridCols)),

    // ---- focal filter family (one generic engine, SURVEY.md §2.5) ----

    "geo_focal_median" -> ((s, dir) =>
      operators.Focal.filterMedian(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_stats" -> ((s, dir) =>
      operators.Focal.filterMinMaxRangeTotal(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_stddev" -> ((s, dir) =>
      operators.Focal.filterStdDev(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_majority" -> ((s, dir) =>
      operators.Focal.filterMajority(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_diversity" -> ((s, dir) =>
      operators.Focal.filterDiversity(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_percentile" -> ((s, dir) =>
      operators.Focal.filterPercentile(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_focal_olympic" -> ((s, dir) =>
      operators.Focal.filterOlympic(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    "geo_conv_gaussian" -> ((s, dir) =>
      operators.Focal.convolveRenormalized(Derived.partGrid(s, dir),
        operators.Focal.gaussianKernel(0.75), reflect = true,
        GridRows, GridCols)),

    "geo_conv_laplacian" -> ((s, dir) =>
      operators.Focal.convolveSubstituteExact(Derived.partGrid(s, dir),
        operators.Focal.laplacian3x3, reflect = true,
        GridRows, GridCols)),

    // Emboss 'n' mask (FilterEmboss.java:206) — integer kernel via
    // the exact scaled-integer convolution
    "geo_conv_emboss" -> ((s, dir) =>
      operators.Focal.convolveSubstituteExact(Derived.partGrid(s, dir),
        operators.Focal.embossN3x3, reflect = true,
        GridRows, GridCols)),

    // Laplacian-of-Gaussian (FilterLoG.java:245-260), substitute-
    // centre semantics
    "geo_conv_log" -> ((s, dir) =>
      operators.Focal.convolveSubstitute(Derived.partGrid(s, dir),
        operators.Focal.logKernel(0.5), reflect = true,
        GridRows, GridCols)),

    // Difference-of-Gaussians (FilterDoG semantics): two
    // renormalizing gaussian convolutions differenced per cell
    "geo_conv_dog" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val g1 = operators.Focal.convolveRenormalized(g,
        operators.Focal.gaussianKernel(0.5), reflect = true,
        GridRows, GridCols).withColumnRenamed("cv", "cv1")
      val g2 = operators.Focal.convolveRenormalized(g,
        operators.Focal.gaussianKernel(0.75), reflect = true,
        GridRows, GridCols).withColumnRenamed("cv", "cv2")
      g1.join(g2, Seq("r", "c"))
        .select(col("r"), col("c"),
          round(col("cv1") - col("cv2"), 6).as("cv"))
    }),

    "geo_conv_sobel" -> ((s, dir) =>
      operators.Focal.filterSobel(Derived.partGrid(s, dir),
        reflect = true, GridRows, GridCols)),

    // ---- terrain derivatives on the shared 3x3 stencil (§2.5) ----

    "geo_aspect" -> ((s, dir) =>
      operators.Terrain.aspect(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_hillshade" -> ((s, dir) =>
      operators.Terrain.hillshade(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_tri" -> ((s, dir) =>
      operators.Terrain.ruggednessIndex(Derived.partGrid(s, dir))),

    "geo_plan_curv" -> ((s, dir) =>
      operators.Terrain.planCurvature(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_prof_curv" -> ((s, dir) =>
      operators.Terrain.profileCurvature(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_total_curv" -> ((s, dir) =>
      operators.Terrain.totalCurvature(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_idw" -> ((s, dir) => {
      val targets = Derived.partGrid(s, dir).select(col("r"), col("c"),
        (lit(-90.0005) + col("c") * 1.5).as("x"),
        (lit(-40.0005) + col("r") * 1.5).as("y"))
      val points = Derived.supplierPoints(s, dir).select(
        col("s_id").as("pid"), col("sx").as("px"), col("sy").as("py"),
        col("sval").as("pval"))
      Raster.idw(targets, points, radius = 8.0)
    }),

    "geo_reclass" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      pts.select(Raster.reclass(pts("val"), Seq(
          (-10000.0, 0.0, 1.0), (0.0, 3000.0, 2.0),
          (3000.0, 7000.0, 3.0), (7000.0, 100000.0, 4.0))).as("cls"))
        .groupBy("cls").agg(count(lit(1)).as("n"))
    }),

    "geo_block_aggregate" -> ((s, dir) =>
      Raster.blockAggregate(Derived.partGrid(s, dir), 4, 5)),

    "geo_area_perimeter" -> ((s, dir) => {
      val sp = Derived.supplierPoints(s, dir)
        .withColumn("rr", (lit(1.0) + col("s_id") % 3).cast("double"))
      sp.select(col("s_id"),
        round(polygon_area(
          array(col("sx"), col("sx") + col("rr"), col("sx"),
            col("sx") - col("rr")),
          array(col("sy") - col("rr"), col("sy"), col("sy") + col("rr"),
            col("sy")),
          array(lit(0))), 6).as("area"),
        round(polygon_perimeter(
          array(col("sx"), col("sx") + col("rr"), col("sx"),
            col("sx") - col("rr")),
          array(col("sy") - col("rr"), col("sy"), col("sy") + col("rr"),
            col("sy")),
          array(lit(0))), 6).as("perim"))
    }),

    "geo_clump" -> ((s, dir) => {
      val mask = Derived.partGrid(s, dir).where(col("v") >= 50.0)
      Raster.clump(mask, width = 50)
    }),

    "geo_rasterize_polygons" -> ((s, dir) =>
      Raster.rasterizePolygons(
        Derived.zones(s).withColumnRenamed("zone_id", "poly_id"),
        res = 6)),

    // RasterToVectorPolygons: patch boundary rings; the oracle
    // cross-checks the ring-assembled net area against the patch
    // cell count (exact iff the rings close correctly)
    "geo_r2v_polygons" -> ((s, dir) => {
      val cells = Derived.partGrid(s, dir).select(col("r"), col("c"),
        floor(col("v") / 25.0).cast("long").as("cls"))
      operators.Vectorize.rasterToPolygons(cells, width = 50)
        .select(col("comp_id"), col("cls"), col("n_cells"),
          round(col("net_area"), 6).as("parea"))
    }),

    "geo_contour" -> ((s, dir) =>
      Raster.contourCrossings(Derived.partGrid(s, dir),
        Seq(25.0, 50.0, 75.0))),

    "geo_rasterize_lines" -> ((s, dir) =>
      Raster.rasterizeLines(Derived.supplierLines(s, dir), res = 6)),

    "geo_tile_histogram_salted" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val parent = cell_to_parent(
        latlng_to_cell(pts("y"), pts("x"), lit(RES)), lit(6))
      val keyed = pts.select(cell_lat_bin(parent).as("lat_bin6"),
        cell_lon_bin(parent).as("lon_bin6"),
        round(pts("val") * 100).cast("long").as("cents"))
      operators.Skew.saltedCountSum(keyed,
          Seq(col("lat_bin6"), col("lon_bin6")), col("cents"), salts = 8)
        .withColumnRenamed("s", "sum_cents")
    }),

    // EuclideanDistance (GISTools/EuclideanDistance.java:180-330
    // semantics; the reference's 2-pass Shih&Wu scan is a serial-IO
    // tactic — the distributed form is an exact nearest-target join
    // via the iterative-deepening kNN, unbounded distance) —
    // targets = cells with v >= 90, distance in cell units.
    "geo_euclidean_distance" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val probe = g.select((col("r") * 50 + col("c")).as("pid"),
        col("c").cast("double").as("px"), col("r").cast("double").as("py"))
      val build = g.where(col("v") >= 90.0)
        .select((col("r") * 50 + col("c")).as("bid"),
          col("c").cast("double").as("bx"), col("r").cast("double").as("by"))
      SpatialJoins.knnJoin(probe, build, 1, probeId = "pid",
          buildId = "bid", px = "px", py = "py", bx = "bx", by = "by")
        .select(expr("pid DIV 50").as("r"), (col("pid") % 50).as("c"),
          round(sqrt(col("dist2")), 6).as("dist"))
    }),

    // CostAccumulation/CostAllocation (driver gate: rows-only — the
    // correctness oracle is the driver-Dijkstra differential spec)
    "geo_cost_accum" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val cost = g.select(col("r"), col("c"),
        (col("v") / 100.0 + 1.0).as("v"))
      val sources = g.where(col("v") >= 97.0).select("r", "c")
      operators.Terrain.costAccumulation(cost, sources,
          GridRows, GridCols)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"),
          col("alloc"))
    }),

    // FillDepressions (HydroTools/FillDepressions.java, Wang & Liu
    // priority-flood) — tile-parallel flood + boundary-level exchange
    "geo_fill_depressions" -> ((s, dir) =>
      operators.Terrain.fillDepressions(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // TurningBands (StatsTools/TurningBands.java): seeded Gaussian
    // random field from 16 filtered line processes, inlined as
    // literal band arrays (shuffle-free) — full SQL oracle since r5;
    // StochasticSpec additionally checks seed sensitivity + moments
    "geo_turning_bands" -> ((s, dir) =>
      operators.Terrain.turningBands(Derived.partGrid(s, dir),
        GridRows, GridCols, range = 6.0, numBands = 16, seed = 42L)),

    // StochasticDepressionAnalysis (TerrainAnalysisTools): Monte-
    // Carlo pdep over 8 seeded error fields (concurrent tiled
    // fills) — full SQL oracle since r5 (closed-form error field +
    // one recursive fill CTE per iteration); StochasticSpec
    // additionally asserts the depression contrast
    "geo_stochastic_dep" -> ((s, dir) =>
      operators.Terrain.stochasticDepressionAnalysis(
        Derived.partGrid(s, dir), GridRows, GridCols,
        rmse = 2.0, iters = 8, seed = 7L)),

    // FillPits (HydroTools/FillPits.java:206-240): single-cell pits
    // rise to lowestNeighbour + aSmallValue
    "geo_fill_pits" -> ((s, dir) =>
      operators.Terrain.fillPits(Derived.partGrid(s, dir))),

    // BreachPits (HydroTools/BreachPits.java:210-240): ring-2 lower
    // cells carve the interjacent ring-1 cell to (z + z2) / 2
    "geo_breach_pits" -> ((s, dir) =>
      operators.Terrain.breachPits(Derived.partGrid(s, dir))),

    // Sink (Scripts/Sink.py): depression cells (z < filled), clumped
    "geo_sink" -> ((s, dir) =>
      operators.Terrain.sink(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // DepthInSink (Scripts/DepthInSink.py): filled - z inside sinks
    "geo_depth_in_sink" -> ((s, dir) =>
      operators.Terrain.depthInSink(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // ElevAbovePit (TerrainAnalysisTools/ElevAbovePit.java):
    // z - z(terminal pit of the D8 flowpath)
    "geo_elev_above_pit" -> ((s, dir) =>
      operators.Terrain.elevAbovePit(Derived.partGrid(s, dir),
        GridCols)),

    // FloodOrder (Scripts/FloodOrder.groovy): priority-flood
    // visitation order — sequential by construction, one-task mirror;
    // the (z, row, col) queue order is total so the result is exact.
    // No SQL oracle (order depends on the global frontier sequence);
    // FloodOrderSpec checks a hand-computed fixture + permutation
    // properties.
    "geo_flood_order" -> ((s, dir) =>
      operators.Terrain.floodOrder(Derived.partGrid(s, dir))),

    // BreachDepressions (HydroTools/BreachDepressions.java):
    // sequential pit-by-pit least-cost carving — one-task mirror of
    // the reference (its own semantics are order-dependent), gated by
    // localFixpointMaxRows. No SQL oracle (per-pit Dijkstra with the
    // reference's heap tie behaviour is not relational);
    // BreachDepressionsSpec checks a hand-computed carve fixture and
    // monotonicity properties.
    "geo_breach" -> ((s, dir) =>
      operators.Terrain.breachDepressions(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // JensonSnapPourPoints (HydroTools/JensonSnapPourPoints.java):
    // nearest STREAM cell within the snap window (first-minimum
    // tie-break), vs the max-accumulation semantics of geo_snap_pour
    "geo_jenson_snap" -> ((s, dir) => {
      val outlets = Derived.table(s, dir, "supplier")
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("outlet_id"),
          (col("s_suppkey") * 11 % 40).as("r"),
          (col("s_suppkey") * 17 % 50).as("c"))
      operators.Terrain.jensonSnapPourPoints(Derived.partGrid(s, dir),
        outlets, threshold = 5L, snapDist = 3)
    }),

    // BranchLength (TerrainAnalysisTools/BranchLength.java): max
    // over adjacent pairs of the nano flowpath distance to the
    // pair's confluence (full path length when disjoint)
    "geo_branch_length" -> ((s, dir) =>
      operators.Terrain.branchLength(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // FindParallelFlow (HydroTools/FindParallelFlow.java): same-
    // pointer neighbour that is neither target nor inflow
    "geo_parallel_flow" -> ((s, dir) =>
      operators.Terrain.findParallelFlow(Derived.partGrid(s, dir))),

    // TraceDownslopeFlowpaths (Scripts/TraceDownslopeFlowpaths
    // .groovy): seeds paint their D8 paths, first-scan seed wins
    "geo_trace_flowpaths" -> ((s, dir) => {
      val seeds = Derived.table(s, dir, "supplier")
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("sval"),
          (col("s_suppkey") * 11 % 40).as("sr"),
          (col("s_suppkey") * 17 % 50).as("sc"))
      operators.Terrain.traceDownslopeFlowpaths(Derived.partGrid(s, dir),
        seeds)
    }),

    // MedianUpstreamArea (GeasyTools/MedianUpstreamArea.java): median
    // accumulation over each creek cell's upstream closure
    "geo_median_upstream" -> ((s, dir) =>
      operators.Terrain.medianUpstreamArea(Derived.partGrid(s, dir), 5L)),

    // ---- terrain flow (iterative pointer DAG) ----

    "geo_d8_pointer" -> ((s, dir) =>
      operators.Terrain.d8Pointer(Derived.partGrid(s, dir))),

    "geo_flow_accum" -> ((s, dir) =>
      operators.Terrain.flowAccumD8(Derived.partGrid(s, dir))),

    "geo_watershed" -> ((s, dir) =>
      operators.Terrain.watershed(Derived.partGrid(s, dir), width = 50)),

    "geo_pennock" -> ((s, dir) =>
      operators.Terrain.pennockLandform(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    "geo_horizon_angle" -> ((s, dir) =>
      operators.Terrain.horizonAngleEast(Derived.partGrid(s, dir))),

    // the azimuth-general ray-walk arms (HorizonAngle.java:286-430,
    // FetchAnalysis.java:284-388, DirectionalRelief.java:296-395) at
    // a non-axis azimuth (215 deg)
    "geo_horizon_angle_az" -> ((s, dir) =>
      operators.Terrain.horizonAngle(Derived.partGrid(s, dir),
        GridRows, GridCols, azimuthDeg = 215.0)),

    "geo_fetch_az" -> ((s, dir) =>
      operators.Terrain.fetchAnalysis(Derived.partGrid(s, dir),
        GridRows, GridCols, azimuthDeg = 215.0,
        heightIncrement = 0.05)),

    "geo_directional_relief_az" -> ((s, dir) =>
      operators.Terrain.directionalRelief(Derived.partGrid(s, dir),
        GridRows, GridCols, azimuthDeg = 215.0)),

    // ExposureTowardsWindFlux horizon-shadowing arm composed over the
    // same 215-degree horizon angle
    "geo_wind_exposure_horizon" -> ((s, dir) =>
      operators.Terrain.exposureTowardsWindFluxHorizon(
        Derived.partGrid(s, dir), azimuthDeg = 215.0,
        GridRows, GridCols)),

    // DirectionalRelief, east azimuth (DirectionalRelief.java:337-392)
    "geo_directional_relief" -> ((s, dir) =>
      operators.Terrain.directionalReliefEast(Derived.partGrid(s, dir))),

    // FetchAnalysis, east azimuth (FetchAnalysis.java:233-292)
    "geo_fetch" -> ((s, dir) =>
      operators.Terrain.fetchAnalysisEast(Derived.partGrid(s, dir),
        heightIncrement = 0.05, nCols = GridCols)),

    "geo_dev_from_mean" -> ((s, dir) =>
      operators.Focal.deviationFromMeanExact(Derived.partGrid(s, dir), 2,
        reflect = false, GridRows, GridCols)),

    // WeightedOverlay / NDVI band math (§2.9)
    "geo_weighted_overlay" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      st.select(col("r"), col("c"),
        round(col("v1") * 0.5 + col("v2") * 0.3 + col("v3") * 0.2, 6)
          .as("wsum"),
        when(col("v1") + col("v2") =!= 0,
          round((col("v1") - col("v2")) / (col("v1") + col("v2")), 6))
          .as("ndvi"))
    }),

    // SnapPourPoints (HydroTools/SnapPourPoints.java): move each pour
    // point to the max-accumulation cell within Chebyshev radius 3
    "geo_snap_pour" -> ((s, dir) => {
      val acc = operators.Terrain.flowAccumD8(Derived.partGrid(s, dir))
      val pour = Derived.table(s, dir, "supplier")
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("pp_id"),
          (col("s_suppkey") * 11 % 40).as("pr"),
          (col("s_suppkey") * 17 % 50).as("pc"))
      pour.join(acc,
          abs(col("r") - col("pr")) <= 3 && abs(col("c") - col("pc")) <= 3)
        .groupBy("pp_id")
        .agg(max_by(struct(col("r"), col("c")),
          struct(col("n_upslope"), -col("r"), -col("c"))).as("best"))
        .select(col("pp_id"), col("best.r").as("sr"),
          col("best.c").as("sc"))
    }),

    // ---- stream-network family (§2.10) ----

    "geo_stream_extract" -> ((s, dir) =>
      operators.Terrain.extractStreams(Derived.partGrid(s, dir), 5L)),

    "geo_stream_link" -> ((s, dir) =>
      operators.Terrain.streamLinkId(Derived.partGrid(s, dir), 5L,
        width = 50)),

    "geo_strahler" -> ((s, dir) =>
      operators.Terrain.strahlerOrder(Derived.partGrid(s, dir), 5L,
        width = 50)),

    // StrahlerOrderBasins (HydroTools/StrahlerOrderBasins.java):
    // every cell takes the order of the first stream cell downstream
    "geo_strahler_basins" -> ((s, dir) =>
      operators.Terrain.strahlerOrderBasins(Derived.partGrid(s, dir),
        5L, width = 50)),

    // StreamLinkClassification (StreamNetworkAnalysisTools): outlet 5
    // / source 3 / junction 4 / else min(2, upstream headwaters)
    "geo_stream_class" -> ((s, dir) =>
      operators.Terrain.streamLinkClassification(
        Derived.partGrid(s, dir), 5L)),

    // WallWatershed (HydroTools/WallWatershed.java): watershed-
    // boundary cells rise by the increment; interior cells mirror
    // the reference's unwritten-output quirk (absent)
    "geo_wall_watershed" -> ((s, dir) =>
      operators.Terrain.wallWatershed(Derived.partGrid(s, dir),
        width = 50, increment = 10.0)),

    // Contour polyline assembly: marching-squares segments chained
    // into per-level lines (stats contract; arrays in the operator)
    "geo_contour_lines" -> ((s, dir) =>
      operators.ContourOps.contourLines(Derived.partGrid(s, dir),
          Seq(25.0, 50.0, 75.0))
        .select("lvl", "line_id", "n_pts", "closed", "len_nano")),

    // RasterToVectorLines over the stream network: one polyline per
    // junction-free link, vertices ordered downstream
    "geo_r2v_lines" -> ((s, dir) =>
      operators.Terrain.streamPolylines(Derived.partGrid(s, dir), 5L,
          width = 50)
        .select("link_id", "n_cells", "len_nano")),

    // Ordinary kriging, spherical model, 2 nearest samples (closed
    // form; the general-k executor solve is Kriging.ordinaryKriging)
    "geo_kriging" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val smp = g.where(col("v") >= 95)
        .select((col("r") * 50 + col("c")).as("sid"),
          col("c").cast("double").as("sx"),
          col("r").cast("double").as("sy"), col("v").as("sv"))
        .transform(Checkpoint(_))
      val tgt = g.select((col("r") * 50 + col("c")).as("tid"),
        col("c").cast("double").as("tx"), col("r").cast("double").as("ty"))
      val nn = operators.SpatialJoins.knnJoin(tgt, smp, 2,
        probeId = "tid", buildId = "sid",
        px = "tx", py = "ty", bx = "sx", by = "sy")
      val pv = nn.join(smp, Seq("sid"))
        .groupBy("tid").agg(
          max(when(col("rnk") === 1, col("sx"))).as("sx1"),
          max(when(col("rnk") === 1, col("sy"))).as("sy1"),
          max(when(col("rnk") === 1, col("sv"))).as("sv1"),
          max(when(col("rnk") === 1, col("dist2"))).as("d21"),
          max(when(col("rnk") === 2, col("sx"))).as("sx2"),
          max(when(col("rnk") === 2, col("sy"))).as("sy2"),
          max(when(col("rnk") === 2, col("sv"))).as("sv2"),
          max(when(col("rnk") === 2, col("dist2"))).as("d22"))
      operators.Kriging.krige2Closed(pv, nugget = 0.1, psill = 0.9,
          range = 15.0)
        .select(expr("tid DIV 50").as("r"), (col("tid") % 50).as("c"),
          round(col("est"), 6).as("est"))
    }),

    // the FULL ordinary-kriging system from the query surface
    // (stats/Kriging.java:82-117): 3 nearest samples per target via
    // the distributed kNN join, the 4x4 OK system solved in closed
    // form (bit-exact SQL mirror; KrigingSpec pins the closed form
    // to the general partial-pivot solver)
    "geo_kriging_knn" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val smp = g.where(col("v") >= 95)
        .select((col("r") * 50 + col("c")).as("sid"),
          col("c").cast("double").as("sx"),
          col("r").cast("double").as("sy"), col("v").as("sv"))
        .transform(Checkpoint(_))
      val tgt = g.select((col("r") * 50 + col("c")).as("tid"),
        col("c").cast("double").as("tx"), col("r").cast("double").as("ty"))
      val nn = operators.SpatialJoins.knnJoin(tgt, smp, 3,
        probeId = "tid", buildId = "sid",
        px = "tx", py = "ty", bx = "sx", by = "sy")
      val pv = nn.join(smp, Seq("sid"))
        .groupBy("tid").agg(
          max(when(col("rnk") === 1, col("sx"))).as("sx1"),
          max(when(col("rnk") === 1, col("sy"))).as("sy1"),
          max(when(col("rnk") === 1, col("sv"))).as("sv1"),
          max(when(col("rnk") === 1, col("dist2"))).as("d21"),
          max(when(col("rnk") === 2, col("sx"))).as("sx2"),
          max(when(col("rnk") === 2, col("sy"))).as("sy2"),
          max(when(col("rnk") === 2, col("sv"))).as("sv2"),
          max(when(col("rnk") === 2, col("dist2"))).as("d22"),
          max(when(col("rnk") === 3, col("sx"))).as("sx3"),
          max(when(col("rnk") === 3, col("sy"))).as("sy3"),
          max(when(col("rnk") === 3, col("sv"))).as("sv3"),
          max(when(col("rnk") === 3, col("dist2"))).as("d23"))
      operators.Kriging.krige3Closed(pv, nugget = 0.1, psill = 0.9,
          range = 15.0)
        .select(expr("tid DIV 50").as("r"), (col("tid") % 50).as("c"),
          round(col("est"), 6).as("est"))
    }),

    // RBF interpolation (RadialBasisFunctionInterpolation.groovy:
    // 556-640), multiquadric basis, R2 = 25, 3 fixed samples; Cramer
    // closed-form weights (SQL-mirrored)
    "geo_rbf" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      def at(rr: Int, cc: Int, i: Int) =
        g.where(col("r") === rr && col("c") === cc)
          .select(col("c").cast("double").as(s"sx$i"),
            col("r").cast("double").as(s"sy$i"), col("v").as(s"sv$i"))
      val smp = at(5, 5, 1).crossJoin(at(20, 30, 2))
        .crossJoin(at(35, 45, 3))
      def d2t(i: Int) =
        (col("c").cast("double") - col(s"sx$i")) *
          (col("c").cast("double") - col(s"sx$i")) +
          (col("r").cast("double") - col(s"sy$i")) *
            (col("r").cast("double") - col(s"sy$i"))
      val pv = g.crossJoin(broadcast(smp))
        .withColumn("d21", d2t(1))
        .withColumn("d22", d2t(2))
        .withColumn("d23", d2t(3))
      operators.Rbf.rbf3Closed(pv, "multiquadric", 25.0)
        .select(col("r"), col("c"), round(col("est"), 6).as("est"))
    }),

    // Local polynomial order-1 (LocalPolynomialInterpolation.java via
    // PolynomialLeastSquares2DFitting, polyOrder 1): exact plane
    // through the 3 nearest samples (k = 3 degenerates LSQ to
    // interpolation), collinear fallback to the nearest value
    "geo_local_poly" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val smp = g.where(col("v") >= 95)
        .select((col("r") * 50 + col("c")).as("sid"),
          col("c").cast("double").as("sx"),
          col("r").cast("double").as("sy"), col("v").as("sv"))
        .transform(Checkpoint(_))
      val tgt = g.select((col("r") * 50 + col("c")).as("tid"),
        col("c").cast("double").as("tx"), col("r").cast("double").as("ty"))
      val nn = operators.SpatialJoins.knnJoin(tgt, smp, 3,
        probeId = "tid", buildId = "sid",
        px = "tx", py = "ty", bx = "sx", by = "sy")
      val aggs = (1 to 3).flatMap { i =>
        Seq(max(when(col("rnk") === i, col("sx"))).as(s"sx$i"),
          max(when(col("rnk") === i, col("sy"))).as(s"sy$i"),
          max(when(col("rnk") === i, col("sv"))).as(s"sv$i"))
      }
      val pv = nn.join(smp, Seq("sid"))
        .groupBy("tid").agg(aggs.head, aggs.tail: _*)
        .withColumn("tx", (col("tid") % 50).cast("double"))
        .withColumn("ty", expr("tid DIV 50").cast("double"))
      operators.LocalPoly.plane3Closed(pv)
        .select(expr("tid DIV 50").as("r"), (col("tid") % 50).as("c"),
          round(col("est"), 6).as("est"))
    }),

    // Viewshed (target-parallel R3 ray marching, bilinear samples)
    "geo_viewshed" -> ((s, dir) =>
      operators.Terrain.viewshed(Derived.partGrid(s, dir),
        vr = 20, vc = 25, stationH = 1.0)),

    // VisibilityIndex (VisibilityIndex.java:260-300,976-981): mean
    // viewshed over a step-20 station lattice (6 stations here)
    "geo_visibility_index" -> ((s, dir) =>
      operators.Terrain.visibilityIndex(Derived.partGrid(s, dir),
        step = 20, stationH = 1.0)),

    // Morphological opening / closing (ImageProcessingTools Opening/
    // Closing): grayscale erode(min)->dilate(max) and the reverse,
    // 3x3, no edge reflection — two passes of the one-shuffle focal
    // scatter engine
    "geo_morph_open" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val er = operators.Focal.contributions(g, 1, reflect = false,
          GridRows, GridCols)
        .groupBy("r", "c").agg(min(col("nv")).as("v"))
      operators.Focal.contributions(er, 1, reflect = false,
          GridRows, GridCols)
        .groupBy("r", "c").agg(max(col("nv")).as("v"))
    }),

    "geo_morph_close" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val di = operators.Focal.contributions(g, 1, reflect = false,
          GridRows, GridCols)
        .groupBy("r", "c").agg(max(col("nv")).as("v"))
      operators.Focal.contributions(di, 1, reflect = false,
          GridRows, GridCols)
        .groupBy("r", "c").agg(min(col("nv")).as("v"))
    }),

    // RemoveSpurs (ImageProcessingTools/RemoveSpurs.java): iteratively
    // delete mask cells with < 2 8-neighbours (endpoints + isolates),
    // 3 unrolled iterations
    "geo_remove_spurs" -> ((s, dir) => {
      var m = Derived.partGrid(s, dir).where(col("v") >= 70)
        .select("r", "c")
      val offs = Seq(-1, 0, 1)
      for (_ <- 1 to 3) {
        // scatter each mask cell onto its 8 neighbours and count
        // arrivals per target — an equi-join on the exact cell key
        // (hash shuffle at scale), NOT an |dr|<=1 inequality self-join
        // (which plans as an O(n^2) CartesianProduct)
        val nbr = m.select(explode(array(
            (for { dr <- offs; dc <- offs if dr != 0 || dc != 0 }
              yield struct((col("r") + dr).as("r"),
                (col("c") + dc).as("c"))): _*)).as("t"))
          .groupBy(col("t.r").as("r"), col("t.c").as("c"))
          .agg(count(lit(1)).as("__n"))
        m = m.join(nbr, Seq("r", "c"))
          .where(col("__n") >= 2).select("r", "c")
      }
      m
    }),

    // MosaicWithFeathering (ImageProcessingTools/Mosaic.java 1007):
    // two overlapping rasters blend by distance-to-own-border weights
    "geo_mosaic_feather" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val a = st.select(col("r"), col("c"), col("v1"))
      val b = st.select((col("r") + 15).as("r"), (col("c") + 20).as("c"),
        col("v2"))
      a.join(b, Seq("r", "c"), "full")
        .select(col("r"), col("c"), round(
          when(col("v1").isNotNull && col("v2").isNotNull, {
            val wa = least(col("r"), lit(39) - col("r"), col("c"),
              lit(49) - col("c")) + 1
            val wb = least(col("r") - 15, lit(54) - col("r"),
              col("c") - 20, lit(69) - col("c")) + 1
            (wa * col("v1") + wb * col("v2")) / (wa + wb)
          }).when(col("v1").isNotNull, col("v1"))
            .otherwise(col("v2")), 6).as("v"))
    }),

    // TIN (ConstructTIN.groovy): Delaunay triangles by the exact
    // empty-circumcircle definition over the supplier feature layer
    "geo_tin_delaunay" -> ((s, dir) =>
      operators.Tin.delaunayBrute(
        Derived.supplierPoints(s, dir).where(col("s_id") <= 40)
          .select(col("s_id").as("pid"), col("sx").as("px"),
            col("sy").as("py")))),

    // Voronoi adjacency = Delaunay dual edges
    "geo_voronoi_neighbors" -> ((s, dir) =>
      operators.Tin.voronoiNeighbors(
        Derived.supplierPoints(s, dir).where(col("s_id") <= 40)
          .select(col("s_id").as("pid"), col("sx").as("px"),
            col("sy").as("py")))),

    // VoronoiDiagram (VectorTools/VoronoiDiagram.java): Thiessen
    // polygon geometry clipped to the 5%-expanded bbox. The driver
    // oracle checks the structural invariants (polygon count = point
    // count; cells tile the envelope exactly, so the area sum equals
    // the envelope area); VoronoiSpec checks per-cell geometry
    // (containment, nearest-site, adjacency vs the Delaunay dual).
    "geo_voronoi_polygons" -> ((s, dir) => {
      val pts = Derived.supplierPoints(s, dir).where(col("s_id") <= 40)
        .select(col("s_id").as("pid"), col("sx").as("px"),
          col("sy").as("py"))
      operators.Tin.voronoiPolygons(pts)
        .agg(count(lit(1)).as("n_polys"),
          round(sum(col("area")), 3).as("area_sum"))
    }),

    // TestForNormality (StatsTools/TestForNormality.java): one-sample
    // K-S statistic against N(mean, sd). Φ comes from one generated
    // Horner text parsed by BOTH engines (Distribution.phiSqlText);
    // moments run in exact cents-integer space; ranks come from the
    // distributed two-pass cumeDist (no global single-partition sort).
    "stats_ks_normal" -> ((s, dir) => {
      val c = Derived.table(s, dir, "customer")
      val cents = c.select(col("c_custkey").as("id"),
        round(col("c_acctbal") * 100).cast("long").as("k"))
      val st = cents.agg(sum(col("k")).as("sx"),
        sum(col("k") * col("k")).as("sxx"), count(lit(1)).as("n"))
      val ranked = operators.Distribution.cumeDist(cents, col("k"),
        col("id"), binWidth = 10000.0, posName = Some("rn"))
      val z = ranked.crossJoin(broadcast(st))
        .withColumn("__z",
          (col("k") - (col("sx").cast("double") / col("n"))) /
            sqrt((col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") / col("n")) /
              (col("n") - 1)))
        .withColumn("__phi",
          expr(operators.Distribution.phiSqlText("__z")))
        .withColumn("__d", greatest(
          col("rn").cast("double") / col("n") - col("__phi"),
          col("__phi") - (col("rn").cast("double") - 1) / col("n")))
      z.groupBy().agg(max(col("n")).as("n"),
        round(max(col("__d")), 6).as("ks_d"))
    }),

    // Stream-link metrics: Shreve magnitude + trunk flag + elevation
    // range + slope over traced length
    "geo_stream_metrics" -> ((s, dir) =>
      operators.Terrain.streamMetrics(Derived.partGrid(s, dir), 5L,
        width = 50)),

    // Subbasins: first stream link reached along the D8 flowpath
    "geo_subbasins" -> ((s, dir) =>
      operators.Terrain.subbasins(Derived.partGrid(s, dir), 5L,
        width = 50)),

    // Hillslopes: bank-specific drainage labels around each stream
    // link (right bank = link id, left bank = 100000 + link id)
    "geo_hillslopes" -> ((s, dir) =>
      operators.Terrain.hillslopes(Derived.partGrid(s, dir), 5L,
        width = 50)),

    // DownslopeFlowpathLength: D8 path length to the terminal sink
    "geo_flowpath_length" -> ((s, dir) =>
      operators.Terrain.flowpathLength(Derived.partGrid(s, dir))),

    // Dinf flow pointer (Tarboton): facet choice + two-way split
    "geo_dinf_pointer" -> ((s, dir) =>
      operators.Terrain.dinfPointer(Derived.partGrid(s, dir))
        .select(col("r"), col("c"), col("facet"),
          col("t1r"), col("t1c"), round(col("w1"), 6).as("w1"),
          col("t2r"), col("t2c"), round(col("w2"), 6).as("w2"))),

    // Dinf flow accumulation: fixed-order Jacobi over the weighted DAG
    "geo_dinf_accum" -> ((s, dir) =>
      operators.Terrain.dinfAccum(Derived.partGrid(s, dir), rounds = 24)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"))),

    // FD8 multiple-flow-direction accumulation (FlowAccumFD8.java):
    // relief-proportional split among all lower neighbours
    "geo_fd8_accum" -> ((s, dir) =>
      operators.Terrain.fd8Accum(Derived.partGrid(s, dir), power = 1.0,
          rounds = 24)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"))),

    // MDInf multiple-direction accumulation (FlowAccumMDInf.java,
    // Seibert & McGlynn): facet-apportioned split over the 8 rays
    "geo_mdinf_accum" -> ((s, dir) =>
      operators.Terrain.mdinfAccum(Derived.partGrid(s, dir),
          hExp = 1.0, rounds = 24)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"))),

    // MDInf apportioning itself (the FlowPointerDinf-analogue surface):
    // per-cell facet-split edge weights over the 8 rays
    "geo_mdinf_edges" -> ((s, dir) =>
      operators.Terrain.mdinfEdges(Derived.partGrid(s, dir), hExp = 1.0)
        .select(col("r"), col("c"), col("tr"), col("tc"),
          round(col("w"), 6).as("w"), col("j"))),

    // SIDE_MDInf (GeasyTools/SIDE_MDInf.java): total/right/left-bank
    // lateral inflow per stream cell — MDInf portions of non-stream
    // neighbours bank-classified by the FindSide cross-product rules,
    // caThreshold for D8-steepest stream neighbours; streams + flow
    // accumulation derived from the same DEM's MDInf accumulation
    "geo_side_mdinf" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val accum = operators.Terrain.mdinfAccum(g, hExp = 1.0,
        rounds = 24)
      val streams = accum.where(col("acc") > 5.0).select("r", "c")
      operators.Terrain.sideMdinf(g, accum, streams, caThr = 5.0)
    }),

    // StreamHeadsMDInf (GeasyTools/StreamHeadsMDInf.java): stream
    // heads under the threshold-switched MDInf accumulation (MDInf
    // spread at or below caThreshold, capped D8 pass-down above it)
    "geo_stream_heads_mdinf" -> ((s, dir) =>
      operators.Terrain.streamHeadsMdinf(Derived.partGrid(s, dir),
        caThr = 5.0)),

    // Rho8 stochastic pointer (FlowPointerRho8.java): D8 with
    // hash-seeded random diagonal scaling 1/(2-u)
    "geo_rho8_pointer" -> ((s, dir) =>
      operators.Terrain.rho8Pointer(Derived.partGrid(s, dir))),

    // MassFluxD8 (MassFluxD8.java): loading routed down the D8 DAG
    // with per-source absorption and efficiency
    "geo_mass_flux" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
        .withColumn("load", col("v"))
        .withColumn("eff",
          lit(0.8) + (col("r") % 3).cast("double") * lit(0.05))
        .withColumn("absorp", (col("c") % 4).cast("double") * lit(0.01))
      operators.Terrain.massFluxD8(g, rounds = 24)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"))
    }),

    // MassFluxDinf (MassFluxDinf.java): loading routed down the Dinf
    // two-way angular split with per-source absorption and efficiency
    "geo_mass_flux_dinf" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
        .withColumn("load", col("v"))
        .withColumn("eff",
          lit(0.8) + (col("r") % 3).cast("double") * lit(0.05))
        .withColumn("absorp", (col("c") % 4).cast("double") * lit(0.01))
      operators.Terrain.massFluxDinf(g, rounds = 24)
        .select(col("r"), col("c"), round(col("acc"), 6).as("acc"))
    }),

    // ---- multimodal binary columns (stubbed decode, real plumbing) ----

    "media_features" -> ((s, dir) => {
      val d = Derived.table(s, dir, "documents")
      val blobs = d.select(d("doc_id").cast("string").as("url"),
        d("text").cast("binary").as("html"))
      operators.Multimodal.extractFeatures(blobs)
        .select(col("url").cast("long").as("doc_id"),
          col("n_bytes"), round(col("byte_entropy"), 6).as("entropy"))
    }),

    // REAL image decode (JDK PNG codec): deterministic 16x16
    // synthetic test cards encode -> binary column -> decode; the
    // oracle recomputes the pixel formula directly, so a green row
    // proves the lossless codec round trip bit-for-bit
    "media_image_decode" -> ((s, dir) => {
      val ids = Derived.table(s, dir, "documents")
        .where(col("doc_id") % 10 === 0).select(col("doc_id"))
      val spark2 = s
      import spark2.implicits._
      val blobs = ids.as[Long].mapPartitions(_.map(id =>
        (id, operators.Multimodal.syntheticPng(id, 16, 16))))
        .toDF("id", "img")
      operators.Multimodal.decodeImageFeatures(blobs)
        .toDF("doc_id", "width", "height", "gray_sum")
    }),

    // ---- ordered SQL windows (rank / lag / cume_dist surface) ----

    "q4_window" -> ((s, dir) => {
      val e = Derived.table(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      e.withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .select(col("user_id"), col("event_id"),
          row_number().over(w).cast("long").as("rnk"),
          coalesce(col("us") - lag(col("us"), 1).over(w), lit(-1L))
            .as("gap_us"))
    }),

    "q5_cdf" -> ((s, dir) => {
      // distributed two-pass CDF (per-range counts -> broadcast
      // prefix sums), never a single-partition global window
      val pts = Derived.customerPoints(s, dir)
      operators.Distribution
        .cumeDist(pts, col("val"), col("id"), binWidth = 200.0)
        .select(col("id"), col("cd"))
    }),

    // ---- statistics (two-pass global stats + spatial stats) ----

    // HistogramEqualization (StatsTools): CDF-driven remap to 0..255,
    // via the distributed two-pass CDF (never a global window)
    "geo_hist_equalize" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val keyed = g.select((col("r") * 50 + col("c")).as("cid"), col("v"))
      operators.Distribution.cumeDist(keyed, col("v"), col("cid"),
          binWidth = 10.0)
        .select(expr("cid DIV 50").as("r"), (col("cid") % 50).as("c"),
          floor(col("cd") * 255).cast("long").as("eq"))
    }),

    // TrendSurface order-1 (TerrainAnalysisTools/TrendSurface.java):
    // least-squares plane via the normal equations, solved with
    // Cramer's rule so the oracle reproduces the arithmetic exactly
    "geo_trend_surface" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val a = g.agg(count(lit(1)).cast("double").as("n"),
        sum(col("c").cast("double")).as("sx"),
        sum(col("r").cast("double")).as("sy"),
        sum(col("c") * col("c")).cast("double").as("sxx"),
        sum(col("c") * col("r")).cast("double").as("sxy"),
        sum(col("r") * col("r")).cast("double").as("syy"),
        sum(col("v")).as("sz"),
        sum(col("c") * col("v")).as("sxz"),
        sum(col("r") * col("v")).as("syz"))
      val det = col("n") * (col("sxx") * col("syy") - col("sxy") * col("sxy")) -
        col("sx") * (col("sx") * col("syy") - col("sxy") * col("sy")) +
        col("sy") * (col("sx") * col("sxy") - col("sxx") * col("sy"))
      val da = col("sz") * (col("sxx") * col("syy") - col("sxy") * col("sxy")) -
        col("sx") * (col("sxz") * col("syy") - col("sxy") * col("syz")) +
        col("sy") * (col("sxz") * col("sxy") - col("sxx") * col("syz"))
      val db = col("n") * (col("sxz") * col("syy") - col("sxy") * col("syz")) -
        col("sz") * (col("sx") * col("syy") - col("sxy") * col("sy")) +
        col("sy") * (col("sx") * col("syz") - col("sxz") * col("sy"))
      val dc = col("n") * (col("sxx") * col("syz") - col("sxz") * col("sxy")) -
        col("sx") * (col("sx") * col("syz") - col("sxz") * col("sy")) +
        col("sz") * (col("sx") * col("sxy") - col("sxx") * col("sy"))
      a.select(round(da / det, 6).as("pa"),
        round(db / det, 6).as("pb"),
        round(dc / det, 6).as("pc"))
    }),

    "geo_zscore" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val st = pts.agg(sum(col("val")).as("sx"),
        sum(col("val") * col("val")).as("sxx"), count(lit(1)).as("n"))
      pts.crossJoin(broadcast(st)).select(col("id"),
        expr("round((val - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 4)")
          .as("z"))
    }),

    "geo_crosstab" -> ((s, dir) => {
      val c = Derived.table(s, dir, "customer")
      c.groupBy((c("c_nationkey") % 5).as("a"),
          (c("c_custkey") % 7).as("b"))
        .agg(count(lit(1)).as("n"))
    }),

    "geo_correlation" -> ((s, dir) => {
      val c = Derived.table(s, dir, "customer")
      val xy = c.select(c("c_acctbal").as("xv"),
        ((c("c_custkey") * 131 % 9973) / lit(100.0)).as("yv"))
      xy.agg(sum(col("xv")).as("sx"), sum(col("yv")).as("sy"),
          sum(col("xv") * col("xv")).as("sxx"),
          sum(col("yv") * col("yv")).as("syy"),
          sum(col("xv") * col("yv")).as("sxy"), count(lit(1)).as("n"))
        .select(expr("round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)")
          .as("pearson_r"))
    }),

    "geo_regression" -> ((s, dir) => {
      val c = Derived.table(s, dir, "customer")
      val xy = c.select(c("c_acctbal").as("xv"),
        ((c("c_custkey") * 131 % 9973) / lit(100.0)).as("yv"))
      xy.agg(sum(col("xv")).as("sx"), sum(col("yv")).as("sy"),
          sum(col("xv") * col("xv")).as("sxx"),
          sum(col("xv") * col("yv")).as("sxy"), count(lit(1)).as("n"))
        .select(
          expr("round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)")
            .as("slope"),
          expr("round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)")
            .as("intercept"))
    }),

    "geo_moran" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val st = g.agg(sum(col("v")).as("sx"), count(lit(1)).as("n"))
      import s.implicits._
      val rook = Seq((-1, 0), (1, 0), (0, -1), (0, 1)).toDF("dr", "dc")
      val nbr = g.crossJoin(broadcast(rook))
        .select((col("r") + col("dr")).as("r"),
          (col("c") + col("dc")).as("c"), col("v").as("vj"))
      val pairs = g.join(nbr, Seq("r", "c"), "inner")
      val ps = pairs.crossJoin(broadcast(st))
        .agg(sum(expr("(v - sx / n) * (vj - sx / n)")).as("s"),
          count(lit(1)).as("w"))
      val m2 = g.crossJoin(broadcast(st))
        .agg(sum(expr("(v - sx / n) * (v - sx / n)")).as("m2"),
          first(col("n")).as("n"))
      ps.crossJoin(m2)
        .select(expr("round(CAST(n AS DOUBLE) / w * s / m2, 6)")
          .as("moran_i"), col("w"), col("n"))
    }),

    "geo_histogram" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      pts.groupBy(floor(col("val") / 500.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("val") * 100).cast("long")).as("sum_cents"))
    }),

    "geo_resample_bilinear" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val t = s.range(4000).select(
        expr("id DIV 100").as("i"), (col("id") % 100).as("j"))
        .withColumn("sr",
          expr("i * CAST(0.9 AS DOUBLE) + CAST(0.3 AS DOUBLE)"))
        .withColumn("sc",
          expr("j * CAST(0.45 AS DOUBLE) + CAST(0.2 AS DOUBLE)"))
        .withColumn("r0", expr("CAST(floor(sr) AS BIGINT)"))
        .withColumn("c0", expr("CAST(floor(sc) AS BIGINT)"))
        .withColumn("fr", expr("sr - r0"))
        .withColumn("fc", expr("sc - c0"))
      def gAt(rc: String, sfx: String) = g.select(col("r").as(s"r_$sfx"),
        col("c").as(s"c_$sfx"), col("v").as(s"v$sfx"))
      val j = t
        .join(gAt("", "00"), col("r0") === col("r_00") &&
          col("c0") === col("c_00"), "inner")
        .join(gAt("", "01"), col("r0") === col("r_01") &&
          col("c0") + 1 === col("c_01"), "inner")
        .join(gAt("", "10"), col("r0") + 1 === col("r_10") &&
          col("c0") === col("c_10"), "inner")
        .join(gAt("", "11"), col("r0") + 1 === col("r_11") &&
          col("c0") + 1 === col("c_11"), "inner")
      j.select(col("i"), col("j"),
        expr("round((1 - fr) * (1 - fc) * v00 + (1 - fr) * fc * v01 + fr * (1 - fc) * v10 + fr * fc * v11, 6)")
          .as("bv"))
    }),

    // ---- raster-stack / utility tools (§2.2, §2.8) ----

    // HighestPosition/LowestPosition (first strict max/min, 0-based,
    // Scripts/HighestPosition.groovy:137-147) + PercentGreaterThan
    "geo_stack_position" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val hi = when(col("v2") > col("v1"),
          when(col("v3") > col("v2"), 2L).otherwise(1L))
        .otherwise(when(col("v3") > col("v1"), 2L).otherwise(0L))
      val lo = when(col("v2") < col("v1"),
          when(col("v3") < col("v2"), 2L).otherwise(1L))
        .otherwise(when(col("v3") < col("v1"), 2L).otherwise(0L))
      val gt = (when(col("v1") > 50.0, 1).otherwise(0) +
        when(col("v2") > 50.0, 1).otherwise(0) +
        when(col("v3") > 50.0, 1).otherwise(0))
      st.select(col("r"), col("c"), hi.as("hi_pos"), lo.as("lo_pos"),
        round(gt * 100.0 / 3.0, 4).as("pct_gt"))
    }),

    // Resample nearest-neighbour (ImageProcessing/Resample.java NN arm)
    "geo_resample_nn" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val t = s.range(4000).select(
        expr("id DIV 100").as("i"), (col("id") % 100).as("j"))
        .withColumn("sr", expr("i * CAST(0.9 AS DOUBLE) + CAST(0.3 AS DOUBLE)"))
        .withColumn("sc", expr("j * CAST(0.45 AS DOUBLE) + CAST(0.2 AS DOUBLE)"))
        .withColumn("rn", expr("CAST(floor(sr + 0.5) AS BIGINT)"))
        .withColumn("cn", expr("CAST(floor(sc + 0.5) AS BIGINT)"))
      t.join(g, col("rn") === g("r") && col("cn") === g("c"))
        .select(col("i"), col("j"), col("v").as("nv"))
    }),

    // Mosaic (ImageProcessingTools/Mosaic.java): later image wins
    "geo_mosaic" -> ((s, dir) => {
      val a = Derived.partGrid(s, dir)
      val b = Derived.partGrid(s, dir).select((col("r") + 17).as("r"),
        (col("c") + 23).as("c"), (col("v") + 500.0).as("bv"))
      a.join(b, Seq("r", "c"), "full_outer")
        .select(col("r"), col("c"),
          coalesce(col("bv"), col("v")).as("mv"))
    }),

    // FlipImage (vertical)
    "geo_flip" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      g.select((lit(39) - col("r")).as("r"), col("c"), col("v"))
    }),

    // Seeded random raster (RandomField semantics, deterministic by
    // cell id so partitioning cannot change values)
    "geo_random_field" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      g.select(col("r"), col("c"),
        (((col("r") * 50 + col("c")) * 2654435761L + 12345L) % 1000003L)
          .cast("double").divide(1000003.0).as("u"))
    }),

    // Medoid (Scripts/Medoid.groovy:145-180): 2-D median then the
    // nearest point, per zone
    "geo_medoid" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val cell = latlng_to_cell(pts("y"), pts("x"), lit(5))
      val zoned = pts.select(col("id"), col("x"), col("y"),
        (cell_lat_bin(cell) * 64 + cell_lon_bin(cell)).as("zone"))
      val meds = zoned.groupBy("zone").agg(
        sort_array(collect_list(col("x"))).as("xsArr"),
        sort_array(collect_list(col("y"))).as("ysArr"),
        count(lit(1)).as("n"))
        .select(col("zone"),
          when(col("n") % 2 === 0,
            (element_at(col("xsArr"), (col("n") / 2).cast("int")) +
              element_at(col("xsArr"), (col("n") / 2 + 1).cast("int"))) / 2)
            .otherwise(element_at(col("xsArr"),
              ((col("n") + 1) / 2).cast("int"))).as("medx"),
          when(col("n") % 2 === 0,
            (element_at(col("ysArr"), (col("n") / 2).cast("int")) +
              element_at(col("ysArr"), (col("n") / 2 + 1).cast("int"))) / 2)
            .otherwise(element_at(col("ysArr"),
              ((col("n") + 1) / 2).cast("int"))).as("medy"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("zone")
        .orderBy(col("d2").asc, col("id").asc)
      zoned.join(meds, Seq("zone"))
        .withColumn("d2", (col("x") - col("medx")) * (col("x") - col("medx")) +
          (col("y") - col("medy")) * (col("y") - col("medy")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("zone"), col("id").as("medoid_id"))
    }),

    // CompareImagesForDifferences (StatsTools, :315-334): paired t.
    // Band values are exact tenths (Derived.partStack), so the sums
    // run in scaled-integer space (d*10) — order-independent and
    // bit-exact at any parallelism; only the final statistics touch
    // floats, via the same correctly-rounded op sequence as the
    // oracle.
    "geo_ttest" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val d = st.select(
        round((col("v1") - col("v2")) * 10).cast("long").as("d10"))
      d.agg(sum(col("d10")).as("s10"),
          sum(col("d10") * col("d10")).as("q100"), count(lit(1)).as("n"))
        .select(col("n"),
          round(col("s10") / 10.0 / col("n"), 6).as("mean_diff"),
          round((col("s10") / 10.0 / col("n")) /
            (sqrt((col("n") * col("q100") - col("s10") * col("s10")) / 100.0 /
              (col("n") * (col("n") - 1))) / sqrt(col("n"))), 6).as("t"))
    }),

    // KappaIndex (StatsTools/KappaIndex.java): agreement from the
    // contingency table of two categorical maps
    "geo_kappa" -> ((s, dir) => {
      val c = Derived.table(s, dir, "customer")
      val ab = c.select((c("c_nationkey") % 5).as("a"),
        (c("c_custkey") * 7919 % 5).as("b"))
      val tot = ab.agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("diag"))
      val rows = ab.groupBy("a").agg(count(lit(1)).as("ra"))
      val cols = ab.groupBy("b").agg(count(lit(1)).as("cb"))
      val pes = rows.join(cols, col("a") === col("b"))
        .agg(sum(col("ra") * col("cb")).as("pesum"))
      tot.crossJoin(broadcast(pes)).select(col("n"),
        round(col("diag") / col("n"), 6).as("po"),
        round((col("diag") / col("n") - col("pesum") / (col("n") * col("n"))) /
          (lit(1.0) - col("pesum") / (col("n") * col("n"))), 6).as("kappa"))
    }),

    // NearestNeighbourAnalysis (Scripts/NearestNeighbourAnalysis
    // .groovy, Clark-Evans): observed vs expected mean NN distance
    "geo_clark_evans" -> ((s, dir) => {
      val pts = Derived.customerPoints(s, dir)
      val probe = pts.select(col("id").as("pid"), col("x").as("px0"),
        col("y").as("py0"))
      val build = pts.select(col("id").as("bid"), col("x").as("bx0"),
        col("y").as("by0"))
      val nn = SpatialJoins.knnJoin(probe, build, 2, probeId = "pid",
          buildId = "bid", px = "px0", py = "py0", bx = "bx0",
          by = "by0")
        .where(col("pid") =!= col("bid"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("pid")
            .orderBy(col("rnk"))))
        .where(col("rn") === 1)
      val bbox = pts.agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"), count(lit(1)).as("n"))
      nn.agg(sum(sqrt(col("dist2"))).as("sd"), count(lit(1)).as("n"))
        .crossJoin(broadcast(bbox.select(
          ((col("x1") - col("x0")) * (col("y1") - col("y0"))).as("area"))))
        .select(col("n"),
          round(col("sd") / col("n"), 6).as("robs"),
          round(lit(0.5) / sqrt(col("n") / col("area")), 6).as("rexp"),
          round((col("sd") / col("n")) /
            (lit(0.5) / sqrt(col("n") / col("area"))), 6).as("ratio"))
    }),

    // WKT export -> import round-trip (ExportWellKnownText /
    // ImportWellKnownText); area and vertex count survive
    "geo_wkt_roundtrip" -> ((s, dir) => {
      val sq = Derived.supplierSquares(s, dir)
      val rt = sq.withColumn("g", from_wkt(to_wkt(col("xs"), col("ys"),
        col("parts"))))
      rt.select(col("fid"),
        round(polygon_area(col("g.xs"), col("g.ys"), col("g.parts")), 6)
          .as("area"),
        size(col("g.xs")).cast("long").as("nv"),
        size(col("g.parts")).cast("long").as("nparts"))
    }),

    // ---- vector geometry via JTS (buffer / clip) ----

    "geo_buffer_area" -> ((s, dir) => {
      val sp = Derived.supplierPoints(s, dir)
        .withColumn("rr", (lit(1.0) + col("s_id") % 3).cast("double"))
      sp.select(col("s_id"),
        round(buffer_point_area(col("sx"), col("sy"), col("rr")), 4)
          .as("barea"))
    }),

    "geo_clip_area" -> ((s, dir) => {
      val sp = Derived.supplierPoints(s, dir)
        .withColumn("rr", (lit(1.0) + col("s_id") % 3).cast("double"))
      sp.select(col("s_id"),
        round(clip_area_rect(
          array(col("sx"), col("sx") + col("rr"), col("sx"),
            col("sx") - col("rr")),
          array(col("sy") - col("rr"), col("sy"), col("sy") + col("rr"),
            col("sy")),
          array(lit(0)),
          col("sx") - 10.0, col("sy") - 10.0, col("sx") + 10.0,
          col("sy")), 4).as("carea"))
    }),

    // ---- overlay with geometry output (§2.3.1) ----

    "geo_clip_geom" -> ((s, dir) =>
      operators.VectorOverlay.clip(Derived.supplierSquares(s, dir),
          Derived.rectZones(s), res = 4)
        .select(col("fid").as("s_id"), round(col("area"), 4).as("carea"),
          col("minx").as("ominx"), col("miny").as("ominy"),
          col("maxx").as("omaxx"), col("maxy").as("omaxy"))),

    "geo_intersect_pairs" -> ((s, dir) =>
      operators.VectorOverlay.overlayPairs(Derived.supplierSquares(s, dir),
          Derived.rectZones(s), res = 4, op = graft.core.Jts.OpIntersection)
        .select(col("a_fid").as("s_id"), col("b_fid").as("zone_id"),
          round(col("area"), 4).as("iarea"), col("ominx"), col("ominy"),
          col("omaxx"), col("omaxy"))),

    "geo_erase_geom" -> ((s, dir) =>
      operators.VectorOverlay.erase(Derived.supplierSquares(s, dir),
          Derived.rectZones(s), res = 4)
        .select(col("fid").as("s_id"), round(col("area"), 4).as("darea"))),

    "geo_symdiff_pairs" -> ((s, dir) =>
      operators.VectorOverlay.overlayPairs(Derived.supplierSquares(s, dir),
          Derived.rectZones(s), res = 4,
          op = graft.core.Jts.OpSymDifference)
        .select(col("a_fid").as("s_id"), col("b_fid").as("zone_id"),
          round(col("area"), 4).as("sarea"))),

    // DE-9IM predicate menu evaluated per candidate pair (§2.3 item 2)
    "geo_predicate_menu" -> ((s, dir) =>
      operators.VectorOverlay.predicatePairs(
        Derived.supplierSquares(s, dir), Derived.rectZones(s), res = 4,
        Seq(("r_intersects", graft.expr.GeoEval.PredIntersects),
          ("r_within", graft.expr.GeoEval.PredWithin),
          ("r_contains", graft.expr.GeoEval.PredContains),
          ("r_overlaps", graft.expr.GeoEval.PredOverlaps),
          ("r_touches", graft.expr.GeoEval.PredTouches)))),

    // boundary-aligned fixture so `touches` pairs actually occur
    "geo_touch_join" -> ((s, dir) =>
      operators.VectorOverlay.predicatePairs(
        Derived.latticeSquares(s, dir), Derived.touchZone(s), res = 4,
        Seq(("t_touches", graft.expr.GeoEval.PredTouches),
          ("t_within", graft.expr.GeoEval.PredWithin)))),

    // isolate-by-location semi join + remove-by-location anti join
    "geo_select_location" -> ((s, dir) =>
      operators.VectorOverlay.predicateJoin(
          Derived.supplierSquares(s, dir), Derived.rectZones(s),
          res = 4, pred = graft.expr.GeoEval.PredIntersects,
          anti = false)
        .select("fid")),

    "geo_remove_location" -> ((s, dir) =>
      operators.VectorOverlay.predicateJoin(
          Derived.supplierSquares(s, dir), Derived.rectZones(s),
          res = 4, pred = graft.expr.GeoEval.PredIntersects,
          anti = true)
        .select("fid")),

    "geo_dissolve" -> ((s, dir) =>
      operators.VectorOverlay.dissolve(Derived.latticeSquares(s, dir))
        .select(col("fid"), round(col("area"), 4).as("parea"),
          col("minx"), col("miny"), col("maxx"), col("maxy"))),

    // Fuse (union of two layers + coverage dissolve): lattice squares
    // fused with their (+2,+2)-shifted copies -> per-component area 28
    "geo_fuse" -> ((s, dir) => {
      val la = Derived.latticeSquares(s, dir)
      val lb = la.select((col("fid") + 100000).as("fid"),
        transform(col("xs"), v => v + 2).as("xs"),
        transform(col("ys"), v => v + 2).as("ys"),
        col("parts"),
        (col("min_x") + 2).as("min_x"), (col("min_y") + 2).as("min_y"),
        (col("max_x") + 2).as("max_x"), (col("max_y") + 2).as("max_y"))
      operators.VectorOverlay.fuse(la, lb)
        .select(col("fid"), round(col("area"), 4).as("parea"),
          col("minx"), col("miny"), col("maxx"), col("maxy"))
    }),

    // ---- webtext: geo-entity extraction + zone overlay ----

    "geo_extract" -> ((s, dir) => {
      val d = Derived.table(s, dir, "documents")
      d.select(d("doc_id"), explode(TextOps.tokens(d("text"))).as("tok"))
        .join(broadcast(Derived.gazetteerDF(s)),
          col("tok") === col("place"))
        .groupBy("doc_id", "place").agg(count(lit(1)).as("n"))
    }),

    "geo_entity_zones" -> ((s, dir) => {
      val d = Derived.table(s, dir, "documents")
      val mentions = d
        .select(d("doc_id"), explode(TextOps.tokens(d("text"))).as("tok"))
        .join(broadcast(Derived.gazetteerDF(s)),
          col("tok") === col("place"))
        .select(col("doc_id"), col("place"),
          col("px").as("x"), col("py").as("y"))
      SpatialJoins.pipJoin(mentions, Derived.zones(s), res = 7)
        .groupBy("zone_id", "place").agg(count(lit(1)).as("n"))
    }),

    "geo_buffer_select" -> ((s, dir) => {
      val l = Derived.customerPoints(s, dir)
      val r = Derived.supplierPoints(s, dir)
        .select(col("s_id"), col("sx"), col("sy"))
      SpatialJoins.distanceJoin(l, r, radius = 2.0,
          lx = "x", ly = "y", rx = "sx", ry = "sy")
        .select(col("id")).distinct()
    }),

    // ---- Common-Crawl-style page table (input_hint shape) ----
    // (url, warc_ts, html:binary, text, lang); per-row invariant:
    // byte-identical extracted text per url, checked via sha256 on
    // both engines.

    "web_extract_text" -> ((s, dir) => {
      val p = Derived.webPages(s, dir)
      val ext = graft.expr.WebFunctions.html_extract_text(col("html"))
      p.select(col("url"), sha2(ext, 256).as("sha"),
        octet_length(ext).cast("long").as("n_bytes"))
    }),

    "web_page_stats" -> ((s, dir) => {
      val p = Derived.webPages(s, dir)
      val ext = graft.expr.WebFunctions.html_extract_text(col("html"))
      p.select(col("lang"), col("warc_ts"),
          octet_length(ext).cast("long").as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pages"),
          sum(col("nb")).as("text_bytes"),
          max(col("warc_ts").cast("long")).as("last_epoch"))
    }),

    // latest-snapshot-per-url dedup (the Common-Crawl recrawl case):
    // two captures per url, the later one a revision; keep the text
    // of the max warc_ts capture via max_by — no window, one shuffle
    "web_latest_capture" -> ((s, dir) => {
      val d = Derived.table(s, dir, "documents")
      val url = concat(lit("https://example.org/"), d("lang"),
        lit("/"), d("doc_id").cast("string"))
      val t0 = lit(1690000000L) + d("doc_id") * 97
      val cap0 = d.select(url.as("url"),
        timestamp_seconds(t0).as("warc_ts"),
        graft.expr.WebFunctions.html_wrap(d("doc_id"), d("text"))
          .as("html"))
      val cap1 = d.select(url.as("url"),
        timestamp_seconds(t0 + 2592000L).as("warc_ts"),
        graft.expr.WebFunctions.html_wrap(d("doc_id"),
          concat(d("text"), lit(" revision 2"))).as("html"))
      val ext = graft.expr.WebFunctions.html_extract_text(col("html"))
      cap0.unionByName(cap1)
        .select(col("url"), col("warc_ts"), sha2(ext, 256).as("sha"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_caps"),
          max_by(col("sha"), col("warc_ts")).as("sha"))
    }),

    // page -> geo-entity -> tile assignment (the north-rule metric
    // path: extracted text tokens against the broadcast gazetteer,
    // mention coordinates binned at the res-6 parent tile)
    "web_tile_assign" -> ((s, dir) => {
      val p = Derived.webPages(s, dir)
      val ext = graft.expr.WebFunctions.html_extract_text(col("html"))
      val toks = p.select(col("url"),
        explode(TextOps.tokens(ext)).as("tok"))
      val parent = cell_to_parent(
        latlng_to_cell(col("py"), col("px"), lit(RES)), lit(6))
      toks.join(broadcast(Derived.gazetteerDF(s)),
          col("tok") === col("place"))
        .select(col("url"), cell_lat_bin(parent).as("lat_bin6"),
          cell_lon_bin(parent).as("lon_bin6"))
        .groupBy("lat_bin6", "lon_bin6")
        .agg(countDistinct(col("url")).as("n_pages"),
          count(lit(1)).as("n_mentions"))
    }),

    // ---- training-data pipeline: dedup / quality / similarity ----

    "dedup_exact" -> ((s, dir) =>
      TextOps.exactDedup(Derived.dupCorpus(s, dir))),

    "dedup_jaccard" -> ((s, dir) =>
      TextOps.jaccardPairs(Derived.dupCorpus(s, dir), 0.95)),

    // 64 perms in 32 bands of 2 rows: p(miss a 0.95-pair) =
    // (1 - 0.95^2)^32 ~ 5e-33 — effectively exact, and cheap because
    // LSH runs over unique token sets only (exact-dedup pre-pass).
    "dedup_minhash" -> ((s, dir) =>
      TextOps.minhashLshPairs(Derived.dupCorpus(s, dir),
        perms = 64, bands = 32, threshold = 0.95)),

    "dedup_simhash" -> ((s, dir) =>
      TextOps.simhashPairs(Derived.dupCorpus(s, dir), maxHamming = 3)),

    // embedding-cosine near-dup: random-hyperplane LSH candidates
    // (8 bands x 8 sign bits over integer-quantized dots, bit-exact
    // across engines) + exact relational cosine verify
    "dedup_cosine" -> ((s, dir) =>
      operators.Similarity.cosineNearDupPairs(
        Derived.dupEmbeddings(s, dir), threshold = 0.9)),

    "text_tokens" -> ((s, dir) =>
      TextOps.tokenCounts(Derived.table(s, dir, "documents"))),

    "text_quality" -> ((s, dir) =>
      TextOps.qualitySignals(Derived.table(s, dir, "documents"),
        Derived.stopwords)),

    "text_langid" -> ((s, dir) =>
      TextOps.langId(Derived.table(s, dir, "documents"),
        Derived.langLists)),

    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Derived.table(s, dir, "documents"))),

    "ann_topk" -> ((s, dir) => {
      val emb = Derived.table(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5)
    }),

    // fused scale path: in-row array dot product (zip_with +
    // aggregate, left-fold order = DuckDB list_dot_product) + bounded
    // top-k buffer — no d-way explosion, no |N|x|Q|-group hash agg
    "ann_topk_fused" -> ((s, dir) => {
      val emb = Derived.table(s, dir, "embeddings")
      Similarity.bruteForceTopKFused(emb, emb.where(col("vec_id") < 10),
        5)
    }),

    // blocked 100TB shape: broadcast probe block + per-partition
    // primitive top-k buffers (bit-identical to ann_topk_fused)
    "ann_topk_blocked" -> ((s, dir) => {
      val emb = Derived.table(s, dir, "embeddings")
      Similarity.bruteForceTopKBlocked(emb,
        emb.where(col("vec_id") < 10), 5)
    }),

    // IVF over a TRAINED k-means coarse quantizer (8 lists, 2
    // iterations, 3 probes) — probe cost O(N * nprobe / nlist)
    "ann_ivf" -> ((s, dir) => {
      val emb = Derived.table(s, dir, "embeddings")
      operators.Clustering.ivfTrainedTopK(emb,
        emb.where(col("vec_id") < 20), k = 5, nlist = 8, iters = 2,
        nprobe = 3)
    }),

    // covariance aggregation core of PCA (StatsTools/
    // PCAForAttributes.java); eigen solve is evidenced in PcaSpec
    "pca_covariance" -> ((s, dir) =>
      operators.Clustering.covarianceMatrix(
          Derived.table(s, dir, "embeddings"))
        .where(col("i") < 8 && col("j") < 8)
        .select(col("i").cast("long").as("i"),
          col("j").cast("long").as("j"),
          round(col("cov"), 6).as("cov"))),

    "cluster_kmeans" -> ((s, dir) => {
      val emb = Derived.table(s, dir, "embeddings")
      operators.Clustering.kMeans(emb, k = 8, iters = 2)._1
    }),

    // Sessionization (the batch twin of the
    // flatMapGroupsWithState/session-window streaming pattern):
    // a new session starts after a >30-minute gap per user
    "events_sessionize" -> ((s, dir) => {
      val e = Derived.table(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      e.withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("new_sess")).over(w))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
    }),

    // as-of join (Temporal.asofJoin): every event annotated with the
    // user's latest purchase at-or-before it — one shuffle on the key,
    // no per-pair explosion at any skew
    "events_asof" -> ((s, dir) => {
      val ev = Derived.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val pur = Derived.table(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("pus"),
          col("event_id").as("purchase_id"))
      operators.Temporal.asofJoin(ev, pur, Seq("user_id"), "us", "pus",
        "purchase_id", Seq("purchase_id", "pus"))
    }),

    // per-patch shape metrics (GISTools CompactnessRatio /
    // PerimeterAreaRatio family) over the clumped components
    "geo_patch_metrics" -> ((s, dir) => {
      val cells = Derived.partGrid(s, dir).select(col("r"), col("c"),
        floor(col("v") / 25.0).cast("long").as("cls"))
      val comps = operators.Vectorize.clumpByValue(cells, width = 50)
      def nbrC(dr: Int, dc: Int, name: String) =
        comps.select((col("r") - dr).as("r"), (col("c") - dc).as("c"),
          col("comp_id").as(name))
      val sides = comps
        .join(nbrC(-1, 0, "cn"), Seq("r", "c"), "left")
        .join(nbrC(1, 0, "cs"), Seq("r", "c"), "left")
        .join(nbrC(0, -1, "cw"), Seq("r", "c"), "left")
        .join(nbrC(0, 1, "ce"), Seq("r", "c"), "left")
        .select(col("comp_id"),
          (when(col("cn").isNull || col("cn") =!= col("comp_id"), 1)
            .otherwise(0) +
           when(col("cs").isNull || col("cs") =!= col("comp_id"), 1)
            .otherwise(0) +
           when(col("cw").isNull || col("cw") =!= col("comp_id"), 1)
            .otherwise(0) +
           when(col("ce").isNull || col("ce") =!= col("comp_id"), 1)
            .otherwise(0)).as("exposed"))
      sides.groupBy("comp_id")
        .agg(count(lit(1)).as("area"),
          sum(col("exposed")).as("perim"))
        .select(col("comp_id"), col("area"), col("perim"),
          round(col("perim") * col("perim") /
            (lit(4.0) * math.Pi * col("area")), 6).as("shape_complexity"),
          round(col("perim").cast("double") / col("area"), 6)
            .as("perim_area_ratio"))
    }),

    // TwoImageHistogramMatching (StatsTools): remap band v1 so its
    // rank distribution takes band v2's value at the same rank —
    // ranks come from the DISTRIBUTED two-pass CDF, not a
    // single-partition global window
    "geo_hist_match" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val keyed = st.select((col("r") * 50 + col("c")).as("cid"),
        col("v1"), col("v2"))
      val ranked = operators.Distribution
        .cumeDist(keyed, col("v1"), col("cid"), 10.0, "cd1",
          posName = Some("rk"))
      val ref = operators.Distribution
        .cumeDist(keyed.select(col("cid"), col("v2")), col("v2"),
          col("cid"), 10.0, "cd2", posName = Some("rk"))
        .select(col("rk"), col("v2").as("matched"))
      ranked.join(ref, Seq("rk"))
        .select(expr("cid DIV 50").as("r"), (col("cid") % 50).as("c"),
          col("matched"))
    }),

    // ---- streaming-analog tumbling window over events ----

    "events_window" -> ((s, dir) => {
      val e = Derived.table(s, dir, "events")
      e.groupBy(
          expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 3600 * 3600")
            .as("bucket"),
          e("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(e("value") * 100).cast("long")).as("sum_value_cents"))
    }),

    // ---- focal filter presets, round 3 (SURVEY.md §2.5 tail) ----

    // FilterHighPass: z - focal mean (5x5, reflected edges)
    "geo_conv_highpass" -> ((s, dir) =>
      operators.Focal.filterHighPass(Derived.partGrid(s, dir), 2,
        reflect = true, GridRows, GridCols)),

    // FilterLineDetection, vertical kernel, absolute response
    "geo_conv_line_detect" -> ((s, dir) =>
      operators.Focal.convolveSubstituteExact(Derived.partGrid(s, dir),
        operators.Focal.lineDetectV3x3, reflect = true,
        GridRows, GridCols)
        .select(col("r"), col("c"), abs(col("cv")).as("cv"))),

    // FilterConservativeSmoothing: clamp centre into the min/max of
    // the diagonal window cells (reference's x!=col && y!=row test)
    "geo_conservative_smooth" -> ((s, dir) =>
      operators.Focal.filterConservativeSmoothing(
        Derived.partGrid(s, dir), 1, reflect = true,
        GridRows, GridCols)),

    // FilterKNearestMean: mean of the k=5 window values nearest the
    // centre (3x3, NoData edges — border cells keep enough reads)
    "geo_knearest_mean" -> ((s, dir) =>
      operators.Focal.filterKNearestMean(Derived.partGrid(s, dir), 1,
        k = 5, reflect = false, GridRows, GridCols)),

    // FilterEdgePreservingSmoothing (bilateral), sigmaD=0.75 sigmaI=3
    "geo_bilateral" -> ((s, dir) =>
      operators.Focal.filterBilateral(Derived.partGrid(s, dir),
        sigmaD = 0.75, sigmaI = 3.0, GridRows, GridCols)),

    // TangentialCurv
    "geo_tang_curv" -> ((s, dir) =>
      operators.Terrain.tangentialCurvature(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // RelativeAspect vs azimuth 45 deg
    "geo_relative_aspect" -> ((s, dir) =>
      operators.Terrain.relativeAspect(Derived.partGrid(s, dir),
        azimuthDeg = 45.0, GridRows, GridCols)),

    // FindRidges (no thinning arm)
    "geo_find_ridges" -> ((s, dir) =>
      operators.Terrain.findRidges(Derived.partGrid(s, dir))),

    // ---- hydrology flowpath-metric tail, round 3 (§2.10 row 8) ----

    // NumInflowingNeighbours (d8)
    "geo_num_inflowing" -> ((s, dir) =>
      operators.Terrain.numInflowing(Derived.partGrid(s, dir))),

    // FindNoFlowCells
    "geo_no_flow_cells" -> ((s, dir) =>
      operators.Terrain.findNoFlowCells(Derived.partGrid(s, dir))),

    // ElevationAboveStream / ElevAboveCreek
    "geo_elev_above_stream" -> ((s, dir) =>
      operators.Terrain.elevAboveStream(Derived.partGrid(s, dir),
        threshold = 5L)),

    // DownslopeDistanceToStream
    "geo_downslope_dist_stream" -> ((s, dir) =>
      operators.Terrain.downslopeDistanceToStream(
        Derived.partGrid(s, dir), threshold = 5L)),

    // FindSaddlePoints.groovy: lowest crest cell draining to each
    // channel head
    "geo_saddle_points" -> ((s, dir) =>
      operators.Terrain.saddlePoints(Derived.partGrid(s, dir),
        threshold = 5L, width = 50L)),

    // MapGullyDepth.groovy: shortest flagged cross-section's
    // interpolated depth at each low-DFME cell. partGrid's hash ramp
    // is periodic along every scanline (identical runs everywhere),
    // so the surface is roughened with a second integer hash to make
    // run shapes vary.
    "geo_gully_depth" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir).select(col("r"), col("c"),
        (col("v") + ((col("r") * 7 + col("c") * 13) % 11)
          .cast("double")).as("v"))
      operators.Terrain.mapGullyDepth(g,
        nRows = GridRows, nCols = GridCols, maxGullyWidth = 6.0,
        maxGullyDepth = 90.0, minGullyDepth = 0.5,
        dfmeThreshold10 = -150L, highPlanCurv = 100.0,
        dfmeRadius = 3)
    }),

    // Maximum/AverageUpslopeFlowpathLength family (one pass)
    "geo_upslope_flowpath" -> ((s, dir) =>
      operators.Terrain.upslopeFlowpathStats(Derived.partGrid(s, dir))),

    // CostPathway: destination backtrace counts over the cost backlink
    "geo_cost_pathway" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val cost = g.select(col("r"), col("c"),
        (col("v") / 100.0 + 1.0).as("v"))
      val sources = g.where(col("v") >= 97.0).select("r", "c")
      val dests = g.where(col("v") <= 0.5).select("r", "c")
      operators.Terrain.costPathway(cost, sources, dests,
        GridRows, GridCols)
    }),

    // BurnStreams (decay arm, decay = 2, decrement = 5)
    "geo_burn_streams" -> ((s, dir) =>
      operators.Terrain.burnStreams(Derived.partGrid(s, dir),
        threshold = 5L, decrement = 5.0)),

    // Hack / topological stream order over the link forest
    "geo_hack_order" -> ((s, dir) =>
      operators.Terrain.hackOrder(Derived.partGrid(s, dir),
        threshold = 5L, GridCols)),

    // RemoveShortStreams: exterior links under 3 cell-lengths dropped
    "geo_remove_short_streams" -> ((s, dir) =>
      operators.Terrain.removeShortStreams(Derived.partGrid(s, dir),
        threshold = 5L, GridCols, minLenNano = 3000000000L)),

    // LineThinning: 4 passes x 8 element sub-passes over 3-cell-wide
    // diagonal bands (the width the tool exists to erode)
    "geo_line_thinning" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val mask = g.select(col("r"), col("c"),
        when(((col("r") - col("c")) % 11 + 11) % 11 < 3, 1L)
          .otherwise(0L).as("b"))
      operators.Morphology.lineThinning(mask, passes = 4,
          GridRows, GridCols)
        .where(col("b") === 1L).select("r", "c")
    }),

    // ThickenRasterLine over 8-connected anti-diagonal lines (the
    // diagonal-step pattern the tool exists to fill)
    "geo_thicken" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val dense = g.select(col("r"), col("c"),
        when((col("r") + col("c")) % 9 === 0,
          (col("r") * 50 + col("c")) / lit(10.0))
          .otherwise(lit(0.0)).as("v"))
      operators.Morphology.thickenLines(dense).where(col("v") > 0)
    }),

    // ---- geometry restructure family (§2.6 reshape row) ----

    // ExtractNodes: polygon vertices -> point features
    "geo_extract_nodes" -> ((s, dir) =>
      operators.VectorReshape.extractNodes(
        Derived.supplierSquares(s, dir))),

    // PolygonsToLines: ring re-tag (closed vertex count + length)
    "geo_polygons_to_lines" -> ((s, dir) =>
      operators.VectorReshape.polygonsToLines(
        Derived.supplierSquares(s, dir))),

    // LinesToPolygons: closed ring -> polygon (shoelace area)
    "geo_lines_to_polygons" -> ((s, dir) =>
      operators.VectorReshape.linesToPolygons(
        Derived.supplierSquares(s, dir))),

    // Singleparts -> Multiparts -> Singleparts round trip
    "geo_multipart_roundtrip" -> ((s, dir) =>
      operators.VectorReshape.multipartRoundTrip(
        Derived.supplierSquares(s, dir), groups = 7)),

    // RasterizeTIN: linear facet interpolation onto the cell grid
    "geo_tin_rasterize" -> ((s, dir) => {
      val pts = Derived.supplierPoints(s, dir).where(col("s_id") <= 40)
        .select(col("s_id").as("pid"), col("sx").as("px"),
          col("sy").as("py"), col("sval").as("pz"))
      val targets = Derived.partGrid(s, dir).select(col("r"), col("c"),
        (lit(-90.0005) + col("c") * 1.5).as("x"),
        (lit(-40.0005) + col("r") * 1.5).as("y"))
      operators.Tin.rasterizeTin(pts, targets)
    }),

    // ---- LiDAR gridding family (LidarTools) ----

    // LiDAR_BareEarthDEM: ground-class last-return min per cell
    "lidar_bare_earth" -> ((s, dir) =>
      operators.Lidar.bareEarthDem(Derived.lidarCloud(s, dir), 10.0)),

    // LiDAR_CanopyModel: first-return surface minus bare earth
    "lidar_canopy" -> ((s, dir) =>
      operators.Lidar.canopyModel(Derived.lidarCloud(s, dir), 10.0)),

    // LiDAR_PointDensity: points per unit area per cell
    "lidar_density" -> ((s, dir) =>
      operators.Lidar.pointDensity(Derived.lidarCloud(s, dir), 10.0)),

    // GetLasFileSummary: per-ASPRS-class stats
    "lidar_summary" -> ((s, dir) =>
      operators.Lidar.summary(Derived.lidarCloud(s, dir))),

    // LiDAR_IDW_interpolation: radius-2 IDW of ground z to centers
    "lidar_idw" -> ((s, dir) =>
      operators.Lidar.idwSurface(Derived.lidarCloud(s, dir),
        rows = 10, cols = 10, cellSize = 10.0, radius = 8.0)),

    // LiDAR_segmentation: region-grown segments over the point
    // neighbourhood graph gated on max-downward-angle similarity
    "lidar_segmentation" -> ((s, dir) =>
      operators.Lidar.segmentation(Derived.lidarCloud(s, dir),
        searchDist = 3.0)),

    // FindFlightlineEdgePoints.groovy: not-withheld points with the
    // edge-of-flightline bit set, projected to the reference's DBF
    // fields (FID, Z, I, CLASS, RTN_NUM, NUM_RTNS, SCAN_ANGLE)
    "lidar_flightline_edge" -> ((s, dir) =>
      Derived.lidarCloud(s, dir)
        .where(col("withheld") === 0 && col("edge_flag") === 1)
        .select(col("pid"), round(col("z"), 6).as("z"),
          col("intensity"), col("classification"), col("return_num"),
          col("n_returns"), col("scan_angle"))),

    // ---- image enhancement / colour family (ImageProcessingTools) ----

    // MinMaxContrastStretch (MinMaxContrastStretch.java:189-203):
    // z = clip(trunc(v - min) * numBins/(max - min), 0, numBins-1),
    // numBins = 1024, stretch bounds = the image's own min/max. Global
    // min/max is one partial agg broadcast back over the scan — no
    // second shuffle at 100 TB.
    // GaussianStretch (GaussianStretch.java): histogram-match onto a
    // discretized standard normal (cut = 3 SD, 1024 output bins)
    "geo_gaussian_stretch" -> ((s, dir) =>
      operators.Distribution.gaussianStretch(Derived.partGrid(s, dir))),

    // SigmoidalStretch (SigmoidalStretch.java): normalized logistic
    // remap, cutoff = 0.4, gain = 4
    "geo_sigmoidal_stretch" -> ((s, dir) =>
      operators.Distribution.sigmoidalStretch(Derived.partGrid(s, dir),
        cutoff = 0.4, gain = 4.0)),

    // FilterAdaptive (FilterAdaptive.java): z-score-gated mean
    // replacement (threshold = 1), reference's literal coordinate
    // guard mirrored
    "geo_filter_adaptive" -> ((s, dir) =>
      operators.Focal.filterAdaptive(Derived.partGrid(s, dir),
        threshold = 1.0, GridRows, GridCols)),

    // LeeSigmaFilter (LeeSigmaFilter.groovy): sigma-clipped 5x5 mean
    // with 8-neighbour fallback (sigma = 5 -> band 10, M = 4)
    "geo_lee_sigma" -> ((s, dir) =>
      operators.Focal.leeSigmaFilter(Derived.partGrid(s, dir),
        radius = 2, sigma = 5.0, m = 4, GridRows, GridCols)),

    "geo_stretch_minmax" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val st = g.agg(min("v").as("mn"), max("v").as("mx"))
      g.crossJoin(broadcast(st)).select(col("r"), col("c"),
        round(least(greatest(
          floor(col("v") - col("mn")).cast("double") *
            (lit(1024.0) / (col("mx") - col("mn"))), lit(0.0)),
          lit(1023.0)), 4).as("stretch"))
    }),

    // PercentageContrastStretch (PercentageContrastStretch.java:199-291):
    // integer-binned histogram from the image min, cumulative %, clip
    // bounds linearly interpolated at clip% / (100-clip)% (clip = 5),
    // then the MinMax stretch against the interpolated bounds. The
    // histogram is a bounded-cardinality groupBy (bins ~ value range),
    // so the distributed shape is two scans + one tiny window.
    "geo_stretch_percent" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Derived.partGrid(s, dir)
      val st = g.agg(min("v").as("mn"), max("v").as("mx"),
        count(lit(1)).cast("double").as("tot"))
      val nb = floor(col("mx") - col("mn") + 1).cast("long")
      val bins = st.select(col("mn"), col("mx"), col("tot"),
        explode(sequence(lit(0L), nb - 1)).as("bin"))
      val cnt = g.crossJoin(broadcast(st))
        .select(least(greatest(floor(col("v") - col("mn")), lit(0L)),
          nb - 1).as("bin"))
        .groupBy("bin").agg(count(lit(1)).cast("double").as("cnt"))
      val w = Window.orderBy("bin")
      val hist = bins.join(cnt, Seq("bin"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0.0)))
        .withColumn("pct", sum("cnt").over(w) / col("tot") * 100.0)
        .withColumn("pprev", lag("pct", 1).over(w))
      def tail(p: Double, as: String) =
        hist.where(col("bin") >= 1 && col("pct") >= p)
          .orderBy("bin").limit(1)
          .select((col("bin") - 1 + col("mn") +
            (lit(p) - col("pprev")) / (col("pct") - col("pprev"))).as(as))
      g.crossJoin(broadcast(tail(5.0, "minv")))
        .crossJoin(broadcast(tail(95.0, "maxv")))
        .select(col("r"), col("c"),
          round(least(greatest(
            floor(col("v") - col("minv")).cast("double") *
              (lit(1024.0) / (col("maxv") - col("minv"))), lit(0.0)),
            lit(1023.0)), 4).as("stretch"))
    }),

    // StandardDeviationContrastStretch (tool semantics per its dialog;
    // the reference .java body is a verbatim Reclass copy — see
    // StandardDeviationContrastStretch.java:236 — so the formula here
    // is the tool's documented clip at mean +- 2 sd then linear map):
    "geo_stretch_stddev" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val st = g.agg(sum("v").as("sv"), sum(col("v") * col("v")).as("svv"),
        count(lit(1)).cast("double").as("tot"))
        .select((col("sv") / col("tot")).as("mean"),
          sqrt(col("svv") / col("tot") -
            (col("sv") / col("tot")) * (col("sv") / col("tot"))).as("sd"))
        .select((col("mean") - lit(2.0) * col("sd")).as("minv"),
          (col("mean") + lit(2.0) * col("sd")).as("maxv"))
      g.crossJoin(broadcast(st)).select(col("r"), col("c"),
        round(least(greatest(
          floor(col("v") - col("minv")).cast("double") *
            (lit(1024.0) / (col("maxv") - col("minv"))), lit(0.0)),
          lit(1023.0)), 4).as("stretch"))
    }),

    // BalanceContrastEnhancement (BalanceContrastEnhancement.java:
    // 216-345): per-channel parabolic BCET with L=0, E=100, H=255;
    // e is the INTEGER mean (long division, line 297), s the double
    // mean square; output channels truncated then clipped to [0,255]
    // and packed (255<<24)|(b<<16)|(g<<8)|r as in line 364.
    "geo_stretch_balance" -> ((s, dir) => {
      val g = Derived.rgbChannels(s, dir)
      val st = g.agg(
        min("rch").as("rl"), max("rch").as("rh"),
        expr("CAST(sum(rch) AS BIGINT) DIV count(1)").as("re"),
        (sum(col("rch") * col("rch")).cast("double") /
          count(lit(1)).cast("double")).as("rs"),
        min("gch").as("gl"), max("gch").as("gh"),
        expr("CAST(sum(gch) AS BIGINT) DIV count(1)").as("ge"),
        (sum(col("gch") * col("gch")).cast("double") /
          count(lit(1)).cast("double")).as("gs"),
        min("bch").as("bl"), max("bch").as("bh"),
        expr("CAST(sum(bch) AS BIGINT) DIV count(1)").as("be"),
        (sum(col("bch") * col("bch")).cast("double") /
          count(lit(1)).cast("double")).as("bs"))
      def chan(v: String, l: String, h: String, e: String, sq: String,
          out: String) = {
        val b = (col(h) * col(h) * 100 - col(sq) * 255 +
          col(l) * col(l) * 155) /
          (lit(2) * (col(h) * 100 - col(e) * 255 + col(l) * 155))
        val a = lit(255) / ((col(h) - col(l)) * (col(h) + col(l) - lit(2) * b))
        val c0 = lit(0) - a * ((col(l) - b) * (col(l) - b))
        least(greatest(
          (a * ((col(v) - b) * (col(v) - b)) + c0).cast("long"),
          lit(0L)), lit(255L)).as(out)
      }
      g.crossJoin(broadcast(st)).select(col("r"), col("c"),
          chan("rch", "rl", "rh", "re", "rs", "bcet_r"),
          chan("gch", "gl", "gh", "ge", "gs", "bcet_g"),
          chan("bch", "bl", "bh", "be", "bs", "bcet_b"))
        .withColumn("rgb", lit(4278190080L) + col("bcet_b") * 65536 +
          col("bcet_g") * 256 + col("bcet_r"))
    }),

    // RGBtoIHS (RGBtoIHS.java:364-340): channels normalised by the
    // overall min/range across all three bands (actual data min/max
    // stand in for the reference's display min/max), clipped to [0,1];
    // i = r+g+b; hue by min-channel branch; saturation by hue sector.
    "geo_rgb_ihs" -> ((s, dir) => {
      val g = Derived.rgbChannels(s, dir)
      val st = g.agg(least(min("rch"), min("gch"), min("bch")).as("mnall"),
        greatest(max("rch"), max("gch"), max("bch")).as("mxall"))
      def norm(ch: String) = least(greatest(
        (col(ch) - col("mnall")) / (col("mxall") - col("mnall")),
        lit(0.0)), lit(1.0))
      val base = g.crossJoin(broadcast(st)).select(col("r"), col("c"),
        norm("rch").as("rn"), norm("gch").as("gn"), norm("bch").as("bn"))
      val iSum = col("rn") + col("gn") + col("bn")
      val m = least(col("rn"), col("gn"), col("bn"))
      val h = when(iSum === 3.0, lit(0.0))
        .when(m === col("bn"),
          (col("gn") - col("bn")) / (iSum - lit(3) * col("bn")))
        .when(m === col("rn"),
          (col("bn") - col("rn")) / (iSum - lit(3) * col("rn")) + 1)
        .otherwise((col("rn") - col("gn")) / (iSum - lit(3) * col("gn")) + 2)
      val withH = base.select(col("r"), col("c"), col("rn"), col("gn"),
        col("bn"), iSum.as("ih"), h.as("hh"))
      withH.select(col("r"), col("c"), round(col("ih"), 6).as("i"),
        round(col("hh"), 6).as("h"),
        round(when(col("hh") <= 1.0,
            (col("ih") - lit(3) * col("bn")) / col("ih"))
          .when(col("hh") <= 2.0,
            (col("ih") - lit(3) * col("rn")) / col("ih"))
          .otherwise((col("ih") - lit(3) * col("gn")) / col("ih")), 6)
          .as("sat"))
    }),

    // ChangeVectorAnalysis (ChangeVectorAnalysis.java:254-277): date-2
    // stack = the band-rotated date-1 stack; magnitude = sqrt of the
    // summed squared band deltas, direction = sum of 2^i over bands
    // with non-negative delta.
    "geo_change_vector" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val z0 = col("v2") - col("v1")
      val z1 = col("v3") - col("v2")
      val z2 = col("v1") - col("v3")
      st.select(col("r"), col("c"),
        round(sqrt(z0 * z0 + z1 * z1 + z2 * z2), 6).as("magnitude"),
        (when(z0 >= 0, 1).otherwise(0) + when(z1 >= 0, 2).otherwise(0) +
          when(z2 >= 0, 4).otherwise(0)).as("direction"))
    }),

    // ImageDestriping (ImageDestriping.groovy:116-151, horizontal arm,
    // diffThreshold = 10.0): a cell is striped when, for every column
    // offset a in [c-2, c+1], the cell at (r, a) differs from BOTH its
    // vertical neighbours by >= threshold with a consistent sign; the
    // striped cell is replaced by the vertical-neighbour mean. Input =
    // the part grid damped to [0,10) plus a +30 stripe on every 7th
    // row, so the filter demonstrably removes the planted stripes. One
    // scatter join + one row-partitioned window — no iterative pass.
    "geo_destripe" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Derived.partGrid(s, dir).select(col("r"), col("c"),
        (col("v") / 10.0 + when(col("r") % 7 === 3, 30.0).otherwise(0.0))
          .as("v"))
      val up = g.select((col("r") + 1).as("r"), col("c"), col("v").as("uv"))
      val dn = g.select((col("r") - 1).as("r"), col("c"), col("v").as("dv"))
      val j = g.join(up, Seq("r", "c"), "left").join(dn, Seq("r", "c"), "left")
      val d1 = col("v") - col("uv")
      val d2 = col("v") - col("dv")
      val cond = col("uv").isNotNull && col("dv").isNotNull &&
        abs(d1) >= 10.0 && abs(d2) >= 10.0 &&
        ((d1 < 0 && d2 < 0) || (d1 >= 0 && d2 >= 0))
      val w = Window.partitionBy("r").orderBy("c")
      val flagged = j.withColumn("cond", cond)
        .withColumn("flag",
          coalesce(lag("cond", 2).over(w), lit(false)) &&
          coalesce(lag("cond", 1).over(w), lit(false)) && col("cond") &&
          coalesce(lead("cond", 1).over(w), lit(false)))
      flagged.select(col("r"), col("c"),
        round(when(col("flag"), (col("uv") + col("dv")) / 2.0)
          .otherwise(col("v")), 6).as("destriped"))
    }),

    // ImageDestriping, VERTICAL arm (ImageDestriping.groovy:161-194).
    // The reference's vertical window reads `image.getValue(a, a)` —
    // the DIAGONAL cell, not (a, col); the quirk is mirrored
    // literally (the flag tests compare z(a,a) against the column
    // neighbours (a, col+-1) for the four consecutive a of the
    // window). Input = the part grid damped to [0,10) plus a +30
    // line on the diagonal, which the quirky filter demonstrably
    // detects (cond holds wherever the window is in-grid) so both
    // the replace and keep branches are exercised.
    "geo_destripe_vertical" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Derived.partGrid(s, dir).select(col("r"), col("c"),
        (col("v") / 10.0 + when(col("r") === col("c"), 30.0)
          .otherwise(0.0)).as("v"))
      val lf = g.select(col("r"), (col("c") + 1).as("c"),
        col("v").as("lv"))
      val rt = g.select(col("r"), (col("c") - 1).as("c"),
        col("v").as("rv"))
      val dg = g.where(col("r") === col("c"))
        .select(col("r"), col("v").as("gv"))
      val j = g.join(lf, Seq("r", "c"), "left")
        .join(rt, Seq("r", "c"), "left")
        .join(broadcast(dg), Seq("r"), "left")
      val d1 = col("gv") - col("lv")
      val d2 = col("gv") - col("rv")
      val cond = col("gv").isNotNull && col("lv").isNotNull &&
        col("rv").isNotNull &&
        abs(d1) >= 10.0 && abs(d2) >= 10.0 &&
        ((d1 < 0 && d2 < 0) || (d1 >= 0 && d2 >= 0))
      val w = Window.partitionBy("c").orderBy("r")
      val flagged = j.withColumn("cond", cond)
        .withColumn("flag",
          coalesce(lag("cond", 2).over(w), lit(false)) &&
          coalesce(lag("cond", 1).over(w), lit(false)) && col("cond") &&
          coalesce(lead("cond", 1).over(w), lit(false)))
      flagged.select(col("r"), col("c"),
        round(when(col("flag"), (col("lv") + col("rv")) / 2.0)
          .otherwise(col("v")), 6).as("destriped"))
    }),

    // CorrectVignetting (CorrectVignetting.groovy:286-294): divide by
    // the cos^n falloff of the view angle from the principal point;
    // focal length 304.8 mm, edge-to-edge distance 228.6 mm, n = 4.
    "geo_vignette" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val dist = sqrt((col("r") - 20.0) * (col("r") - 20.0) +
        (col("c") - 25.0) * (col("c") - 25.0))
      val theta = atan(dist * (lit(228.6) / 50) / 304.8)
      g.select(col("r"), col("c"),
        round(col("v") / pow(cos(theta), 4.0), 6).as("corrected"))
    }),

    // PercentEqualTo / PercentGreaterThan / PercentLessThan
    // (PercentEqualTo.groovy:141-155 and siblings): share of the
    // raster stack equal to / above / below the comparison raster.
    "geo_stack_percent" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      val g = Derived.partGrid(s, dir)
      val j = st.join(g, Seq("r", "c"))
      def pct(cmp: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column, out: String) =
        round(lit(100.0) * (when(cmp(col("v1"), col("v")), 1).otherwise(0) +
          when(cmp(col("v2"), col("v")), 1).otherwise(0) +
          when(cmp(col("v3"), col("v")), 1).otherwise(0)) / 3, 4).as(out)
      j.select(col("r"), col("c"), pct(_ === _, "pct_eq"),
        pct(_ > _, "pct_gt"), pct(_ < _, "pct_lt"))
    }),

    // MaxOverlay / MinOverlay (MaxOverlay.java:202-233): cell-wise
    // extremes across the raster stack.
    "geo_overlay_minmax" -> ((s, dir) => {
      val st = Derived.partStack(s, dir)
      st.select(col("r"), col("c"),
        greatest(col("v1"), col("v2"), col("v3")).as("vmax"),
        least(col("v1"), col("v2"), col("v3")).as("vmin"))
    }),

    // ---- terrain neighbourhood statistics (§2.10 tail) ----

    // NumDownslopeNeighbours / NumUpslopeNeighbours
    // (NumDownslopeNeighbours.java:231-245): count of 8-neighbours
    // strictly below / above the cell; off-grid reads don't count.
    "geo_neighbour_updown" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      operators.Focal.contributions(g, 1, reflect = false,
          GridRows, GridCols)
        .where(!(col("dy") === 0 && col("dx") === 0))
        .join(g.select(col("r"), col("c"), col("v").as("cz")),
          Seq("r", "c"))
        .groupBy("r", "c")
        .agg(
          sum(when(col("nv") < col("cz"), 1L).otherwise(0L)).as("n_down"),
          sum(when(col("nv") > col("cz"), 1L).otherwise(0L)).as("n_up"))
        .select(col("r"), col("c"), col("n_down"), col("n_up"))
    }),

    // MaxDownslopeElevationChange / MinDownslopeElevationChange
    // (MaxDownslopeElevationChange.java:239-268 and sibling): the
    // elevation drop along the steepest / gentlest non-negative
    // descent; 0 when no descending neighbour. Two-stage agg (extreme
    // slope, then the drop at that slope) keeps the pick tie-free.
    "geo_downslope_dz" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val con = operators.Focal.contributions(g,
          1, reflect = false, GridRows, GridCols)
        .where(!(col("dy") === 0 && col("dx") === 0))
        .join(g.select(col("r"), col("c"), col("v").as("cz")),
          Seq("r", "c"))
        .withColumn("dist",
          when(col("dy") * col("dy") + col("dx") * col("dx") === 2,
            math.sqrt(2.0)).otherwise(lit(1.0)))
        .withColumn("slope", (col("cz") - col("nv")) / col("dist"))
        .transform(Checkpoint(_))
      val st1 = con.groupBy("r", "c").agg(max("slope").as("mxs"),
        min(when(col("slope") >= 0, col("slope"))).as("mns"),
        sum(when(col("slope") >= 0, 1L).otherwise(0L)).as("nn"))
      con.join(st1, Seq("r", "c"))
        .groupBy(col("r"), col("c"))
        .agg(max("mxs").as("mxs"), max("nn").as("nn"),
          max(when(col("slope") === col("mxs"), col("cz") - col("nv")))
            .as("dzx"),
          max(when(col("slope") === col("mns"), col("cz") - col("nv")))
            .as("dzn"))
        .select(col("r"), col("c"),
          round(when(col("mxs") > 0, col("dzx")).otherwise(lit(0.0)), 6)
            .as("max_dz"),
          round(when(col("nn") > 0, col("dzn")).otherwise(lit(0.0)), 6)
            .as("min_dz"))
    }),

    // ElevRelativeToMinMax (ElevRelativeToMinMax.java:241):
    // (z - min) / range * 100 against the DEM's own extremes.
    "geo_elev_rel_minmax" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val st = g.agg(min("v").as("mn"), max("v").as("mx"))
      g.crossJoin(broadcast(st)).select(col("r"), col("c"),
        round((col("v") - col("mn")) / (col("mx") - col("mn")) * 100, 6)
          .as("rel_elev"))
    }),

    // ElevRelativeToWatershedMinMax (sibling of the above, grouped by
    // the D8 watershed label): single-cell/flat watersheds emit 0
    // (guarding the reference's 0/0 NaN there — sole deviation).
    "geo_elev_rel_watershed" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Derived.partGrid(s, dir)
      val ws = operators.Terrain.watershed(g, width = 50)
      val w = Window.partitionBy("sink_id")
      ws.join(g, Seq("r", "c"))
        .withColumn("mn", min("v").over(w))
        .withColumn("mx", max("v").over(w))
        .select(col("r"), col("c"),
          round(when(col("mx") > col("mn"),
            (col("v") - col("mn")) / (col("mx") - col("mn")) * 100)
            .otherwise(lit(0.0)), 6).as("rel_elev"))
    }),

    // ExtractValleys, all three arms, no-line-thinning configuration:
    // Johnston & Rosenfeld lower-than-vertical-or-horizontal pair
    // (ExtractValleysJohnstonAndRosenfeld.java:196-213), Peucker &
    // Douglas 2x2 first-max demotion (ExtractValleysPeuckerAndDouglas
    // .java:198-211), and lower-quartile within a 5x5 window
    // (ExtractValleysLowerQuartile.java:239-262).
    "geo_extract_valleys" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val con1 = operators.Focal.contributions(g, 1, reflect = false,
        GridRows, GridCols).transform(Checkpoint(_))
      def pick(dy: Int, dx: Int, nm: String) =
        max(when(col("dy") === dy && col("dx") === dx, col("nv"))).as(nm)
      val nb = con1.groupBy("r", "c").agg(
        max(when(col("dy") === 0 && col("dx") === 0, col("nv"))).as("z"),
        pick(-1, 0, "zn"), pick(1, 0, "zs"), pick(0, -1, "zw"),
        pick(0, 1, "ze"), pick(-1, -1, "znw"))
      val jr = nb.select(col("r"), col("c"),
        when(col("zn").isNotNull && col("zs").isNotNull &&
            col("zn") > col("z") && col("zs") > col("z"), 1L)
          .when(col("zw").isNotNull && col("ze").isNotNull &&
            col("zw") > col("z") && col("ze") > col("z"), 1L)
          .otherwise(0L).as("v_jr"))
      // Peucker & Douglas: per 2x2 block anchored at each cell, demote
      // the first-maximum of [centre, NW, N, W] in scan order.
      val m2 = when(col("znw").isNotNull && col("znw") > col("z"),
        col("znw")).otherwise(col("z"))
      val w2 = when(col("znw").isNotNull && col("znw") > col("z"), 1)
        .otherwise(0)
      val anch = nb.select(col("r"), col("c"), col("z"), col("zn"),
          col("zw"), col("znw"), m2.as("m2"), w2.as("w2"))
        .withColumn("m3", when(col("zn").isNotNull && col("zn") > col("m2"),
          col("zn")).otherwise(col("m2")))
        .withColumn("w3", when(col("zn").isNotNull && col("zn") > col("m2"),
          2).otherwise(col("w2")))
        .withColumn("w4", when(col("zw").isNotNull && col("zw") > col("m3"),
          3).otherwise(col("w3")))
        .select(
          (col("r") + when(col("w4") === 1 || col("w4") === 2, -1)
            .otherwise(0)).as("zr"),
          (col("c") + when(col("w4") === 1 || col("w4") === 3, -1)
            .otherwise(0)).as("zc"))
        .distinct()
      val pd = g.join(anch,
          g("r") === anch("zr") && g("c") === anch("zc"), "left_anti")
        .select(col("r"), col("c"), lit(1L).as("v_pd"))
      val pdAll = g.select(col("r"), col("c"))
        .join(pd, Seq("r", "c"), "left")
        .select(col("r"), col("c"), coalesce(col("v_pd"), lit(0L))
          .as("v_pd"))
      // Lower quartile within the 5x5 square window (centre included):
      // valley when z <= the (n/4 + 1)-th smallest present value.
      val lq = operators.Focal.contributions(g, 2, reflect = false,
          GridRows, GridCols)
        .groupBy("r", "c")
        .agg(max(when(col("dy") === 0 && col("dx") === 0, col("nv")))
            .as("z"),
          sort_array(collect_list(col("nv"))).as("arr"),
          count(lit(1)).as("n"))
        .select(col("r"), col("c"),
          when(col("z") <=
            expr("element_at(arr, CAST(n DIV 4 + 1 AS INT))"), 1L)
            .otherwise(0L).as("v_lq"))
      jr.join(pdAll, Seq("r", "c")).join(lq, Seq("r", "c"))
        .select(col("r"), col("c"), col("v_jr"), col("v_pd"), col("v_lq"))
    }),

    // RadiationOnSlope (Scripts/RadiationOnSlope.groovy:160-217)
    "geo_radiation" -> ((s, dir) =>
      operators.Terrain.radiationOnSlope(Derived.partGrid(s, dir),
        GridRows, GridCols)),

    // ---- vector shape tools (VectorTools) ----

    // MinimumBoundingBox + LongAxis + ShortAxis (MinimumBounding
    // Rectangle.java:156-215, AREA criterion; LongAxis.groovy /
    // MinimumBoundingBox.java consume these fields): per feature,
    // rotate the vertices to each hull-edge orientation, keep the
    // minimum-area axis-aligned box. Input = per-supplier triangles
    // (their own convex hull), varied per feature. Ties between
    // equal-area orientations break by (area, xaxis, yaxis, psi)
    // lexicographic — deterministic on both engines, where the
    // reference depends on JTS hull scan order.
    "geo_min_bounding_box" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tri = Derived.supplierPoints(s, dir)
        .select(col("s_id").as("fid"), (col("sx") / 2).as("x0"),
          (col("sy") / 2).as("y0"))
        .select(col("fid"), col("x0"), col("y0"),
          (col("x0") + (lit(5) + col("fid") % 7)).as("bx"),
          (col("y0") + 2).as("by"),
          (col("x0") + 3).as("cx"),
          (col("y0") + (lit(8) + col("fid") % 5)).as("cy"))
      val verts = tri.select(col("fid"), explode(array(
        struct(col("x0").as("vx"), col("y0").as("vy")),
        struct(col("bx").as("vx"), col("by").as("vy")),
        struct(col("cx").as("vx"), col("cy").as("vy")))).as("v"))
        .select(col("fid"), col("v.vx").as("vx"), col("v.vy").as("vy"))
      val mid = verts.groupBy("fid").agg(
        (min("vx") + (max("vx") - min("vx")) / 2.0).as("midx"),
        (min("vy") + (max("vy") - min("vy")) / 2.0).as("midy"))
      // Edge orientations as raw (dx, dy): the ROTATED extents are
      // computed as dot-product projections / |edge| — polynomial ops
      // + IEEE sqrt only, so the pick ordering is bit-identical across
      // engines (sin/cos/atan2 ULPs would flip the near-tied areas the
      // symmetric triangles produce); psi is kept for the rounded
      // orientation/centre outputs only.
      val edges = tri.select(col("fid"), explode(array(
        struct(lit(0).as("eidx"), (col("bx") - col("x0")).as("edx"),
          (col("by") - col("y0")).as("edy")),
        struct(lit(1).as("eidx"), (col("cx") - col("bx")).as("edx"),
          (col("cy") - col("by")).as("edy")),
        struct(lit(2).as("eidx"), (col("x0") - col("cx")).as("edx"),
          (col("y0") - col("cy")).as("edy")))).as("e"))
        .select(col("fid"), col("e.eidx").as("eidx"),
          col("e.edx").as("edx"), col("e.edy").as("edy"))
        .withColumn("elen", sqrt(col("edx") * col("edx") +
          col("edy") * col("edy")))
        .withColumn("psi", lit(-1.0) * atan2(col("edy"), col("edx")))
      val rot = edges.join(verts, Seq("fid")).join(mid, Seq("fid"))
        .select(col("fid"), col("eidx"), col("psi"),
          (((col("vx") - col("midx")) * col("edx") +
            (col("vy") - col("midy")) * col("edy")) / col("elen")).as("xr"),
          (((col("vx") - col("midx")) * (lit(0.0) - col("edy")) +
            (col("vy") - col("midy")) * col("edx")) / col("elen")).as("yr"))
      val ext = rot.groupBy("fid", "eidx")
        .agg(max("psi").as("psi"), min("xr").as("w"), max("xr").as("e"),
          min("yr").as("n"), max("yr").as("sx"))
        .select(col("fid"), col("eidx"), col("psi"), col("w"), col("n"),
          abs(col("e") - col("w")).as("xaxis"),
          abs(col("sx") - col("n")).as("yaxis"))
        .withColumn("value", col("xaxis") * col("yaxis"))
      val w = Window.partitionBy("fid")
        .orderBy("value", "xaxis", "yaxis", "eidx")
      val best = ext.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
      val slope = when(col("xaxis") > col("yaxis"), lit(-1.0) * col("psi"))
        .otherwise(lit(-1.0) * (lit(math.Pi / 2) + col("psi")))
      val bx0 = col("w") + col("xaxis") / 2
      val by0 = col("n") + col("yaxis") / 2
      best.join(mid, Seq("fid"))
        .select(col("fid"),
          round(greatest(col("xaxis"), col("yaxis")), 6).as("long_axis"),
          round(least(col("xaxis"), col("yaxis")), 6).as("short_axis"),
          round(lit(1) - least(col("xaxis"), col("yaxis")) /
            greatest(col("xaxis"), col("yaxis")), 6).as("elongation"),
          round(lit(90) + atan(tan(lit(-1.0) * slope)) *
            (180.0 / math.Pi), 6).as("orient"),
          round(col("value"), 6).as("mbb_area"),
          round(col("midx") + (bx0 * cos(lit(-1.0) * col("psi")) -
            by0 * sin(lit(-1.0) * col("psi"))), 6).as("centre_x"),
          round(col("midy") + (bx0 * sin(lit(-1.0) * col("psi")) +
            by0 * cos(lit(-1.0) * col("psi"))), 6).as("centre_y"))
    }),

    // LayerFootprint (VectorTools/LayerFootprint.java): the bounding
    // rectangle of the whole layer (supplier squares here).
    "geo_layer_footprint" -> ((s, dir) => {
      val sq = Derived.supplierSquares(s, dir)
      sq.agg(min("min_x").as("fx0"), min("min_y").as("fy0"),
          max("max_x").as("fx1"), max("max_y").as("fy1"))
        .select(col("fx0"), col("fy0"), col("fx1"), col("fy1"),
          round((col("fx1") - col("fx0")) * (col("fy1") - col("fy0")), 6)
            .as("area"))
    }),

    // ExtendVectorLines (Scripts/ExtendVectorLines.groovy:148-180):
    // push each polyline end outward by d along its end-segment
    // bearing (atan2 form), d = 2.
    "geo_extend_lines" -> ((s, dir) => {
      val ln = Derived.supplierLines(s, dir)
        .select(col("line_id"),
          element_at(col("xs"), 1).as("x1"),
          element_at(col("ys"), 1).as("y1"),
          element_at(col("xs"), 2).as("x2"),
          element_at(col("ys"), 2).as("y2"),
          element_at(col("xs"), 3).as("x3"),
          element_at(col("ys"), 3).as("y3"))
      val sSlope = atan2(col("y1") - col("y2"), col("x1") - col("x2"))
      val eSlope = atan2(col("y3") - col("y2"), col("x3") - col("x2"))
      ln.select(col("line_id"),
        round(col("x1") + lit(2.0) * cos(sSlope), 6).as("xst"),
        round(col("y1") + lit(2.0) * sin(sSlope), 6).as("yst"),
        round(col("x3") + lit(2.0) * cos(eSlope), 6).as("xend"),
        round(col("y3") + lit(2.0) * sin(eSlope), 6).as("yend"))
    }),

    // SimplifyLineOrPolygon (VectorTools/SimplifyLineOrPolygon.java,
    // Douglas-Peucker): for the 3-vertex polylines the DP rule is
    // exactly "keep the middle vertex iff its perpendicular distance
    // from the end chord exceeds the tolerance" (6.0 here; the varied
    // triangle vertices make both outcomes occur).
    // FindPolygonChains (VectorTools/FindPolygonChains.java):
    // elongated-polygon long-axis endpoints linked within a radius,
    // groups of >= 3 are chains
    "geo_polygon_chains" -> ((s, dir) => {
      val tri = Derived.supplierPoints(s, dir)
        .select(col("s_id").as("fid"), (col("sx") / 2).as("x0"),
          (col("sy") / 2).as("y0"))
        .select(col("fid"), col("x0"), col("y0"),
          (col("x0") + (lit(5) + col("fid") % 7)).as("bx"),
          (col("y0") + 2).as("by"),
          (col("x0") + 3).as("cx"),
          (col("y0") + (lit(8) + col("fid") % 5)).as("cy"))
      operators.VectorReshape.findPolygonChains(tri, radius = 8.0,
        minChain = 3)
    }),

    // Smooth (VectorTools/Smooth.java): per-vertex moving average
    // along each closed zone ring (window 3)
    "geo_smooth_vector" -> ((s, dir) => {
      val z = Derived.zones(s).where(size(col("parts")) === 1)
      val v = z.select(col("zone_id").as("gid"),
          posexplode(arrays_zip(col("xs"), col("ys"))))
        .select(col("gid"), col("pos").as("i"),
          col("col.xs").as("vx"), col("col.ys").as("vy"))
      operators.VectorReshape.smoothVertices(v, halfFilter = 1,
        closed = true)
    }),

    // VectorCleaning (VectorTools/VectorCleaning.java): snap each
    // vertex to the nearest other-feature vertex within tolerance
    "geo_vector_clean" -> ((s, dir) => {
      val p = Derived.supplierPoints(s, dir).where(col("s_id") <= 40)
      val a = p.select(lit(1).as("gid"), col("s_id").as("i"),
        col("sx").as("vx"), col("sy").as("vy"))
      val b = p.select(lit(2).as("gid"), col("s_id").as("i"),
        (col("sx") + lit(0.003) + (col("s_id") % 3) * lit(0.004))
          .as("vx"),
        (col("sy") - lit(0.002)).as("vy"))
      operators.VectorReshape.vectorClean(a.unionByName(b),
        tolerance = 0.01)
    }),

    "geo_simplify" -> ((s, dir) => {
      val tri = Derived.supplierPoints(s, dir)
        .select(col("s_id").as("line_id"), (col("sx") / 2).as("ax"),
          (col("sy") / 2).as("ay"))
        .select(col("line_id"), col("ax"), col("ay"),
          (col("ax") + (lit(5) + col("line_id") % 7)).as("bx"),
          (col("ay") + 2).as("by"),
          (col("ax") + 3).as("cx"),
          (col("ay") + (lit(8) + col("line_id") % 5)).as("cy"))
      val cross = (col("cx") - col("ax")) * (col("by") - col("ay")) -
        (col("bx") - col("ax")) * (col("cy") - col("ay"))
      val dist = abs(cross) / sqrt(
        (col("cx") - col("ax")) * (col("cx") - col("ax")) +
          (col("cy") - col("ay")) * (col("cy") - col("ay")))
      tri.select(col("line_id"),
        when(dist > 6.0, 3L).otherwise(2L).as("n_points"),
        round(dist, 6).as("offset_dist"))
    }),

    // RemovePolygonHoles (VectorTools/RemovePolygonHoles.java): keep
    // only part 0 (the shell) of each polygon; output the shell
    // vertex count and shoelace area.
    "geo_remove_holes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val z = Derived.zones(s)
      val shellEnd = when(size(col("parts")) > 1,
        element_at(col("parts"), 2)).otherwise(size(col("xs")))
      val v = z.select(col("zone_id"), shellEnd.as("ne"),
          posexplode(col("xs")).as(Seq("i", "vx")), col("ys"))
        .where(col("i") < col("ne"))
        .select(col("zone_id"), col("ne"), col("i"), col("vx"),
          element_at(col("ys"), (col("i") + 1).cast("int")).as("vy"))
      val w = Window.partitionBy("zone_id").orderBy("i")
      val vv = v
        .withColumn("nx", coalesce(lead("vx", 1).over(w),
          first("vx").over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))))
        .withColumn("ny", coalesce(lead("vy", 1).over(w),
          first("vy").over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing))))
      vv.groupBy("zone_id")
        .agg(max(col("ne")).cast("long").as("n_shell_vertices"),
          round(abs(sum(col("vx") * col("ny") - col("nx") * col("vy")))
            / 2, 6).as("shell_area"))
    }),

    // ---- upstream channel metrics (§2.10 tail) ----

    // TotalLengthOfUpstreamChannels + FurtherestUpstreamChannelHead
    // Distance (Scripts/*.groovy): exact nano-int lengths over the
    // stream-to-stream D8 edges.
    "geo_upstream_channels" -> ((s, dir) =>
      operators.Terrain.upstreamChannelStats(Derived.partGrid(s, dir),
        5L)),

    // PanSharpening, Brovey arm, co-registered lattice
    // (PanSharpening.java:313-340): adj = (r+g+b)/3, channel_out =
    // clip(trunc(ch * p / adj * 255)) with p the min-max-normalised
    // pan band; packed like the reference's composite.
    "geo_pan_sharpen" -> ((s, dir) => {
      val rgb = Derived.rgbChannels(s, dir)
      val g = Derived.partGrid(s, dir)
      val st = g.agg(min("v").as("pmn"), max("v").as("pmx"))
      val j = rgb.join(g, Seq("r", "c")).crossJoin(broadcast(st))
        .withColumn("p", (col("v") - col("pmn")) / (col("pmx") - col("pmn")))
        .withColumn("adj", (col("rch") + col("gch") + col("bch")) / 3)
      def ch(v: String, out: String) = least(greatest(
        (col(v) * col("p") / col("adj") * 255).cast("long"), lit(0L)),
        lit(255L)).as(out)
      j.select(col("r"), col("c"), ch("rch", "ps_r"), ch("gch", "ps_g"),
          ch("bch", "ps_b"))
        .withColumn("rgb", lit(4278190080L) + col("ps_b") * 65536 +
          col("ps_g") * 256 + col("ps_r"))
    }),

    // DirectDecorrelationStretch (DirectDecorrelationStretch.java:
    // 240-330, k = 0.5): subtract k*min3 per channel, clip, then
    // rescale each channel by its own post-stretch maximum.
    "geo_dds" -> ((s, dir) => {
      val rgb = Derived.rgbChannels(s, dir)
      val m = least(col("rch"), col("gch"), col("bch"))
      def p1(v: String, out: String) = least(greatest(
        (col(v) - lit(0.5) * m).cast("long"), lit(0L)), lit(255L)).as(out)
      val s1 = rgb.select(col("r"), col("c"), p1("rch", "r1"),
        p1("gch", "g1"), p1("bch", "b1"))
      val mx = s1.agg(max("r1").as("rmx"), max("g1").as("gmx"),
        max("b1").as("bmx"))
      def p2(v: String, mxc: String, out: String) = least(greatest(
        (col(v) / col(mxc).cast("double") * 255).cast("long"), lit(0L)),
        lit(255L)).as(out)
      s1.crossJoin(broadcast(mx)).select(col("r"), col("c"),
        p2("r1", "rmx", "dds_r"), p2("g1", "gmx", "dds_g"),
        p2("b1", "bmx", "dds_b"))
    }),

    // FilterLocalContrastEnhancement (FilterLocalContrastEnhancement
    // .java:300-330): radius-2 circular window; yij = alpha*globalMean
    // + (1-alpha)*localMean + (z-localMean)*(targetSd/(localSd+1)),
    // alpha = 0.5, targetSd = 20; windows with sd = 0 emit NoData
    // (absent rows).
    "geo_local_contrast" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val gm = g.agg((sum("v") / count(lit(1)).cast("double")).as("gm"))
      val con = operators.Focal.contributions(g, 2, reflect = false,
          GridRows, GridCols)
        .where(col("dy") * col("dy") + col("dx") * col("dx") <= 4)
      val stats = con.groupBy("r", "c").agg(
        max(when(col("dy") === 0 && col("dx") === 0, col("nv"))).as("z"),
        count(lit(1)).cast("double").as("n"),
        sum("nv").as("sm"), sum(col("nv") * col("nv")).as("sq"))
      stats.crossJoin(broadcast(gm))
        .withColumn("avg", col("sm") / col("n"))
        .withColumn("vr", col("sq") / col("n") - col("avg") * col("avg"))
        .where(col("n") > 2 && col("vr") > 0)
        .select(col("r"), col("c"),
          round((lit(0.5) * col("gm")) + (lit(0.5) * col("avg")) +
            (col("z") - col("avg")) * (lit(20.0) / (sqrt(col("vr")) + 1)),
            6).as("enhanced"))
    }),

    // IHStoRGB (IHStoRGB.java:264-282) chained after the RGBtoIHS
    // forward pass: reconstruct the normalised channels from (i, h, s)
    // and emit * 255, the round trip the reference tool pair performs.
    "geo_ihs_rgb" -> ((s, dir) => {
      val g = Derived.rgbChannels(s, dir)
      val st = g.agg(least(min("rch"), min("gch"), min("bch")).as("mnall"),
        greatest(max("rch"), max("gch"), max("bch")).as("mxall"))
      def norm(chn: String) = least(greatest(
        (col(chn) - col("mnall")) / (col("mxall") - col("mnall")),
        lit(0.0)), lit(1.0))
      val base = g.crossJoin(broadcast(st)).select(col("r"), col("c"),
        norm("rch").as("rn"), norm("gch").as("gn"), norm("bch").as("bn"))
      val iSum = col("rn") + col("gn") + col("bn")
      val m = least(col("rn"), col("gn"), col("bn"))
      val hC = when(iSum === 3.0, lit(0.0))
        .when(m === col("bn"),
          (col("gn") - col("bn")) / (iSum - lit(3) * col("bn")))
        .when(m === col("rn"),
          (col("bn") - col("rn")) / (iSum - lit(3) * col("rn")) + 1)
        .otherwise((col("rn") - col("gn")) / (iSum - lit(3) * col("gn")) + 2)
      val wh = base.select(col("r"), col("c"), col("rn"), col("gn"),
        col("bn"), iSum.as("ih"), hC.as("hh"))
      val sC = when(col("hh") <= 1.0,
          (col("ih") - lit(3) * col("bn")) / col("ih"))
        .when(col("hh") <= 2.0,
          (col("ih") - lit(3) * col("rn")) / col("ih"))
        .otherwise((col("ih") - lit(3) * col("gn")) / col("ih"))
      val ihs = wh.select(col("r"), col("c"), col("ih"), col("hh"),
        sC.as("ss"))
      val i0 = col("ih"); val h0 = col("hh"); val s0 = col("ss")
      val rInv = when(h0 <= 1.0,
          i0 * (lit(1) + lit(2) * s0 - lit(3) * s0 * h0) / 3)
        .when(h0 <= 2.0, i0 * (lit(1) - s0) / 3)
        .otherwise(i0 * (lit(1) - s0 + lit(3) * s0 * (h0 - 2)) / 3)
      val gInv = when(h0 <= 1.0, i0 * (lit(1) - s0 + lit(3) * s0 * h0) / 3)
        .when(h0 <= 2.0,
          i0 * (lit(1) + lit(2) * s0 - lit(3) * s0 * (h0 - 1)) / 3)
        .otherwise(i0 * (lit(1) - s0) / 3)
      val bInv = when(h0 <= 1.0, i0 * (lit(1) - s0) / 3)
        .when(h0 <= 2.0,
          i0 * (lit(1) - s0 + lit(3) * s0 * (h0 - 1)) / 3)
        .otherwise(i0 * (lit(1) + lit(2) * s0 - lit(3) * s0 * (h0 - 2)) / 3)
      ihs.select(col("r"), col("c"),
        round(rInv * 255, 6).as("rrec"),
        round(gInv * 255, 6).as("grec"),
        round(bInv * 255, 6).as("brec"))
    }),

    // FillMissingDataHoles (FillMissingDataHoles.java:320-375):
    // NoData holes filled by inverse-squared-distance weighting of the
    // hole-edge cells. Holes are planted deterministically off the
    // border, isolated, so the reference's 6-nearest kd-tree set is
    // replaced by the hole's full 8-neighbour edge ring (tie-free).
    "geo_fill_holes" -> ((s, dir) => {
      val hole = (col("r") * 50 + col("c")) % 83 === 17 &&
        col("r") >= 1 && col("r") <= 38 && col("c") >= 1 && col("c") <= 48
      val g0 = Derived.partGrid(s, dir).withColumn("is_hole", hole)
      val present = g0.where(!col("is_hole"))
      val holes = g0.where(col("is_hole")).select(col("r"), col("c"))
      val con = operators.Focal.contributions(
          present.select(col("r"), col("c"), col("v")), 1,
          reflect = false, GridRows, GridCols)
        .where(!(col("dy") === 0 && col("dx") === 0))
      val fill = holes.join(con, Seq("r", "c"))
        .withColumn("d2", (col("dy") * col("dy") + col("dx") * col("dx"))
          .cast("double"))
        .groupBy("r", "c")
        .agg(sum(lit(1.0) / col("d2")).as("sw"),
          sum((lit(1.0) / col("d2")) * col("nv")).as("wv"))
        .select(col("r"), col("c"), (col("wv") / col("sw")).as("filled"))
      present.select(col("r"), col("c"), col("v").as("filled"))
        .unionByName(fill)
        .select(col("r"), col("c"), round(col("filled"), 6).as("filled"))
    }),

    // MinimumConvexHull (VectorTools/MinimumConvexHull.java): hull of
    // six derived points per feature (one always interior) via the
    // all-points-left-of-edge test — integer-difference cross products
    // so hull membership is exact; area by shoelace over the CCW hull
    // edges, perimeter by edge-length sum.
    "geo_convex_hull" -> ((s, dir) => {
      val base = Derived.supplierPoints(s, dir)
        .select(col("s_id").as("fid"), (col("sx") / 2).as("x0"),
          (col("sy") / 2).as("y0"))
      val pts = base.select(col("fid"), explode(array(
        struct(lit(0).as("i"), col("x0").as("px"), col("y0").as("py")),
        struct(lit(1).as("i"),
          (col("x0") + (lit(17) + col("fid") % 3)).as("px"),
          (col("y0") + (lit(3) + col("fid") % 3)).as("py")),
        struct(lit(2).as("i"), (col("x0") + 23).as("px"),
          (col("y0") + (lit(11) + lit(2) * (col("fid") % 2))).as("py")),
        struct(lit(3).as("i"),
          (col("x0") + (lit(9) + col("fid") % 3)).as("px"),
          (col("y0") + 27).as("py")),
        struct(lit(4).as("i"), (col("x0") + 2).as("px"),
          (col("y0") + (lit(17) + col("fid") % 3)).as("py")),
        struct(lit(5).as("i"), (col("x0") + 11).as("px"),
          (col("y0") + (lit(9) + col("fid") % 2)).as("py")))).as("p"))
        .select(col("fid"), col("p.i").as("i"), col("p.px").as("px"),
          col("p.py").as("py"))
        .transform(Checkpoint(_))
      val pi = pts.select(col("fid"), col("i").as("ia"),
        col("px").as("ax"), col("py").as("ay"))
      val pj = pts.select(col("fid"), col("i").as("ib"),
        col("px").as("bx"), col("py").as("by"))
      val pk = pts.select(col("fid"), col("i").as("ik"),
        col("px").as("kx"), col("py").as("ky"))
      val edges = pi.join(pj, Seq("fid")).where(col("ia") =!= col("ib"))
      val tested = edges.join(pk, Seq("fid"))
        .where(col("ik") =!= col("ia") && col("ik") =!= col("ib"))
        .withColumn("cr",
          (col("bx") - col("ax")) * (col("ky") - col("ay")) -
            (col("by") - col("ay")) * (col("kx") - col("ax")))
        .groupBy(col("fid"), col("ia"), col("ib"), col("ax"), col("ay"),
          col("bx"), col("by"))
        .agg(min(when(col("cr") >= 0, 1).otherwise(0)).as("allleft"))
        .where(col("allleft") === 1)
      tested.groupBy("fid")
        .agg(count(lit(1)).as("n_hull"),
          round(sum(col("ax") * col("by") - col("bx") * col("ay")) / 2, 6)
            .as("hull_area"),
          round(sum(sqrt(
            (col("bx") - col("ax")) * (col("bx") - col("ax")) +
              (col("by") - col("ay")) * (col("by") - col("ay")))), 6)
            .as("hull_perim"))
    }),

    // MultiscaleElevationResidualIndex (MultiscaleElevationResidual
    // Index.groovy:125-210, base 1.8): share of scales at which the
    // cell sits above its windowed mean. The window means come from a
    // 2-D integer prefix sum (the reference's integral image) over
    // scaled-int elevations, so the above-mean test is the exact
    // z*numCells > windowSum integer comparison on both engines (the
    // reference's float compare in exact arithmetic). Radii = the
    // reference's distinct floor(1.8^i) ladder for this grid:
    // 1, 3, 5, 10, 18.
    "geo_meri" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val radii = Seq(1, 3, 5, 10, 18)
      val g = Derived.partGrid(s, dir)
        .withColumn("zi", round(col("v") * 10).cast("long"))
      val wRow = Window.partitionBy("r").orderBy("c")
      val wCol = Window.partitionBy("c").orderBy("r")
      val ii = g.withColumn("sic", sum("zi").over(wRow))
        .withColumn("ii", sum("sic").over(wCol))
        .select(col("r").as("ir"), col("c").as("ic"), col("ii"))
      val tgt = g.select(col("r"), col("c"), col("zi"),
          explode(lit(radii.toArray)).as("rad"))
        .withColumn("y1", least(greatest(col("r") - col("rad"), lit(0L)),
          lit(GridRows - 1)))
        .withColumn("y2", least(greatest(col("r") + col("rad"), lit(0L)),
          lit(GridRows - 1)))
        .withColumn("x1", least(greatest(col("c") - col("rad"), lit(0L)),
          lit(GridCols - 1)))
        .withColumn("x2", least(greatest(col("c") + col("rad"), lit(0L)),
          lit(GridCols - 1)))
      def corner(yc: String, xc: String, out: String)(df: DataFrame) =
        df.join(ii, col(yc) === col("ir") && col(xc) === col("ic"))
          .drop("ir", "ic").withColumnRenamed("ii", out)
      val withC = corner("y2", "x2", "icc")(
        corner("y1", "x1", "iaa")(
          corner("y1", "x2", "ibb")(
            corner("y2", "x1", "idd")(tgt))))
      val sumW = col("icc") + col("iaa") - col("ibb") - col("idd")
      val nCells = (col("y2") - col("y1")) * (col("x2") - col("x1"))
      withC
        .withColumn("above",
          when(col("zi") * nCells > sumW, 1L).otherwise(0L))
        .groupBy("r", "c")
        .agg(round(sum("above") / lit(radii.size.toDouble), 4).as("meri"))
    }),

    // WriteFunctionMemoryInsertion (WriteFunctionMemoryInsertion.java:
    // 230-257): date-1 band into red, date-2 band into green AND blue,
    // each min-max scaled to [0,255]; packed composite.
    "geo_wfmi" -> ((s, dir) => {
      val g = Derived.rgbChannels(s, dir)
      val st = g.agg(min("rch").as("rmn"), max("rch").as("rmx"),
        min("gch").as("gmn"), max("gch").as("gmx"))
      def chan(v: String, mn: String, mx: String, out: String) =
        least(greatest(((col(v) - col(mn)) /
          (col(mx) - col(mn)).cast("double") * 255).cast("long"),
          lit(0L)), lit(255L)).as(out)
      g.crossJoin(broadcast(st))
        .select(col("r"), col("c"), chan("rch", "rmn", "rmx", "wr"),
          chan("gch", "gmn", "gmx", "wg"))
        .select(col("r"), col("c"), col("wr"), col("wg"),
          (lit(4278190080L) + col("wg") * 65536 + col("wg") * 256 +
            col("wr")).as("rgb"))
    }),

    // CoordinateSystemTransformation, geographic -> UTM arm
    // (ConversionTools/CoordinateSystemTransformation.java via
    // whitebox/georeference/LL2UTM.java:117-186, WGS 84): per-point
    // zone from longitude, transverse-Mercator series easting/
    // northing, southern rows offset by 10^7.
    // azimuthBetweenPoints.py (Scripts): clockwise angle from north
    // between consecutive supplier points, the script's exact
    // -atan2 + pi/2 (+2pi when negative) form
    "geo_azimuth_points" -> ((s, dir) => {
      val p = Derived.supplierPoints(s, dir)
        .select(col("s_id"), col("sx"), col("sy"))
      val q = p.select((col("s_id") - 1).as("s_id"),
        col("sx").as("tx"), col("sy").as("ty"))
      val theta = -atan2(col("ty") - col("sy"), col("tx") - col("sx")) +
        lit(math.Pi / 2)
      p.join(q, Seq("s_id"))
        .select(col("s_id"),
          round(when(theta < 0, degrees(theta + lit(2 * math.Pi)))
            .otherwise(degrees(theta)), 6).as("azimuth"))
    }),

    "geo_utm_project" -> ((s, dir) => {
      val aAx = 6378137.0; val bAx = 6356752.314
      val e = math.sqrt(1 - (bAx / aAx) * (bAx / aAx))
      val esq = 1 - (bAx / aAx) * (bAx / aAx)
      val e0sq = e * e / (1 - e * e)
      val k0 = 0.9996
      val drad = math.Pi / 180
      val pts = Derived.customerPoints(s, dir)
      val zone = (lit(1) + floor((col("x") + 180) / 6.0)).cast("long")
      val base = pts.select(col("id"), col("x"), col("y"),
          zone.as("zone"))
        .withColumn("zcm", lit(3) + lit(6) * (col("zone") - 1) - 180)
        .withColumn("phi", col("y") * drad)
      val sinPhi = sin(col("phi")); val cosPhi = cos(col("phi"))
      val tanPhi = tan(col("phi"))
      val nBig = lit(aAx) /
        sqrt(lit(1.0) - pow(lit(e) * sinPhi, 2.0))
      val tT = pow(tanPhi, 2.0)
      val cC = lit(e0sq) * pow(cosPhi, 2.0)
      val aA = (col("x") - col("zcm")) * drad * cosPhi
      val m1 = col("phi") * (1 - esq * (1 / 4.0 + esq *
        (3 / 64.0 + 5 * esq / 256.0)))
      val m2 = m1 - sin(lit(2) * col("phi")) * (esq * (3 / 8.0 + esq *
        (3 / 32.0 + 45 * esq / 1024.0)))
      val m3 = m2 + sin(lit(4) * col("phi")) * (esq * esq *
        (15 / 256.0 + esq * 45 / 1024.0))
      val m4 = m3 - sin(lit(6) * col("phi")) * (esq * esq * esq *
        (35 / 3072.0))
      val mArc = m4 * aAx
      val withT = base.select(col("id"), col("x"), col("y"), col("zone"),
        nBig.as("nn"), tT.as("tt"), cC.as("cc"), aA.as("aa"),
        mArc.as("mm"), tanPhi.as("tp"))
      val xE = lit(k0) * col("nn") * col("aa") * (lit(1) +
        col("aa") * col("aa") * ((lit(1) - col("tt") + col("cc")) / 6.0 +
          col("aa") * col("aa") * (lit(5) - lit(18) * col("tt") +
            col("tt") * col("tt") + lit(72) * col("cc") -
            lit(58) * e0sq) / 120.0)) + 500000
      val yN = lit(k0) * (col("mm") + col("nn") * col("tp") *
        (col("aa") * col("aa") * (lit(1) / 2.0 +
          col("aa") * col("aa") * ((lit(5) - col("tt") +
            lit(9) * col("cc") + lit(4) * col("cc") * col("cc")) / 24.0 +
            col("aa") * col("aa") * (lit(61) - lit(58) * col("tt") +
              col("tt") * col("tt") + lit(600) * col("cc") -
              lit(330) * e0sq) / 720.0))))
      withT.select(col("id"), col("zone"),
        when(col("y") < 0, "S").otherwise("N").as("hemi"),
        round(xE, 4).as("easting"),
        round(when(col("y") < 0, lit(10000000) + yN).otherwise(yN), 4)
          .as("northing"))
    }),

    // DownslopeIndex, tangent arm (GeasyTools/DownslopeIndex.java:
    // 245-300, drop threshold 15): d / distance-to-fall-d downslope.
    "geo_downslope_index" -> ((s, dir) =>
      operators.Terrain.downslopeIndex(Derived.partGrid(s, dir), 15.0)),

    // LongProfile (Scripts/LongProfile.groovy, the chart's underlying
    // series): per stream cell, the along-flowpath distance to its
    // outlet and its elevation — the (distance, elevation) long
    // profile of every stream, as a table.
    "geo_long_profile" -> ((s, dir) => {
      val g = Derived.partGrid(s, dir)
      val fp = operators.Terrain.flowpathLength(g)
      val st = operators.Terrain.extractStreams(g, 5L)
        .select(col("r"), col("c"))
      st.join(fp, Seq("r", "c")).join(g, Seq("r", "c"))
        .select(col("r"), col("c"), col("fp_len").as("dist_to_outlet"),
          col("v").as("elev"))
    }),

    // LiDAR_Max_interpolation / LiDAR_Min_interpolation /
    // LiDAR_NN_interpolation (LidarTools): per grid cell the max/min
    // return z, and the z of the nearest point to the cell centre
    // (ties by lowest point id), radius-bounded like lidar_idw.
    "lidar_grid_extremes" -> ((s, dir) => {
      val lc = Derived.lidarCloud(s, dir)
      val cell = lc.select(col("pid"), col("x"), col("y"), col("z"),
        floor(col("y") / 10.0).as("cr"), floor(col("x") / 10.0).as("cc"))
      val mm = cell.groupBy("cr", "cc")
        .agg(round(max("z"), 6).as("z_max"), round(min("z"), 6)
          .as("z_min"))
      val t = cell.select(col("pid"), col("z"), col("cr"), col("cc"),
        ((col("x") - (col("cc") * 10.0 + 5.0)) *
          (col("x") - (col("cc") * 10.0 + 5.0)) +
          (col("y") - (col("cr") * 10.0 + 5.0)) *
            (col("y") - (col("cr") * 10.0 + 5.0))).as("d2"))
      val near = t.groupBy("cr", "cc").agg(min("d2").as("mind2"))
      val nn = t.join(near, Seq("cr", "cc"))
        .where(col("d2") === col("mind2"))
        .groupBy("cr", "cc")
        .agg(round(min_by(col("z"), col("pid")), 6).as("z_nn"))
      mm.join(nn, Seq("cr", "cc"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,

    "q3_join" ->
      """SELECT o.o_orderkey,
        |  CAST(sum(CAST(round(l.l_extendedprice * (CAST(1.0 AS DOUBLE) - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey
        |ORDER BY rev_cents DESC, o.o_orderkey ASC LIMIT 10""".stripMargin,

    "geo_cell_assign" ->
      s"""WITH pts AS ($PTS)
         |SELECT id, $latBin14Sql AS lat_bin, $lonBin14Sql AS lon_bin
         |FROM pts""".stripMargin,

    "geo_tile_histogram" ->
      s"""WITH pts AS ($PTS),
         |bins AS (SELECT $latBin14Sql // 256 AS lat_bin6,
         |  $lonBin14Sql // 256 AS lon_bin6 FROM pts)
         |SELECT lat_bin6, lon_bin6, count(*) AS n
         |FROM bins GROUP BY lat_bin6, lon_bin6""".stripMargin,

    "geo_pip_join" -> {
      val arms = Derived.zonePredicatesSql.map { case (zid, pred) =>
        s"SELECT $zid AS zone_id, id FROM pts WHERE $pred"
      }.mkString("\n", "\nUNION ALL\n", "")
      s"WITH pts AS ($PTS)$arms"
    },

    "geo_knn" ->
      s"""WITH pts AS ($PTS), spts AS ($SPTS),
         |ranked AS (
         |  SELECT s.s_id, p.id AS c_id,
         |    ROW_NUMBER() OVER (PARTITION BY s.s_id
         |      ORDER BY (p.x-s.sx)*(p.x-s.sx)+(p.y-s.sy)*(p.y-s.sy), p.id) AS rnk
         |  FROM spts s CROSS JOIN pts p)
         |SELECT s_id, c_id, rnk FROM ranked WHERE rnk <= 3""".stripMargin,

    "geo_nn_alloc" ->
      s"""WITH pts AS ($PTS), spts AS ($SPTS),
         |ranked AS (
         |  SELECT p.id AS c_id, s.s_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.id
         |      ORDER BY (p.x-s.sx)*(p.x-s.sx)+(p.y-s.sy)*(p.y-s.sy), s.s_id) AS rnk
         |  FROM pts p CROSS JOIN spts s)
         |SELECT c_id, s_id FROM ranked WHERE rnk = 1""".stripMargin,

    "geo_distance_join" ->
      s"""WITH pts AS ($PTS), spts AS ($SPTS)
         |SELECT p.id AS c_id, s.s_id
         |FROM pts p CROSS JOIN spts s
         |WHERE (p.x-s.sx)*(p.x-s.sx)+(p.y-s.sy)*(p.y-s.sy) <= CAST(2.25 AS DOUBLE)""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, ts
        |  FROM events),
        |g AS (SELECT user_id, event_id, us,
        |  us - LAG(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM e),
        |s AS (SELECT user_id, event_id, us,
        |  CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sess AS (SELECT user_id, event_id, us,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS sess
        |  FROM s)
        |SELECT user_id, sess, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM sess GROUP BY 1, 2""".stripMargin,

    // textual mirror of Temporal.asofJoin's union + running-window
    // plan (right rows sort before left rows at an equal timestamp ->
    // inclusive as-of; right-timestamp ties resolve to the greatest
    // purchase_id via the __tie sort key)
    "events_asof" ->
      """WITH l AS (SELECT user_id, epoch_us(ts) AS __ts, 1 AS __side,
        |  CAST(NULL AS BIGINT) AS __tie, event_id,
        |  CAST(NULL AS BIGINT) AS rp, CAST(NULL AS BIGINT) AS rt
        |  FROM events),
        |r AS (SELECT user_id, epoch_us(ts) AS __ts, 0 AS __side,
        |  event_id AS __tie, CAST(NULL AS BIGINT) AS event_id,
        |  event_id AS rp, epoch_us(ts) AS rt
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |c AS (SELECT event_id, user_id, __ts, __side,
        |  last_value(rp IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY __ts, __side, __tie NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS asof_purchase_id,
        |  last_value(rt IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY __ts, __side, __tie NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS asof_pus
        |  FROM u)
        |SELECT event_id, user_id, __ts AS us, asof_purchase_id, asof_pus
        |FROM c WHERE __side = 1""".stripMargin,

    "geo_patch_metrics" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |k AS (SELECT r, c, CAST(floor(v / 25.0) AS BIGINT) AS cls,
         |  r * 50 + c AS id FROM g),
         |e AS (SELECT a.id AS s, b.id AS t FROM k a JOIN k b
         |  ON a.cls = b.cls AND ((abs(a.r - b.r) = 1 AND a.c = b.c)
         |    OR (a.r = b.r AND abs(a.c - b.c) = 1))),
         |reach AS (SELECT id AS s, id AS t FROM k
         |  UNION SELECT rr.s, e.t FROM reach rr JOIN e ON rr.t = e.s),
         |comp AS MATERIALIZED (SELECT s AS id, min(t) AS comp_id FROM reach GROUP BY s),
         |kc AS MATERIALIZED (SELECT k.r, k.c, k.cls, c2.comp_id
         |  FROM k JOIN comp c2 ON c2.id = k.id),
         |ex AS (SELECT a.comp_id,
         |  (CASE WHEN n.comp_id IS NULL OR n.comp_id <> a.comp_id THEN 1 ELSE 0 END)
         |  + (CASE WHEN s2.comp_id IS NULL OR s2.comp_id <> a.comp_id THEN 1 ELSE 0 END)
         |  + (CASE WHEN w.comp_id IS NULL OR w.comp_id <> a.comp_id THEN 1 ELSE 0 END)
         |  + (CASE WHEN e2.comp_id IS NULL OR e2.comp_id <> a.comp_id THEN 1 ELSE 0 END) AS exposed
         |  FROM kc a
         |  LEFT JOIN kc n ON n.r = a.r - 1 AND n.c = a.c
         |  LEFT JOIN kc s2 ON s2.r = a.r + 1 AND s2.c = a.c
         |  LEFT JOIN kc w ON w.r = a.r AND w.c = a.c - 1
         |  LEFT JOIN kc e2 ON e2.r = a.r AND e2.c = a.c + 1)
         |SELECT comp_id, count(*) AS area,
         |  CAST(sum(exposed) AS BIGINT) AS perim,
         |  round(sum(exposed) * sum(exposed) / (4.0 * pi() * count(*)), 6) AS shape_complexity,
         |  round(CAST(sum(exposed) AS DOUBLE) / count(*), 6) AS perim_area_ratio
         |FROM ex GROUP BY comp_id""".stripMargin,

    "geo_hist_match" ->
      s"""WITH st AS (${Derived.partStackSql}),
         |keyed AS (SELECT r * 50 + c AS cid, v1, v2 FROM st),
         |r1 AS (SELECT cid,
         |  ROW_NUMBER() OVER (ORDER BY v1, cid) AS rk FROM keyed),
         |r2 AS (SELECT v2 AS matched,
         |  ROW_NUMBER() OVER (ORDER BY v2, cid) AS rk FROM keyed)
         |SELECT r1.cid // 50 AS r, r1.cid % 50 AS c, r2.matched
         |FROM r1 JOIN r2 ON r2.rk = r1.rk""".stripMargin,

    "events_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "geo_rasterize_points" ->
      s"""WITH pts AS ($PTS)
         |SELECT LEAST(GREATEST(CAST(floor((y + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS r,
         |  ((CAST(floor((x + 180.0) / 360.0 * 128) AS BIGINT) % 128) + 128) % 128 AS c,
         |  count(*) AS n, min(val) AS vmin, max(val) AS vmax,
         |  CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         |  arg_min(val, id) AS vfirst, arg_max(val, id) AS vlast
         |FROM pts GROUP BY 1, 2""".stripMargin,

    "geo_zonal" ->
      s"""WITH pts AS ($PTS)
         |SELECT LEAST(GREATEST(CAST(floor((y + 90.0) / 180.0 * 32) AS BIGINT), 0), 31) * 64
         |  + ((CAST(floor((x + 180.0) / 360.0 * 64) AS BIGINT) % 64) + 64) % 64 AS zone,
         |  count(*) AS n, min(val) AS vmin, max(val) AS vmax,
         |  max(val) - min(val) AS vrange,
         |  CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM pts GROUP BY 1""".stripMargin,

    "geo_focal_mean" ->
      s"""WITH g AS ($GRID)
         |SELECT a.r, a.c, round(sum(b.v) / count(*), 6) AS fm
         |FROM g a JOIN g b
         |  ON b.r BETWEEN a.r - 1 AND a.r + 1
         | AND b.c BETWEEN a.c - 1 AND a.c + 1
         |GROUP BY a.r, a.c""".stripMargin,

    "geo_slope" ->
      s"""WITH g AS ($GRID),
         |$stencilReflectSql
         |SELECT r, c, round(atan(sqrt(($FxSql) * ($FxSql) + ($FySql) * ($FySql))), 6) AS slope_rad
         |FROM nb""".stripMargin,

    "geo_wind_exposure" -> {
      val azPrime = math.toRadians(135.0 - 90)
      s"""WITH g AS ($GRID),
         |$stencilReflectSql,
         |f AS (SELECT r, c,
         |  round(atan(sqrt(($FxSql) * ($FxSql) + ($FySql) * ($FySql))), 6)
         |    AS slope_rad,
         |  $FxSql AS fx, $FySql AS fy FROM nb),
         |a AS (SELECT r, c, slope_rad,
         |  round($AspectSql, 6) AS aspect FROM f),
         |rel AS (SELECT r, c, slope_rad,
         |  CASE WHEN CAST($azPrime AS DOUBLE) - aspect > 180
         |    THEN 360.0 - (CAST($azPrime AS DOUBLE) - aspect)
         |    ELSE CAST($azPrime AS DOUBLE) - aspect END AS ra FROM a)
         |SELECT r, c, round(sin(slope_rad) *
         |  cos(ra * CAST(${math.Pi} AS DOUBLE) / 180.0), 6) AS exposure
         |FROM rel""".stripMargin
    },

    "geo_focal_median" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)},
         |coll AS (SELECT r, c, list_sort(list(nv)) AS arr, count(*) AS n
         |  FROM con GROUP BY r, c)
         |SELECT r, c,
         |  CASE WHEN n % 2 = 1 THEN arr[(n + 1) // 2]
         |       ELSE (arr[n // 2] + arr[n // 2 + 1]) / 2.0 END AS med
         |FROM coll""".stripMargin,

    "geo_focal_stats" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)}
         |SELECT r, c, min(nv) AS vmin, max(nv) AS vmax,
         |  max(nv) - min(nv) AS vrange, round(sum(nv), 6) AS vtotal,
         |  count(*) AS n
         |FROM con GROUP BY r, c""".stripMargin,

    "geo_focal_stddev" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)},
         |agg AS (SELECT r, c, sum(nv) AS s, sum(nv * nv) AS ss,
         |  count(*) AS n FROM con GROUP BY r, c),
         |v0 AS (SELECT r, c, (ss - s * s / n) / n AS var0 FROM agg
         |  WHERE n > 2)
         |SELECT r, c,
         |  round(CASE WHEN var0 > 0 THEN sqrt(var0) ELSE var0 END, 6) AS sd
         |FROM v0""".stripMargin,

    "geo_focal_majority" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)},
         |cnts AS (SELECT r, c, nv, count(*) AS cnt FROM con GROUP BY 1, 2, 3),
         |ranked AS (SELECT r, c, nv,
         |  ROW_NUMBER() OVER (PARTITION BY r, c ORDER BY cnt DESC, nv ASC) AS rn
         |  FROM cnts)
         |SELECT r, c, nv AS mode FROM ranked WHERE rn = 1""".stripMargin,

    "geo_focal_diversity" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)}
         |SELECT r, c, count(DISTINCT nv) AS ndist
         |FROM con GROUP BY r, c""".stripMargin,

    "geo_focal_percentile" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)}
         |SELECT r, c,
         |  round(CAST(COALESCE(sum(CASE WHEN nv < cz THEN 1 END), 0) AS DOUBLE)
         |    / count(*) * 100, 6) AS pctl
         |FROM con GROUP BY r, c""".stripMargin,

    "geo_focal_olympic" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)},
         |agg AS (SELECT r, c, sum(nv) AS s, min(nv) AS mn, max(nv) AS mx,
         |  count(*) AS n FROM con GROUP BY r, c)
         |SELECT r, c, round((s - mn - mx) / (n - 2), 6) AS oly
         |FROM agg WHERE n - 2 > 0""".stripMargin,

    "geo_conv_gaussian" -> {
      val kernel = operators.Focal.gaussianKernel(0.75)
      val radius = kernel.map(k => math.max(math.abs(k._1),
        math.abs(k._2))).max
      val values = kernel.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toString} AS DOUBLE))"
      }.mkString(", ")
      s"""WITH g AS ($GRID),
         |${focalConSql(radius, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, w))
         |SELECT con.r, con.c,
         |  round(sum(k.w * con.nv) / sum(k.w), 6) AS cv
         |FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |GROUP BY con.r, con.c""".stripMargin
    },

    "geo_conv_laplacian" -> {
      val values = operators.Focal.laplacian3x3.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toLong} AS BIGINT))"
      }.mkString(", ")
      val wTot = operators.Focal.laplacian3x3.map(_._3.toLong).sum
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, w)),
         |agg AS (SELECT con.r, con.c,
         |  CAST(sum(k.w * CAST(round(con.nv * 10) AS BIGINT)) AS BIGINT) AS swk,
         |  CAST(sum(k.w) AS BIGINT) AS wp,
         |  CAST(round(first(con.cz) * 10) AS BIGINT) AS zk
         |  FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT r, c, round((swk + zk * ($wTot - wp)) / 10.0, 6) AS cv
         |FROM agg""".stripMargin
    },

    "geo_conv_emboss" -> {
      val values = operators.Focal.embossN3x3.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toLong} AS BIGINT))"
      }.mkString(", ")
      val wTot = operators.Focal.embossN3x3.map(_._3.toLong).sum
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, w)),
         |agg AS (SELECT con.r, con.c,
         |  CAST(sum(k.w * CAST(round(con.nv * 10) AS BIGINT)) AS BIGINT) AS swk,
         |  CAST(sum(k.w) AS BIGINT) AS wp,
         |  CAST(round(first(con.cz) * 10) AS BIGINT) AS zk
         |  FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT r, c, round((swk + zk * ($wTot - wp)) / 10.0, 6) AS cv
         |FROM agg""".stripMargin
    },

    "geo_conv_log" -> {
      val kernel = operators.Focal.logKernel(0.5)
      val radius = kernel.map(k => math.max(math.abs(k._1),
        math.abs(k._2))).max
      val wTot = kernel.map(_._3).sum
      val values = kernel.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toString} AS DOUBLE))"
      }.mkString(", ")
      s"""WITH g AS ($GRID),
         |${focalConSql(radius, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, w)),
         |agg AS (SELECT con.r, con.c, sum(k.w * con.nv) AS sw,
         |  sum(k.w) AS wp, first(con.cz) AS cz
         |  FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT r, c, round(sw + cz * (CAST(${wTot.toString} AS DOUBLE) - wp), 6) AS cv
         |FROM agg""".stripMargin
    },

    "geo_conv_dog" -> {
      def vals(sig: Double) = operators.Focal.gaussianKernel(sig)
        .map { case (dy, dx, w) =>
          s"($dy, $dx, CAST(${w.toString} AS DOUBLE))"
        }.mkString(", ")
      val rad = operators.Focal.gaussianKernel(0.75)
        .map(k => math.max(math.abs(k._1), math.abs(k._2))).max
      s"""WITH g AS ($GRID),
         |${focalConSql(rad, reflect = true)},
         |k1 AS (SELECT * FROM (VALUES ${vals(0.5)}) AS t(dy, dx, w)),
         |k2 AS (SELECT * FROM (VALUES ${vals(0.75)}) AS t(dy, dx, w)),
         |a1 AS (SELECT con.r, con.c,
         |  round(sum(k1.w * con.nv) / sum(k1.w), 6) AS cv1
         |  FROM con JOIN k1 ON k1.dy = con.dy AND k1.dx = con.dx
         |  GROUP BY con.r, con.c),
         |a2 AS (SELECT con.r, con.c,
         |  round(sum(k2.w * con.nv) / sum(k2.w), 6) AS cv2
         |  FROM con JOIN k2 ON k2.dy = con.dy AND k2.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT a1.r, a1.c, round(cv1 - cv2, 6) AS cv
         |FROM a1 JOIN a2 ON a2.r = a1.r AND a2.c = a1.c""".stripMargin
    },

    "geo_conv_sobel" -> {
      val kx = operators.Focal.sobelX3x3
      val ky = operators.Focal.sobelY3x3
      val values = kx.indices.map { i =>
        s"(${kx(i)._1}, ${kx(i)._2}, CAST(${kx(i)._3} AS DOUBLE), CAST(${ky(i)._3} AS DOUBLE))"
      }.mkString(", ")
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, wx, wy)),
         |agg AS (SELECT con.r, con.c, first(con.cz) AS cz,
         |  sum(k.wx * con.nv) AS sx, sum(k.wx) AS wxp,
         |  sum(k.wy * con.nv) AS sy, sum(k.wy) AS wyp
         |  FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT r, c, round(sqrt((sx - cz * wxp) * (sx - cz * wxp)
         |  + (sy - cz * wyp) * (sy - cz * wyp)), 6) AS edge
         |FROM agg""".stripMargin
    },

    "geo_aspect" ->
      s"""WITH g AS ($GRID),
         |$stencilReflectSql,
         |f AS (SELECT r, c, $FxSql AS fx, $FySql AS fy FROM nb)
         |SELECT r, c, round($AspectSql, 6) AS aspect FROM f""".stripMargin,

    "geo_hillshade" -> {
      val azimuth = (315.0 - 90.0) * math.Pi / 180.0
      val sinTheta = math.sin(45.0 * math.Pi / 180.0)
      val cosTheta = math.cos(45.0 * math.Pi / 180.0)
      val degToRad = (math.Pi / 180.0).toString
      s"""WITH g AS ($GRID),
         |$stencilReflectSql,
         |f AS (SELECT r, c, $FxSql AS fx, $FySql AS fy FROM nb),
         |t AS (SELECT r, c, fx, fy,
         |  sqrt(fx * fx + fy * fy) AS tanSlope,
         |  ($AspectSql) * $degToRad AS aspectRad
         |  FROM f)
         |SELECT r, c, round(CASE WHEN fx <> 0 THEN
         |  (tanSlope / sqrt(tanSlope * tanSlope + 1)) *
         |    (${sinTheta.toString} / tanSlope -
         |     ${cosTheta.toString} * sin(${azimuth.toString} - aspectRad))
         |  ELSE 0.5 END, 6) AS shade
         |FROM t""".stripMargin
    },

    "geo_tri" -> {
      val dy = operators.Terrain.dY
      val dx = operators.Terrain.dX
      val joins = (0 until 8).map(i =>
        s"LEFT JOIN g a$i ON a$i.r = g.r + ${dy(i)} AND a$i.c = g.c + ${dx(i)}")
        .mkString("\n")
      val ss = (0 until 8).map(i =>
        s"COALESCE((a$i.v - g.v) * (a$i.v - g.v), 0.0)").mkString(" + ")
      val n = (0 until 8).map(i =>
        s"CASE WHEN a$i.v IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH g AS ($GRID)
         |SELECT g.r, g.c, round(sqrt(($ss) / ($n)), 6) AS tri
         |FROM g
         |$joins""".stripMargin
    },

    "geo_plan_curv" ->
      s"""WITH g AS ($GRID),
         |$surfaceSql
         |SELECT r, c, round((zxx * zy2 - 2 * zxy * zx * zy + zyy * zx2)
         |  / (p * sqrt(p)) * $RadToDegLit * 100, 6) + 0.0 AS plan_curv
         |FROM st2 WHERE p > 0""".stripMargin,

    "geo_prof_curv" ->
      s"""WITH g AS ($GRID),
         |$surfaceSql
         |SELECT r, c, round((zxx * zx2 + 2 * zxy * zx * zy + zyy * zy2)
         |  / (p * ((p + 1) * sqrt(p + 1))) * $RadToDegLit * 100, 6) + 0.0 AS prof_curv
         |FROM st2 WHERE p > 0""".stripMargin,

    "geo_total_curv" ->
      s"""WITH g AS ($GRID),
         |$surfaceSql
         |SELECT r, c, round((zxx * zxx + 2 * zxy * zxy + zyy * zyy)
         |  * $RadToDegLit * 100, 6) AS total_curv
         |FROM st2""".stripMargin,

    "geo_idw" ->
      s"""WITH g AS ($GRID),
         |t AS (SELECT r, c,
         |  CAST(-90.0005 AS DOUBLE) + c * CAST(1.5 AS DOUBLE) AS x,
         |  CAST(-40.0005 AS DOUBLE) + r * CAST(1.5 AS DOUBLE) AS y FROM g),
         |s AS ($SPTS),
         |j AS (SELECT t.r, t.c, s.sval,
         |  (t.x - s.sx) * (t.x - s.sx) + (t.y - s.sy) * (t.y - s.sy) AS d2
         |  FROM t CROSS JOIN s
         |  WHERE (t.x - s.sx) * (t.x - s.sx) + (t.y - s.sy) * (t.y - s.sy) <= CAST(64.0 AS DOUBLE))
         |SELECT r, c, round(sum(sval / d2) / sum(1.0 / d2), 6) AS idw
         |FROM j GROUP BY r, c""".stripMargin,

    "geo_reclass" ->
      s"""WITH pts AS ($PTS)
         |SELECT CASE
         |  WHEN val >= -10000.0 AND val < 0.0 THEN CAST(1.0 AS DOUBLE)
         |  WHEN val >= 0.0 AND val < 3000.0 THEN CAST(2.0 AS DOUBLE)
         |  WHEN val >= 3000.0 AND val < 7000.0 THEN CAST(3.0 AS DOUBLE)
         |  WHEN val >= 7000.0 AND val < 100000.0 THEN CAST(4.0 AS DOUBLE)
         |  END AS cls, count(*) AS n
         |FROM pts GROUP BY 1""".stripMargin,

    "geo_block_aggregate" ->
      s"""WITH g AS ($GRID)
         |SELECT r // 4 AS br, c // 5 AS bc, count(*) AS n,
         |  min(v) AS vmin, max(v) AS vmax, round(avg(v), 6) AS vavg
         |FROM g GROUP BY 1, 2""".stripMargin,

    "geo_area_perimeter" ->
      s"""WITH s AS ($SPTS),
         |p AS (SELECT s_id, sx AS x0, sy - rr AS y0, sx + rr AS x1, sy AS y1,
         |  sx AS x2, sy + rr AS y2, sx - rr AS x3, sy AS y3
         |  FROM (SELECT s_id, sx, sy, CAST(1.0 AS DOUBLE) + s_id % 3 AS rr FROM s))
         |SELECT s_id,
         |  round(abs(((x3 * y0 - x0 * y3) + (x0 * y1 - x1 * y0) + (x1 * y2 - x2 * y1) + (x2 * y3 - x3 * y2)) / 2.0), 6) AS area,
         |  round(sqrt((x0 - x3) * (x0 - x3) + (y0 - y3) * (y0 - y3)) + sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) + sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) + sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)), 6) AS perim
         |FROM p""".stripMargin,

    "geo_clump" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |mask AS (SELECT r * 50 + c AS id, r, c FROM g WHERE v >= CAST(50.0 AS DOUBLE)),
         |edges AS (SELECT a.id AS s, b.id AS t FROM mask a JOIN mask b
         |  ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1),
         |reach AS (SELECT id AS s, id AS t FROM mask
         |  UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
         |comp AS (SELECT s AS id, min(t) AS comp_id FROM reach GROUP BY s)
         |SELECT m.r, m.c, c2.comp_id FROM mask m JOIN comp c2 ON m.id = c2.id""".stripMargin,

    "geo_extract" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |SELECT t.doc_id, gaz.place, count(*) AS n
         |FROM toks t JOIN ${Derived.gazetteerValuesSql} ON t.tok = gaz.place
         |GROUP BY 1, 2""".stripMargin,

    "geo_entity_zones" -> {
      val arms = Derived.zonePredicatesSql.map { case (zid, pred) =>
        s"SELECT $zid AS zone_id, place, count(*) AS n FROM m WHERE $pred GROUP BY place"
      }.mkString("\n", "\nUNION ALL\n", "")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |m AS (SELECT t.doc_id, gaz.place, gaz.px AS x, gaz.py AS y
         |  FROM toks t JOIN ${Derived.gazetteerValuesSql} ON t.tok = gaz.place)$arms""".stripMargin
    },

    "geo_clip_geom" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql}),
         |inter AS (SELECT sq.fid AS s_id,
         |  GREATEST(sq.min_x, z.min_x) AS ix0, GREATEST(sq.min_y, z.min_y) AS iy0,
         |  LEAST(sq.max_x, z.max_x) AS ix1, LEAST(sq.max_y, z.max_y) AS iy1
         |  FROM sq CROSS JOIN z
         |  WHERE LEAST(sq.max_x, z.max_x) > GREATEST(sq.min_x, z.min_x)
         |    AND LEAST(sq.max_y, z.max_y) > GREATEST(sq.min_y, z.min_y))
         |SELECT s_id, round(sum((ix1 - ix0) * (iy1 - iy0)), 4) AS carea,
         |  min(ix0) AS ominx, min(iy0) AS ominy,
         |  max(ix1) AS omaxx, max(iy1) AS omaxy
         |FROM inter GROUP BY s_id""".stripMargin,

    "geo_intersect_pairs" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql})
         |SELECT sq.fid AS s_id, z.fid AS zone_id,
         |  round((LEAST(sq.max_x, z.max_x) - GREATEST(sq.min_x, z.min_x))
         |    * (LEAST(sq.max_y, z.max_y) - GREATEST(sq.min_y, z.min_y)), 4) AS iarea,
         |  GREATEST(sq.min_x, z.min_x) AS ominx,
         |  GREATEST(sq.min_y, z.min_y) AS ominy,
         |  LEAST(sq.max_x, z.max_x) AS omaxx,
         |  LEAST(sq.max_y, z.max_y) AS omaxy
         |FROM sq CROSS JOIN z
         |WHERE LEAST(sq.max_x, z.max_x) > GREATEST(sq.min_x, z.min_x)
         |  AND LEAST(sq.max_y, z.max_y) > GREATEST(sq.min_y, z.min_y)""".stripMargin,

    "geo_erase_geom" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql}),
         |cut AS (SELECT sq.fid AS s_id,
         |  sum(GREATEST(0, LEAST(sq.max_x, z.max_x) - GREATEST(sq.min_x, z.min_x))
         |    * GREATEST(0, LEAST(sq.max_y, z.max_y) - GREATEST(sq.min_y, z.min_y))) AS inter
         |  FROM sq CROSS JOIN z GROUP BY sq.fid)
         |SELECT sq.fid AS s_id,
         |  round((sq.max_x - sq.min_x) * (sq.max_y - sq.min_y) - cut.inter, 4) AS darea
         |FROM sq JOIN cut ON cut.s_id = sq.fid
         |WHERE (sq.max_x - sq.min_x) * (sq.max_y - sq.min_y) - cut.inter > 0""".stripMargin,

    "geo_symdiff_pairs" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql})
         |SELECT sq.fid AS s_id, z.fid AS zone_id,
         |  round((sq.max_x - sq.min_x) * (sq.max_y - sq.min_y)
         |    + (z.max_x - z.min_x) * (z.max_y - z.min_y)
         |    - 2 * (LEAST(sq.max_x, z.max_x) - GREATEST(sq.min_x, z.min_x))
         |        * (LEAST(sq.max_y, z.max_y) - GREATEST(sq.min_y, z.min_y)), 4) AS sarea
         |FROM sq CROSS JOIN z
         |WHERE LEAST(sq.max_x, z.max_x) > GREATEST(sq.min_x, z.min_x)
         |  AND LEAST(sq.max_y, z.max_y) > GREATEST(sq.min_y, z.min_y)""".stripMargin,

    "geo_predicate_menu" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql}),
         |p AS (SELECT sq.fid AS a_fid, z.fid AS b_fid,
         |  sq.min_x AS ax0, sq.min_y AS ay0, sq.max_x AS ax1, sq.max_y AS ay1,
         |  z.min_x AS bx0, z.min_y AS by0, z.max_x AS bx1, z.max_y AS by1,
         |  LEAST(sq.max_x, z.max_x) - GREATEST(sq.min_x, z.min_x) AS w,
         |  LEAST(sq.max_y, z.max_y) - GREATEST(sq.min_y, z.min_y) AS h
         |  FROM sq CROSS JOIN z)
         |SELECT a_fid, b_fid,
         |  (w >= 0 AND h >= 0) AS r_intersects,
         |  (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1) AS r_within,
         |  (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1) AS r_contains,
         |  (w > 0 AND h > 0
         |    AND NOT (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1)
         |    AND NOT (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1)) AS r_overlaps,
         |  (w = 0 OR h = 0) AS r_touches
         |FROM p WHERE w >= 0 AND h >= 0""".stripMargin,

    "geo_touch_join" ->
      s"""WITH lsq AS (SELECT s_suppkey AS fid,
         |  CAST((s_suppkey % 20) * 10 - 100 AS DOUBLE) AS ax0,
         |  CAST(((s_suppkey // 20) % 15) * 10 - 70 AS DOUBLE) AS ay0
         |  FROM supplier),
         |p AS (SELECT fid, ax0, ay0, ax0 + 4 AS ax1, ay0 + 4 AS ay1,
         |  LEAST(ax0 + 4, CAST(-60 AS DOUBLE)) - GREATEST(ax0, CAST(-96 AS DOUBLE)) AS w,
         |  LEAST(ay0 + 4, CAST(-30 AS DOUBLE)) - GREATEST(ay0, CAST(-66 AS DOUBLE)) AS h
         |  FROM lsq)
         |SELECT fid AS a_fid, CAST(3 AS BIGINT) AS b_fid,
         |  (w = 0 OR h = 0) AS t_touches,
         |  (ax0 >= -96 AND ax1 <= -60 AND ay0 >= -66 AND ay1 <= -30) AS t_within
         |FROM p WHERE w >= 0 AND h >= 0""".stripMargin,

    "geo_select_location" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql})
         |SELECT DISTINCT sq.fid FROM sq JOIN z
         |  ON LEAST(sq.max_x, z.max_x) >= GREATEST(sq.min_x, z.min_x)
         | AND LEAST(sq.max_y, z.max_y) >= GREATEST(sq.min_y, z.min_y)""".stripMargin,

    "geo_remove_location" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql}),
         |z AS (${Derived.rectZonesSql})
         |SELECT fid FROM sq WHERE NOT EXISTS (SELECT 1 FROM z
         |  WHERE LEAST(sq.max_x, z.max_x) >= GREATEST(sq.min_x, z.min_x)
         |    AND LEAST(sq.max_y, z.max_y) >= GREATEST(sq.min_y, z.min_y))""".stripMargin,

    "geo_dissolve" ->
      s"""WITH cellsq AS (${Derived.latticeSquaresSql}),
         |ranked AS (SELECT x0, y0,
         |  ROW_NUMBER() OVER (ORDER BY x0, y0) AS fid FROM cellsq)
         |SELECT fid, CAST(16.0 AS DOUBLE) AS parea,
         |  x0 AS minx, y0 AS miny, x0 + 4 AS maxx, y0 + 4 AS maxy
         |FROM ranked""".stripMargin,

    "geo_fuse" ->
      s"""WITH cellsq AS (${Derived.latticeSquaresSql}),
         |ranked AS (SELECT x0, y0,
         |  ROW_NUMBER() OVER (ORDER BY x0, y0) AS fid FROM cellsq)
         |SELECT fid, CAST(28.0 AS DOUBLE) AS parea,
         |  x0 AS minx, y0 AS miny, x0 + 6 AS maxx, y0 + 6 AS maxy
         |FROM ranked""".stripMargin,

    "geo_buffer_select" ->
      s"""WITH pts AS ($PTS), spts AS ($SPTS)
         |SELECT DISTINCT p.id FROM pts p JOIN spts s
         |  ON (p.x - s.sx) * (p.x - s.sx) + (p.y - s.sy) * (p.y - s.sy) <= CAST(4.0 AS DOUBLE)""".stripMargin,

    // page-table invariant: the engine extracts text from the html
    // binary; the oracle hashes the source text column directly —
    // equal sha256 per url == byte-identical extraction
    "web_extract_text" ->
      s"""WITH pages AS (${Derived.webPagesSql})
         |SELECT url, sha256(text) AS sha,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes
         |FROM pages""".stripMargin,

    "web_page_stats" ->
      s"""WITH pages AS (${Derived.webPagesSql})
         |SELECT lang, count(*) AS n_pages,
         |  CAST(sum(strlen(text)) AS BIGINT) AS text_bytes,
         |  CAST(max(warc_epoch) AS BIGINT) AS last_epoch
         |FROM pages GROUP BY lang""".stripMargin,

    "web_latest_capture" ->
      s"""WITH pages AS (${Derived.webPagesSql})
         |SELECT url, CAST(2 AS BIGINT) AS n_caps,
         |  sha256(text || ' revision 2') AS sha
         |FROM pages""".stripMargin,

    "web_tile_assign" ->
      s"""WITH pages AS (${Derived.webPagesSql}),
         |toks AS (SELECT url, unnest(string_split(text, ' ')) AS tok
         |  FROM pages),
         |m AS (SELECT t.url, gaz.px AS x, gaz.py AS y
         |  FROM toks t JOIN ${Derived.gazetteerValuesSql}
         |    ON t.tok = gaz.place),
         |bins AS (SELECT url, $latBin14Sql // 256 AS lat_bin6,
         |  $lonBin14Sql // 256 AS lon_bin6 FROM m)
         |SELECT lat_bin6, lon_bin6,
         |  count(DISTINCT url) AS n_pages, count(*) AS n_mentions
         |FROM bins GROUP BY lat_bin6, lon_bin6""".stripMargin,

    "dedup_exact" ->
      s"""WITH corpus AS (${Derived.dupCorpusSql})
         |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM corpus GROUP BY text""".stripMargin,

    "dedup_jaccard" ->
      s"""WITH corpus AS (${Derived.dupCorpusSql}),
         |dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM dt GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
         |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT s.a, s.b,
         |  CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) AS jacc
         |FROM shared s JOIN sizes sa ON sa.doc_id = s.a
         |  JOIN sizes sb ON sb.doc_id = s.b
         |WHERE CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) >= CAST(0.95 AS DOUBLE)""".stripMargin,

    // the LSH path must find exactly the pairs the exact all-pairs
    // jaccard finds (recall 1 at these parameters) — same oracle
    "dedup_minhash" ->
      s"""WITH corpus AS (${Derived.dupCorpusSql}),
         |dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM dt GROUP BY doc_id),
         |shared AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
         |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT s.a, s.b,
         |  CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) AS jacc
         |FROM shared s JOIN sizes sa ON sa.doc_id = s.a
         |  JOIN sizes sb ON sb.doc_id = s.b
         |WHERE CAST(s.shared AS DOUBLE) / (sa.sz + sb.sz - s.shared) >= CAST(0.95 AS DOUBLE)""".stripMargin,

    "dedup_simhash" ->
      s"""WITH RECURSIVE corpus AS (${Derived.dupCorpusSql}),
         |$simhashSqlCtes
         |SELECT a, b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    "geo_cost_accum" ->
      s"""WITH g AS ($GRID),
         |${costAccumSqlCtes(48)}
         |SELECT r, c, round(acc, 6) AS acc, alloc FROM ca_48""".stripMargin,

    "dedup_cosine" ->
      s"""WITH e AS (${Derived.dupEmbeddingsSql}),
         |q AS (SELECT vec_id, p1, CAST(round(ev * 1000) AS BIGINT) AS qv FROM e),
         |hp AS (SELECT unnest(generate_series(0, 63)) AS hj),
         |dots AS (SELECT q.vec_id, hp.hj,
         |  sum(q.qv * (((hp.hj + 1) * 73856093 + q.p1 * 19349663) % 95 - 47)) AS d
         |  FROM q CROSS JOIN hp GROUP BY 1, 2),
         |bands AS (SELECT vec_id, hj // 8 AS band,
         |  sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << CAST(hj % 8 AS INT)) ELSE 0 END) AS bkey
         |  FROM dots GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bkey = r.bkey
         |    AND l.vec_id < r.vec_id),
         |norms AS (SELECT vec_id, sqrt(sum(ev * ev)) AS nrm FROM e GROUP BY 1),
         |pd AS (SELECT c.a, c.b, sum(ea.ev * eb.ev) AS dot
         |  FROM cand c JOIN e ea ON ea.vec_id = c.a
         |  JOIN e eb ON eb.vec_id = c.b AND eb.p1 = ea.p1 GROUP BY 1, 2)
         |SELECT p.a, p.b, round(p.dot / (na.nrm * nb.nrm), 6) AS sim6
         |FROM pd p JOIN norms na ON na.vec_id = p.a
         |  JOIN norms nb ON nb.vec_id = p.b
         |WHERE round(p.dot / (na.nrm * nb.nrm), 6) >= CAST(0.9 AS DOUBLE)""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, length(text) AS n_chars_m,
        |  len(string_split(text, ' ')) AS n_ws,
        |  len(regexp_extract_all(text, '[^ ]{1,4}')) AS n_sub
        |FROM documents""".stripMargin,

    "text_quality" -> {
      val stops = Derived.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id, length(text) AS n_chars_m, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct,
         |  len(list_filter(toks, x -> x IN ($stops))) AS n_stop,
         |  round(CAST(length(text) AS DOUBLE) / len(toks), 6) AS avg_tok_len
         |FROM t""".stripMargin
    },

    "text_langid" -> {
      val arms = Derived.langLists.map { case (lg, ws) =>
        val lst = ws.map(w => s"'$w'").mkString(", ")
        s"SELECT doc_id, '$lg' AS lang, len(list_filter(toks, x -> x IN ($lst))) AS score FROM t"
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
         |scores AS (
         |$arms),
         |ranked AS (SELECT doc_id, lang,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
         |  FROM scores)
         |SELECT doc_id, lang AS pred_lang FROM ranked WHERE rn = 1""".stripMargin
    },

    "text_fingerprint" ->
      """WITH pt AS (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS tok,
        |  generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(sum(pos * (ascii(tok) * 131 + length(tok))) % 2147483647 AS BIGINT) AS fp,
        |  count(*) AS n_tokens
        |FROM pt GROUP BY doc_id""".stripMargin,

    "ann_topk" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS ev FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(ev * ev)) AS nrm FROM e GROUP BY vec_id),
        |q AS (SELECT vec_id AS q_id, pos, ev AS qv FROM e WHERE vec_id < 10),
        |dots AS (SELECT q.q_id, e.vec_id AS n_id, sum(q.qv * e.ev) AS dot
        |  FROM q JOIN e ON q.pos = e.pos AND e.vec_id <> q.q_id
        |  GROUP BY 1, 2),
        |sims AS (SELECT d.q_id, d.n_id, round(d.dot / (qn.nrm * nn.nrm), 6) AS sim6
        |  FROM dots d JOIN norms qn ON qn.vec_id = d.q_id
        |  JOIN norms nn ON nn.vec_id = d.n_id),
        |ranked AS (SELECT q_id, n_id, sim6,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rnk
        |  FROM sims)
        |SELECT q_id, n_id, rnk, sim6 FROM ranked WHERE rnk <= 5""".stripMargin,

    "ann_topk_fused" ->
      """WITH en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                        CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qnrm FROM en WHERE vec_id < 10),
        |sims AS (SELECT q.q_id, en.vec_id AS n_id,
        |  round(list_dot_product(en.e, q.qe) / (q.qnrm * en.nrm), 6) AS sim6
        |  FROM en CROSS JOIN q WHERE en.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, n_id, sim6,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rnk
        |  FROM sims)
        |SELECT q_id, n_id, rnk, sim6 + 0.0 AS sim6 FROM ranked WHERE rnk <= 5""".stripMargin,

    "ann_topk_blocked" ->
      """WITH en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                        CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qnrm FROM en WHERE vec_id < 10),
        |sims AS (SELECT q.q_id, en.vec_id AS n_id,
        |  round(list_dot_product(en.e, q.qe) / (q.qnrm * en.nrm), 6) AS sim6
        |  FROM en CROSS JOIN q WHERE en.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, n_id, sim6,
        |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rnk
        |  FROM sims)
        |SELECT q_id, n_id, rnk, sim6 + 0.0 AS sim6 FROM ranked WHERE rnk <= 5""".stripMargin,

    "ann_ivf" ->
      s"""WITH ${operators.Clustering.kMeansSqlCtes(8, 2)},
         |q AS (SELECT vec_id AS q_id, pos, ev AS qv FROM e WHERE vec_id < 20),
         |qp_d AS (SELECT q.q_id, c.cluster,
         |  round(sum((q.qv - c.cv) * (q.qv - c.cv)), 6) AS d2
         |  FROM q JOIN c_2 c ON c.pos = q.pos GROUP BY 1, 2),
         |qprobe AS (SELECT q_id, cluster FROM (
         |  SELECT q_id, cluster,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cluster) AS rn
         |  FROM qp_d) WHERE rn <= 3),
         |cand AS (SELECT qp.q_id, l.vec_id AS n_id
         |  FROM qprobe qp JOIN a_final l ON l.cluster = qp.cluster
         |  WHERE l.vec_id <> qp.q_id),
         |dots AS (SELECT ca.q_id, ca.n_id, sum(q.qv * e.ev) AS dot
         |  FROM cand ca JOIN q ON q.q_id = ca.q_id
         |  JOIN e ON e.vec_id = ca.n_id AND e.pos = q.pos
         |  GROUP BY 1, 2),
         |norms AS (SELECT vec_id, sqrt(sum(ev * ev)) AS nrm FROM e GROUP BY 1),
         |sims AS (SELECT d.q_id, d.n_id, round(d.dot / (qn.nrm * nn.nrm), 6) AS sim6
         |  FROM dots d JOIN norms qn ON qn.vec_id = d.q_id
         |  JOIN norms nn ON nn.vec_id = d.n_id),
         |ranked AS (SELECT q_id, n_id, sim6,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim6 DESC, n_id) AS rnk
         |  FROM sims)
         |SELECT q_id, n_id, rnk, sim6 FROM ranked WHERE rnk <= 5""".stripMargin,

    "pca_covariance" ->
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS ev FROM embeddings),
        |means AS (SELECT pos, sum(ev) / count(*) AS m, count(*) AS n
        |  FROM e GROUP BY pos),
        |pairs AS (SELECT a.pos AS i, b.pos AS j,
        |  sum(a.ev * b.ev) AS sij
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id AND a.pos <= b.pos
        |  GROUP BY 1, 2)
        |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
        |  round((p.sij - mi.n * mi.m * mj.m) / (mi.n - 1), 6) AS cov
        |FROM pairs p JOIN means mi ON mi.pos = p.i
        |JOIN means mj ON mj.pos = p.j
        |WHERE p.i < 8 AND p.j < 8""".stripMargin,

    "cluster_kmeans" ->
      s"""WITH ${operators.Clustering.kMeansSqlCtes(8, 2)}
         |SELECT vec_id, cluster FROM a_final""".stripMargin,

    "geo_rasterize_polygons" -> {
      val arms = Derived.zonePredicatesSql.map { case (zid, pred) =>
        s"SELECT lat_bin, lon_bin, $zid AS zid FROM bins WHERE $pred"
      }.mkString("\nUNION ALL\n")
      s"""WITH bins AS (SELECT a.x AS lat_bin, b.x AS lon_bin,
         |  -90.0 + (a.x + 0.5) * CAST(2.8125 AS DOUBLE) AS y,
         |  -180.0 + (b.x + 0.5) * CAST(2.8125 AS DOUBLE) AS x
         |  FROM range(64) a(x) CROSS JOIN range(128) b(x)),
         |matched AS (
         |$arms)
         |SELECT lat_bin, lon_bin, CAST(max(zid) AS INT) AS poly_id
         |FROM matched GROUP BY 1, 2""".stripMargin
    },

    "geo_r2v_polygons" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |k AS (SELECT r, c, CAST(floor(v / 25.0) AS BIGINT) AS cls,
         |  r * 50 + c AS id FROM g),
         |e AS (SELECT a.id AS s, b.id AS t FROM k a JOIN k b
         |  ON a.cls = b.cls AND ((abs(a.r - b.r) = 1 AND a.c = b.c)
         |    OR (a.r = b.r AND abs(a.c - b.c) = 1))),
         |reach AS (SELECT id AS s, id AS t FROM k
         |  UNION SELECT rr.s, e.t FROM reach rr JOIN e ON rr.t = e.s),
         |comp AS (SELECT s AS id, min(t) AS comp_id FROM reach GROUP BY s)
         |SELECT c2.comp_id, k.cls, count(*) AS n_cells,
         |  CAST(count(*) AS DOUBLE) AS parea
         |FROM k JOIN comp c2 ON c2.id = k.id
         |GROUP BY 1, 2""".stripMargin,

    "geo_contour" ->
      s"""WITH g AS ($GRID),
         |lv AS (SELECT * FROM (VALUES (CAST(25.0 AS DOUBLE)), (CAST(50.0 AS DOUBLE)), (CAST(75.0 AS DOUBLE))) t(lvl)),
         |h AS (SELECT lvl, 'h' AS et, a.r, a.c,
         |  (lvl - a.v) / (b.v - a.v) AS t
         |  FROM g a JOIN g b ON b.r = a.r AND b.c = a.c + 1
         |  CROSS JOIN lv WHERE (a.v >= lvl) <> (b.v >= lvl)),
         |vv AS (SELECT lvl, 'v' AS et, a.r, a.c,
         |  (lvl - a.v) / (b.v - a.v) AS t
         |  FROM g a JOIN g b ON b.r = a.r + 1 AND b.c = a.c
         |  CROSS JOIN lv WHERE (a.v >= lvl) <> (b.v >= lvl))
         |SELECT * FROM h UNION ALL SELECT * FROM vv""".stripMargin,

    "geo_rasterize_lines" ->
      s"""WITH segs AS (${Derived.supplierLineSegsSql}),
         |rws AS (SELECT x AS rb, -90.0 + (x + 0.5) * CAST(2.8125 AS DOUBLE) AS cy FROM range(64) t(x)),
         |cls AS (SELECT x AS cb, -180.0 + (x + 0.5) * CAST(2.8125 AS DOUBLE) AS cx FROM range(128) t(x)),
         |rowhits AS (SELECT line_id, rb AS lat_bin,
         |  ((CAST(floor(((x1 + (cy - y1) / (y2 - y1) * (x2 - x1)) + 180.0) / 360.0 * 128) AS BIGINT) % 128) + 128) % 128 AS lon_bin
         |  FROM segs CROSS JOIN rws
         |  WHERE (cy - y1) * (cy - y2) <= 0 AND y2 <> y1),
         |colhits AS (SELECT line_id,
         |  LEAST(GREATEST(CAST(floor(((y1 + (cx - x1) / (x2 - x1) * (y2 - y1)) + 90.0) / 180.0 * 64) AS BIGINT), 0), 63) AS lat_bin,
         |  cb AS lon_bin
         |  FROM segs CROSS JOIN cls
         |  WHERE (cx - x1) * (cx - x2) <= 0 AND x2 <> x1)
         |SELECT lat_bin, lon_bin, max(line_id) AS line_id
         |FROM (SELECT * FROM rowhits UNION ALL SELECT * FROM colhits)
         |GROUP BY 1, 2""".stripMargin,

    "geo_tile_histogram_salted" ->
      s"""WITH pts AS ($PTS),
         |bins AS (SELECT $latBin14Sql // 256 AS lat_bin6,
         |  $lonBin14Sql // 256 AS lon_bin6,
         |  CAST(round(val * 100) AS BIGINT) AS cents FROM pts)
         |SELECT lat_bin6, lon_bin6, count(*) AS n,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM bins GROUP BY lat_bin6, lon_bin6""".stripMargin,

    "geo_euclidean_distance" ->
      s"""WITH g AS ($GRID),
         |t AS (SELECT r, c FROM g WHERE v >= CAST(90.0 AS DOUBLE))
         |SELECT g.r, g.c,
         |  round(sqrt(min(CAST((g.c - t.c) * (g.c - t.c) + (g.r - t.r) * (g.r - t.r) AS DOUBLE))), 6) AS dist
         |FROM g CROSS JOIN t GROUP BY g.r, g.c""".stripMargin,

    "geo_fill_depressions" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |reach(r, c, lvl) AS (
         |  SELECT r, c, v FROM g
         |  WHERE r = 0 OR r = ${GridRows - 1} OR c = 0 OR c = ${GridCols - 1}
         |  UNION
         |  SELECT g.r, g.c, GREATEST(g.v, rch.lvl)
         |  FROM reach rch JOIN g
         |    ON abs(g.r - rch.r) <= 1 AND abs(g.c - rch.c) <= 1
         |   AND NOT (g.r = rch.r AND g.c = rch.c))
         |SELECT r, c, min(lvl) AS filled FROM reach GROUP BY r, c""".stripMargin,

    "geo_fill_pits" ->
      s"""WITH g AS ($GRID),
         |nb AS (SELECT a.r, a.c, min(b.v) AS lowest
         |  FROM g a JOIN g b ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
         |   AND NOT (a.r = b.r AND a.c = b.c)
         |  GROUP BY a.r, a.c),
         |mx AS (SELECT CASE WHEN abs(max(v)) <= 9 THEN 9.999999747378752e-06
         |  WHEN abs(max(v)) <= 99 THEN 9.999999747378752e-05
         |  WHEN abs(max(v)) <= 999 THEN 1.0000000474974513e-03
         |  WHEN abs(max(v)) <= 9999 THEN 1.0000000474974513e-03
         |  WHEN abs(max(v)) <= 99999 THEN 9.999999776482582e-03
         |  ELSE CAST(1.0 AS DOUBLE) END AS asmall FROM g)
         |SELECT g.r, g.c, CASE WHEN nb.lowest IS NOT NULL
         |  AND nb.lowest >= g.v THEN nb.lowest + mx.asmall
         |  ELSE g.v END AS filled
         |FROM g LEFT JOIN nb ON nb.r = g.r AND nb.c = g.c
         |CROSS JOIN mx""".stripMargin,

    "geo_turning_bands" -> turningBandsSql,

    "geo_stochastic_dep" -> stochasticDepSql,

    "geo_breach_pits" ->
      s"""WITH g AS ($GRID),
         |nb AS (SELECT a.r, a.c, count(*) AS n8, min(b.v) AS lowest
         |  FROM g a JOIN g b ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
         |   AND NOT (a.r = b.r AND a.c = b.c)
         |  GROUP BY a.r, a.c),
         |pits AS (SELECT g.r AS pr, g.c AS pc, g.v AS pz
         |  FROM g JOIN nb ON nb.r = g.r AND nb.c = g.c
         |  WHERE nb.n8 = 8 AND nb.lowest >= g.v),
         |ring(i, dx2, dy2, bdx, bdy) AS (VALUES
         |  (0,2,-2,1,-1),(1,2,-1,1,-1),(2,2,0,1,0),(3,2,1,1,0),
         |  (4,2,2,1,1),(5,1,2,1,1),(6,0,2,0,1),(7,-1,2,0,1),
         |  (8,-2,2,-1,1),(9,-2,1,-1,1),(10,-2,0,-1,0),(11,-2,-1,-1,0),
         |  (12,-2,-2,-1,-1),(13,-1,-2,-1,-1),(14,0,-2,0,-1),(15,1,-2,1,-1)),
         |writes AS (SELECT p.pr + ring.bdy AS r, p.pc + ring.bdx AS c,
         |  (p.pz + g2.v) / 2 AS w, p.pr, p.pc, ring.i
         |  FROM pits p CROSS JOIN ring
         |  JOIN g g2 ON g2.r = p.pr + ring.dy2 AND g2.c = p.pc + ring.dx2
         |  WHERE g2.v < p.pz),
         |chosen AS (SELECT r, c, w, ROW_NUMBER() OVER (PARTITION BY r, c
         |  ORDER BY pr DESC, pc DESC, i DESC) AS rn FROM writes)
         |SELECT g.r, g.c, COALESCE(ch.w, g.v) AS breached
         |FROM g LEFT JOIN (SELECT r, c, w FROM chosen WHERE rn = 1) ch
         |  ON ch.r = g.r AND ch.c = g.c""".stripMargin,

    "geo_sink" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |reach(r, c, lvl) AS (
         |  SELECT r, c, v FROM g
         |  WHERE r = 0 OR r = ${GridRows - 1} OR c = 0 OR c = ${GridCols - 1}
         |  UNION
         |  SELECT g.r, g.c, GREATEST(g.v, rch.lvl)
         |  FROM reach rch JOIN g
         |    ON abs(g.r - rch.r) <= 1 AND abs(g.c - rch.c) <= 1
         |   AND NOT (g.r = rch.r AND g.c = rch.c)),
         |fill AS (SELECT r, c, min(lvl) AS filled FROM reach GROUP BY r, c),
         |mask AS (SELECT g.r * $GridCols + g.c AS id, g.r, g.c
         |  FROM g JOIN fill f ON f.r = g.r AND f.c = g.c
         |  WHERE g.v < f.filled),
         |edges AS (SELECT a.id AS s, b.id AS t FROM mask a JOIN mask b
         |  ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1),
         |reach2 AS (SELECT id AS s, id AS t FROM mask
         |  UNION SELECT x.s, e.t FROM reach2 x JOIN edges e ON x.t = e.s),
         |comp AS (SELECT s AS id, min(t) AS comp_id FROM reach2 GROUP BY s)
         |SELECT m.r, m.c, c2.comp_id
         |FROM mask m JOIN comp c2 ON m.id = c2.id""".stripMargin,

    "geo_depth_in_sink" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |reach(r, c, lvl) AS (
         |  SELECT r, c, v FROM g
         |  WHERE r = 0 OR r = ${GridRows - 1} OR c = 0 OR c = ${GridCols - 1}
         |  UNION
         |  SELECT g.r, g.c, GREATEST(g.v, rch.lvl)
         |  FROM reach rch JOIN g
         |    ON abs(g.r - rch.r) <= 1 AND abs(g.c - rch.c) <= 1
         |   AND NOT (g.r = rch.r AND g.c = rch.c)),
         |fill AS (SELECT r, c, min(lvl) AS filled FROM reach GROUP BY r, c)
         |SELECT g.r, g.c, CASE WHEN g.v < f.filled THEN f.filled - g.v
         |  ELSE CAST(0.0 AS DOUBLE) END AS sink_depth
         |FROM g JOIN fill f ON f.r = g.r AND f.c = g.c""".stripMargin,

    "geo_elev_above_pit" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |e AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
         |  FROM p WHERE ptr > 0),
         |sinks AS (SELECT r, c FROM p WHERE ptr = 0),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON w.r = e.r AND w.c = e.c),
         |hit AS (SELECT w.sr AS r, w.sc AS c, w.r AS pr, w.c AS pc
         |  FROM walk w JOIN sinks s ON s.r = w.r AND s.c = w.c)
         |SELECT h.r, h.c, g1.v - g2.v AS elev_above_pit
         |FROM hit h JOIN g g1 ON g1.r = h.r AND g1.c = h.c
         |JOIN g g2 ON g2.r = h.pr AND g2.c = h.pc""".stripMargin,

    "geo_jenson_snap" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |reach AS (SELECT r AS sr, c AS sc, tr, tc FROM e
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc
         |  FROM reach x JOIN e ON x.tr = e.r AND x.tc = e.c),
         |acc AS (SELECT tr, tc, count(*) AS k FROM reach GROUP BY tr, tc),
         |fa AS MATERIALIZED (SELECT g.r, g.c, 1 + COALESCE(a.k, 0) AS n
         |  FROM g LEFT JOIN acc a ON a.tr = g.r AND a.tc = g.c),
         |stream AS (SELECT r, c FROM fa WHERE n >= 5),
         |outlets AS (SELECT s_suppkey AS outlet_id,
         |  (s_suppkey * 11) % 40 AS r, (s_suppkey * 17) % 50 AS c
         |  FROM supplier WHERE s_suppkey <= 5),
         |cand AS (SELECT o.outlet_id, s.r AS sr, s.c AS sc,
         |  (s.r - o.r) * (s.r - o.r) + (s.c - o.c) * (s.c - o.c) AS d2
         |  FROM outlets o JOIN stream s
         |  ON abs(s.r - o.r) <= 3 AND abs(s.c - o.c) <= 3),
         |best AS (SELECT outlet_id, sr, sc, ROW_NUMBER() OVER (
         |  PARTITION BY outlet_id ORDER BY d2, sc, sr) AS rn FROM cand)
         |SELECT o.outlet_id, COALESCE(b.sr, o.r) AS snap_r,
         |  COALESCE(b.sc, o.c) AS snap_c
         |FROM outlets o LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON b.outlet_id = o.outlet_id""".stripMargin,

    "geo_branch_length" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |rch AS (SELECT r AS sr, c AS sc, r, c, CAST(0 AS BIGINT) AS dn
         |  FROM g
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc, x.dn +
         |    CASE WHEN abs(e.tr - x.r) + abs(e.tc - x.c) = 2
         |      THEN 1414213562 ELSE 1000000000 END
         |  FROM rch x JOIN e ON x.r = e.r AND x.c = e.c),
         |dirs(dy, dx) AS (VALUES (0, 1), (1, 1), (1, 0), (1, -1)),
         |pairs AS (SELECT p1.r AS pr, p1.c AS pc, p2.r AS qr, p2.c AS qc
         |  FROM g p1 CROSS JOIN dirs d JOIN g p2
         |    ON p2.r = p1.r + d.dy AND p2.c = p1.c + d.dx),
         |com AS (SELECT pp.pr, pp.pc, pp.qr, pp.qc, a.dn AS d1, b.dn AS d2,
         |  ROW_NUMBER() OVER (PARTITION BY pp.pr, pp.pc, pp.qr, pp.qc
         |    ORDER BY a.dn) AS rn
         |  FROM pairs pp
         |  JOIN rch a ON a.sr = pp.pr AND a.sc = pp.pc
         |  JOIN rch b ON b.sr = pp.qr AND b.sc = pp.qc
         |    AND b.r = a.r AND b.c = a.c),
         |confl AS (SELECT pr, pc, qr, qc, d1, d2 FROM com WHERE rn = 1),
         |full0 AS (SELECT sr, sc, max(dn) AS fl FROM rch GROUP BY sr, sc),
         |nc AS (SELECT pp.pr, pp.pc, pp.qr, pp.qc, fa.fl AS d1, fb.fl AS d2
         |  FROM pairs pp
         |  LEFT JOIN confl cf ON cf.pr = pp.pr AND cf.pc = pp.pc
         |    AND cf.qr = pp.qr AND cf.qc = pp.qc
         |  JOIN full0 fa ON fa.sr = pp.pr AND fa.sc = pp.pc
         |  JOIN full0 fb ON fb.sr = pp.qr AND fb.sc = pp.qc
         |  WHERE cf.pr IS NULL),
         |contrib AS (SELECT pr AS r, pc AS c, d1 AS d FROM confl
         |  UNION ALL SELECT qr, qc, d2 FROM confl
         |  UNION ALL SELECT pr, pc, d1 FROM nc
         |  UNION ALL SELECT qr, qc, d2 FROM nc)
         |SELECT r, c, max(d) AS branch_nano FROM contrib
         |GROUP BY r, c""".stripMargin,

    "geo_parallel_flow" ->
      s"""WITH g AS ($GRID),
         |$d8SqlCtes,
         |off(dy, dx, outv, inv) AS (VALUES
         |  (-1, 1, 1, 16), (0, 1, 2, 32), (1, 1, 4, 64), (1, 0, 8, 128),
         |  (1, -1, 16, 1), (0, -1, 32, 2), (-1, -1, 64, 4), (-1, 0, 128, 8))
         |SELECT p.r, p.c, CAST(max(CASE WHEN p.ptr <> o.outv
         |  AND n.ptr = p.ptr AND n.ptr <> o.inv THEN 1 ELSE 0 END)
         |  AS BIGINT) AS parallel
         |FROM p CROSS JOIN off o
         |LEFT JOIN p n ON n.r = p.r + o.dy AND n.c = p.c + o.dx
         |GROUP BY p.r, p.c""".stripMargin,

    "geo_trace_flowpaths" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |seeds AS (SELECT s_suppkey AS sval, (s_suppkey * 11) % 40 AS sr,
         |  (s_suppkey * 17) % 50 AS sc FROM supplier WHERE s_suppkey <= 5),
         |walk AS (SELECT sr, sc, sval, sr AS r, sc AS c FROM seeds
         |  UNION SELECT w.sr, w.sc, w.sval, e.tr, e.tc
         |  FROM walk w JOIN e ON w.r = e.r AND w.c = e.c),
         |first0 AS (SELECT r, c, sval, ROW_NUMBER() OVER (
         |  PARTITION BY r, c ORDER BY sr, sc) AS rn FROM walk)
         |SELECT f.r, f.c, COALESCE(s.sval, f.sval) AS trace_val
         |FROM (SELECT r, c, sval FROM first0 WHERE rn = 1) f
         |LEFT JOIN seeds s ON s.sr = f.r AND s.sc = f.c""".stripMargin,

    "geo_median_upstream" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |reach AS (SELECT r AS sr, c AS sc, tr, tc FROM e
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc
         |  FROM reach x JOIN e ON x.tr = e.r AND x.tc = e.c),
         |acc AS (SELECT tr, tc, count(*) AS k FROM reach GROUP BY tr, tc),
         |fa AS MATERIALIZED (SELECT g.r, g.c, 1 + COALESCE(a.k, 0) AS n
         |  FROM g LEFT JOIN acc a ON a.tr = g.r AND a.tc = g.c),
         |creek AS (SELECT fa.r, fa.c, fa.n AS area, g.v
         |  FROM fa JOIN g ON g.r = fa.r AND g.c = fa.c WHERE fa.n >= 5),
         |off(ci, dy, dx, dd) AS (VALUES
         |  (0, -1, 0, CAST(1.0 AS DOUBLE)), (1, -1, -1, sqrt(2)),
         |  (2, 0, -1, CAST(1.0 AS DOUBLE)), (3, 1, -1, sqrt(2)),
         |  (4, 1, 0, CAST(1.0 AS DOUBLE)), (5, 1, 1, sqrt(2)),
         |  (6, 0, 1, CAST(1.0 AS DOUBLE)), (7, -1, 1, sqrt(2))),
         |cand AS (SELECT u.r, u.c, n2.r AS tr, n2.c AS tc,
         |  (u.v - n2.v) / o.dd AS slope, o.ci
         |  FROM creek u CROSS JOIN off o
         |  JOIN creek n2 ON n2.r = u.r + o.dy AND n2.c = u.c + o.dx
         |  WHERE n2.v < u.v),
         |ce AS (SELECT r, c, tr, tc FROM (SELECT *, ROW_NUMBER() OVER (
         |  PARTITION BY r, c ORDER BY slope DESC, ci) AS rn FROM cand)
         |  WHERE rn = 1),
         |cl AS (SELECT r AS ur, c AS uc, r, c FROM creek
         |  UNION SELECT x.ur, x.uc, ce.tr, ce.tc
         |  FROM cl x JOIN ce ON x.r = ce.r AND x.c = ce.c)
         |SELECT cl.r, cl.c, median(CAST(a.area AS DOUBLE)) AS med_area
         |FROM cl JOIN creek a ON a.r = cl.ur AND a.c = cl.uc
         |GROUP BY cl.r, cl.c""".stripMargin,

    "geo_d8_pointer" ->
      s"""WITH g AS ($GRID),
         |$d8SqlCtes
         |SELECT r, c, ptr FROM p""".stripMargin,

    "geo_flow_accum" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |e AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
         |  FROM p WHERE ptr > 0),
         |reach AS (SELECT r AS sr, c AS sc, tr, tc FROM e
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc
         |  FROM reach x JOIN e ON x.tr = e.r AND x.tc = e.c),
         |acc AS (SELECT tr, tc, count(*) AS k FROM reach GROUP BY tr, tc)
         |SELECT g.r, g.c, 1 + COALESCE(a.k, 0) AS n_upslope
         |FROM g LEFT JOIN acc a ON a.tr = g.r AND a.tc = g.c""".stripMargin,

    "geo_watershed" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |e AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
         |  FROM p WHERE ptr > 0),
         |sinks AS (SELECT r, c FROM p WHERE ptr = 0),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON w.r = e.r AND w.c = e.c),
         |hit AS (SELECT w.sr AS r, w.sc AS c, w.r * 50 + w.c AS sink_id
         |  FROM walk w JOIN sinks s ON s.r = w.r AND s.c = w.c)
         |SELECT r, c, sink_id FROM hit""".stripMargin,

    "geo_pennock" -> {
      val slope = s"atan(sqrt(($FxSql) * ($FxSql) + ($FySql) * ($FySql))) * $RadToDegLit"
      s"""WITH g AS ($GRID),
         |$surfaceSql,
         |f AS (SELECT nb.r, nb.c, $slope AS slope,
         |  CASE WHEN st2.p <> 0 THEN
         |  (st2.zxx * st2.zx2 + 2 * st2.zxy * st2.zx * st2.zy + st2.zyy * st2.zy2)
         |    * (-1.0) / pow(st2.p * (st2.p + 1), 1.5) * $RadToDegLit END AS prof,
         |  CASE WHEN st2.p <> 0 THEN
         |  (st2.zxx * st2.zy2 - 2 * st2.zxy * st2.zx * st2.zy + st2.zyy * st2.zx2)
         |    / pow(st2.p, 1.5) * $RadToDegLit END AS plan
         |  FROM nb JOIN st2 ON st2.r = nb.r AND st2.c = nb.c),
         |cl AS (SELECT r, c, CAST(CASE
         |  WHEN prof < -0.1 AND plan <= -0.1 AND slope > 3.0 THEN 1
         |  WHEN prof < -0.1 AND plan > 0.1 AND slope > 3.0 THEN 2
         |  WHEN prof > 0.1 AND plan <= 0.1 AND slope > 3.0 THEN 3
         |  WHEN prof > 0.1 AND plan > 0.1 AND slope > 3.0 THEN 4
         |  WHEN prof >= -0.1 AND prof < 0.1 AND slope > 3.0 AND plan <= -0.1 THEN 5
         |  WHEN prof >= -0.1 AND prof < 0.1 AND slope > 3.0 AND plan > 0.1 THEN 6
         |  WHEN slope <= 3.0 THEN 7 END AS BIGINT) AS cls FROM f)
         |SELECT r, c, cls FROM cl WHERE cls IS NOT NULL""".stripMargin
    },

    "geo_horizon_angle" ->
      s"""WITH g AS ($GRID)
         |SELECT a.r, a.c,
         |  round(atan(max((b.v - a.v) / CAST(b.c - a.c AS DOUBLE))), 6) AS ha
         |FROM g a JOIN g b ON b.r = a.r AND b.c > a.c
         |GROUP BY a.r, a.c""".stripMargin,

    "geo_directional_relief" ->
      s"""WITH g AS ($GRID)
         |SELECT r, c, round(COALESCE(
         |  CAST(sum(CAST(round(v * 10) AS BIGINT)) OVER w AS DOUBLE)
         |    / (count(*) OVER w * 10.0) - v, 0.0), 6) AS relief
         |FROM g
         |WINDOW w AS (PARTITION BY r ORDER BY c
         |  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "geo_fetch" ->
      s"""WITH g AS ($GRID),
         |blk AS (SELECT a.r, a.c,
         |  min(CASE WHEN b.v >= a.v + (b.c - a.c) * CAST(0.05 AS DOUBLE)
         |    THEN b.c - a.c END) AS mk
         |  FROM g a LEFT JOIN g b ON b.r = a.r AND b.c > a.c
         |  GROUP BY a.r, a.c)
         |SELECT r, c,
         |  CAST(COALESCE(mk, ${GridCols - 1} - c) AS DOUBLE) AS fetch
         |FROM blk""".stripMargin,

    "geo_horizon_angle_az" ->
      s"""WITH g AS ($GRID),
         |${azWalkSql(x2Bounds = false)},
         |ag AS (SELECT r, c, max((z - v) / dist) AS mslope
         |  FROM azval GROUP BY r, c)
         |SELECT g.r, g.c, round(CASE WHEN
         |  degrees(atan(GREATEST(COALESCE(ag.mslope, -9999999.0e0),
         |    -9999999.0e0))) < -89 THEN 0.0
         |  ELSE degrees(atan(GREATEST(COALESCE(ag.mslope, -9999999.0e0),
         |    -9999999.0e0))) END, 6) AS horizon_angle
         |FROM g LEFT JOIN ag ON ag.r = g.r AND ag.c = g.c""".stripMargin,

    "geo_fetch_az" ->
      s"""WITH g AS ($GRID),
         |${azWalkSql(x2Bounds = true)},
         |hv AS (SELECT *, z >= v + dist * 0.05e0 AS hit FROM azval),
         |hp AS (SELECT *, min(CASE WHEN hit THEN k END)
         |  OVER (PARTITION BY r, c, pass) AS fh FROM hv),
         |pp AS (SELECT r, c, pass,
         |  min(CASE WHEN hit THEN dist END) AS hitdist,
         |  max(dist) AS lastdist
         |  FROM hp WHERE k <= COALESCE(fh, 9223372036854775807)
         |  GROUP BY r, c, pass),
         |fg AS (SELECT r, c, min(hitdist) AS hd, max(lastdist) AS ld
         |  FROM pp GROUP BY r, c)
         |SELECT g.r, g.c, round(COALESCE(fg.hd,
         |  -COALESCE(fg.ld, 0.0)) + 0.0, 6) AS fetch_dist
         |FROM g LEFT JOIN fg ON fg.r = g.r AND fg.c = g.c""".stripMargin,

    "geo_directional_relief_az" ->
      s"""WITH g AS ($GRID),
         |${azWalkSql(x2Bounds = true)},
         |rv AS (SELECT * FROM azval
         |  WHERE z1 <> -32768.0e0 AND z2 <> -32768.0e0),
         |ag AS (SELECT r, c,
         |  sum(CAST(round(z * 1000000000.0e0) AS BIGINT)) AS sn,
         |  count(*) AS n FROM rv GROUP BY r, c)
         |SELECT g.r, g.c, round(CASE WHEN ag.n > 0
         |  THEN CAST(ag.sn AS DOUBLE) / 1000000000.0e0 / ag.n - g.v
         |  ELSE 0.0 END, 6) AS relief
         |FROM g LEFT JOIN ag ON ag.r = g.r AND ag.c = g.c""".stripMargin,

    "geo_wind_exposure_horizon" -> {
      val azPrime = math.toRadians(215.0 - 90)
      s"""WITH g AS ($GRID),
         |${azWalkSql(x2Bounds = false)},
         |hag AS (SELECT r, c, max((z - v) / dist) AS mslope
         |  FROM azval GROUP BY r, c),
         |ha AS (SELECT g.r, g.c, round(CASE WHEN
         |  degrees(atan(GREATEST(COALESCE(hag.mslope, -9999999.0e0),
         |    -9999999.0e0))) < -89 THEN 0.0
         |  ELSE degrees(atan(GREATEST(COALESCE(hag.mslope, -9999999.0e0),
         |    -9999999.0e0))) END, 6) AS hadeg
         |  FROM g LEFT JOIN hag ON hag.r = g.r AND hag.c = g.c),
         |$stencilReflectSql,
         |f AS (SELECT r, c,
         |  round(atan(sqrt(($FxSql) * ($FxSql) + ($FySql) * ($FySql))), 6)
         |    AS slope_rad,
         |  $FxSql AS fx, $FySql AS fy FROM nb),
         |a AS (SELECT r, c, slope_rad,
         |  round($AspectSql, 6) AS aspect FROM f),
         |rel AS (SELECT r, c, slope_rad,
         |  CASE WHEN CAST($azPrime AS DOUBLE) - aspect > 180
         |    THEN 360.0 - (CAST($azPrime AS DOUBLE) - aspect)
         |    ELSE CAST($azPrime AS DOUBLE) - aspect END AS ra FROM a)
         |SELECT rel.r, rel.c, round(cos(slope_rad) *
         |  sin(ha.hadeg * CAST(${math.Pi} AS DOUBLE) / 180.0) +
         |  sin(slope_rad) * cos(ha.hadeg * CAST(${math.Pi} AS DOUBLE) / 180.0) *
         |  cos(ra * CAST(${math.Pi} AS DOUBLE) / 180.0), 6) AS exposure
         |FROM rel JOIN ha ON ha.r = rel.r AND ha.c = rel.c""".stripMargin
    },

    "geo_dev_from_mean" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = false)},
         |ks AS (SELECT r, c, dy, dx,
         |  CAST(round(nv * 10) AS BIGINT) AS k FROM con),
         |agg AS (SELECT r, c,
         |  max(CASE WHEN dy = 0 AND dx = 0 THEN k END) AS zk,
         |  CAST(sum(k) AS BIGINT) AS sk,
         |  CAST(sum(k * k) AS BIGINT) AS ssk, count(*) AS n
         |  FROM ks GROUP BY r, c),
         |a2 AS (SELECT r, c, zk / 10.0 AS z, sk / 10.0 / n AS avg0,
         |  ssk / (10.0 * 10.0) / n AS ssn, n FROM agg
         |  WHERE zk IS NOT NULL AND n > 2)
         |SELECT r, c, round(z - avg0, 6) AS diff_mean,
         |  CASE WHEN ssn - avg0 * avg0 > 0 THEN
         |    round((z - avg0) / sqrt(ssn - avg0 * avg0), 6) END AS dev_mean
         |FROM a2""".stripMargin,

    "geo_weighted_overlay" ->
      s"""WITH st AS (${Derived.partStackSql})
         |SELECT r, c,
         |  round(v1 * 0.5 + v2 * 0.3 + v3 * 0.2, 6) AS wsum,
         |  CASE WHEN v1 + v2 <> 0 THEN round((v1 - v2) / (v1 + v2), 6) END AS ndvi
         |FROM st""".stripMargin,

    "geo_snap_pour" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |reach AS (SELECT r AS sr, c AS sc, tr, tc FROM e
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc
         |  FROM reach x JOIN e ON x.tr = e.r AND x.tc = e.c),
         |acc AS (SELECT tr, tc, count(*) AS k FROM reach GROUP BY tr, tc),
         |fa AS MATERIALIZED (SELECT g.r, g.c, 1 + COALESCE(a.k, 0) AS n
         |  FROM g LEFT JOIN acc a ON a.tr = g.r AND a.tc = g.c),
         |pour AS (SELECT s_suppkey AS pp_id, (s_suppkey * 11) % 40 AS pr,
         |  (s_suppkey * 17) % 50 AS pc FROM supplier WHERE s_suppkey <= 5),
         |ranked AS (SELECT p.pp_id, f.r, f.c,
         |  ROW_NUMBER() OVER (PARTITION BY p.pp_id
         |    ORDER BY f.n DESC, f.r ASC, f.c ASC) AS rn
         |  FROM pour p JOIN fa f
         |    ON abs(f.r - p.pr) <= 3 AND abs(f.c - p.pc) <= 3)
         |SELECT pp_id, r AS sr, c AS sc FROM ranked WHERE rn = 1""".stripMargin,

    "geo_stream_extract" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)}
         |SELECT r, c, CAST(n AS BIGINT) AS n_upslope FROM fa WHERE n >= 5""".stripMargin,

    "geo_stream_link" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)}
         |SELECT r, c, link_id FROM links""".stripMargin,

    // engine iterates the label correction to exact fixpoint; 40
    // synchronous rounds bound the longest link path of the sf0.01
    // network (92 links) with a wide margin, so the unrolled chain
    // reaches the same fixpoint
    "geo_strahler" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |${strahlerSqlCtes(40)}
         |SELECT link_id, ord AS strahler FROM o_40""".stripMargin,

    "geo_strahler_basins" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |${strahlerSqlCtes(40)},
         |cellord AS (SELECT l.r, l.c, o.ord FROM links l
         |  JOIN o_40 o ON o.link_id = l.link_id),
         |wk AS (SELECT r AS wr, c AS wc, r, c, CAST(0 AS BIGINT) AS dn
         |  FROM g
         |  UNION SELECT x.wr, x.wc, e.tr, e.tc, x.dn +
         |    CASE WHEN abs(e.tr - x.r) + abs(e.tc - x.c) = 2
         |      THEN 1414213562 ELSE 1000000000 END
         |  FROM wk x JOIN e ON x.r = e.r AND x.c = e.c),
         |hit AS (SELECT w.wr, w.wc, co.ord, ROW_NUMBER() OVER (
         |  PARTITION BY w.wr, w.wc ORDER BY w.dn) AS rn
         |  FROM wk w JOIN cellord co ON co.r = w.r AND co.c = w.c)
         |SELECT wr AS r, wc AS c, ord AS basin_order
         |FROM hit WHERE rn = 1""".stripMargin,

    "geo_stream_class" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |heads AS (SELECT s.r, s.c FROM stream s
         |  LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
         |  WHERE d.n IS NULL),
         |upcl AS (SELECT r AS ur, c AS uc, r, c FROM stream
         |  UNION SELECT x.ur, x.uc, e2.tr, e2.tc
         |  FROM upcl x JOIN sedges e2 ON x.r = e2.r AND x.c = e2.c),
         |hk AS (SELECT cl.r, cl.c, count(*) AS k FROM upcl cl
         |  JOIN heads h ON h.r = cl.ur AND h.c = cl.uc
         |  GROUP BY cl.r, cl.c)
         |SELECT s.r, s.c, CAST(CASE WHEN p2.ptr = 0 THEN 5
         |  WHEN d.n IS NULL THEN 3 WHEN d.n > 1 THEN 4
         |  ELSE LEAST(2, COALESCE(hk.k, 0)) END AS BIGINT) AS link_class
         |FROM stream s JOIN p p2 ON p2.r = s.r AND p2.c = s.c
         |LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
         |LEFT JOIN hk ON hk.r = s.r AND hk.c = s.c""".stripMargin,

    "geo_wall_watershed" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |e AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
         |  FROM p WHERE ptr > 0),
         |sinks AS (SELECT r, c FROM p WHERE ptr = 0),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON w.r = e.r AND w.c = e.c),
         |ws AS (SELECT w.sr AS r, w.sc AS c, w.r * 50 + w.c AS sink_id
         |  FROM walk w JOIN sinks s ON s.r = w.r AND s.c = w.c),
         |off8(dy, dx) AS (VALUES (-1, 1), (0, 1), (1, 1), (1, 0),
         |  (1, -1), (0, -1), (-1, -1), (-1, 0)),
         |same AS (SELECT w.r, w.c, count(*) AS nsame
         |  FROM ws w CROSS JOIN off8 o
         |  JOIN ws n ON n.r = w.r + o.dy AND n.c = w.c + o.dx
         |    AND n.sink_id = w.sink_id
         |  GROUP BY w.r, w.c)
         |SELECT g.r, g.c, g.v + CAST(10.0 AS DOUBLE) AS walled
         |FROM g JOIN ws ON ws.r = g.r AND ws.c = g.c
         |LEFT JOIN same ON same.r = g.r AND same.c = g.c
         |WHERE COALESCE(same.nsame, 0) < 8""".stripMargin,

    "geo_morph_open" ->
      s"""WITH g AS ($GRID),
         |offs AS (SELECT a.x AS dy, b.x AS dx FROM range(-1, 2) a(x)
         |  CROSS JOIN range(-1, 2) b(x)),
         |er AS (SELECT t.r, t.c, min(s.v) AS v FROM g t CROSS JOIN offs o
         |  JOIN g s ON s.r = t.r + o.dy AND s.c = t.c + o.dx
         |  GROUP BY t.r, t.c)
         |SELECT t.r, t.c, max(s.v) AS v FROM er t CROSS JOIN offs o
         |JOIN er s ON s.r = t.r + o.dy AND s.c = t.c + o.dx
         |GROUP BY t.r, t.c""".stripMargin,

    "geo_morph_close" ->
      s"""WITH g AS ($GRID),
         |offs AS (SELECT a.x AS dy, b.x AS dx FROM range(-1, 2) a(x)
         |  CROSS JOIN range(-1, 2) b(x)),
         |di AS (SELECT t.r, t.c, max(s.v) AS v FROM g t CROSS JOIN offs o
         |  JOIN g s ON s.r = t.r + o.dy AND s.c = t.c + o.dx
         |  GROUP BY t.r, t.c)
         |SELECT t.r, t.c, min(s.v) AS v FROM di t CROSS JOIN offs o
         |JOIN di s ON s.r = t.r + o.dy AND s.c = t.c + o.dx
         |GROUP BY t.r, t.c""".stripMargin,

    "geo_remove_spurs" -> {
      val iter = (i: Int) =>
        s"""m$i AS (SELECT a.r, a.c FROM m${i - 1} a JOIN m${i - 1} b
           |  ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
           |  AND NOT (a.r = b.r AND a.c = b.c)
           |  GROUP BY a.r, a.c HAVING count(*) >= 2)""".stripMargin
      s"""WITH g AS ($GRID),
         |m0 AS (SELECT r, c FROM g WHERE v >= 70),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT r, c FROM m3""".stripMargin
    },

    "geo_mosaic_feather" ->
      s"""WITH st AS (${Derived.partStackSql}),
         |a AS (SELECT r, c, v1 FROM st),
         |b AS (SELECT r + 15 AS r, c + 20 AS c, v2 FROM st),
         |j AS (SELECT r, c, v1, v2 FROM a FULL JOIN b USING (r, c))
         |SELECT r, c, round(CASE
         |  WHEN v1 IS NOT NULL AND v2 IS NOT NULL THEN
         |    ((LEAST(r, 39 - r, c, 49 - c) + 1) * v1 +
         |     (LEAST(r - 15, 54 - r, c - 20, 69 - c) + 1) * v2) /
         |    ((LEAST(r, 39 - r, c, 49 - c) + 1) +
         |     (LEAST(r - 15, 54 - r, c - 20, 69 - c) + 1))
         |  WHEN v1 IS NOT NULL THEN v1 ELSE v2 END, 6) AS v
         |FROM j""".stripMargin,

    "geo_tin_delaunay" ->
      s"""WITH sp AS ($SPTS),
         |$tinSqlCtes
         |SELECT ia, ib, ic FROM t ANTI JOIN bad USING (ia, ib, ic)""".stripMargin,

    "geo_voronoi_neighbors" ->
      s"""WITH sp AS ($SPTS),
         |$tinSqlCtes,
         |tri AS (SELECT t.ia, t.ib, t.ic FROM t
         |  ANTI JOIN bad USING (ia, ib, ic))
         |SELECT pa, pb FROM (
         |  SELECT ia AS pa, ib AS pb FROM tri
         |  UNION SELECT ia AS pa, ic AS pb FROM tri
         |  UNION SELECT ib AS pa, ic AS pb FROM tri)""".stripMargin,

    "geo_smooth_vector" ->
      s"""WITH v AS (SELECT zone_id AS gid, vid AS i, vx, vy
         |  FROM ${Derived.zoneOuterVerticesSql}),
         |nn AS (SELECT gid, count(*) AS n FROM v GROUP BY gid),
         |o(o) AS (VALUES (-1), (0), (1)),
         |p AS (SELECT v.gid, v.i,
         |  ((v.i + o.o) % nn.n + nn.n) % nn.n AS j
         |  FROM v JOIN nn ON nn.gid = v.gid CROSS JOIN o)
         |SELECT p.gid, p.i, round(sum(w.vx) / count(*), 6) AS sx,
         |  round(sum(w.vy) / count(*), 6) AS sy
         |FROM p JOIN v w ON w.gid = p.gid AND w.i = p.j
         |GROUP BY p.gid, p.i""".stripMargin,

    "geo_vector_clean" ->
      s"""WITH sp AS ($SPTS),
         |pp AS (SELECT s_id, sx, sy FROM sp WHERE s_id <= 40),
         |va AS (SELECT 1 AS gid, s_id AS i, sx AS vx, sy AS vy FROM pp
         |  UNION ALL
         |  SELECT 2 AS gid, s_id AS i,
         |    sx + CAST(0.003 AS DOUBLE) + (s_id % 3) * CAST(0.004 AS DOUBLE) AS vx,
         |    sy - CAST(0.002 AS DOUBLE) AS vy FROM pp),
         |cand AS (SELECT a.gid, a.i, b.gid AS g2, b.i AS i2,
         |  b.vx AS x2, b.vy AS y2,
         |  (b.vx - a.vx) * (b.vx - a.vx) + (b.vy - a.vy) * (b.vy - a.vy) AS d2
         |  FROM va a JOIN va b ON b.gid <> a.gid
         |  AND abs(b.vx - a.vx) <= CAST(0.01 AS DOUBLE)
         |  AND abs(b.vy - a.vy) <= CAST(0.01 AS DOUBLE)),
         |sn AS (SELECT gid, i, x2, y2 FROM (SELECT *, ROW_NUMBER() OVER (
         |  PARTITION BY gid, i ORDER BY d2, g2, i2) AS rn FROM cand
         |  WHERE d2 <= CAST(0.01 AS DOUBLE) * CAST(0.01 AS DOUBLE))
         |  WHERE rn = 1)
         |SELECT a.gid, a.i, COALESCE(sn.x2, a.vx) AS cx,
         |  COALESCE(sn.y2, a.vy) AS cy
         |FROM va a LEFT JOIN sn ON sn.gid = a.gid AND sn.i = a.i""".stripMargin,

    "geo_voronoi_polygons" ->
      s"""WITH sp AS ($SPTS),
         |p AS (SELECT s_id AS pid, sx AS px, sy AS py FROM sp
         |  WHERE s_id <= 40)
         |SELECT CAST(count(*) AS BIGINT) AS n_polys,
         |  round(((max(px) + (max(px) - min(px)) * 0.05)
         |    - (min(px) - (max(px) - min(px)) * 0.05))
         |  * ((max(py) + (max(py) - min(py)) * 0.05)
         |    - (min(py) - (max(py) - min(py)) * 0.05)), 3) AS area_sum
         |FROM p""".stripMargin,

    "stats_ks_normal" ->
      s"""WITH k AS (SELECT c_custkey AS id,
         |  CAST(round(c_acctbal * 100) AS BIGINT) AS k FROM customer),
         |st AS (SELECT CAST(sum(k) AS BIGINT) AS sx,
         |  CAST(sum(k * k) AS BIGINT) AS sxx, count(*) AS n FROM k),
         |z AS (SELECT id, k.k, n,
         |  (k.k - (CAST(sx AS DOUBLE) / n)) /
         |    sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) AS __z,
         |  ROW_NUMBER() OVER (ORDER BY k.k, id) AS rn
         |  FROM k CROSS JOIN st),
         |p AS (SELECT n, rn,
         |  ${operators.Distribution.phiSqlText("__z")} AS phi FROM z)
         |SELECT max(n) AS n,
         |  round(max(GREATEST(CAST(rn AS DOUBLE) / n - phi,
         |    phi - (CAST(rn AS DOUBLE) - 1) / n)), 6) AS ks_d
         |FROM p""".stripMargin,

    "geo_stream_metrics" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |${magnitudeSqlCtes(40)},
         |wp AS (SELECT cg.child AS link_id, cg.parent, m.mag
         |  FROM cgraph cg JOIN m_40 m ON m.link_id = cg.child),
         |bst AS (SELECT parent, child AS best_child FROM (
         |  SELECT cg.parent, cg.child,
         |    ROW_NUMBER() OVER (PARTITION BY cg.parent
         |      ORDER BY m.mag DESC, cg.child ASC) AS rn
         |  FROM cgraph cg JOIN m_40 m ON m.link_id = cg.child) WHERE rn = 1),
         |trk AS (SELECT l.link_id,
         |  CAST(CASE WHEN w.parent IS NULL OR b.best_child = l.link_id
         |    THEN 1 ELSE 0 END AS BIGINT) AS trunk
         |  FROM linkids l
         |  LEFT JOIN wp w ON w.link_id = l.link_id
         |  LEFT JOIN bst b ON b.parent = w.parent),
         |zr AS (SELECT l.link_id, min(g.v) AS zmin, max(g.v) AS zmax
         |  FROM links l JOIN g ON g.r = l.r AND g.c = l.c GROUP BY 1),
         |intra AS (SELECT l1.link_id, e.r, e.c, e.tr, e.tc FROM sedges e
         |  JOIN links l1 ON l1.r = e.r AND l1.c = e.c
         |  JOIN links l2 ON l2.r = e.tr AND l2.c = e.tc
         |  WHERE l1.link_id = l2.link_id),
         |ln AS (SELECT link_id,
         |  CAST(sum(CAST(round(sqrt(CAST((r - tr) * (r - tr) + (c - tc) * (c - tc) AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS len_nano
         |  FROM intra GROUP BY 1),
         |nc AS (SELECT link_id, count(*) AS n_cells FROM links GROUP BY 1)
         |SELECT m.link_id, CAST(m.mag AS BIGINT) AS magnitude, t.trunk,
         |  nc.n_cells, zr.zmin, zr.zmax,
         |  CASE WHEN COALESCE(ln.len_nano, 0) > 0 THEN
         |    round((zr.zmax - zr.zmin) / (ln.len_nano / 1e9), 6) END AS slope
         |FROM m_40 m
         |JOIN trk t ON t.link_id = m.link_id
         |JOIN zr ON zr.link_id = m.link_id
         |JOIN nc ON nc.link_id = m.link_id
         |LEFT JOIN ln ON ln.link_id = m.link_id""".stripMargin,

    "geo_subbasins" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |estop AS (SELECT e.r, e.c, e.tr, e.tc FROM e
         |  LEFT JOIN stream s ON s.r = e.r AND s.c = e.c
         |  WHERE s.r IS NULL),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e2.tr, e2.tc
         |  FROM walk w JOIN estop e2 ON e2.r = w.r AND e2.c = w.c),
         |hit AS (SELECT w.sr AS r, w.sc AS c, l.link_id
         |  FROM walk w JOIN links l ON l.r = w.r AND l.c = w.c)
         |SELECT r, c, link_id AS basin FROM hit""".stripMargin,

    "geo_hillslopes" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |hs_heads AS (SELECT s.r, s.c FROM stream s
         |  LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
         |  WHERE COALESCE(d.n, 0) = 0),
         |hs_sid AS MATERIALIZED (SELECT l.r, l.c,
         |  CASE WHEN h.r IS NOT NULL THEN 10000 + l.r * 50 + l.c
         |       ELSE l.link_id END AS hs_sid
         |  FROM links l LEFT JOIN hs_heads h ON h.r = l.r AND h.c = l.c),
         |hs_dirs(d, dy, dx, inflow) AS (SELECT * FROM (VALUES
         |  (0, -1, 1, 16), (1, 0, 1, 32), (2, 1, 1, 64), (3, 1, 0, 128),
         |  (4, 1, -1, 1), (5, 0, -1, 2), (6, -1, -1, 4), (7, -1, 0, 8))),
         |hs_sp AS (SELECT s.r, s.c, i.hs_sid,
         |  CASE p.ptr WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 4 THEN 2
         |    WHEN 8 THEN 3 WHEN 16 THEN 4 WHEN 32 THEN 5 WHEN 64 THEN 6
         |    WHEN 128 THEN 7 END AS cix
         |  FROM stream s JOIN p ON p.r = s.r AND p.c = s.c AND p.ptr > 0
         |  JOIN hs_sid i ON i.r = s.r AND i.c = s.c),
         |hs_nb AS MATERIALIZED (SELECT hs_sp.r, hs_sp.c, hs_sp.hs_sid, hs_sp.cix, d.d,
         |  (d.d - hs_sp.cix + 7) % 8 AS rp,
         |  hs_sp.r + d.dy AS xr, hs_sp.c + d.dx AS xc,
         |  (g2.r IS NOT NULL AND st.r IS NULL) AS nonstream,
         |  COALESCE(p2.ptr = d.inflow, FALSE) AS inflowing
         |  FROM hs_sp CROSS JOIN hs_dirs d
         |  LEFT JOIN g g2 ON g2.r = hs_sp.r + d.dy AND g2.c = hs_sp.c + d.dx
         |  LEFT JOIN stream st ON st.r = hs_sp.r + d.dy AND st.c = hs_sp.c + d.dx
         |  LEFT JOIN p p2 ON p2.r = hs_sp.r + d.dy AND p2.c = hs_sp.c + d.dx),
         |hs_m1 AS (SELECT r, c, min(CASE WHEN nonstream THEN rp END) AS minns
         |  FROM hs_nb GROUP BY 1, 2),
         |hs_m2 AS (SELECT hs_nb.r, hs_nb.c,
         |  min(CASE WHEN NOT hs_nb.nonstream AND hs_nb.rp > hs_m1.minns
         |    THEN hs_nb.rp END) AS stoprp
         |  FROM hs_nb JOIN hs_m1 ON hs_m1.r = hs_nb.r AND hs_m1.c = hs_nb.c GROUP BY 1, 2),
         |hs_writes AS (
         |  SELECT hs_nb.xr, hs_nb.xc, hs_nb.hs_sid AS lbl, hs_nb.r * 50 + hs_nb.c AS o,
         |    1 AS pri
         |  FROM hs_nb JOIN hs_m2 ON hs_m2.r = hs_nb.r AND hs_m2.c = hs_nb.c
         |  WHERE hs_nb.nonstream AND hs_nb.inflowing
         |    AND (hs_m2.stoprp IS NULL OR hs_nb.rp < hs_m2.stoprp)
         |  UNION ALL
         |  SELECT hs_nb.xr, hs_nb.xc, hs_nb.hs_sid + 100000, hs_nb.r * 50 + hs_nb.c, 0
         |  FROM hs_nb WHERE hs_nb.nonstream AND hs_nb.inflowing AND hs_nb.d <> hs_nb.cix),
         |hs_bank AS (SELECT xr AS r, xc AS c,
         |  COALESCE(arg_max(lbl, o) FILTER (WHERE pri = 1),
         |           arg_min(lbl, o) FILTER (WHERE pri = 0)) AS lbl
         |  FROM hs_writes GROUP BY 1, 2),
         |hs_seeds AS MATERIALIZED (SELECT r, c, lbl FROM hs_bank
         |  UNION ALL SELECT r, c, hs_sid AS lbl FROM hs_sid),
         |hs_estop AS (SELECT e.r, e.c, e.tr, e.tc FROM e
         |  LEFT JOIN hs_seeds s ON s.r = e.r AND s.c = e.c
         |  WHERE s.r IS NULL),
         |hs_walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e2.tr, e2.tc
         |  FROM hs_walk w JOIN hs_estop e2 ON e2.r = w.r AND e2.c = w.c),
         |hs_hit AS (SELECT w.sr AS r, w.sc AS c, s.lbl
         |  FROM hs_walk w JOIN hs_seeds s ON s.r = w.r AND s.c = w.c)
         |SELECT h.r, h.c,
         |  CASE WHEN st.r IS NOT NULL THEN 0 ELSE h.lbl END AS hillslope
         |FROM hs_hit h LEFT JOIN stream st ON st.r = h.r AND st.c = h.c""".stripMargin,

    "geo_flowpath_length" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |ed AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc,
         |  (ptr IN (1, 4, 16, 64)) AS diag
         |  FROM p WHERE ptr > 0),
         |walk AS (SELECT r AS sr, c AS sc, r, c,
         |  CAST(0 AS BIGINT) AS ns, CAST(0 AS BIGINT) AS nd FROM g
         |  UNION SELECT w.sr, w.sc, ed.tr, ed.tc,
         |    w.ns + CASE WHEN ed.diag THEN 0 ELSE 1 END,
         |    w.nd + CASE WHEN ed.diag THEN 1 ELSE 0 END
         |  FROM walk w JOIN ed ON ed.r = w.r AND ed.c = w.c),
         |term AS (SELECT w.sr AS r, w.sc AS c, w.ns, w.nd
         |  FROM walk w JOIN p ON p.r = w.r AND p.c = w.c AND p.ptr = 0)
         |SELECT r, c, round(ns + nd * sqrt(2.0), 6) AS fp_len FROM term""".stripMargin,

    "geo_contour_lines" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$contourLinesSql
         |SELECT st.lvl, st.line_id, n.n_pts,
         |  CAST(CASE WHEN st.n_segs = n.n_pts THEN 1 ELSE 0 END AS BIGINT) AS closed,
         |  st.len_nano
         |FROM lstats st JOIN npts n ON n.line_id = st.line_id""".stripMargin,

    "geo_r2v_lines" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |intra AS (SELECT l1.link_id, e.r, e.c, e.tr, e.tc
         |  FROM sedges e
         |  JOIN links l1 ON l1.r = e.r AND l1.c = e.c
         |  JOIN links l2 ON l2.r = e.tr AND l2.c = e.tc
         |  WHERE l1.link_id = l2.link_id),
         |ln AS (SELECT link_id,
         |  CAST(sum(CAST(round(sqrt(CAST((r - tr) * (r - tr) + (c - tc) * (c - tc) AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS len_nano
         |  FROM intra GROUP BY 1),
         |nc AS (SELECT link_id, count(*) AS n_cells FROM links GROUP BY 1)
         |SELECT nc.link_id, nc.n_cells, COALESCE(ln.len_nano, 0) AS len_nano
         |FROM nc LEFT JOIN ln ON ln.link_id = nc.link_id""".stripMargin,

    "geo_remove_oto" ->
      s"""WITH g AS ($GRID),
         |ero AS (SELECT a.r, a.c, min(b.v) AS v FROM g a JOIN g b
         |  ON b.r BETWEEN a.r - 2 AND a.r + 2
         |  AND b.c BETWEEN a.c - 2 AND a.c + 2 GROUP BY a.r, a.c),
         |opn AS (SELECT a.r, a.c, max(b.v) AS open FROM ero a JOIN ero b
         |  ON b.r BETWEEN a.r - 2 AND a.r + 2
         |  AND b.c BETWEEN a.c - 2 AND a.c + 2 GROUP BY a.r, a.c)
         |SELECT g.r, g.c,
         |  CASE WHEN g.v - o.open > 5.0e0 THEN o.open ELSE g.v END AS dem_out
         |FROM g JOIN opn o ON o.r = g.r AND o.c = g.c""".stripMargin,

    "geo_polygon_necks" -> {
      val n = Derived.dumbbellRing.length
      s"""WITH dv AS (SELECT * FROM ${Derived.dumbbellVerticesSql}),
         |nb AS (SELECT a.vid AS cid, b.vid AS nid FROM dv a JOIN dv b
         |  ON (a.vx - b.vx) * (a.vx - b.vx) + (a.vy - b.vy) * (a.vy - b.vy) <= 4.0),
         |rng AS (SELECT cid, max(nid) - min(nid) AS rng FROM nb GROUP BY cid),
         |nrm AS (SELECT nb.cid, CASE WHEN r.rng = ${n - 1} AND nb.nid < ${n / 2}
         |  THEN nb.nid + $n ELSE nb.nid END AS nid
         |  FROM nb JOIN rng r ON r.cid = nb.cid),
         |gp AS (SELECT cid, nid - lag(nid) OVER (PARTITION BY cid ORDER BY nid) AS gp
         |  FROM nrm),
         |mg AS (SELECT cid, COALESCE(max(gp), 0) AS maxgap FROM gp GROUP BY cid),
         |kept AS (SELECT cid FROM mg WHERE maxgap >= 5),
         |ch AS (SELECT cid, cid - row_number() OVER (ORDER BY cid) AS grp FROM kept)
         |SELECT min(cid) AS chain_start, max(cid) AS chain_end,
         |  count(*) AS n_vertices
         |FROM ch GROUP BY grp
         |HAVING count(*) >= 2 OR max(cid) = ${n - 1}""".stripMargin
    },

    "geo_polygon_midline" -> {
      val preds = Derived.zonePredicatesSql.toMap
      val inCase = Seq(1, 2, 4, 5).map(z =>
        s"WHEN $z THEN (${preds(z)})").mkString(" ")
      s"""WITH zv AS (SELECT * FROM ${Derived.zoneOuterVerticesSql}),
         |t0 AS (SELECT a.zone_id AS gid, a.vid AS ia, a.vx AS xa, a.vy AS ya,
         |  b.vid AS ib, b.vx AS xb, b.vy AS yb,
         |  c.vid AS ic, c.vx AS xc, c.vy AS yc,
         |  (b.vx - a.vx) * (c.vy - a.vy) - (b.vy - a.vy) * (c.vx - a.vx) AS o
         |  FROM zv a JOIN zv b ON a.zone_id = b.zone_id AND a.vid < b.vid
         |  JOIN zv c ON b.zone_id = c.zone_id AND b.vid < c.vid),
         |t AS MATERIALIZED (SELECT * FROM t0 WHERE o <> 0),
         |w AS (SELECT t.gid, t.ia, t.ib, t.ic, t.o,
         |  (t.xa - d.vx) AS a1, (t.ya - d.vy) AS a2,
         |  (t.xb - d.vx) AS b1, (t.yb - d.vy) AS b2,
         |  (t.xc - d.vx) AS c1, (t.yc - d.vy) AS c2
         |  FROM t JOIN zv d ON d.zone_id = t.gid AND d.vid <> t.ia
         |    AND d.vid <> t.ib AND d.vid <> t.ic),
         |w2 AS (SELECT *, a1 * a1 + a2 * a2 AS a3, b1 * b1 + b2 * b2 AS b3,
         |  c1 * c1 + c2 * c2 AS c3 FROM w),
         |bad AS (SELECT DISTINCT gid, ia, ib, ic FROM w2
         |  WHERE (a1 * (b2 * c3 - b3 * c2) - a2 * (b1 * c3 - b3 * c1)
         |    + a3 * (b1 * c2 - b2 * c1)) * o > 0),
         |tri AS (SELECT t.gid, t.ia, t.ib, t.ic, t.xa, t.ya, t.xb, t.yb,
         |  t.xc, t.yc FROM t
         |  LEFT JOIN bad ON bad.gid = t.gid AND bad.ia = t.ia
         |    AND bad.ib = t.ib AND bad.ic = t.ic
         |  WHERE bad.ia IS NULL),
         |cen AS (SELECT *, (xa + xb + xc) / 3.0 AS x,
         |  (ya + yb + yc) / 3.0 AS y FROM tri),
         |inz AS (SELECT gid, ia, ib, ic FROM cen
         |  WHERE CASE gid $inCase ELSE false END),
         |nv AS (SELECT zone_id AS gid, count(*) AS nv FROM zv GROUP BY 1),
         |ed AS (SELECT DISTINCT gid, va, vb FROM (
         |  SELECT gid, ia AS va, ib AS vb FROM inz
         |  UNION ALL SELECT gid, ib AS va, ic AS vb FROM inz
         |  UNION ALL SELECT gid, ia AS va, ic AS vb FROM inz)),
         |ednb AS (SELECT e.gid, e.va, e.vb FROM ed e JOIN nv ON nv.gid = e.gid
         |  WHERE NOT (e.vb - e.va = 1 OR (e.va = 0 AND e.vb = nv.nv - 1)))
         |SELECT e.gid AS zone_id, e.va, e.vb,
         |  (pa.vx + pb.vx) / 2.0 AS mx, (pa.vy + pb.vy) / 2.0 AS my
         |FROM ednb e JOIN zv pa ON pa.zone_id = e.gid AND pa.vid = e.va
         |JOIN zv pb ON pb.zone_id = e.gid AND pb.vid = e.vb""".stripMargin
    },

    "geo_extend_rivers" -> {
      val h = "(CAST(4.0 AS DOUBLE) + CAST(id % 3 AS DOUBLE) * 4)"
      val gx = "GREATEST(l.xmin - e.px, 0.0, e.px - l.xmax)"
      val gy = "GREATEST(l.ymin - e.py, 0.0, e.py - l.ymax)"
      s"""WITH pts AS ($PTS),
         |sp0 AS (SELECT s_suppkey AS line_id,
         |  (((s_suppkey * 6151) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)) / 2 AS x0,
         |  (((s_suppkey * 4517) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)) / 2 AS y0
         |  FROM supplier),
         |eps AS (SELECT line_id, 0 AS kind, x0 AS px, y0 AS py FROM sp0
         |  UNION ALL
         |  SELECT line_id, 1 AS kind, x0 + 3 AS px, y0 + 8 AS py FROM sp0),
         |lakes AS (SELECT id AS lake_id,
         |  x - $h AS xmin, y - $h AS ymin, x + $h AS xmax, y + $h AS ymax,
         |  x AS cx, y AS cy FROM pts WHERE id <= 150),
         |near AS (SELECT e.line_id, e.kind, l.lake_id, l.cx, l.cy,
         |  (l.xmax - l.xmin) * (l.ymax - l.ymin) AS area
         |  FROM eps e JOIN lakes l ON $gx * $gx + $gy * $gy < 9.0),
         |qual AS (SELECT lake_id FROM near GROUP BY lake_id
         |  HAVING count(*) >= 2 AND min(area) <= 150.0),
         |pick AS (SELECT line_id, kind, cx, cy FROM
         |  (SELECT n.line_id, n.kind, n.lake_id, n.cx, n.cy,
         |    row_number() OVER (PARTITION BY n.line_id, n.kind
         |      ORDER BY n.lake_id DESC) AS rn
         |   FROM near n JOIN qual q ON q.lake_id = n.lake_id)
         |  WHERE rn = 1)
         |SELECT s.line_id,
         |  CASE WHEN p0.cx IS NOT NULL THEN 1 ELSE 0 END AS prepended,
         |  COALESCE(p0.cx, s.x0) AS sx, COALESCE(p0.cy, s.y0) AS sy,
         |  CASE WHEN p1.cx IS NOT NULL THEN 1 ELSE 0 END AS appended,
         |  COALESCE(p1.cx, s.x0 + 3) AS ex, COALESCE(p1.cy, s.y0 + 8) AS ey
         |FROM sp0 s
         |LEFT JOIN pick p0 ON p0.line_id = s.line_id AND p0.kind = 0
         |LEFT JOIN pick p1 ON p1.line_id = s.line_id AND p1.kind = 1""".stripMargin
    },

    "geo_variogram" ->
      s"""WITH p AS (SELECT s_suppkey AS id,
         |  ((s_suppkey * 6151) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS x,
         |  ((s_suppkey * 4517) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS y,
         |  25 * ((s_suppkey * 6151) % 36000) + 50 * ((s_suppkey * 4517) % 17000) AS zq
         |  FROM supplier),
         |pr AS (SELECT a.id, b.id AS rid,
         |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2,
         |  a.zq - b.zq AS dz
         |  FROM p a JOIN p b ON a.id < b.id),
         |lg AS (SELECT CAST(floor(sqrt(dist2) / 8.0e0) AS BIGINT) AS lag, dz
         |  FROM pr WHERE dist2 <= 6400.0)
         |SELECT lag, count(*) AS n_pairs,
         |  round(CAST(sum(dz * dz) AS DOUBLE) /
         |    (CAST(2.0 AS DOUBLE) * count(*) * CAST(100000000.0 AS DOUBLE)), 6) AS gamma
         |FROM lg WHERE lag < 10 GROUP BY lag""".stripMargin,

    "geo_straight_segments" ->
      s"""WITH v AS (SELECT s_suppkey AS line_id, k.k AS k,
         |  CAST(k.k * 2 AS DOUBLE) AS x,
         |  CAST((s_suppkey * (k.k + 1) * 7919) % 200 AS DOUBLE) / CAST(10.0 AS DOUBLE) AS y
         |  FROM supplier CROSS JOIN range(0, 10) k(k)),
         |m AS (SELECT line_id, k, x, y,
         |  lag(x) OVER w AS px, lag(y) OVER w AS py,
         |  lead(x) OVER w AS nx, lead(y) OVER w AS ny
         |  FROM v WINDOW w AS (PARTITION BY line_id ORDER BY k)),
         |b AS (SELECT *, CASE WHEN k >= 1 AND k <= 8 AND
         |  ((x - px) * (nx - x) + (y - py) * (ny - y)) /
         |  (sqrt((x - px) * (x - px) + (y - py) * (y - py)) *
         |   sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y))) < 0.8660254037844387e0
         |  THEN 1 ELSE 0 END AS brk FROM m),
         |ri AS (SELECT *, sum(brk) OVER (PARTITION BY line_id ORDER BY k) AS run_inc FROM b),
         |sg AS (SELECT *,
         |  CAST(1 + COALESCE(lag(run_inc) OVER (PARTITION BY line_id ORDER BY k), 0) AS BIGINT) AS seg_id,
         |  COALESCE(CAST(round(sqrt((x - px) * (x - px) + (y - py) * (y - py)) * 1e9) AS BIGINT), 0) AS elen_nano
         |  FROM ri)
         |SELECT line_id, seg_id, count(*) + 1 AS n_vertices,
         |  CAST(sum(elen_nano) AS BIGINT) AS len_nano
         |FROM sg WHERE k >= 1 GROUP BY line_id, seg_id""".stripMargin,

    "geo_kriging" -> {
      def gam(h: String) =
        s"CASE WHEN $h >= 15.0 THEN 0.1 + 0.9 ELSE 0.1 + 0.9 * " +
          s"(1.5 * ($h / 15.0) - 0.5 * ($h / 15.0) * ($h / 15.0) * ($h / 15.0)) END"
      s"""WITH g AS ($GRID),
         |smp AS (SELECT r * 50 + c AS sid, CAST(c AS DOUBLE) AS sx,
         |  CAST(r AS DOUBLE) AS sy, v AS sv FROM g WHERE v >= 95),
         |tgt AS (SELECT r * 50 + c AS tid, CAST(c AS DOUBLE) AS tx,
         |  CAST(r AS DOUBLE) AS ty FROM g),
         |nn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
         |    ORDER BY d2, sid) AS rnk FROM (
         |  SELECT t.tid, s.sid, s.sx, s.sy, s.sv,
         |    (t.tx - s.sx) * (t.tx - s.sx) + (t.ty - s.sy) * (t.ty - s.sy) AS d2
         |  FROM tgt t CROSS JOIN smp s)),
         |pv AS (SELECT tid,
         |  max(CASE WHEN rnk = 1 THEN sx END) AS sx1,
         |  max(CASE WHEN rnk = 1 THEN sy END) AS sy1,
         |  max(CASE WHEN rnk = 1 THEN sv END) AS sv1,
         |  max(CASE WHEN rnk = 1 THEN d2 END) AS d21,
         |  max(CASE WHEN rnk = 2 THEN sx END) AS sx2,
         |  max(CASE WHEN rnk = 2 THEN sy END) AS sy2,
         |  max(CASE WHEN rnk = 2 THEN sv END) AS sv2,
         |  max(CASE WHEN rnk = 2 THEN d2 END) AS d22
         |  FROM nn WHERE rnk <= 2 GROUP BY tid),
         |hh AS (SELECT *, sqrt(d21) AS h1, sqrt(d22) AS h2,
         |  sqrt((sx1 - sx2) * (sx1 - sx2) + (sy1 - sy2) * (sy1 - sy2)) AS h12
         |  FROM pv),
         |gm AS (SELECT *, ${gam("h1")} AS g1t, ${gam("h2")} AS g2t,
         |  ${gam("h12")} AS g12 FROM hh),
         |w AS (SELECT *, (1.0 - (g1t - g2t) / g12) / 2.0 AS w1 FROM gm)
         |SELECT tid // 50 AS r, tid % 50 AS c,
         |  round(w1 * sv1 + (1.0 - w1) * sv2, 6) AS est FROM w""".stripMargin
    },

    "geo_kriging_knn" -> {
      def gam(h: String) =
        s"CASE WHEN $h >= 15.0 THEN 0.1 + 0.9 ELSE 0.1 + 0.9 * " +
          s"(1.5 * ($h / 15.0) - 0.5 * ($h / 15.0) * ($h / 15.0) * ($h / 15.0)) END"
      val pvCols = (1 to 3).flatMap(i => Seq(
        s"max(CASE WHEN rnk = $i THEN sx END) AS sx$i",
        s"max(CASE WHEN rnk = $i THEN sy END) AS sy$i",
        s"max(CASE WHEN rnk = $i THEN sv END) AS sv$i",
        s"max(CASE WHEN rnk = $i THEN d2 END) AS d2$i")).mkString(",\n  ")
      s"""WITH g AS ($GRID),
         |smp AS (SELECT r * 50 + c AS sid, CAST(c AS DOUBLE) AS sx,
         |  CAST(r AS DOUBLE) AS sy, v AS sv FROM g WHERE v >= 95),
         |tgt AS (SELECT r * 50 + c AS tid, CAST(c AS DOUBLE) AS tx,
         |  CAST(r AS DOUBLE) AS ty FROM g),
         |nn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
         |    ORDER BY d2, sid) AS rnk FROM (
         |  SELECT t.tid, s.sid, s.sx, s.sy, s.sv,
         |    (t.tx - s.sx) * (t.tx - s.sx) + (t.ty - s.sy) * (t.ty - s.sy) AS d2
         |  FROM tgt t CROSS JOIN smp s)),
         |pv AS (SELECT tid,
         |  $pvCols
         |  FROM nn WHERE rnk <= 3 GROUP BY tid),
         |gm AS (SELECT *, ${gam("sqrt(d21)")} AS gt1,
         |  ${gam("sqrt(d22)")} AS gt2, ${gam("sqrt(d23)")} AS gt3,
         |  ${gam("sqrt((sx1 - sx2) * (sx1 - sx2) + (sy1 - sy2) * (sy1 - sy2))")} AS g12,
         |  ${gam("sqrt((sx1 - sx3) * (sx1 - sx3) + (sy1 - sy3) * (sy1 - sy3))")} AS g13,
         |  ${gam("sqrt((sx2 - sx3) * (sx2 - sx3) + (sy2 - sy3) * (sy2 - sy3))")} AS g23
         |  FROM pv),
         |ab AS (SELECT *, -g12 - g13 + g23 AS a11, g12 - g13 + g23 AS a12,
         |  gt1 - gt2 - g13 + g23 AS b1, -2.0 * g13 AS a21,
         |  g12 - g23 - g13 AS a22, gt1 - gt3 - g13 AS b2 FROM gm),
         |w AS (SELECT *, (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a21) AS w1,
         |  (a11 * b2 - a21 * b1) / (a11 * a22 - a12 * a21) AS w2 FROM ab)
         |SELECT tid // 50 AS r, tid % 50 AS c,
         |  round(w1 * sv1 + w2 * sv2 + (1.0 - w1 - w2) * sv3, 6) AS est
         |FROM w""".stripMargin
    },

    "geo_rbf" -> {
      def phi(d: String) =
        s"sqrt(1.0 + (($d) / 25.0) * (($d) / 25.0))"
      s"""WITH g AS ($GRID),
         |s1 AS (SELECT CAST(c AS DOUBLE) AS sx1, CAST(r AS DOUBLE) AS sy1,
         |  v AS sv1 FROM g WHERE r = 5 AND c = 5),
         |s2 AS (SELECT CAST(c AS DOUBLE) AS sx2, CAST(r AS DOUBLE) AS sy2,
         |  v AS sv2 FROM g WHERE r = 20 AND c = 30),
         |s3 AS (SELECT CAST(c AS DOUBLE) AS sx3, CAST(r AS DOUBLE) AS sy3,
         |  v AS sv3 FROM g WHERE r = 35 AND c = 45),
         |smp AS (SELECT * FROM s1 CROSS JOIN s2 CROSS JOIN s3),
         |aa AS (SELECT *,
         |  ${phi("(sx1 - sx2) * (sx1 - sx2) + (sy1 - sy2) * (sy1 - sy2)")} AS a12,
         |  ${phi("(sx1 - sx3) * (sx1 - sx3) + (sy1 - sy3) * (sy1 - sy3)")} AS a13,
         |  ${phi("(sx2 - sx3) * (sx2 - sx3) + (sy2 - sy3) * (sy2 - sy3)")} AS a23,
         |  ${phi("0.0")} AS p0 FROM smp),
         |dd AS (SELECT *,
         |  p0 * (p0 * p0 - a23 * a23) - a12 * (a12 * p0 - a23 * a13)
         |    + a13 * (a12 * a23 - p0 * a13) AS det FROM aa),
         |ww AS (SELECT *,
         |  (sv1 * (p0 * p0 - a23 * a23) - a12 * (sv2 * p0 - a23 * sv3)
         |    + a13 * (sv2 * a23 - p0 * sv3)) / det AS w1,
         |  (p0 * (sv2 * p0 - a23 * sv3) - sv1 * (a12 * p0 - a23 * a13)
         |    + a13 * (a12 * sv3 - sv2 * a13)) / det AS w2,
         |  (p0 * (p0 * sv3 - sv2 * a23) - a12 * (a12 * sv3 - sv2 * a13)
         |    + sv1 * (a12 * a23 - p0 * a13)) / det AS w3 FROM dd),
         |t AS (SELECT g.r, g.c, ww.*,
         |  (CAST(g.c AS DOUBLE) - sx1) * (CAST(g.c AS DOUBLE) - sx1)
         |    + (CAST(g.r AS DOUBLE) - sy1) * (CAST(g.r AS DOUBLE) - sy1) AS d21,
         |  (CAST(g.c AS DOUBLE) - sx2) * (CAST(g.c AS DOUBLE) - sx2)
         |    + (CAST(g.r AS DOUBLE) - sy2) * (CAST(g.r AS DOUBLE) - sy2) AS d22,
         |  (CAST(g.c AS DOUBLE) - sx3) * (CAST(g.c AS DOUBLE) - sx3)
         |    + (CAST(g.r AS DOUBLE) - sy3) * (CAST(g.r AS DOUBLE) - sy3) AS d23
         |  FROM g CROSS JOIN ww)
         |SELECT r, c, round(w1 * ${phi("d21")} + w2 * ${phi("d22")}
         |  + w3 * ${phi("d23")}, 6) AS est FROM t""".stripMargin
    },

    "geo_local_poly" ->
      s"""WITH g AS ($GRID),
         |smp AS (SELECT r * 50 + c AS sid, CAST(c AS DOUBLE) AS sx,
         |  CAST(r AS DOUBLE) AS sy, v AS sv FROM g WHERE v >= 95),
         |tgt AS (SELECT r * 50 + c AS tid, CAST(c AS DOUBLE) AS tx,
         |  CAST(r AS DOUBLE) AS ty FROM g),
         |nn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid
         |    ORDER BY d2, sid) AS rnk FROM (
         |  SELECT t.tid, s.sid, s.sx, s.sy, s.sv,
         |    (t.tx - s.sx) * (t.tx - s.sx) + (t.ty - s.sy) * (t.ty - s.sy) AS d2
         |  FROM tgt t CROSS JOIN smp s)),
         |pv AS (SELECT tid,
         |  max(CASE WHEN rnk = 1 THEN sx END) AS sx1,
         |  max(CASE WHEN rnk = 1 THEN sy END) AS sy1,
         |  max(CASE WHEN rnk = 1 THEN sv END) AS sv1,
         |  max(CASE WHEN rnk = 2 THEN sx END) AS sx2,
         |  max(CASE WHEN rnk = 2 THEN sy END) AS sy2,
         |  max(CASE WHEN rnk = 2 THEN sv END) AS sv2,
         |  max(CASE WHEN rnk = 3 THEN sx END) AS sx3,
         |  max(CASE WHEN rnk = 3 THEN sy END) AS sy3,
         |  max(CASE WHEN rnk = 3 THEN sv END) AS sv3
         |  FROM nn WHERE rnk <= 3 GROUP BY tid),
         |pt AS (SELECT pv.*, CAST(tid % 50 AS DOUBLE) AS tx,
         |  CAST(tid // 50 AS DOUBLE) AS ty FROM pv),
         |dd AS (SELECT *,
         |  (sx2 - sx1) * (sy3 - sy1) - (sx3 - sx1) * (sy2 - sy1) AS det
         |  FROM pt)
         |SELECT tid // 50 AS r, tid % 50 AS c,
         |  round(CASE WHEN abs(det) < 1e-9 THEN sv1
         |    ELSE sv1 + ((sv2 - sv1) * (sy3 - sy1) - (sv3 - sv1) * (sy2 - sy1))
         |      / det * (tx - sx1)
         |      + ((sx2 - sx1) * (sv3 - sv1) - (sx3 - sx1) * (sv2 - sv1))
         |      / det * (ty - sy1) END, 6) AS est
         |FROM dd""".stripMargin,

    "geo_viewshed" ->
      s"""WITH g AS ($GRID),
         |vz AS (SELECT v + 1.0 AS zv FROM g WHERE r = 20 AND c = 25),
         |t AS (SELECT g.r, g.c, g.v, vz.zv,
         |  GREATEST(abs(g.r - 20), abs(g.c - 25)) AS n
         |  FROM g CROSS JOIN vz),
         |s AS (SELECT t.r, t.c, t.v, t.n, t.zv, k.k,
         |  20 + (k.k * (t.r - 20)) / CAST(t.n AS DOUBLE) AS xr,
         |  25 + (k.k * (t.c - 25)) / CAST(t.n AS DOUBLE) AS xc
         |  FROM t JOIN range(1, 50) k(k) ON k.k <= t.n - 1
         |  WHERE t.n >= 2),
         |w AS (SELECT *, CAST(floor(xr) AS BIGINT) AS fr,
         |  CAST(floor(xc) AS BIGINT) AS fc,
         |  xr - floor(xr) AS wr, xc - floor(xc) AS wc FROM s),
         |z AS (SELECT w.*, g00.v AS z00, g01.v AS z01, g10.v AS z10,
         |  g11.v AS z11 FROM w
         |  JOIN g g00 ON g00.r = w.fr AND g00.c = w.fc
         |  LEFT JOIN g g01 ON g01.r = w.fr AND g01.c = w.fc + 1
         |  LEFT JOIN g g10 ON g10.r = w.fr + 1 AND g10.c = w.fc
         |  LEFT JOIN g g11 ON g11.r = w.fr + 1 AND g11.c = w.fc + 1),
         |zk AS (SELECT r, c, n, zv, v, k,
         |  z00 * (1 - wr) * (1 - wc)
         |  + CASE WHEN wc > 0 THEN z01 * (1 - wr) * wc ELSE 0.0 END
         |  + CASE WHEN wr > 0 THEN z10 * wr * (1 - wc) ELSE 0.0 END
         |  + CASE WHEN wr > 0 AND wc > 0 THEN z11 * wr * wc ELSE 0.0 END
         |  AS zk FROM z),
         |blk AS (SELECT r, c,
         |  max(CASE WHEN (zk - zv) / (k / CAST(n AS DOUBLE)) >= v - zv
         |    THEN 1 ELSE 0 END) AS blk
         |  FROM zk GROUP BY r, c)
         |SELECT t.r, t.c, CAST(CASE WHEN t.n <= 1 THEN 1
         |  ELSE 1 - COALESCE(b.blk, 0) END AS BIGINT) AS vis
         |FROM t LEFT JOIN blk b ON b.r = t.r AND b.c = t.c""".stripMargin,

    "geo_visibility_index" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT r AS sr, c AS sc, v + 1.0 AS zv FROM g
         |  WHERE r % 20 = 0 AND c % 20 = 0),
         |t AS (SELECT g.r, g.c, g.v, st.sr, st.sc, st.zv,
         |  GREATEST(abs(g.r - st.sr), abs(g.c - st.sc)) AS n
         |  FROM g CROSS JOIN st),
         |s AS (SELECT t.*, k.k,
         |  t.sr + (k.k * (t.r - t.sr)) / CAST(t.n AS DOUBLE) AS xr,
         |  t.sc + (k.k * (t.c - t.sc)) / CAST(t.n AS DOUBLE) AS xc
         |  FROM t JOIN range(1, 50) k(k) ON k.k <= t.n - 1
         |  WHERE t.n >= 2),
         |w AS (SELECT *, CAST(floor(xr) AS BIGINT) AS fr,
         |  CAST(floor(xc) AS BIGINT) AS fc,
         |  xr - floor(xr) AS wr, xc - floor(xc) AS wc FROM s),
         |z AS (SELECT w.*, g00.v AS z00, g01.v AS z01, g10.v AS z10,
         |  g11.v AS z11 FROM w
         |  JOIN g g00 ON g00.r = w.fr AND g00.c = w.fc
         |  LEFT JOIN g g01 ON g01.r = w.fr AND g01.c = w.fc + 1
         |  LEFT JOIN g g10 ON g10.r = w.fr + 1 AND g10.c = w.fc
         |  LEFT JOIN g g11 ON g11.r = w.fr + 1 AND g11.c = w.fc + 1),
         |zk AS (SELECT r, c, sr, sc, n, zv, v, k,
         |  z00 * (1 - wr) * (1 - wc)
         |  + CASE WHEN wc > 0 THEN z01 * (1 - wr) * wc ELSE 0.0 END
         |  + CASE WHEN wr > 0 THEN z10 * wr * (1 - wc) ELSE 0.0 END
         |  + CASE WHEN wr > 0 AND wc > 0 THEN z11 * wr * wc ELSE 0.0 END
         |  AS zk FROM z),
         |blk AS (SELECT r, c, sr, sc,
         |  max(CASE WHEN (zk - zv) / (k / CAST(n AS DOUBLE)) >= v - zv
         |    THEN 1 ELSE 0 END) AS blk
         |  FROM zk GROUP BY r, c, sr, sc),
         |vis AS (SELECT t.r, t.c,
         |  CASE WHEN t.n <= 1 THEN 1.0
         |    ELSE 1.0 - COALESCE(b.blk, 0) END AS vis1
         |  FROM t LEFT JOIN blk b ON b.r = t.r AND b.c = t.c
         |    AND b.sr = t.sr AND b.sc = t.sc)
         |SELECT r, c, round(avg(vis1), 6) AS vis_index
         |FROM vis GROUP BY r, c""".stripMargin,

    "geo_dinf_pointer" ->
      s"""WITH g AS ($GRID),
         |$dinfSqlCtes
         |SELECT r, c, f AS facet, t1r, t1c, round(w1, 6) AS w1,
         |  t2r, t2c, round(w2, 6) AS w2 FROM dptr""".stripMargin,

    "geo_dinf_accum" ->
      s"""WITH g AS ($GRID),
         |$dinfSqlCtes,
         |${dinfAccumSqlCtes(24)}
         |SELECT r, c, round(acc, 6) AS acc FROM da_24""".stripMargin,

    "geo_fd8_accum" ->
      s"""WITH g AS ($GRID),
         |$fd8SqlCtes,
         |${accumSqlCtes(24, "fedges", "fa")}
         |SELECT r, c, round(acc, 6) AS acc FROM fa_24""".stripMargin,

    "geo_mdinf_accum" ->
      s"""WITH g AS ($GRID),
         |$mdinfSqlCtes,
         |${accumSqlCtes(24, "mdedges", "mda")}
         |SELECT r, c, round(acc, 6) AS acc FROM mda_24""".stripMargin,

    "geo_mdinf_edges" ->
      s"""WITH g AS ($GRID),
         |$mdinfSqlCtes
         |SELECT r, c, tr, tc, round(w, 6) AS w, j FROM mdedges""".stripMargin,

    "geo_side_mdinf" -> sideMdinfSql,

    "geo_stream_heads_mdinf" -> streamHeadsSql,

    "geo_mass_flux" -> {
      val dy = operators.Terrain.dY
      val dx = operators.Terrain.dX
      val trC = (0 until 8).map(i => s"WHEN ${1 << i} THEN ${dy(i)}")
        .mkString("CASE ptr ", " ", " END")
      val tcC = (0 until 8).map(i => s"WHEN ${1 << i} THEN ${dx(i)}")
        .mkString("CASE ptr ", " ", " END")
      val jC = (0 until 8).map(i => s"WHEN ${1 << i} THEN ${(i + 4) % 8}")
        .mkString("CASE ptr ", " ", " END")
      val sb = new StringBuilder
      sb ++= "mf_0 AS (SELECT r, c, load AS acc FROM ga)"
      for (i <- 1 to 24) {
        val ds = (0 until 8).map(j =>
          s"sum(CASE WHEN e.j = $j THEN GREATEST((a.acc - t.absorp) * t.eff, 0.0) END) AS d$j")
          .mkString(", ")
        val adds = (0 until 8).map(j => s"COALESCE(d$j, 0.0)")
          .mkString(" + ")
        sb ++=
          s""",
             |mfc_$i AS (SELECT e.tr AS r, e.tc AS c, $ds
             |  FROM medges e JOIN mf_${i - 1} a ON a.r = e.r AND a.c = e.c
             |  JOIN ga t ON t.r = e.r AND t.c = e.c
             |  GROUP BY 1, 2),
             |mf_$i AS MATERIALIZED (SELECT ga.r, ga.c, ga.load + $adds AS acc
             |  FROM ga LEFT JOIN mfc_$i x ON x.r = ga.r AND x.c = ga.c)"""
            .stripMargin
      }
      s"""WITH g AS ($GRID),
         |$d8SqlCtes,
         |ga AS (SELECT g.r, g.c, g.v AS load,
         |  CAST(0.8 AS DOUBLE) + CAST(g.r % 3 AS DOUBLE) * CAST(0.05 AS DOUBLE) AS eff,
         |  CAST(g.c % 4 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS absorp FROM g),
         |medges AS MATERIALIZED (SELECT r, c, r + $trC AS tr,
         |  c + $tcC AS tc, $jC AS j FROM p WHERE ptr > 0),
         |${sb.toString}
         |SELECT r, c, round(acc, 6) AS acc FROM mf_24""".stripMargin
    },

    "geo_mass_flux_dinf" -> {
      val sb = new StringBuilder
      sb ++= "mfd_0 AS (SELECT r, c, load AS acc FROM ga)"
      for (i <- 1 to 24) {
        val ds = (0 until 8).map(j =>
          s"sum(CASE WHEN e.j = $j THEN e.w * GREATEST((a.acc - t.absorp) * t.eff, 0.0) END) AS d$j")
          .mkString(", ")
        val adds = (0 until 8).map(j => s"COALESCE(d$j, 0.0)")
          .mkString(" + ")
        sb ++=
          s""",
             |mfdc_$i AS (SELECT e.tr AS r, e.tc AS c, $ds
             |  FROM dedges e JOIN mfd_${i - 1} a ON a.r = e.r AND a.c = e.c
             |  JOIN ga t ON t.r = e.r AND t.c = e.c
             |  GROUP BY 1, 2),
             |mfd_$i AS MATERIALIZED (SELECT ga.r, ga.c, ga.load + $adds AS acc
             |  FROM ga LEFT JOIN mfdc_$i x ON x.r = ga.r AND x.c = ga.c)"""
            .stripMargin
      }
      s"""WITH g AS ($GRID),
         |$dinfSqlCtes,
         |ga AS (SELECT g.r, g.c, g.v AS load,
         |  CAST(0.8 AS DOUBLE) + CAST(g.r % 3 AS DOUBLE) * CAST(0.05 AS DOUBLE) AS eff,
         |  CAST(g.c % 4 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS absorp FROM g),
         |${sb.toString}
         |SELECT r, c, round(acc, 6) AS acc FROM mfd_24""".stripMargin
    },

    "geo_rho8_pointer" -> {
      val dy = operators.Terrain.dY
      val dx = operators.Terrain.dX
      val joins = (0 until 8).map(i =>
        s"LEFT JOIN g b$i ON b$i.r = g.r + ${dy(i)} AND b$i.c = g.c + ${dx(i)}")
        .mkString("\n")
      val ns = (0 until 8).map(i => s"b$i.v AS n$i").mkString(", ")
      val ss = (0 until 8).map { i =>
        if (i % 2 == 1) s"(v - n$i) AS s$i"
        else s"((v - n$i) / (2.0 - CAST((((r * 50 + c) * 8 + $i) * " +
          s"2654435761 + 98765) % 1000003 AS DOUBLE) / 1000003.0)) AS s$i"
      }.mkString(",\n  ")
      val m = (0 until 8).map(i => s"COALESCE(s$i, -99999999.0)")
        .mkString("GREATEST(", ", ", ")")
      val pick = (0 until 8).map(i =>
        s"WHEN s$i IS NOT NULL AND s$i = m THEN ${1 << i}").mkString(" ")
      s"""WITH g AS ($GRID),
         |rnb AS (SELECT g.r, g.c, g.v, $ns FROM g
         |$joins),
         |rsl AS (SELECT r, c,
         |  $ss
         |  FROM rnb),
         |rm AS (SELECT *, $m AS m FROM rsl)
         |SELECT r, c, CAST(CASE WHEN m > 0 THEN (CASE $pick ELSE 0 END)
         |  ELSE 0 END AS BIGINT) AS ptr FROM rm""".stripMargin
    },

    "media_features" ->
      """WITH ch AS (SELECT doc_id,
        |  unnest(string_split(text, '')) AS ch,
        |  generate_subscripts(string_split(text, ''), 1) AS pos
        |  FROM documents),
        |hist AS (SELECT doc_id, ascii(ch) // 16 AS bucket, count(*) AS k
        |  FROM ch WHERE pos <= 4096 GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(k) AS n FROM hist GROUP BY 1),
        |ent AS (SELECT h.doc_id,
        |  -sum((k / CAST(n AS DOUBLE)) * (ln(k / CAST(n AS DOUBLE)) / ln(2.0))) AS e
        |  FROM hist h JOIN tot t ON t.doc_id = h.doc_id GROUP BY 1)
        |SELECT d.doc_id, CAST(octet_length(CAST(d.text AS BLOB)) AS BIGINT) AS n_bytes,
        |  round(e.e, 6) AS entropy
        |FROM documents d JOIN ent e ON e.doc_id = d.doc_id""".stripMargin,

    "media_image_decode" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
        |px AS (SELECT i.doc_id, (i.doc_id * 31 + x.x * 7 + y.x * 13) % 256 AS g
        |  FROM ids i CROSS JOIN range(0, 16) x(x) CROSS JOIN range(0, 16) y(x))
        |SELECT doc_id, CAST(16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height,
        |  CAST(sum(g) AS BIGINT) AS gray_sum
        |FROM px GROUP BY doc_id""".stripMargin,

    "q4_window" ->
      """SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rnk,
        |  COALESCE(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id), -1) AS gap_us
        |FROM events""".stripMargin,

    "q5_cdf" ->
      s"""WITH pts AS ($PTS)
         |SELECT id, round(cume_dist() OVER (ORDER BY val, id), 6) AS cd
         |FROM pts""".stripMargin,

    "geo_hist_equalize" ->
      s"""WITH g AS ($GRID)
         |SELECT r, c,
         |  CAST(floor(round(cume_dist() OVER (ORDER BY v, r * 50 + c), 6) * 255) AS BIGINT) AS eq
         |FROM g""".stripMargin,

    "geo_trend_surface" ->
      s"""WITH g AS ($GRID),
         |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(c) AS DOUBLE) AS sx, CAST(sum(r) AS DOUBLE) AS sy,
         |  CAST(sum(c * c) AS DOUBLE) AS sxx,
         |  CAST(sum(c * r) AS DOUBLE) AS sxy,
         |  CAST(sum(r * r) AS DOUBLE) AS syy,
         |  sum(v) AS sz, sum(c * v) AS sxz, sum(r * v) AS syz FROM g)
         |SELECT
         |  round((sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) + sy * (sxz * sxy - sxx * syz))
         |    / (n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy)), 6) AS pa,
         |  round((n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) + sy * (sx * syz - sxz * sy))
         |    / (n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy)), 6) AS pb,
         |  round((n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) + sz * (sx * sxy - sxx * sy))
         |    / (n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) + sy * (sx * sxy - sxx * sy)), 6) AS pc
         |FROM a""".stripMargin,

    "geo_zscore" ->
      s"""WITH pts AS ($PTS),
         |st AS (SELECT sum(val) AS sx, sum(val * val) AS sxx,
         |  count(*) AS n FROM pts)
         |SELECT id,
         |  round((val - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS z
         |FROM pts CROSS JOIN st""".stripMargin,

    "geo_crosstab" ->
      """SELECT c_nationkey % 5 AS a, c_custkey % 7 AS b, count(*) AS n
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "geo_correlation" ->
      """WITH xy AS (SELECT c_acctbal AS xv,
        |  ((c_custkey * 131) % 9973) / CAST(100.0 AS DOUBLE) AS yv FROM customer),
        |st AS (SELECT sum(xv) AS sx, sum(yv) AS sy, sum(xv * xv) AS sxx,
        |  sum(yv * yv) AS syy, sum(xv * yv) AS sxy, count(*) AS n FROM xy)
        |SELECT round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS pearson_r
        |FROM st""".stripMargin,

    "geo_regression" ->
      """WITH xy AS (SELECT c_acctbal AS xv,
        |  ((c_custkey * 131) % 9973) / CAST(100.0 AS DOUBLE) AS yv FROM customer),
        |st AS (SELECT sum(xv) AS sx, sum(yv) AS sy, sum(xv * xv) AS sxx,
        |  sum(xv * yv) AS sxy, count(*) AS n FROM xy)
        |SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM st""".stripMargin,

    "geo_moran" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT sum(v) AS sx, count(*) AS n FROM g),
         |pairs AS (SELECT a.v AS v, b.v AS vj
         |  FROM g a JOIN g b ON (abs(a.r - b.r) + abs(a.c - b.c)) = 1),
         |ps AS (SELECT sum((v - sx / n) * (vj - sx / n)) AS s,
         |  count(*) AS w FROM pairs CROSS JOIN st),
         |m2t AS (SELECT sum((v - sx / n) * (v - sx / n)) AS m2,
         |  first(n) AS n FROM g CROSS JOIN st)
         |SELECT round(CAST(n AS DOUBLE) / w * s / m2, 6) AS moran_i, w, n
         |FROM ps CROSS JOIN m2t""".stripMargin,

    "geo_histogram" ->
      s"""WITH pts AS ($PTS)
         |SELECT CAST(floor(val / 500.0) AS BIGINT) AS bin, count(*) AS n,
         |  CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM pts GROUP BY 1""".stripMargin,

    "geo_resample_bilinear" ->
      s"""WITH g AS ($GRID),
         |t AS (SELECT x // 100 AS i, x % 100 AS j,
         |  (x // 100) * CAST(0.9 AS DOUBLE) + CAST(0.3 AS DOUBLE) AS sr,
         |  (x % 100) * CAST(0.45 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS sc
         |  FROM range(4000) AS rt(x)),
         |t2 AS (SELECT i, j, sr, sc,
         |  CAST(floor(sr) AS BIGINT) AS r0, CAST(floor(sc) AS BIGINT) AS c0,
         |  sr - CAST(floor(sr) AS BIGINT) AS fr,
         |  sc - CAST(floor(sc) AS BIGINT) AS fc FROM t)
         |SELECT t2.i, t2.j,
         |  round((1 - fr) * (1 - fc) * g00.v + (1 - fr) * fc * g01.v + fr * (1 - fc) * g10.v + fr * fc * g11.v, 6) AS bv
         |FROM t2
         |JOIN g g00 ON g00.r = t2.r0 AND g00.c = t2.c0
         |JOIN g g01 ON g01.r = t2.r0 AND g01.c = t2.c0 + 1
         |JOIN g g10 ON g10.r = t2.r0 + 1 AND g10.c = t2.c0
         |JOIN g g11 ON g11.r = t2.r0 + 1 AND g11.c = t2.c0 + 1""".stripMargin,

    "geo_stack_position" ->
      s"""WITH st AS (${Derived.partStackSql})
         |SELECT r, c,
         |  CAST(CASE WHEN v2 > v1 THEN (CASE WHEN v3 > v2 THEN 2 ELSE 1 END)
         |       ELSE (CASE WHEN v3 > v1 THEN 2 ELSE 0 END) END AS BIGINT) AS hi_pos,
         |  CAST(CASE WHEN v2 < v1 THEN (CASE WHEN v3 < v2 THEN 2 ELSE 1 END)
         |       ELSE (CASE WHEN v3 < v1 THEN 2 ELSE 0 END) END AS BIGINT) AS lo_pos,
         |  round(((CASE WHEN v1 > 50.0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN v2 > 50.0 THEN 1 ELSE 0 END)
         |    + (CASE WHEN v3 > 50.0 THEN 1 ELSE 0 END)) * 100.0 / 3.0, 4) AS pct_gt
         |FROM st""".stripMargin,

    "geo_resample_nn" ->
      s"""WITH g AS ($GRID),
         |t AS (SELECT x // 100 AS i, x % 100 AS j,
         |  CAST(floor((x // 100) * CAST(0.9 AS DOUBLE) + CAST(0.3 AS DOUBLE) + 0.5) AS BIGINT) AS rn,
         |  CAST(floor((x % 100) * CAST(0.45 AS DOUBLE) + CAST(0.2 AS DOUBLE) + 0.5) AS BIGINT) AS cn
         |  FROM range(4000) AS rt(x))
         |SELECT t.i, t.j, g.v AS nv
         |FROM t JOIN g ON g.r = t.rn AND g.c = t.cn""".stripMargin,

    "geo_mosaic" ->
      s"""WITH g AS ($GRID),
         |b AS (SELECT r + 17 AS r, c + 23 AS c, v + 500.0 AS bv FROM g)
         |SELECT COALESCE(g.r, b.r) AS r, COALESCE(g.c, b.c) AS c,
         |  COALESCE(b.bv, g.v) AS mv
         |FROM g FULL OUTER JOIN b ON b.r = g.r AND b.c = g.c""".stripMargin,

    "geo_flip" ->
      s"""WITH g AS ($GRID)
         |SELECT 39 - r AS r, c, v FROM g""".stripMargin,

    "geo_random_field" ->
      s"""WITH g AS ($GRID)
         |SELECT r, c,
         |  CAST(((r * 50 + c) * 2654435761 + 12345) % 1000003 AS DOUBLE) / CAST(1000003.0 AS DOUBLE) AS u
         |FROM g""".stripMargin,

    "geo_medoid" ->
      s"""WITH pts AS ($PTS),
         |zoned AS (SELECT id, x, y,
         |  LEAST(GREATEST(CAST(floor((y + 90.0) / 180.0 * 32) AS BIGINT), 0), 31) * 64
         |  + ((CAST(floor((x + 180.0) / 360.0 * 64) AS BIGINT) % 64) + 64) % 64 AS zone
         |  FROM pts),
         |meds AS (SELECT zone, list_sort(list(x)) AS xa,
         |  list_sort(list(y)) AS ya, count(*) AS n FROM zoned GROUP BY zone),
         |med2 AS (SELECT zone,
         |  CASE WHEN n % 2 = 0 THEN (xa[n // 2] + xa[n // 2 + 1]) / 2
         |       ELSE xa[(n + 1) // 2] END AS medx,
         |  CASE WHEN n % 2 = 0 THEN (ya[n // 2] + ya[n // 2 + 1]) / 2
         |       ELSE ya[(n + 1) // 2] END AS medy
         |  FROM meds),
         |ranked AS (SELECT z.zone, z.id,
         |  ROW_NUMBER() OVER (PARTITION BY z.zone
         |    ORDER BY (z.x - m.medx) * (z.x - m.medx) + (z.y - m.medy) * (z.y - m.medy), z.id) AS rn
         |  FROM zoned z JOIN med2 m ON m.zone = z.zone)
         |SELECT zone, id AS medoid_id FROM ranked WHERE rn = 1""".stripMargin,

    "geo_ttest" ->
      s"""WITH st AS (${Derived.partStackSql}),
         |d AS (SELECT CAST(round((v1 - v2) * 10) AS BIGINT) AS d10 FROM st),
         |agg AS (SELECT CAST(sum(d10) AS BIGINT) AS s10,
         |  CAST(sum(d10 * d10) AS BIGINT) AS q100, count(*) AS n FROM d)
         |SELECT n, round(s10 / 10.0 / n, 6) AS mean_diff,
         |  round((s10 / 10.0 / n) /
         |    (sqrt((n * q100 - s10 * s10) / 100.0 / (n * (n - 1))) / sqrt(n)), 6) AS t
         |FROM agg""".stripMargin,

    "geo_kappa" ->
      """WITH ab AS (SELECT c_nationkey % 5 AS a, (c_custkey * 7919) % 5 AS b FROM customer),
        |tot AS (SELECT count(*) AS n,
        |  sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS diag FROM ab),
        |ra AS (SELECT a, count(*) AS ra FROM ab GROUP BY a),
        |cb AS (SELECT b, count(*) AS cb FROM ab GROUP BY b),
        |pes AS (SELECT CAST(sum(ra.ra * cb.cb) AS BIGINT) AS pesum FROM ra JOIN cb ON cb.b = ra.a)
        |SELECT n, round(CAST(diag AS DOUBLE) / n, 6) AS po,
        |  round((CAST(diag AS DOUBLE) / n - CAST(pesum AS DOUBLE) / (n * n)) /
        |    (CAST(1.0 AS DOUBLE) - CAST(pesum AS DOUBLE) / (n * n)), 6) AS kappa
        |FROM tot CROSS JOIN pes""".stripMargin,

    "geo_clark_evans" ->
      s"""WITH pts AS ($PTS),
         |nn AS (SELECT a.id, min((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d2
         |  FROM pts a JOIN pts b ON b.id <> a.id GROUP BY a.id),
         |agg AS (SELECT sum(sqrt(d2)) AS sd, count(*) AS n FROM nn),
         |bb AS (SELECT (max(x) - min(x)) * (max(y) - min(y)) AS area FROM pts)
         |SELECT n, round(sd / n, 6) AS robs,
         |  round(0.5 / sqrt(n / area), 6) AS rexp,
         |  round((sd / n) / (0.5 / sqrt(n / area)), 6) AS ratio
         |FROM agg CROSS JOIN bb""".stripMargin,

    "geo_wkt_roundtrip" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT fid,
         |  round((max_x - min_x) * (max_y - min_y), 6) AS area,
         |  CAST(4 AS BIGINT) AS nv, CAST(1 AS BIGINT) AS nparts
         |FROM sq""".stripMargin,

    "geo_buffer_area" ->
      s"""WITH s AS ($SPTS)
         |SELECT s_id,
         |  round(0.5 * 32 * rr * rr * sin(2 * pi() / 32), 4) AS barea
         |FROM (SELECT s_id, CAST(1.0 AS DOUBLE) + s_id % 3 AS rr FROM s)""".stripMargin,

    "geo_clip_area" ->
      s"""WITH s AS ($SPTS)
         |SELECT s_id, round(rr * rr, 4) AS carea
         |FROM (SELECT s_id, CAST(1.0 AS DOUBLE) + s_id % 3 AS rr FROM s)""".stripMargin,

    // ---- focal filter presets, round 3 ----

    "geo_conv_highpass" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(2, reflect = true)},
         |agg AS (SELECT con.r, con.c, first(con.cz) AS cz,
         |  sum(CAST(round(con.nv * 10) AS BIGINT)) AS sumk, count(*) AS n
         |  FROM con GROUP BY con.r, con.c)
         |SELECT r, c, round(CAST(CAST(round(cz * 10) AS BIGINT) * n - sumk AS DOUBLE) / (n * 10.0), 6) AS cv
         |FROM agg""".stripMargin,

    "geo_conv_line_detect" -> {
      val kernel = operators.Focal.lineDetectV3x3
      val wTot = kernel.map(_._3.toLong).sum
      val values = kernel.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toLong} AS BIGINT))"
      }.mkString(", ")
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = true)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, w)),
         |agg AS (SELECT con.r, con.c, first(con.cz) AS cz,
         |  sum(k.w * CAST(round(con.nv * 10) AS BIGINT)) AS swk,
         |  sum(k.w) AS wp
         |  FROM con JOIN k ON k.dy = con.dy AND k.dx = con.dx
         |  GROUP BY con.r, con.c)
         |SELECT r, c, abs(round((swk + CAST(round(cz * 10) AS BIGINT) * ($wTot - wp)) / 10.0, 6)) AS cv
         |FROM agg""".stripMargin
    },

    "geo_conservative_smooth" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = true)},
         |mm AS (SELECT r, c, first(cz) AS cz,
         |  min(CASE WHEN dy <> 0 AND dx <> 0 THEN nv END) AS mn,
         |  max(CASE WHEN dy <> 0 AND dx <> 0 THEN nv END) AS mx
         |  FROM con GROUP BY r, c)
         |SELECT r, c, CASE WHEN cz > mx THEN mx
         |  WHEN cz < mn THEN mn ELSE cz END AS cv
         |FROM mm""".stripMargin,

    "geo_knearest_mean" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = false)},
         |rk AS (SELECT r, c, cz, nv, ROW_NUMBER() OVER (
         |    PARTITION BY r, c
         |    ORDER BY (nv - cz) * (nv - cz), (dy + 1) * 3 + (dx + 1)) AS rk
         |  FROM con),
         |agg AS (SELECT r, c, first(cz) AS cz,
         |  sum(CAST(round(nv * 10) AS BIGINT)) AS sumk, count(*) AS n
         |  FROM rk WHERE rk <= 5 GROUP BY r, c)
         |SELECT r, c, round(CASE WHEN n = 5
         |  THEN CAST(sumk AS DOUBLE) / 50.0 ELSE cz END, 6) AS cv
         |FROM agg""".stripMargin,

    "geo_bilateral" -> {
      val (kernel, radius) = operators.Focal.bilateralKernel(0.75, 3.0)
      val twoSigmaSqrI = 2.0 * 3.0 * 3.0
      val values = kernel.map { case (dy, dx, w) =>
        s"($dy, $dx, CAST(${w.toString} AS DOUBLE))"
      }.mkString(", ")
      s"""WITH g AS ($GRID),
         |${focalConSql(radius, reflect = false)},
         |k AS (SELECT * FROM (VALUES $values) AS t(dy, dx, wd)),
         |wi AS (SELECT con.r, con.c, con.nv,
         |  k.wd / (1.0 + u + u * u / 2.0 + u * u * u / 6.0 + u * u * u * u / 24.0) AS wi
         |  FROM (SELECT con.*, ((con.nv - con.cz) * (con.nv - con.cz)) / ${twoSigmaSqrI.toString} AS u
         |    FROM con) con
         |  JOIN k ON k.dy = con.dy AND k.dx = con.dx),
         |agg AS (SELECT r, c,
         |  sum(CAST(round(wi * nv * 1e9) AS BIGINT)) AS sl,
         |  sum(CAST(round(wi * 1e9) AS BIGINT)) AS sw
         |  FROM wi GROUP BY r, c)
         |SELECT r, c, round(CAST(sl AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS cv
         |FROM agg""".stripMargin
    },

    "geo_tang_curv" ->
      s"""WITH g AS ($GRID),
         |$surfaceSql
         |SELECT r, c, round((zxx * zy2 - 2 * zxy * zx * zy + zyy * zx2) /
         |  (p * ((p + 1) * sqrt(p + 1))) * $RadToDegLit * 100, 6) + 0.0 AS tang_curv
         |FROM st2 WHERE p > 0""".stripMargin,

    "geo_relative_aspect" ->
      s"""WITH g AS ($GRID),
         |$stencilReflectSql,
         |f AS (SELECT r, c, $FxSql AS fx, $FySql AS fy FROM nb),
         |a AS (SELECT r, c, CASE WHEN fx <> 0
         |  THEN $AspectSql ELSE NULL END AS asp FROM f)
         |SELECT r, c, round(CASE WHEN asp IS NULL THEN -1.0
         |  WHEN abs(asp - 45.0) > 180.0 THEN 360.0 - abs(asp - 45.0)
         |  ELSE abs(asp - 45.0) END, 6) AS rel_aspect
         |FROM a""".stripMargin,

    "geo_find_ridges" ->
      s"""WITH g AS ($GRID)
         |SELECT g.r, g.c, CAST(1 AS BIGINT) AS ridge
         |FROM g
         |LEFT JOIN g u ON u.r = g.r - 1 AND u.c = g.c
         |LEFT JOIN g d ON d.r = g.r + 1 AND d.c = g.c
         |LEFT JOIN g l ON l.r = g.r AND l.c = g.c - 1
         |LEFT JOIN g rt ON rt.r = g.r AND rt.c = g.c + 1
         |WHERE (u.v < g.v AND d.v < g.v) OR (l.v < g.v AND rt.v < g.v)""".stripMargin,

    // ---- hydrology flowpath-metric tail, round 3 ----

    "geo_num_inflowing" ->
      s"""WITH g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |cnt AS (SELECT tr, tc, count(*) AS k FROM e GROUP BY tr, tc)
         |SELECT p.r, p.c, CAST(COALESCE(cnt.k, 0) AS BIGINT) AS n
         |FROM p LEFT JOIN cnt ON cnt.tr = p.r AND cnt.tc = p.c""".stripMargin,

    "geo_no_flow_cells" -> {
      val hasLower = (0 until 8)
        .map(i => s"(n$i IS NOT NULL AND n$i < v)").mkString(" OR ")
      s"""WITH g AS ($GRID),
         |$d8SqlCtes
         |SELECT r, c, CAST(1 AS BIGINT) AS noflow FROM nb
         |WHERE NOT ($hasLower)""".stripMargin
    },

    "geo_elev_above_stream" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON e.r = w.r AND e.c = w.c
         |  LEFT JOIN stream s ON s.r = w.r AND s.c = w.c
         |  WHERE s.r IS NULL),
         |term AS (SELECT w.sr AS r, w.sc AS c, w.r AS tr, w.c AS tc
         |  FROM walk w JOIN stream s ON s.r = w.r AND s.c = w.c)
         |SELECT t.r, t.c, round(gv.v - sv.v, 6) AS elev_above
         |FROM term t JOIN g gv ON gv.r = t.r AND gv.c = t.c
         |JOIN g sv ON sv.r = t.tr AND sv.c = t.tc""".stripMargin,

    "geo_gully_depth" -> {
      val maxW = "6.0e0"; val maxD = "90.0e0"; val minD = "0.5e0"
      val t10 = "-150"; val cpc = "100.0e0"
      val sq2 = math.sqrt(2.0).toString + "e0"
      def dirCtes(dir: Int, keyE: String, posE: String,
                  diag: Boolean): String = {
        val q = s"g$dir"
        val resL = if (diag) sq2 else "1.0e0"
        def distOf(steps: String): String =
          if (diag)
            s"sqrt(CAST($steps AS DOUBLE) * CAST($steps AS DOUBLE) * 2.0e0) * $sq2"
          else s"CAST($steps AS DOUBLE) * 1.0e0"
        val d0 = s"(rb.stz + (rb.endz - rb.stz) * " +
          s"${distOf("mm.pos - (rb.a - 1)")} / rb.len) - mm.z"
        s"""${q}b AS (SELECT r, c, z, m, hp, $keyE AS key, $posE AS pos FROM cells),
           |${q}mm AS (SELECT *, pos - row_number() OVER (PARTITION BY key ORDER BY pos) AS grp
           |  FROM ${q}b WHERE m),
           |${q}rn AS (SELECT key, grp, min(pos) AS a, max(pos) AS b,
           |  max(CASE WHEN hp THEN 1 ELSE 0 END) AS runhp
           |  FROM ${q}mm GROUP BY key, grp),
           |${q}rb AS MATERIALIZED (SELECT rs.key, rs.grp, rs.a, rs.b, rs.runhp,
           |  st.z AS stz, en.z AS endz,
           |  CAST(rs.b - rs.a + 3 AS DOUBLE) * $resL AS len
           |  FROM ${q}rn rs
           |  JOIN ${q}b st ON st.key = rs.key AND st.pos = rs.a - 1
           |  JOIN ${q}b en ON en.key = rs.key AND en.pos = rs.b + 1),
           |${q}mx AS (SELECT rb.key, rb.grp, max((rb.stz + (rb.endz - rb.stz) *
           |    ${distOf("zz.pos - (rb.a - 1)")} / rb.len) - zz.z) AS mxd
           |  FROM ${q}rb rb JOIN ${q}b zz ON zz.key = rb.key
           |    AND zz.pos >= rb.a - 1 AND zz.pos <= rb.b + 1
           |  WHERE CAST(rb.b - rb.a + 2 AS DOUBLE) * $resL <= $maxW
           |  GROUP BY rb.key, rb.grp),
           |${q}o AS (SELECT mm.r, mm.c, $dir AS dir, rb.len,
           |  (rb.runhp = 1 AND CAST(mm.pos - rb.a + 1 AS DOUBLE) * $resL <= $maxW
           |   AND CAST(rb.b - rb.a + 2 AS DOUBLE) * $resL <= $maxW
           |   AND COALESCE(mx.mxd <= $maxD AND mx.mxd > $minD, false)) AS flag,
           |  CASE WHEN $d0 <= 0 THEN 0.0 ELSE $d0 END AS depth
           |  FROM ${q}mm mm JOIN ${q}rb rb ON rb.key = mm.key AND rb.grp = mm.grp
           |  LEFT JOIN ${q}mx mx ON mx.key = mm.key AND mx.grp = mm.grp)"""
          .stripMargin
      }
      s"""WITH g0 AS ($GRID),
         |g AS (SELECT r, c, v + CAST((r * 7 + c * 13) % 11 AS DOUBLE) AS v FROM g0),
         |$surfaceSql,
         |pc AS (SELECT r, c, round((zxx * zy2 - 2 * zxy * zx * zy + zyy * zx2)
         |  / (p * sqrt(p)) * $RadToDegLit * 100, 6) AS plan_curv
         |  FROM st2 WHERE p > 0),
         |fw AS (SELECT a.r, a.c, sum(CAST(round(b.v * 10) AS BIGINT)) AS sum10,
         |  count(*) AS cnt FROM g a JOIN g b ON b.r BETWEEN a.r - 3 AND a.r + 3
         |  AND b.c BETWEEN a.c - 3 AND a.c + 3 GROUP BY a.r, a.c),
         |cells AS MATERIALIZED (SELECT g.r, g.c, g.v AS z,
         |  (CAST(round(g.v * 10) AS BIGINT) * f.cnt - f.sum10) <= $t10 * f.cnt AS m,
         |  COALESCE(pc.plan_curv >= $cpc, false) AS hp
         |  FROM g JOIN fw f ON f.r = g.r AND f.c = g.c
         |  LEFT JOIN pc ON pc.r = g.r AND pc.c = g.c),
         |${dirCtes(0, "c", "r", diag = false)},
         |${dirCtes(1, "r", "c", diag = false)},
         |${dirCtes(2, "c - r", "r", diag = true)},
         |${dirCtes(3, "r + c", "r", diag = true)},
         |allo AS (SELECT * FROM g0o UNION ALL SELECT * FROM g1o
         |  UNION ALL SELECT * FROM g2o UNION ALL SELECT * FROM g3o),
         |pick AS (SELECT r, c, depth FROM (SELECT r, c, depth,
         |  row_number() OVER (PARTITION BY r, c ORDER BY len, dir) AS rn
         |  FROM allo WHERE flag) WHERE rn = 1)
         |SELECT g.r, g.c, round(COALESCE(p.depth, 0.0), 6) AS gully_depth
         |FROM g LEFT JOIN pick p ON p.r = g.r AND p.c = g.c""".stripMargin
    },

    "geo_saddle_points" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |heads AS (SELECT s.r AS hr, s.c AS hc, s.r * 50 + s.c AS head_id
         |  FROM stream s LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
         |  WHERE COALESCE(d.n, 0) = 0),
         |ridge AS (SELECT g.r, g.c, g.v FROM g WHERE NOT EXISTS
         |  (SELECT 1 FROM e WHERE e.tr = g.r AND e.tc = g.c)),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON e.r = w.r AND e.c = w.c
         |  LEFT JOIN stream s ON s.r = w.r AND s.c = w.c
         |  WHERE s.r IS NULL),
         |term AS (SELECT w.sr AS r, w.sc AS c, w.r AS tr, w.c AS tc
         |  FROM walk w JOIN stream s ON s.r = w.r AND s.c = w.c),
         |cand AS (SELECT h.head_id, t.r, t.c, rg.v
         |  FROM term t JOIN ridge rg ON rg.r = t.r AND rg.c = t.c
         |  JOIN heads h ON h.hr = t.tr AND h.hc = t.tc)
         |SELECT head_id, r, c, v AS saddle_z FROM cand
         |QUALIFY row_number() OVER (PARTITION BY head_id ORDER BY v, r, c) = 1""".stripMargin,

    "geo_downslope_dist_stream" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |ed AS (SELECT e.r, e.c, e.tr, e.tc,
         |  (abs(e.tr - e.r) + abs(e.tc - e.c) = 2) AS diag FROM e),
         |walk AS (SELECT r AS sr, c AS sc, r, c,
         |  CAST(0 AS BIGINT) AS ns, CAST(0 AS BIGINT) AS nd FROM g
         |  UNION SELECT w.sr, w.sc, ed.tr, ed.tc,
         |    w.ns + CASE WHEN ed.diag THEN 0 ELSE 1 END,
         |    w.nd + CASE WHEN ed.diag THEN 1 ELSE 0 END
         |  FROM walk w JOIN ed ON ed.r = w.r AND ed.c = w.c
         |  LEFT JOIN stream s ON s.r = w.r AND s.c = w.c
         |  WHERE s.r IS NULL),
         |term AS (SELECT w.sr AS r, w.sc AS c, w.ns, w.nd FROM walk w
         |  JOIN stream s ON s.r = w.r AND s.c = w.c)
         |SELECT r, c, CAST(ns * 1000000000 + nd * ${operators.Terrain.DiagNano} AS BIGINT) AS dist_nano
         |FROM term""".stripMargin,

    "geo_upslope_flowpath" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |$d8EdgeSql,
         |ed AS (SELECT r, c, tr, tc,
         |  CASE WHEN abs(tr - r) + abs(tc - c) = 2
         |    THEN ${operators.Terrain.DiagNano} ELSE 1000000000 END AS d
         |  FROM e),
         |walk AS (SELECT r AS sr, c AS sc, r, c, CAST(0 AS BIGINT) AS len
         |  FROM g
         |  UNION SELECT w.sr, w.sc, ed.tr, ed.tc, w.len + ed.d
         |  FROM walk w JOIN ed ON ed.r = w.r AND ed.c = w.c)
         |SELECT w.r, w.c, CAST(max(w.len) AS BIGINT) AS max_len_nano,
         |  count(*) AS n_paths, CAST(sum(w.len) AS BIGINT) AS sum_len_nano
         |FROM walk w GROUP BY w.r, w.c""".stripMargin,

    "geo_cost_pathway" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${costAccumSqlCtes(48)},
         |a6 AS (SELECT r, c, round(acc, 6) AS a6 FROM ca_48),
         |wc AS (SELECT a6.r, a6.c, a6.a6, cost.v AS cv FROM a6
         |  JOIN cost ON cost.r = a6.r AND cost.c = a6.c),
         |cand AS (SELECT t.r, t.c, n.r AS nr, n.c AS nc,
         |  n.a6 + (n.cv + t.cv) / 2.0 *
         |    (CASE WHEN n.r <> t.r AND n.c <> t.c THEN sqrt(2.0) ELSE 1.0 END) AS vl,
         |  (n.r - t.r + 1) * 3 + (n.c - t.c + 1) AS i
         |  FROM wc t JOIN wc n ON abs(n.r - t.r) <= 1
         |    AND abs(n.c - t.c) <= 1 AND NOT (n.r = t.r AND n.c = t.c)
         |  LEFT JOIN csrc s ON s.r = t.r AND s.c = t.c
         |  WHERE s.r IS NULL),
         |bl AS (SELECT r, c, nr, nc FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY r, c ORDER BY vl, i) AS rn
         |  FROM cand) WHERE rn = 1),
         |dst AS (SELECT r, c FROM g WHERE v <= CAST(0.5 AS DOUBLE)),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM dst
         |  UNION SELECT w.sr, w.sc, bl.nr, bl.nc
         |  FROM walk w JOIN bl ON bl.r = w.r AND bl.c = w.c)
         |SELECT r, c, count(*) AS n_paths FROM walk GROUP BY r, c""".stripMargin,

    "geo_burn_streams" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |nd AS (SELECT t.r, t.c, t.v,
         |  sqrt(min((t.r - s.r) * (t.r - s.r) + (t.c - s.c) * (t.c - s.c))) AS dist
         |  FROM g t CROSS JOIN stream s GROUP BY t.r, t.c, t.v)
         |SELECT r, c,
         |  round(v - (1.0 / (1.0 + dist)) * (1.0 / (1.0 + dist)) * 5.0, 6) AS burned
         |FROM nd""".stripMargin,

    "geo_hack_order" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |cg AS (SELECT DISTINCT l1.link_id AS child, l2.link_id AS parent
         |  FROM sedges e JOIN links l1 ON l1.r = e.r AND l1.c = e.c
         |  JOIN links l2 ON l2.r = e.tr AND l2.c = e.tc
         |  WHERE l1.link_id <> l2.link_id),
         |ids AS (SELECT DISTINCT link_id FROM links),
         |lreach(a, b) AS (SELECT child, parent FROM cg
         |  UNION SELECT r.a, cg.parent FROM lreach r
         |  JOIN cg ON cg.child = r.b),
         |ext AS (SELECT link_id FROM ids
         |  WHERE link_id NOT IN (SELECT parent FROM cg)),
         |magup AS (SELECT r.b AS link_id, count(*) AS k FROM lreach r
         |  JOIN ext e ON e.link_id = r.a GROUP BY r.b),
         |mag AS (SELECT i.link_id,
         |  CAST(CASE WHEN ec.link_id IS NOT NULL THEN 1 ELSE 0 END
         |    + COALESCE(mu.k, 0) AS BIGINT) AS mag
         |  FROM ids i LEFT JOIN ext ec ON ec.link_id = i.link_id
         |  LEFT JOIN magup mu ON mu.link_id = i.link_id),
         |best AS (SELECT parent, child AS bc FROM (SELECT cg.parent,
         |    cg.child, ROW_NUMBER() OVER (PARTITION BY cg.parent
         |      ORDER BY m.mag DESC, cg.child ASC) AS rn
         |  FROM cg JOIN mag m ON m.link_id = cg.child) WHERE rn = 1),
         |hk(link_id, h) AS (
         |  SELECT i.link_id, CAST(1 AS BIGINT) AS h FROM ids i
         |  WHERE i.link_id NOT IN (SELECT child FROM cg)
         |  UNION
         |  SELECT cg.child,
         |    hk.h + CASE WHEN cg.child = b.bc THEN 0 ELSE 1 END
         |  FROM hk JOIN cg ON cg.parent = hk.link_id
         |  JOIN best b ON b.parent = cg.parent)
         |SELECT link_id, CAST(h AS BIGINT) AS hack FROM hk""".stripMargin,

    "geo_remove_short_streams" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5L)},
         |cg AS (SELECT DISTINCT l1.link_id AS child, l2.link_id AS parent
         |  FROM sedges e JOIN links l1 ON l1.r = e.r AND l1.c = e.c
         |  JOIN links l2 ON l2.r = e.tr AND l2.c = e.tc
         |  WHERE l1.link_id <> l2.link_id),
         |intra AS (SELECT l1.link_id, e.r, e.c, e.tr, e.tc FROM sedges e
         |  JOIN links l1 ON l1.r = e.r AND l1.c = e.c
         |  JOIN links l2 ON l2.r = e.tr AND l2.c = e.tc
         |  WHERE l1.link_id = l2.link_id),
         |ln AS (SELECT link_id,
         |  CAST(sum(CAST(round(sqrt(CAST((r - tr) * (r - tr) + (c - tc) * (c - tc) AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS len_nano
         |  FROM intra GROUP BY 1),
         |lens AS (SELECT i.link_id, COALESCE(ln.len_nano, 0) AS len_nano
         |  FROM (SELECT DISTINCT link_id FROM links) i
         |  LEFT JOIN ln ON ln.link_id = i.link_id),
         |kept AS (SELECT l.link_id FROM lens l
         |  LEFT JOIN (SELECT DISTINCT parent AS link_id FROM cg) p
         |    ON p.link_id = l.link_id
         |  WHERE p.link_id IS NOT NULL OR l.len_nano >= 3000000000)
         |SELECT lk.r, lk.c, lk.link_id FROM links lk
         |JOIN kept ON kept.link_id = lk.link_id""".stripMargin,

    "geo_line_thinning" -> {
      val sb = new StringBuilder
      sb ++= "m0 AS (SELECT r, c, CAST(CASE WHEN ((r - c) % 11 + 11) % 11 < 3 THEN 1 ELSE 0 END AS BIGINT) AS b FROM g)"
      var k = 0
      for (_ <- 1 to 4; a <- 0 until 8) {
        val prev = s"m$k"; k += 1
        val needed = operators.Morphology.thinElements(a)
        val joins = needed.map { case (idx, _) =>
          val dy = operators.Morphology.thinDY(idx)
          val dx = operators.Morphology.thinDX(idx)
          s"LEFT JOIN $prev n$idx ON n$idx.r = m.r + ($dy) AND n$idx.c = m.c + ($dx)"
        }.mkString("\n  ")
        val cond = needed.map { case (idx, v) => s"n$idx.b = $v" }
          .mkString(" AND ")
        sb ++=
          s""",
             |m$k AS MATERIALIZED (SELECT m.r, m.c,
             |  CASE WHEN m.b = 1 AND $cond THEN 0 ELSE m.b END AS b
             |  FROM $prev m
             |  $joins)""".stripMargin
      }
      s"""WITH g AS ($GRID),
         |${sb.toString}
         |SELECT r, c FROM m$k WHERE b = 1""".stripMargin
    },

    "geo_thicken" -> {
      val n1 = Seq((-1, 0), (0, 1), (1, 0), (0, -1))
      val n2 = Seq((-1, 1), (1, 1), (1, -1), (-1, -1))
      val n3 = Seq((0, 1), (1, 0), (0, -1), (-1, 0))
      val joins = (0 until 4).flatMap { i =>
        Seq(("a", n1(i)), ("b", n2(i)), ("d", n3(i))).map {
          case (nm, (dy, dx)) =>
            s"LEFT JOIN dense $nm$i ON $nm$i.r = d.r + ($dy) AND $nm$i.c = d.c + ($dx)"
        }
      }.mkString("\n  ")
      val arms = (0 until 4).map { i =>
        s"WHEN a$i.v > 0 AND d$i.v > 0 AND (b$i.v IS NULL OR b$i.v = 0) THEN a$i.v"
      }.mkString("\n    ")
      s"""WITH g AS ($GRID),
         |dense AS MATERIALIZED (SELECT r, c,
         |  CASE WHEN (r + c) % 9 = 0 THEN (r * 50 + c) / 10.0
         |  ELSE CAST(0 AS DOUBLE) END AS v FROM g),
         |th AS (SELECT d.r, d.c, CASE WHEN d.v = 0 THEN CASE
         |    $arms
         |    ELSE CAST(0 AS DOUBLE) END
         |  ELSE d.v END AS v FROM dense d
         |  $joins)
         |SELECT r, c, v FROM th WHERE v > 0""".stripMargin
    },

    // ---- geometry restructure family ----

    "geo_extract_nodes" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT fid, CAST(t.vi AS BIGINT) AS vi,
         |  CASE t.vi WHEN 0 THEN min_x WHEN 1 THEN min_x
         |    WHEN 2 THEN max_x ELSE max_x END AS x,
         |  CASE t.vi WHEN 0 THEN min_y WHEN 1 THEN max_y
         |    WHEN 2 THEN max_y ELSE min_y END AS y
         |FROM sq CROSS JOIN
         |  (SELECT unnest(generate_series(0, 3)) AS vi) t""".stripMargin,

    "geo_polygons_to_lines" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT fid, CAST(5 AS BIGINT) AS n_vertices,
         |  round(CAST(0.0 AS DOUBLE)
         |  + sqrt((min_x - min_x) * (min_x - min_x) + (max_y - min_y) * (max_y - min_y))
         |  + sqrt((max_x - min_x) * (max_x - min_x) + (max_y - max_y) * (max_y - max_y))
         |  + sqrt((max_x - max_x) * (max_x - max_x) + (min_y - max_y) * (min_y - max_y))
         |  + sqrt((min_x - max_x) * (min_x - max_x) + (min_y - min_y) * (min_y - min_y)), 6) AS len
         |FROM sq""".stripMargin,

    "geo_lines_to_polygons" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT fid, round(abs(CAST(0.0 AS DOUBLE)
         |  + (min_x * max_y - min_x * min_y)
         |  + (min_x * max_y - max_x * max_y)
         |  + (max_x * min_y - max_x * max_y)
         |  + (max_x * min_y - min_x * min_y)) / 2.0, 6) AS parea
         |FROM sq""".stripMargin,

    "geo_multipart_roundtrip" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT fid % 7 AS gid,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY fid % 7 ORDER BY fid) - 1 AS BIGINT) AS part_idx,
         |  round((max_x - min_x) * (max_y - min_y), 6) AS parea
         |FROM sq""".stripMargin,

    "geo_tin_rasterize" ->
      s"""WITH sp AS ($SPTS), g AS ($GRID),
         |$tinSqlCtes,
         |tri AS (SELECT t.* FROM t ANTI JOIN bad USING (ia, ib, ic)),
         |tz AS (SELECT tri.*, za.sval AS za, zb.sval AS zb, zc.sval AS zc
         |  FROM tri JOIN sp za ON za.s_id = tri.ia
         |  JOIN sp zb ON zb.s_id = tri.ib
         |  JOIN sp zc ON zc.s_id = tri.ic),
         |tg AS (SELECT r, c, -90.0005 + c * 1.5 AS x, -40.0005 + r * 1.5 AS y FROM g),
         |cand AS (SELECT tg.r, tg.c, tg.x, tg.y, tz.*,
         |  (tz.xb - tz.xa) * (tg.y - tz.ya) - (tz.yb - tz.ya) * (tg.x - tz.xa) AS s1,
         |  (tz.xc - tz.xb) * (tg.y - tz.yb) - (tz.yc - tz.yb) * (tg.x - tz.xb) AS s2,
         |  (tz.xa - tz.xc) * (tg.y - tz.yc) - (tz.ya - tz.yc) * (tg.x - tz.xc) AS s3
         |  FROM tg CROSS JOIN tz),
         |ins AS (SELECT * FROM cand
         |  WHERE (s1 >= 0 AND s2 >= 0 AND s3 >= 0)
         |     OR (s1 <= 0 AND s2 <= 0 AND s3 <= 0)),
         |pick AS (SELECT * FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY r, c ORDER BY ia, ib, ic) AS rn
         |  FROM ins) WHERE rn = 1)
         |SELECT r, c, round(za
         |  + ((x - xa) * (yc - ya) - (y - ya) * (xc - xa)) / o * (zb - za)
         |  + ((xb - xa) * (y - ya) - (yb - ya) * (x - xa)) / o * (zc - za), 6) AS tin_z
         |FROM pick""".stripMargin,

    // ---- LiDAR gridding family ----

    "lidar_segmentation" -> {
      val thr = (3.0 * math.tan(math.toRadians(65.0))).toString + "e0"
      s"""WITH RECURSIVE lc AS (${Derived.lidarCloudSql}),
         |pts AS (SELECT pid, x, y, z FROM lc),
         |prs AS (SELECT a.pid, b.pid AS rpid, b.z AS rz
         |  FROM pts a JOIN pts b ON a.pid <> b.pid
         |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 9.0),
         |mda AS (SELECT p.pid,
         |  p.z - LEAST(p.z, COALESCE(mn.mn, p.z)) AS mda
         |  FROM pts p LEFT JOIN (SELECT pid, min(rz) AS mn FROM prs
         |    GROUP BY pid) mn ON mn.pid = p.pid),
         |ed AS (SELECT pr.pid AS s, pr.rpid AS t FROM prs pr
         |  JOIN mda m1 ON m1.pid = pr.pid
         |  JOIN mda m2 ON m2.pid = pr.rpid
         |  WHERE abs(m1.mda - m2.mda) <= $thr),
         |reach AS (SELECT pid AS s, pid AS t FROM pts
         |  UNION SELECT r.s, e.t FROM reach r JOIN ed e ON r.t = e.s),
         |comp AS (SELECT s AS pid, min(t) AS seg_id FROM reach GROUP BY s)
         |SELECT pid, seg_id FROM comp""".stripMargin
    },

    "lidar_flightline_edge" ->
      s"""WITH lc AS (${Derived.lidarCloudSql})
         |SELECT pid, round(z, 6) AS z, intensity, classification,
         |  return_num, n_returns, scan_angle
         |FROM lc WHERE withheld = 0 AND edge_flag = 1""".stripMargin,

    "lidar_bare_earth" ->
      s"""WITH lc AS (${Derived.lidarCloudSql})
         |SELECT CAST(floor(y / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cr,
         |  CAST(floor(x / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cc,
         |  round(min(z), 6) AS ground_z, count(*) AS n_ground
         |FROM lc WHERE classification = 2 AND return_num = n_returns
         |GROUP BY 1, 2""".stripMargin,

    "lidar_canopy" ->
      s"""WITH lc AS (${Derived.lidarCloudSql}),
         |surf AS (SELECT CAST(floor(y / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cr,
         |    CAST(floor(x / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cc,
         |    max(z) AS s FROM lc WHERE return_num = 1 GROUP BY 1, 2),
         |grd AS (SELECT CAST(floor(y / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cr,
         |    CAST(floor(x / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cc,
         |    min(z) AS g FROM lc
         |  WHERE classification = 2 AND return_num = n_returns GROUP BY 1, 2)
         |SELECT surf.cr, surf.cc, round(s - g, 6) AS chm
         |FROM surf JOIN grd ON surf.cr = grd.cr AND surf.cc = grd.cc""".stripMargin,

    "lidar_density" ->
      s"""WITH lc AS (${Derived.lidarCloudSql})
         |SELECT CAST(floor(y / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cr,
         |  CAST(floor(x / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cc,
         |  count(*) AS n,
         |  round(count(*) / CAST(100.0 AS DOUBLE), 6) AS density
         |FROM lc GROUP BY 1, 2""".stripMargin,

    "lidar_summary" ->
      s"""WITH lc AS (${Derived.lidarCloudSql})
         |SELECT classification, count(*) AS n,
         |  round(min(z), 6) AS z_min, round(max(z), 6) AS z_max,
         |  round(sum(intensity) / count(*), 6) AS mean_intensity
         |FROM lc GROUP BY 1""".stripMargin,

    "lidar_idw" ->
      s"""WITH lc AS (${Derived.lidarCloudSql}),
         |t AS (SELECT r, c,
         |    c * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE) AS x,
         |    r * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE) AS y
         |  FROM (SELECT unnest(generate_series(0, 9)) AS r) rr
         |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS c) cc),
         |g AS (SELECT pid, x AS px, y AS py, z AS pval FROM lc
         |  WHERE classification = 2 AND return_num = n_returns),
         |j AS (SELECT t.r, t.c, g.pid, g.pval,
         |    (t.x - g.px) * (t.x - g.px) + (t.y - g.py) * (t.y - g.py) AS d2
         |  FROM t CROSS JOIN g
         |  WHERE (t.x - g.px) * (t.x - g.px) + (t.y - g.py) * (t.y - g.py)
         |    <= CAST(64.0 AS DOUBLE))
         |SELECT r, c, round(CASE
         |  WHEN max(CASE WHEN d2 = 0 THEN 1 ELSE 0 END) = 1
         |  THEN min_by(pval, CASE WHEN d2 = 0 THEN pid
         |    ELSE 9223372036854775807 END)
         |  ELSE sum(CASE WHEN d2 <> 0 THEN pval / d2 END)
         |    / sum(CASE WHEN d2 <> 0 THEN CAST(1.0 AS DOUBLE) / d2 END)
         |  END, 6) AS idw
         |FROM j GROUP BY r, c""".stripMargin,

    "geo_gaussian_stretch" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT min(v) AS mn, max(v) AS mx,
         |  CAST(count(*) AS DOUBLE) AS n FROM g),
         |b AS (SELECT g.r, g.c, LEAST(CAST(floor((g.v - st.mn)
         |  / ((st.mx - st.mn) / 50000)) AS BIGINT), 49999) AS bin
         |  FROM g CROSS JOIN st),
         |h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
         |cdf AS (SELECT bin, sum(cnt) OVER (ORDER BY bin
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
         |wp AS (SELECT b.r, b.c, round(cdf.cum / st.n, 12) AS p
         |  FROM b JOIN cdf ON cdf.bin = b.bin CROSS JOIN st),
         |ref0 AS (SELECT i, exp(-(CAST(i AS DOUBLE) / 1023 * 2
         |    * CAST(3.0 AS DOUBLE) - CAST(3.0 AS DOUBLE))
         |  * (CAST(i AS DOUBLE) / 1023 * 2
         |    * CAST(3.0 AS DOUBLE) - CAST(3.0 AS DOUBLE)) / 2) AS pdf
         |  FROM range(1024) t(i)),
         |rcum AS (SELECT i, sum(pdf) OVER (ORDER BY i
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr
         |  FROM ref0),
         |rc AS (SELECT i, round(cumr / (SELECT max(cumr) FROM rcum), 12)
         |  AS rp FROM rcum)
         |SELECT wp.r, wp.c, GREATEST(count(rc.i) - 1, 0) AS gauss_bin
         |FROM wp LEFT JOIN rc ON rc.rp <= wp.p
         |GROUP BY wp.r, wp.c""".stripMargin,

    "geo_sigmoidal_stretch" -> {
      val a = "1.0 / (1.0 + exp(CAST(4.0 AS DOUBLE) * CAST(0.4 AS DOUBLE)))"
      val b = "1.0 / (1.0 + exp(CAST(4.0 AS DOUBLE) * " +
        "CAST(-0.6 AS DOUBLE))) - 1.0 / (1.0 + exp(CAST(4.0 AS DOUBLE)" +
        " * CAST(0.4 AS DOUBLE)))"
      s"""WITH g AS ($GRID),
         |st AS (SELECT min(v) AS mn, max(v) AS mx FROM g)
         |SELECT g.r, g.c, round((1.0 / (1.0 + exp(CAST(4.0 AS DOUBLE)
         |  * (CAST(0.4 AS DOUBLE) - (g.v - st.mn) / (st.mx - st.mn))))
         |  - $a) / ($b), 6) AS sig
         |FROM g CROSS JOIN st""".stripMargin
    },

    "geo_filter_adaptive" ->
      s"""WITH g AS ($GRID),
         |nb AS (SELECT a.r, a.c, a.v,
         |  sum(CASE WHEN b.c <> 1 AND b.r <> 1 THEN b.v END) AS s,
         |  count(CASE WHEN b.c <> 1 AND b.r <> 1 THEN 1 END) AS n,
         |  sum(CASE WHEN b.c <> 1 AND b.r <> 1 THEN b.v * b.v END) AS ss
         |  FROM g a JOIN g b ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
         |  GROUP BY a.r, a.c, a.v)
         |SELECT r, c, round(CASE WHEN abs((v - s / n) /
         |  (CASE WHEN ss / n - (s / n) * (s / n) > 0
         |   THEN sqrt(ss / n - (s / n) * (s / n))
         |   ELSE ss / n - (s / n) * (s / n) END)) > CAST(1.0 AS DOUBLE)
         |  THEN s / n ELSE v END, 6) AS adaptive
         |FROM nb WHERE n > 2""".stripMargin,

    "geo_lee_sigma" ->
      s"""WITH g AS ($GRID),
         |nb AS (SELECT a.r, a.c,
         |  sum(CASE WHEN b.v >= a.v - CAST(10.0 AS DOUBLE)
         |    AND b.v <= a.v + CAST(10.0 AS DOUBLE) THEN b.v END) AS s1,
         |  count(CASE WHEN b.v >= a.v - CAST(10.0 AS DOUBLE)
         |    AND b.v <= a.v + CAST(10.0 AS DOUBLE) THEN 1 END) AS n1,
         |  sum(CASE WHEN abs(b.r - a.r) <= 1 AND abs(b.c - a.c) <= 1
         |    AND NOT (b.r = a.r AND b.c = a.c) THEN b.v END) AS s8,
         |  count(CASE WHEN abs(b.r - a.r) <= 1 AND abs(b.c - a.c) <= 1
         |    AND NOT (b.r = a.r AND b.c = a.c) THEN 1 END) AS n8
         |  FROM g a JOIN g b ON abs(a.r - b.r) <= 2 AND abs(a.c - b.c) <= 2
         |  GROUP BY a.r, a.c)
         |SELECT r, c, round(CASE WHEN n1 > 4 THEN s1 / n1
         |  ELSE s8 / n8 END, 6) AS lee
         |FROM nb WHERE n1 > 4 OR n8 > 0""".stripMargin,

    "geo_stretch_minmax" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT min(v) AS mn, max(v) AS mx FROM g)
         |SELECT r, c,
         |  round(LEAST(GREATEST(
         |    CAST(floor(v - mn) AS BIGINT) * (CAST(1024.0 AS DOUBLE) / (mx - mn)),
         |    CAST(0.0 AS DOUBLE)), CAST(1023.0 AS DOUBLE)), 4) AS stretch
         |FROM g CROSS JOIN st""".stripMargin,

    "geo_stretch_percent" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT min(v) AS mn, max(v) AS mx,
         |  CAST(count(*) AS DOUBLE) AS tot FROM g),
         |bins AS (SELECT mn, mx, tot,
         |  unnest(generate_series(0, CAST(floor(mx - mn + 1) AS BIGINT) - 1)) AS bin
         |  FROM st),
         |cnt AS (SELECT LEAST(GREATEST(CAST(floor(v - mn) AS BIGINT), 0),
         |    CAST(floor(mx - mn + 1) AS BIGINT) - 1) AS bin,
         |  CAST(count(*) AS DOUBLE) AS cnt
         |  FROM g CROSS JOIN st GROUP BY 1),
         |hist AS (SELECT bins.bin, mn, mx, tot,
         |  COALESCE(cnt.cnt, CAST(0.0 AS DOUBLE)) AS cnt
         |  FROM bins LEFT JOIN cnt ON bins.bin = cnt.bin),
         |hist2 AS (SELECT bin, mn, mx,
         |  sum(cnt) OVER (ORDER BY bin) / tot * 100.0 AS pct FROM hist),
         |hist3 AS (SELECT bin, mn, mx, pct,
         |  lag(pct, 1) OVER (ORDER BY bin) AS pprev FROM hist2),
         |lo AS (SELECT bin - 1 + mn + (5.0 - pprev) / (pct - pprev) AS minv
         |  FROM hist3 WHERE bin >= 1 AND pct >= 5.0 ORDER BY bin LIMIT 1),
         |hi AS (SELECT bin - 1 + mn + (95.0 - pprev) / (pct - pprev) AS maxv
         |  FROM hist3 WHERE bin >= 1 AND pct >= 95.0 ORDER BY bin LIMIT 1)
         |SELECT r, c,
         |  round(LEAST(GREATEST(
         |    CAST(floor(v - minv) AS BIGINT) * (CAST(1024.0 AS DOUBLE) / (maxv - minv)),
         |    CAST(0.0 AS DOUBLE)), CAST(1023.0 AS DOUBLE)), 4) AS stretch
         |FROM g CROSS JOIN lo CROSS JOIN hi""".stripMargin,

    "geo_stretch_stddev" ->
      s"""WITH g AS ($GRID),
         |st0 AS (SELECT sum(v) AS sv, sum(v * v) AS svv,
         |  CAST(count(*) AS DOUBLE) AS tot FROM g),
         |st1 AS (SELECT sv / tot AS mean,
         |  sqrt(svv / tot - (sv / tot) * (sv / tot)) AS sd FROM st0),
         |st AS (SELECT mean - 2.0 * sd AS minv, mean + 2.0 * sd AS maxv
         |  FROM st1)
         |SELECT r, c,
         |  round(LEAST(GREATEST(
         |    CAST(floor(v - minv) AS BIGINT) * (CAST(1024.0 AS DOUBLE) / (maxv - minv)),
         |    CAST(0.0 AS DOUBLE)), CAST(1023.0 AS DOUBLE)), 4) AS stretch
         |FROM g CROSS JOIN st""".stripMargin,

    "geo_stretch_balance" ->
      s"""WITH g AS (${Derived.rgbChannelsSql}),
         |st AS (SELECT
         |  min(rch) AS rl, max(rch) AS rh,
         |  CAST(sum(rch) AS BIGINT) // count(*) AS re,
         |  CAST(sum(rch * rch) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rs,
         |  min(gch) AS gl, max(gch) AS gh,
         |  CAST(sum(gch) AS BIGINT) // count(*) AS ge,
         |  CAST(sum(gch * gch) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gs,
         |  min(bch) AS bl, max(bch) AS bh,
         |  CAST(sum(bch) AS BIGINT) // count(*) AS be,
         |  CAST(sum(bch * bch) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bs
         |  FROM g),
         |k AS (SELECT g.*, st.*,
         |  (rh * rh * 100 - rs * 255 + rl * rl * 155) /
         |    (2 * (rh * 100 - re * 255 + rl * 155)) AS rb,
         |  (gh * gh * 100 - gs * 255 + gl * gl * 155) /
         |    (2 * (gh * 100 - ge * 255 + gl * 155)) AS gb,
         |  (bh * bh * 100 - bs * 255 + bl * bl * 155) /
         |    (2 * (bh * 100 - be * 255 + bl * 155)) AS bb
         |  FROM g CROSS JOIN st),
         |k2 AS (SELECT *,
         |  255 / ((rh - rl) * (rh + rl - 2 * rb)) AS ra,
         |  255 / ((gh - gl) * (gh + gl - 2 * gb)) AS ga,
         |  255 / ((bh - bl) * (bh + bl - 2 * bb)) AS ba
         |  FROM k),
         |k3 AS (SELECT r, c,
         |  LEAST(GREATEST(CAST(trunc(ra * ((rch - rb) * (rch - rb)) +
         |    (0 - ra * ((rl - rb) * (rl - rb)))) AS BIGINT), 0), 255) AS bcet_r,
         |  LEAST(GREATEST(CAST(trunc(ga * ((gch - gb) * (gch - gb)) +
         |    (0 - ga * ((gl - gb) * (gl - gb)))) AS BIGINT), 0), 255) AS bcet_g,
         |  LEAST(GREATEST(CAST(trunc(ba * ((bch - bb) * (bch - bb)) +
         |    (0 - ba * ((bl - bb) * (bl - bb)))) AS BIGINT), 0), 255) AS bcet_b
         |  FROM k2)
         |SELECT r, c, bcet_r, bcet_g, bcet_b,
         |  4278190080 + bcet_b * 65536 + bcet_g * 256 + bcet_r AS rgb
         |FROM k3""".stripMargin,

    "geo_rgb_ihs" ->
      s"""WITH g AS (${Derived.rgbChannelsSql}),
         |st AS (SELECT LEAST(min(rch), min(gch), min(bch)) AS mnall,
         |  GREATEST(max(rch), max(gch), max(bch)) AS mxall FROM g),
         |n AS (SELECT r, c,
         |  LEAST(GREATEST((rch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS rn,
         |  LEAST(GREATEST((gch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS gn,
         |  LEAST(GREATEST((bch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS bn
         |  FROM g CROSS JOIN st),
         |wh AS (SELECT r, c, rn, gn, bn, rn + gn + bn AS ih,
         |  CASE WHEN rn + gn + bn = 3.0 THEN CAST(0.0 AS DOUBLE)
         |    WHEN LEAST(rn, gn, bn) = bn
         |      THEN (gn - bn) / ((rn + gn + bn) - 3 * bn)
         |    WHEN LEAST(rn, gn, bn) = rn
         |      THEN (bn - rn) / ((rn + gn + bn) - 3 * rn) + 1
         |    ELSE (rn - gn) / ((rn + gn + bn) - 3 * gn) + 2 END AS hh
         |  FROM n)
         |SELECT r, c, round(ih, 6) AS i, round(hh, 6) AS h,
         |  round(CASE WHEN hh <= 1.0 THEN (ih - 3 * bn) / ih
         |    WHEN hh <= 2.0 THEN (ih - 3 * rn) / ih
         |    ELSE (ih - 3 * gn) / ih END, 6) AS sat
         |FROM wh""".stripMargin,

    "geo_change_vector" ->
      s"""WITH st AS (${Derived.partStackSql})
         |SELECT r, c,
         |  round(sqrt((v2 - v1) * (v2 - v1) + (v3 - v2) * (v3 - v2)
         |    + (v1 - v3) * (v1 - v3)), 6) AS magnitude,
         |  (CASE WHEN v2 - v1 >= 0 THEN 1 ELSE 0 END
         |    + CASE WHEN v3 - v2 >= 0 THEN 2 ELSE 0 END
         |    + CASE WHEN v1 - v3 >= 0 THEN 4 ELSE 0 END) AS direction
         |FROM st""".stripMargin,

    "geo_destripe" ->
      s"""WITH g0 AS ($GRID),
         |g AS (SELECT r, c, v / CAST(10.0 AS DOUBLE) +
         |  CASE WHEN r % 7 = 3 THEN CAST(30.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS v FROM g0),
         |j AS (SELECT g.r, g.c, g.v, u.v AS uv, d.v AS dv
         |  FROM g
         |  LEFT JOIN g u ON u.r = g.r - 1 AND u.c = g.c
         |  LEFT JOIN g d ON d.r = g.r + 1 AND d.c = g.c),
         |cd AS (SELECT r, c, v, uv, dv,
         |  (uv IS NOT NULL AND dv IS NOT NULL
         |    AND abs(v - uv) >= 10.0 AND abs(v - dv) >= 10.0
         |    AND ((v - uv < 0 AND v - dv < 0)
         |      OR (v - uv >= 0 AND v - dv >= 0))) AS cond
         |  FROM j),
         |fl AS (SELECT r, c, v, uv, dv,
         |  COALESCE(lag(cond, 2) OVER (PARTITION BY r ORDER BY c), FALSE)
         |  AND COALESCE(lag(cond, 1) OVER (PARTITION BY r ORDER BY c), FALSE)
         |  AND cond
         |  AND COALESCE(lead(cond, 1) OVER (PARTITION BY r ORDER BY c), FALSE)
         |  AS flag FROM cd)
         |SELECT r, c,
         |  round(CASE WHEN flag THEN (uv + dv) / 2.0 ELSE v END, 6)
         |  AS destriped
         |FROM fl""".stripMargin,

    "geo_destripe_vertical" ->
      s"""WITH g0 AS ($GRID),
         |g AS (SELECT r, c, v / CAST(10.0 AS DOUBLE) +
         |  CASE WHEN r = c THEN CAST(30.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS v FROM g0),
         |dg AS (SELECT r, v AS gv FROM g WHERE r = c),
         |j AS (SELECT g.r, g.c, g.v, l.v AS lv, rr.v AS rv, dg.gv
         |  FROM g
         |  LEFT JOIN g l ON l.r = g.r AND l.c = g.c - 1
         |  LEFT JOIN g rr ON rr.r = g.r AND rr.c = g.c + 1
         |  LEFT JOIN dg ON dg.r = g.r),
         |cd AS (SELECT r, c, v, lv, rv,
         |  (gv IS NOT NULL AND lv IS NOT NULL AND rv IS NOT NULL
         |    AND abs(gv - lv) >= 10.0 AND abs(gv - rv) >= 10.0
         |    AND ((gv - lv < 0 AND gv - rv < 0)
         |      OR (gv - lv >= 0 AND gv - rv >= 0))) AS cond
         |  FROM j),
         |fl AS (SELECT r, c, v, lv, rv,
         |  COALESCE(lag(cond, 2) OVER (PARTITION BY c ORDER BY r), FALSE)
         |  AND COALESCE(lag(cond, 1) OVER (PARTITION BY c ORDER BY r), FALSE)
         |  AND cond
         |  AND COALESCE(lead(cond, 1) OVER (PARTITION BY c ORDER BY r), FALSE)
         |  AS flag FROM cd)
         |SELECT r, c,
         |  round(CASE WHEN flag THEN (lv + rv) / 2.0 ELSE v END, 6)
         |  AS destriped
         |FROM fl""".stripMargin,

    "geo_vignette" ->
      s"""WITH g AS ($GRID)
         |SELECT r, c,
         |  round(v / pow(cos(atan(
         |    sqrt((r - 20.0) * (r - 20.0) + (c - 25.0) * (c - 25.0))
         |      * (CAST(228.6 AS DOUBLE) / 50) / CAST(304.8 AS DOUBLE))), 4.0), 6)
         |  AS corrected
         |FROM g""".stripMargin,

    "geo_stack_percent" ->
      s"""WITH st AS (${Derived.partStackSql}),
         |g AS ($GRID)
         |SELECT st.r, st.c,
         |  round(100.0 * (CASE WHEN v1 = v THEN 1 ELSE 0 END
         |    + CASE WHEN v2 = v THEN 1 ELSE 0 END
         |    + CASE WHEN v3 = v THEN 1 ELSE 0 END) / 3, 4) AS pct_eq,
         |  round(100.0 * (CASE WHEN v1 > v THEN 1 ELSE 0 END
         |    + CASE WHEN v2 > v THEN 1 ELSE 0 END
         |    + CASE WHEN v3 > v THEN 1 ELSE 0 END) / 3, 4) AS pct_gt,
         |  round(100.0 * (CASE WHEN v1 < v THEN 1 ELSE 0 END
         |    + CASE WHEN v2 < v THEN 1 ELSE 0 END
         |    + CASE WHEN v3 < v THEN 1 ELSE 0 END) / 3, 4) AS pct_lt
         |FROM st JOIN g ON st.r = g.r AND st.c = g.c""".stripMargin,

    "geo_overlay_minmax" ->
      s"""WITH st AS (${Derived.partStackSql})
         |SELECT r, c, GREATEST(v1, v2, v3) AS vmax,
         |  LEAST(v1, v2, v3) AS vmin
         |FROM st""".stripMargin,

    "geo_neighbour_updown" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = false)}
         |SELECT r, c,
         |  CAST(sum(CASE WHEN nv < cz THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
         |  CAST(sum(CASE WHEN nv > cz THEN 1 ELSE 0 END) AS BIGINT) AS n_up
         |FROM con WHERE NOT (dy = 0 AND dx = 0) GROUP BY r, c""".stripMargin,

    "geo_downslope_dz" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = false)},
         |con2 AS (SELECT r, c, cz, nv,
         |  (cz - nv) / (CASE WHEN dy * dy + dx * dx = 2 THEN sqrt(2.0)
         |    ELSE CAST(1.0 AS DOUBLE) END) AS slope
         |  FROM con WHERE NOT (dy = 0 AND dx = 0)),
         |st1 AS (SELECT r, c, max(slope) AS mxs,
         |  min(CASE WHEN slope >= 0 THEN slope END) AS mns,
         |  CAST(sum(CASE WHEN slope >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn
         |  FROM con2 GROUP BY r, c),
         |st2 AS (SELECT con2.r, con2.c, max(mxs) AS mxs, max(nn) AS nn,
         |  max(CASE WHEN slope = mxs THEN cz - nv END) AS dzx,
         |  max(CASE WHEN slope = mns THEN cz - nv END) AS dzn
         |  FROM con2 JOIN st1 ON st1.r = con2.r AND st1.c = con2.c
         |  GROUP BY con2.r, con2.c)
         |SELECT r, c,
         |  round(CASE WHEN mxs > 0 THEN dzx ELSE CAST(0.0 AS DOUBLE) END, 6)
         |    AS max_dz,
         |  round(CASE WHEN nn > 0 THEN dzn ELSE CAST(0.0 AS DOUBLE) END, 6)
         |    AS min_dz
         |FROM st2""".stripMargin,

    "geo_elev_rel_minmax" ->
      s"""WITH g AS ($GRID),
         |st AS (SELECT min(v) AS mn, max(v) AS mx FROM g)
         |SELECT r, c, round((v - mn) / (mx - mn) * 100, 6) AS rel_elev
         |FROM g CROSS JOIN st""".stripMargin,

    "geo_elev_rel_watershed" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |e AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
         |  FROM p WHERE ptr > 0),
         |sinks AS (SELECT r, c FROM p WHERE ptr = 0),
         |walk AS (SELECT r AS sr, c AS sc, r, c FROM g
         |  UNION SELECT w.sr, w.sc, e.tr, e.tc
         |  FROM walk w JOIN e ON w.r = e.r AND w.c = e.c),
         |hit AS (SELECT w.sr AS r, w.sc AS c, w.r * 50 + w.c AS sink_id
         |  FROM walk w JOIN sinks s ON s.r = w.r AND s.c = w.c),
         |jw AS (SELECT h.r, h.c, h.sink_id, g.v
         |  FROM hit h JOIN g ON g.r = h.r AND g.c = h.c),
         |mm AS (SELECT r, c, v,
         |  min(v) OVER (PARTITION BY sink_id) AS mn,
         |  max(v) OVER (PARTITION BY sink_id) AS mx FROM jw)
         |SELECT r, c,
         |  round(CASE WHEN mx > mn THEN (v - mn) / (mx - mn) * 100
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS rel_elev
         |FROM mm""".stripMargin,

    "geo_extract_valleys" ->
      s"""WITH g AS ($GRID),
         |${focalConSql(1, reflect = false)},
         |nb AS (SELECT r, c,
         |  max(CASE WHEN dy = 0 AND dx = 0 THEN nv END) AS z,
         |  max(CASE WHEN dy = -1 AND dx = 0 THEN nv END) AS zn,
         |  max(CASE WHEN dy = 1 AND dx = 0 THEN nv END) AS zs,
         |  max(CASE WHEN dy = 0 AND dx = -1 THEN nv END) AS zw,
         |  max(CASE WHEN dy = 0 AND dx = 1 THEN nv END) AS ze,
         |  max(CASE WHEN dy = -1 AND dx = -1 THEN nv END) AS znw
         |  FROM con GROUP BY r, c),
         |jr AS (SELECT r, c, CAST(CASE
         |  WHEN zn IS NOT NULL AND zs IS NOT NULL AND zn > z AND zs > z THEN 1
         |  WHEN zw IS NOT NULL AND ze IS NOT NULL AND zw > z AND ze > z THEN 1
         |  ELSE 0 END AS BIGINT) AS v_jr FROM nb),
         |a1 AS (SELECT r, c, z, zn, zw, znw,
         |  CASE WHEN znw IS NOT NULL AND znw > z THEN znw ELSE z END AS m2,
         |  CASE WHEN znw IS NOT NULL AND znw > z THEN 1 ELSE 0 END AS w2
         |  FROM nb),
         |a2 AS (SELECT *,
         |  CASE WHEN zn IS NOT NULL AND zn > m2 THEN zn ELSE m2 END AS m3,
         |  CASE WHEN zn IS NOT NULL AND zn > m2 THEN 2 ELSE w2 END AS w3
         |  FROM a1),
         |a3 AS (SELECT *,
         |  CASE WHEN zw IS NOT NULL AND zw > m3 THEN 3 ELSE w3 END AS w4
         |  FROM a2),
         |zset AS (SELECT DISTINCT
         |  r + CASE WHEN w4 IN (1, 2) THEN -1 ELSE 0 END AS zr,
         |  c + CASE WHEN w4 IN (1, 3) THEN -1 ELSE 0 END AS zc FROM a3),
         |pd AS (SELECT g.r, g.c,
         |  CAST(CASE WHEN zset.zr IS NULL THEN 1 ELSE 0 END AS BIGINT) AS v_pd
         |  FROM g LEFT JOIN zset ON zset.zr = g.r AND zset.zc = g.c),
         |offs2 AS (SELECT a.x AS dy, b.x AS dx
         |  FROM range(-2, 3) a(x) CROSS JOIN range(-2, 3) b(x)),
         |cq AS (SELECT t.r, t.c, t.v AS cz, s.v AS nv
         |  FROM g t CROSS JOIN offs2 o
         |  JOIN g s ON s.r = t.r + o.dy AND s.c = t.c + o.dx),
         |lq AS (SELECT r, c, CAST(CASE WHEN max(cz) <=
         |    (list_sort(list(nv)))[CAST(count(*) // 4 + 1 AS BIGINT)]
         |  THEN 1 ELSE 0 END AS BIGINT) AS v_lq
         |  FROM cq GROUP BY r, c)
         |SELECT jr.r, jr.c, jr.v_jr, pd.v_pd, lq.v_lq
         |FROM jr
         |JOIN pd ON pd.r = jr.r AND pd.c = jr.c
         |JOIN lq ON lq.r = jr.r AND lq.c = jr.c""".stripMargin,

    "geo_radiation" -> {
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
      val omega = 0.2618
      val thr = -math.acos(-math.tan(decl) * math.tan(lat)) / omega
      val ths = math.acos(-math.tan(decl) * math.tan(lat)) / omega
      val degToRad = math.Pi / 180.0
      val cosLat = math.cos(lat); val sinLat = math.sin(lat)
      val tanDecl = math.tan(decl); val cosDecl = math.cos(decl)
      val sinDecl = math.sin(decl)
      val iscEo = 4.921 * eo
      val halfYs = 0.5 * ys
      val kbsC = 0.5 * ys * albedo
      s"""WITH g AS ($GRID),
         |$stencilReflectSql,
         |f AS (SELECT r, c, $FxSql AS fx, $FySql AS fy FROM nb),
         |ba AS (SELECT r, c,
         |  round(atan(sqrt(fx * fx + fy * fy)) * $RadToDegLit, 6)
         |    * $degToRad AS beta,
         |  round($AspectSql, 6) * $degToRad AS alpha FROM f),
         |q1 AS (SELECT r, c,
         |  atan(sin(beta) * sin(alpha) /
         |    (cos(beta) * $cosLat - sin(beta) * $sinLat * cos(alpha)))
         |    AS eqslope,
         |  asin(LEAST(GREATEST(
         |    sin(beta) * cos(alpha) * $cosLat + cos(beta) * $sinLat,
         |    -1.0), 1.0)) AS eqlat
         |  FROM ba),
         |q2 AS (SELECT r, c, eqslope, eqlat,
         |  acos(LEAST(GREATEST((0.0 - tan(eqlat)) * $tanDecl, -1.0), 1.0))
         |    AS acv FROM q1),
         |q3 AS (SELECT r, c, eqslope, eqlat,
         |  GREATEST((0.0 - acv - eqslope) / $omega, $thr) AS tsr,
         |  LEAST((acv - eqslope) / $omega, $ths) AS tss FROM q2),
         |q4 AS (SELECT r, c,
         |  $iscEo * (cos(eqlat) * $cosDecl *
         |    ((sin($omega * tss + eqslope) - sin($omega * tsr + eqslope))
         |      / $omega)
         |    + sin(eqlat) * $sinDecl * (tss - tsr)) AS ket FROM q3),
         |q5 AS (SELECT r, c, ($tAtm * ket) + ($halfYs * ket) AS kg FROM q4)
         |SELECT r, c, round(11.575 * (kg + $kbsC * kg), 6) AS kcs
         |FROM q5""".stripMargin
    },

    "geo_min_bounding_box" -> {
      val halfPi = math.Pi / 2
      s"""WITH sp AS ($SPTS),
         |tri AS (SELECT s_id AS fid, sx / 2 AS x0, sy / 2 AS y0,
         |  sx / 2 + (5 + s_id % 7) AS bx, sy / 2 + 2 AS "by",
         |  sx / 2 + 3 AS cx, sy / 2 + (8 + s_id % 5) AS cy FROM sp),
         |verts AS (SELECT fid, x0 AS vx, y0 AS vy FROM tri
         |  UNION ALL SELECT fid, bx, "by" FROM tri
         |  UNION ALL SELECT fid, cx, cy FROM tri),
         |mid AS (SELECT fid, min(vx) + (max(vx) - min(vx)) / 2.0 AS midx,
         |  min(vy) + (max(vy) - min(vy)) / 2.0 AS midy
         |  FROM verts GROUP BY fid),
         |edges0 AS (SELECT fid, 0 AS eidx, bx - x0 AS edx,
         |    "by" - y0 AS edy FROM tri
         |  UNION ALL SELECT fid, 1, cx - bx, cy - "by" FROM tri
         |  UNION ALL SELECT fid, 2, x0 - cx, y0 - cy FROM tri),
         |edges AS (SELECT fid, eidx, edx, edy,
         |  sqrt(edx * edx + edy * edy) AS elen,
         |  -atan2(edy, edx) AS psi FROM edges0),
         |rot AS (SELECT e.fid, e.eidx, e.psi,
         |  ((v.vx - m.midx) * e.edx + (v.vy - m.midy) * e.edy) / e.elen
         |    AS xr,
         |  ((v.vx - m.midx) * (0.0 - e.edy) + (v.vy - m.midy) * e.edx)
         |    / e.elen AS yr
         |  FROM edges e
         |  JOIN verts v ON v.fid = e.fid
         |  JOIN mid m ON m.fid = e.fid),
         |ext0 AS (SELECT fid, eidx, max(psi) AS psi, min(xr) AS w,
         |  max(xr) AS e, min(yr) AS n, max(yr) AS sxx
         |  FROM rot GROUP BY fid, eidx),
         |ext AS (SELECT fid, eidx, psi, w, n, abs(e - w) AS xaxis,
         |  abs(sxx - n) AS yaxis, abs(e - w) * abs(sxx - n) AS value
         |  FROM ext0),
         |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fid
         |  ORDER BY value, xaxis, yaxis, eidx) AS rk FROM ext),
         |best AS (SELECT p.*, m.midx, m.midy FROM pick p
         |  JOIN mid m ON m.fid = p.fid WHERE rk = 1)
         |SELECT fid,
         |  round(GREATEST(xaxis, yaxis), 6) AS long_axis,
         |  round(LEAST(xaxis, yaxis), 6) AS short_axis,
         |  round(1 - LEAST(xaxis, yaxis) / GREATEST(xaxis, yaxis), 6)
         |    AS elongation,
         |  round(90 + atan(tan(-(CASE WHEN xaxis > yaxis THEN -psi
         |    ELSE -($halfPi + psi) END))) * $RadToDegLit, 6) AS orient,
         |  round(value, 6) AS mbb_area,
         |  round(midx + ((w + xaxis / 2) * cos(-psi)
         |    - (n + yaxis / 2) * sin(-psi)), 6) AS centre_x,
         |  round(midy + ((w + xaxis / 2) * sin(-psi)
         |    + (n + yaxis / 2) * cos(-psi)), 6) AS centre_y
         |FROM best""".stripMargin
    },

    "geo_polygon_chains" ->
      s"""WITH RECURSIVE sp AS ($SPTS),
         |tri AS (SELECT s_id AS fid, sx / 2 AS x0, sy / 2 AS y0,
         |  sx / 2 + (5 + s_id % 7) AS bx, sy / 2 + 2 AS "by",
         |  sx / 2 + 3 AS cx, sy / 2 + (8 + s_id % 5) AS cy FROM sp),
         |verts AS (SELECT fid, x0 AS vx, y0 AS vy FROM tri
         |  UNION ALL SELECT fid, bx, "by" FROM tri
         |  UNION ALL SELECT fid, cx, cy FROM tri),
         |mid AS (SELECT fid, min(vx) + (max(vx) - min(vx)) / 2.0 AS midx,
         |  min(vy) + (max(vy) - min(vy)) / 2.0 AS midy
         |  FROM verts GROUP BY fid),
         |edges0 AS (SELECT fid, 0 AS eidx, bx - x0 AS edx,
         |    "by" - y0 AS edy FROM tri
         |  UNION ALL SELECT fid, 1, cx - bx, cy - "by" FROM tri
         |  UNION ALL SELECT fid, 2, x0 - cx, y0 - cy FROM tri),
         |edges AS (SELECT fid, eidx, edx, edy,
         |  sqrt(edx * edx + edy * edy) AS elen,
         |  -atan2(edy, edx) AS psi FROM edges0),
         |rot AS (SELECT e.fid, e.eidx, e.psi,
         |  ((v.vx - m.midx) * e.edx + (v.vy - m.midy) * e.edy) / e.elen
         |    AS xr,
         |  ((v.vx - m.midx) * (0.0 - e.edy) + (v.vy - m.midy) * e.edx)
         |    / e.elen AS yr
         |  FROM edges e
         |  JOIN verts v ON v.fid = e.fid
         |  JOIN mid m ON m.fid = e.fid),
         |ext0 AS (SELECT fid, eidx, max(psi) AS psi, min(xr) AS w,
         |  max(xr) AS e, min(yr) AS n, max(yr) AS sxx
         |  FROM rot GROUP BY fid, eidx),
         |ext AS (SELECT fid, eidx, psi, w, n, abs(e - w) AS xaxis,
         |  abs(sxx - n) AS yaxis, abs(e - w) * abs(sxx - n) AS value
         |  FROM ext0),
         |pick AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fid
         |  ORDER BY value, xaxis, yaxis, eidx) AS rk FROM ext),
         |best AS (SELECT p.*, m.midx, m.midy FROM pick p
         |  JOIN mid m ON m.fid = p.fid WHERE rk = 1
         |  AND 1.0 - LEAST(p.xaxis, p.yaxis) / GREATEST(p.xaxis, p.yaxis)
         |    > CAST(0.25 AS DOUBLE)),
         |endr AS (SELECT fid, psi, midx, midy,
         |  CASE WHEN xaxis >= yaxis THEN w ELSE w + xaxis / 2 END AS xr,
         |  CASE WHEN xaxis >= yaxis THEN n + yaxis / 2 ELSE n END AS yr
         |  FROM best
         |  UNION ALL SELECT fid, psi, midx, midy,
         |  CASE WHEN xaxis >= yaxis THEN w + xaxis ELSE w + xaxis / 2 END,
         |  CASE WHEN xaxis >= yaxis THEN n + yaxis / 2 ELSE n + yaxis END
         |  FROM best),
         |ends AS (SELECT fid,
         |  midx + (xr * cos(-psi) - yr * sin(-psi)) AS ex,
         |  midy + (xr * sin(-psi) + yr * cos(-psi)) AS ey FROM endr),
         |links AS (SELECT DISTINCT a.fid AS s, b.fid AS t
         |  FROM ends a JOIN ends b ON b.fid <> a.fid
         |  AND (b.ex - a.ex) * (b.ex - a.ex) +
         |      (b.ey - a.ey) * (b.ey - a.ey)
         |    <= CAST(8.0 AS DOUBLE) * CAST(8.0 AS DOUBLE)
         |  UNION SELECT fid, fid FROM best),
         |reachc AS (SELECT s, t FROM links
         |  UNION SELECT r2.s, l.t FROM reachc r2
         |  JOIN links l ON r2.t = l.s),
         |comp AS (SELECT s AS fid, min(t) AS group_id FROM reachc
         |  GROUP BY s),
         |sizes AS (SELECT group_id, count(*) AS nmem FROM comp
         |  GROUP BY group_id)
         |SELECT c.fid, c.group_id FROM comp c
         |JOIN sizes z ON z.group_id = c.group_id
         |WHERE z.nmem >= 3""".stripMargin,

    "geo_layer_footprint" ->
      s"""WITH sq AS (${Derived.supplierSquaresSql})
         |SELECT min(min_x) AS fx0, min(min_y) AS fy0,
         |  max(max_x) AS fx1, max(max_y) AS fy1,
         |  round((max(max_x) - min(min_x)) * (max(max_y) - min(min_y)), 6)
         |    AS area
         |FROM sq""".stripMargin,

    "geo_extend_lines" ->
      s"""WITH sp AS ($SPTS),
         |ln AS (SELECT s_id AS line_id, sx / 2 AS x1, sy / 2 AS y1,
         |  sx / 2 + 5 AS x2, sy / 2 + 2 AS y2,
         |  sx / 2 + 3 AS x3, sy / 2 + 8 AS y3 FROM sp)
         |SELECT line_id,
         |  round(x1 + 2.0 * cos(atan2(y1 - y2, x1 - x2)), 6) AS xst,
         |  round(y1 + 2.0 * sin(atan2(y1 - y2, x1 - x2)), 6) AS yst,
         |  round(x3 + 2.0 * cos(atan2(y3 - y2, x3 - x2)), 6) AS xend,
         |  round(y3 + 2.0 * sin(atan2(y3 - y2, x3 - x2)), 6) AS yend
         |FROM ln""".stripMargin,

    "geo_simplify" ->
      s"""WITH sp AS ($SPTS),
         |tri AS (SELECT s_id AS line_id, sx / 2 AS ax, sy / 2 AS ay,
         |  sx / 2 + (5 + s_id % 7) AS bx, sy / 2 + 2 AS "by",
         |  sx / 2 + 3 AS cx, sy / 2 + (8 + s_id % 5) AS cy FROM sp),
         |d AS (SELECT line_id,
         |  abs((cx - ax) * ("by" - ay) - (bx - ax) * (cy - ay))
         |    / sqrt((cx - ax) * (cx - ax) + (cy - ay) * (cy - ay)) AS dist
         |  FROM tri)
         |SELECT line_id,
         |  CAST(CASE WHEN dist > 6.0 THEN 3 ELSE 2 END AS BIGINT)
         |    AS n_points,
         |  round(dist, 6) AS offset_dist
         |FROM d""".stripMargin,

    "geo_remove_holes" ->
      s"""WITH zv(zone_id, i, vx, vy) AS (SELECT * FROM (VALUES
         |  (1, 0, CAST(12.005 AS DOUBLE), CAST(45.005 AS DOUBLE)),
         |  (1, 1, CAST(13.005 AS DOUBLE), CAST(45.005 AS DOUBLE)),
         |  (1, 2, CAST(13.005 AS DOUBLE), CAST(46.505 AS DOUBLE)),
         |  (1, 3, CAST(12.005 AS DOUBLE), CAST(46.505 AS DOUBLE)),
         |  (2, 0, CAST(-120.005 AS DOUBLE), CAST(-30.005 AS DOUBLE)),
         |  (2, 1, CAST(-60.005 AS DOUBLE), CAST(-30.005 AS DOUBLE)),
         |  (2, 2, CAST(-60.005 AS DOUBLE), CAST(30.005 AS DOUBLE)),
         |  (2, 3, CAST(-120.005 AS DOUBLE), CAST(30.005 AS DOUBLE)),
         |  (3, 0, CAST(40.005 AS DOUBLE), CAST(-60.005 AS DOUBLE)),
         |  (3, 1, CAST(80.005 AS DOUBLE), CAST(-60.005 AS DOUBLE)),
         |  (3, 2, CAST(80.005 AS DOUBLE), CAST(-20.005 AS DOUBLE)),
         |  (3, 3, CAST(40.005 AS DOUBLE), CAST(-20.005 AS DOUBLE)),
         |  (4, 0, CAST(0.005 AS DOUBLE), CAST(0.005 AS DOUBLE)),
         |  (4, 1, CAST(20.005 AS DOUBLE), CAST(1.005 AS DOUBLE)),
         |  (4, 2, CAST(10.005 AS DOUBLE), CAST(15.005 AS DOUBLE)),
         |  (5, 0, CAST(100.005 AS DOUBLE), CAST(0.005 AS DOUBLE)),
         |  (5, 1, CAST(140.005 AS DOUBLE), CAST(0.005 AS DOUBLE)),
         |  (5, 2, CAST(140.005 AS DOUBLE), CAST(20.005 AS DOUBLE)),
         |  (5, 3, CAST(120.005 AS DOUBLE), CAST(20.005 AS DOUBLE)),
         |  (5, 4, CAST(120.005 AS DOUBLE), CAST(40.005 AS DOUBLE)),
         |  (5, 5, CAST(100.005 AS DOUBLE), CAST(40.005 AS DOUBLE))
         |  ) v(zone_id, i, vx, vy)),
         |vv AS (SELECT zone_id, i, vx, vy,
         |  COALESCE(lead(vx, 1) OVER (PARTITION BY zone_id ORDER BY i),
         |    first_value(vx) OVER (PARTITION BY zone_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |    AS nx,
         |  COALESCE(lead(vy, 1) OVER (PARTITION BY zone_id ORDER BY i),
         |    first_value(vy) OVER (PARTITION BY zone_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |    AS ny
         |  FROM zv)
         |SELECT zone_id, CAST(count(*) AS BIGINT) AS n_shell_vertices,
         |  round(abs(sum(vx * ny - nx * vy)) / 2, 6) AS shell_area
         |FROM vv GROUP BY zone_id""".stripMargin,

    "geo_upstream_channels" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5)},
         |se AS (SELECT r, c, tr, tc,
         |  CASE WHEN abs(tr - r) + abs(tc - c) = 2
         |    THEN CAST(${operators.Terrain.DiagNano} AS BIGINT)
         |    ELSE CAST(1000000000 AS BIGINT) END AS d
         |  FROM sedges),
         |upr AS (SELECT r AS sr, c AS sc, d AS du, tr AS r, tc AS c FROM se
         |  UNION SELECT x.sr, x.sc, x.du, e.tr, e.tc
         |  FROM upr x JOIN se e ON e.r = x.r AND e.c = x.c),
         |tot AS (SELECT r, c, CAST(sum(du) AS BIGINT) AS t
         |  FROM upr GROUP BY r, c),
         |heads AS (SELECT s.r, s.c FROM stream s
         |  LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
         |  WHERE COALESCE(d.n, 0) = 0),
         |wl AS (SELECT r AS sr, c AS sc, tr AS r, tc AS c, d AS len FROM se
         |  UNION SELECT x.sr, x.sc, e.tr, e.tc, x.len + e.d
         |  FROM wl x JOIN se e ON e.r = x.r AND e.c = x.c),
         |hd AS (SELECT wl.r, wl.c, max(len) AS h FROM wl
         |  JOIN heads ON heads.r = wl.sr AND heads.c = wl.sc
         |  GROUP BY wl.r, wl.c)
         |SELECT s.r, s.c,
         |  CAST(COALESCE(t.t, 0) AS BIGINT) AS total_upstream_nano,
         |  CAST(COALESCE(hd.h, 0) AS BIGINT) AS head_dist_nano
         |FROM stream s
         |LEFT JOIN tot t ON t.r = s.r AND t.c = s.c
         |LEFT JOIN hd ON hd.r = s.r AND hd.c = s.c""".stripMargin,

    "geo_pan_sharpen" ->
      s"""WITH rgb AS (${Derived.rgbChannelsSql}),
         |g AS ($GRID),
         |st AS (SELECT min(v) AS pmn, max(v) AS pmx FROM g),
         |j AS (SELECT rgb.r, rgb.c, rch, gch, bch,
         |  (v - pmn) / (pmx - pmn) AS p,
         |  (rch + gch + bch) / 3 AS adj
         |  FROM rgb JOIN g ON g.r = rgb.r AND g.c = rgb.c CROSS JOIN st),
         |k AS (SELECT r, c,
         |  LEAST(GREATEST(CAST(trunc(rch * p / adj * 255) AS BIGINT), 0),
         |    255) AS ps_r,
         |  LEAST(GREATEST(CAST(trunc(gch * p / adj * 255) AS BIGINT), 0),
         |    255) AS ps_g,
         |  LEAST(GREATEST(CAST(trunc(bch * p / adj * 255) AS BIGINT), 0),
         |    255) AS ps_b
         |  FROM j)
         |SELECT r, c, ps_r, ps_g, ps_b,
         |  4278190080 + ps_b * 65536 + ps_g * 256 + ps_r AS rgb
         |FROM k""".stripMargin,

    "geo_dds" ->
      s"""WITH rgb AS (${Derived.rgbChannelsSql}),
         |s1 AS (SELECT r, c,
         |  LEAST(GREATEST(CAST(trunc(rch - 0.5 * LEAST(rch, gch, bch))
         |    AS BIGINT), 0), 255) AS r1,
         |  LEAST(GREATEST(CAST(trunc(gch - 0.5 * LEAST(rch, gch, bch))
         |    AS BIGINT), 0), 255) AS g1,
         |  LEAST(GREATEST(CAST(trunc(bch - 0.5 * LEAST(rch, gch, bch))
         |    AS BIGINT), 0), 255) AS b1
         |  FROM rgb),
         |mx AS (SELECT max(r1) AS rmx, max(g1) AS gmx, max(b1) AS bmx
         |  FROM s1)
         |SELECT r, c,
         |  LEAST(GREATEST(CAST(trunc(r1 / CAST(rmx AS DOUBLE) * 255)
         |    AS BIGINT), 0), 255) AS dds_r,
         |  LEAST(GREATEST(CAST(trunc(g1 / CAST(gmx AS DOUBLE) * 255)
         |    AS BIGINT), 0), 255) AS dds_g,
         |  LEAST(GREATEST(CAST(trunc(b1 / CAST(bmx AS DOUBLE) * 255)
         |    AS BIGINT), 0), 255) AS dds_b
         |FROM s1 CROSS JOIN mx""".stripMargin,

    "geo_local_contrast" ->
      s"""WITH g AS ($GRID),
         |gm AS (SELECT sum(v) / CAST(count(*) AS DOUBLE) AS gm FROM g),
         |${focalConSql(2, reflect = false)},
         |stats AS (SELECT r, c,
         |  max(CASE WHEN dy = 0 AND dx = 0 THEN nv END) AS z,
         |  CAST(count(*) AS DOUBLE) AS n,
         |  sum(nv) AS sm, sum(nv * nv) AS sq
         |  FROM con WHERE dy * dy + dx * dx <= 4 GROUP BY r, c),
         |k AS (SELECT r, c, z, n, sm / n AS avg,
         |  sq / n - (sm / n) * (sm / n) AS vr, gm
         |  FROM stats CROSS JOIN gm)
         |SELECT r, c,
         |  round((0.5 * gm) + (0.5 * avg)
         |    + (z - avg) * (20.0 / (sqrt(vr) + 1)), 6) AS enhanced
         |FROM k WHERE n > 2 AND vr > 0""".stripMargin,

    "geo_ihs_rgb" ->
      s"""WITH g AS (${Derived.rgbChannelsSql}),
         |st AS (SELECT LEAST(min(rch), min(gch), min(bch)) AS mnall,
         |  GREATEST(max(rch), max(gch), max(bch)) AS mxall FROM g),
         |n AS (SELECT r, c,
         |  LEAST(GREATEST((rch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS rn,
         |  LEAST(GREATEST((gch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS gn,
         |  LEAST(GREATEST((bch - mnall) / CAST(mxall - mnall AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS bn
         |  FROM g CROSS JOIN st),
         |wh AS (SELECT r, c, rn, gn, bn, rn + gn + bn AS ih,
         |  CASE WHEN rn + gn + bn = 3.0 THEN CAST(0.0 AS DOUBLE)
         |    WHEN LEAST(rn, gn, bn) = bn
         |      THEN (gn - bn) / ((rn + gn + bn) - 3 * bn)
         |    WHEN LEAST(rn, gn, bn) = rn
         |      THEN (bn - rn) / ((rn + gn + bn) - 3 * rn) + 1
         |    ELSE (rn - gn) / ((rn + gn + bn) - 3 * gn) + 2 END AS hh
         |  FROM n),
         |ihs AS (SELECT r, c, ih, hh,
         |  CASE WHEN hh <= 1.0 THEN (ih - 3 * bn) / ih
         |    WHEN hh <= 2.0 THEN (ih - 3 * rn) / ih
         |    ELSE (ih - 3 * gn) / ih END AS ss
         |  FROM wh)
         |SELECT r, c,
         |  round(CASE WHEN hh <= 1.0
         |      THEN ih * (1 + 2 * ss - 3 * ss * hh) / 3
         |    WHEN hh <= 2.0 THEN ih * (1 - ss) / 3
         |    ELSE ih * (1 - ss + 3 * ss * (hh - 2)) / 3 END * 255, 6)
         |    AS rrec,
         |  round(CASE WHEN hh <= 1.0
         |      THEN ih * (1 - ss + 3 * ss * hh) / 3
         |    WHEN hh <= 2.0
         |      THEN ih * (1 + 2 * ss - 3 * ss * (hh - 1)) / 3
         |    ELSE ih * (1 - ss) / 3 END * 255, 6) AS grec,
         |  round(CASE WHEN hh <= 1.0 THEN ih * (1 - ss) / 3
         |    WHEN hh <= 2.0
         |      THEN ih * (1 - ss + 3 * ss * (hh - 1)) / 3
         |    ELSE ih * (1 + 2 * ss - 3 * ss * (hh - 2)) / 3 END * 255, 6)
         |    AS brec
         |FROM ihs""".stripMargin,

    "geo_fill_holes" ->
      s"""WITH g AS ($GRID),
         |g0 AS (SELECT r, c, v,
         |  ((r * 50 + c) % 83 = 17 AND r >= 1 AND r <= 38
         |    AND c >= 1 AND c <= 48) AS is_hole FROM g),
         |present AS (SELECT r, c, v FROM g0 WHERE NOT is_hole),
         |holes AS (SELECT r, c FROM g0 WHERE is_hole),
         |offs AS (SELECT a.x AS dy, b.x AS dx
         |  FROM range(-1, 2) a(x) CROSS JOIN range(-1, 2) b(x)),
         |conh AS (SELECT h.r, h.c, o.dy, o.dx, p.v AS nv
         |  FROM holes h CROSS JOIN offs o
         |  JOIN present p ON p.r = h.r + o.dy AND p.c = h.c + o.dx
         |  WHERE NOT (o.dy = 0 AND o.dx = 0)),
         |fill0 AS (SELECT r, c,
         |  sum(1.0 / CAST(dy * dy + dx * dx AS DOUBLE)) AS sw,
         |  sum((1.0 / CAST(dy * dy + dx * dx AS DOUBLE)) * nv) AS wv
         |  FROM conh GROUP BY r, c),
         |uni AS (SELECT r, c, v AS filled FROM present
         |  UNION ALL SELECT r, c, wv / sw AS filled FROM fill0)
         |SELECT r, c, round(filled, 6) AS filled FROM uni""".stripMargin,

    "geo_convex_hull" ->
      s"""WITH sp AS ($SPTS),
         |base AS (SELECT s_id AS fid, sx / 2 AS x0, sy / 2 AS y0 FROM sp),
         |pts AS (SELECT fid, 0 AS i, x0 AS px, y0 AS py FROM base
         |  UNION ALL SELECT fid, 1, x0 + (17 + fid % 3),
         |    y0 + (3 + fid % 3) FROM base
         |  UNION ALL SELECT fid, 2, x0 + 23,
         |    y0 + (11 + 2 * (fid % 2)) FROM base
         |  UNION ALL SELECT fid, 3, x0 + (9 + fid % 3), y0 + 27 FROM base
         |  UNION ALL SELECT fid, 4, x0 + 2, y0 + (17 + fid % 3) FROM base
         |  UNION ALL SELECT fid, 5, x0 + 11, y0 + (9 + fid % 2) FROM base),
         |ed AS (SELECT a.fid, a.i AS ia, a.px AS ax, a.py AS ay,
         |  b.i AS ib, b.px AS bx, b.py AS byy
         |  FROM pts a JOIN pts b ON b.fid = a.fid AND b.i <> a.i),
         |tst AS (SELECT e.fid, e.ia, e.ib, e.ax, e.ay, e.bx, e.byy,
         |  min(CASE WHEN (e.bx - e.ax) * (k.py - e.ay)
         |      - (e.byy - e.ay) * (k.px - e.ax) >= 0
         |    THEN 1 ELSE 0 END) AS allleft
         |  FROM ed e JOIN pts k
         |    ON k.fid = e.fid AND k.i <> e.ia AND k.i <> e.ib
         |  GROUP BY e.fid, e.ia, e.ib, e.ax, e.ay, e.bx, e.byy)
         |SELECT fid, CAST(count(*) AS BIGINT) AS n_hull,
         |  round(sum(ax * byy - bx * ay) / 2, 6) AS hull_area,
         |  round(sum(sqrt((bx - ax) * (bx - ax)
         |    + (byy - ay) * (byy - ay))), 6) AS hull_perim
         |FROM tst WHERE allleft = 1 GROUP BY fid""".stripMargin,

    "geo_meri" ->
      s"""WITH g AS ($GRID),
         |gz AS (SELECT r, c, CAST(round(v * 10) AS BIGINT) AS zi FROM g),
         |ii0 AS (SELECT r, c, zi,
         |  sum(zi) OVER (PARTITION BY r ORDER BY c) AS sic FROM gz),
         |ii AS (SELECT r AS ir, c AS ic,
         |  sum(sic) OVER (PARTITION BY ic2 ORDER BY r) AS ii
         |  FROM (SELECT r, c, sic, c AS ic2 FROM ii0)),
         |rads AS (SELECT unnest([1, 3, 5, 10, 18]) AS rad),
         |tgt AS (SELECT gz.r, gz.c, gz.zi, rad,
         |  LEAST(GREATEST(gz.r - rad, 0), ${GridRows - 1}) AS y1,
         |  LEAST(GREATEST(gz.r + rad, 0), ${GridRows - 1}) AS y2,
         |  LEAST(GREATEST(gz.c - rad, 0), ${GridCols - 1}) AS x1,
         |  LEAST(GREATEST(gz.c + rad, 0), ${GridCols - 1}) AS x2
         |  FROM gz CROSS JOIN rads),
         |wc AS (SELECT t.r, t.c, t.zi, t.rad,
         |  t.y1, t.y2, t.x1, t.x2,
         |  cc.ii AS icc, aa.ii AS iaa, bb.ii AS ibb, dd.ii AS idd
         |  FROM tgt t
         |  JOIN ii cc ON cc.ir = t.y2 AND cc.ic = t.x2
         |  JOIN ii aa ON aa.ir = t.y1 AND aa.ic = t.x1
         |  JOIN ii bb ON bb.ir = t.y1 AND bb.ic = t.x2
         |  JOIN ii dd ON dd.ir = t.y2 AND dd.ic = t.x1)
         |SELECT r, c, round(sum(CASE WHEN
         |    zi * ((y2 - y1) * (x2 - x1)) > icc + iaa - ibb - idd
         |  THEN 1 ELSE 0 END) / 5.0, 4) AS meri
         |FROM wc GROUP BY r, c""".stripMargin,

    "geo_wfmi" ->
      s"""WITH g AS (${Derived.rgbChannelsSql}),
         |st AS (SELECT min(rch) AS rmn, max(rch) AS rmx,
         |  min(gch) AS gmn, max(gch) AS gmx FROM g),
         |k AS (SELECT r, c,
         |  LEAST(GREATEST(CAST(trunc((rch - rmn) / CAST(rmx - rmn AS DOUBLE)
         |    * 255) AS BIGINT), 0), 255) AS wr,
         |  LEAST(GREATEST(CAST(trunc((gch - gmn) / CAST(gmx - gmn AS DOUBLE)
         |    * 255) AS BIGINT), 0), 255) AS wg
         |  FROM g CROSS JOIN st)
         |SELECT r, c, wr, wg,
         |  4278190080 + wg * 65536 + wg * 256 + wr AS rgb
         |FROM k""".stripMargin,

    "geo_azimuth_points" ->
      s"""WITH sp AS ($SPTS),
         |pr AS (SELECT a.s_id, a.sx, a.sy, b.sx AS tx, b.sy AS ty
         |  FROM sp a JOIN sp b ON b.s_id = a.s_id + 1),
         |th AS (SELECT s_id,
         |  -atan2(ty - sy, tx - sx) + ${math.Pi / 2}e0 AS theta FROM pr)
         |SELECT s_id, round(CASE WHEN theta < 0
         |  THEN degrees(theta + ${2 * math.Pi}e0)
         |  ELSE degrees(theta) END, 6) AS azimuth FROM th""".stripMargin,

    "geo_utm_project" -> {
      val aAx = 6378137.0; val bAx = 6356752.314
      val e = math.sqrt(1 - (bAx / aAx) * (bAx / aAx))
      val esq = 1 - (bAx / aAx) * (bAx / aAx)
      val e0sq = e * e / (1 - e * e)
      val k0 = 0.9996
      val drad = math.Pi / 180
      val mc1 = 1 - esq * (1 / 4.0 + esq * (3 / 64.0 + 5 * esq / 256.0))
      val mc2 = esq * (3 / 8.0 + esq * (3 / 32.0 + 45 * esq / 1024.0))
      val mc3 = esq * esq * (15 / 256.0 + esq * 45 / 1024.0)
      val mc4 = esq * esq * esq * (35 / 3072.0)
      s"""WITH pts AS ($PTS),
         |b1 AS (SELECT id, x, y,
         |  CAST(1 + floor((x + 180) / 6.0) AS BIGINT) AS zone,
         |  y * $drad AS phi FROM pts),
         |b2 AS (SELECT id, x, y, zone, phi,
         |  3 + 6 * (zone - 1) - 180 AS zcm FROM b1),
         |b3 AS (SELECT id, x, y, zone, phi,
         |  $aAx / sqrt(1.0 - pow($e * sin(phi), 2.0)) AS nn,
         |  pow(tan(phi), 2.0) AS tt,
         |  $e0sq * pow(cos(phi), 2.0) AS cc,
         |  (x - zcm) * $drad * cos(phi) AS aa,
         |  ((((phi * $mc1) - sin(2 * phi) * $mc2) + sin(4 * phi) * $mc3)
         |    - sin(6 * phi) * $mc4) * $aAx AS mm,
         |  tan(phi) AS tp
         |  FROM b2),
         |b4 AS (SELECT id, y, zone,
         |  $k0 * nn * aa * (1 + aa * aa * ((1 - tt + cc) / 6.0
         |    + aa * aa * (5 - 18 * tt + tt * tt + 72 * cc
         |      - 58 * $e0sq) / 120.0)) + 500000 AS xe,
         |  $k0 * (mm + nn * tp * (aa * aa * (1 / 2.0
         |    + aa * aa * ((5 - tt + 9 * cc + 4 * cc * cc) / 24.0
         |      + aa * aa * (61 - 58 * tt + tt * tt + 600 * cc
         |        - 330 * $e0sq) / 720.0)))) AS yn
         |  FROM b3)
         |SELECT id, zone,
         |  CASE WHEN y < 0 THEN 'S' ELSE 'N' END AS hemi,
         |  round(xe, 4) AS easting,
         |  round(CASE WHEN y < 0 THEN 10000000 + yn ELSE yn END, 4)
         |    AS northing
         |FROM b4""".stripMargin
    },

    "geo_downslope_index" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |$d8SqlCtes,
         |ed AS (SELECT p.r, p.c,
         |  p.r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  p.c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc,
         |  (ptr IN (1, 4, 16, 64)) AS diag
         |  FROM p WHERE ptr > 0),
         |ed2 AS (SELECT ed.r, ed.c, ed.tr, ed.tc, ed.diag, g2.v AS tz
         |  FROM ed JOIN g g2 ON g2.r = ed.tr AND g2.c = ed.tc),
         |wk AS (SELECT p.r AS sr, p.c AS sc, g.v AS zst,
         |  p.r AS cr, p.c AS cc,
         |  CAST(0 AS BIGINT) AS ns, CAST(0 AS BIGINT) AS nd
         |  FROM p JOIN g ON g.r = p.r AND g.c = p.c WHERE p.ptr > 0
         |  UNION
         |  SELECT w.sr, w.sc, w.zst, e.tr, e.tc,
         |    w.ns + CASE WHEN e.diag THEN 0 ELSE 1 END,
         |    w.nd + CASE WHEN e.diag THEN 1 ELSE 0 END
         |  FROM wk w JOIN ed2 e ON e.r = w.cr AND e.c = w.cc
         |  WHERE w.zst - e.tz < 15.0),
         |qf AS (SELECT w.sr, w.sc,
         |  15.0 / ((w.ns * 1.0 + w.nd * sqrt(2.0))
         |    + (CASE WHEN e.diag THEN sqrt(2.0) ELSE 1.0 END) * 15.0
         |      / (w.zst - e.tz)) AS dsi
         |  FROM wk w JOIN ed2 e ON e.r = w.cr AND e.c = w.cc
         |  WHERE w.zst - e.tz >= 15.0),
         |deadend AS (SELECT w.sr, w.sc, CAST(0.0 AS DOUBLE) AS dsi
         |  FROM wk w LEFT JOIN ed2 e ON e.r = w.cr AND e.c = w.cc
         |  WHERE e.tr IS NULL AND w.ns + w.nd > 0)
         |SELECT sr AS r, sc AS c, round(dsi, 6) AS dsi
         |FROM (SELECT * FROM qf UNION ALL SELECT * FROM deadend)""".stripMargin,

    "geo_long_profile" ->
      s"""WITH RECURSIVE g AS ($GRID),
         |${streamSqlCtes(5)},
         |edl AS (SELECT r, c,
         |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
         |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc,
         |  (ptr IN (1, 4, 16, 64)) AS diag
         |  FROM p WHERE ptr > 0),
         |wfp AS (SELECT r AS sr, c AS sc, r, c,
         |  CAST(0 AS BIGINT) AS ns, CAST(0 AS BIGINT) AS nd FROM g
         |  UNION SELECT w.sr, w.sc, edl.tr, edl.tc,
         |    w.ns + CASE WHEN edl.diag THEN 0 ELSE 1 END,
         |    w.nd + CASE WHEN edl.diag THEN 1 ELSE 0 END
         |  FROM wfp w JOIN edl ON edl.r = w.r AND edl.c = w.c),
         |term AS (SELECT w.sr AS r, w.sc AS c, w.ns, w.nd
         |  FROM wfp w JOIN p ON p.r = w.r AND p.c = w.c AND p.ptr = 0)
         |SELECT s.r, s.c, round(t.ns + t.nd * sqrt(2.0), 6)
         |    AS dist_to_outlet, g.v AS elev
         |FROM stream s
         |JOIN term t ON t.r = s.r AND t.c = s.c
         |JOIN g ON g.r = s.r AND g.c = s.c""".stripMargin,

    "lidar_grid_extremes" ->
      s"""WITH lc AS (${Derived.lidarCloudSql}),
         |cell AS (SELECT pid, x, y, z,
         |  CAST(floor(y / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cr,
         |  CAST(floor(x / CAST(10.0 AS DOUBLE)) AS BIGINT) AS cc FROM lc),
         |mm AS (SELECT cr, cc, round(max(z), 6) AS z_max,
         |  round(min(z), 6) AS z_min FROM cell GROUP BY 1, 2),
         |t AS (SELECT pid, z, cr, cc,
         |  (x - (cc * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE)))
         |    * (x - (cc * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE)))
         |  + (y - (cr * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE)))
         |    * (y - (cr * CAST(10.0 AS DOUBLE) + CAST(5.0 AS DOUBLE)))
         |    AS d2
         |  FROM cell),
         |near AS (SELECT cr, cc, min(d2) AS mind2 FROM t GROUP BY 1, 2),
         |nn AS (SELECT t.cr, t.cc, round(min_by(z, pid), 6) AS z_nn
         |  FROM t JOIN near ON near.cr = t.cr AND near.cc = t.cc
         |  WHERE d2 = mind2 GROUP BY t.cr, t.cc)
         |SELECT mm.cr, mm.cc, z_max, z_min, z_nn
         |FROM mm JOIN nn ON nn.cr = mm.cr AND nn.cc = mm.cc""".stripMargin
  )

  /** Edge-reflection of index expression `e` into [0, n) — the SQL
    * mirror of WhiteboxRaster.java:535-557 (single level). */
  private def reflSql(e: String, n: Long): String =
    s"CASE WHEN ($e) < 0 THEN -($e)-1 WHEN ($e) >= $n THEN ${2 * n}-($e)-1 ELSE ($e) END"

  /** Focal-neighbourhood CTEs over `g` (mirrors Focal.contributions):
    * con(r, c, dy, dx, cz, nv). */
  private def focalConSql(radius: Int, reflect: Boolean): String = {
    val sr = if (reflect) reflSql("t.r + o.dy", GridRows)
             else "t.r + o.dy"
    val sc = if (reflect) reflSql("t.c + o.dx", GridCols)
             else "t.c + o.dx"
    s"""offs AS (SELECT a.x AS dy, b.x AS dx
       |  FROM range(-$radius, ${radius + 1}) a(x)
       |  CROSS JOIN range(-$radius, ${radius + 1}) b(x)),
       |con AS (SELECT t.r, t.c, o.dy, o.dx, t.v AS cz, s.v AS nv
       |  FROM g t CROSS JOIN offs o
       |  JOIN g s ON s.r = $sr AND s.c = $sc)""".stripMargin
  }

  /** Reflected 3x3 stencil CTE (mirrors Terrain.gatherNeighbors with
    * reflect = true + NoData->centre substitution): nb(r, c, v,
    * m0..m7) in the shared neighbour order. */
  private lazy val stencilReflectSql: String = {
    val dy = operators.Terrain.dY
    val dx = operators.Terrain.dX
    val joins = (0 until 8).map(i =>
      s"LEFT JOIN g a$i ON a$i.r = ${reflSql(s"g.r + ${dy(i)}", GridRows)}" +
        s" AND a$i.c = ${reflSql(s"g.c + ${dx(i)}", GridCols)}")
      .mkString("\n")
    val ms = (0 until 8).map(i => s"COALESCE(a$i.v, g.v) AS m$i")
      .mkString(", ")
    s"""nb AS (SELECT g.r, g.c, g.v, $ms FROM g
       |$joins)""".stripMargin
  }

  private val FxSql = "(m2 - m4 + 2 * (m1 - m5) + m0 - m6) / 8.0"
  private val FySql = "(m6 - m4 + 2 * (m7 - m3) + m0 - m2) / 8.0"
  private val RadToDegLit = (180.0 / math.Pi).toString
  private val AspectSql =
    s"CASE WHEN fx <> 0 THEN 180.0 - atan(fy / fx) * $RadToDegLit + 90.0 * (fx / abs(fx)) ELSE -1.0 END"

  /** Surface-derivative CTEs shared by the curvature oracles (mirrors
    * Terrain.surfaceTerms). */
  private lazy val surfaceSql: String =
    s"""$stencilReflectSql,
       |st AS (SELECT r, c, v,
       |  (m1 - m5) / 2.0 AS zx, (m7 - m3) / 2.0 AS zy,
       |  m1 - 2 * v + m5 AS zxx, m7 - 2 * v + m3 AS zyy,
       |  (-m6 + m0 + m4 - m2) / 4.0 AS zxy
       |  FROM nb),
       |st2 AS (SELECT r, c, v, zx, zy, zxx, zyy, zxy,
       |  zx * zx AS zx2, zy * zy AS zy2, zx * zx + zy * zy AS p
       |  FROM st)""".stripMargin

  /** D8 target-coordinate decode columns (mirrors Terrain.d8Edges). */
  private lazy val d8EdgeSql: String =
    """e AS (SELECT r, c,
      |  r + CASE ptr WHEN 1 THEN -1 WHEN 2 THEN 0 WHEN 4 THEN 1 WHEN 8 THEN 1 WHEN 16 THEN 1 WHEN 32 THEN 0 WHEN 64 THEN -1 ELSE -1 END AS tr,
      |  c + CASE ptr WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1 WHEN 8 THEN 0 WHEN 16 THEN -1 WHEN 32 THEN -1 WHEN 64 THEN -1 ELSE 0 END AS tc
      |  FROM p WHERE ptr > 0)""".stripMargin

  /** Flow-accumulation + stream graph + link labelling CTE chain
    * (mirrors Terrain.extractStreams/streamLinkId at width 50). */
  private def streamSqlCtes(threshold: Long): String =
    s"""$d8SqlCtes,
       |$d8EdgeSql,
       |reach AS (SELECT r AS sr, c AS sc, tr, tc FROM e
       |  UNION SELECT x.sr, x.sc, e.tr, e.tc
       |  FROM reach x JOIN e ON x.tr = e.r AND x.tc = e.c),
       |acc AS (SELECT tr, tc, count(*) AS k FROM reach GROUP BY tr, tc),
       |fa AS MATERIALIZED (SELECT g.r, g.c, 1 + COALESCE(a.k, 0) AS n
       |  FROM g LEFT JOIN acc a ON a.tr = g.r AND a.tc = g.c),
       |stream AS MATERIALIZED (SELECT r, c FROM fa WHERE n >= $threshold),
       |sedges AS MATERIALIZED (SELECT e.r, e.c, e.tr, e.tc FROM e
       |  JOIN stream s1 ON s1.r = e.r AND s1.c = e.c
       |  JOIN stream s2 ON s2.r = e.tr AND s2.c = e.tc),
       |indeg AS MATERIALIZED (SELECT tr, tc, count(*) AS n FROM sedges GROUP BY 1, 2),
       |links(r, c, link_id) AS (
       |  SELECT s.r, s.c, s.r * 50 + s.c FROM stream s
       |  LEFT JOIN indeg d ON d.tr = s.r AND d.tc = s.c
       |  WHERE COALESCE(d.n, 0) <> 1
       |  UNION
       |  SELECT e2.tr, e2.tc, l.link_id FROM links l
       |  JOIN sedges e2 ON e2.r = l.r AND e2.c = l.c
       |  JOIN indeg d ON d.tr = e2.tr AND d.tc = e2.tc AND d.n = 1)""".stripMargin

  /** Contour polyline-assembly oracle (mirrors ContourOps): crossings
    * with packed node ids -> per-cell marching-squares segments (fixed
    * (top,left)+(bottom,right) saddle rule) -> recursive-CTE min-label
    * connected components -> per-line stats. Lengths sum per-segment
    * as round(len*1e9) BIGINTs so the totals are order-independent. */
  private lazy val contourLinesSql: String = {
    val segLen = "CAST(round(sqrt((xa - xb) * (xa - xb) + " +
      "(ya - yb) * (ya - yb)) * 1e9) AS BIGINT)"
    val sides = Seq("t", "b", "l", "rr")
    val pairs2 = sides.combinations(2).toSeq
    val cnt = sides.map(s => s"(CASE WHEN n_$s IS NOT NULL THEN 1 ELSE 0 END)")
      .mkString(" + ")
    def case2(field: String, of: Int) = pairs2.map { pr =>
      val s = pr(of)
      s"WHEN n_${pr(0)} IS NOT NULL AND n_${pr(1)} IS NOT NULL THEN ${field}_$s"
    }.mkString("CASE ", " ", " END")
    s"""lv AS (SELECT * FROM (VALUES (CAST(25.0 AS DOUBLE), 0), (CAST(50.0 AS DOUBLE), 1), (CAST(75.0 AS DOUBLE), 2)) t(lvl, li)),
       |crh AS (SELECT lvl, li, a.r, a.c, (lvl - a.v) / (b.v - a.v) AS t
       |  FROM g a JOIN g b ON b.r = a.r AND b.c = a.c + 1
       |  CROSS JOIN lv WHERE (a.v >= lvl) <> (b.v >= lvl)),
       |crv AS (SELECT lvl, li, a.r, a.c, (lvl - a.v) / (b.v - a.v) AS t
       |  FROM g a JOIN g b ON b.r = a.r + 1 AND b.c = a.c
       |  CROSS JOIN lv WHERE (a.v >= lvl) <> (b.v >= lvl)),
       |nodes AS (
       |  SELECT lvl, 'h' AS et, r, c,
       |    li * 100000 + (r * 64 + c) * 2 AS node,
       |    c + t AS x, CAST(r AS DOUBLE) AS y FROM crh
       |  UNION ALL
       |  SELECT lvl, 'v' AS et, r, c,
       |    li * 100000 + (r * 64 + c) * 2 + 1 AS node,
       |    CAST(c AS DOUBLE) AS x, r + t AS y FROM crv),
       |ct AS (SELECT lvl, r, c, node AS n_t, x AS x_t, y AS y_t
       |  FROM nodes WHERE et = 'h'),
       |cb AS (SELECT lvl, r - 1 AS r, c, node AS n_b, x AS x_b, y AS y_b
       |  FROM nodes WHERE et = 'h'),
       |cl AS (SELECT lvl, r, c, node AS n_l, x AS x_l, y AS y_l
       |  FROM nodes WHERE et = 'v'),
       |crr AS (SELECT lvl, r, c - 1 AS c, node AS n_rr, x AS x_rr, y AS y_rr
       |  FROM nodes WHERE et = 'v'),
       |cell AS (SELECT * FROM ct
       |  FULL JOIN cb USING (lvl, r, c)
       |  FULL JOIN cl USING (lvl, r, c)
       |  FULL JOIN crr USING (lvl, r, c)),
       |s2f AS (SELECT lvl,
       |  ${case2("n", 0)} AS n1, ${case2("x", 0)} AS x1, ${case2("y", 0)} AS y1,
       |  ${case2("n", 1)} AS n2, ${case2("x", 1)} AS x2, ${case2("y", 1)} AS y2
       |  FROM cell WHERE $cnt = 2),
       |s4 AS (
       |  SELECT lvl, n_t AS n1, x_t AS x1, y_t AS y1,
       |    n_l AS n2, x_l AS x2, y_l AS y2 FROM cell WHERE $cnt = 4
       |  UNION ALL
       |  SELECT lvl, n_b AS n1, x_b AS x1, y_b AS y1,
       |    n_rr AS n2, x_rr AS x2, y_rr AS y2 FROM cell WHERE $cnt = 4),
       |segs AS MATERIALIZED (SELECT lvl,
       |  LEAST(n1, n2) AS na, GREATEST(n1, n2) AS nb,
       |  CASE WHEN n1 <= n2 THEN x1 ELSE x2 END AS xa,
       |  CASE WHEN n1 <= n2 THEN y1 ELSE y2 END AS ya,
       |  CASE WHEN n1 <= n2 THEN x2 ELSE x1 END AS xb,
       |  CASE WHEN n1 <= n2 THEN y2 ELSE y1 END AS yb
       |  FROM (SELECT * FROM s2f UNION ALL SELECT * FROM s4)),
       |sege AS MATERIALIZED (SELECT na AS a, nb AS b FROM segs
       |  UNION ALL SELECT nb AS a, na AS b FROM segs),
       |cc AS (
       |  SELECT a AS node, LEAST(a, b) AS lbl FROM sege
       |  UNION
       |  SELECT s.b AS node, c2.lbl FROM cc c2 JOIN sege s ON s.a = c2.node),
       |comp AS MATERIALIZED (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
       |lstats AS (SELECT s.lvl, c1.comp AS line_id,
       |  count(*) AS n_segs, CAST(sum($segLen) AS BIGINT) AS len_nano
       |  FROM segs s JOIN comp c1 ON c1.node = s.na GROUP BY 1, 2),
       |npts AS (SELECT comp AS line_id, count(*) AS n_pts
       |  FROM comp GROUP BY 1)""".stripMargin
  }

  /** Dinf pointer CTEs (mirrors Terrain.dinfPointer): nb -> facet
    * slopes -> first-max facet -> split weights. Branch decisions
    * compare s1/s2 algebraically (never the atan2 output) so they are
    * bit-exact across engines; atan2 appears only in the continuous
    * diagonal weight. Produces `dptr(r, c, f, t1r, t1c, w1, t2r, t2c,
    * w2)` and `dedges(r, c, tr, tc, w, j)`. */
  /** FD8 relief-proportional edges CTE (mirrors Terrain.fd8Edges,
    * power 1: pow(x, 1.0) == x exactly in IEEE, so the oracle omits
    * the pow call). Expects `g` = the grid CTE. */
  private lazy val fd8SqlCtes: String = {
    val dy = operators.Terrain.dY
    val dx = operators.Terrain.dX
    val joins = (0 until 8).map(i =>
      s"LEFT JOIN g b$i ON b$i.r = g.r + ${dy(i)} AND b$i.c = g.c + ${dx(i)}")
      .mkString("\n")
    val ns = (0 until 8).map(i => s"b$i.v AS n$i").mkString(", ")
    val rls = (0 until 8).map(i =>
      s"CASE WHEN n$i IS NOT NULL AND v > n$i THEN v - n$i END AS rl$i")
      .mkString(",\n  ")
    val tot = (0 until 8).map(i => s"COALESCE(rl$i, 0.0)")
      .mkString(" + ")
    val arms = (0 until 8).map { i =>
      s"""SELECT r, c, r + ${dy(i)} AS tr, c + ${dx(i)} AS tc,
         |  rl$i / tot AS w, ${(i + 4) % 8} AS j FROM ftot
         |  WHERE rl$i IS NOT NULL""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""fnb AS (SELECT g.r, g.c, g.v, $ns FROM g
       |$joins),
       |frl AS (SELECT r, c,
       |  $rls
       |  FROM fnb),
       |ftot AS MATERIALIZED (SELECT *, $tot AS tot FROM frl
       |  WHERE $tot > 0),
       |fedges AS MATERIALIZED (
       |$arms)""".stripMargin
  }

  /** MDInf facet/valley/portion CTEs (mirrors Terrain.mdinfEdges
    * stage by stage; constants printed from the identical Scala
    * doubles so both engines compare the same bits). hExp fixed 1.0.
    * Every real literal gets an `e0` suffix: DuckDB otherwise types
    * bare 17-significant-digit decimals as DECIMAL(17,16), whose
    * integer mantissa exceeds 2^53 and loses an ulp on the cast to
    * DOUBLE (CASE-branch unification triggers exactly that). */
  private lazy val mdinfSqlCtes: String = {
    val myd = operators.Terrain.mYd
    val mxd = operators.Terrain.mXd
    val mdd = Seq(1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0),
      1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0))
    val pi = math.Pi
    def D(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val h = "1.0e0"
    val joins = (0 until 8).map(m =>
      s"LEFT JOIN g q$m ON q$m.r = g.r + ${myd(m)} AND q$m.c = g.c + ${mxd(m)}")
      .mkString("\n")
    val ps = (0 until 8).map(m => s"q$m.v AS p$m").mkString(", ")
    def facet(m: Int): (String, String) = {
      val m1 = (m + 1) % 8
      val nx = s"(${D(myd(m).toDouble)} * (p$m1 - v) - ${D(myd(m1).toDouble)} * (p$m - v))"
      val ny = s"(${D(mxd(m1).toDouble)} * (p$m - v) - ${D(mxd(m).toDouble)} * (p$m1 - v))"
      val nzd = (mxd(m) * myd(m1) - mxd(m1) * myd(m)).toDouble
      val hr0 = s"CASE WHEN $nx = 0 THEN (CASE WHEN $ny >= 0 THEN 0.0e0 ELSE ${D(pi)} END)" +
        s" ELSE (CASE WHEN $nx >= 0 THEN ${D(pi / 2)} - atan($ny / $nx)" +
        s" ELSE ${D(3 * pi / 2)} - atan($ny / $nx) END) END"
      val xq = s"(${D(nzd)} / sqrt($nx * $nx + $ny * $ny + ${D(nzd * nzd)}))"
      val hs0 = s"-(sqrt(1.0e0 - $xq * $xq) / $xq)"
      val lo = D(m * pi / 4)
      val hi = D((m + 1) * pi / 4)
      val m1q = D(m1 * pi / 4)
      val clamp = s"(($hr0) < $lo OR ($hr0) > $hi)"
      val hr =
        s"""CASE WHEN (p$m IS NOT NULL AND p$m1 IS NOT NULL) THEN
           | (CASE WHEN $clamp THEN (CASE WHEN p$m < p$m1 THEN $lo ELSE $m1q END)
           |  ELSE ($hr0) END)
           | WHEN (p$m IS NOT NULL AND p$m < v) THEN $lo
           | ELSE 0.0 END""".stripMargin.replace("\n", "")
      val hs =
        s"""CASE WHEN (p$m IS NOT NULL AND p$m1 IS NOT NULL) THEN
           | (CASE WHEN $clamp THEN (CASE WHEN p$m < p$m1
           |   THEN (v - p$m) / ${D(mdd(m))} ELSE (v - p$m1) / ${D(mdd(m1))} END)
           |  ELSE ($hs0) END)
           | WHEN (p$m IS NOT NULL AND p$m < v) THEN (v - p$m) / ${D(mdd(m1))}
           | ELSE NULL END""".stripMargin.replace("\n", "")
      (hr, hs)
    }
    val facetCols = (0 until 8).map { m =>
      val (hr, hs) = facet(m)
      s"($hr) AS hr$m,\n  ($hs) AS hs$m"
    }.mkString(",\n  ")
    def vl(m: Int): String = {
      val m1 = (m + 1) % 8; val mp = (m + 7) % 8
      val lo = D(m * pi / 4)
      val hi = D((m + 1) * pi / 4)
      s"""CASE WHEN (hs$m IS NOT NULL AND hs$m > 0) THEN
         | (CASE WHEN (hr$m > $lo AND hr$m < $hi) THEN hs$m
         |  WHEN hr$m = hr$m1 THEN hs$m
         |  WHEN (hs$m1 IS NULL AND hr$m = $hi) THEN hs$m
         |  WHEN (hs$mp IS NULL AND hr$m = $lo) THEN hs$m
         |  ELSE 0.0 END)
         | ELSE 0.0 END""".stripMargin.replace("\n", "")
    }
    val vlCols = (0 until 8).map(m => s"(${vl(m)}) AS vl$m")
      .mkString(",\n  ")
    val vsum = (0 until 8).map(m => s"pow(vl$m, $h)").mkString(" + ")
    def wgt(m: Int) = s"(pow(vl$m, $h) / vsum)"
    def rrS(m: Int): String =
      if (m == 7) s"(CASE WHEN hr7 = 0 THEN ${D(2 * pi)} ELSE hr7 END)"
      else s"hr$m"
    def portion(d: Int): String = {
      val prev = (d + 7) % 8
      val hid = D((d + 1) * pi / 4)
      val lop = D(prev * pi / 4)
      val pi4 = D(pi / 4)
      s"(CASE WHEN ${wgt(d)} > 0 THEN (${wgt(d)} * ($hid - ${rrS(d)})) / $pi4 ELSE 0.0 END)" +
        s" + (CASE WHEN ${wgt(prev)} > 0 THEN (${wgt(prev)} * (${rrS(prev)} - $lop)) / $pi4 ELSE 0.0 END)"
    }
    val arms = (0 until 8).map { d =>
      s"""SELECT * FROM (SELECT r, c, r + ${myd(d)} AS tr,
         |  c + ${mxd(d)} AS tc, ${portion(d)} AS w, ${(11 - d) % 8} AS j
         |  FROM mdw) WHERE w > 0""".stripMargin
    }.mkString("\n UNION ALL\n")
    s"""mnb AS (SELECT g.r, g.c, g.v, $ps FROM g
       |$joins),
       |mf AS MATERIALIZED (SELECT r, c,
       |  $facetCols
       |  FROM mnb),
       |mvl AS (SELECT r, c, hr0, hr1, hr2, hr3, hr4, hr5, hr6, hr7,
       |  $vlCols
       |  FROM mf),
       |mdw AS MATERIALIZED (SELECT * FROM
       |  (SELECT *, $vsum AS vsum FROM mvl) WHERE vsum > 0),
       |mdedges AS MATERIALIZED (
       |$arms)""".stripMargin
  }

  private lazy val dinfSqlCtes: String = {
    val dy = operators.Terrain.dY
    val dx = operators.Terrain.dX
    val facets = Seq((1, 0), (7, 0), (7, 6), (5, 6), (5, 4), (3, 4),
      (3, 2), (1, 2))
    val joins = (0 until 8).map(i =>
      s"LEFT JOIN g a$i ON a$i.r = g.r + ${dy(i)} AND a$i.c = g.c + ${dx(i)}")
      .mkString("\n")
    val ns = (0 until 8).map(i => s"a$i.v AS n$i").mkString(", ")
    def s1(f: Int) = s"(v - n${facets(f)._1})"
    def s2(f: Int) = s"(n${facets(f)._1} - n${facets(f)._2})"
    val fs = (0 until 8).map { f =>
      val (o, d) = facets(f)
      s"""CASE WHEN n$o IS NULL OR n$d IS NULL THEN NULL
         | WHEN ${s2(f)} < 0 THEN ${s1(f)}
         | WHEN ${s2(f)} > ${s1(f)} THEN (v - n$d) / sqrt(2.0)
         | ELSE sqrt(${s1(f)} * ${s1(f)} + ${s2(f)} * ${s2(f)}) END AS f$f"""
        .stripMargin.replace("\n", "")
    }.mkString(",\n  ")
    val mxExpr = (0 until 8).map(f => s"COALESCE(f$f, -99999999.0)")
      .mkString("GREATEST(", ", ", ")")
    val chosenExpr = (0 until 8).map(f =>
      s"WHEN f$f IS NOT NULL AND f$f = mx THEN $f").mkString(" ")
    val w2Expr = (0 until 8).map { f =>
      s"WHEN ff = $f THEN (CASE WHEN ${s2(f)} < 0 THEN 0.0" +
        s" WHEN ${s2(f)} > ${s1(f)} THEN 1.0" +
        s" ELSE atan2(${s2(f)}, ${s1(f)}) / ${math.Pi / 4.0} END)"
    }.mkString(" ")
    def tgt(sel: ((Int, Int)) => Int, delta: Seq[Int]) =
      (0 until 8).map(f => s"WHEN ff = $f THEN ${delta(sel(facets(f)))}")
        .mkString(" ")
    s"""dnb AS (SELECT g.r, g.c, g.v, $ns FROM g
       |$joins),
       |dsl AS (SELECT r, c, v, n0, n1, n2, n3, n4, n5, n6, n7,
       |  $fs
       |  FROM dnb),
       |dmx AS (SELECT *, $mxExpr AS mx FROM dsl),
       |dch AS (SELECT *, CASE $chosenExpr ELSE -1 END AS ff
       |  FROM dmx WHERE mx > 0),
       |dptr AS MATERIALIZED (SELECT r, c, CAST(ff AS BIGINT) AS f,
       |  CAST(r + CASE ${tgt(_._1, dy.map(_.toInt))} END AS BIGINT) AS t1r,
       |  CAST(c + CASE ${tgt(_._1, dx.map(_.toInt))} END AS BIGINT) AS t1c,
       |  1.0 - (CASE $w2Expr END) AS w1,
       |  CAST(r + CASE ${tgt(_._2, dy.map(_.toInt))} END AS BIGINT) AS t2r,
       |  CAST(c + CASE ${tgt(_._2, dx.map(_.toInt))} END AS BIGINT) AS t2c,
       |  (CASE $w2Expr END) AS w2
       |  FROM dch),
       |dedges AS MATERIALIZED (SELECT *,
       |  CASE ${(0 until 8).map(j =>
             s"WHEN r - tr = ${dy(j)} AND c - tc = ${dx(j)} THEN $j")
             .mkString(" ")} ELSE -1 END AS j
       |  FROM (SELECT r, c, t1r AS tr, t1c AS tc, w1 AS w FROM dptr WHERE w1 > 0
       |        UNION ALL
       |        SELECT r, c, t2r AS tr, t2c AS tc, w2 AS w FROM dptr WHERE w2 > 0))"""
      .stripMargin
  }

  /** Unrolled Dinf Jacobi accumulation (mirrors Terrain.dinfAccum):
    * incoming loads pivot into 8 fixed direction slots, summed in
    * textual order; `iters` >= the longest weighted flowpath (measured
    * 14 on this grid) makes the final round the exact fixpoint. */
  private def dinfAccumSqlCtes(iters: Int): String =
    accumSqlCtes(iters, "dedges", "da")

  /** Unrolled weighted-DAG accumulation CTEs (mirrors
    * Terrain.weightedAccum's direction-slot Jacobi) over any edges
    * CTE with (r, c, tr, tc, w, j). */
  private def accumSqlCtes(iters: Int, edges: String,
                           pfx: String): String = {
    val sb = new StringBuilder
    sb ++= s"${pfx}_0 AS (SELECT r, c, CAST(1.0 AS DOUBLE) AS acc FROM g)"
    for (i <- 1 to iters) {
      val ds = (0 until 8).map(j =>
        s"sum(CASE WHEN e.j = $j THEN e.w * a.acc END) AS d$j")
        .mkString(", ")
      val adds = (0 until 8).map(j => s"COALESCE(d$j, 0.0)")
        .mkString(" + ")
      sb ++=
        s""",
           |${pfx}c_$i AS (SELECT e.tr AS r, e.tc AS c, $ds
           |  FROM $edges e JOIN ${pfx}_${i - 1} a ON a.r = e.r AND a.c = e.c
           |  GROUP BY 1, 2),
           |${pfx}_$i AS MATERIALIZED (SELECT g.r, g.c, 1.0 + $adds AS acc
           |  FROM g LEFT JOIN ${pfx}c_$i x ON x.r = g.r AND x.c = g.c)""".stripMargin
    }
    sb.toString
  }

  /** Delaunay-by-empty-circumcircle CTEs (mirrors Tin.delaunayBrute):
    * candidate triples with orientation + incircle anti-join set.
    * Expects `sp` = supplier points CTE. */
  private lazy val tinSqlCtes: String =
    s"""p AS (SELECT s_id AS pid, sx AS px, sy AS py FROM sp
       |  WHERE s_id <= 40),
       |t0 AS (SELECT a.pid AS ia, a.px AS xa, a.py AS ya,
       |  b.pid AS ib, b.px AS xb, b.py AS yb,
       |  c.pid AS ic, c.px AS xc, c.py AS yc,
       |  (b.px - a.px) * (c.py - a.py) - (b.py - a.py) * (c.px - a.px) AS o
       |  FROM p a JOIN p b ON a.pid < b.pid JOIN p c ON b.pid < c.pid),
       |t AS MATERIALIZED (SELECT * FROM t0 WHERE o <> 0),
       |w AS (SELECT t.ia, t.ib, t.ic, t.o,
       |  (t.xa - d.px) AS a1, (t.ya - d.py) AS a2,
       |  (t.xb - d.px) AS b1, (t.yb - d.py) AS b2,
       |  (t.xc - d.px) AS c1, (t.yc - d.py) AS c2
       |  FROM t JOIN p d ON d.pid <> t.ia AND d.pid <> t.ib
       |    AND d.pid <> t.ic),
       |w2 AS (SELECT *, a1 * a1 + a2 * a2 AS a3, b1 * b1 + b2 * b2 AS b3,
       |  c1 * c1 + c2 * c2 AS c3 FROM w),
       |bad AS (SELECT DISTINCT ia, ib, ic FROM w2
       |  WHERE (a1 * (b2 * c3 - b3 * c2) - a2 * (b1 * c3 - b3 * c1)
       |    + a3 * (b1 * c2 - b2 * c1)) * o > 0)""".stripMargin

  /** Unrolled Shreve-magnitude chain over the link graph (mirrors
    * Terrain.streamMetrics' in-memory fixpoint; synchronous rounds
    * converge once `iters` covers the junction depth). */
  private def magnitudeSqlCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """linkids AS MATERIALIZED (SELECT DISTINCT link_id FROM links),
        |cgraph AS MATERIALIZED (SELECT DISTINCT lu.link_id AS child, lv.link_id AS parent
        |  FROM sedges e2
        |  JOIN links lu ON lu.r = e2.r AND lu.c = e2.c
        |  JOIN links lv ON lv.r = e2.tr AND lv.c = e2.tc
        |  WHERE lu.link_id <> lv.link_id),
        |m_0 AS (SELECT link_id, CAST(1 AS BIGINT) AS mag FROM linkids)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |m_$i AS MATERIALIZED (SELECT l.link_id,
           |  CAST(COALESCE(s.sm, 1) AS BIGINT) AS mag
           |  FROM linkids l LEFT JOIN (
           |    SELECT cg.parent AS link_id, CAST(sum(o.mag) AS BIGINT) AS sm
           |    FROM cgraph cg JOIN m_${i - 1} o ON o.link_id = cg.child
           |    GROUP BY 1) s ON s.link_id = l.link_id)""".stripMargin
    }
    sb.toString
  }

  /** First-wins D8 steepest-descent direction in the MDINF
    * neighbour order, over the `mnb` gather of [[mdinfSqlCtes]]
    * (mirrors Terrain.d8DirMdinf). Yields CTEs `d8s`, `d8m`. */
  private lazy val d8mSqlCtes: String = {
    val mdd = Seq(1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0),
      1.0, math.sqrt(2.0), 1.0, math.sqrt(2.0))
    def D(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val sls = (0 until 8).map(m =>
      s"CASE WHEN p$m IS NOT NULL AND v > p$m THEN (v - p$m) / ${D(mdd(m))} END AS sl$m")
      .mkString(",\n  ")
    val mx = (0 until 8).map(m =>
      s"COALESCE(sl$m, CAST('-infinity' AS DOUBLE))")
      .mkString("GREATEST(", ", ", ")")
    val dirCase = (0 until 8).map(m =>
      s"WHEN sl$m IS NOT NULL AND sl$m = mx THEN $m").mkString(" ")
    s"""d8s AS (SELECT r, c,
       |  $sls
       |  FROM mnb),
       |d8m AS MATERIALIZED (SELECT r, c,
       |  CASE $dirCase ELSE NULL END AS dir
       |  FROM (SELECT *, $mx AS mx FROM d8s))""".stripMargin
  }

  /** StreamHeadsMDInf oracle (mirrors Terrain.streamHeadsMdinf):
    * merged MDInf + D8-steepest edges, 24 unrolled threshold-switch
    * Jacobi rounds, then the not-fed-by-a-stream-D8-send head test.
    * caThr = 5.0. */
  private lazy val streamHeadsSql: String = {
    val myd = operators.Terrain.mYd
    val mxd = operators.Terrain.mXd
    val trC = (0 until 8).map(i => s"WHEN $i THEN ${myd(i)}")
      .mkString("CASE dir ", " ", " END")
    val tcC = (0 until 8).map(i => s"WHEN $i THEN ${mxd(i)}")
      .mkString("CASE dir ", " ", " END")
    val T = "5.0e0"
    val sb = new StringBuilder
    sb ++= "sh_0 AS (SELECT r, c, CAST(1.0 AS DOUBLE) AS acc FROM g)"
    val contrib = s"CASE WHEN a.acc <= $T THEN COALESCE(e.wm, 0.0) * a.acc" +
      s" ELSE (CASE WHEN e.d8 THEN $T ELSE 0.0 END) END"
    for (i <- 1 to 24) {
      val ds = (0 until 8).map(j =>
        s"sum(CASE WHEN e.slot = $j THEN $contrib END) AS d$j")
        .mkString(", ")
      val adds = (0 until 8).map(j => s"COALESCE(d$j, 0.0)")
        .mkString(" + ")
      sb ++=
        s""",
           |shc_$i AS (SELECT e.tr AS r, e.tc AS c, $ds
           |  FROM she e JOIN sh_${i - 1} a ON a.r = e.r AND a.c = e.c
           |  GROUP BY 1, 2),
           |sh_$i AS MATERIALIZED (SELECT g.r, g.c, 1.0 + $adds AS acc
           |  FROM g LEFT JOIN shc_$i x ON x.r = g.r AND x.c = g.c)"""
          .stripMargin
    }
    s"""WITH g AS ($GRID),
       |$mdinfSqlCtes,
       |$d8mSqlCtes,
       |me AS (SELECT r, c, tr, tc, 7 - j AS slot, w AS wm FROM mdedges),
       |d8e AS MATERIALIZED (SELECT r, c, r + $trC AS tr, c + $tcC AS tc,
       |  (dir + 4) % 8 AS slot FROM d8m WHERE dir IS NOT NULL),
       |she AS MATERIALIZED (SELECT COALESCE(me.r, d.r) AS r,
       |  COALESCE(me.c, d.c) AS c, COALESCE(me.tr, d.tr) AS tr,
       |  COALESCE(me.tc, d.tc) AS tc, COALESCE(me.slot, d.slot) AS slot,
       |  me.wm AS wm, d.r IS NOT NULL AS d8
       |  FROM me FULL OUTER JOIN d8e d ON me.r = d.r AND me.c = d.c
       |    AND me.tr = d.tr AND me.tc = d.tc AND me.slot = d.slot),
       |${sb.toString},
       |blocked AS (SELECT DISTINCT e.tr AS r, e.tc AS c FROM d8e e
       |  JOIN sh_24 a ON a.r = e.r AND a.c = e.c WHERE a.acc > $T)
       |SELECT g.r, g.c, CASE WHEN s.acc > $T AND b.r IS NULL
       |  THEN 1 ELSE 0 END AS head
       |FROM g JOIN sh_24 s ON s.r = g.r AND s.c = g.c
       |LEFT JOIN blocked b ON b.r = g.r AND b.c = g.c""".stripMargin
  }

  /** SIDE_MDInf oracle (mirrors Terrain.sideMdinf over the DEM's
    * MDInf accumulation): stream set from mda_24 > 5, per-cell
    * stream/D8-dir codes gathered over the 8 rays, MDInf edges into
    * stream cells bank-classified by the flattened FindSide rules,
    * then the fixed c-order contribution fold. */
  private lazy val sideMdinfSql: String = {
    val myd = operators.Terrain.mYd
    val mxd = operators.Terrain.mXd
    val T = "5.0e0"
    val qJoins = (0 until 8).map(m =>
      s"LEFT JOIN ic q$m ON q$m.r = ic.r + ${myd(m)} AND q$m.c = ic.c + ${mxd(m)}")
      .mkString("\n")
    val qCols = (0 until 8).map(m => s"q$m.code AS q$m").mkString(", ")
    def xOf(d: String) = (0 until 8).map(m =>
      s"WHEN $m THEN ${mxd(m)}").mkString(s"CASE $d ", " ", " ELSE 0 END")
    def yOf(d: String) = (0 until 8).map(m =>
      s"WHEN $m THEN ${myd(m)}").mkString(s"CASE $d ", " ", " ELSE 0 END")
    val tribs = (0 until 8).map { i =>
      s"(q$i IS NOT NULL AND q$i >= 16 AND (q$i % 16) = ${(i + 4) % 8}) AS t$i"
    }.mkString(",\n  ")
    val svals = (0 until 8).map { i =>
      val nx = xOf(s"(q$i % 16)"); val ny = yOf(s"(q$i % 16)")
      s"(CASE WHEN zcpa * (fx * ($ny) - fy * ($nx)) > 0" +
        s" THEN fx * ($ny) - fy * ($nx) > 0" +
        s" ELSE s1x * ($ny) - s1y * ($nx) > 0 END) AS s$i"
    }.mkString(",\n  ")
    val firsts = (0 until 8).map(i => s"WHEN t$i THEN s$i")
      .mkString("CASE ", " ", " ELSE NULL END")
    val hastrib = (0 until 8).map(i => s"t$i").mkString(" OR ")
    val anydiff = (0 until 8).map(i => s"(t$i AND s$i <> firsts)")
      .mkString(" OR ")
    val pivCols = ((0 until 8).map(m =>
      s"sum(CASE WHEN slot = $m THEN val END) AS mt$m") ++
      (0 until 8).map(m =>
        s"sum(CASE WHEN slot = $m THEN rc END) AS mr$m") ++
      (0 until 8).map(m =>
        s"sum(CASE WHEN slot = $m THEN lc END) AS ml$m")).mkString(",\n  ")
    def fold(base: String, pfx: String, d8c: String) =
      (0 until 8).foldLeft(base) { (acc, m) =>
        s"($acc + (CASE WHEN gq.q$m IS NOT NULL AND gq.q$m >= 16 AND " +
          s"(gq.q$m % 16) = ${(m + 4) % 8} THEN $d8c " +
          s"ELSE COALESCE(piv.mt_REPL$m, 0.0) END))"
            .replace("mt_REPL", pfx)
      }
    s"""WITH g AS ($GRID),
       |$mdinfSqlCtes,
       |${accumSqlCtes(24, "mdedges", "mda")},
       |strm AS MATERIALIZED (SELECT r, c FROM mda_24 WHERE acc > $T),
       |$d8mSqlCtes,
       |ic AS MATERIALIZED (SELECT d.r, d.c, COALESCE(d.dir, 8) +
       |  (CASE WHEN s.r IS NOT NULL THEN 16 ELSE 0 END) AS code
       |  FROM d8m d LEFT JOIN strm s ON s.r = d.r AND s.c = d.c),
       |gq AS MATERIALIZED (SELECT ic.r, ic.c, ic.code, $qCols
       |  FROM ic
       |$qJoins),
       |sedg AS (SELECT e.r, e.c, e.tr, e.tc, 7 - e.j AS slot,
       |  a.acc * e.w AS val
       |  FROM mdedges e
       |  JOIN strm ts ON ts.r = e.tr AND ts.c = e.tc
       |  LEFT JOIN strm ss ON ss.r = e.r AND ss.c = e.c
       |  JOIN mda_24 a ON a.r = e.r AND a.c = e.c
       |  WHERE ss.r IS NULL),
       |sd0 AS (SELECT e.tr, e.tc, e.slot, e.val, t.code AS scode,
       |  t.q0, t.q1, t.q2, t.q3, t.q4, t.q5, t.q6, t.q7,
       |  e.tc - e.c AS fx, e.tr - e.r AS fy
       |  FROM sedg e JOIN gq t ON t.r = e.tr AND t.c = e.tc),
       |sd1 AS (SELECT *, ${xOf("(scode % 16)")} AS s1x,
       |  ${yOf("(scode % 16)")} AS s1y FROM sd0),
       |sd2 AS (SELECT *,
       |  ((scode % 16) = 8) OR (s1x = -fx AND s1y = -fy) AS skip,
       |  fx * s1y - fy * s1x AS zcpa FROM sd1),
       |sd3 AS (SELECT *,
       |  $tribs,
       |  $svals
       |  FROM sd2),
       |sd4 AS (SELECT *, $firsts AS firsts, ($hastrib) AS hastrib
       |  FROM sd3),
       |sd5 AS (SELECT *, ($anydiff) AS anydiff FROM sd4),
       |sd6 AS (SELECT tr, tc, slot, val,
       |  CASE WHEN rc_side = 0 THEN val WHEN rc_side = 2 THEN val / 2
       |    ELSE 0.0 END AS rc,
       |  CASE WHEN rc_side = 1 THEN val WHEN rc_side = 2 THEN val / 2
       |    ELSE 0.0 END AS lc
       |  FROM (SELECT *, CASE WHEN skip OR NOT hastrib OR anydiff
       |    THEN 2 WHEN firsts THEN 0 ELSE 1 END AS rc_side FROM sd5)),
       |piv AS MATERIALIZED (SELECT tr AS r, tc AS c,
       |  $pivCols
       |  FROM sd6 GROUP BY 1, 2),
       |scells AS (SELECT gq.r, gq.c,
       |  round(${fold("-4.0e0", "mt", T)}, 6) AS fa_total,
       |  round(${fold("-2.0e0", "mr", "2.5e0")}, 6) AS fa_right,
       |  round(${fold("-2.0e0", "ml", "2.5e0")}, 6) AS fa_left
       |  FROM gq LEFT JOIN piv ON piv.r = gq.r AND piv.c = gq.c
       |  WHERE gq.code >= 16)
       |SELECT g.r, g.c, COALESCE(s.fa_total, 0.0) AS fa_total,
       |  COALESCE(s.fa_right, 0.0) AS fa_right,
       |  COALESCE(s.fa_left, 0.0) AS fa_left
       |FROM g LEFT JOIN scells s ON s.r = g.r AND s.c = g.c"""
      .stripMargin
  }

  /** Azimuth ray-walk CTEs (mirrors Terrain.azimuthWalkSamples at
    * azimuth 215 over the 40x50 grid): vertical + horizontal
    * sight-line passes, prefix-truncated at the first bounds
    * violation, bracketing z reads with the reference's -32768
    * out-of-grid sentinel. Yields CTE `azval` with
    * (r, c, v, pass, k, dist, z1, z2, z). */
  private def azWalkSql(x2Bounds: Boolean): String = {
    val (ls, xs, ys) = operators.Terrain.azParams(215.0)
    def D(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val lsS = D(ls)
    val nd = "-32768.0e0"
    val yI = s"(-CAST(g.r AS DOUBLE) - $lsS * g.c)"
    val x2bad =
      if (x2Bounds) " OR NOT (x2 >= 0 AND x2 < 50)" else ""
    s"""ks0 AS (SELECT CAST(x AS BIGINT) AS k FROM range(1, 51) t(x)),
       |ks1 AS (SELECT CAST(x AS BIGINT) AS k FROM range(1, 41) t(x)),
       |azv AS (SELECT r, c, v, pass, k, dist,
       |  NOT (xd >= 0 AND xd < 50) OR NOT (yd >= 0 AND yd < 40) AS bad,
       |  CAST(trunc(yd) AS BIGINT) AS jr1,
       |  CAST(trunc(xd) AS BIGINT) AS jc1,
       |  CAST(trunc(yd) AS BIGINT) - ${ys} AS jr2,
       |  CAST(trunc(xd) AS BIGINT) AS jc2,
       |  yd - CAST(trunc(yd) AS BIGINT) AS frac
       |  FROM (SELECT g.r, g.c, g.v, 0 AS pass, k.k,
       |    CAST(g.c + k.k * ${xs} AS DOUBLE) AS xd,
       |    ($lsS * CAST(g.c + k.k * ${xs} AS DOUBLE) + $yI) * -1.0e0 AS yd,
       |    sqrt((CAST(g.c + k.k * ${xs} AS DOUBLE) - g.c) *
       |         (CAST(g.c + k.k * ${xs} AS DOUBLE) - g.c) +
       |         ((($lsS * CAST(g.c + k.k * ${xs} AS DOUBLE) + $yI) * -1.0e0) - g.r) *
       |         ((($lsS * CAST(g.c + k.k * ${xs} AS DOUBLE) + $yI) * -1.0e0) - g.r)) AS dist
       |    FROM g CROSS JOIN ks0 k)),
       |azh AS (SELECT r, c, v, pass, k, dist,
       |  NOT (-yh >= 0 AND -yh < 40) OR NOT (xd >= 0 AND xd < 50)$x2bad AS bad,
       |  CAST(trunc(-yh) AS BIGINT) AS jr1,
       |  x1 AS jc1,
       |  CAST(trunc(yh) AS BIGINT) AS jr2,
       |  x2 AS jc2,
       |  xd - x1 AS frac
       |  FROM (SELECT *, CAST(trunc(xd) AS BIGINT) + ${xs} AS x2 FROM
       |   (SELECT *, CAST(trunc(xd) AS BIGINT) AS x1,
       |    sqrt((xd - c) * (xd - c) + (-yh - r) * (-yh - r)) AS dist
       |    FROM (SELECT g.r, g.c, g.v, 1 AS pass, k.k,
       |      CAST(-g.r + k.k * ${ys} AS DOUBLE) AS yh,
       |      (CAST(-g.r + k.k * ${ys} AS DOUBLE) - $yI) / $lsS AS xd
       |      FROM g CROSS JOIN ks1 k)))),
       |azs AS (SELECT r, c, v, pass, k, dist, bad, jr1, jc1, jr2, jc2,
       |  frac FROM azv
       |  UNION ALL SELECT r, c, v, pass, k, dist, bad, jr1, jc1, jr2,
       |  jc2, frac FROM azh),
       |azpre AS (SELECT *, min(CASE WHEN bad THEN k END)
       |  OVER (PARTITION BY r, c, pass) AS fb FROM azs),
       |azval AS MATERIALIZED (SELECT p.r, p.c, p.v, p.pass, p.k, p.dist,
       |  COALESCE(a.v, $nd) AS z1, COALESCE(b.v, $nd) AS z2,
       |  COALESCE(a.v, $nd) + p.frac * (COALESCE(b.v, $nd) -
       |    COALESCE(a.v, $nd)) AS z
       |  FROM (SELECT * FROM azpre
       |    WHERE k < COALESCE(fb, 9223372036854775807)) p
       |  LEFT JOIN g a ON a.r = p.jr1 AND a.c = p.jc1
       |  LEFT JOIN g b ON b.r = p.jr2 AND b.c = p.jc2)""".stripMargin
  }

  /** TurningBands oracle: the seeded band lines are driver-built by
    * the SAME Terrain.turningBandLines call the operator uses,
    * inlined as DuckDB list literals; the projection, interpolation
    * and fixed band-order fold replay the operator's column tree
    * term by term (every double printed with the e0 suffix so DuckDB
    * parses it as DOUBLE, not DECIMAL). */
  private lazy val turningBandsSql: String = {
    def D(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val (diag, bands) = operators.Terrain.turningBandLines(
      GridRows, GridCols, range = 6.0, numBands = 16, seed = 42L)
    val offs = bands.zipWithIndex.map { case ((ct, st, _), b) =>
      val d0 = (diag / 2).toDouble
      val k1 = GridCols / 2.0 * ct
      val k2 = GridRows / 2.0 * st
      s"((${D(d0)} + (c * ${D(ct)} + r * ${D(st)})) - ${D(k1)}) - " +
        s"${D(k2)} AS off$b"
    }.mkString(",\n  ")
    val terms = bands.zipWithIndex.map { case ((_, _, line), b) =>
      val l = line.map(D).mkString("[", ", ", "]")
      val idx = s"CAST(floor(off$b) AS INTEGER)"
      s"(list_extract($l, $idx + 1) + (off$b - floor(off$b)) * " +
        s"(list_extract($l, $idx + 2) - list_extract($l, $idx + 1)))"
    }.mkString("(", "\n  + ", ")")
    s"""WITH g AS ($GRID),
       |tb1 AS (SELECT r, c,
       |  $offs
       |  FROM g)
       |SELECT r, c, round($terms / sqrt(16.0e0), 6) AS tb FROM tb1"""
      .stripMargin
  }

  /** StochasticDepressionAnalysis oracle: one closed-form error
    * field (squared-mix modular hash -> Box-Muller) plus one
    * recursive spill-path fill CTE per Monte-Carlo iteration —
    * the same integer/IEEE ops the operator's column expressions
    * run, with the fill replayed by the geo_fill_depressions
    * min-over-paths-of-max recursion (bitwise-exact because the
    * fill itself only takes minima/maxima of existing values). */
  private lazy val stochasticDepSql: String = {
    val seed = 7L; val iters = 8
    val p = 1000000007L
    val parts = (0 until iters).map { it =>
      val k1 = (seed + it) * 15485863L
      val k2 = (seed * 31 + it) * 15485867L
      s"""h$it AS (SELECT r, c, v,
         |  (r * 7919 + c * 104729 + $k1) % $p AS h1,
         |  (r * 104729 + c * 7919 + $k2) % $p AS h2 FROM g),
         |d$it AS (SELECT r, c, v + 2.0e0 * (sqrt(-2.0e0 *
         |  ln((CAST((h1 * h1) % $p AS DOUBLE) + 1.0e0) /
         |      CAST(1000000009 AS DOUBLE))) *
         |  cos(6.283185307179586e0 * (CAST((h2 * h2) % $p AS DOUBLE) /
         |      CAST(1000000007 AS DOUBLE)))) AS v FROM h$it),
         |reach$it(r, c, lvl) AS (
         |  SELECT r, c, v FROM d$it
         |  WHERE r = 0 OR r = ${GridRows - 1} OR c = 0 OR c = ${GridCols - 1}
         |  UNION
         |  SELECT d.r, d.c, GREATEST(d.v, rch.lvl)
         |  FROM reach$it rch JOIN d$it d
         |    ON abs(d.r - rch.r) <= 1 AND abs(d.c - rch.c) <= 1
         |   AND NOT (d.r = rch.r AND d.c = rch.c)),
         |f$it AS (SELECT r, c, min(lvl) AS filled FROM reach$it
         |  GROUP BY r, c),
         |m$it AS (SELECT d.r, d.c FROM f$it f JOIN d$it d
         |  ON d.r = f.r AND d.c = f.c WHERE d.v < f.filled)"""
        .stripMargin
    }.mkString(",\n")
    val un = (0 until iters).map(it => s"SELECT * FROM m$it")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE g AS ($GRID),
       |$parts,
       |hits AS (SELECT r, c, count(*) AS k FROM (
       |  $un) GROUP BY r, c)
       |SELECT g.r, g.c, CAST(COALESCE(hits.k, 0) AS DOUBLE) / 8 AS pdep
       |FROM g LEFT JOIN hits ON hits.r = g.r AND hits.c = g.c"""
      .stripMargin
  }

  /** Unrolled Strahler iteration chain (mirrors Terrain.strahlerOrder). */
  private def strahlerSqlCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """linkids AS MATERIALIZED (SELECT DISTINCT link_id FROM links),
        |cgraph AS MATERIALIZED (SELECT DISTINCT lu.link_id AS child, lv.link_id AS parent
        |  FROM sedges e2
        |  JOIN links lu ON lu.r = e2.r AND lu.c = e2.c
        |  JOIN links lv ON lv.r = e2.tr AND lv.c = e2.tc
        |  WHERE lu.link_id <> lv.link_id),
        |o_0 AS (SELECT link_id, CAST(1 AS BIGINT) AS ord FROM linkids)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |mx_$i AS MATERIALIZED (SELECT cg.parent AS link_id, max(o.ord) AS mx
           |  FROM cgraph cg JOIN o_${i - 1} o ON o.link_id = cg.child
           |  GROUP BY 1),
           |cm_$i AS MATERIALIZED (SELECT cg.parent AS link_id, count(*) AS cmax
           |  FROM cgraph cg JOIN o_${i - 1} o ON o.link_id = cg.child
           |  JOIN mx_$i m ON m.link_id = cg.parent AND o.ord = m.mx
           |  GROUP BY 1),
           |o_$i AS MATERIALIZED (SELECT l.link_id,
           |  CAST(COALESCE(m.mx + CASE WHEN c.cmax >= 2 THEN 1 ELSE 0 END, 1) AS BIGINT) AS ord
           |  FROM linkids l
           |  LEFT JOIN mx_$i m ON m.link_id = l.link_id
           |  LEFT JOIN cm_$i c ON c.link_id = l.link_id)""".stripMargin
    }
    sb.toString
  }

  /**
   * Unrolled Bellman-Ford label-correction chain for the cost-
   * accumulation oracle (mirrors Terrain.costAccumulation semantics:
   * move cost (cost(a)+cost(b))/2 * dist, alloc = arg-min source with
   * (acc, alloc) tie-break). `iters` must cover the max HOP count of
   * any optimal path — the sf0.01 cost surface is near-uniform in
   * [1, 2) with ~60 sources on a 40x50 grid, so optimal paths are
   * near-straight and far shorter than the 48 rounds used. Float
   * accumulation runs in path order on both sides, so the attained
   * minimum is bit-identical.
   */
  private def costAccumSqlCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """cost AS (SELECT r, c, v / 100.0 + 1.0 AS v FROM g),
        |csrc AS (SELECT r, c, CAST(r * 50 + c AS BIGINT) AS alloc
        |  FROM g WHERE v >= CAST(97.0 AS DOUBLE)),
        |ce AS MATERIALIZED (SELECT a.r AS r1, a.c AS c1, b.r AS r2, b.c AS c2,
        |  (a.v + b.v) / 2.0 *
        |    (CASE WHEN a.r <> b.r AND a.c <> b.c THEN sqrt(2.0) ELSE 1.0 END) AS w
        |  FROM cost a JOIN cost b
        |  ON abs(a.r - b.r) <= 1 AND abs(a.c - b.c) <= 1
        |    AND NOT (a.r = b.r AND a.c = b.c)),
        |ca_0 AS MATERIALIZED (SELECT r, c, CAST(0.0 AS DOUBLE) AS acc, alloc FROM csrc)""".stripMargin
    for (i <- 1 to iters) {
      sb ++=
        s""",
           |ca_$i AS MATERIALIZED (SELECT r, c, acc, alloc FROM (
           |  SELECT r, c, acc, alloc,
           |    ROW_NUMBER() OVER (PARTITION BY r, c ORDER BY acc, alloc) AS rn
           |  FROM (SELECT r, c, acc, alloc FROM ca_${i - 1}
           |        UNION ALL
           |        SELECT ce.r2 AS r, ce.c2 AS c, p.acc + ce.w AS acc, p.alloc
           |        FROM ca_${i - 1} p
           |        JOIN ce ON ce.r1 = p.r AND ce.c1 = p.c) u) t
           |  WHERE rn = 1)""".stripMargin
    }
    sb.toString
  }

  /**
   * SimHash in SQL: reproduces TextOps.fnv1a64 (64-bit wrapping FNV-1a
   * over UTF-16 units — HUGEINT arithmetic mod 2^64, with the XOR
   * applied to the low 16 bits only since char codes < 2^16) and
   * TextOps.simhash64 (per-bit +/-1 vote over the token MULTISET),
   * then the same 4x16-bit band blocking + Hamming verification as
   * TextOps.simhashPairs.
   */
  private lazy val simhashSqlCtes: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |    generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM corpus),
      |fnv AS (
      |  SELECT doc_id, i, tok, 0 AS pos,
      |    CAST('14695981039346656037' AS HUGEINT) AS h FROM toks
      |  UNION ALL
      |  SELECT doc_id, i, tok, pos + 1,
      |    ((h - (h % 65536) +
      |      CAST(xor(CAST(h % 65536 AS BIGINT),
      |               CAST(unicode(substr(tok, pos + 1, 1)) AS BIGINT)) AS HUGEINT))
      |     * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)
      |  FROM fnv WHERE pos < length(tok)),
      |fh AS MATERIALIZED (SELECT doc_id, i, h FROM fnv WHERE pos = length(tok)),
      |pw AS (SELECT 0 AS b, CAST(1 AS HUGEINT) AS p
      |  UNION ALL SELECT b + 1, p * 2 FROM pw WHERE b < 63),
      |bits AS MATERIALIZED (SELECT f.doc_id, w.b,
      |  SUM(CASE WHEN (f.h // w.p) % 2 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM fh f CROSS JOIN pw w GROUP BY 1, 2),
      |shb AS MATERIALIZED (SELECT doc_id, b,
      |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS bit FROM bits),
      |bkeys AS MATERIALIZED (SELECT s.doc_id, s.b // 16 AS band,
      |  CAST(SUM(s.bit * CAST(q.p AS BIGINT)) AS BIGINT) AS bkey
      |  FROM shb s JOIN pw q ON q.b = s.b % 16 GROUP BY 1, 2),
      |scand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bkeys l JOIN bkeys r
      |  ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
      |ham AS (SELECT cd.a, cd.b,
      |  CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
      |  FROM scand cd
      |  JOIN shb x ON x.doc_id = cd.a
      |  JOIN shb y ON y.doc_id = cd.b AND y.b = x.b
      |  GROUP BY 1, 2)""".stripMargin
  private lazy val d8SqlCtes: String = {
    val dy = operators.Terrain.dY
    val dx = operators.Terrain.dX
    val joins = (0 until 8).map(i =>
      s"LEFT JOIN g a$i ON a$i.r = g.r + ${dy(i)} AND a$i.c = g.c + ${dx(i)}")
      .mkString("\n")
    val ns = (0 until 8).map(i => s"a$i.v AS n$i").mkString(", ")
    val ss = (0 until 8).map { i =>
      val dist = if (i % 2 == 0) "sqrt(2.0)" else "1.0"
      s"(v - n$i) / $dist AS s$i"
    }.mkString(", ")
    val mxExpr = (0 until 8).map(i => s"COALESCE(s$i, -99999999.0)")
      .mkString("GREATEST(", ", ", ")")
    val cases = (0 until 8).map(i =>
      s"WHEN s$i IS NOT NULL AND s$i = mx THEN ${1 << i}").mkString(" ")
    s"""nb AS (SELECT g.r, g.c, g.v, $ns FROM g
       |$joins),
       |sl AS (SELECT r, c, $ss FROM nb),
       |mx AS (SELECT r, c, s0, s1, s2, s3, s4, s5, s6, s7, $mxExpr AS mx FROM sl),
       |p AS (SELECT r, c, CAST(CASE WHEN mx <= 0 THEN 0 $cases ELSE 0 END AS BIGINT) AS ptr FROM mx)""".stripMargin
  }
}
