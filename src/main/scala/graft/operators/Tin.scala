package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * TIN construction (ConstructTIN.groovy) + Voronoi adjacency
 * (VoronoiDiagram.java dual) by the empty-circumcircle definition: a
 * triangle (a, b, c) over the point set is Delaunay iff no other
 * point lies strictly inside its circumcircle.
 *
 * Executed as a candidate-triple join + an anti-join against the
 * incircle test — O(n⁴) arithmetic, which is the right EXACT oracle
 * shape for the small feature layers the reference builds TINs from
 * (and embarrassingly parallel in the triples). For large point sets
 * the scale path is per-tile Delaunay with halo exchange; the exact
 * definition here is what such a tiling must agree with.
 *
 * The incircle predicate is the standard 3×3 determinant times the
 * orientation sign — all +,-,* on identical doubles, so both engines
 * make identical accept/reject decisions (no epsilon).
 */
object Tin {

  private def orient(ax: Column, ay: Column, bx: Column, by: Column,
                     cx: Column, cy: Column): Column =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  /** incircle determinant: positive when (dx, dy) is inside the
    * circumcircle of CCW (a, b, c); multiplied by orient sign below to
    * handle CW triples uniformly. */
  private def incircle(ax: Column, ay: Column, bx: Column, by: Column,
                       cx: Column, cy: Column,
                       dx: Column, dy: Column): Column = {
    val a1 = ax - dx; val a2 = ay - dy
    val b1 = bx - dx; val b2 = by - dy
    val c1 = cx - dx; val c2 = cy - dy
    val a3 = a1 * a1 + a2 * a2
    val b3 = b1 * b1 + b2 * b2
    val c3 = c1 * c1 + c2 * c2
    a1 * (b2 * c3 - b3 * c2) - a2 * (b1 * c3 - b3 * c1) +
      a3 * (b1 * c2 - b2 * c1)
  }

  /** points: (pid, px, py). Returns Delaunay triangles (ia, ib, ic),
    * vertex ids ascending. Collinear triples are excluded; cocircular
    * ties resolve to "not inside" identically on both engines. */
  def delaunayBrute(points: DataFrame): DataFrame = {
    val p = points.select(col("pid"), col("px"), col("py"))
      .transform(Checkpoint(_))
    def pAs(n: String) = p.select(col("pid").as(s"i$n"),
      col("px").as(s"x$n"), col("py").as(s"y$n"))
    val triples = pAs("a")
      .join(pAs("b"), col("ia") < col("ib"))
      .join(pAs("c"), col("ib") < col("ic"))
      .withColumn("__o", orient(col("xa"), col("ya"), col("xb"),
        col("yb"), col("xc"), col("yc")))
      .where(col("__o") =!= 0)
      .transform(Checkpoint(_))
    val withD = triples.join(pAs("d"),
      col("id") =!= col("ia") && col("id") =!= col("ib") &&
        col("id") =!= col("ic"))
    val bad = withD
      .where(incircle(col("xa"), col("ya"), col("xb"), col("yb"),
        col("xc"), col("yc"), col("xd"), col("yd")) * col("__o") > 0)
      .select("ia", "ib", "ic").distinct()
    triples.join(bad, Seq("ia", "ib", "ic"), "left_anti")
      .select("ia", "ib", "ic")
  }

  /** Per-group variant of [[delaunayBrute]]: points (gid, pid, px,
    * py) -> (gid, ia, ib, ic). FindPolygonMidline.java builds exactly
    * this per-feature triangulation of the polygon's vertices
    * (:307-320) as its skeleton substrate; each group triangulates
    * independently (joins carry the group key, so a group never sees
    * another group's sites). */
  def delaunayGrouped(points: DataFrame): DataFrame = {
    val p = points.select(col("gid"), col("pid"), col("px"), col("py"))
      .transform(Checkpoint(_))
    def pAs(n: String) = p.select(col("gid").as(s"g$n"),
      col("pid").as(s"i$n"), col("px").as(s"x$n"), col("py").as(s"y$n"))
    val triples = pAs("a")
      .join(pAs("b"), col("ga") === col("gb") && col("ia") < col("ib"))
      .join(pAs("c"), col("gb") === col("gc") && col("ib") < col("ic"))
      .withColumn("__o", orient(col("xa"), col("ya"), col("xb"),
        col("yb"), col("xc"), col("yc")))
      .where(col("__o") =!= 0)
      .drop("gb", "gc")
      .withColumnRenamed("ga", "gid")
      .transform(Checkpoint(_))
    val withD = triples.join(pAs("d"),
      col("gid") === col("gd") && col("id") =!= col("ia") &&
        col("id") =!= col("ib") && col("id") =!= col("ic"))
    val bad = withD
      .where(incircle(col("xa"), col("ya"), col("xb"), col("yb"),
        col("xc"), col("yc"), col("xd"), col("yd")) * col("__o") > 0)
      .select("gid", "ia", "ib", "ic").distinct()
    triples.join(bad, Seq("gid", "ia", "ib", "ic"), "left_anti")
      .select("gid", "ia", "ib", "ic")
  }

  /**
   * RasterizeTIN (Scripts/RasterizeTIN.groovy): linear facet
   * interpolation — every target cell inside a Delaunay triangle
   * gets the plane z through the triangle's three vertices
   * (barycentric 2x2 Cramer solve, all +-* / on identical doubles).
   * Targets on shared edges/vertices resolve to the
   * lexicographically smallest triangle; targets outside the hull
   * are NoData (absent). The (small) facet table broadcasts against
   * the cell grid — one map-side pass, no shuffle on the grid.
   * points: (pid, px, py, pz); targets: (r, c, x, y).
   */
  def rasterizeTin(points: DataFrame, targets: DataFrame): DataFrame = {
    val tri = delaunayBrute(points.select("pid", "px", "py"))
    def pz(n: String) = points.select(col("pid").as(s"i$n"),
      col("px").as(s"x$n"), col("py").as(s"y$n"), col("pz").as(s"z$n"))
    val tz = tri.join(pz("a"), Seq("ia")).join(pz("b"), Seq("ib"))
      .join(pz("c"), Seq("ic"))
      .withColumn("o", orient(col("xa"), col("ya"), col("xb"),
        col("yb"), col("xc"), col("yc")))
    val s1 = orient(col("xa"), col("ya"), col("xb"), col("yb"),
      col("x"), col("y"))
    val s2 = orient(col("xb"), col("yb"), col("xc"), col("yc"),
      col("x"), col("y"))
    val s3 = orient(col("xc"), col("yc"), col("xa"), col("ya"),
      col("x"), col("y"))
    val inside = (s1 >= 0 && s2 >= 0 && s3 >= 0) ||
      (s1 <= 0 && s2 <= 0 && s3 <= 0)
    val alpha = ((col("x") - col("xa")) * (col("yc") - col("ya")) -
      (col("y") - col("ya")) * (col("xc") - col("xa"))) / col("o")
    val beta = ((col("xb") - col("xa")) * (col("y") - col("ya")) -
      (col("yb") - col("ya")) * (col("x") - col("xa"))) / col("o")
    val z = col("za") + alpha * (col("zb") - col("za")) +
      beta * (col("zc") - col("za"))
    targets.join(broadcast(tz), inside)
      .groupBy("r", "c")
      .agg(min_by(round(z, 6),
        struct(col("ia"), col("ib"), col("ic"))).as("tin_z"))
  }

  /** Voronoi cell adjacency = the Delaunay edge set (dual graph):
    * distinct (pa, pb), pa < pb. */
  def voronoiNeighbors(points: DataFrame): DataFrame = {
    val tri = delaunayBrute(points)
    tri.select(col("ia").as("pa"), col("ib").as("pb"))
      .unionByName(tri.select(col("ia").as("pa"), col("ic").as("pb")))
      .unionByName(tri.select(col("ib").as("pa"), col("ic").as("pb")))
      .distinct()
  }

  /** Sutherland–Hodgman clip of a convex polygon by the half-plane of
    * points closer to (ax, ay) than to (bx, by). */
  private[operators] def clipBisector(
      xs: Array[Double], ys: Array[Double], ax: Double, ay: Double,
      bx: Double, by: Double): (Array[Double], Array[Double]) = {
    val mx = (ax + bx) / 2; val my = (ay + by) / 2
    val dx = bx - ax; val dy = by - ay
    @inline def f(px: Double, py: Double): Double =
      dx * (px - mx) + dy * (py - my)          // <= 0 == closer to a
    val n = xs.length
    val ox = Array.newBuilder[Double]
    val oy = Array.newBuilder[Double]
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val fi = f(xs(i), ys(i)); val fj = f(xs(j), ys(j))
      if (fi <= 0) { ox += xs(i); oy += ys(i) }
      if ((fi < 0 && fj > 0) || (fi > 0 && fj <= 0)) {
        val t = fi / (fi - fj)
        ox += xs(i) + t * (xs(j) - xs(i))
        oy += ys(i) + t * (ys(j) - ys(i))
      }
      i += 1
    }
    (ox.result(), oy.result())
  }

  /**
   * VoronoiDiagram (VectorTools/src/plugins/VoronoiDiagram.java:
   * 287-300): Thiessen polygon geometry per point, clipped to the
   * layer bbox expanded by 5% per side (the reference's Envelope).
   * Each cell is the envelope rectangle clipped by the perpendicular-
   * bisector half-planes of the point's DELAUNAY neighbours only —
   * the Voronoi–Delaunay duality makes that exact (every Voronoi
   * edge is dual to a Delaunay edge), so per-point work is
   * O(neighbours), the clip set comes from the triangulation's dual,
   * and the kernel maps over points with no further shuffle.
   * Output: (pid, xs, ys, area) with shoelace area.
   */
  def voronoiPolygons(points: DataFrame): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val nbrs = voronoiNeighbors(points)
    val sym = nbrs.unionByName(
      nbrs.select(col("pb").as("pa"), col("pa").as("pb")))
    val env = points.agg(min("px").as("mnx"), max("px").as("mxx"),
      min("py").as("mny"), max("py").as("mxy"))
    sym
      .join(points.select(col("pid").as("pa"), col("px").as("ax"),
        col("py").as("ay")), Seq("pa"))
      .join(points.select(col("pid").as("pb"), col("px").as("bx"),
        col("py").as("by")), Seq("pb"))
      // deterministic clip order (bisectors commute geometrically,
      // but float intersections do not): sort neighbours by id
      .groupBy(col("pa").as("pid"), col("ax"), col("ay"))
      .agg(sort_array(collect_list(
        struct(col("pb"), col("bx"), col("by")))).as("nb"))
      .crossJoin(broadcast(env))
      .as[(Long, Double, Double, Seq[(Long, Double, Double)],
        Double, Double, Double, Double)]
      .map { case (pid, ax, ay, nb, mnx, mxx, mny, mxy) =>
        val ew = (mxx - mnx) * 0.05
        val ns = (mxy - mny) * 0.05
        var xs = Array(mnx - ew, mxx + ew, mxx + ew, mnx - ew)
        var ys = Array(mny - ns, mny - ns, mxy + ns, mxy + ns)
        nb.foreach { case (_, bx, by) =>
          val clipped = clipBisector(xs, ys, ax, ay, bx, by)
          xs = clipped._1; ys = clipped._2
        }
        var a2 = 0.0
        var i = 0
        val n = xs.length
        while (i < n) {
          val j = (i + 1) % n
          a2 += xs(i) * ys(j) - xs(j) * ys(i)
          i += 1
        }
        (pid, xs, ys, math.abs(a2) / 2)
      }.toDF("pid", "xs", "ys", "area")
  }
}
