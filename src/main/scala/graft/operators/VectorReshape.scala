package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * Geometry-restructure family (VectorTools ExtractNodes.java,
 * PolygonsToLines.java, Scripts/MultipartsToSingleparts.groovy /
 * SinglepartsToMultiparts, LinesToPolygons.groovy; SURVEY.md §2.6
 * "geometry restructure" row) over the engine's vertex-array vector
 * model (fid, xs: Array[Double], ys: Array[Double], parts:
 * Array[Int] — the ShapeFile parts-offset encoding). All reshapes
 * are per-feature flatMap/array transforms: no shuffle at all except
 * the explicit groupBy in singleparts->multiparts, so they scale
 * linearly with the feature table.
 */
object VectorReshape {

  /** ExtractNodes: every vertex of every feature becomes a point
    * feature (fid, vi, x, y) — vertex order preserved. */
  def extractNodes(features: DataFrame): DataFrame =
    features
      .select(col("fid"), posexplode(arrays_zip(col("xs"), col("ys"))))
      .select(col("fid"), col("pos").cast("long").as("vi"),
        col("col.xs").as("x"), col("col.ys").as("y"))

  /** Next-vertex 1-based index around the closed ring: vertex i
    * (0-based) connects to (i+1) mod n. */
  private val NextIdx = "CAST((i + 1) % size(xs) + 1 AS INT)"
  private val CurIdx = "CAST(i + 1 AS INT)"

  /** PolygonsToLines: each polygon ring re-tagged as a CLOSED
    * polyline — emits per feature the closed vertex count and the
    * ring length (sum of segment lengths in vertex order, closing
    * segment last). */
  def polygonsToLines(features: DataFrame): DataFrame = {
    val segLen = expr(
      s"""aggregate(sequence(0, size(xs) - 1), CAST(0.0 AS DOUBLE),
         |  (acc, i) -> acc + sqrt(
         |    (element_at(xs, $NextIdx) - element_at(xs, $CurIdx)) *
         |    (element_at(xs, $NextIdx) - element_at(xs, $CurIdx)) +
         |    (element_at(ys, $NextIdx) - element_at(ys, $CurIdx)) *
         |    (element_at(ys, $NextIdx) - element_at(ys, $CurIdx))))""".stripMargin)
    features.select(col("fid"),
      (size(col("xs")) + 1).cast("long").as("n_vertices"),
      round(segLen, 6).as("len"))
  }

  /** LinesToPolygons: closed polylines become polygons — emits the
    * shoelace area |sum x_i*y_{i+1} - x_{i+1}*y_i| / 2 over the
    * closed ring, vertex order fixed. */
  def linesToPolygons(features: DataFrame): DataFrame = {
    val shoelace = expr(
      s"""aggregate(sequence(0, size(xs) - 1), CAST(0.0 AS DOUBLE),
         |  (acc, i) -> acc +
         |    (element_at(xs, $CurIdx) * element_at(ys, $NextIdx) -
         |     element_at(xs, $NextIdx) * element_at(ys, $CurIdx)))""".stripMargin)
    features.select(col("fid"), round(abs(shoelace) / 2.0, 6).as("parea"))
  }

  /**
   * SinglepartsToMultiparts then MultipartsToSingleparts round-trip:
   * features grouped by `gid` are concatenated into one multipart
   * feature (vertex arrays appended in fid order, parts = start
   * offsets), then the multipart is exploded back into its parts.
   * Emits per part (gid, part_idx, bbox area) — a faithful exercise
   * of the ShapeFile parts-offset encode/decode.
   */
  def multipartRoundTrip(features: DataFrame, groups: Int): DataFrame = {
    val multi = features
      .withColumn("gid", col("fid") % groups)
      .groupBy("gid")
      .agg(sort_array(collect_list(
        struct(col("fid"), col("xs"), col("ys")))).as("ms"))
      .select(col("gid"),
        expr("flatten(transform(ms, m -> m.xs))").as("xs"),
        expr("flatten(transform(ms, m -> m.ys))").as("ys"),
        expr("""aggregate(ms, array(0),
          | (acc, m) -> array_append(acc, element_at(acc, -1) + size(m.xs)))""".stripMargin)
          .as("offs"))
    // offs has nParts+1 entries (last = total vertex count); the
    // exploded `col` is the part's start offset, pos its index
    multi
      .select(col("gid"), col("xs"), col("ys"), col("offs"),
        posexplode(expr("slice(offs, 1, size(offs) - 1)")))
      .select(col("gid"), col("pos").cast("long").as("part_idx"),
        expr("slice(xs, col + 1, element_at(offs, CAST(pos + 2 AS INT)) - col)")
          .as("pxs"),
        expr("slice(ys, col + 1, element_at(offs, CAST(pos + 2 AS INT)) - col)")
          .as("pys"))
      .select(col("gid"), col("part_idx"),
        round((array_max(col("pxs")) - array_min(col("pxs"))) *
          (array_max(col("pys")) - array_min(col("pys"))), 6).as("parea"))
  }

  /**
   * RemovePolygonNecks (VectorTools/RemovePolygonNecks.java:285-388):
   * a ring vertex is a neck vertex when the ring folds back on itself
   * nearby — its within-radius neighbour set spans two separated
   * index runs, detected as a max consecutive-index gap >=
   * nodeGapThreshold after the ring-seam normalisation (indices below
   * numPoints/2 shift up by numPoints when the raw index range spans
   * the whole ring, :327-345). Chains of consecutive neck vertices
   * are the emitted polylines; a chain needs >= 2 vertices, or any
   * length when it ends at the ring's last vertex (the reference's
   * end-of-scan flush, :364-372). The global chain window is
   * per-feature in the reference too — one ring, one partition.
   * vertices: (vid, vx, vy). Output: (chain_start, chain_end,
   * n_vertices).
   */
  def polygonNecks(vertices: DataFrame, radius: Double,
                   nodeGapThreshold: Long,
                   numPoints: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val d2 = radius * radius
    val a = vertices.select(col("vid").as("cid"), col("vx").as("ax"),
      col("vy").as("ay"))
    val b = vertices.select(col("vid").as("nid"), col("vx").as("bx"),
      col("vy").as("by"))
    val nb = a.join(b,
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= d2)
      .select(col("cid"), col("nid"))
      .transform(Checkpoint(_))
    val rng = nb.groupBy("cid")
      .agg((max("nid") - min("nid")).as("rng"))
    val nrm = nb.join(rng, Seq("cid"))
      .select(col("cid"),
        when(col("rng") === numPoints - 1 &&
          col("nid") < numPoints / 2, col("nid") + numPoints)
          .otherwise(col("nid")).as("nid"))
    val wC = w.partitionBy("cid").orderBy("nid")
    val mg = nrm
      .withColumn("gp", col("nid") - lag("nid", 1).over(wC))
      .groupBy("cid").agg(coalesce(max("gp"), lit(0L)).as("maxgap"))
    val kept = mg.where(col("maxgap") >= nodeGapThreshold)
      .select("cid")
    kept.withColumn("grp", col("cid") - row_number().over(w.orderBy("cid")))
      .groupBy("grp")
      .agg(min("cid").as("chain_start"), max("cid").as("chain_end"),
        count(lit(1)).as("n_vertices"))
      .where(col("n_vertices") >= 2 ||
        col("chain_end") === numPoints - 1)
      .select("chain_start", "chain_end", "n_vertices")
  }

  /**
   * DeleteSmallLakesAndExtendRivers.groovy (:138-177): a lake with
   * area <= areaThreshold that has >= 2 stream endpoints (starts or
   * ends) within searchDistance is deleted, and each such endpoint is
   * replaced by the lake's interior point; when an endpoint qualifies
   * against several lakes, the reference's sequential overwrite makes
   * the highest lake id win. Lakes here are axis-aligned rectangles
   * (lake_id, xmin, ymin, xmax, ymax, cx, cy) so point-to-lake
   * distance is the closed form GREATEST(xmin-p, 0, p-xmax) per axis
   * — plain codegen'd columns on both engines, no geometry library in
   * the hot path (the general-polygon arm reuses the JTS overlay
   * family). `endpoints`: (line_id, kind 0=start/1=end, px, py).
   *
   * Scale: lakes are the small dimension — broadcast — and the only
   * shuffles are the per-lake count and per-endpoint pick; endpoint
   * cardinality is 2x the stream table, never pairs x pairs.
   *
   * Returns (line_id, kind, cx, cy): the endpoints to rewrite and
   * the interior point that replaces them.
   */
  def extendRivers(lakes: DataFrame, endpoints: DataFrame,
                   searchDistance: Double,
                   areaThreshold: Double): DataFrame = {
    val d2 = searchDistance * searchDistance
    val gx = greatest(col("xmin") - col("px"), lit(0.0),
      col("px") - col("xmax"))
    val gy = greatest(col("ymin") - col("py"), lit(0.0),
      col("py") - col("ymax"))
    val near = endpoints.join(broadcast(lakes),
        gx * gx + gy * gy < d2)
      .select(col("line_id"), col("kind"), col("lake_id"),
        col("cx"), col("cy"),
        ((col("xmax") - col("xmin")) *
          (col("ymax") - col("ymin"))).as("area"))
      .transform(Checkpoint(_))
    val qual = near.groupBy("lake_id")
      .agg(count(lit(1)).as("n"), min(col("area")).as("area"))
      .where(col("n") >= 2 && col("area") <= areaThreshold)
      .select("lake_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("line_id", "kind")
      .orderBy(col("lake_id").desc)
    near.join(qual, Seq("lake_id"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("line_id"), col("kind"), col("cx"), col("cy"))
  }

  /**
   * Smooth (VectorTools/Smooth.java:268-305): per-vertex moving
   * average over a window of 2·halfFilter+1 ring positions. Closed
   * rings wrap (the reference's duplicate-closing-vertex index
   * arithmetic collapses to plain mod-n on the engine's open vertex
   * lists); open lines clamp at the ends, dividing by the in-range
   * count. One explode + windowed join per vertex — shuffles only on
   * (gid, i), linear in total vertex count.
   * verts: (gid, i, vx, vy) with i 0-based ring order.
   */
  def smoothVertices(verts: DataFrame, halfFilter: Int,
                     closed: Boolean): DataFrame = {
    val offs = (-halfFilter to halfFilter).map(Tuple1(_))
    val sized = verts.join(
      verts.groupBy("gid").agg(count(lit(1)).as("n")), Seq("gid"))
    val probes = Focal.crossLiteral(sized, Seq("o"), offs)
      .select(col("gid"), col("i"),
        (if (closed) pmod(col("i") + col("o"), col("n"))
         else col("i") + col("o")).as("j"))
      .where(col("j") >= 0)
    probes
      .join(verts.select(col("gid"), col("i").as("j"),
        col("vx").as("nx"), col("vy").as("ny")), Seq("gid", "j"))
      .groupBy("gid", "i")
      .agg(round(sum(col("nx")) / count(lit(1)), 6).as("sx"),
        round(sum(col("ny")) / count(lit(1)), 6).as("sy"))
  }

  /**
   * FindPolygonChains (VectorTools/FindPolygonChains.java:280-470):
   * elongated polygons (minimum-bounding-box elongation above
   * `elongThreshold`) expose their two long-axis end points; end
   * points of DIFFERENT features within `radius` link their
   * features, and connected groups with at least `minChain` members
   * are chains. The min-bbox uses the engine's exact edge-projection
   * method (the geo_min_bounding_box formulation — dot products +
   * sqrt, so cross-engine pick order is bit-stable) instead of the
   * reference's 0.5-degree rotation scan; linking is a bounded
   * proximity join + [[GraphCC]] components (group id = min feature
   * id). tri: (fid, x0, y0, bx, by, cx, cy) triangle features.
   */
  def findPolygonChains(tri: DataFrame, radius: Double, minChain: Int,
                        elongThreshold: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val verts = tri.select(col("fid"), explode(array(
        struct(col("x0").as("vx"), col("y0").as("vy")),
        struct(col("bx").as("vx"), col("by").as("vy")),
        struct(col("cx").as("vx"), col("cy").as("vy")))).as("v"))
      .select(col("fid"), col("v.vx").as("vx"), col("v.vy").as("vy"))
    val mid = verts.groupBy("fid").agg(
      (min("vx") + (max("vx") - min("vx")) / 2.0).as("midx"),
      (min("vy") + (max("vy") - min("vy")) / 2.0).as("midy"))
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
    val wnd = Window.partitionBy("fid")
      .orderBy("value", "xaxis", "yaxis", "eidx")
    val best = ext.withColumn("rk", row_number().over(wnd))
      .where(col("rk") === 1).join(mid, Seq("fid"))
      .where(lit(1.0) - least(col("xaxis"), col("yaxis")) /
        greatest(col("xaxis"), col("yaxis")) > elongThreshold)
      .transform(Checkpoint(_))
    // long-axis end points in the rotated frame, rotated back
    val exr1 = when(col("xaxis") >= col("yaxis"), col("w"))
      .otherwise(col("w") + col("xaxis") / 2)
    val eyr1 = when(col("xaxis") >= col("yaxis"),
      col("n") + col("yaxis") / 2).otherwise(col("n"))
    val exr2 = when(col("xaxis") >= col("yaxis"),
      col("w") + col("xaxis")).otherwise(col("w") + col("xaxis") / 2)
    val eyr2 = when(col("xaxis") >= col("yaxis"),
      col("n") + col("yaxis") / 2).otherwise(col("n") + col("yaxis"))
    def world(xr: Column, yr: Column) = Seq(
      col("midx") + (xr * cos(lit(-1.0) * col("psi")) -
        yr * sin(lit(-1.0) * col("psi"))),
      col("midy") + (xr * sin(lit(-1.0) * col("psi")) +
        yr * cos(lit(-1.0) * col("psi"))))
    val w1 = world(exr1, eyr1)
    val w2 = world(exr2, eyr2)
    val ends = best.select(col("fid"), explode(array(
        struct(w1(0).as("ex"), w1(1).as("ey")),
        struct(w2(0).as("ex"), w2(1).as("ey")))).as("p"))
      .select(col("fid"), col("p.ex").as("ex"), col("p.ey").as("ey"))
      .transform(Checkpoint(_))
    val links = ends.join(ends.select(col("fid").as("f2"),
        col("ex").as("x2"), col("ey").as("y2")),
        col("f2") =!= col("fid") &&
          (col("x2") - col("ex")) * (col("x2") - col("ex")) +
          (col("y2") - col("ey")) * (col("y2") - col("ey")) <=
            lit(radius * radius))
      .select(col("fid").as("a"), col("f2").as("b"))
    val selfLoops = best.select(col("fid").as("a"), col("fid").as("b"))
    val comp = GraphCC.label(links.unionByName(selfLoops).distinct())
    val sizes = comp.groupBy("comp").agg(count(lit(1)).as("nmem"))
    comp.join(sizes, Seq("comp")).where(col("nmem") >= minChain)
      .select(col("node").as("fid"), col("comp").as("group_id"))
  }

  /**
   * VectorCleaning (VectorTools/VectorCleaning.java:300-310, which
   * delegates to JTS GeometrySnapper pairwise in record order): every
   * vertex snaps to the nearest OTHER-feature vertex within
   * `tolerance`, ties broken by (gid, i) scan order; out-of-range
   * vertices stay put. The engine's form is order-free (nearest
   * wins, not last-snapped-pair wins) — deterministic and
   * relational: a self-join bounded by the tolerance window, then a
   * first-row rank. At scale the join keys by cell id like every
   * other proximity join here.
   */
  def vectorClean(verts: DataFrame, tolerance: Double): DataFrame = {
    val cand = verts
      .join(verts.select(col("gid").as("g2"), col("i").as("i2"),
          col("vx").as("x2"), col("vy").as("y2")),
        col("g2") =!= col("gid") &&
          abs(col("x2") - col("vx")) <= tolerance &&
          abs(col("y2") - col("vy")) <= tolerance)
      .withColumn("d2",
        (col("x2") - col("vx")) * (col("x2") - col("vx")) +
          (col("y2") - col("vy")) * (col("y2") - col("vy")))
      .where(col("d2") <= tolerance * tolerance)
    val firstNear = org.apache.spark.sql.expressions.Window
      .partitionBy("gid", "i")
      .orderBy(col("d2"), col("g2"), col("i2"))
    val snapped = cand.withColumn("rn", row_number().over(firstNear))
      .where(col("rn") === 1)
      .select(col("gid"), col("i"), col("x2"), col("y2"))
    verts.join(snapped, Seq("gid", "i"), "left")
      .select(col("gid"), col("i"),
        coalesce(col("x2"), col("vx")).as("cx"),
        coalesce(col("y2"), col("vy")).as("cy"))
  }
}
