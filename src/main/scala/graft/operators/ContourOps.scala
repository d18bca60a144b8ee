package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * Contour polyline assembly (TerrainAnalysisTools/Contour.java
 * marching + chaining, 1 410 LoC in the reference): iso-level edge
 * crossings (Raster.contourCrossings) become per-cell marching-squares
 * segments, segments connect into polylines via distributed connected
 * components, and each component chains into an ordered vertex walk.
 *
 *  - Crossing node id: edge identity (r·64 + c)·2 (+1 for vertical
 *    edges), level-partitioned by packing levelIndex·100000 — pure
 *    integer arithmetic mirrored by the SQL oracle.
 *  - Saddle cells (4 crossings) pair (top,left) + (bottom,right) — a
 *    fixed deterministic rule (the reference disambiguates by centre
 *    average; a fixed rule keeps both engines branch-identical).
 *  - Each crossing node has degree <= 2 by construction, so
 *    components are simple paths or cycles; the per-component chain
 *    walk is sequential over ONE polyline's segments (the reference
 *    holds whole polylines in memory the same way).
 *  - Lengths sum per-segment as round(len·1e9) integers so the global
 *    sum is order-independent (exact bigint addition).
 */
object ContourOps {

  /** Marching-squares segments per (level, cell):
    * (lvl, na, nb, xa, ya, xb, yb) with na < nb. */
  def contourSegments(grid: DataFrame, levels: Seq[Double]): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val cr = Raster.contourCrossings(grid, levels)
    val lvlIdx = levels.zipWithIndex.toDF("lvl", "__li")
    // node id + crossing coordinates (x = c + t on horizontal edges,
    // y = r + t on vertical)
    val nodes = cr.join(broadcast(lvlIdx), Seq("lvl"))
      .select(col("lvl"), col("et"), col("r"), col("c"),
        (col("__li") * 100000L + (col("r") * 64 + col("c")) * 2 +
          when(col("et") === "v", 1L).otherwise(0L)).as("node"),
        when(col("et") === "h", col("c") + col("t"))
          .otherwise(col("c").cast("double")).as("x"),
        when(col("et") === "v", col("r") + col("t"))
          .otherwise(col("r").cast("double")).as("y"))
      .transform(Checkpoint(_))
    def side(et: String, dr: Int, dc: Int, nm: String) =
      nodes.where(col("et") === et).select(col("lvl"),
        (col("r") - dr).as("r"), (col("c") - dc).as("c"),
        col("node").as(s"n_$nm"), col("x").as(s"x_$nm"),
        col("y").as(s"y_$nm"))
    // cell (r, c): top h(r,c), bottom h(r+1,c), left v(r,c),
    // right v(r,c+1)
    val cells = side("h", 0, 0, "t")
      .join(side("h", 1, 0, "b"), Seq("lvl", "r", "c"), "full")
      .join(side("v", 0, 0, "l"), Seq("lvl", "r", "c"), "full")
      .join(side("v", 0, 1, "rr"), Seq("lvl", "r", "c"), "full")
    val cnt = Seq("t", "b", "l", "rr")
      .map(s => when(col(s"n_$s").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    def seg(a: String, b: String): Column = struct(
      least(col(s"n_$a"), col(s"n_$b")).as("na"),
      greatest(col(s"n_$a"), col(s"n_$b")).as("nb"),
      when(col(s"n_$a") <= col(s"n_$b"), col(s"x_$a"))
        .otherwise(col(s"x_$b")).as("xa"),
      when(col(s"n_$a") <= col(s"n_$b"), col(s"y_$a"))
        .otherwise(col(s"y_$b")).as("ya"),
      when(col(s"n_$a") <= col(s"n_$b"), col(s"x_$b"))
        .otherwise(col(s"x_$a")).as("xb"),
      when(col(s"n_$a") <= col(s"n_$b"), col(s"y_$b"))
        .otherwise(col(s"y_$a")).as("yb"))
    val present = Seq("t", "b", "l", "rr")
    // cnt = 2: the unique pair among the four sides; cnt = 4 (saddle):
    // (top,left) + (bottom,right). Exactly one pair is fully present
    // at cnt = 2, so folding over all pairs picks it regardless of
    // fold order.
    val prs = present.combinations(2).toSeq
    val pairCnt2 = prs.tail.foldLeft(seg(prs.head(0), prs.head(1))) {
      (acc, pr) =>
        when(col(s"n_${pr(0)}").isNotNull && col(s"n_${pr(1)}").isNotNull,
          seg(pr(0), pr(1))).otherwise(acc)
    }
    val segs2 = cells.where(cnt === 2)
      .select(col("lvl"), pairCnt2.as("s"))
    val segs4 = cells.where(cnt === 4)
      .select(col("lvl"), explode(array(seg("t", "l"), seg("b", "rr")))
        .as("s"))
    segs2.unionByName(segs4)
      .select(col("lvl"), col("s.na").as("na"), col("s.nb").as("nb"),
        col("s.xa").as("xa"), col("s.ya").as("ya"),
        col("s.xb").as("xb"), col("s.yb").as("yb"))
  }

  /**
   * Assembled contour polylines: per (lvl, line) ordered vertex walk.
   * Output (lvl, line_id, n_pts, closed, len_nano, xs, ys); line_id =
   * min crossing-node id of the component, closed = 1 for cycles.
   */
  def contourLines(grid: DataFrame, levels: Seq[Double]): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val segs = contourSegments(grid, levels).transform(Checkpoint(_))
    val comp = GraphCC.label(
      segs.select(col("na").as("a"), col("nb").as("b")))
    val withComp = segs
      .join(comp.withColumnRenamed("node", "na"), Seq("na"))
      .select(col("lvl"), col("comp"), col("na"), col("nb"),
        col("xa"), col("ya"), col("xb"), col("yb"))
      .as[(Double, Long, Long, Long, Double, Double, Double, Double)]
    withComp.groupByKey(t => (t._1, t._2)).mapGroups { (key, it) =>
      val es = it.toArray
      // adjacency over a path/cycle (degree <= 2 by construction)
      val adj = scala.collection.mutable.Map.empty[Long,
        scala.collection.mutable.ArrayBuffer[(Long, Double, Double, Double, Double)]]
      es.foreach { e =>
        adj.getOrElseUpdate(e._3,
          scala.collection.mutable.ArrayBuffer()) +=
          ((e._4, e._5, e._6, e._7, e._8))
        adj.getOrElseUpdate(e._4,
          scala.collection.mutable.ArrayBuffer()) +=
          ((e._3, e._7, e._8, e._5, e._6))
      }
      val endpoints = adj.filter(_._2.length == 1).keys.toSeq.sorted
      val closed = endpoints.isEmpty
      val start = if (closed) adj.keys.min else endpoints.head
      val xs = scala.collection.mutable.ArrayBuffer[Double]()
      val ys = scala.collection.mutable.ArrayBuffer[Double]()
      val visited = scala.collection.mutable.Set.empty[Long]
      var cur = start
      var done = false
      var lenNano = 0L
      while (!done) {
        visited += cur
        val nexts = adj(cur)
        if (xs.isEmpty) { xs += nexts.head._2; ys += nexts.head._3 }
        val nxt = nexts.find(n => !visited.contains(n._1))
          .orElse(if (closed && visited.size == adj.size)
            nexts.find(_._1 == start) else None)
        nxt match {
          case Some((n, x1, y1, x2, y2)) =>
            xs += x2; ys += y2
            val dx = x2 - x1; val dy = y2 - y1
            lenNano += math.round(math.sqrt(dx * dx + dy * dy) * 1e9)
            if (n == start) done = true else cur = n
          case None => done = true
        }
      }
      (key._1, key._2, visited.size.toLong,
        if (closed) 1L else 0L, lenNano, xs.toSeq, ys.toSeq)
    }.toDF("lvl", "line_id", "n_pts", "closed", "len_nano", "xs", "ys")
  }
}
