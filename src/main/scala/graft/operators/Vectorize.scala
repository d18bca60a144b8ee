package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Checkpoint

/**
 * RasterToVectorPolygons (ConversionTools/RasterToVectorPolygons
 * .java:217-430): equal-value patches become polygons whose boundary
 * rings trace the cell edges between a patch and anything else
 * (different value, other patch, off-grid). Re-expressed Spark-first:
 *
 *  1. patches = value-preserving connected components (the tiled
 *     clump machinery, 4-connectivity — diagonal-only contact does
 *     NOT merge patches, matching polygon topology);
 *  2. every cell emits its exposed sides as directed unit edges with
 *     the patch interior on the left — a one-pass scatter;
 *  3. edges group by patch id and chain into rings sequentially
 *     (per-patch memory bounds at the patch's boundary length — the
 *     reference holds whole rings in memory the same way). Ambiguous
 *     corners (diagonally self-touching boundary) resolve by a fixed
 *     turn preference, producing non-crossing rings.
 *
 * Output: (comp_id, cls, xs, ys, parts, net_area) in cell coordinates
 * (x = col, y = row); net_area = signed ring sum = the patch's cell
 * count, which the oracle cross-checks against the relational count.
 */
object Vectorize {

  /** Value-preserving 4-connected components: like Raster.clump but
    * edges require equal `cls` (RasterToVectorPolygons region rule). */
  def clumpByValue(cells: DataFrame, width: Long,
                   tileSize: Int = 16): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val T = tileSize.toLong
    val typed = cells.select(col("r"), col("c"), col("cls"))
      .as[(Long, Long, Long)].transform(Checkpoint(_))
    val labeled = typed
      .groupByKey(t => (Math.floorDiv(t._1, T), Math.floorDiv(t._2, T)))
      .flatMapGroups { (_, it) => localCcl4(it.toSeq, width) }
      .toDF("r", "c", "cls", "lbl")
      .transform(Checkpoint(_))
    val off = Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    val boundary = labeled.where(
      pmod(col("r"), lit(T)) === 0 || pmod(col("r"), lit(T)) === T - 1 ||
      pmod(col("c"), lit(T)) === 0 || pmod(col("c"), lit(T)) === T - 1)
    val probes = Focal.crossLiteral(boundary, Seq("dr", "dc"), off)
      .select((col("r") + col("dr")).as("r"),
        (col("c") + col("dc")).as("c"), col("cls"),
        col("lbl").as("la"))
    val edges0 = probes.join(labeled, Seq("r", "c", "cls"))
      .select(col("la"), col("lbl").as("lb"))
      .where(col("la") =!= col("lb")).distinct()
    // resolve the cross-tile label graph through the shared
    // size-adaptive CC labeller (one-task union-find for small label
    // graphs — same r5 rewrite as Raster.clump's step 3)
    val selfLoops = labeled.select(col("lbl").as("a"),
      col("lbl").as("b")).distinct()
    val comp = GraphCC.label(
      edges0.select(col("la").as("a"), col("lb").as("b"))
        .unionByName(selfLoops))
      .select(col("node").as("lbl"), col("comp"))
    labeled.join(comp, Seq("lbl"))
      .select(col("r"), col("c"), col("cls"), col("comp").as("comp_id"))
  }

  private def localCcl4(cells: Seq[(Long, Long, Long)],
                        width: Long): Iterator[(Long, Long, Long, Long)] = {
    val byPos = cells.map(t => (t._1, t._2) -> t._3).toMap
    val ids = cells.map { case (r, c, _) => (r, c) -> (r * width + c) }
      .toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.values.foreach(id => parent(id) = id)
    cells.foreach { case (r, c, cls) =>
      val id = ids((r, c))
      Seq((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)).foreach { n =>
        if (byPos.get(n).contains(cls)) union(id, ids(n))
      }
    }
    cells.iterator.map { case (r, c, cls) =>
      (r, c, cls, find(ids((r, c))))
    }
  }

  /** Directed boundary edge of one exposed cell side (unit length,
    * axis-aligned, interior on the left in y-down coordinates). */
  private case class BEdge(x1: Long, y1: Long, x2: Long, y2: Long)

  /**
   * Full pipeline: components -> exposed sides -> chained rings.
   * Returns (comp_id, cls, n_cells, xs, ys, parts, net_area).
   */
  def rasterToPolygons(cells: DataFrame, width: Long,
                       tileSize: Int = 16): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val comps = clumpByValue(cells, width, tileSize).transform(Checkpoint(_))
    val lab = comps.select(col("r"), col("c"), col("cls"),
      col("comp_id"))
    // exposed sides: neighbor missing OR different component.
    // nbr(dr, dc) places each cell's comp id AT the position of its
    // (r - dr, c - dc) original, so a join on (r, c) reads the
    // neighbor at offset (+dr, +dc).
    def nbr(dr: Int, dc: Int, name: String) =
      lab.select((col("r") - dr).as("r"), (col("c") - dc).as("c"),
        col("comp_id").as(name))
    val sides = lab
      .join(nbr(-1, 0, "cn"), Seq("r", "c"), "left")
      .join(nbr(1, 0, "cs"), Seq("r", "c"), "left")
      .join(nbr(0, -1, "cw"), Seq("r", "c"), "left")
      .join(nbr(0, 1, "ce"), Seq("r", "c"), "left")
    val edges = sides.select(col("comp_id"), col("cls"), col("r"),
        col("c"), col("cn"), col("cs"), col("cw"), col("ce"))
      .as[(Long, Long, Long, Long, Option[Long], Option[Long],
        Option[Long], Option[Long])]
      .flatMap { case (comp, cls, r, c, cn, cs, cw, ce) =>
        val out = scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long, Long, Long, Long)]()
        // (comp, cls, x1, y1, x2, y2); interior left, y down
        if (!cn.contains(comp)) out += ((comp, cls, c, r, c + 1, r))
        if (!ce.contains(comp)) out += ((comp, cls, c + 1, r, c + 1, r + 1))
        if (!cs.contains(comp)) out += ((comp, cls, c + 1, r + 1, c, r + 1))
        if (!cw.contains(comp)) out += ((comp, cls, c, r + 1, c, r))
        out
      }
    val nCells = comps.groupBy("comp_id")
      .agg(count(lit(1)).as("n_cells"))
    val rings = edges.groupByKey(t => (t._1, t._2))
      .mapGroups { (key, it) =>
        val es = it.map(t => BEdge(t._3, t._4, t._5, t._6)).toSeq
        val (xs, ys, parts, area) = assembleRings(es)
        (key._1, key._2, xs, ys, parts, area)
      }
      .toDF("comp_id", "cls", "xs", "ys", "parts", "net_area")
    rings.join(nCells, Seq("comp_id"))
      .select("comp_id", "cls", "n_cells", "xs", "ys", "parts",
        "net_area")
  }

  /** Chain directed unit edges into closed rings; ambiguous corners
    * take the rightmost turn relative to the incoming direction.
    * Collinear runs merge. Returns concatenated ring arrays + the
    * signed-area sum (equal to the patch cell count). */
  private[operators] def assembleRings(edges: Seq[BEdge])
      : (Seq[Double], Seq[Double], Seq[Int], Double) = {
    val byFrom = scala.collection.mutable.Map
      .empty[(Long, Long), scala.collection.mutable.ArrayBuffer[BEdge]]
    edges.foreach { e =>
      byFrom.getOrElseUpdate((e.x1, e.y1),
        scala.collection.mutable.ArrayBuffer()) += e
    }
    val used = scala.collection.mutable.Set.empty[BEdge]
    // right turn preference: order candidate directions clockwise
    // starting just left of the reverse of the incoming direction
    def pick(cands: Seq[BEdge], inDx: Long, inDy: Long): BEdge = {
      if (cands.length == 1) cands.head
      else {
        def score(e: BEdge): Int = {
          val dx = e.x2 - e.x1; val dy = e.y2 - e.y1
          // cross/dot against incoming: right turn (cross>0 in y-down)
          val cross = inDx * dy - inDy * dx
          val dot = inDx * dx + inDy * dy
          if (cross > 0) 0        // right turn first
          else if (dot > 0) 1     // straight
          else if (cross < 0) 2   // left turn
          else 3                  // u-turn
        }
        cands.minBy(score)
      }
    }
    val xs = scala.collection.mutable.ArrayBuffer[Double]()
    val ys = scala.collection.mutable.ArrayBuffer[Double]()
    val parts = scala.collection.mutable.ArrayBuffer[Int]()
    var areaSum = 0.0
    val sorted = edges.sortBy(e => (e.y1, e.x1, e.y2, e.x2))
    sorted.foreach { start =>
      if (!used.contains(start)) {
        val ring = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        var cur = start
        var inDx = 0L; var inDy = 0L
        var closed = false
        while (!closed) {
          used += cur
          ring += ((cur.x1, cur.y1))
          inDx = cur.x2 - cur.x1; inDy = cur.y2 - cur.y1
          if (cur.x2 == start.x1 && cur.y2 == start.y1) closed = true
          else {
            val cands = byFrom((cur.x2, cur.y2)).filterNot(used.contains)
            cur = pick(cands.toSeq, inDx, inDy)
          }
        }
        // merge collinear runs
        val merged = ring.indices.collect {
          case i if {
            val p = ring((i - 1 + ring.length) % ring.length)
            val q = ring(i)
            val n = ring((i + 1) % ring.length)
            (q._1 - p._1) * (n._2 - q._2) != (q._2 - p._2) * (n._1 - q._1)
          } => ring(i)
        }
        // signed area (shoelace, y-down: interior-left tracing makes
        // exterior rings positive, holes negative)
        val n = merged.length
        var a2 = 0.0
        for (i <- 0 until n) {
          val (x1, y1) = merged(i)
          val (x2, y2) = merged((i + 1) % n)
          a2 += x1.toDouble * y2 - x2.toDouble * y1
        }
        areaSum += a2 / 2.0
        parts += xs.length
        merged.foreach { case (x, y) => xs += x.toDouble; ys += y.toDouble }
      }
    }
    (xs.toSeq, ys.toSeq, parts.toSeq, areaSum)
  }
}
