package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}

/**
 * Output checks made apart from the engine: each recomputes the answer
 * from the generated input with plain Scala (or JTS, for polygons) and
 * returns the disagreements found, empty when the output is right.
 * [[SelfTest]] feeds every check a planted wrong output.
 */
object Checks {

  /** At most this many disagreements are spelled out per check. */
  private val Shown = 5

  private def report(what: String, bad: Seq[String]): Seq[String] =
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} wrong, e.g. ${bad.take(Shown).mkString("; ")}")

  /** Extracted text must be byte-identical to the generated text of
    * every page, and no page may be missing or extra. */
  def textIdentical(expected: Map[Long, String],
                    got: Map[Long, String]): Seq[String] = {
    val bad = expected.toSeq.sortBy(_._1).collect {
      case (id, want) if !got.get(id).exists(g =>
          java.util.Arrays.equals(g.getBytes(UTF_8), want.getBytes(UTF_8))) =>
        s"page $id: ${got.get(id).fold("missing")(g => s"'${g.take(40)}...'")}"
    } ++ (got.keySet -- expected.keySet).toSeq.sorted.map(id => s"extra page $id")
    report("html_extract_text", bad)
  }

  /** A zone as plain arrays (one ring). */
  final case class Zone(id: Long, xs: Array[Double], ys: Array[Double])

  /** Zone membership of each sampled point must equal a JTS containment
    * test against every zone. `got` maps point id to the zones the join
    * returned (absent = none). */
  def zoneMembership(points: Seq[(Long, Double, Double)], zones: Seq[Zone],
                     got: Map[Long, Set[Long]]): Seq[String] = {
    val gf = new GeometryFactory()
    val polys: Seq[(Long, Polygon)] = zones.map { z =>
      val ring = (z.xs.indices :+ 0).map(i => new Coordinate(z.xs(i), z.ys(i)))
      z.id -> gf.createPolygon(ring.toArray)
    }
    val bad = points.flatMap { case (id, x, y) =>
      val pt = gf.createPoint(new Coordinate(x, y))
      val want = polys.collect { case (zid, p)
        if p.getEnvelopeInternal.contains(x, y) && p.contains(pt) => zid }.toSet
      val have = got.getOrElse(id, Set.empty)
      if (want == have) None
      else Some(s"point $id ($x, $y): join ${have.toSeq.sorted} vs JTS ${want.toSeq.sorted}")
    }
    report("pipJoin zone membership", bad)
  }

  /** The nearest feature of each sampled probe must equal a brute-force
    * sort of every feature by (squared distance, id). */
  def nearest(probes: Seq[(Long, Double, Double)],
              features: Seq[(Long, Double, Double)],
              got: Map[Long, (Long, Double)]): Seq[String] = {
    val bad = probes.flatMap { case (id, x, y) =>
      val (fid, d2) = features.iterator.map { case (f, fx, fy) =>
        (f, (x - fx) * (x - fx) + (y - fy) * (y - fy)) }
        .minBy { case (f, d) => (d, f) }
      got.get(id) match {
        case Some((gid, gd)) if gid == fid && gd == d2 => None
        case other => Some(s"probe $id: join $other vs brute force ($fid, $d2)")
      }
    }
    report("knnJoin nearest feature", bad)
  }

  /** The snapshot's manifest row counts must sum to the rows joined, and
    * reading the snapshot back must give the same sum. */
  def snapshotRows(manifestRows: Seq[Long], joinedRows: Long,
                   readBackRows: Long): Seq[String] = {
    val sum = manifestRows.sum
    (if (sum != joinedRows)
      Seq(s"snapshot manifests hold $sum rows, the join gave $joinedRows")
    else Nil) ++ (if (readBackRows != sum)
      Seq(s"snapshot read-back gave $readBackRows rows, manifests hold $sum")
    else Nil)
  }

  // D8 neighbour order of Whitebox's FlowPointerD8: i = 0 is north-east,
  // clockwise; odd i are the orthogonal neighbours.
  private val dx = Array(1, 1, 1, 0, -1, -1, -1, 0)
  private val dy = Array(-1, 0, 1, 1, 1, 0, -1, -1)

  /** Plain-Scala D8 flow accumulation of a row-major `nRows` x `nCols`
    * DEM: each cell drains to its steepest strictly-lower neighbour
    * (first index wins a tie; diagonal drops divided by sqrt 2), and a
    * cell's count is itself plus every cell draining through it.
    * Flow only goes downhill, so visiting cells from high to low adds
    * each count before it is passed on. */
  def d8Accumulation(z: Array[Double], nRows: Int, nCols: Int): Array[Long] = {
    val n = nRows * nCols
    val target = Array.fill(n)(-1)
    for (r <- 0 until nRows; c <- 0 until nCols) {
      var best = 0.0
      var i = 0
      while (i < 8) {
        val (rr, cc) = (r + dy(i), c + dx(i))
        if (rr >= 0 && rr < nRows && cc >= 0 && cc < nCols) {
          val dist = if (i % 2 == 0) math.sqrt(2.0) else 1.0
          val s = (z(r * nCols + c) - z(rr * nCols + cc)) / dist
          if (s > best) { best = s; target(r * nCols + c) = rr * nCols + cc }
        }
        i += 1
      }
    }
    val acc = Array.fill(n)(1L)
    (0 until n).sortBy(k => -z(k)).foreach { k =>
      if (target(k) >= 0) acc(target(k)) += acc(k)
    }
    acc
  }

  /** Accumulation must equal [[d8Accumulation]] cell for cell. */
  def flowAccum(z: Array[Double], nRows: Int, nCols: Int,
                got: Seq[(Long, Long, Long)]): Seq[String] = {
    val want = d8Accumulation(z, nRows, nCols)
    val byCell = got.map { case (r, c, a) => (r, c) -> a }.toMap
    val bad = (for (r <- 0 until nRows; c <- 0 until nCols;
                    w = want(r * nCols + c); g = byCell.get((r.toLong, c.toLong))
                    if !g.contains(w)) yield s"cell ($r, $c): $g vs $w") ++
      (if (got.size != nRows * nCols)
        Seq(s"${got.size} rows for ${nRows * nCols} cells") else Nil)
    report("flowAccumD8", bad)
  }
}
