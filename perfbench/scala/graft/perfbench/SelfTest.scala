package graft.perfbench

import graft.expr.WebEval

/**
 * The benchmark's own test of its output checks: every check must accept
 * a right output and reject each planted wrong one. Needs no Spark
 * session. Exits 1 if any expectation fails. Run it with
 * `python3 perfbench/test_checks.py`.
 */
object SelfTest {

  private var failures = 0

  private def expect(what: String, problems: Seq[String], rejected: Boolean): Unit = {
    val ok = problems.nonEmpty == rejected
    if (!ok) failures += 1
    val verdict = if (rejected) "rejects" else "accepts"
    println(s"${if (ok) "ok  " else "FAIL"} $verdict $what" +
      problems.headOption.fold("")(p => s"  [$p]"))
  }

  def main(args: Array[String]): Unit = {
    // html_extract_text: generated pages through the engine's extraction
    val seed = 7L
    val want = (0L until 200L).map(id => id -> Pages.text(seed, id)).toMap
    val got = want.map { case (id, t) => id -> WebEval.extractText(Pages.html(seed, id, t)) }
    expect("extracted text of 200 generated pages", Checks.textIdentical(want, got), false)
    val t5 = got(5L)
    val k = t5.indexOf(' ')
    expect("text with one byte changed", Checks.textIdentical(want,
      got.updated(5L, t5.substring(0, k) + "X" + t5.substring(k + 1))), true)
    expect("text with a page missing", Checks.textIdentical(want, got - 9L), true)
    expect("text with an extra page", Checks.textIdentical(want, got.updated(999L, "x")), true)
    expect("text with a trailing space", Checks.textIdentical(want,
      got.updated(3L, got(3L) + " ")), true)

    // zone membership: a unit square (7) and a triangle (8) over it
    val zones = Seq(
      Checks.Zone(7, Array(0.0, 1.0, 1.0, 0.0), Array(0.0, 0.0, 1.0, 1.0)),
      Checks.Zone(8, Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0)))
    val pts = Seq((1L, 0.25, 0.25), (2L, 0.75, 0.75), (3L, 2.0, 2.0))
    val right = Map(1L -> Set(7L, 8L), 2L -> Set(7L))
    expect("zone membership", Checks.zoneMembership(pts, zones, right), false)
    expect("a zone missing from a point", Checks.zoneMembership(pts, zones,
      right.updated(1L, Set(7L))), true)
    expect("an outside point given a zone", Checks.zoneMembership(pts, zones,
      right.updated(3L, Set(7L))), true)
    expect("a point given the wrong zone", Checks.zoneMembership(pts, zones,
      right.updated(2L, Set(8L))), true)

    // nearest feature, ties broken by the lower id
    val feats = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 2.0, 2.0))
    val probes = Seq((100L, 1.0, 1.0), (101L, 9.0, 9.0))
    val nearest = Map(100L -> (1L, 2.0), 101L -> (2L, 2.0))
    expect("nearest features", Checks.nearest(probes, feats, nearest), false)
    expect("the tied farther-id feature", Checks.nearest(probes, feats,
      nearest.updated(100L, (3L, 2.0))), true)
    expect("a wrong distance", Checks.nearest(probes, feats,
      nearest.updated(101L, (2L, 2.5))), true)
    expect("a probe missing", Checks.nearest(probes, feats, nearest - 101L), true)

    // snapshot row accounting
    expect("snapshot rows", Checks.snapshotRows(Seq(3L, 4L), 7L, 7L), false)
    expect("manifests short of the join", Checks.snapshotRows(Seq(3L, 3L), 7L, 6L), true)
    expect("a read-back short of the manifests",
      Checks.snapshotRows(Seq(3L, 4L), 7L, 6L), true)

    // D8 accumulation: a hand-computed pit, then a seeded DEM
    val pit = Array(7.07, 5.0, 7.07, 5.0, 0.0, 5.0, 7.07, 5.0, 7.07)
    val pitAcc = Checks.d8Accumulation(pit, 3, 3)
    expect("the reference D8 on a 3x3 pit (centre drains all 9)",
      if (pitAcc.toSeq == Seq(1L, 1, 1, 1, 9, 1, 1, 1, 1)) Nil
      else Seq(pitAcc.mkString(",")), false)
    val side = 24
    val z = Dem.values(seed, 0, side)
    val acc = Checks.d8Accumulation(z, side, side)
    val rows = for (r <- 0 until side; c <- 0 until side)
      yield (r.toLong, c.toLong, acc(r * side + c))
    expect("flow accumulation", Checks.flowAccum(z, side, side, rows), false)
    expect("one cell's count off by one", Checks.flowAccum(z, side, side,
      rows.updated(100, rows(100).copy(_3 = rows(100)._3 + 1))), true)
    expect("a cell missing", Checks.flowAccum(z, side, side, rows.tail), true)
    expect("a duplicated cell", Checks.flowAccum(z, side, side, rows :+ rows.head), true)

    println(if (failures == 0) "all checks behave" else s"$failures expectation(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
