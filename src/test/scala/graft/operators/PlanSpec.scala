package graft.operators

import org.apache.spark.graft.SqlStarts
import org.apache.spark.sql.execution.SparkPlanInfo
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/**
 * Physical-plan assertions (SURVEY.md §4): the engine's value at
 * 100 TB is the plan shape, not just the result — these tests pin the
 * properties that must survive refactors:
 *  - the PIP overlay join broadcasts the zone side (no shuffle of the
 *    page/point table beyond its own scan);
 *  - predicate pushdown reaches the parquet scan;
 *  - column pruning keeps unused columns (at scale: html binary!) out
 *    of the read schema;
 *  - whole-stage codegen covers the cell-index expressions.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // let AQE finalize so codegen spans are visible
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("geo_pip_join broadcasts the zone side") {
    val plan = planOf("geo_pip_join")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    // the point side must NOT be exchanged before the join
    assert(!plan.contains("SortMergeJoin"), "PIP join must not sort-merge")
  }

  test("q2_filter pushes predicates into the parquet scan") {
    val plan = planOf("q2_filter")
    assert(plan.contains("PushedFilters: [") &&
      (plan.contains("GreaterThan(l_quantity,45") ||
        plan.contains("IsNotNull(l_quantity)")), plan.take(2000))
  }

  test("column pruning: geo_cell_assign reads only c_custkey") {
    val plan = planOf("geo_cell_assign")
    // customer has c_name/c_acctbal/c_mktsegment; the cell assignment
    // needs only the key (coordinates are derived from it)
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint>"),
      plan.take(2000))
  }

  test("column pruning: text_fingerprint does not read lang/source") {
    val plan = planOf("text_fingerprint")
    assert(!plan.contains("source:string"), plan.take(2000))
    assert(!plan.contains("lang:string"), plan.take(2000))
  }

  test("cell expressions stay inside whole-stage codegen") {
    val plan = planOf("geo_tile_histogram")
    // formatted mode marks whole-stage-codegen operators with
    // "[codegen id : N]" (and `*` in the tree)
    assert(plan.contains("[codegen id :"), plan.take(2000))
    // no CodegenFallback marker for our expressions
    assert(!plan.contains("Fallback"), plan.take(2000))
  }

  test("distance join is a cell-id equi-join (hash), never a cartesian") {
    val plan = planOf("geo_distance_join")
    assert(!plan.contains("CartesianProduct"), "must never cartesian")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "must be an equi-join on the cell key")
  }

  test("as-of join is one key shuffle, no join operator at all") {
    val plan = planOf("events_asof")
    // the union-tag + running-window plan: no join node (the L x R
    // pair explosion cannot exist if no join exists), and exactly one
    // exchange hashed on the key feeding the sort+window
    assert(!plan.contains("Join"), plan.take(2000))
    // count in the AQE final plan only (formatted mode repeats the
    // pre-AQE initial plan below it)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange \\(".r.findAllIn(finalPlan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n" +
      finalPlan.take(2000))
  }

  test("literal tables are exploded per row, never broadcast") {
    // the queries that crossed an offsets or direction table with a
    // broadcast join, each broadcast a job; the initial plans of every
    // execution they start, their build-time checkpoints included. A
    // cross join broadcasts its table whole (IdentityBroadcastMode);
    // hash-join broadcasts are left out, as geo_smooth_vector's input
    // zones are themselves a local table
    def leaves(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      if (p.children.isEmpty) Seq(p) else p.children.flatMap(leaves)
    def localBroadcasts(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      (if (p.nodeName == "BroadcastExchange" &&
           p.simpleString.contains("IdentityBroadcastMode") &&
           leaves(p).forall(_.nodeName == "LocalTableScan")) Seq(p)
       else Nil) ++ p.children.flatMap(localBroadcasts)
    val found = Seq("geo_branch_length", "geo_breach_pits", "geo_clump",
        "geo_fill_pits", "geo_hillslopes", "geo_median_upstream",
        "geo_parallel_flow", "geo_patch_metrics", "geo_r2v_polygons",
        "geo_smooth_vector", "geo_wall_watershed", "geo_contour",
        "geo_contour_lines", "geo_jenson_snap").flatMap { name =>
      val plans = SqlStarts(spark.sparkContext) {
        SparkEntry.queries(name)(spark, dir).collect()
      }
      assert(plans.nonEmpty, name)
      plans.flatMap(localBroadcasts).map(b => s"$name: ${b.simpleString}")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no query plans a cartesian product, and every query plans") {
    // every query's physical plan, built without running the query
    // (build-time checkpoints do run): a BroadcastNestedLoopJoin or a
    // SortMergeJoin may be right for its inputs, a CartesianProduct is
    // not
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        val plan = q(spark, dir).queryExecution.sparkPlan.toString
        if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct")
        else None
      } catch {
        case e: Exception => Some(s"$name: does not plan: $e")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
