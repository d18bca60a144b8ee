package graft.core

import java.io.File

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.operators.{Derived, SpatialJoins, TestSpark}

/** Building a DataFrame must not start Spark jobs that the query then
  * pays for before it runs: schemas come from parquet footers on the
  * driver, and arms are picked from planner estimates, not counts. */
class BuildJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def buildJobs(name: String): Int =
    JobCount(spark.sparkContext)(SparkEntry.queries(name)(spark, dir))

  test("footer schema equals the inferred schema for every table") {
    val tables = new File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    tables.foreach { t =>
      assert(ParquetFooter.schema(spark, t) === spark.read.parquet(t).schema, t)
    }
  }

  test("footer row count equals the table's row count") {
    val t = s"$dir/lineitem.parquet"
    assert(ParquetFooter.meta(spark, t).rows === spark.read.parquet(t).count())
  }

  test("q1_agg, geo_breach, geo_flood_order and events_asof build with 0 jobs") {
    Seq("q1_agg", "geo_breach", "geo_flood_order", "events_asof")
      .foreach(q => assert(buildJobs(q) === 0, q))
  }

  test("geo_flow_accum builds with at most 2 jobs") {
    // the pointer checkpoint, whose job runs the neighbour shuffle, and
    // the accumulation's checkpoint; count and extent come from the
    // pointer checkpoint's statistics
    val jobs = buildJobs("geo_flow_accum")
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("knnJoin's broadcast arm builds with at most 1 job") {
    val probe = Derived.customerPoints(spark, dir)
      .select(col("id").as("probe_id"), col("x"), col("y"))
    val build = Derived.supplierPoints(spark, dir)
      .select(col("s_id").as("build_id"), col("sx").as("rx"),
        col("sy").as("ry"))
    val jobs = JobCount(spark.sparkContext)(SpatialJoins.knnJoin(probe, build, 3))
    assert(jobs <= 1, s"$jobs jobs")
  }
}
