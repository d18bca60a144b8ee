package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * `catalog`: queries of `SparkEntry.queries` over the fixed sf0.01
 * tables, each one as a caller runs it: build the DataFrame (eager jobs
 * included), plan it, execute it and count its rows.
 *
 * A pass runs one query of every operator family ([[Queries]]); the
 * whole catalog takes minutes per pass, which no run here can afford.
 * Each pass opens a new session: `core.Memo` keys on the session, so
 * no pass is served by an earlier pass's memo entries, and the
 * checkpoints a pass leaves are freed before the next one.
 *
 * Row counts of every pass and the oracle SQL go to `catalog.json` in
 * the output directory; `perfbench/catalog_checks.py` compares them
 * with DuckDB, and checks the two queries that have no oracle by
 * properties of their output, written once more after the passes.
 */
final class Catalog(dataDir: String) extends Workload {
  import Catalog._

  override val nominalPassS = 3.4

  private var inputIds = Set.empty[Int]
  private val counts = Queries.map(_._2 -> Seq.newBuilder[Long]).toMap

  override def setup(ctx: Ctx): Unit = {
    val missing = Queries.map(_._2).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(", ")}")
    inputIds = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
    // warm-up: one whole pass, untimed and unchecked
    runPass(ctx, ctx.spark.newSession(), new Spans(ctx.tallies, enabled = false),
      record = false)
    Main.reap(ctx.spark, inputIds)
  }

  private def runPass(ctx: Ctx, s: SparkSession, spans: Spans,
                      record: Boolean): PassOutcome = {
    var failed = 0
    var seconds = 0.0
    for ((_, name) <- Queries) {
      val t0 = System.nanoTime()
      try {
        val df = spans("SparkEntry.build")(SparkEntry.queries(name)(s, dataDir))
        spans("SparkEntry.plan")(df.queryExecution.executedPlan)
        val n = spans("SparkEntry.exec")(df.queryExecution.toRdd.count())
        val dt = (System.nanoTime() - t0) / 1e9
        seconds += dt
        Main.log(f"$name $dt%.3f s")
        if (record) counts(name) += n
      } catch { case e: Exception =>
        failed += 1
        Main.log(s"$name failed: $e")
        if (record) counts(name) += -1L
      }
      Main.reap(ctx.spark, inputIds)
    }
    PassOutcome(Queries.size, failed, seconds)
  }

  override def pass(ctx: Ctx, i: Int): PassOutcome =
    runPass(ctx, ctx.spark.newSession(), ctx.spans, record = true)

  override def afterPass(ctx: Ctx, i: Int): Unit = System.gc()

  /** Writes what the DuckDB checks need; they run after this process. */
  override def check(ctx: Ctx): Seq[String] = {
    val s = ctx.spark.newSession()
    for (name <- Unchecked)
      SparkEntry.queries(name)(s, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"${ctx.outDir}/catalog/$name")
    val entries = Queries.map { case (family, name) =>
      name -> Json.obj(Seq(
        "family" -> Json.str(family),
        "counts" -> counts(name).result().mkString("[", ",", "]"),
        "oracle" -> SparkEntry.oracleSql.get(name).fold("null")(Json.str)))
    }
    Files.writeString(Paths.get(ctx.outDir, "catalog.json"), Json.obj(Seq(
      "grid_sql" -> Json.str(graft.operators.Derived.partGridSql),
      "queries" -> Json.obj(entries))) + "\n")
    Nil
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spans
    Map(
      "SparkEntry.build_s" -> s.median("SparkEntry.build")(_.seconds),
      "SparkEntry.plan_s" -> s.median("SparkEntry.plan")(_.seconds),
      "SparkEntry.exec_s" -> s.median("SparkEntry.exec")(_.seconds),
      "SparkEntry.build_jobs" -> s.median("SparkEntry.build")(_.tally.jobs.toDouble),
      "SparkEntry.exec_jobs" -> s.median("SparkEntry.exec")(_.tally.jobs.toDouble))
  }
}

object Catalog {
  /** (operator family, query): one query per family of the engine. */
  val Queries: Seq[(String, String)] = Seq(
    "relational" -> "q1_agg",
    "cell index + pip join" -> "geo_entity_zones",
    "knn join" -> "geo_knn",
    "vector overlay" -> "geo_clip_area",
    "rasterize" -> "geo_rasterize_points",
    "focal" -> "geo_focal_mean",
    "flow accumulation" -> "geo_flow_accum",
    "depressions" -> "geo_breach",
    "priority flood" -> "geo_flood_order",
    "text" -> "text_quality",
    "web text" -> "web_extract_text",
    "similarity" -> "ann_topk_blocked",
    "temporal" -> "events_asof")

  /** Queries without oracle SQL, checked by properties of their output. */
  val Unchecked: Seq[String] = Seq("geo_breach", "geo_flood_order")
}
