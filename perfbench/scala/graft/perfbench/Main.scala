package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one timed pass did: operations tried, how many threw, and the
  * seconds of the operations that did not throw. */
final case class PassOutcome(attempted: Int, failed: Int, seconds: Double)

/** Wall time, scheduler work and block-manager memory of one timed pass. */
final case class PassStats(wall: Double, tally: Tally, storageMb: Double)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val outDir: String,
                val tallies: Tallies, val spans: Spans, val cores: Int)

/**
 * One benchmark workload. `setup` builds the inputs and warms the JVM
 * (it is part of `setup_s`); `pass` is the timed unit and must not reuse
 * memo entries or checkpoints of an earlier pass; `afterPass` runs
 * untimed between passes; `check` compares the outputs with
 * computations made apart from the engine and returns the problems found.
 */
trait Workload {
  /** Length of one pass on the reference host: a run of `--seconds s`
    * makes round(s / nominalPassS) passes, at least 2. */
  def nominalPassS: Double
  def setup(ctx: Ctx): Unit
  def pass(ctx: Ctx, i: Int): PassOutcome
  def afterPass(ctx: Ctx, i: Int): Unit = ()
  def check(ctx: Ctx): Seq[String]
  /** This workload's per-layer metrics (traced runs only). */
  def layers(ctx: Ctx): Map[String, Double]
}

/**
 * Runs one workload in one process:
 *
 * {{{
 * Main --workload <pages_geo|catalog|dem_flow> --seed <n> --seconds <s>
 *      --trace <0|1> --out <dir> --t0-ms <epoch ms of process launch>
 * }}}
 *
 * Prints `PERFBENCH_RESULT {json}` as its last stdout line; the JSON
 * holds `correct`, `attempted`, `failed` and `metrics`.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val outDir = opts("out")
    val t0Ms = opts("t0-ms").toLong
    val workload: Workload = name match {
      case "pages_geo" => new PagesGeo
      case "catalog" => new Catalog(opts("catalog-data"))
      case "dem_flow" => new DemFlow
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores, s"$outDir/spark-local")
    val tallies = new Tallies(spark.sparkContext)
    val ctx = new Ctx(spark, seed, outDir, tallies, new Spans(tallies, traced),
      cores)

    log(s"session up; setting up $name")
    workload.setup(ctx)

    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    val passS, passJobs = Seq.newBuilder[Double]
    val whole = Seq.newBuilder[PassStats]
    var attempted, failed = 0
    // a fixed number of passes, not "until the time is up": pass times
    // still fall from pass to pass as the JIT warms, so a pass count that
    // followed host speed would sample another point of that curve
    val passes = math.max(2, math.round(seconds / workload.nominalPassS).toInt)
    val steal = new Steal
    for (i <- 0 until passes) {
      steal.share()
      val before = tallies.now()
      ctx.spans.startPass(i)
      val w0 = System.nanoTime()
      val out =
        try workload.pass(ctx, i)
        catch { case e: Exception =>
          log(s"pass $i failed: $e")
          PassOutcome(1, 1, 0.0)
        }
      val wall = (System.nanoTime() - w0) / 1e9
      val d = tallies.now() - before
      attempted += out.attempted
      failed += out.failed
      ctx.spans.endPass(out.failed == 0)
      if (out.failed < out.attempted) {
        passS += out.seconds
        passJobs += d.jobs.toDouble
        whole += PassStats(wall, d, tallies.storageMb())
      }
      log(f"pass $i: ${out.seconds}%.3f s, ${d.jobs} jobs, " +
        f"${steal.share() * 100}%.1f %% of host CPU stolen")
      workload.afterPass(ctx, i)
    }

    val problems = workload.check(ctx)
    problems.foreach(p => log(s"check failed: $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", Stats.median(passS.result()), "s"),
        ("spark_jobs", Stats.median(passJobs.result()), "jobs"))
      else {
        val w = whole.result()
        def med(f: PassStats => Double) = Stats.median(w.map(f))
        val layerMetrics = workload.layers(ctx)
        Units.layers.map { case (k, unit) =>
          (k, layerMetrics.getOrElse(k, 0.0), unit) } ++ Seq(
          ("spark.stages", med(_.tally.stages.toDouble), "count"),
          ("spark.tasks", med(_.tally.tasks.toDouble), "count"),
          ("spark.task_s", med(_.tally.taskMs / 1e3), "s"),
          ("spark.shuffle_write_mb", med(_.tally.shuffleWriteBytes / 1e6), "MB"),
          ("spark.utilisation", med(p => p.tally.taskMs / 1e3 / (cores * p.wall)),
            "ratio"),
          ("spark.storage_mb", med(_.storageMb), "MB"))
      }
    if (traced) writeTrace(s"$outDir/trace-$name.json", ctx.spans, setupS,
      Stats.median(passS.result()))

    val json = Json.obj(Seq(
      "correct" -> Json.bool(problems.isEmpty),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    spark.stop()
    println("PERFBENCH_RESULT " + json)
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val jvmStart = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s] $msg")

  /** Unpersist every cached or checkpointed RDD whose id is not kept. */
  def reap(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true) }

  /** Every span of the run, for reading by hand. */
  private def writeTrace(path: String, spans: Spans, setupS: Double,
                         passS: Double): Unit = {
    val list = spans.spans.map(s => Json.obj(Seq(
      "name" -> Json.str(s.name), "parent" -> Json.str(s"pass ${s.pass}"),
      "start_s" -> Json.num(s.start), "end_s" -> Json.num(s.end),
      "jobs" -> s.tally.jobs.toString, "stages" -> s.tally.stages.toString,
      "tasks" -> s.tally.tasks.toString,
      "task_s" -> Json.num(s.tally.taskMs / 1e3),
      "shuffle_write_mb" -> Json.num(s.tally.shuffleWriteBytes / 1e6))))
    Files.writeString(Paths.get(path), Json.obj(Seq(
      "setup_s" -> Json.num(setupS), "pass_s" -> Json.num(passS),
      "spans" -> list.mkString("[\n", ",\n", "]"))) + "\n")
  }
}

/** The per-layer metric names and units, in BENCHMARK.json order (the
  * scheduler-wide `spark.*` metrics are added by [[Main]]). A workload
  * reports the layers it calls; the others read 0. */
object Units {
  val layers: Seq[(String, String)] = Seq(
    "expr.html_extract_text.rows_per_s" -> "rows/s",
    "expr.latlng_to_cell.rows_per_s" -> "rows/s",
    "expr.pip_contains.tests_per_s" -> "tests/s",
    "operators.pipJoin.s" -> "s",
    "operators.pipJoin.candidates" -> "count",
    "operators.pipJoin.hits" -> "count",
    "operators.knnJoin.s" -> "s",
    "operators.knnJoin.jobs" -> "jobs",
    "pipeline.writeSnapshot.s" -> "s",
    "pipeline.writeSnapshot.bytes_per_row" -> "B/row",
    "SparkEntry.build_s" -> "s",
    "SparkEntry.plan_s" -> "s",
    "SparkEntry.exec_s" -> "s",
    "SparkEntry.build_jobs" -> "jobs",
    "SparkEntry.exec_jobs" -> "jobs",
    "operators.d8Pointer.s" -> "s",
    "operators.flowAccumD8.s" -> "s",
    "operators.flowAccumD8.jobs" -> "jobs",
    "operators.flowAccumD8.shuffle_mb" -> "MB")
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
