package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Checkpoint
import graft.expr.GeoFunctions._
import graft.operators.{Derived, Similarity, Skew, SpatialJoins, TextOps}

/**
 * Two-cluster-size scaling harness (BASELINE.json north_rule): the
 * SAME deterministic heavy workload at two parallelism levels, so
 * throughput scaling efficiency = (T_N / T_4N) / 4 is measured on
 * compute-bound jobs rather than fixed per-query overhead. The
 * workload replicates the derived point cloud 50x with deterministic
 * jitter (~1.5M points at sf0.1, hot cluster preserved) and runs the
 * engine's headline spatial joins + dedup + ANN.
 *
 * Prints ONE JSON line like Bench. Driven by tools/scaling_bench.sh,
 * results recorded in BENCH/BASELINE.md.
 */
object ScalingBench {

  /** 50x replication with sub-cell deterministic jitter: keeps the
    * spatial distribution (and the hot cells) intact. */
  def scaledPoints(spark: SparkSession, dir: String,
                   factor: Int): DataFrame = {
    // repartition BEFORE the replicating crossJoin: the parquet source
    // is one row group, so the 24M-row synthesis would otherwise run
    // as a single 47 s task (measured) at any parallelism level
    val pts = Derived.customerPoints(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    pts.crossJoin(spark.range(factor).select(col("id").as("rep")))
      .select(
        (col("id") * factor + col("rep")).as("id"),
        (col("x") + col("rep") * 1e-6).as("x"),
        (col("y") + col("rep") * 1e-6).as("y"),
        col("val"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "400").toInt
    val bld = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle spill dir on tmpfs: a real N-node cluster has N local
      // SSDs (aggregate shuffle bandwidth scales with cluster size);
      // the single-JVM stand-in's one virtual disk does not, so leave
      // shuffle files in memory-backed storage
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-local"))
      // tmpfs shuffle files compete with the heap for physical RAM;
      // make the ContextCleaner delete them synchronously once the
      // reaper's System.gc() surfaces the dead shuffle dependencies
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    // under spark-submit the master comes from the launcher (--master);
    // only default it when launched directly (sbt runMain)
    if (!sys.props.contains("spark.master")) bld.master(s"local[$cpus]")
    sys.env.get("EVLOG").foreach { dir =>
      new java.io.File(dir).mkdirs()
      bld.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
    val spark = bld.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nPart = cpus.toInt * 3
    val pts = scaledPoints(spark, sfDir, factor)
      .repartition(nPart).transform(Checkpoint(_))
    val nPages = Checkpoint.rows(pts)
    val supBase = Derived.supplierPoints(spark, sfDir)
      .select(col("s_id"), col("sx"), col("sy"))
    val sup = Checkpoint(supBase)
    // kNN probe side scaled with the build side so per-round work
    // dominates round-trip latency
    val supFactor = math.max(8, factor / 50)
    val supRep = supBase
      .crossJoin(spark.range(supFactor).select(col("id").as("rep")))
      .select((col("s_id") * supFactor + col("rep")).as("s_id"),
        (col("sx") + col("rep") * 1e-5).as("sx"),
        (col("sy") + col("rep") * 1e-5).as("sy"))
      .repartition(nPart).transform(Checkpoint(_))
    // Realistic dedup corpus: the sf documents have a ~31-word
    // vocabulary, which degenerates LSH (all token sets collide into
    // a handful of buckets -> quadratic candidates). Web-scale text
    // has a large vocabulary, so the scaling corpus synthesises
    // 30-token docs over a 5000-word vocab (seeded per doc id) plus
    // one near-dup per doc (last 2 tokens dropped).
    import spark.implicits._
    val nDocs = 10000L * factor / 50
    val base = spark.range(nDocs).as[Long].map { i =>
      val rnd = new scala.util.Random(i)
      val toks = Array.fill(30)(s"w${rnd.nextInt(5000)}")
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = base.unionByName(
        base.select((col("doc_id") + 10000000L).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, 28), ' ')")
            .as("text")))
      .repartition(nPart).transform(Checkpoint(_))
    // ANN input (pre-materialised like the other inputs: the bench
    // times the operators, not input synthesis)
    val embFactor = math.max(8, factor / 25)
    val emb = Derived.table(spark, sfDir, "embeddings")
      .crossJoin(spark.range(embFactor).select(col("id").as("rep")))
      .select((col("vec_id") * embFactor + col("rep")).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(nPart).transform(Checkpoint(_))

    // Headline PIP input (VERDICT r3): a dense deterministic zone
    // layer sized so the ray-cast kernel, not fixed job overhead,
    // dominates — pip_join must run long enough (>= 30 s at the 4N
    // level) that pages/sec measures compute scaling. Each page does
    // `perCell` exact PIP tests of `verts` crossings. Built BEFORE
    // the reaper snapshot so per-pass reaps spare it.
    val zoneRes = 5
    val perCell = sys.env.getOrElse("SPARK_GRAFT_ZONES_PER_CELL", "2").toInt
    val zoneVerts = sys.env.getOrElse("SPARK_GRAFT_ZONE_VERTS", "4800").toInt
    val denseZones = Derived.scaledZones(spark, zoneRes, perCell, zoneVerts)
      .transform(Checkpoint(_))

    // best-of-3: the first pass pays JIT/codegen/page-cache warmup and
    // the host shows multi-second transient throughput dips; the
    // minimum is the stable capability number the cross-parallelism
    // comparison needs
    // SPARK_GRAFT_ONLY=a,b,c runs just those queries (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // protect the shared inputs; reap each query's leaked checkpoint
    // blocks after it completes (see graft.core.CacheReaper)
    val inputIds = graft.core.CacheReaper.snapshot(spark)
    def time(name: String)(f: => Long): (String, Double, Long) = {
      if (only.exists(!_.contains(name))) return (name, 0.0, 0L)
      System.err.println(s"[scaling] running $name ...")
      var bestSec = Double.MaxValue
      var rows = 0L
      for (pass <- 1 to passes) {
        val t0 = System.nanoTime()
        rows = f
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scaling] $name pass $pass: $sec%.1f s ($rows rows)")
        bestSec = math.min(bestSec, sec)
        graft.core.CacheReaper.reapExcept(spark, inputIds, gc = true)
      }
      (name, bestSec, rows)
    }

    // untimed warmup: session init, codegen cache, page cache
    SpatialJoins.pipJoin(pts.limit(100000), denseZones, res = zoneRes)
      .count()

    val results = Seq(
      time("pip_join") {
        SpatialJoins.pipJoin(pts, denseZones, res = zoneRes)
          .select("zone_id", "id").count()
      },
      time("tile_histogram_salted") {
        Skew.saltedCountSum(
          pts.select(
            cell_lat_bin(cell_to_parent(
              latlng_to_cell(col("y"), col("x"), lit(14)), lit(6)))
              .as("b1"),
            cell_lon_bin(cell_to_parent(
              latlng_to_cell(col("y"), col("x"), lit(14)), lit(6)))
              .as("b2"),
            round(col("val") * 100).cast("long").as("cents")),
          Seq(col("b1"), col("b2")), col("cents"), salts = 16).count()
      },
      time("distance_join") {
        SpatialJoins.distanceJoin(pts, sup, radius = 1.5,
          lx = "x", ly = "y", rx = "sx", ry = "sy").count()
      },
      time("knn_join") {
        SpatialJoins.knnJoin(
          supRep, pts.select(col("id").as("c_id"), col("x").as("cx"),
            col("y").as("cy")),
          kNeighbors = 5, probeId = "s_id", buildId = "c_id",
          px = "sx", py = "sy", bx = "cx", by = "cy").count()
      },
      time("minhash_lsh") {
        TextOps.minhashLshPairs(corpus, perms = 16, bands = 4,
          threshold = 0.95).count()
      },
      time("ann_topk") {
        Similarity.bruteForceTopKBlocked(emb,
          emb.where(col("vec_id") % 400 === 0), 10).count()
      }
    )

    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val pipSec = results.find(_._1 == "pip_join").map(_._2).get
    println(s"""{"metric":"scaling","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","pages":$nPages,"pip_pages_per_sec":${nPages / pipSec},"cpus":$cpus,"scale_factor":$factor,"pts_parts":${pts.rdd.getNumPartitions}}""")
    spark.stop()
  }
}
