package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ParquetFooter

/**
 * Iceberg-style snapshot/manifest layer over partitioned Parquet
 * (SURVEY.md §7.1 module 4/9): no Iceberg jar ships in this
 * environment, so snapshot isolation + per-partition lineage are
 * provided by a small manifest protocol:
 *
 *  - a stage writes each partition bucket independently to
 *    `<root>/<stage>/<snapshotId>/part=<k>/` and then commits a
 *    per-partition manifest line `part-<k>.json` (write-temp +
 *    ATOMIC_MOVE rename, replay-idempotent) carrying rowCount/bytes;
 *  - `resume` skips buckets whose manifest line exists — a killed job
 *    re-runs only incomplete buckets (0 recomputed completed
 *    partitions, the north-rule resume criterion);
 *  - `_SUCCESS.json` seals the snapshot with aggregate metrics.
 *
 * The reference analogue is the temp-raster chaining + cancel/resume
 * lifecycle of tools (WhiteboxRaster.isTemporaryFile,
 * WhiteboxGui.pluginComplete — SURVEY.md §2.11): every stage boundary
 * in the reference is a fully materialized file; here it is a sealed
 * snapshot directory with lineage.
 */
object Snapshots {

  case class PartMeta(part: Int, rows: Long, bytes: Long)

  private def manifestDir(root: String, stage: String,
                          snapshotId: Long): Path =
    Paths.get(root, stage, snapshotId.toString, "_manifest")

  private def dataDir(root: String, stage: String, snapshotId: Long,
                      part: Int): String =
    s"$root/$stage/$snapshotId/part=$part"

  def completedParts(root: String, stage: String,
                     snapshotId: Long): Set[Int] = {
    val dir = manifestDir(root, stage, snapshotId)
    if (!Files.exists(dir)) Set.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("part-") && s.endsWith(".json") =>
        s.stripPrefix("part-").stripSuffix(".json").toInt
      }.toSet
  }

  /** Atomically commit one partition's manifest line. Idempotent. */
  private def commitPart(root: String, stage: String, snapshotId: Long,
                         meta: PartMeta): Unit = {
    val dir = manifestDir(root, stage, snapshotId)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".part-${meta.part}.json.tmp")
    val fin = dir.resolve(s"part-${meta.part}.json")
    val json =
      s"""{"part": ${meta.part}, "rows": ${meta.rows}, "bytes": ${meta.bytes}}"""
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Parquet files a write left in a part directory (not its
    * `_SUCCESS` marker or hidden checksum files). */
  private def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(f)
    }.toSeq.sortBy(_.getFileName.toString)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /**
   * Write `df` as one snapshot of `stage`, bucketed into `numParts`
   * by `hash(bucketExpr)`, committing each bucket's manifest line
   * after the data lands. Buckets already committed (from a previous
   * killed run) are filtered out BEFORE the write — their data is not
   * rewritten and not recomputed. Returns per-partition lineage.
   *
   * Scale shape: ONE Spark job writes every remaining bucket via
   * `partitionBy` with dynamic partition overwrite (a single scan of
   * the input, one writer task set), then manifests are committed
   * from the landed files — parquet-footer row counts read on the
   * driver, no data re-read and no job. The previous per-bucket loop
   * cost numParts full input scans; at 100 TB one snapshot write
   * would have cost N x input.
   */
  def writeSnapshot(df: DataFrame, root: String, stage: String,
                    snapshotId: Long, bucketCol: String,
                    numParts: Int): Seq[PartMeta] = {
    val spark = df.sparkSession
    val done = completedParts(root, stage, snapshotId)
    val todo = (0 until numParts).filterNot(done.contains)
    val base = s"$root/$stage/$snapshotId"
    if (todo.nonEmpty) {
      df.withColumn("part",
          pmod(hash(col(bucketCol)), lit(numParts)))
        .where(col("part").isin(todo: _*))
        // write-side clustering: hash partitioning puts a row in task
        // pmod(murmur3(bucket, 42), numParts), which is its `part`, so
        // task k writes exactly the one file of part k (committed
        // parts' tasks get no rows and write nothing). A repartition
        // with a partition count is not coalesced by AQE, and unlike a
        // range repartition it samples nothing. Sorting by the bucket
        // key inside the task gives parquet min/max column stats that
        // let a cell-range scan prune whole row groups
        .repartition(numParts, col(bucketCol))
        .sortWithinPartitions(col("part"), col(bucketCol))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(base)
    }
    // manifest row counts from the landed files' parquet footers, read
    // on the driver: no job (a part with no rows has no directory)
    val metas = todo.map { k =>
      val dir = dataDir(root, stage, snapshotId, k)
      val rows = dataFiles(dir)
        .map(f => ParquetFooter.meta(spark, f.toString).rows).sum
      val meta = PartMeta(k, rows, dirBytes(Paths.get(dir)))
      commitPart(root, stage, snapshotId, meta)
      meta
    }
    // seal
    val all = completedParts(root, stage, snapshotId)
    if (all.size == numParts) {
      val dir = manifestDir(root, stage, snapshotId)
      val tmp = dir.resolve("._SUCCESS.json.tmp")
      Files.write(tmp,
        s"""{"snapshot": $snapshotId, "parts": $numParts}""".getBytes(UTF_8))
      Files.move(tmp, dir.resolve("_SUCCESS.json"),
        StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    metas
  }

  def isSealed(root: String, stage: String, snapshotId: Long): Boolean =
    Files.exists(manifestDir(root, stage, snapshotId)
      .resolve("_SUCCESS.json"))

  /** Read a sealed snapshot back: the part directories its manifest
    * lists, with the schema from a data file's footer. Building the
    * frame starts no job and lists no directory the manifest does not
    * name. Each directory is read as its own root, so `part` is not a
    * column. */
  def readSnapshot(spark: SparkSession, root: String, stage: String,
                   snapshotId: Long): DataFrame = {
    require(isSealed(root, stage, snapshotId),
      s"snapshot $snapshotId of $stage under $root is not sealed")
    val dirs = completedParts(root, stage, snapshotId).toSeq.sorted
      .map(dataDir(root, stage, snapshotId, _))
      .filter(d => Files.exists(Paths.get(d)))
    val file = dirs.iterator.flatMap(dataFiles).nextOption().getOrElse(
      throw new IllegalStateException(
        s"snapshot $snapshotId of $stage under $root has no data file"))
    spark.read.schema(ParquetFooter.schema(spark, file.toString))
      .parquet(dirs: _*)
  }
}
