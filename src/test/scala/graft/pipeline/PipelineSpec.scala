package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Derived, SpatialJoins, TestSpark, TextOps}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Synthetic page table per FIXTURES.md §1 (seeded, deterministic). */
  def pages(n: Int) = {
    val gaz = Derived.gazetteer.map(_._1)
    (0 until n).map { i =>
      val mentions = (0 until i % 6).map(k => gaz((i + k) % gaz.length))
      val text = s"page $i says " + mentions.mkString(" ")
      (s"https://host${i % 97}.example/p$i",
        1767225600L + i * 7L, // 2026-01-01 epoch + 7s steps
        ("<html><body>" + text + "</body></html>").getBytes("UTF-8"),
        text,
        Seq("en", "de", "fr", "es", "pt")(i % 5))
    }.toDF("url", "warc_ts_epoch", "html", "text", "lang")
  }

  test("snapshot write commits per-partition manifests and seals") {
    val root = Files.createTempDirectory("snap").toString
    val df = pages(200)
    val metas = Snapshots.writeSnapshot(df, root, "pages", 1L,
      bucketCol = "url", numParts = 8)
    assert(metas.size === 8)
    assert(metas.map(_.rows).sum === 200)
    assert(metas.forall(_.bytes > 0))
    assert(Snapshots.isSealed(root, "pages", 1L))
    val back = Snapshots.readSnapshot(spark, root, "pages", 1L)
    assert(back.count() === 200)
    // the footer schema is what a glob read of the parts infers
    assert(back.schema ===
      spark.read.parquet(s"$root/pages/1/part=*").schema)
  }

  test("readSnapshot refuses an unsealed snapshot") {
    val root = Files.createTempDirectory("snap").toString
    Snapshots.writeSnapshot(pages(40), root, "pages", 3L, "url", 4)
    Files.delete(Paths.get(root, "pages", "3", "_manifest", "_SUCCESS.json"))
    val e = intercept[IllegalArgumentException](
      Snapshots.readSnapshot(spark, root, "pages", 3L))
    assert(e.getMessage.contains("not sealed"))
  }

  test("resume after partial write recomputes ONLY missing partitions") {
    val root = Files.createTempDirectory("snap").toString
    val df = pages(200)
    // simulate a killed run: write everything, then delete the
    // manifest lines (and data) of partitions 5,6,7
    Snapshots.writeSnapshot(df, root, "pages", 2L, "url", 8)
    for (k <- 5 to 7) {
      Files.delete(Paths.get(root, "pages", "2", "_manifest",
        s"part-$k.json"))
    }
    Files.delete(Paths.get(root, "pages", "2", "_manifest",
      "_SUCCESS.json"))
    assert(Snapshots.completedParts(root, "pages", 2L) === (0 to 4).toSet)
    val metas2 = Snapshots.writeSnapshot(df, root, "pages", 2L, "url", 8)
    // EXACTLY the 3 missing partitions were recomputed
    assert(metas2.map(_.part).toSet === Set(5, 6, 7))
    assert(Snapshots.isSealed(root, "pages", 2L))
    assert(Snapshots.readSnapshot(spark, root, "pages", 2L).count() === 200)
  }

  /** Data files per part directory of a snapshot, with their
    * modification times. */
  private def partFiles(root: String, stage: String, id: Long) = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(root, stage, id.toString)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part="))
      .map { d =>
        d.getFileName.toString -> Files.list(d).iterator().asScala
          .filter(f => !f.getFileName.toString.matches("^[._].*"))
          .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f))
          .toMap
      }.toMap
  }

  test("one file per part directory when one bucket value holds most rows") {
    val root = Files.createTempDirectory("snap").toString
    // 210 of 300 rows share one url, so one part holds most rows
    val df = pages(300).withColumn("url",
      when(col("url").rlike("[0-57]$"), lit("https://hot.example/"))
        .otherwise(col("url")))
    assert(df.where(col("url") === "https://hot.example/").count() === 210)
    Snapshots.writeSnapshot(df, root, "pages", 4L, "url", 8)
    val files = partFiles(root, "pages", 4L)
    assert(files.nonEmpty)
    files.foreach { case (dir, fs) => assert(fs.size === 1, dir) }
    // resume: the parts whose manifest lines are gone (the hot part
    // among them) are rewritten, one file each; the others keep theirs
    val hotPart = Math.floorMod(spark.range(1)
      .select(hash(lit("https://hot.example/"))).head().getInt(0), 8)
    val redo = Set(hotPart, (hotPart + 3) % 8)
    redo.foreach(k => Files.delete(
      Paths.get(root, "pages", "4", "_manifest", s"part-$k.json")))
    Files.delete(Paths.get(root, "pages", "4", "_manifest", "_SUCCESS.json"))
    val metas = Snapshots.writeSnapshot(df, root, "pages", 4L, "url", 8)
    assert(metas.map(_.part).toSet === redo)
    val after = partFiles(root, "pages", 4L)
    after.foreach { case (dir, fs) => assert(fs.size === 1, dir) }
    files.filter { case (d, _) => !redo.exists(k => d == s"part=$k") }
      .foreach { case (d, fs) => assert(after(d) === fs, d) }
    assert(Snapshots.readSnapshot(spark, root, "pages", 4L).count() === 300)
  }

  test("per-row invariant: byte-identical text per url through the pipeline") {
    val root = Files.createTempDirectory("snap").toString
    val df = pages(300).withColumn("text_sha", sha2(col("text"), 256))
    val shaAtSource = df.select("url", "text_sha")
      .as[(String, String)].collect().toMap

    // stage 1: snapshot the page table
    Snapshots.writeSnapshot(df, root, "pages", 1L, "url", 4)
    val s1 = Snapshots.readSnapshot(spark, root, "pages", 1L)

    // stage 2: extract geo-entity points (explode + gazetteer join),
    // carrying url + text through
    val mentions = s1
      .select(col("url"), col("text"), col("text_sha"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .join(broadcast(Derived.gazetteerDF(spark)),
        col("tok") === col("place"))
      .select(col("url"), col("text"), col("text_sha"),
        col("place"), col("px").as("x"), col("py").as("y"))
    Snapshots.writeSnapshot(mentions, root, "mentions", 1L, "url", 4)
    val s2 = Snapshots.readSnapshot(spark, root, "mentions", 1L)

    // stage 3: PIP zone join
    val joined = SpatialJoins.pipJoin(s2, Derived.zones(spark), res = 7)
    Snapshots.writeSnapshot(joined, root, "zoned", 1L, "url", 4)
    val s3 = Snapshots.readSnapshot(spark, root, "zoned", 1L)

    // invariant: at EVERY materialized stage, sha256(text) per url
    // equals the source value (byte-identical extracted text)
    for (stage <- Seq(s1, s2, s3)) {
      val bad = stage
        .select(col("url"), col("text_sha"),
          sha2(col("text"), 256).as("sha_now"))
        .where(col("text_sha") =!= col("sha_now") ||
          col("text_sha") =!= lit(null).cast("string") &&
            col("sha_now").isNull)
        .count()
      assert(bad === 0)
      val drift = stage.select("url", "text_sha").distinct()
        .as[(String, String)].collect()
        .filterNot { case (u, s) => shaAtSource(u) == s }
      assert(drift.isEmpty)
    }
    // and the zone join found real rows
    assert(s3.count() > 0)
  }
}
