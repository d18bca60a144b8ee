package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.GeoFunctions.latlng_to_cell
import graft.expr.WebFunctions.html_extract_text
import graft.operators.{Derived, SpatialJoins}
import graft.pipeline.Snapshots

/**
 * `pages_geo`: the web-page geo pipeline over a seeded page table
 * `(page_id, url, warc_ts, html, text, lang)`. One pass runs
 *
 *  1. `html_extract_text` on every page;
 *  2. gazetteer geo-entities (token = place name, a hot cluster of
 *     places kept for skew);
 *  3. `latlng_to_cell` on every mention;
 *  4. `SpatialJoins.pipJoin` against a dense `Derived.scaledZones` layer;
 *  5. `SpatialJoins.knnJoin`, nearest feature of each matched mention;
 *  6. `Snapshots.writeSnapshot` of the joined rows, then a read-back.
 *
 * Each step ends in a materialization, so a traced span holds exactly
 * one layer; the untraced pass runs the same steps.
 */
final class PagesGeo extends Workload {
  import PagesGeo._

  override val nominalPassS = 3.5

  private var pages, zones, gazetteer, features: DataFrame = _
  private var inputIds = Set.empty[Int]
  private var previousIds = Set.empty[Int]
  private var last: Outputs = _

  private def snapRoot(ctx: Ctx) = s"${ctx.outDir}/snapshots"

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    pages = Pages.frame(spark, ctx.seed, NPages, ctx.cores * 4)
      .localCheckpoint(true)
    Main.log("pages ready")
    zones = Derived.scaledZones(spark, ZoneRes, ZonesPerCell, ZoneVerts)
      .localCheckpoint(true)
    gazetteer = spark.createDataFrame(Pages.gazetteer(ctx.seed).toSeq)
      .toDF("place_id", "name", "x", "y")
    features = spark.createDataFrame(Pages.features(ctx.seed).toSeq)
      .toDF("feature_id", "rx", "ry").localCheckpoint(true)
    inputIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Main.log("inputs ready")
    // warm-up: one whole pass, untimed
    runPass(ctx, WarmUpSnapshot, new Spans(ctx.tallies, enabled = false))
    Main.reap(spark, inputIds)
    deleteTree(Paths.get(snapRoot(ctx)))
  }

  private def runPass(ctx: Ctx, snapshotId: Long, span: Spans): Outputs = {
    val text = span("expr.html_extract_text") {
      pages.select(col("page_id"), html_extract_text(col("html")).as("text"))
        .localCheckpoint(true)
    }
    val mentions = span("geo_entities") {
      text.select(col("page_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .join(broadcast(gazetteer), col("tok") === col("name"))
        .select((col("page_id") * 1024 + col("pos")).as("mention_id"),
          col("page_id"), col("place_id"), col("x"), col("y"))
        .localCheckpoint(true)
    }
    val cells = span("expr.latlng_to_cell") {
      mentions.withColumn("cell", latlng_to_cell(col("y"), col("x"), lit(14)))
        .localCheckpoint(true)
    }
    val pip = span("operators.pipJoin") {
      SpatialJoins.pipJoin(cells, zones, res = ZoneRes).localCheckpoint(true)
    }
    val knn = span("operators.knnJoin") {
      SpatialJoins.knnJoin(
        pip.select(col("mention_id").as("probe_id"), col("x"), col("y"))
          .distinct(),
        features.withColumnRenamed("feature_id", "build_id"),
        kNeighbors = 1).localCheckpoint(true)
    }
    val joined = pip.join(
      knn.select(col("probe_id").as("mention_id"),
        col("build_id").as("feature_id"), col("dist2")), Seq("mention_id"))
    val readBack = span("pipeline.writeSnapshot") {
      Snapshots.writeSnapshot(joined, snapRoot(ctx), "geo", snapshotId,
        "cell", SnapshotParts)
      Snapshots.readSnapshot(ctx.spark, snapRoot(ctx), "geo", snapshotId)
        .count()
    }
    Outputs(text, cells, pip, knn, readBack, snapshotId)
  }

  override def pass(ctx: Ctx, i: Int): PassOutcome = {
    val t0 = System.nanoTime()
    val out = runPass(ctx, i.toLong, ctx.spans)
    val dt = (System.nanoTime() - t0) / 1e9
    last = out
    PassOutcome(1, 0, dt)
  }

  override def afterPass(ctx: Ctx, i: Int): Unit = {
    // free the pass before last; this pass's frames stay for the checks
    val sc = ctx.spark.sparkContext
    previousIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    previousIds = sc.getPersistentRDDs.keySet.toSet -- inputIds
    deleteTree(Paths.get(snapRoot(ctx), "geo", (i - 1).toString))
  }

  override def check(ctx: Ctx): Seq[String] = {
    if (last == null) return Seq("no pass completed")
    val seed = ctx.seed
    // 1. extracted text, every page
    val expected = (0L until NPages).map(id => id -> Pages.text(seed, id)).toMap
    val got = last.text.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val textProblems = Checks.textIdentical(expected, got)

    // 2. zone membership of a seeded mention sample, JTS against all zones
    val sample = sampled(last.cells.select("mention_id", "x", "y"), seed, 300)
    val zoneList = zones.select("zone_id", "xs", "ys").collect().map(r =>
      Checks.Zone(r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Double](2).toArray)).toSeq
    val ids = sample.map(_._1)
    val gotZones = last.pip.where(col("mention_id").isin(ids: _*))
      .select("mention_id", "zone_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val zoneProblems = Checks.zoneMembership(sample, zoneList, gotZones)

    // 3. nearest feature of a seeded probe sample, brute force
    val probes = sampled(last.pip.select("mention_id", "x", "y").distinct(),
      seed + 1, 300)
    val featureList = features.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val gotNearest = last.knn.where(col("probe_id").isin(probes.map(_._1): _*))
      .collect().map(r => r.getAs[Long]("probe_id") ->
        (r.getAs[Long]("build_id"), r.getAs[Double]("dist2"))).toMap
    val knnProblems = Checks.nearest(probes, featureList, gotNearest)

    // 4. snapshot manifests against the joined rows and the read-back
    val joinedRows = last.pip.join(last.knn.select(col("probe_id")
      .as("mention_id")), Seq("mention_id")).count()
    val manifest = Paths.get(snapRoot(ctx), "geo", last.snapshotId.toString,
      "_manifest")
    val manifestRows = Files.list(manifest).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("part-\\d+\\.json"))
      .map(p => "\"rows\":\\s*(\\d+)".r.findFirstMatchIn(Files.readString(p))
        .map(_.group(1).toLong).getOrElse(-1L))
    val snapProblems =
      (if (manifestRows.size != SnapshotParts)
        Seq(s"${manifestRows.size} manifest lines for $SnapshotParts parts")
      else Nil) ++ Checks.snapshotRows(manifestRows, joinedRows, last.readBackRows)

    textProblems ++ zoneProblems ++ knnProblems ++ snapProblems
  }

  /** `n` rows (id, x, y) picked by a seeded hash of the id. */
  private def sampled(df: DataFrame, seed: Long, n: Int): Seq[(Long, Double, Double)] =
    df.orderBy(xxhash64(col(df.columns.head), lit(seed))).limit(n).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq

  override def layers(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spans
    if (last == null) return Map.empty
    val nPages = NPages.toDouble
    val nMentions = last.cells.count().toDouble
    // cell-matched (mention, zone) pairs: every res-ZoneRes cell holds
    // ZonesPerCell zones, so each mention is tested against that many
    val candidates = nMentions * ZonesPerCell
    val hits = last.pip.count().toDouble
    val pipS = s.median("operators.pipJoin")(_.seconds)
    val snapDir = Paths.get(snapRoot(ctx), "geo", last.snapshotId.toString)
    val snapBytes = Files.walk(snapDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(Files.size).sum
    Map(
      "expr.html_extract_text.rows_per_s" ->
        nPages / s.median("expr.html_extract_text")(_.seconds),
      "expr.latlng_to_cell.rows_per_s" ->
        nMentions / s.median("expr.latlng_to_cell")(_.seconds),
      "expr.pip_contains.tests_per_s" -> candidates / pipS,
      "operators.pipJoin.s" -> pipS,
      "operators.pipJoin.candidates" -> candidates,
      "operators.pipJoin.hits" -> hits,
      "operators.knnJoin.s" -> s.median("operators.knnJoin")(_.seconds),
      "operators.knnJoin.jobs" ->
        s.median("operators.knnJoin")(_.tally.jobs.toDouble),
      "pipeline.writeSnapshot.s" -> s.median("pipeline.writeSnapshot")(_.seconds),
      "pipeline.writeSnapshot.bytes_per_row" -> snapBytes / last.readBackRows.toDouble)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object PagesGeo {
  /** The last pass's outputs, kept for the checks. */
  private final case class Outputs(text: DataFrame, cells: DataFrame,
      pip: DataFrame, knn: DataFrame, readBackRows: Long, snapshotId: Long)

  val NPages = 15000L
  val ZoneRes = 4
  val ZonesPerCell = 2
  val ZoneVerts = 2400
  val SnapshotParts = 8
  val WarmUpSnapshot = 1000000L
}

/**
 * Seeded page synthesis, independent of the engine. Every page is a
 * pure function of (seed, page_id), so the check regenerates the text
 * the extraction must give back.
 *
 * The HTML around the text exercises what extraction must drop or
 * decode: a head with title/meta/style/script, body scripts holding
 * tags, comments holding tags and '&', quoted '>' in attributes,
 * inline and void tags at word boundaries, named/decimal/hex entities
 * and raw UTF-8.
 */
object Pages {
  val NPlaces = 5000
  /** Places 0 until HotPlaces sit in one small region and take
    * HotShare of all mentions: the skewed cluster. */
  val HotPlaces = 50
  val HotShare = 0.3
  val NFeatures = 20000

  private val Words: Array[String] = (
    "the of and to in is was for on that with as by at from this be are " +
    "or an it not which have has but were had their its one all new more " +
    "also been other after first two about city river north south east " +
    "west station market road bridge valley hill park school museum " +
    "church harbour island lake county district region centre village " +
    "population history economy culture climate transport sport music " +
    "festival university hospital library airport railway century built " +
    "located near between during since known called main local national " +
    "public service area land water forest coast mountain border trade " +
    "r&d a<b x>y q&a 5>3 zürich café naïve señor 東京 köln über o'neil " +
    "\"quoted\" it's 50% $20 #tag e-mail well-known 3.14 (note) [1] a/b"
  ).split(' ')

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  /** Lower-case letters only, prefixed so no filler word collides. */
  def placeName(id: Int): String = {
    val sb = new StringBuilder("zq")
    var k = id
    do { sb.append(('a' + k % 26).toChar); k /= 26 } while (k > 0)
    sb.toString
  }

  def gazetteer(seed: Long): Array[(Int, String, Double, Double)] = {
    val rnd = new scala.util.Random(mix(seed, 1))
    Array.tabulate(NPlaces) { id =>
      val (x, y) =
        if (id < HotPlaces) (12.34 + rnd.nextDouble() * 0.4, 45.67 + rnd.nextDouble() * 0.4)
        else (-180 + 360 * rnd.nextDouble(), -85 + 170 * rnd.nextDouble())
      (id, placeName(id), x, y)
    }
  }

  def features(seed: Long): Array[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(mix(seed, 2))
    Array.tabulate(NFeatures) { id =>
      val (x, y) =
        if (id % 10 == 0) (12.2 + rnd.nextDouble() * 0.7, 45.5 + rnd.nextDouble() * 0.7)
        else (-180 + 360 * rnd.nextDouble(), -85 + 170 * rnd.nextDouble())
      (id.toLong, x, y)
    }
  }

  /** Whitespace-normal page text: filler words with ~7 % place mentions. */
  def text(seed: Long, pageId: Long): String = {
    val rnd = new scala.util.Random(mix(seed, pageId + 1000))
    val n = 60 + rnd.nextInt(90)
    Array.fill(n) {
      if (rnd.nextDouble() < 0.07)
        placeName(if (rnd.nextDouble() < HotShare) rnd.nextInt(HotPlaces)
                  else rnd.nextInt(NPlaces))
      else Words(rnd.nextInt(Words.length))
    }.mkString(" ")
  }

  private def escape(sb: StringBuilder, word: String,
                     rnd: scala.util.Random): Unit = word.foreach {
    case '&' => sb ++= "&amp;"
    case '<' => sb ++= "&lt;"
    case '>' => sb ++= "&gt;"
    case '"' if rnd.nextBoolean() => sb ++= "&quot;"
    case '\'' if rnd.nextBoolean() => sb ++= "&apos;"
    case c if c > 127 => rnd.nextInt(3) match {
      case 0 => sb += c
      case 1 => sb ++= "&#" ++= c.toInt.toString += ';'
      case _ => sb ++= "&#x" ++= Integer.toHexString(c.toInt) += ';'
    }
    case c => sb += c
  }

  def html(seed: Long, pageId: Long, text: String): String = {
    val rnd = new scala.util.Random(mix(seed, pageId + 2000))
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html>\n<html lang=\"en\">\n<HEAD>\n<title>Page "
    sb ++= pageId.toString
    sb ++= " &amp; more</title>\n<meta name=\"k\" content=\"a>b\">\n"
    sb ++= "<style>p > b { color: red }</style>\n"
    sb ++= "<script>if (a < b && c > d) { x = '<p>'; }</script>\n</HEAD>\n"
    sb ++= "<body class=\"main\">\n<div id=\"content\">\n"
    val words = text.split(' ')
    var i = 0
    while (i < words.length) {
      val end = math.min(words.length, i + 6 + rnd.nextInt(9))
      val heading = rnd.nextInt(5) == 0
      sb ++= (if (heading) "<h2>" else "<p class=\"x\" data-q='1>0'>")
      for (j <- i until end) {
        if (j > i) sb ++= (if (rnd.nextInt(12) == 0) "\n  " else " ")
        rnd.nextInt(20) match {
          case 0 => sb ++= "<b>"; escape(sb, words(j), rnd); sb ++= "</b>"
          case 1 => sb ++= "<a href=\"/w?a=1&amp;b=2\" title=\"go > on\">"
            escape(sb, words(j), rnd); sb ++= "</a>"
          case 2 => escape(sb, words(j), rnd); sb ++= "<br/>"
          case 3 => sb ++= "<img src=\"i.png\" alt='x > y'>"; escape(sb, words(j), rnd)
          case _ => escape(sb, words(j), rnd)
        }
      }
      sb ++= (if (heading) "</h2>\n" else "</p>\n")
      if (rnd.nextInt(6) == 0) sb ++= "<!-- block <b>note</b> & more -->\n"
      if (rnd.nextInt(9) == 0) sb ++= "<script type=\"text/javascript\">var s = \"</p><b>\";</script>\n"
      i = end
    }
    sb ++= "</div>\n</body>\n</html>\n"
    sb.toString
  }

  def frame(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val langs = Array("en", "de", "fr", "es", "ja")
    spark.range(0, n, 1, parts).map { id =>
      val t = text(seed, id)
      (id, s"https://www.site${id % 251}.example/$id/index.html",
        new Timestamp(1700000000000L + id * 37000L),
        html(seed, id, t).getBytes("UTF-8"), t, langs((id % 5).toInt))
    }.toDF("page_id", "url", "warc_ts", "html", "text", "lang")
  }
}
