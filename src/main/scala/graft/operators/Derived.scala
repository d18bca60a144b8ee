package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic derivations of geospatial inputs from the generic
 * testdata tables (TESTDATA.md). All formulas use integer arithmetic
 * followed by a single double division so they are bit-exactly
 * reproducible in the DuckDB oracle SQL (same IEEE-754 ops in the
 * same order). The customer point cloud carries a deliberate hot
 * cluster (3/11 of points collapse into a ~0.01-degree blob) to
 * exercise the skew handling the target demands.
 */
object Derived {

  /** Testdata table `name` (one parquet file under `dir`), with its
    * schema taken from the file footer on the driver: building the
    * frame starts no Spark job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.core.ParquetFooter.read(spark, s"$dir/$name.parquet")

  /** Customer point cloud: (id, x, y, val), hot cluster at
    * (12.34, 45.67). */
  def customerPoints(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val hot = c("c_custkey") % 11 < 3
    c.select(
      c("c_custkey").as("id"),
      when(hot, lit(12.34) + (c("c_custkey") % 50) / lit(5000.0))
        .otherwise((c("c_custkey") * 9973 % 36000) / lit(100.0) - 180.0)
        .as("x"),
      when(hot, lit(45.67) + (c("c_custkey") % 40) / lit(4000.0))
        .otherwise((c("c_custkey") * 7919 % 17000) / lit(100.0) - 85.0)
        .as("y"),
      c("c_acctbal").as("val"))
  }

  /** Matching SQL CTE body for [[customerPoints]] (DuckDB). */
  val customerPointsSql: String =
    """SELECT c_custkey AS id,
      |  CASE WHEN c_custkey % 11 < 3
      |    THEN CAST(12.34 AS DOUBLE) + (c_custkey % 50) / CAST(5000.0 AS DOUBLE)
      |    ELSE ((c_custkey * 9973) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)
      |  END AS x,
      |  CASE WHEN c_custkey % 11 < 3
      |    THEN CAST(45.67 AS DOUBLE) + (c_custkey % 40) / CAST(4000.0 AS DOUBLE)
      |    ELSE ((c_custkey * 7919) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)
      |  END AS y,
      |  c_acctbal AS val
      |FROM customer""".stripMargin

  /** Supplier point cloud: (s_id, sx, sy, sval). */
  def supplierPoints(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "supplier")
    s.select(
      s("s_suppkey").as("s_id"),
      ((s("s_suppkey") * 6151 % 36000) / lit(100.0) - 180.0).as("sx"),
      ((s("s_suppkey") * 4517 % 17000) / lit(100.0) - 85.0).as("sy"),
      s("s_acctbal").as("sval"))
  }

  val supplierPointsSql: String =
    """SELECT s_suppkey AS s_id,
      |  ((s_suppkey * 6151) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS sx,
      |  ((s_suppkey * 4517) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS sy,
      |  s_acctbal AS sval
      |FROM supplier""".stripMargin

  /**
   * Zone polygons in the reference's ring/part model (SURVEY.md §1.2):
   * two plain rectangles, a rectangle with a hole (even-odd parity,
   * VectorPolygonsToRaster.java:449-530 semantics), a triangle, and a
   * concave L — all with bounds at .005 offsets so no derived point
   * (coordinates are multiples of 0.01 / 0.0002) ever sits exactly on
   * a boundary.
   */
  def zones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val zs = Seq(
      // zone_id, xs, ys, parts
      (1, Array(12.005, 13.005, 13.005, 12.005),
          Array(45.005, 45.005, 46.505, 46.505), Array(0)),
      (2, Array(-120.005, -60.005, -60.005, -120.005),
          Array(-30.005, -30.005, 30.005, 30.005), Array(0)),
      (3, Array(40.005, 80.005, 80.005, 40.005,
                50.005, 70.005, 70.005, 50.005),
          Array(-60.005, -60.005, -20.005, -20.005,
                -50.005, -50.005, -30.005, -30.005), Array(0, 4)),
      (4, Array(0.005, 20.005, 10.005),
          Array(0.005, 1.005, 15.005), Array(0)),
      (5, Array(100.005, 140.005, 140.005, 120.005, 120.005, 100.005),
          Array(0.005, 0.005, 20.005, 20.005, 40.005, 40.005), Array(0))
    )
    zs.toDF("zone_id", "xs", "ys", "parts")
      .withColumn("min_x", array_min($"xs"))
      .withColumn("max_x", array_max($"xs"))
      .withColumn("min_y", array_min($"ys"))
      .withColumn("max_y", array_max($"ys"))
  }

  /** Outer-ring vertices of the hole-free zones as a VALUES relation
    * (zone_id, vid, vx, vy) — FindPolygonMidline's triangulation
    * substrate (same literals as [[zones]]). */
  val zoneOuterVerticesSql: String = {
    val zs = Seq(
      1 -> (Seq(12.005, 13.005, 13.005, 12.005),
            Seq(45.005, 45.005, 46.505, 46.505)),
      2 -> (Seq(-120.005, -60.005, -60.005, -120.005),
            Seq(-30.005, -30.005, 30.005, 30.005)),
      4 -> (Seq(0.005, 20.005, 10.005), Seq(0.005, 1.005, 15.005)),
      5 -> (Seq(100.005, 140.005, 140.005, 120.005, 120.005, 100.005),
            Seq(0.005, 0.005, 20.005, 20.005, 40.005, 40.005)))
    zs.flatMap { case (zid, (xs, ys)) =>
      xs.indices.map(i =>
        s"($zid, $i, CAST(${xs(i)} AS DOUBLE), CAST(${ys(i)} AS DOUBLE))")
    }.mkString("(VALUES ", ", ", ") AS zvv(zone_id, vid, vx, vy)")
  }

  /** Dumbbell ring for RemovePolygonNecks: two 10x10 blobs joined by
    * a 0.8-wide neck (open vertex list, no closing duplicate; last
    * vertex sits within the neighbour radius of vertex 0 so the
    * ring-seam index normalisation actually fires). */
  val dumbbellRing: Seq[(Double, Double)] = Seq(
    (0.0, 0.0), (2.5, 0.0), (5.0, 0.0), (7.5, 0.0), (10.0, 0.0),
    (10.0, 2.3), (10.0, 4.6),
    (11.9, 4.6), (13.8, 4.6), (16.0, 4.6),
    (16.0, 2.3), (16.0, 0.0),
    (18.5, 0.0), (21.0, 0.0), (23.5, 0.0), (26.0, 0.0),
    (26.0, 2.5), (26.0, 5.1), (26.0, 7.6), (26.0, 10.0),
    (23.5, 10.0), (21.0, 10.0), (18.5, 10.0), (16.0, 10.0),
    (16.0, 7.7), (16.0, 5.4),
    (14.1, 5.4), (12.2, 5.4), (10.0, 5.4),
    (10.0, 7.7), (10.0, 10.0),
    (7.5, 10.0), (5.0, 10.0), (2.5, 10.0), (0.0, 10.0),
    (0.0, 7.5), (0.0, 5.1), (0.0, 1.9))

  def dumbbellVertices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    dumbbellRing.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("vid", "vx", "vy")
  }

  val dumbbellVerticesSql: String =
    dumbbellRing.zipWithIndex.map { case ((x, y), i) =>
      s"($i, CAST($x AS DOUBLE), CAST($y AS DOUBLE))"
    }.mkString("(VALUES ", ", ", ") AS dv(vid, vx, vy)")

  /** Per-zone membership predicates for the oracle (pt relation must
    * expose x, y). Interior-only by construction (strict bounds). */
  val zonePredicatesSql: Seq[(Int, String)] = Seq(
    1 -> "x > 12.005 AND x < 13.005 AND y > 45.005 AND y < 46.505",
    2 -> "x > -120.005 AND x < -60.005 AND y > -30.005 AND y < 30.005",
    3 -> ("x > 40.005 AND x < 80.005 AND y > -60.005 AND y < -20.005 " +
      "AND NOT (x > 50.005 AND x < 70.005 AND y > -50.005 AND y < -30.005)"),
    4 -> ("(CAST(20.005 AS DOUBLE)-0.005)*(y-0.005)-(CAST(1.005 AS DOUBLE)-0.005)*(x-0.005) > 0 " +
      "AND (CAST(10.005 AS DOUBLE)-20.005)*(y-1.005)-(CAST(15.005 AS DOUBLE)-1.005)*(x-20.005) > 0 " +
      "AND (CAST(0.005 AS DOUBLE)-10.005)*(y-15.005)-(CAST(0.005 AS DOUBLE)-15.005)*(x-10.005) > 0"),
    5 -> ("(x > 100.005 AND x < 140.005 AND y > 0.005 AND y < 20.005) " +
      "OR (x > 100.005 AND x < 120.005 AND y > 0.005 AND y < 40.005)")
  )

  /** Axis-aligned squares around the supplier points (side 2*rr,
    * rr = 1 + s_id % 3) in the feature-layer layout the overlay
    * operators take: (fid, xs, ys, parts, min_x, min_y, max_x,
    * max_y). Ring wound clockwise (shapefile shell convention). */
  def supplierSquares(spark: SparkSession, dir: String): DataFrame = {
    val s = supplierPoints(spark, dir)
      .withColumn("rr", (lit(1.0) + col("s_id") % 3).cast("double"))
    s.select(col("s_id").as("fid"),
      array(col("sx") - col("rr"), col("sx") - col("rr"),
        col("sx") + col("rr"), col("sx") + col("rr")).as("xs"),
      array(col("sy") - col("rr"), col("sy") + col("rr"),
        col("sy") + col("rr"), col("sy") - col("rr")).as("ys"),
      array(lit(0)).as("parts"),
      (col("sx") - col("rr")).as("min_x"),
      (col("sy") - col("rr")).as("min_y"),
      (col("sx") + col("rr")).as("max_x"),
      (col("sy") + col("rr")).as("max_y"))
  }

  /** SQL twin of [[supplierSquares]] bboxes (geometry itself is not
    * needed oracle-side — rect overlap algebra covers it). */
  val supplierSquaresSql: String =
    """SELECT s_id AS fid, sx - rr AS min_x, sy - rr AS min_y,
      |  sx + rr AS max_x, sy + rr AS max_y
      |FROM (SELECT s_suppkey AS s_id,
      |  ((s_suppkey * 6151) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS sx,
      |  ((s_suppkey * 4517) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS sy,
      |  CAST(1.0 AS DOUBLE) + s_suppkey % 3 AS rr FROM supplier)""".stripMargin

  /** The two plain-rectangle zones as a feature layer (overlay
    * oracle-friendly: rect-rect algebra is exact in SQL). */
  def rectZones(spark: SparkSession): DataFrame =
    zones(spark).where(col("zone_id") <= 2)
      .select(col("zone_id").cast("long").as("fid"), col("xs"),
        col("ys"), col("parts"), col("min_x"), col("min_y"),
        col("max_x"), col("max_y"))

  val rectZonesSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(12.005 AS DOUBLE), CAST(45.005 AS DOUBLE), CAST(13.005 AS DOUBLE), CAST(46.505 AS DOUBLE)),
      |  (CAST(2 AS BIGINT), CAST(-120.005 AS DOUBLE), CAST(-30.005 AS DOUBLE), CAST(-60.005 AS DOUBLE), CAST(30.005 AS DOUBLE))
      |) AS z(fid, min_x, min_y, max_x, max_y)""".stripMargin

  /** Integer-cornered rectangle aligned with the lattice squares so
    * edge-touching pairs actually occur (DE-9IM `touches` oracle). */
  def touchZone(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((3L, Array(-96.0, -96.0, -60.0, -60.0),
        Array(-66.0, -30.0, -30.0, -66.0), Array(0)))
      .toDF("fid", "xs", "ys", "parts")
      .withColumn("min_x", lit(-96.0)).withColumn("min_y", lit(-66.0))
      .withColumn("max_x", lit(-60.0)).withColumn("max_y", lit(-30.0))
  }

  /** Disjoint lattice squares (side 4, pitch 10) for the dissolve
    * oracle; distinct suppliers can collide on a lattice cell, which
    * exercises duplicate merging. */
  def latticeSquares(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "supplier")
    s.select(col("s_suppkey").as("fid"),
        ((col("s_suppkey") % 20) * 10 - 100).cast("double").as("x0"),
        ((expr("s_suppkey DIV 20") % 15) * 10 - 70).cast("double").as("y0"))
      .select(col("fid"),
        array(col("x0"), col("x0"), col("x0") + 4, col("x0") + 4).as("xs"),
        array(col("y0"), col("y0") + 4, col("y0") + 4, col("y0")).as("ys"),
        array(lit(0)).as("parts"),
        col("x0").as("min_x"), col("y0").as("min_y"),
        (col("x0") + 4).as("max_x"), (col("y0") + 4).as("max_y"))
  }

  val latticeSquaresSql: String =
    """SELECT DISTINCT CAST((s_suppkey % 20) * 10 - 100 AS DOUBLE) AS x0,
      |  CAST(((s_suppkey // 20) % 15) * 10 - 70 AS DOUBLE) AS y0
      |FROM supplier""".stripMargin

  /** 2-segment polylines from the supplier points, shrunk to the
    * antimeridian-safe half domain: vertices (sx/2, sy/2) ->
    * (sx/2+5, sy/2+2) -> (sx/2+3, sy/2+8). */
  def supplierLines(spark: SparkSession, dir: String): DataFrame = {
    val s = supplierPoints(spark, dir)
      .select(col("s_id"), (col("sx") / 2).as("x0"),
        (col("sy") / 2).as("y0"))
    s.select(col("s_id").as("line_id"),
      array(col("x0"), col("x0") + 5, col("x0") + 3).as("xs"),
      array(col("y0"), col("y0") + 2, col("y0") + 8).as("ys"),
      array(lit(0)).as("parts"))
  }

  /** SQL twin of [[supplierLines]] as a segment relation
    * (line_id, x1, y1, x2, y2). */
  val supplierLineSegsSql: String =
    """WITH sp0 AS (SELECT s_suppkey AS s_id,
      |  (((s_suppkey * 6151) % 36000) / CAST(100.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)) / 2 AS x0,
      |  (((s_suppkey * 4517) % 17000) / CAST(100.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)) / 2 AS y0
      |  FROM supplier)
      |SELECT s_id AS line_id, x0 AS x1, y0 AS y1, x0 + 5 AS x2, y0 + 2 AS y2 FROM sp0
      |UNION ALL
      |SELECT s_id AS line_id, x0 + 5 AS x1, y0 + 2 AS y1, x0 + 3 AS x2, y0 + 8 AS y2 FROM sp0""".stripMargin

  /** Grid raster derived from `part`: 40 rows x 50 cols, value from a
    * multiplicative hash — the stand-in WhiteboxRaster for focal ops. */
  def partGrid(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    p.select(
      (p("p_partkey") % 40).as("r"),
      expr("p_partkey DIV 40").as("c"),
      ((p("p_partkey") * 37 % 1000) / lit(10.0)).as("v"))
      .where(col("c") < 50)
  }

  /**
   * Dense deterministic zone layer for the north-rule scaling bench:
   * `perCell` gear-shaped polygons per cell of the res-`res` lattice,
   * `verts` vertices each, radius modulated sinusoidally between 0.13
   * and 0.47 of the cell extent so every polygon's bbox sits strictly
   * inside its cell (cover_bbox -> exactly one candidate cell per
   * zone). With the page cloud spread over the whole lattice, every
   * page performs `perCell` exact even-odd PIP tests of `verts`
   * crossings — the ray-cast kernel dominates wall time instead of
   * fixed job overhead, which is what the headline pages/sec
   * efficiency comparison needs (VERDICT r3 "what's wrong" #3).
   * Closed-form per (cell, k): reproducible at any parallelism.
   */
  def scaledZones(spark: SparkSession, res: Int = 5, perCell: Int = 2,
                  verts: Int = 800): DataFrame = {
    import spark.implicits._
    import graft.core.CellIndex
    val nLat = CellIndex.latBins(res).toInt
    val nLon = CellIndex.lonBins(res).toInt
    val h = CellIndex.cellHeightDeg(res)
    val w = CellIndex.cellWidthDeg(res)
    spark.range(nLat.toLong * nLon * perCell).map { id =>
      val k = (id % perCell).toInt
      val cellIdx = id / perCell
      val latB = (cellIdx / nLon).toInt
      val lonB = (cellIdx % nLon).toInt
      val cy = -90.0 + (latB + 0.5) * h
      val cx = -180.0 + (lonB + 0.5) * w
      val xs = new Array[Double](verts)
      val ys = new Array[Double](verts)
      var i = 0
      while (i < verts) {
        val th = 2.0 * math.Pi * i / verts
        val rad = 0.30 + 0.12 * math.sin(7 * th + k) +
          0.05 * math.cos(3 * th + 2.0 * k)
        xs(i) = cx + rad * w * math.cos(th)
        ys(i) = cy + rad * h * math.sin(th)
        i += 1
      }
      (id, xs, ys, Array(0), xs.min, xs.max, ys.min, ys.max)
    }.toDF("zone_id", "xs", "ys", "parts",
      "min_x", "max_x", "min_y", "max_y")
  }

  /** Synthetic gazetteer: vocabulary tokens -> deterministic places.
    * Drives geo-entity extraction from `documents.text`
    * (the engine's webtext surface, SURVEY.md §7.1 module 5). */
  val gazetteer: Seq[(String, Double, Double)] = Seq(
    ("table", 12.505, 45.755),   // inside zone 1
    ("spark", -90.255, 10.505),  // inside zone 2
    ("row", 45.505, -55.505),    // zone 3 rim (outside its hole)
    ("scan", 60.505, -40.505),   // inside zone 3's hole -> excluded
    ("key", 10.055, 5.055),      // inside zone 4 triangle
    ("value", 110.505, 10.505),  // inside zone 5 L
    ("join", 130.505, 30.505),   // in zone 5 bbox but in the notch
    ("query", -10.505, -70.505)) // outside all zones

  def gazetteerDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    gazetteer.toDF("place", "px", "py")
  }

  val gazetteerValuesSql: String = gazetteer.map { case (w, x, y) =>
    s"('$w', CAST($x AS DOUBLE), CAST($y AS DOUBLE))"
  }.mkString("(VALUES ", ", ", ") AS gaz(place, px, py)")

  /** Duplicated+truncated corpus for the dedup family: every doc once
    * verbatim and once with its last 20 chars dropped (near-dup). */
  def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(d("doc_id"), d("text")).unionByName(
      d.select((d("doc_id") + 100000).as("doc_id"),
        expr("substring(text, 1, CAST(n_chars - 20 AS INT))").as("text")))
  }

  val dupCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id,
      |  substr(text, 1, CAST(n_chars - 20 AS INT)) AS text
      |FROM documents""".stripMargin

  /** Near-duplicate embedding corpus in 1-based exploded form
    * (vec_id, p1, ev): every vector once verbatim, and for vec_id < 40
    * a planted near-dup copy (id + 100000) with its first coordinate
    * zeroed (= the p1 = 1 row absent; cosine vs the base ~ 0.99). */
  def dupEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val e0 = graft.operators.Similarity
      .exploded(table(spark, dir, "embeddings"))
      .select(col("vec_id"), (col("pos") + 1).as("p1"), col("ev"))
    e0.unionByName(
      e0.where(col("vec_id") < 40 && col("p1") > 1)
        .select((col("vec_id") + 100000).as("vec_id"), col("p1"),
          col("ev")))
  }

  val dupEmbeddingsSql: String =
    """SELECT vec_id, generate_subscripts(embedding, 1) AS p1,
      |  CAST(unnest(embedding) AS DOUBLE) AS ev FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000 AS vec_id, p1, ev FROM (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS p1,
      |    CAST(unnest(embedding) AS DOUBLE) AS ev FROM embeddings)
      |WHERE vec_id < 40 AND p1 > 1""".stripMargin

  /** Stopword list for quality scoring (subset of the doc vocab). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** Per-"language" stoplists for the lang-id voting operator. The
    * synthetic corpus shares one vocabulary across langs, so these
    * demonstrate deterministic argmax mechanics, not linguistics. */
  val langLists: Seq[(String, Seq[String])] = Seq(
    ("en", Seq("the", "a", "fast", "big")),
    ("de", Seq("hash", "key", "batch", "row")),
    ("fr", Seq("scan", "query", "data", "line")),
    ("es", Seq("slow", "agg", "merge", "vector")),
    ("zh", Seq("join", "small", "customer", "column")))

  /** Three-band raster stack on the partGrid lattice (multiband /
    * raster-list tools: HighestPosition, PickFromList, Mosaic,
    * CompareImagesForDifferences). */
  def partStack(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    p.select(
      (p("p_partkey") % 40).as("r"),
      expr("p_partkey DIV 40").as("c"),
      ((p("p_partkey") * 37 % 1000) / lit(10.0)).as("v1"),
      ((p("p_partkey") * 53 % 1000) / lit(10.0)).as("v2"),
      ((p("p_partkey") * 97 % 1000) / lit(10.0)).as("v3"))
      .where(col("c") < 50)
  }

  val partStackSql: String =
    """SELECT p_partkey % 40 AS r, p_partkey // 40 AS c,
      |  ((p_partkey * 37) % 1000) / CAST(10.0 AS DOUBLE) AS v1,
      |  ((p_partkey * 53) % 1000) / CAST(10.0 AS DOUBLE) AS v2,
      |  ((p_partkey * 97) % 1000) / CAST(10.0 AS DOUBLE) AS v3
      |FROM part WHERE p_partkey // 40 < 50""".stripMargin

  val partGridSql: String =
    """SELECT p_partkey % 40 AS r, p_partkey // 40 AS c,
      |  ((p_partkey * 37) % 1000) / CAST(10.0 AS DOUBLE) AS v
      |FROM part WHERE p_partkey // 40 < 50""".stripMargin

  /** Integer RGB channel raster on the partGrid lattice (colour /
    * contrast tools: BalanceContrastEnhancement, RGBtoIHS,
    * CreateColourComposite). Moduli are chosen so the three channels
    * can never be simultaneously zero (gch >= 7, bch >= 11), keeping
    * the reference's IHS hue division away from 0/0. */
  def rgbChannels(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    p.select(
      (p("p_partkey") % 40).as("r"),
      expr("p_partkey DIV 40").as("c"),
      (p("p_partkey") * 37 % 251).as("rch"),
      (p("p_partkey") * 53 % 241 + 7).as("gch"),
      (p("p_partkey") * 97 % 239 + 11).as("bch"))
      .where(col("c") < 50)
  }

  val rgbChannelsSql: String =
    """SELECT p_partkey % 40 AS r, p_partkey // 40 AS c,
      |  (p_partkey * 37) % 251 AS rch,
      |  (p_partkey * 53) % 241 + 7 AS gch,
      |  (p_partkey * 97) % 239 + 11 AS bch
      |FROM part WHERE p_partkey // 40 < 50""".stripMargin

  /**
   * Common-Crawl-style page table in EXACTLY the input_hint shape
   * (BASELINE.json): `(url:string, warc_ts:timestamp, html:binary,
   * text:string, lang:string)`. Deterministic synthesis from
   * `documents`: the html is the [[graft.expr.WebEval.wrapHtmlStr]]
   * page around the text (head/script/style/comment noise + escaped
   * body chunks), so `html_extract_text(html)` must round-trip to the
   * `text` column byte-identically — the per-row invariant the oracle
   * checks via sha256.
   */
  def webPages(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(
      concat(lit("https://example.org/"), d("lang"), lit("/"),
        d("doc_id").cast("string")).as("url"),
      timestamp_seconds(lit(1690000000L) + d("doc_id") * 97).as("warc_ts"),
      graft.expr.WebFunctions.html_wrap(d("doc_id"), d("text"))
        .as("html"),
      d("text"), d("lang"))
  }

  /** DuckDB mirror of the [[webPages]] url / capture-time columns
    * (html is engine-side only; oracles check its extraction against
    * the source `text`). */
  val webPagesSql: String =
    """SELECT 'https://example.org/' || lang || '/' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  1690000000 + doc_id * 97 AS warc_epoch,
      |  text, lang, doc_id
      |FROM documents""".stripMargin

  /**
   * Deterministic synthetic LiDAR point cloud in the LasIO.readLas
   * column contract (x, y, z, intensity, return_num, n_returns,
   * classification) plus a point id. Ground is a plane in (x, y);
   * non-ground points add a pseudo-canopy offset. Mirrors
   * [[lidarCloudSql]] term for term (identical arithmetic order) so
   * LiDAR grid queries hash-match the DuckDB oracle.
   */
  def lidarCloud(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
    val base = p.select(
      p("p_partkey").as("pid"),
      ((p("p_partkey") * 131 % 1000) / lit(10.0)).as("x"),
      ((p("p_partkey") * 197 % 1000) / lit(10.0)).as("y"),
      (p("p_partkey") * 11 % 256).as("intensity"),
      when(p("p_partkey") % 5 < 3, 2L).otherwise(1L)
        .as("classification"),
      (p("p_partkey") % 3 + 1).as("n_returns"),
      (p("p_partkey") * 7 % (p("p_partkey") % 3 + 1) + 1)
        .as("return_num"),
      (p("p_partkey") * 13 % 61 - 30).as("scan_angle"),
      when(p("p_partkey") % 17 === 0, 1L).otherwise(0L)
        .as("edge_flag"),
      when(p("p_partkey") % 97 === 0, 1L).otherwise(0L)
        .as("withheld"))
    base.withColumn("z",
      (col("x") * 3.0 + col("y") * 2.0) / 10.0 +
        when(col("classification") === 1,
          (col("pid") * 53 % 200) / lit(10.0)).otherwise(lit(0.0)))
  }

  val lidarCloudSql: String =
    """SELECT *,
      |  (x * CAST(3.0 AS DOUBLE) + y * CAST(2.0 AS DOUBLE)) / CAST(10.0 AS DOUBLE) +
      |    CASE WHEN classification = 1
      |      THEN ((pid * 53) % 200) / CAST(10.0 AS DOUBLE)
      |      ELSE CAST(0.0 AS DOUBLE) END AS z
      |FROM (SELECT p_partkey AS pid,
      |    ((p_partkey * 131) % 1000) / CAST(10.0 AS DOUBLE) AS x,
      |    ((p_partkey * 197) % 1000) / CAST(10.0 AS DOUBLE) AS y,
      |    (p_partkey * 11) % 256 AS intensity,
      |    CASE WHEN p_partkey % 5 < 3 THEN 2 ELSE 1 END AS classification,
      |    p_partkey % 3 + 1 AS n_returns,
      |    (p_partkey * 7) % (p_partkey % 3 + 1) + 1 AS return_num,
      |    (p_partkey * 13) % 61 - 30 AS scan_angle,
      |    CASE WHEN p_partkey % 17 = 0 THEN 1 ELSE 0 END AS edge_flag,
      |    CASE WHEN p_partkey % 97 = 0 THEN 1 ELSE 0 END AS withheld
      |  FROM part)""".stripMargin
}
