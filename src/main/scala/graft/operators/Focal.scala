package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Generic focal (neighbourhood) engine over the cell-relational grid
 * (r: Long, c: Long, v: Double) — one scatter/gather primitive that
 * covers the reference's entire statistical-filter + convolution
 * family (ImageProcessingTools Filter*.java, ~30 tools; SURVEY.md
 * §2.5).
 *
 * Edge semantics follow the reference exactly:
 *  - `reflect = true`: out-of-grid reads mirror at the edge
 *    (row -1 -> 0, row n -> n-1; WhiteboxAPI .../WhiteboxRaster.java:
 *    535-557) — a single reflection level; further off-grid is NoData.
 *  - `reflect = false`: out-of-grid reads are NoData and skipped
 *    (`if (z != noData)` guard pattern).
 *
 * Scale design: ONE shuffle per focal op. Reflection is realized by
 * padding the grid with ghost copies of edge cells at their virtual
 * (out-of-grid) mirror coordinates — O(edge * radius) extra rows —
 * then each (real or ghost) cell scatters its value to the in-grid
 * targets whose kernel window covers it, and a single groupBy(target)
 * aggregates. No join against the grid is needed: a target exists iff
 * it received its own offset-(0,0) contribution (ghosts never emit
 * offset 0 because their virtual coordinates are off-grid).
 */
object Focal {

  /**
   * Contribution relation (r, c, dy, dx, nv): for every in-grid
   * target cell (r, c), the value `nv` the reference's
   * `getValue(r + dy, c + dx)` would return for each kernel offset,
   * restricted to reads that resolve (in-grid, or mirrored when
   * `reflect`). Missing rows == NoData reads.
   */
  def contributions(grid: DataFrame, radius: Int, reflect: Boolean,
                    nRows: Long, nCols: Long): DataFrame = {
    // ghost copies at virtual mirror coordinates (edge reflection)
    val virt =
      if (!reflect) grid.select(col("r").as("vr"), col("c").as("vc"),
        col("v"))
      else grid
        .withColumn("vrs", array_compact(array(col("r"),
          when(col("r") < radius, -col("r") - 1),
          when(col("r") >= nRows - radius, lit(2 * nRows) - col("r") - 1))))
        .withColumn("vcs", array_compact(array(col("c"),
          when(col("c") < radius, -col("c") - 1),
          when(col("c") >= nCols - radius, lit(2 * nCols) - col("c") - 1))))
        .select(explode(col("vrs")).as("vr"), col("vcs"), col("v"))
        .select(col("vr"), explode(col("vcs")).as("vc"), col("v"))
    crossLiteral(virt, Seq("dy", "dx"),
        (-radius to radius).flatMap(dy => (-radius to radius).map((dy, _))))
      .select((col("vr") - col("dy")).as("r"),
        (col("vc") - col("dx")).as("c"),
        col("dy"), col("dx"), col("v").as("nv"))
      .where(col("r") >= 0 && col("r") < nRows &&
        col("c") >= 0 && col("c") < nCols)
  }

  /** `df` crossed with the literal table `rows` (one tuple per row)
    * whose columns are `names`: the rows of `df.crossJoin(rows.toDF(
    * names: _*))`, made by exploding a literal array per row of `df`,
    * so no job broadcasts the table. */
  private[operators] def crossLiteral(df: DataFrame, names: Seq[String],
                                      rows: Seq[Product]): DataFrame = {
    def literal(row: Product) = struct(row.productIterator.toSeq.zip(names)
      .map { case (v, n) => lit(v).as(n) }: _*)
    df.select(col("*"), inline(array(rows.map(literal): _*)))
  }

  /** Center value column (null for targets whose own cell is NoData —
    * those rows are dropped, matching the reference's outer guard). */
  private val centerZ = max(when(col("dy") === 0 && col("dx") === 0,
    col("nv"))).as("z")

  private def stats(grid: DataFrame, radius: Int, reflect: Boolean,
                    nRows: Long, nCols: Long)(aggs: Column*): DataFrame =
    contributions(grid, radius, reflect, nRows, nCols)
      .groupBy("r", "c")
      .agg(centerZ, aggs: _*)
      .where(col("z").isNotNull)

  /**
   * FilterAdaptive (ImageProcessingTools/FilterAdaptive.java:274-295,
   * 3x3 square, no reflect): per cell, mean and stddev over the
   * window, replacing the centre with the mean when its z-score
   * exceeds `threshold`. The reference's inclusion guard
   * `(x != midPointX) && (y != midPointY)` compares the NEIGHBOUR'S
   * GLOBAL coordinates against the filter midpoint index (1), so
   * cells in global row 1 / column 1 are excluded everywhere and the
   * centre itself is included elsewhere — mirrored literally, like
   * the DownslopeIndex quirk. Cells with n <= 2 stay unset (absent).
   */
  def filterAdaptive(grid: DataFrame, threshold: Double, nRows: Long,
                     nCols: Long): DataFrame = {
    val inc = (col("c") + col("dx")) =!= 1 && (col("r") + col("dy")) =!= 1
    val out = contributions(grid, 1, reflect = false, nRows, nCols)
      .groupBy("r", "c")
      .agg(centerZ,
        sum(when(inc, col("nv"))).as("s"),
        count(when(inc, lit(1))).as("n"),
        sum(when(inc, col("nv") * col("nv"))).as("ss"))
      .where(col("z").isNotNull && col("n") > 2)
    val avg = col("s") / col("n")
    val variance = col("ss") / col("n") - avg * avg
    val sd = when(variance > 0, sqrt(variance)).otherwise(variance)
    out.select(col("r"), col("c"),
      round(when(abs((col("z") - avg) / sd) > threshold, avg)
        .otherwise(col("z")), 6).as("adaptive"))
  }

  /**
   * LeeSigmaFilter (Scripts/LeeSigmaFilter.groovy:160-195, no
   * reflect): mean of window cells within z ± 2·sigma (the script
   * doubles the user sigma); if fewer than `m` qualify, fall back to
   * the plain 8-neighbour mean; a cell with no present neighbours at
   * all stays unset (absent).
   */
  def leeSigmaFilter(grid: DataFrame, radius: Int, sigma: Double,
                     m: Int, nRows: Long, nCols: Long): DataFrame = {
    val sigma2 = sigma * 2
    // literal z ± 2sigma bounds (LeeSigmaFilter.groovy:165-166), not
    // abs(nv - z): the two float forms disagree at band edges
    val within = col("nv") >= col("z0") - sigma2 &&
      col("nv") <= col("z0") + sigma2
    val ring1 = abs(col("dy")) <= 1 && abs(col("dx")) <= 1 &&
      !(col("dy") === 0 && col("dx") === 0)
    val out = contributions(grid, radius, reflect = false, nRows, nCols)
      .join(grid.select(col("r"), col("c"), col("v").as("z0")),
        Seq("r", "c"))
      .groupBy("r", "c")
      .agg(centerZ,
        sum(when(within, col("nv"))).as("s1"),
        count(when(within, lit(1))).as("n1"),
        sum(when(ring1, col("nv"))).as("s8"),
        count(when(ring1, lit(1))).as("n8"))
      .where(col("z").isNotNull)
    out.where(col("n1") > m || col("n8") > 0)
      .select(col("r"), col("c"),
        round(when(col("n1") > m, col("s1") / col("n1"))
          .otherwise(col("s8") / col("n8")), 6).as("lee"))
  }

  /** FilterMean (FilterMean.java:272-284): mean of resolved reads. */
  def filterMean(grid: DataFrame, radius: Int, reflect: Boolean,
                 nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      round(sum(col("nv")) / count(lit(1)), 6).as("fm"))
      .select("r", "c", "fm")

  /** FilterMedian (FilterMedian.java:283-291): sorted middle value;
    * even-sized windows average the two middle values. */
  def filterMedian(grid: DataFrame, radius: Int, reflect: Boolean,
                   nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      sort_array(collect_list(col("nv"))).as("arr"))
      .withColumn("n", size(col("arr")))
      .withColumn("med",
        when(col("n") % 2 === 1,
          element_at(col("arr"), ((col("n") + 1) / 2).cast("int")))
          .otherwise((element_at(col("arr"), (col("n") / 2).cast("int")) +
            element_at(col("arr"), (col("n") / 2 + 1).cast("int"))) / 2.0))
      .select("r", "c", "med")

  /** FilterMinimum / FilterMaximum / FilterRange / FilterTotal in one
    * pass (each is its own reference tool; identical gather). */
  def filterMinMaxRangeTotal(grid: DataFrame, radius: Int,
                             reflect: Boolean, nRows: Long,
                             nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      min(col("nv")).as("vmin"),
      max(col("nv")).as("vmax"),
      (max(col("nv")) - min(col("nv"))).as("vrange"),
      round(sum(col("nv")), 6).as("vtotal"),
      count(lit(1)).as("n"))
      .select("r", "c", "vmin", "vmax", "vrange", "vtotal", "n")

  /** FilterStandardDeviation (FilterStandardDeviation.java:288-294):
    * population-style (sumsq - sum^2/n)/n, sqrt only when positive,
    * NoData below n = 3 — reproduced verbatim for byte parity. */
  def filterStdDev(grid: DataFrame, radius: Int, reflect: Boolean,
                   nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      sum(col("nv")).as("s"),
      sum(col("nv") * col("nv")).as("ss"),
      count(lit(1)).as("n"))
      .where(col("n") > 2)
      .withColumn("var0",
        (col("ss") - col("s") * col("s") / col("n")) / col("n"))
      .select(col("r"), col("c"),
        round(when(col("var0") > 0, sqrt(col("var0")))
          .otherwise(col("var0")), 6).as("sd"))

  /** FilterMajority (FilterMajority.java:286-302): modal value; the
    * run-length scan over the SORTED window keeps the first maximal
    * run, so ties break to the smallest value. */
  def filterMajority(grid: DataFrame, radius: Int, reflect: Boolean,
                     nRows: Long, nCols: Long): DataFrame =
    contributions(grid, radius, reflect, nRows, nCols)
      .groupBy("r", "c", "nv")
      .agg(count(lit(1)).as("cnt"),
        max(when(col("dy") === 0 && col("dx") === 0, lit(1))).as("ctr"))
      .groupBy("r", "c")
      .agg(min_by(col("nv"), struct((-col("cnt")).as("nc"), col("nv")))
        .as("mode"),
        max(col("ctr")).as("ctr"))
      .where(col("ctr") === 1)
      .select("r", "c", "mode")

  /** FilterDiversity: count of distinct values in the window. */
  def filterDiversity(grid: DataFrame, radius: Int, reflect: Boolean,
                      nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      count_distinct(col("nv")).as("ndist"))
      .select("r", "c", "ndist")

  /** FilterPercentile (FilterPercentile.java:287-296): percentile
    * rank of the centre cell = (# window values strictly below it)
    * / n * 100 (the first-index-in-sorted-order formulation). The
    * centre value joins in from the grid so the below-count is
    * computable pre-aggregation. */
  def filterPercentile(grid: DataFrame, radius: Int, reflect: Boolean,
                       nRows: Long, nCols: Long): DataFrame =
    contributions(grid, radius, reflect, nRows, nCols)
      .join(grid, Seq("r", "c"), "inner")
      .groupBy("r", "c")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("nv") < col("v"), 1L)), lit(0L)).as("below"))
      .select(col("r"), col("c"),
        round(col("below").cast("double") / col("n") * 100, 6).as("pctl"))

  /** FilterOlympic (FilterOlympic.java:275-291): mean after dropping
    * one minimum and one maximum instance; NoData when n <= 2. */
  def filterOlympic(grid: DataFrame, radius: Int, reflect: Boolean,
                    nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      sum(col("nv")).as("s"),
      min(col("nv")).as("mn"),
      max(col("nv")).as("mx"),
      count(lit(1)).as("n"))
      .where(col("n") - 2 > 0)
      .select(col("r"), col("c"),
        round((col("s") - col("mn") - col("mx")) / (col("n") - 2), 6)
          .as("oly"))

  /** DeviationFromMeanElevation / DifferenceFromMeanElevation
    * (TerrainAnalysisTools, :296-303): diff = z - focal mean; dev =
    * diff / population stddev (sqrt(sumsq/n - avg^2)), NoData when
    * n <= 2. (The reference's accidental exclusion of the mid row/col
    * band, :284, is not reproduced.) */
  def deviationFromMean(grid: DataFrame, radius: Int, reflect: Boolean,
                        nRows: Long, nCols: Long): DataFrame =
    stats(grid, radius, reflect, nRows, nCols)(
      sum(col("nv")).as("s"),
      sum(col("nv") * col("nv")).as("ss"),
      count(lit(1)).as("n"))
      .where(col("n") > 2)
      .withColumn("avg0", col("s") / col("n"))
      .withColumn("var0", col("ss") / col("n") - col("avg0") * col("avg0"))
      .select(col("r"), col("c"),
        round(col("z") - col("avg0"), 6).as("diff_mean"),
        when(col("var0") > 0,
          round((col("z") - col("avg0")) / sqrt(col("var0")), 6))
          .as("dev_mean"))

  /** [[deviationFromMean]] for grids whose values are exact multiples
    * of 1/`scale`: the window sums run in scaled-integer space, so
    * they are order-independent and bit-exact at any parallelism —
    * a float sum's last ulp depends on partial-aggregation order,
    * which varies with executor count and diverges from any
    * row-ordered oracle. Only the final statistics touch doubles. */
  def deviationFromMeanExact(grid: DataFrame, radius: Int,
                             reflect: Boolean, nRows: Long, nCols: Long,
                             scale: Int = 10): DataFrame = {
    val sc = lit(scale.toDouble)
    contributions(grid, radius, reflect, nRows, nCols)
      .withColumn("k", round(col("nv") * scale).cast("long"))
      .groupBy("r", "c")
      .agg(max(when(col("dy") === 0 && col("dx") === 0, col("k"))).as("zk"),
        sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("ssk"),
        count(lit(1)).as("n"))
      .where(col("zk").isNotNull && col("n") > 2)
      .withColumn("z", col("zk") / sc)
      .withColumn("avg0", col("sk") / sc / col("n"))
      .withColumn("var0",
        col("ssk") / (sc * sc) / col("n") - col("avg0") * col("avg0"))
      .select(col("r"), col("c"),
        round(col("z") - col("avg0"), 6).as("diff_mean"),
        when(col("var0") > 0,
          round((col("z") - col("avg0")) / sqrt(col("var0")), 6))
          .as("dev_mean"))
  }

  // ---- convolutions -------------------------------------------------

  /** A kernel is (dy, dx, weight) triples. */
  type Kernel = Seq[(Int, Int, Double)]

  /** Symmetric Gaussian kernel; filter half-size from the reference's
    * weight <= 0.001 cutoff (FilterGaussian.java:221-235). The
    * reference then centres the window one cell off (midPoint =
    * floor(size/2) + 1, :243) — an off-centre quirk we do NOT
    * reproduce; our kernel is centred. */
  def gaussianKernel(sigma: Double): Kernel = {
    val recip = 1.0 / (math.sqrt(2 * math.Pi) * sigma)
    val twoSigmaSq = 2 * sigma * sigma
    val half = (0 to 250).find(i =>
      recip * math.exp(-(i.toDouble * i) / twoSigmaSq) <= 0.001)
      .map(i => math.max(1, i)).getOrElse(250)
    for (dy <- -half to half; dx <- -half to half)
      yield (dy, dx,
        recip * math.exp(-(dx.toDouble * dx + dy.toDouble * dy) / twoSigmaSq))
  }

  /** FilterLaplacian 3x3 kernel (FilterLaplacian.java:196-198). */
  val laplacian3x3: Kernel = Seq(
    (-1, -1, 0.0), (-1, 0, -1.0), (-1, 1, 0.0),
    (0, -1, -1.0), (0, 0, 4.0), (0, 1, -1.0),
    (1, -1, 0.0), (1, 0, -1.0), (1, 1, 0.0))

  /** Sobel 3x3 masks in the shared neighbour order
    * (FilterSobel.java:210-213). */
  val sobelX3x3: Kernel = {
    val dX = Seq(1, 1, 1, 0, -1, -1, -1, 0)
    val dY = Seq(-1, 0, 1, 1, 1, 0, -1, -1)
    val mX = Seq(1.0, 2, 1, 0, -1, -2, -1, 0)
    (0 until 8).map(i => (dY(i), dX(i), mX(i)))
  }
  val sobelY3x3: Kernel = {
    val dX = Seq(1, 1, 1, 0, -1, -1, -1, 0)
    val dY = Seq(-1, 0, 1, 1, 1, 0, -1, -1)
    val mY = Seq(1.0, 0, -1, -2, -1, 0, 1, 2)
    (0 until 8).map(i => (dY(i), dX(i), mY(i)))
  }

  /** Prewitt 3x3 masks (FilterPrewitt.java, same structure as Sobel
    * with unit weights). */
  val prewittX3x3: Kernel =
    sobelX3x3.map { case (dy, dx, w) => (dy, dx, math.signum(w)) }
  val prewittY3x3: Kernel =
    sobelY3x3.map { case (dy, dx, w) => (dy, dx, math.signum(w)) }

  private def kernelDf(grid: DataFrame, kernel: Kernel): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    kernel.toDF("dy", "dx", "w")
  }

  /**
   * Weighted-sum convolution, skip-and-renormalize NoData semantics
   * (FilterGaussian.java:262-275: missing reads contribute nothing
   * and the weight sum shrinks): out = sum(w * nv) / sum(w).
   */
  def convolveRenormalized(grid: DataFrame, kernel: Kernel,
                           reflect: Boolean, nRows: Long,
                           nCols: Long): DataFrame = {
    val radius = kernel.map(k => math.max(math.abs(k._1),
      math.abs(k._2))).max
    contributions(grid, radius, reflect, nRows, nCols)
      .join(broadcast(kernelDf(grid, kernel)), Seq("dy", "dx"))
      .groupBy("r", "c")
      .agg(sum(col("w") * col("nv")).as("sw"),
        sum(col("w")).as("wsum"))
      .join(grid.select(col("r"), col("c")), Seq("r", "c"), "inner")
      .select(col("r"), col("c"),
        round(col("sw") / col("wsum"), 6).as("cv"))
  }

  /**
   * Weighted-sum convolution, substitute-centre NoData semantics
   * (FilterLaplacian.java:235-241, FilterSobel.java:229-237: missing
   * reads take the centre value): out = sum_present(w * nv)
   * + z * (Wtot - sum_present(w)).
   */
  def convolveSubstitute(grid: DataFrame, kernel: Kernel,
                         reflect: Boolean, nRows: Long,
                         nCols: Long): DataFrame = {
    val radius = kernel.map(k => math.max(math.abs(k._1),
      math.abs(k._2))).max
    val wTot = kernel.map(_._3).sum
    contributions(grid, radius, reflect, nRows, nCols)
      .join(broadcast(kernelDf(grid, kernel)), Seq("dy", "dx"))
      .groupBy("r", "c")
      .agg(sum(col("w") * col("nv")).as("sw"),
        sum(col("w")).as("wp"))
      .join(grid, Seq("r", "c"), "inner") // centre value + existence
      .select(col("r"), col("c"),
        round(col("sw") + col("v") * (lit(wTot) - col("wp")), 6).as("cv"))
  }

  /** [[convolveSubstitute]] for integer-weight kernels over grids
    * whose values are exact multiples of 1/`scale`: the weighted sum
    * runs entirely in scaled-integer space (order-independent, exact
    * at any parallelism — see [[deviationFromMeanExact]]); only the
    * final division by `scale` touches doubles, and that is exact-
    * input correctly-rounded, hence bit-identical across engines. */
  def convolveSubstituteExact(grid: DataFrame, kernel: Kernel,
                              reflect: Boolean, nRows: Long, nCols: Long,
                              scale: Int = 10): DataFrame = {
    require(kernel.forall(k => k._3 == math.rint(k._3)),
      "convolveSubstituteExact needs integer kernel weights")
    val spark = grid.sparkSession
    import spark.implicits._
    val radius = kernel.map(k => math.max(math.abs(k._1),
      math.abs(k._2))).max
    val wTot = kernel.map(_._3.toLong).sum
    val kdf = kernel.map { case (dy, dx, w) => (dy, dx, w.toLong) }
      .toDF("dy", "dx", "w")
    contributions(grid, radius, reflect, nRows, nCols)
      .join(broadcast(kdf), Seq("dy", "dx"))
      .withColumn("k", round(col("nv") * scale).cast("long"))
      .groupBy("r", "c")
      .agg(sum(col("w") * col("k")).as("swk"),
        sum(col("w")).as("wp"))
      .join(grid, Seq("r", "c"), "inner") // centre value + existence
      .select(col("r"), col("c"),
        round((col("swk") +
          round(col("v") * scale).cast("long") * (lit(wTot) - col("wp"))) /
          lit(scale.toDouble), 6).as("cv"))
  }

  /** FilterEmboss 'n' mask (ImageProcessingTools/FilterEmboss.java:
    * 206: {0,-1,0, 0,0,0, 0,1,0} row-major). Integer weights — runs
    * through the exact scaled-integer convolution. */
  val embossN3x3: Kernel = Seq((-1, 0, -1.0), (1, 0, 1.0))

  /** Laplacian-of-Gaussian kernel (ImageProcessingTools/
    * FilterLoG.java:245-260): w(x,y) = ((x²+y²−2σ²)/σ⁴) ·
    * exp(−(x²+y²)/2σ²) over the square window of radius
    * ceil(3σ). */
  def logKernel(sigma: Double): Kernel = {
    val radius = math.ceil(3 * sigma).toInt
    val twoSigmaSqr = 2.0 * sigma * sigma
    val sigma4 = sigma * sigma * sigma * sigma
    for {
      dy <- -radius to radius
      dx <- -radius to radius
    } yield {
      val d2 = (dx * dx + dy * dy).toDouble
      (dy, dx, (d2 - twoSigmaSqr) / sigma4 *
        math.exp(-d2 / twoSigmaSqr))
    }
  }

  /** FilterSobel (FilterSobel.java:226-241): sqrt(sx^2 + sy^2) of the
    * two mask convolutions (substitute-centre semantics). */
  def filterSobel(grid: DataFrame, reflect: Boolean, nRows: Long,
                  nCols: Long): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val k = (0 until 8).map { i =>
      (sobelX3x3(i)._1, sobelX3x3(i)._2, sobelX3x3(i)._3, sobelY3x3(i)._3)
    }.toDF("dy", "dx", "wx", "wy")
    contributions(grid, 1, reflect, nRows, nCols)
      .join(broadcast(k), Seq("dy", "dx"), "inner")
      .groupBy("r", "c")
      .agg(sum(col("wx") * col("nv")).as("sx"),
        sum(col("wx")).as("wxp"),
        sum(col("wy") * col("nv")).as("sy"),
        sum(col("wy")).as("wyp"))
      .join(grid, Seq("r", "c"), "inner") // centre z + existence
      .select(col("r"), col("c"),
        round(sqrt(
          (col("sx") - col("v") * col("wxp")) *
            (col("sx") - col("v") * col("wxp")) +
          (col("sy") - col("v") * col("wyp")) *
            (col("sy") - col("v") * col("wyp"))), 6).as("edge"))
  }

  /**
   * FilterHighPass (ImageProcessingTools/FilterHighPass.java, inner
   * loop): out = z - mean of the resolved window reads (centre
   * included; missing reads shrink n). Runs in scaled-integer space —
   * (zk*n - sumk) is an exact BIGINT and the single double division
   * is correctly rounded, hence bit-identical across engines.
   */
  def filterHighPass(grid: DataFrame, radius: Int, reflect: Boolean,
                     nRows: Long, nCols: Long,
                     scale: Int = 10): DataFrame =
    contributions(grid, radius, reflect, nRows, nCols)
      .withColumn("k", round(col("nv") * scale).cast("long"))
      .groupBy("r", "c")
      .agg(sum(col("k")).as("sumk"), count(lit(1)).as("n"))
      .join(grid, Seq("r", "c"), "inner") // centre value + existence
      .select(col("r"), col("c"),
        round((round(col("v") * scale).cast("long") * col("n") -
          col("sumk")).cast("double") /
          (col("n") * lit(scale.toDouble)), 6).as("cv"))

  /** FilterLineDetection.java:219-230 kernels, row-major over
    * dY/dX = (-1..1)x(-1..1). */
  val lineDetectV3x3: Kernel = Seq(
    (-1, -1, -1.0), (-1, 0, 2.0), (-1, 1, -1.0),
    (0, -1, -1.0), (0, 0, 2.0), (0, 1, -1.0),
    (1, -1, -1.0), (1, 0, 2.0), (1, 1, -1.0))
  val lineDetectH3x3: Kernel = Seq(
    (-1, -1, -1.0), (-1, 0, -1.0), (-1, 1, -1.0),
    (0, -1, 2.0), (0, 0, 2.0), (0, 1, 2.0),
    (1, -1, -1.0), (1, 0, -1.0), (1, 1, -1.0))
  val lineDetect135: Kernel = Seq(
    (-1, -1, 2.0), (-1, 0, -1.0), (-1, 1, -1.0),
    (0, -1, -1.0), (0, 0, 2.0), (0, 1, -1.0),
    (1, -1, -1.0), (1, 0, -1.0), (1, 1, 2.0))
  val lineDetect45: Kernel = Seq(
    (-1, -1, -1.0), (-1, 0, -1.0), (-1, 1, 2.0),
    (0, -1, -1.0), (0, 0, 2.0), (0, 1, -1.0),
    (1, -1, 2.0), (1, 0, -1.0), (1, 1, -1.0))

  /**
   * FilterConservativeSmoothing (FilterConservativeSmoothing.java,
   * inner loop): clamp the centre into [min, max] of the window
   * cells that differ from the centre in BOTH row and column (the
   * reference's literal `x != col && y != row` test — diagonal-only
   * for a 3x3). Pure comparisons, no arithmetic: hash-safe.
   */
  def filterConservativeSmoothing(grid: DataFrame, radius: Int,
      reflect: Boolean, nRows: Long, nCols: Long): DataFrame =
    contributions(grid, radius, reflect, nRows, nCols)
      .groupBy("r", "c")
      .agg(
        min(when(col("dy") =!= 0 && col("dx") =!= 0, col("nv")))
          .as("mn"),
        max(when(col("dy") =!= 0 && col("dx") =!= 0, col("nv")))
          .as("mx"))
      .join(grid, Seq("r", "c"), "inner")
      .select(col("r"), col("c"),
        when(col("v") > col("mx"), col("mx"))
          .when(col("v") < col("mn"), col("mn"))
          .otherwise(col("v")).as("cv"))

  /**
   * FilterKNearestMean (FilterKNearestMean.java, inner loop): mean
   * of the k window values nearest in squared difference to the
   * centre; ties resolved by window scan order (the reference's
   * strict-< heap update keeps the earliest index). Centre included
   * (sqdiff 0). Cells with fewer than k resolved reads pass the
   * centre through. Mean in scaled-int space (exact division).
   */
  def filterKNearestMean(grid: DataFrame, radius: Int, k: Int,
      reflect: Boolean, nRows: Long, nCols: Long,
      scale: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val side = 2 * radius + 1
    val w = Window.partitionBy("r", "c").orderBy(
      ((col("nv") - col("v")) * (col("nv") - col("v"))).asc,
      ((col("dy") + radius) * side + (col("dx") + radius)).asc)
    contributions(grid, radius, reflect, nRows, nCols)
      .join(grid, Seq("r", "c"), "inner") // centre value v
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .groupBy("r", "c")
      .agg(sum(round(col("nv") * scale).cast("long")).as("sumk"),
        count(lit(1)).as("n"), first(col("v")).as("z"))
      .select(col("r"), col("c"),
        round(when(col("n") === k,
          col("sumk").cast("double") / lit((scale * k).toDouble))
          .otherwise(col("z")), 6).as("cv"))
  }

  /**
   * FilterEdgePreservingSmoothing (bilateral). Mirrors the
   * reference's window construction exactly — including the
   * midPoint = floor(n/2)+1 offset (FilterEdgePreservingSmoothing
   * .java, filter-fill loop), which shifts the window to
   * [-m, n-1-m] — and the filter-size search (spatial weight
   * <= 0.001 cutoff). The intensity falloff replaces exp(-u) with
   * the transcendental-free reciprocal Taylor
   * 1/(1+u+u²/2+u³/6+u⁴/24) (libm exp differs from the JVM's in
   * ulp; within 0.6% of exp(-u) on u in [0,3]); weighted sums
   * accumulate as round(x*1e9) BIGINTs so aggregation order cannot
   * perturb the result.
   */
  def filterBilateral(grid: DataFrame, sigmaD: Double, sigmaI: Double,
                      nRows: Long, nCols: Long): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val (kernel, radius) = bilateralKernel(sigmaD, sigmaI)
    val twoSigmaSqrI = 2.0 * sigmaI * sigmaI
    val kdf = kernel.toDF("dy", "dx", "wd")
    val u = ((col("nv") - col("v")) * (col("nv") - col("v"))) /
      lit(twoSigmaSqrI)
    val taylor = lit(1.0) + u + u * u / lit(2.0) +
      u * u * u / lit(6.0) + u * u * u * u / lit(24.0)
    contributions(grid, radius, reflect = false, nRows, nCols)
      .join(broadcast(kdf), Seq("dy", "dx"), "inner")
      .join(grid, Seq("r", "c"), "inner") // centre value v
      .withColumn("wi", col("wd") / taylor)
      .groupBy("r", "c")
      .agg(sum(round(col("wi") * col("nv") * 1e9).cast("long")).as("sl"),
        sum(round(col("wi") * 1e9).cast("long")).as("sw"))
      .select(col("r"), col("c"),
        round(col("sl").cast("double") / col("sw").cast("double"), 6)
          .as("cv"))
  }

  /** The bilateral spatial kernel (dy, dx, wD*recipI) and its max
    * absolute offset, shared with the SQL oracle so both engines see
    * identical weight literals. */
  def bilateralKernel(sigmaD: Double,
                      sigmaI: Double): (Seq[(Int, Int, Double)], Int) = {
    val recipD = 1.0 / (math.sqrt(2 * math.Pi) * sigmaD)
    val recipI = 1.0 / (math.sqrt(2 * math.Pi) * sigmaI)
    val twoSigmaSqrD = 2.0 * sigmaD * sigmaD
    var filterSize = 3
    var i = 0
    var found = false
    while (i <= 250 && !found) {
      if (recipD * math.exp(-(i * i) / twoSigmaSqrD) <= 0.001) {
        filterSize = i * 2 + 1; found = true
      }
      i += 1
    }
    if (filterSize % 2 == 0) filterSize += 1
    if (filterSize < 3) filterSize = 3
    val mid = filterSize / 2 + 1
    val k = for {
      row <- 0 until filterSize
      colI <- 0 until filterSize
    } yield {
      val x = colI - mid
      val y = row - mid
      (y, x, recipD * math.exp(-(x * x + y * y) / twoSigmaSqrD) * recipI)
    }
    (k, k.map(t => math.max(math.abs(t._1), math.abs(t._2))).max)
  }

  /**
   * RemoveOffTerrainObjects (LidarTools/RemoveOffTerrainObjects.java)
   * — the grayscale-opening arm: erosion (focal min over the
   * (2r+1)² window) then dilation (focal max) yields the highest
   * surface that fits under the DEM without entering bumps narrower
   * than the window; cells standing more than minHeight above that
   * opening are off-terrain and are cut down to it. The reference's
   * iterative tile peak-cleave converges to exactly this for peaks
   * narrower than its OTOMaxSize tile (= 2r+1 here), and its
   * min-edge-slope gate maps to minHeight = tan(minEdgeSlope)·res
   * (RemoveOffTerrainObjects.java:271-274). Two focal scatters, two
   * shuffles, no iteration — min/max aggregation is order-free, so
   * the result is bit-identical across engines.
   */
  def removeOffTerrainObjects(grid: DataFrame, radius: Int,
                              minHeight: Double, nRows: Long,
                              nCols: Long): DataFrame = {
    val ero = contributions(grid, radius, reflect = false, nRows, nCols)
      .groupBy("r", "c").agg(min(col("nv")).as("v"))
    val open = contributions(ero, radius, reflect = false, nRows, nCols)
      .groupBy("r", "c").agg(max(col("nv")).as("open"))
    grid.join(open, Seq("r", "c"))
      .select(col("r"), col("c"),
        when(col("v") - col("open") > minHeight, col("open"))
          .otherwise(col("v")).as("dem_out"))
  }
}
