package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Block partitioning of the cell-relational grid: the grid cut into
 * square blocks of side [[Side]], block (br, bc) holding the cells with
 * floorDiv(r, Side) = br and floorDiv(c, Side) = bc.
 *
 * A block-partitioned frame has long columns br and bc, or derives them
 * from its cells, and is laid out by [[place]]: hash-partitioned on
 * (br, bc), so each block lies in one partition, and sorted by
 * (br, bc) within each partition, so its rows come one block at a time
 * ([[runs]]). Two frames placed with the same partition count put
 * each block in the same partition index, so their partitions can be
 * zipped. [[Terrain.gatherNeighbors]] emits its rows in this layout,
 * and so does the D8 pointer grid built on it, which
 * [[Terrain.flowAccumD8]] reads block by block.
 */
private[graft] object Blocks {

  /** Block side: a multiple of flowAccumD8's default tile of 16. A
    * block with its one-cell halo is (Side + 2)^2 cells, so the halo
    * copies add about 6 % to a dense grid. */
  val Side = 64L

  def of(r: Long, c: Long): (Long, Long) =
    (Math.floorDiv(r, Side), Math.floorDiv(c, Side))

  /** Partitions for a grid of the planner's estimated row count, read
    * without a job: one per block of a dense grid of that many cells,
    * at most spark.sql.shuffle.partitions, at least one. */
  def partitions(grid: DataFrame): Int = {
    val blocks = (SpatialJoins.estimatedRows(grid) + Side * Side - 1) /
      (Side * Side)
    val cap = grid.sparkSession.sessionState.conf.numShufflePartitions
    math.max(1, blocks.min(BigInt(cap)).toInt)
  }

  /** `df`, with long columns br and bc, in block layout over `n`
    * partitions. */
  def place(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, col("br"), col("bc")).sortWithinPartitions("br", "bc")

  /** The runs of `it`, which is in block layout, as (block, rows)
    * pairs; `block` gives a row's block. Blocks must come in strictly
    * ascending order: anything else means the input was not placed
    * by [[place]], and throws. */
  def runs[T](it: Iterator[T])(block: T => (Long, Long))
      : Iterator[((Long, Long), Seq[T])] = {
    val rows = it.buffered
    var last: Option[(Long, Long)] = None
    new Iterator[((Long, Long), Seq[T])] {
      def hasNext: Boolean = rows.hasNext
      def next(): ((Long, Long), Seq[T]) = {
        val b = block(rows.head)
        if (last.exists(l => Ordering[(Long, Long)].gteq(l, b)))
          throw new IllegalStateException(
            s"block $b follows block ${last.get}: rows not in block layout")
        last = Some(b)
        val run = Seq.newBuilder[T]
        while (rows.hasNext && block(rows.head) == b) run += rows.next()
        (b, run.result())
      }
    }
  }

  /**
   * The 3 x 3 neighbourhood gather behind [[Terrain.gatherNeighbors]]:
   * (r, c, v, n0..n7), n_i the value at (r + dY(i), c + dX(i)), null
   * when no cell resolves there, one row per target with a value. Its
   * rows are those of [[Focal.contributions]] at radius 1 grouped by
   * target with a `max` per offset: the same reflection copies and
   * the same [0, nRows) x [0, nCols) target clip, cells with a null
   * r, c or v contributing nothing, and the largest value winning
   * among cells that share a position (Spark's max order: NaN above
   * everything, -0.0 equal to 0.0 with the first seen kept).
   *
   * One shuffle: each cell goes to its own block and, when it lies on
   * a block edge, to each block whose one-cell halo holds it (at most
   * four copies); the blocks are placed over [[partitions]] and each
   * block fills a dense (Side + 2)^2 array and reads every target's
   * neighbours from it. Values are copied, never computed, so every
   * value type gathers exactly. The output is in block layout.
   */
  def gather(grid: DataFrame, reflect: Boolean, nRows: Long,
             nCols: Long): DataFrame = {
    // the output r and c take the type they had in the per-offset
    // contribution form (r - dy), as callers see it
    val outType = grid.select((col("r") - lit(1)).as("r"),
      (col("c") - lit(1)).as("c")).schema
    val vType = grid.schema("v").dataType
    val src = grid.select(col("r").cast(LongType), col("c").cast(LongType),
        col("v"))
      .where(col("r").isNotNull && col("c").isNotNull && col("v").isNotNull)
    val keyed = StructType(Seq(StructField("br", LongType, false),
      StructField("bc", LongType, false), StructField("r", LongType, false),
      StructField("c", LongType, false), StructField("v", vType, false)))
    val copies = src.flatMap { row =>
      val (r, c, v) = (row.getLong(0), row.getLong(1), row.get(2))
      for (vr <- mirrors(r, reflect, nRows); vc <- mirrors(c, reflect, nCols);
           br <- halo(vr, nRows); bc <- halo(vc, nCols))
        yield Row(br, bc, vr, vc, v)
    }(Encoders.row(keyed))
    val out = StructType(Seq(StructField("r", LongType, false),
        StructField("c", LongType, false), StructField("v", vType, false)) ++
      (0 until 8).map(i => StructField(s"n$i", vType, true)))
    val greater = greaterOf(vType)
    place(copies, partitions(grid))
      .mapPartitions(it => runs(it)(row => (row.getLong(0), row.getLong(1)))
        .flatMap { case ((br, bc), rows) =>
          stencil(br, bc, rows, greater, nRows, nCols)
        })(Encoders.row(out))
      .select(Seq(col("r").cast(outType("r").dataType).as("r"),
        col("c").cast(outType("c").dataType).as("c"), col("v")) ++
        (0 until 8).map(i => col(s"n$i")): _*)
  }

  /** The positions a cell at x is read from: x, plus its mirror image
    * across the grid edge when `reflect` and x is an edge cell
    * ([[Focal.contributions]]'s ghost copies at radius 1). */
  private def mirrors(x: Long, reflect: Boolean, n: Long): Seq[Long] =
    if (!reflect) Seq(x)
    else Seq(x) ++ (if (x < 1) Seq(-x - 1) else Nil) ++
      (if (x >= n - 1) Seq(2 * n - x - 1) else Nil)

  /** The blocks (along one axis) whose cells or one-cell halo hold
    * position x, keeping only blocks that hold a target in [0, n). */
  private def halo(x: Long, n: Long): Seq[Long] = {
    val b = Math.floorDiv(x, Side)
    val m = Math.floorMod(x, Side)
    val bs = if (m == 0) Seq(b - 1, b) else if (m == Side - 1) Seq(b, b + 1)
             else Seq(b)
    bs.filter(k => k * Side + Side - 1 >= 0 && k * Side <= n - 1)
  }

  /** Spark's `max` order on one value type: strictly greater. */
  private def greaterOf(t: DataType): (Any, Any) => Boolean = t match {
    case DoubleType => (a, b) =>
      SQLOrderingUtil.compareDoubles(a.asInstanceOf[Double],
        b.asInstanceOf[Double]) > 0
    case FloatType => (a, b) =>
      SQLOrderingUtil.compareFloats(a.asInstanceOf[Float],
        b.asInstanceOf[Float]) > 0
    case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) > 0
  }

  /** One block's targets: its cells and halo (br, bc, r, c, v) copied
    * into a dense array, then each target's 8 neighbours read off it. */
  private def stencil(br: Long, bc: Long, rows: Seq[Row],
                      greater: (Any, Any) => Boolean, nRows: Long,
                      nCols: Long): Iterator[Row] = {
    val w = (Side + 2).toInt
    val (r0, c0) = (br * Side - 1, bc * Side - 1) // array origin
    val cells = new Array[Any](w * w)
    rows.foreach { row =>
      val k = (row.getLong(2) - r0).toInt * w + (row.getLong(3) - c0).toInt
      val v = row.get(4)
      if (cells(k) == null || greater(v, cells(k))) cells(k) = v
    }
    val dk = (0 until 8).map(i => Terrain.dY(i) * w + Terrain.dX(i)).toArray
    for {
      i <- (1 to Side.toInt).iterator
      r = r0 + i if r >= 0 && r < nRows
      j <- 1 to Side.toInt
      c = c0 + j if c >= 0 && c < nCols
      k = i * w + j if cells(k) != null
    } yield Row.fromSeq(Seq(r, c, cells(k)) ++ dk.map(d => cells(k + d)))
  }
}
