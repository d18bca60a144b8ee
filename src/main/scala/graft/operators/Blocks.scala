package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.InJobExchange
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
 *
 * Every block shuffle here is an [[InJobExchange]]: its map side runs
 * as a stage of the job that consumes it. A `Dataset.repartition`
 * would be an `Exchange`, which adaptive execution runs as a job of
 * its own, with a driver round trip to re-plan after it.
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
    * partitions: hash-partitioned on (br, bc) as `repartition(n, br,
    * bc)` does it, then sorted by (br, bc) within each partition. The
    * shuffle and the sort run inside the job that consumes the frame
    * ([[InJobExchange]]): placing starts no job. */
  def place(df: DataFrame, n: Int): DataFrame =
    InJobExchange.frame(InJobExchange.exchange(InJobExchange.rows(df),
      df.schema, Key, n), df.schema, df)
      .sortWithinPartitions(Key.map(col): _*)

  private val Key = Seq("br", "bc")

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
   * One shuffle, run inside the job that consumes the output
   * ([[InJobExchange]]), so building the gather starts no job: each
   * cell goes to its own block and, when it lies on a block edge, to
   * each block whose one-cell halo holds it (at most four copies),
   * hash-placed on (br, bc) over [[partitions]] as [[place]] places
   * rows. Each partition fills one dense (Side + 2)^2 array per block
   * straight from the shuffled rows and emits its blocks in ascending
   * (br, bc) order, each target's neighbours read off its block's
   * array, targets in (r, c) order within a block. Rows stay Spark's
   * internal rows throughout, and values are copied, never computed,
   * so every value type gathers exactly. The output is in block layout.
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
    val out = StructType(Seq(StructField("r", LongType, false),
        StructField("c", LongType, false), StructField("v", vType, false)) ++
      (0 until 8).map(i => StructField(s"n$i", vType, true)))
    val placed = InJobExchange.exchange(InJobExchange.rows(src)
      .mapPartitions(copies(_, keyed, reflect, nRows, nCols)), keyed, Key,
      partitions(grid))
    InJobExchange.frame(placed.mapPartitions(stencils(_, out, nRows, nCols)),
        out, grid)
      .select(Seq(col("r").cast(outType("r").dataType).as("r"),
        col("c").cast(outType("c").dataType).as("c"), col("v")) ++
        (0 until 8).map(i => col(s"n$i")): _*)
  }

  /** Each cell (r, c, v) of `cells` as its copies (br, bc, r', c', v),
    * rows of `keyed`: one per block whose cells or one-cell halo hold a
    * position (r', c') the cell is read at ([[axis]]). One reused row,
    * as Spark's operators emit theirs. */
  private def copies(cells: Iterator[InternalRow], keyed: StructType,
                     reflect: Boolean, nRows: Long,
                     nCols: Long): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val vType = keyed("v").dataType
      private val (rPos, rBlk) = (new Array[Long](6), new Array[Long](6))
      private val (cPos, cBlk) = (new Array[Long](6), new Array[Long](6))
      private var nr, nc, i, j = 0
      private val row = new SpecificInternalRow(keyed.fields.map(_.dataType))
      private val project = UnsafeProjection.create(keyed)
      def hasNext: Boolean = {
        while (i == nr && cells.hasNext) {
          val cell = cells.next()
          nr = axis(cell.getLong(0), reflect, nRows, rPos, rBlk)
          nc = axis(cell.getLong(1), reflect, nCols, cPos, cBlk)
          if (nc == 0) nr = 0
          i = 0
          j = 0
          row.update(4, cell.get(2, vType))
        }
        i < nr
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("no more copies")
        row.setLong(0, rBlk(i))
        row.setLong(1, cBlk(j))
        row.setLong(2, rPos(i))
        row.setLong(3, cPos(j))
        j += 1
        if (j == nc) { j = 0; i += 1 }
        project(row)
      }
    }

  /** The copies of a cell at x along one axis, written to `pos` and
    * `blk`: each position it is read at (x and, when `reflect`, its
    * mirror image across a grid edge, [[Focal.contributions]]' ghost
    * copies at radius 1) paired with each block whose cells or one-cell
    * halo hold that position, keeping only blocks that hold a target in
    * [0, n). Returns how many, at most six. */
  private def axis(x: Long, reflect: Boolean, n: Long, pos: Array[Long],
                   blk: Array[Long]): Int = {
    var k = halo(x, n, pos, blk, 0)
    if (reflect && x < 1) k = halo(-x - 1, n, pos, blk, k)
    if (reflect && x >= n - 1) k = halo(2 * n - x - 1, n, pos, blk, k)
    k
  }

  /** [[axis]] for one position p, written from index k on; returns the
    * next free index. */
  private def halo(p: Long, n: Long, pos: Array[Long], blk: Array[Long],
                   k: Int): Int = {
    val b = Math.floorDiv(p, Side)
    val m = p - b * Side
    var q = if (m == 0) b - 1 else b
    val last = if (m == Side - 1) b + 1 else b
    var next = k
    while (q <= last) {
      if (q * Side + Side - 1 >= 0 && q * Side <= n - 1) {
        pos(next) = p
        blk(next) = q
        next += 1
      }
      q += 1
    }
    next
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

  /** One partition's targets, rows of `out`: its copies (br, bc, r, c,
    * v) filled into one dense (Side + 2)^2 array per block, then the
    * blocks in ascending order, each target's 8 neighbours read off its
    * block's array. */
  private def stencils(copies: Iterator[InternalRow], out: StructType,
                       nRows: Long, nCols: Long): Iterator[InternalRow] = {
    val w = (Side + 2).toInt
    val vType = out("v").dataType
    val greater = greaterOf(vType)
    val blocks = scala.collection.mutable.HashMap.empty[(Long, Long), Array[Any]]
    var (br, bc, cells) = (0L, 0L, null: Array[Any])
    copies.foreach { row =>
      // copies of one block mostly come in runs: look it up on a change
      if (cells == null || row.getLong(0) != br || row.getLong(1) != bc) {
        br = row.getLong(0)
        bc = row.getLong(1)
        cells = blocks.getOrElseUpdate((br, bc), new Array[Any](w * w))
      }
      // array origin (br * Side - 1, bc * Side - 1)
      val k = (row.getLong(2) - br * Side + 1).toInt * w +
        (row.getLong(3) - bc * Side + 1).toInt
      val v = InternalRow.copyValue(row.get(4, vType))
      if (cells(k) == null || greater(v, cells(k))) cells(k) = v
    }
    val dk = (0 until 8).map(i => Terrain.dY(i) * w + Terrain.dX(i)).toArray
    val target = new SpecificInternalRow(out.fields.map(_.dataType))
    val project = UnsafeProjection.create(out)
    blocks.keys.toArray.sorted.iterator.flatMap { b =>
      val cells = blocks.remove(b).get
      val (r0, c0) = (b._1 * Side - 1, b._2 * Side - 1)
      Iterator.range(1, w - 1).flatMap(i => Iterator.range(1, w - 1)
          .map(j => i * w + j))
        .filter { k =>
          val (r, c) = (r0 + k / w, c0 + k % w)
          r >= 0 && r < nRows && c >= 0 && c < nCols && cells(k) != null
        }
        .map { k =>
          target.setLong(0, r0 + k / w)
          target.setLong(1, c0 + k % w)
          target.update(2, cells(k))
          var d = 0
          while (d < 8) {
            target.update(3 + d, cells(k + dk(d)))
            d += 1
          }
          project(target)
        }
    }
  }
}
