package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Checkpoint

/**
 * Approximate/exact nearest-neighbour search over an embedding column
 * (Array[Float]) — the similarity-search stage of a training-data
 * pipeline. Brute-force cosine top-k is the exactness baseline; the
 * IVF variant restricts search to a coarse partition (here the
 * `label` column standing in for a centroid assignment), which is the
 * scale path: probe cost drops from O(N) to O(N / nlist).
 *
 * Dot products run through the relational exploded form so the same
 * arithmetic is reproducible in the DuckDB oracle; ranking uses the
 * rounded similarity with id tie-break for cross-engine determinism.
 */
object Similarity {

  /** Exploded (id, pos, val) form of the embeddings table, values
    * cast to double for deterministic accumulation semantics. */
  def exploded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "ev")))
      .select(col("vec_id"), col("pos"), col("ev").cast("double").as("ev"))

  /**
   * Brute-force cosine top-k: for each query vector (from `queries`,
   * same schema as emb), the k most similar non-identical vectors.
   * Output (q_id, n_id, rnk, sim6).
   */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    val e = exploded(emb)
    val q = exploded(queries).select(col("vec_id").as("q_id"),
      col("pos"), col("ev").as("qv"))
    val norms = e.groupBy("vec_id")
      .agg(sqrt(sum(col("ev") * col("ev"))).as("nrm"))
    // broadcast the probe batch EXPLICITLY: the join key `pos` has only
    // d distinct values, so a shuffle join would collapse parallelism
    // to d skewed partitions (observed 6x run-to-run swings when the
    // planner flipped); with q broadcast, the big side streams map-side
    // at full parallelism and the plan is deterministic
    val dots = e.join(broadcast(q), Seq("pos"))
      .where(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("qv") * col("ev")).as("dot"))
    val qn = norms.select(col("vec_id").as("q_id"), col("nrm").as("qn"))
    val nn = norms.select(col("vec_id").as("n_id"), col("nrm").as("nn"))
    val sims = dots.join(qn, Seq("q_id")).join(nn, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(col("dot") / (col("qn") * col("nn")), 6).as("sim6"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim6").desc, col("n_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "sim6")
  }

  /**
   * IVF-style partitioned search: same contract but candidates are
   * restricted to vectors sharing the query's coarse partition
   * (`label`). At scale the partition key comes from a trained
   * centroid assignment; the plan shape (equi-join on the partition
   * key before the rank) is what matters for 100 TB.
   */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // the label joins onto the exploded form BEFORE the dot-product
    // join, so only same-partition pairs are ever materialised
    val e = exploded(emb)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val q = exploded(queries)
      .join(queries.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("pos"),
        col("ev").as("qv"), col("label"))
    val norms = exploded(emb).groupBy("vec_id")
      .agg(sqrt(sum(col("ev") * col("ev"))).as("nrm"))
    // same broadcast rationale as bruteForceTopK: (pos, label) is a
    // low-cardinality key, the probe batch is the small side
    val dots = e.join(broadcast(q), Seq("pos", "label"))
      .where(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("qv") * col("ev")).as("dot"))
    val qn = norms.select(col("vec_id").as("q_id"), col("nrm").as("qn"))
    val nn = norms.select(col("vec_id").as("n_id"), col("nrm").as("nn"))
    val sims = dots.join(qn, Seq("q_id")).join(nn, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(col("dot") / (col("qn") * col("nn")), 6).as("sim6"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim6").desc, col("n_id").asc)
    sims.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select("q_id", "n_id", "rnk", "sim6")
  }

  /**
   * Embedding-cosine near-duplicate pairs via random-hyperplane LSH
   * (SimHash over vectors, Charikar STOC'02): `nPlanes` deterministic
   * integer hyperplanes -> sign signature grouped into
   * `nPlanes/bandBits` bands, candidates = pairs sharing any whole
   * band (banding, as in the MinHash pipeline), then exact relational
   * cosine verification against `threshold`.
   *
   * Determinism: the signature dot uses `round(ev*1000)` integer
   * quantization against integer hyperplane components
   * `((j+1)*73856093 + p1*19349663) % 95 - 47`, so every sign bit is
   * bit-exact across engines (no float association-order risk at the
   * sign boundary); only the verify stage uses full-precision floats,
   * and its output is rounded to 6 dp away from the threshold.
   *
   * Scale shape: ONE aggregation regroups the exploded input into a
   * dense per-vector array (absent positions = 0.0, matching the
   * relational join's absent-row semantics); signatures, band keys and
   * the verify dot all run in-row over that N-row table, so every
   * shuffle in the operator carries O(N) rows — never the
   * O(N*d*nPlanes) signature explosion or the O(pairs*d) verify join
   * of the naive relational form (measured 24 s -> ~2 s on 2 k
   * vectors; at web scale the win is the shuffle-byte reduction). The
   * banded self-join stays relational: at web scale raise `bandBits`
   * (collision rate 2^-bandBits per band) and `nPlanes` together to
   * keep recall; candidates, not all pairs, are verified. Input is
   * the 1-based exploded form (vec_id, p1, ev) so the same arithmetic
   * is reproducible in the DuckDB oracle.
   */
  def cosineNearDupPairs(expl0: DataFrame, threshold: Double,
                         nPlanes: Int = 64,
                         bandBits: Int = 8): DataFrame = {
    val nBands = nPlanes / bandBits
    // one shuffle: per-vector dense array + norm (norm = unordered
    // relational sum, exactly the oracle's GROUP BY aggregate)
    val vecs = expl0.groupBy("vec_id")
      .agg(map_from_entries(collect_list(struct(col("p1"), col("ev"))))
          .as("__m"),
        sqrt(sum(col("ev") * col("ev"))).as("nrm"),
        max(col("p1")).as("mx"))
      .withColumn("arr", transform(sequence(lit(1), col("mx")),
        i => coalesce(element_at(col("__m"), i), lit(0.0))))
      .drop("__m")
      .transform(Checkpoint(_))
    // integer-quantized signature + band keys in ONE codegen'd pass
    // per row (graft.expr.SigBands): sig(hj) = sum_i round(arr_i*1000)
    // * coef(hj, i), bandKey(b) from the sign bits. Integer arithmetic
    // is order-free, so the kernel's loop equals the relational
    // GROUP BY sum bit-for-bit (absent positions contribute 0). The
    // interpreted transform/aggregate HOF form this replaces was the
    // bench's slowest query (nPlanes*d lambda evals per row).
    val bands = vecs.withColumn("__bk",
        graft.expr.GeoFunctions.sig_bands(col("arr"), lit(nPlanes),
          lit(bandBits)))
      .select(col("vec_id"), posexplode(col("__bk")).as(Seq("band", "bkey")))
      // both sides of the banded self-join read this; compute the
      // signature fold once, not once per side
      .transform(Checkpoint(_))
    val l = bands.select(col("band"), col("bkey"), col("vec_id").as("a"))
    val r = bands.select(col("band"), col("bkey"), col("vec_id").as("b"))
    val cand = l.join(r, Seq("band", "bkey")).where(col("a") < col("b"))
      .select("a", "b").distinct()
    // verify: join the N-row vector table (not the exploded form) to
    // each side, dot in-row. The p1-ascending left fold of ArrDot can
    // differ from an unordered float sum only below the 6-dp rounding;
    // identical exposure to the oracle as the relational sum had.
    val va = vecs.select(col("vec_id").as("a"), col("arr").as("aa"),
      col("nrm").as("na"))
    val vb = vecs.select(col("vec_id").as("b"), col("arr").as("ab"),
      col("nrm").as("nb"))
    cand.join(va, Seq("a")).join(vb, Seq("b"))
      .select(col("a"), col("b"),
        round(dotArr(col("aa"), col("ab")) / (col("na") * col("nb")), 6)
          .as("sim6"))
      .where(col("sim6") >= threshold)
  }

  /** Sequential (array-order) dot product of two numeric arrays,
    * products widened to double: a custom codegen'd expression
    * ([[graft.expr.ArrDot]]) that reads Tungsten arrays in place —
    * no per-row zip_with array allocation — while keeping the
    * left-fold order that makes the float sum bit-reproducible
    * across engines (DuckDB's `list_dot_product` folds the same
    * way). */
  def dotArr(a: Column, b: Column): Column =
    graft.expr.GeoFunctions.arr_dot(a, b)

  /** Array-order float dot product widened to double — the JVM twin
    * of [[graft.expr.GeoEval.dotF]] (same fold order, bit-identical
    * result). */
  private[operators] def dotFF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Catalyst `round(_, 6)` semantics for doubles (HALF_UP on the
    * decimal representation) — used so the blocked kernel's rounding
    * is bit-identical to the SQL form. */
  private def round6(x: Double): Double =
    new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /**
   * Blocked brute-force cosine top-k — the 100 TB execution shape.
   * Same contract and bit-identical results as [[bruteForceTopK]] /
   * [[bruteForceTopKFused]], but the probe batch is collected,
   * broadcast as primitive float arrays, and every embedding
   * partition streams once through a tight JVM loop holding ONE
   * k-slot insertion buffer per probe: no |N|x|Q| joined-row
   * materialisation (the nested-loop join's ~1 us/pair row machinery
   * measured 10x slower than the arithmetic), no shuffle of
   * candidates — each partition emits <= |Q| * k partial rows, and a
   * bounded [[graft.expr.SmallestKAgg]] merge finishes. On a real
   * cluster this is a map-side GEMM block against a broadcast
   * variable — executor count scales it linearly.
   */
  def bruteForceTopKBlocked(emb: DataFrame, queries: DataFrame,
                            k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val bq = spark.sparkContext.broadcast(
      (qs.map(_._1), qs.map(_._2),
        qs.map(e => math.sqrt(dotFF(e._2, e._2)))))
    val partials = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, qe, qn) = bq.value
        val nq = ids.length
        val ks = Array.fill(nq)(Array.fill(k)(Double.PositiveInfinity))
        val vs = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
        it.foreach { case (nid, e) =>
          val nrm = math.sqrt(dotFF(e, e))
          var qi = 0
          while (qi < nq) {
            if (ids(qi) != nid) {
              val key = -round6(dotFF(e, qe(qi)) / (qn(qi) * nrm))
              val kk = ks(qi)
              val vv = vs(qi)
              if (key < kk(k - 1) ||
                (key == kk(k - 1) && nid < vv(k - 1))) {
                var pos = k - 1
                while (pos > 0 && (key < kk(pos - 1) ||
                  (key == kk(pos - 1) && nid < vv(pos - 1)))) {
                  kk(pos) = kk(pos - 1); vv(pos) = vv(pos - 1)
                  pos -= 1
                }
                kk(pos) = key; vv(pos) = nid
              }
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until k).iterator
            .filter(j => vs(qi)(j) != Long.MaxValue)
            .map(j => (ids(qi), vs(qi)(j), ks(qi)(j)))
        }
      }.toDF("q_id", "n_id", "__neg")
    val topk = (kc: Column, ic: Column) =>
      graft.expr.SmallestKAgg.smallestK(k)(kc, ic)
    partials.groupBy("q_id")
      .agg(topk(col("__neg"), col("n_id")).as("__tk"))
      .select(col("q_id"), col("__tk.ks").as("__ks"),
        posexplode(col("__tk.ids")).as(Seq("__pos", "n_id")))
      .select(col("q_id"), col("n_id"),
        (col("__pos") + 1).cast("long").as("rnk"),
        (-element_at(col("__ks"), col("__pos") + 1) + lit(0.0))
          .as("sim6"))
  }

  /**
   * Fused brute-force cosine top-k — the scale path. Contract of
   * [[bruteForceTopK]] (q_id, n_id, rnk, sim6) but with the dot
   * product computed in-row over the embedding arrays instead of the
   * exploded relational form: no d-way row explosion, no
   * |N|x|Q|-group hash aggregate (the exploded form's spill point),
   * and the final ranking is a bounded [[TopK]] buffer with map-side
   * partial merge, so the only shuffle carries <=k entries per
   * (probe x partition). Per-vector norms are computed once in a
   * projection before the cross join.
   */
  def bruteForceTopKFused(emb: DataFrame, queries: DataFrame,
                          k: Int): DataFrame = {
    // materialise the norm projection: CollapseProject would other-
    // wise inline the self dot product into the post-join projection
    // and recompute it PER PAIR (|N| x |Q| times instead of |N|)
    val en = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm",
        sqrt(dotArr(col("embedding"), col("embedding"))))
      .transform(Checkpoint(_))
    val qn = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qemb"))
      .withColumn("qnrm", sqrt(dotArr(col("qemb"), col("qemb"))))
    val sims = en.crossJoin(broadcast(qn))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dotArr(col("embedding"), col("qemb")) /
          (col("qnrm") * col("nrm")), 6).as("sim6"))
    // key = -sim6: ascending (-sim6, n_id) == (sim6 desc, n_id asc)
    val topk = (kc: org.apache.spark.sql.Column,
        ic: org.apache.spark.sql.Column) =>
      graft.expr.SmallestKAgg.smallestK(k)(kc, ic)
    sims.groupBy("q_id")
      .agg(topk(-col("sim6"), col("n_id")).as("__tk"))
      .select(col("q_id"), col("__tk.ks").as("__ks"),
        posexplode(col("__tk.ids")).as(Seq("__pos", "n_id")))
      .select(col("q_id"), col("n_id"),
        (col("__pos") + 1).cast("long").as("rnk"),
        // negation is exact in IEEE; + 0.0 canonicalizes -0.0
        (-element_at(col("__ks"), col("__pos") + 1) + lit(0.0))
          .as("sim6"))
  }
}
