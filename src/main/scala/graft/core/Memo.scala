package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Process-wide memo of expensive shared intermediates (the engine's
 * materialized-view analogue). The bench/verify loops run 200+
 * queries in one session; the six stream-network tools each derive
 * the same flow-accumulation grid and stream graph from the same DEM
 * (SURVEY.md §2.10), and at high core counts the recompute is pure
 * scheduler tax (BENCH_r03: geo_stream_metrics 17.6 s at local[32]
 * where the shared graph itself computes in ~1 s). Entries are keyed
 * by the *semantic hash of the input plan* plus an operator tag, so a
 * hit is exactly "same logical input, same operator" — the cached
 * frame is a footed [[Checkpoint]], bit-identical to a recompute, whose
 * row count and int/long column ranges callers read without a job.
 *
 * Entries register the RDD ids of the RETURNED checkpointed frames
 * only (NOT every checkpoint created while the builder ran — interior
 * per-round checkpoints are transient and must stay reapable), and
 * the table is LRU-capped: a session that keeps minting one-off keys
 * (fresh LogicalRDD inputs that can never recur) churns through the
 * cap instead of pinning blocks forever. [[CacheReaper.reapExcept]]
 * and registration share one lock, so a reap can never race between
 * an entry's eager checkpoint and its protection.
 */
object Memo {

  private case class Entry(dfs: Seq[DataFrame], ids: Set[Int])

  /** Insertion/access-ordered for LRU eviction. */
  private val cache =
    scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  /** Entries beyond this are evicted least-recently-used. Sized for
    * the real reuse set (flow-accum + stream graph + fill per DEM,
    * a handful of DEMs per session); one-off keys churn the tail
    * without evicting the hot head. */
  private val maxEntries = 32

  /** Shared with [[CacheReaper]]: registration, protection reads and
    * reaping serialize on this one lock. */
  private[core] val lock = new Object

  /** Block-manager RDD ids backing live memo entries (reaper
    * keep-set). Call only while holding [[lock]]. */
  private[core] var protectedSet: Set[Int] = Set.empty

  def protectedIds: Set[Int] = lock.synchronized(protectedSet)

  /** Key = session identity + semantic hash of the input plan + tag:
    * two calls with the same source data and parameters share one
    * entry; anything else misses. */
  def key(input: DataFrame, tag: String): String =
    System.identityHashCode(input.sparkSession).toString + ":" +
      input.queryExecution.analyzed.semanticHash().toString + ":" + tag

  /** Memoized build of several frames that share one computation
    * (e.g. streamGraph's stream/edges/indegree triple). The builder's
    * outputs are footed checkpoints; a later call with the same key
    * returns the materialized frames without recompute. */
  def cachedSeq(k: String, spark: org.apache.spark.sql.SparkSession)
               (build: => Seq[DataFrame]): Seq[DataFrame] =
    lock.synchronized {
      cache.get(k) match {
        case Some(e) if e.ids.forall(
            spark.sparkContext.getPersistentRDDs.contains) =>
          // LRU touch: move to the tail (most recently used)
          cache.remove(k); cache.put(k, e)
          return e.dfs
        case Some(e) =>
          // partially reaped (external unpersist): drop and rebuild
          protectedSet = protectedSet -- e.ids
          cache.remove(k)
        case None =>
      }
      // only the returned frames' own checkpoints are protected: the
      // builder's interior checkpoints (per-round lineage truncation)
      // are transient and stay reapable
      val dfs = build.map(Checkpoint(_))
      val ids = dfs.map(Checkpoint.rddId).toSet
      protectedSet = protectedSet ++ ids
      cache.put(k, Entry(dfs, ids))
      while (cache.size > maxEntries) {
        val (oldK, oldE) = cache.head
        cache.remove(oldK)
        protectedSet = protectedSet -- oldE.ids
        oldE.ids.foreach(id =>
          spark.sparkContext.getPersistentRDDs.get(id)
            .foreach(_.unpersist(blocking = false)))
      }
      dfs
    }

  def cached(k: String, spark: org.apache.spark.sql.SparkSession)
            (build: => DataFrame): DataFrame =
    cachedSeq(k, spark)(Seq(build)).head
}
