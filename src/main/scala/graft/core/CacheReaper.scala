package graft.core

import org.apache.spark.sql.SparkSession

/**
 * Lifecycle control for `localCheckpoint` blocks. Iterative operators
 * (kNN deepening, label-correction loops) truncate lineage with eager
 * local checkpoints; the backing blocks live in the block manager for
 * the session lifetime unless freed. In a long-lived session running
 * many queries (the driver's bench loop, a production job server)
 * those blocks accumulate and crowd out execution memory — the
 * round-2 bench measured a 5x slowdown of late queries from exactly
 * this. Snapshot the persistent-RDD id set after building shared
 * inputs, then reap everything newer after each query completes.
 */
object CacheReaper {

  /** Ids of currently persisted RDDs (inputs to protect). */
  def snapshot(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Bytes of shuffle files under the session's `spark.local.dir`
    * roots. Files the cleaner deletes mid-walk count as gone. */
  def shuffleBytes(spark: SparkSession): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(size).sum)
      else if (f.getName.startsWith("shuffle_")) f.length
      else 0L
    spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .split(",").map(d => size(new java.io.File(d.trim))).sum
  }

  /** Unpersist every persisted RDD not in `keep`. Blocking by
    * default: a non-blocking reap between bench queries leaves the
    * previous query's blocks draining (and memory pressured) while
    * the next query is being timed — measured as a 4-5x slowdown of
    * the query that follows a checkpoint-heavy one. */
  def reapExcept(spark: SparkSession, keep: Set[Int],
                 blocking: Boolean = true, gc: Boolean = false): Unit = {
    // Memo entries (shared cross-query intermediates) are spared: the
    // whole point of the memo is surviving the per-query reap. The
    // snapshot-and-unpersist runs under Memo.lock so a reap can never
    // interleave between a memo entry's eager checkpoint and its
    // registration (which would strand lineage-truncated frames with
    // their blocks gone).
    Memo.lock.synchronized {
      val keepAll = keep ++ Memo.protectedSet
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keepAll.contains(id)) rdd.unpersist(blocking = blocking)
      }
    }
    // Shuffle FILES outlive the unpersist: they are deleted by the
    // ContextCleaner only after the shuffle dependency is GC'd. With
    // shuffle dirs on tmpfs (the bench stand-in for cluster-local
    // SSDs) the files compete with the heap for physical RAM, so a
    // multi-query session must surface dead shuffles to the cleaner
    // eagerly — measured: 14+ GiB of tmpfs shuffle files accumulated
    // across one scaling leg, enough to push a 96 GiB-heap JVM into
    // kernel reclaim and slow the leg's last queries ~5-10x.
    // (gc also pairs with spark.cleaner.referenceTracking.blocking
    // .shuffle=true; the brief sleep lets the cleaner thread drain
    // its phantom-reference queue before the next query is timed)
    if (gc) { System.gc(); Thread.sleep(1500) }
  }
}
