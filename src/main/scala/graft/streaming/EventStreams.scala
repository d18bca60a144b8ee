package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.ParquetFooter

/**
 * Structured Streaming surface. The reference has no streaming at all
 * (SURVEY.md §2.11) — every tool is a batch file transform — so this
 * module is engine-added capability: the same tumbling-window
 * aggregation the batch `events_window` query computes, expressed as
 * an incremental streaming query with event-time + watermark, plus a
 * streaming cell-assignment for geo-tagged event feeds.
 *
 * At cluster scale the source would be a Kafka/file-drop feed of
 * crawled pages; locally the parquet `events` table drives it
 * (file-source directory + glob).
 */
object EventStreams {

  /** Streaming tumbling-window count/sum by event_type with a
    * 10-minute watermark. `dir` is the testdata sf directory. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val schema = ParquetFooter.schema(spark, s"$dir/events.parquet")
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts2", col("ts").cast("timestamp"))
      .withWatermark("ts2", "10 minutes")
      .groupBy(window(col("ts2"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value_cents"))
  }

  /** Batch equivalent for differential testing. */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame =
    ParquetFooter.read(spark, s"$dir/events.parquet")
      .withColumn("ts2", col("ts").cast("timestamp"))
      .groupBy(window(col("ts2"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(col("window.start").cast("long").as("bucket"),
        col("event_type"), col("n"), col("sum_value_cents"))

  /** `ts2` carries the event-time watermark tag through to the
    * stateful operator (projecting it away would drop the watermark);
    * `us` is the same instant in epoch microseconds for the fold. */
  case class SessEvent(user_id: Long, event_id: Long, us: Long,
                       ts2: java.sql.Timestamp)
  case class OpenSession(n: Long, startUs: Long, endUs: Long)
  case class ClosedSession(user_id: Long, n_events: Long,
                           start_us: Long, end_us: Long)

  /** Session gap: 30 minutes in microseconds (matches the batch
    * `events_sessionize` query). */
  val SessionGapUs: Long = 1800L * 1000000L

  /**
   * Stateful streaming sessionization via `flatMapGroupsWithState` —
   * the custom-state Structured Streaming surface (the batch
   * `events_sessionize` query is this operator's twin). Per user,
   * events are folded into gap-delimited sessions: a session CLOSES
   * (and is emitted) as soon as a later event proves the gap exceeded
   * 30 minutes; the trailing open session is held in `GroupState` and
   * emitted by event-time timeout once the watermark passes its
   * close-out horizon. State per key is one (n, start, end) triple —
   * O(active users), not O(events), which is what makes it run
   * indefinitely on an unbounded crawl/event feed.
   */
  def sessionize(events: Dataset[SessEvent]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    def fold(userId: Long, it: Iterator[SessEvent],
             state: GroupState[OpenSession]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(ClosedSession(userId, s.n, s.startUs, s.endUs))
      }
      // within-batch order is arbitrary; sessions are defined on the
      // event-time order, so sort the (bounded per-user-per-batch)
      // slice before folding
      val evs = it.toArray.sortBy(e => (e.us, e.event_id))
      val closed = Vector.newBuilder[ClosedSession]
      var open = state.getOption
      evs.foreach { e =>
        open match {
          case Some(s) if e.us - s.endUs <= SessionGapUs =>
            open = Some(OpenSession(s.n + 1, s.startUs, e.us))
          case Some(s) =>
            closed += ClosedSession(userId, s.n, s.startUs, s.endUs)
            open = Some(OpenSession(1L, e.us, e.us))
          case None =>
            open = Some(OpenSession(1L, e.us, e.us))
        }
      }
      open.foreach { s =>
        state.update(s)
        // close out once the watermark proves no in-order event can
        // extend the session
        state.setTimeoutTimestamp(s.endUs / 1000L + SessionGapUs / 1000L)
      }
      closed.result().iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** Streaming source for [[sessionize]] over the events table. */
  def sessionizeStream(spark: SparkSession, dir: String): Dataset[ClosedSession] = {
    import spark.implicits._
    val schema = ParquetFooter.schema(spark, s"$dir/events.parquet")
    val evs = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        col("ts").cast("timestamp").as("ts2"))
      .withWatermark("ts2", "0 seconds")
      .select(col("user_id"), col("event_id"), col("us"), col("ts2"))
      .as[SessEvent]
    sessionize(evs)
  }
}
