package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Scheduler counters at one instant; differences give a span's share. */
final case class Tally(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                       shuffleWriteBytes: Long) {
  def -(o: Tally): Tally = Tally(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleWriteBytes - o.shuffleWriteBytes)
  def +(o: Tally): Tally = Tally(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, shuffleWriteBytes + o.shuffleWriteBytes)
}

/** One SparkListener for the whole run: counts jobs, completed stages,
  * tasks, summed task wall time and shuffle bytes written. */
final class Tallies(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, taskMs, shuffleW = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskMs.addAndGet(e.taskInfo.duration)
    if (e.taskMetrics != null)
      shuffleW.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  sc.addSparkListener(this)

  /** Exact counters: waits until every event posted so far is delivered. */
  def now(): Tally = {
    ListenerDrain.drain(sc)
    Tally(jobs.get, stages.get, tasks.get, taskMs.get, shuffleW.get)
  }

  /** Block-manager memory in use across executors, in MB. */
  def storageMb(): Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }
      .sum / 1e6
}

/** Share of the machine's CPU time taken by the hypervisor (steal) since
  * the last call, from /proc/stat; NaN where that file does not exist.
  * Logged per pass: a pass that ran while the host took CPU away is slow
  * for reasons no change to the engine can show. */
final class Steal {
  private def read(): Option[Array[Long]] =
    try {
      val f = java.nio.file.Paths.get("/proc/stat")
      Some(java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").tail
        .map(_.toLong))
    } catch { case _: Exception => None }

  private var last = read()

  def share(): Double = {
    val now = read()
    val out = for (a <- last; b <- now if a.length > 7 && b.length > 7) yield {
      val total = b.zip(a).take(8).map { case (x, y) => x - y }.sum
      if (total > 0) (b(7) - a(7)).toDouble / total else 0.0
    }
    last = now
    out.getOrElse(Double.NaN)
  }
}

/** One measured span: layer name, the pass that ran it, start and end in
  * seconds since the run began, and the scheduler work inside it. */
final case class Span(name: String, pass: Int, start: Double, end: Double,
                      tally: Tally) {
  def seconds: Double = end - start
}

/**
 * Spans wrap each call into an engine layer. When tracing is off a span
 * is just the call, so the untraced pass pays nothing for the layer
 * breakdown; when it is on, the listener bus is drained at both ends so
 * the counts belong to the span exactly. Spans are kept in memory and
 * written out when the run ends; the per-layer metrics are medians over
 * the successful passes of each layer's per-pass total.
 */
final class Spans(tallies: Tallies, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private var pass = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private val okPasses = mutable.Set.empty[Int]

  private def now = (System.nanoTime() - t0) / 1e9

  def startPass(i: Int): Unit = pass = i

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val a = tallies.now()
      val start = now
      val out = body
      val end = now
      spans += Span(name, pass, start, end, tallies.now() - a)
      out
    }

  /** Keep the pass's spans for the metrics only if it succeeded. */
  def endPass(ok: Boolean): Unit = if (ok) okPasses += pass

  /** Median over successful passes of `f` of the layer's per-pass total
    * (a layer called several times in one pass is summed); 0 if never run. */
  def median(name: String)(f: Span => Double): Double =
    Stats.median(spans.filter(s => s.name == name && okPasses(s.pass))
      .groupBy(_.pass).values.map(ss => f(ss.reduce((a, b) =>
        Span(name, a.pass, a.start, a.end + b.seconds, a.tally + b.tally))))
      .toSeq)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
