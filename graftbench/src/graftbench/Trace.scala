package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import graft.fetch.Fetcher
import graft.model.FetchedPage

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * axis as the listener's job timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span log, written once at the end of a run. A span's self time
  * is its duration minus the union of its children's.
  */
final class Spans {
  final case class Span(idx: Int, name: String, id: String, parent: Int,
      start: Double, var end: Double)
  val all = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def apply[T](name: String, id: String = "")(f: => T): T = {
    val s = Span(all.size, name, id, stack.head, Clock.now, Double.NaN)
    all += s
    stack = s.idx :: stack
    try f finally { s.end = Clock.now; stack = stack.tail }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
  def one(name: String): Span = named(name).head
}

/** Which superstep phase a Spark job belongs to, read from the job's call
  * site and the engine source (`CrawlEngine.scala`):
  *  1. jobs of the `graft-commit` scheduler pool are the background commit;
  *  2. else the first frame that names a phase method (`methods`);
  *  3. else, when the stack passes through `CrawlEngine.timed`, the
  *     `timed("<name>")` call that frame's caller sits in (`timed`);
  *  4. else the engine statement the innermost engine frame is on, for
  *     the statements that start jobs outside any marker or section,
  *     recognised by a fragment of their source line (`statements`);
  *  5. else the `// -- <title>` section of `step()` that the innermost
  *     engine frame lies in, each section ending at the next header or at
  *     the end of `step()` (`sections`).
  * Anything else is `other`: other code before the first section, a
  * section whose title is not in the table, or a renamed method, so a
  * restructured engine shows up as a growing `other` share.
  */
final class PhaseTable(engineSource: Seq[String]) {
  private val timed = Map(
    "wave" -> "wave", "fetch" -> "fetch", "meta.collect" -> "items",
    "probe" -> "items", "items" -> "items", "spawn" -> "spawn",
    "front.ckpt" -> "checkpoint", "commit" -> "commit",
    "commit.bg" -> "commit", "commit.await" -> "commit")
  private val methods = Seq(
    "writeArchive" -> "commit", "commitWork" -> "commit",
    "buildWave" -> "wave", "graft.frontier.Politeness" -> "wave",
    "graft.fetch.FetchStage" -> "fetch", "graft.items.Items" -> "items",
    "graft.frontier.BloomSeen" -> "spawn", "seedResolved" -> "seed")
  /** The empty-wave skip-ahead: when nothing is eligible at this step,
    * `step()` looks up the earliest `notBeforeStep` and builds the wave
    * there. */
  private val statements = Seq(
    ".agg(min(col(\"notBeforeStep\"))).head()" -> "wave")
  /** Section titles of `step()`, by prefix. "run accounting update" and
    * "job-state updates + fetch log" started no Spark job in the traced
    * runs and are left out, so a job that appears there counts as `other`. */
  private val sections = Seq(
    "fetch+extract" -> "fetch", "tiny-wave fast path" -> "items",
    "sizing probe" -> "items", "items path" -> "items",
    "item-meta cache update" -> "items", "spawned-jobs path" -> "spawn",
    "frontier rewrite" -> "wave", "bloom update" -> "spawn",
    "append-only writes" -> "checkpoint")
  private val Frame = """([\w.$]+)\((\w+)\.scala:(\d+)\)""".r
  private val Marker = """timed\("([\w.]+)"\)""".r
  private val Header = """^\s*// -- (.*)""".r
  private def sourceLine(line: Int): String = engineSource.lift(line - 1).getOrElse("")

  private val stepStart = engineSource.indexWhere(_.contains("def step(): Boolean")) + 1
  private val stepEnd =
    if (stepStart <= 0) 0
    else engineSource.indexWhere(_.matches("""^  (private )?def .*"""), stepStart) match {
      case -1 => engineSource.size
      case i => i
    }
  /** (first line, phase) of each section of `step()`, in source order;
    * `None` for a title not in the table. */
  private val sectionStarts: Seq[(Int, Option[String])] =
    (stepStart until stepEnd).flatMap { i =>
      Header.findFirstMatchIn(engineSource(i)).map { m =>
        (i + 1, sections.collectFirst { case (k, p) if m.group(1).startsWith(k) => p })
      }
    }
  private def sectionAt(line: Int): Option[String] =
    if (line > stepEnd) None
    else sectionStarts.takeWhile(_._1 <= line).lastOption.flatMap(_._2)

  /** The `timed("<name>")` call whose argument list holds `line`: the
    * nearest such call at or above it. Only asked for a frame that the
    * stack shows is inside `timed`. */
  private def enclosingMarker(line: Int): Option[String] =
    (line to 1 by -1).iterator.map(sourceLine).flatMap(Marker.findFirstMatchIn)
      .nextOption().map(_.group(1))

  /** The call site's frames, innermost first, as `Class.method:line`. */
  def site(callSite: String): String =
    callSite.linesIterator.flatMap(Frame.findFirstMatchIn)
      .map(m => s"${m.group(1).split('.').takeRight(2).mkString(".")}:${m.group(3)}")
      .mkString(" < ")

  def of(pool: String, callSite: String): String =
    if (pool == "graft-commit") "commit"
    else {
      val frames = callSite.linesIterator.flatMap(l =>
        Frame.findFirstMatchIn(l).map(m => (m.group(1), m.group(2), m.group(3).toInt))).toSeq
      val byFrame = frames.indices.iterator.flatMap { i =>
        val (method, _, _) = frames(i)
        methods.collectFirst { case (k, p) if method.contains(k) => p }.orElse {
          if (method.endsWith("CrawlEngine.timed"))
            frames.lift(i + 1).collect { case (_, "CrawlEngine", line) => line }
              .flatMap(enclosingMarker).flatMap(timed.get)
          else None
        }
      }.nextOption()
      val engineLine = frames.collectFirst { case (_, "CrawlEngine", line) => line }
      byFrame
        .orElse(engineLine.flatMap(l =>
          statements.collectFirst { case (k, p) if sourceLine(l).contains(k) => p }))
        .orElse(engineLine.flatMap(sectionAt))
        .getOrElse("other")
    }
}

final class JobRec(val id: Int, val start: Long, val pool: String,
    val phase: String, val site: String, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
  def ms: Double = (end - start).toDouble
}

final class StageAgg {
  val taskRunMs = ArrayBuffer.empty[Long]
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
}

/** Benchmark-owned listener: one record per Spark job (call-site phase,
  * scheduler pool, start/end) and per stage (task run times, shuffle and
  * output bytes). Its own callback time is kept in `selfNanos`.
  */
final class Tracer(phases: PhaseTable) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val selfNanos = new AtomicLong()

  private def timedCallback(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally selfNanos.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = timedCallback {
    val pool = Option(js.properties).map(_.getProperty("spark.scheduler.pool")).orNull
    val site = js.stageInfos.headOption.map(_.details).getOrElse("")
    jobs.put(js.jobId, new JobRec(js.jobId, js.time, pool, phases.of(pool, site),
      phases.site(site), js.stageInfos.map(_.stageId)))
    js.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageAgg))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = timedCallback {
    Option(jobs.get(je.jobId)).foreach(_.end = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = timedCallback {
    val agg = stages.computeIfAbsent(te.stageId, _ => new StageAgg)
    val m = te.taskMetrics
    if (m != null) agg.synchronized {
      agg.taskRunMs += m.executorRunTime
      agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      agg.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def jobsIn(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.start >= from && j.start <= to).toSeq.sortBy(_.id)
  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
}

/** Accumulators the timing fetchers of one run report into. */
final case class FetchCounters(calls: LongAccumulator, busyNanos: LongAccumulator,
    ok: LongAccumulator, payloadBytes: LongAccumulator)

object FetchCounters {
  def apply(sc: SparkContext): FetchCounters = FetchCounters(
    sc.longAccumulator("graftbench.fetch.calls"),
    sc.longAccumulator("graftbench.fetch.busyNanos"),
    sc.longAccumulator("graftbench.fetch.ok"),
    sc.longAccumulator("graftbench.fetch.payloadBytes"))
}

/** Timing wrapper around the engine's [[Fetcher]]: counts calls, time
  * inside `fetch`, 2xx responses and payload bytes. The engine broadcasts
  * its fetcher, and in local mode every task thread then shares the
  * driver's accumulator objects, so updates are serialized on them.
  */
final class TimedFetcher(inner: Fetcher, c: FetchCounters) extends Fetcher {
  private def timedFetch(f: => FetchedPage): FetchedPage = {
    val t = System.nanoTime()
    val p = f
    val busy = System.nanoTime() - t
    c.synchronized {
      c.busyNanos.add(busy)
      c.calls.add(1L)
      if (p.status / 100 == 2) c.ok.add(1L)
      if (p.body != null) c.payloadBytes.add(p.body.length.toLong)
    }
    p
  }
  override def fetch(url: String, attempt: Int): FetchedPage =
    timedFetch(inner.fetch(url, attempt))
  override def fetchDynamic(url: String, attempt: Int): FetchedPage =
    timedFetch(inner.fetchDynamic(url, attempt))
}

/** Interval arithmetic over [start, end) pairs in milliseconds. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  def clip(xs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
  def length(xs: Seq[(Double, Double)]): Double = union(xs).map(x => x._2 - x._1).sum
  /** Length of `a` not covered by `b`. */
  def minus(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    length(a) - length(union(a).flatMap { case (s, e) => clip(b, s, e) })
}
