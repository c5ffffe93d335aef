package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Outside-in tracing: spans opened by the benchmark around its calls into
  * the program, plus a [[SparkListener]] that records every Spark job and
  * task. Nothing is attributed while the run is going; the raw records stay
  * in memory and [[Trace.report]] joins them when the run ends:
  *
  *  - a job belongs to the innermost span open when it started (the
  *    benchmark is a single client, so span time is global, and jobs a
  *    program submits from its own thread pools still land in the span
  *    that caused them);
  *  - a job belongs to the `graft.<module>` package of its call site, the
  *    first `graft.` frame of its result stage's long call-site form. Jobs
  *    with no such frame (Spark's own broadcast threads, or an action the
  *    benchmark issues itself) take the module of their span's name;
  *  - a span's driver gap is its wall time during which no job ran.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var depth = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = e.stageInfos.sortBy(-_.stageId).headOption
    jobs.put(e.jobId,
      JobRec(e.time, Long.MaxValue, moduleOf(result.map(_.details).orNull)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    started.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.computeIfAbsent(e.stageId, _ => new Acc)
    acc.synchronized {
      if (e.taskInfo != null) acc.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        acc.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Time `body` as span `name` (`<module>.<call>`). */
  def span[T](name: String)(body: => T): T = {
    val rec = new SpanRec(name, depth, System.currentTimeMillis(), 0L)
    synchronized { spans += rec; depth += 1 }
    try body
    finally synchronized { rec.endMs = System.currentTimeMillis(); depth -= 1 }
  }

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (ended.get < started.get && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Per-span-name totals over the spans that started at or after
    * `fromMs` (the end of set-up) or are named in `setupSpans`, and
    * per-module totals over the jobs that started at or after `fromMs`.
    */
  def report(fromMs: Long, setupSpans: Set[String] = Set.empty): Report = {
    drain()
    val done = synchronized(spans.filter(s =>
      s.startMs >= fromMs || setupSpans(s.name)).toVector)
    val jobList = jobs.asScala.toVector.sortBy(_._2.startMs)
    // innermost span containing each job's start
    def spanOf(t: Long): Option[SpanRec] =
      done.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (-s.depth, -s.startMs)).headOption
    val jobSpan: Map[Int, Option[SpanRec]] =
      jobList.map { case (id, j) => id -> spanOf(j.startMs) }.toMap
    val stageByJob: Map[Int, Seq[Int]] =
      stageJob.asScala.toSeq.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1) }
    def accOfJob(id: Int): Acc = {
      val a = new Acc
      stageByJob.getOrElse(id, Nil).flatMap(s => Option(stageAcc.get(s)))
        .foreach(a.add)
      a
    }
    val busy = merged(jobList.map { case (_, j) =>
      (j.startMs, if (j.endMs == Long.MaxValue) j.startMs else j.endMs) })

    val perSpan = mutable.LinkedHashMap.empty[String, SpanStats]
    done.foreach { s =>
      val st = perSpan.getOrElseUpdate(s.name, new SpanStats)
      st.calls += 1
      st.wallMs += (s.endMs - s.startMs)
      st.walls += (s.endMs - s.startMs)
      st.gapMs += (s.endMs - s.startMs) - overlap(busy, s.startMs, s.endMs)
    }
    val perModule = mutable.LinkedHashMap.empty[String, Acc]
    val instOut = mutable.Map.empty[SpanRec, Long].withDefaultValue(0L)
    jobList.foreach { case (id, j) =>
      val a = accOfJob(id)
      val sp = jobSpan(id)
      sp.foreach { s =>
        val st = perSpan(s.name)
        st.jobs += 1
        st.acc.add(a)
        instOut(s) += a.outputBytes
      }
      if (j.startMs >= fromMs) {
        val module =
          if (j.module != Unknown) j.module
          else sp.map(_.name.takeWhile(_ != '.')).getOrElse(Unknown)
        val m = perModule.getOrElseUpdate(module, new Acc)
        m.jobs += 1
        m.add(a)
      }
    }
    instOut.foreach { case (s, b) =>
      val st = perSpan(s.name)
      st.maxOutputBytes = math.max(st.maxOutputBytes, b)
    }
    Report(perSpan.toMap, perModule.toMap)
  }
}

object Trace {
  val Unknown = "other"
  private val GraftFrame = """^graft\.([a-z]+)\.""".r.unanchored

  final case class JobRec(startMs: Long, var endMs: Long, module: String)

  /** One call; compared by identity, two calls never merge. */
  final class SpanRec(val name: String, val depth: Int, val startMs: Long, var endMs: Long)

  final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    def add(o: Acc): Unit = o.synchronized {
      taskMs += o.taskMs; shuffleBytes += o.shuffleBytes
      outputBytes += o.outputBytes
    }
  }

  final class SpanStats {
    var calls = 0
    var jobs = 0L
    var wallMs = 0L
    var gapMs = 0L
    var maxOutputBytes = 0L
    val walls = mutable.ArrayBuffer.empty[Long]
    val acc = new Acc
  }

  final case class Report(spans: Map[String, SpanStats], modules: Map[String, Acc])

  /** `graft.<module>` of the first program frame in a long call site. */
  def moduleOf(callSite: String): String =
    Option(callSite).iterator.flatMap(_.linesIterator)
      .map(_.trim).collectFirst { case GraftFrame(m) => m }
      .getOrElse(Unknown)

  /** Union of [start, end] intervals, sorted and disjoint. */
  def merged(iv: Seq[(Long, Long)]): Vector[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((s0, e0)), (s, e)) if s <= e0 => acc :+ ((s0, math.max(e0, e)))
      case (acc, x) => acc :+ x
    }

  /** Length of `[lo, hi]` covered by the disjoint intervals `iv`. */
  def overlap(iv: Vector[(Long, Long)], lo: Long, hi: Long): Long =
    iv.iterator.map { case (s, e) => math.max(0L, math.min(e, hi) - math.max(s, lo)) }.sum
}
