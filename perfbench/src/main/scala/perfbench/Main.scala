package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds the program, generates the
  * seeded inputs and launches this main once per run:
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <resultFile>
  *
  * One workload per run, one closed-loop client: every call into the
  * program waits for the previous one. Set-up (session, state, warm-up)
  * is timed separately from the measured loop, which runs units of work
  * (a publish pass, a rights request cycle) until `seconds` have passed.
  * The result file gets one JSON object with the end-to-end metrics
  * (trace 0) or the per-layer metrics (trace 1).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: perfbench.Main <workload> <inputDir> " +
      "<workDir> <seconds> <trace 0|1> <resultFile>")
    val Array(workload, inputDir, workDir, seconds, traceFlag, resultFile) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ctx = new Ctx(session(), Paths.get(inputDir), Paths.get(workDir),
      traceFlag == "1")
    val wl: Workload = workload match {
      case "publish" => new Publish(ctx)
      case "rights"  => new Rights(ctx)
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var ok = ctx.guard("setup")(wl.setup())
    ctx.opSeconds = 0.0; ctx.opCount = 0
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val measureFrom = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    var units = 0
    while (ok && units < wl.maxUnits &&
        (units < wl.minUnits || System.nanoTime() < deadline)) {
      ok = ctx.guard(s"unit $units")(wl.unit(units))
      units += 1
    }
    if (ok) ctx.guard("final checks")(wl.finish())
    val endToEnd = ("setup_s", setupS, "s") +: wl.endToEnd
    System.err.println("[perfbench] end to end: " + endToEnd.map {
      case (k, v, u) => s"$k=${num(v)} $u" }.mkString(", "))
    val metrics: Seq[(String, Double, String)] = ctx.trace match {
      case None => endToEnd
      case Some(t) =>
        val r = t.report(measureFrom, wl.setupSpans)
        val extra = wl.perLayer(r)
        ctx.spanMetrics(r, Spans) ++ ctx.moduleMetrics(r, units) ++
          Extras.map { case (k, u) => (k, extra.getOrElse(k, 0.0), u) } :+
          (("jvm.peak_rss_mb", peakRssMb(), "MB"))
    }
    val m = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = ctx.failed == 0
    Files.writeString(Paths.get(resultFile),
      s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
        s""""failed":${ctx.failed},"metrics":$m}""" + "\n")
    System.err.println(s"[perfbench] $workload: $units units, " +
      s"setup ${num(setupS)} s, ${ctx.attempted} ops, ${ctx.failed} failed")
    ctx.spark.stop()
    if (!correct) sys.exit(1)
  }

  /** Spans reported per layer, on every workload (zero where a workload
    * does not call them). Names are `<module>.<call>`.
    */
  val Spans: Seq[String] = Seq(
    "ingest.readJsonl", "pipeline.mart_write", "validate.gate",
    "pipeline.geoRelease",
    "cli.forget", "policy.withdraw", "policy.dp_release",
    "policy.authorizeAndCharge", "cli.erase", "cli.rectify", "cli.settle",
    "cli.access",
    "operators.fsck",
    "cli.runIncremental")

  /** Workload-specific per-layer metrics and their units. */
  val Extras: Seq[(String, String)] = Seq(
    "masking.maskModel.task_s" -> "s",
    "plan.wall_s" -> "s",
    "cli.erase.write_amp" -> "ratio",
    "cli.rectify.write_amp" -> "ratio",
    "cli.settle.write_amp" -> "ratio",
    "cli.runIncremental.output_bytes_max" -> "bytes",
    "store.bytes_per_input_byte" -> "ratio")

  /** `graft.Bench`'s session, unchanged: local[cores], one
    * shuffle partition per core, AQE on, UTC.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One workload: set-up (and any warm-up), units of measured work, final
  * audits, and the metrics it reports.
  */
trait Workload {
  def setup(): Unit
  def unit(i: Int): Unit
  def minUnits: Int
  def maxUnits: Int
  def finish(): Unit = ()
  /** `items_per_s` and `op_p50_s`, in this workload's item and unit. */
  def endToEnd: Seq[(String, Double, String)]
  /** Spans that run only in set-up, reported from there. */
  def setupSpans: Set[String] = Set.empty
  /** Values for [[Main.Extras]] this workload measures. */
  def perLayer(r: Trace.Report): Map[String, Double]
}

/** Shared run state: the session, the optional tracer, timed operations
  * and correctness checks. A failed operation or check is counted and its
  * cause printed; the run then stops and exits non-zero.
  */
final class Ctx(val spark: SparkSession, val inputs: Path, val work: Path,
    traced: Boolean) {
  val trace: Option[Trace] =
    if (traced) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
  var attempted = 0L
  var failed = 0L

  /** Seconds and count of the outermost timed operations since set-up. */
  var opSeconds = 0.0
  var opCount = 0
  private var depth = 0

  /** Run `body` as one timed operation named `<module>.<call>`. */
  def op[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    depth += 1
    val out = try trace.fold(body)(_.span(name)(body)) finally depth -= 1
    val secs = (System.nanoTime() - t0) / 1e9
    if (depth == 0) { opSeconds += secs; opCount += 1 }
    System.err.println(f"[perfbench] $name%s $secs%.3f s")
    out
  }

  /** Traced runs only: a span around work that is not part of a unit. */
  def probe(name: String)(body: => Unit): Unit = trace.foreach(_.span(name)(body))

  /** A correctness check; counts as one operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name $detail")
    }
  }

  /** Run a phase; an exception is a failed operation, printed with its
    * cause, and stops the run.
    */
  def guard(phase: String)(body: => Unit): Boolean =
    try { body; true }
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED in $phase:")
        e.printStackTrace()
        false
    }

  def dir(rel: String): String = {
    val p = work.resolve(rel)
    Files.createDirectories(p.getParent)
    p.toString
  }

  def input(rel: String): String = inputs.resolve(rel).toString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Per-layer metrics for the named spans: median wall per call, and per
    * call means of jobs, task seconds, driver gap and bytes; parallelism is
    * task seconds over wall seconds.
    */
  def spanMetrics(r: Trace.Report, names: Seq[String]): Seq[(String, Double, String)] =
    names.flatMap { n =>
      val st = r.spans.get(n)
      val calls = st.map(_.calls.toDouble).getOrElse(0.0)
      def per(v: Double) = if (calls == 0) 0.0 else v / calls
      val wallMed = st.map(s => median(s.walls.map(_ / 1e3).toSeq)).getOrElse(0.0)
      val wall = st.map(_.wallMs / 1e3).getOrElse(0.0)
      val taskS = st.map(_.acc.taskMs / 1e3).getOrElse(0.0)
      Seq(
        (s"$n.wall_s", wallMed, "s"),
        (s"$n.jobs", per(st.map(_.jobs.toDouble).getOrElse(0.0)), "count"),
        (s"$n.task_s", per(taskS), "s"),
        (s"$n.parallelism", if (wall == 0) 0.0 else taskS / wall, "ratio"),
        (s"$n.driver_gap_s", per(st.map(_.gapMs / 1e3).getOrElse(0.0)), "s"),
        (s"$n.shuffle_bytes", per(st.map(_.acc.shuffleBytes.toDouble).getOrElse(0.0)), "bytes"),
        (s"$n.output_bytes", per(st.map(_.acc.outputBytes.toDouble).getOrElse(0.0)), "bytes"))
    }

  /** `mod.<module>.{jobs,task_s}` per unit of measured work. */
  def moduleMetrics(r: Trace.Report, units: Int): Seq[(String, Double, String)] =
    Ctx.Modules.flatMap { m =>
      val a = r.modules.get(m)
      val u = math.max(units, 1).toDouble
      Seq((s"mod.$m.jobs", a.map(_.jobs / u).getOrElse(0.0), "count"),
        (s"mod.$m.task_s", a.map(_.taskMs / 1e3 / u).getOrElse(0.0), "s"))
    }
}

object Ctx {
  val Modules: Seq[String] = Seq("ingest", "pipeline", "validate", "operators",
    "policy", "dedup", "text", "sketch", "cli")
}
