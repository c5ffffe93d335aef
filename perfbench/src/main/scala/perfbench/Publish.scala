package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.pipeline.Pipeline
import graft.policy.{EngineConfig, PolicyCatalog}
import graft.validate.Validate

/** `publish`: full publish passes over the seeded services table, the
  * `PipelineCli` flow step for step — ingest, the four pipeline layers and
  * a parquet write of the mart, the compliance gate, the PII report and the
  * Mondrian geographic release. One unit is one pass. There is no warm-up:
  * `PipelineCli` is a one-shot process, so a publish pays the cold pass
  * every time, and the first pass in a fresh JVM is what a user waits for.
  */
final class Publish(ctx: Ctx) extends Workload {
  import ctx.{check, op, spark}

  private val cfg = EngineConfig()
  private val k = cfg.kAnonymityMin
  private val meta = Meta.read(ctx.input("publish/meta.json"))
  private val rows = meta("rows").toLong
  private val passes = collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = ()

  def minUnits: Int = 1
  def maxUnits: Int = 1

  def unit(i: Int): Unit = {
    val before = ctx.opSeconds
    pass(s"p$i")
    passes += ctx.opSeconds - before
  }

  private def pass(tag: String): Unit = {
    val out = ctx.dir(s"publish/$tag")
    val (good, corrupt) = op("ingest.readJsonl") {
      Ingest.readJsonl(spark, ctx.input("publish/services"))
    }
    check("publish.no_corrupt_rows", corrupt == 0, s"$corrupt corrupt rows")
    val staged = Pipeline.staging(good)
    val anon = Pipeline.anonymize(staged, PolicyCatalog.reference, cfg)
    val enriched = Pipeline.enrich(anon, cfg.gpsPrecision)
    val mart = Pipeline.mart(enriched, cfg)
    op("pipeline.mart_write") {
      mart.write.mode("overwrite").parquet(s"$out/mart_services_open_data")
    }
    val martBack = spark.read.parquet(s"$out/mart_services_open_data")
    val (nStaged, nMart, nPii, nScan, nK, badEmails) = op("validate.gate") {
      val piiViolations = Validate.assertNoPiiInMart(martBack).cache()
      val scanHits = Validate.piiScan(martBack).cache()
      val quality = Validate.qualityMetrics(enriched).head()
      val kViol = Validate
        .kAnonymityViolations(enriched, "organization_category", k).cache()
      val r = (staged.count(), martBack.count(), piiViolations.count(),
        scanHits.count(), kViol.count(),
        quality.getAs[Long]("emails_improperly_anonymized"))
      Validate.piiReport(spark, PolicyCatalog.reference)
        .coalesce(1).write.mode("overwrite").json(s"$out/pii_report")
      Seq(piiViolations, scanHits, kViol).foreach(_.unpersist())
      r
    }
    check("publish.gate_clean", nPii + nScan + nK + badEmails == 0,
      s"pii=$nPii scan=$nScan k=$nK badEmails=$badEmails")
    check("publish.staged_rows", nStaged == meta("staged_rows").toLong,
      s"$nStaged staged, expected ${meta("staged_rows")}")
    check("publish.mart_rows", nMart == meta("mart_rows").toLong,
      s"$nMart mart rows, expected ${meta("mart_rows")}")
    val geo = op("pipeline.geoRelease") {
      Pipeline.geoRelease(staged, k).map { g =>
        g.write.mode("overwrite").parquet(s"$out/geo_release")
        spark.read.parquet(s"$out/geo_release")
          .agg(count(lit(1)), min(col("n_rows")), sum(col("n_rows"))).head()
      }
    }
    geo match {
      case None => check("publish.geo_release", false, "no release")
      case Some(r) =>
        check("publish.geo_groups_k", r.getLong(0) > 0 && r.getLong(1) >= k,
          s"${r.getLong(0)} groups, smallest ${r.get(1)}")
        check("publish.geo_rows", r.getLong(2) == meta("located_rows").toLong,
          s"groups hold ${r.getLong(2)} rows, expected ${meta("located_rows")}")
    }
    if (ctx.trace.nonEmpty) isolate(staged, anon, Seq(mart, enriched))
    spark.catalog.clearCache()
  }

  /** Traced runs only, after the pass's own steps: the masking layer's
    * cost by isolation (a noop-sink write of the anonymized frame minus one
    * of staging alone), and the planning time of the pass's frames.
    */
  private def isolate(staged: DataFrame, anon: DataFrame, frames: Seq[DataFrame]): Unit = {
    // `website` stays out of both sides: Ingest.flatten's element_at(website, 1)
    // throws on an empty array under ANSI mode once the column is
    // materialized (the mart prunes it, so the publish pass never is)
    def noop(df: DataFrame): Unit =
      df.drop(df.columns.filter(_.startsWith("website")).toSeq: _*)
        .write.format("noop").mode("overwrite").save()
    ctx.probe("masking.staging_noop")(noop(staged))
    ctx.probe("masking.anonymize_noop")(noop(anon))
    ctx.probe("plan.executedPlan") {
      frames.foreach(f => f.select(f.columns.toSeq.map(col): _*).queryExecution.executedPlan)
    }
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("items_per_s", rows * passes.size / passes.sum, "1/s"),
    ("op_p50_s", ctx.median(passes.toSeq), "s"))

  def perLayer(r: Trace.Report): Map[String, Double] = {
    def taskS(n: String) = r.spans.get(n)
      .map(s => s.acc.taskMs / 1e3 / s.calls).getOrElse(0.0)
    Map(
      "masking.maskModel.task_s" ->
        (taskS("masking.anonymize_noop") - taskS("masking.staging_noop")),
      "plan.wall_s" -> r.spans.get("plan.executedPlan")
        .map(s => ctx.median(s.walls.map(_ / 1e3).toSeq)).getOrElse(0.0))
  }

}
