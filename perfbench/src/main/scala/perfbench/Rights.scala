package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.cli.CurateCli
import graft.operators.{DeletionVectors, Fsck}
import graft.policy.{Consent, PrivacyLedger}
import graft.validate.DpRelease

/** `rights`: data-subject requests against one curated store. Set-up
  * bootstraps the store with `runIncremental` (consent gate on; search,
  * exact, agg and profile legs; `compactAt` low enough that it compacts)
  * from one batch in which the scripted subjects' documents are mixed with
  * planted duplicates and ungranted documents, plus the consent registry
  * and the owner mapping. One unit is one request cycle, each request for
  * its own subject: forget (a global deletion vector), consent withdrawal,
  * a ledger-charged DP release, erase, rectify, settle (the physical sweep
  * of the forgotten subject) and access. The run ends with one fsck audit
  * and a ledger replay.
  */
final class Rights(ctx: Ctx) extends Workload {
  import Rights.Cycle
  import ctx.{check, op, spark}
  import spark.implicits._

  private val Purpose = "analytics"
  private val Admission = "training"
  private val Dataset = "corpus_by_source"
  private val Eps = 1.0
  private val CompactAt = 2
  private val exactDups = Meta.ids(ctx.input("rights/exact_dups.txt")).toSet
  private val denied = Meta.ids(ctx.input("rights/denied.txt")).toSet
  private val state = ctx.dir("rights/state")
  private val consentDir = ctx.dir("rights/consent")
  private val ledgerDir = ctx.dir("rights/ledger")
  private val mappingPath = ctx.dir("rights/mapping")
  private val cycles = collection.mutable.ArrayBuffer.empty[Double]
  private var requests = 0
  private var releases = Vector.empty[String]
  private var live = 0L            // documents landed, net of sweeps

  private lazy val script: Vector[Cycle] = spark.read
    .schema("cycle INT, forget LONG, withdraw LONG, erase LONG, rectify LONG")
    .json(ctx.input("rights/script.jsonl")).as[Cycle].collect()
    .sortBy(_.cycle).toVector
  private lazy val owned: Map[Long, Seq[Long]] = spark.read.parquet(mappingPath)
    .as[(Long, Long)].collect().toSeq.groupMap(_._1)(_._2)
  private lazy val textBytes: Map[Long, Long] = spark.read
    .schema("doc_id LONG, text STRING")
    .json(ctx.input("rights/batch_0.jsonl"))
    .select(col("doc_id"), octet_length(col("text")).cast("long"))
    .as[(Long, Long)].collect().toMap
  /** Bytes of the rows each write verb changed, for write amplification. */
  private val changedBytes =
    collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  def setup(): Unit = {
    spark.read.schema("subject_id LONG, doc_id LONG")
      .json(ctx.input("rights/owners.jsonl")).write.parquet(mappingPath)
    Consent.init(spark, consentDir, spark.read
      .schema("subject_id LONG, purpose STRING, granted BOOLEAN, updated_at LONG")
      .json(ctx.input("rights/consent.jsonl")))
    bootstrap() // also the JVM's and Spark's warm-up
  }

  /** Land the batch through the consent gate and every index leg. */
  private def bootstrap(): Unit = {
    val in = ctx.dir("rights/in/batch_0")
    spark.read.schema("doc_id LONG, source STRING, lang STRING, text STRING")
      .json(ctx.input("rights/batch_0.jsonl")).write.parquet(in)
    val s = op("cli.runIncremental") {
      CurateCli.runIncremental(spark, in, state, nShards = 2,
        compactAt = CompactAt, searchIndex = true, profileStats = true,
        exactIndex = true, aggStats = true,
        consent = Some(CurateCli.ConsentGateCfg(consentDir, Admission,
          admittedAt = Some(1700000000000L))))
    }
    val batchIds = spark.read.parquet(in).select(col("doc_id")).as[Long]
      .collect().toSet
    val nDenied = batchIds.count(denied.contains)
    check("rights.bootstrap_audit", s.auditOk && s.nIn == batchIds.size &&
      s.nConsentDenied == nDenied,
      s"$s, expected ${batchIds.size} in, $nDenied denied")
    live += s.nFresh
    val corpus = corpusIds()
    check("rights.bootstrap_corpus_rows", corpus.size == live,
      s"${corpus.size} corpus rows, batches landed $live net of sweeps")
    val leaked = corpus.count(id => exactDups.contains(id) || denied.contains(id))
    check("rights.bootstrap_dups_and_denied_dropped", leaked == 0,
      s"$leaked planted duplicates or ungranted docs admitted")
  }

  def unit(i: Int): Unit = {
    val (t0, n0) = (ctx.opSeconds, ctx.opCount)
    cycle(script(i))
    cycles += ctx.opSeconds - t0
    requests += ctx.opCount - n0
  }

  def minUnits: Int = 1
  def maxUnits: Int = script.size

  private def subjects(tag: String, ids: Seq[Long]): String = {
    val p = ctx.dir(s"rights/req/$tag")
    ids.toDF("subject_id").write.mode("overwrite").parquet(p)
    p
  }

  private def corpusIds(): Set[Long] =
    spark.read.parquet(s"$state/corpus").select(col("doc_id")).as[Long]
      .collect().toSet

  private def servedIds(): Set[Long] =
    DeletionVectors.maskServing(spark, state, spark.read.parquet(s"$state/corpus"))
      .select(col("doc_id")).as[Long].collect().toSet

  private def cycle(c: Cycle): Unit = {
    val n = c.cycle
    val forgotten = owned(c.forget)
    val erased = owned(c.erase)
    val withdrawnDocs = owned(c.withdraw)

    val forgetReq = subjects(s"$n/forget", Seq(c.forget))
    val (nForgot, _) = op("cli.forget") {
      CurateCli.runEraseLogicalBySubject(spark, forgetReq, mappingPath, state)
    }
    check("rights.forget_keys", nForgot == forgotten.size,
      s"cycle $n: $nForgot keys, ${forgotten.size} owned")
    check("rights.forget_masked", servedIds().intersect(forgotten.toSet).isEmpty,
      s"cycle $n: forgotten docs still served")

    op("policy.withdraw") {
      Consent.withdraw(spark, consentDir, Seq(c.withdraw).toDF("subject_id"),
        Purpose, 1700000000000L + 1000L * (n + 1), Some(state),
        Some(spark.read.parquet(mappingPath)))
    }
    val stillGranted = Consent.gate(spark, consentDir,
      Seq(c.withdraw, c.rectify).toDF("subject_id"), Purpose, "subject_id")
      .as[Long].collect().toSet
    check("rights.consent_gate", stillGranted == Set(c.rectify),
      s"cycle $n: gate admits $stillGranted after withdrawing ${c.withdraw}")

    val releaseId = s"release-$n"
    op("policy.dp_release") {
      op("policy.authorizeAndCharge") {
        PrivacyLedger.authorizeAndCharge(spark, ledgerDir, Dataset, releaseId,
          Eps, budgetEps = 1000.0)
      }
      val served = DeletionVectors.maskServing(spark, state,
        spark.read.parquet(s"$state/corpus"), purpose = Some(Purpose))
      DpRelease.noisyCounts(served, col("source"), "source", Eps, releaseId)
        .write.mode("overwrite").parquet(ctx.dir(s"rights/release/$n"))
    }
    releases :+= releaseId
    val (nCharges, spent, _) = PrivacyLedger.spent(spark, ledgerDir, Dataset)
    check("rights.ledger_spend",
      nCharges == releases.size && math.abs(spent - Eps * releases.size) < 1e-9,
      s"cycle $n: $nCharges charges, eps $spent after ${releases.size} releases")

    val eraseReq = subjects(s"$n/erase", Seq(c.erase))
    op("cli.erase")(CurateCli.runEraseBySubject(spark, eraseReq, mappingPath, state))
    changedBytes("cli.erase") += erased.map(textBytes).sum
    live -= erased.size
    check("rights.erase_gone", corpusIds().intersect(erased.toSet).isEmpty,
      s"cycle $n: erased docs still in the corpus")

    val corrPath = ctx.dir(s"rights/corrected/$n")
    spark.read.schema("cycle INT, doc_id LONG, text STRING")
      .json(ctx.input("rights/corrections.jsonl"))
      .filter(col("cycle") === n).select(col("doc_id"), col("text"))
      .write.parquet(corrPath)
    val wanted = spark.read.parquet(corrPath).as[(Long, String)].collect().toMap
    val rect = op("cli.rectify")(CurateCli.runRectify(spark, corrPath, state))
    changedBytes("cli.rectify") += wanted.values.map(_.getBytes("UTF-8").length.toLong).sum
    val landed = spark.read.parquet(s"$state/corpus")
      .filter(col("doc_id").isin(wanted.keys.toSeq: _*))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    check("rights.rectify", rect.nMatched == wanted.size && landed == wanted,
      s"cycle $n: matched ${rect.nMatched} of ${wanted.size}")

    val settled = op("cli.settle")(CurateCli.runEraseSettle(spark, state))
    changedBytes("cli.settle") += forgotten.map(textBytes).sum
    live -= forgotten.size
    check("rights.settle",
      settled.nonEmpty && DeletionVectors.pending(spark, state)._1 == 0 &&
        corpusIds().intersect(forgotten.toSet).isEmpty,
      s"cycle $n: settle left pending debt or forgotten docs")

    // Art. 15 after the sweeps: the forgotten and the erased subjects'
    // documents are gone from the report, the withdrawn subject's are
    // disclosed as purpose-masked
    val accessReq = subjects(s"$n/access", Seq(c.forget, c.erase, c.withdraw))
    val acc = op("cli.access") {
      CurateCli.runAccessBySubject(spark, accessReq, mappingPath, state,
        ctx.dir(s"rights/report/$n"), Some(consentDir))
    }
    check("rights.access_report",
      acc.nKeys == forgotten.size + erased.size + withdrawnDocs.size &&
        acc.nCorpus == withdrawnDocs.size && acc.nMaskedPending == 0 &&
        acc.nPurposeMasked == withdrawnDocs.size,
      s"cycle $n: $acc, expected ${withdrawnDocs.size} rows present and " +
        s"purpose-masked, ${forgotten.size + erased.size} erased")
  }

  override def finish(): Unit = {
    val checks = op("operators.fsck")(Fsck.state(spark, state))
    check("rights.fsck", checks.nonEmpty && checks.forall(_.ok),
      checks.filterNot(_.ok).mkString("; "))
    // a replayed release is not charged twice
    PrivacyLedger.authorizeAndCharge(spark, ledgerDir, Dataset, releases.last,
      Eps, budgetEps = 1000.0)
    val (nCharges, _, _) = PrivacyLedger.spent(spark, ledgerDir, Dataset)
    check("rights.ledger_replay", nCharges == releases.size,
      s"$nCharges charges after replaying one of ${releases.size}")
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("items_per_s", requests / cycles.sum, "1/s"),
    ("op_p50_s", ctx.median(cycles.toSeq), "s"))

  def perLayer(r: Trace.Report): Map[String, Double] =
    Seq("cli.erase", "cli.rectify", "cli.settle").map { v =>
      val out = r.spans.get(v).map(_.acc.outputBytes).getOrElse(0L)
      s"$v.write_amp" -> (if (changedBytes(v) == 0) 0.0
                          else out.toDouble / changedBytes(v))
    }.toMap ++ Map(
      "cli.runIncremental.output_bytes_max" -> r.spans.get("cli.runIncremental")
        .map(_.maxOutputBytes.toDouble).getOrElse(0.0),
      "store.bytes_per_input_byte" -> Meta.treeBytes(Paths.get(state)).toDouble /
        java.nio.file.Files.size(Paths.get(ctx.input("rights/batch_0.jsonl"))))


  /** The bootstrap runs once, in set-up; its span is the append path's
    * only per-layer record (cold: it is also the JVM's warm-up). */
  override def setupSpans: Set[String] = Set("cli.runIncremental")
}

object Rights {
  /** One scripted cycle: a fresh subject for each changing verb. */
  final case class Cycle(cycle: Int, forget: Long, withdraw: Long,
      erase: Long, rectify: Long)
}
