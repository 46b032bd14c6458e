package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.{EhrRecord, HealthcareGenerator, InsuranceClaim, PatientVitals}
import graft.model.Config
import graft.operators.TableVersions
import graft.runner.VersionedLakehouse

/** `lakehouse_cycle`: the reference's DAG loop on [[VersionedLakehouse]].
  *
  * The bootstrap (`runEtl(history, 0)` then `buildFact()`) is the JVM's
  * first call into the program, so it runs cold and is not measured. Then,
  * one batch at a time: `refreshFactIncremental(batch, i)` followed by the
  * DAG report set (patient monitoring, claims processing, health gates) over
  * the fresh snapshot. The first batch warms the refresh and report paths
  * and is not measured; a fixed, even number of batches (sized from
  * `--seconds`) follows. Last, `buildFact()` rebuilds the whole fact from the
  * same processed snapshot, timed as the full build: the refresh with the
  * incremental swap bypassed.
  *
  * Inputs are rendered to JSON-lines files before any timing, in the
  * generator's message format and mix (60 % vitals, 20 % claims, 10 % EHR,
  * 10 % unknown type, which is dead-lettered). The history spreads over the
  * fact's 30-day lookback before `Config.default.asOf`; batch `i` carries
  * one simulated day, advancing a day per batch inside that window, so a
  * refresh rewrites the `2 * proximityDays + 1` fact partitions around it.
  */
object LakehouseCycle {
  val historyMsgs = 2000
  val batchMsgs = 800
  /** Nominal seconds of one measured batch cycle on 4 cores: `--seconds`
    * buys `--seconds / nominalBatchS` batches, rounded to an even count.
    */
  private val nominalBatchS = 6.5
  private val cfg = Config.default
  private val asOf: LocalDate = cfg.asOf.toLocalDateTime.toLocalDate
  /** First batch day: a full proximity band after the lookback's start. */
  private val firstBatchDay = asOf.minusDays((cfg.lookbackDays - cfg.proximityDays).toLong)
  /** Batch days cycle through the days whose whole band lies in the window. */
  private val batchDays = cfg.lookbackDays - 2 * cfg.proximityDays

  final case class Mix(vitals: Long, claims: Long, ehr: Long, unknown: Long) {
    def +(o: Mix): Mix = Mix(vitals + o.vitals, claims + o.claims, ehr + o.ehr, unknown + o.unknown)
  }

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def arr(xs: Seq[String]): String = xs.map(esc).mkString("[", ",", "]")

  private def json(v: PatientVitals): String =
    s"""{"data_type":"patient_vitals","patient_id":${esc(v.patient_id)},"timestamp":${esc(v.timestamp)},""" +
      s""""heart_rate":${v.heart_rate},"blood_pressure_systolic":${v.blood_pressure_systolic},""" +
      s""""blood_pressure_diastolic":${v.blood_pressure_diastolic},"temperature":${v.temperature},""" +
      s""""oxygen_saturation":${v.oxygen_saturation},"respiratory_rate":${v.respiratory_rate},""" +
      s""""device_id":${esc(v.device_id)},"location":${esc(v.location)}}"""

  private def json(c: InsuranceClaim): String =
    s"""{"data_type":"insurance_claim","claim_id":${esc(c.claim_id)},"patient_id":${esc(c.patient_id)},""" +
      s""""provider_id":${esc(c.provider_id)},"service_date":${esc(c.service_date)},""" +
      s""""diagnosis_codes":${arr(c.diagnosis_codes)},"procedure_codes":${arr(c.procedure_codes)},""" +
      s""""total_amount":${c.total_amount},"insurance_type":${esc(c.insurance_type)},""" +
      s""""claim_status":${esc(c.claim_status)},"submission_date":${esc(c.submission_date)}}"""

  private def json(e: EhrRecord): String = {
    val labs = e.lab_results.toSeq.sortBy(_._1).map { case (k, l) =>
      s"""${esc(k)}:{"value":${l.value},"unit":${esc(l.unit)},"normal_range":${esc(l.normal_range)}}"""
    }.mkString("{", ",", "}")
    s"""{"data_type":"ehr_record","record_id":${esc(e.record_id)},"patient_id":${esc(e.patient_id)},""" +
      s""""visit_date":${esc(e.visit_date)},"provider_id":${esc(e.provider_id)},""" +
      s""""diagnosis":${esc(e.diagnosis)},"treatment":${esc(e.treatment)},""" +
      s""""medications":${arr(e.medications)},"lab_results":$labs,"notes":${esc(e.notes)}}"""
  }

  /** A uniform double in [0, 1) for (seed, salt, id): a splitmix64 finalizer,
    * so consecutive ids draw independently.
    */
  def unit(seed: Long, salt: Long, id: Long): Double = {
    var z = seed ^ (salt * 0x9E3779B97F4A7C15L) ^ (id * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Render messages `ids` to `path`, each dated by `day(id)`; returns the mix. */
  def render(gen: HealthcareGenerator, seed: Long, ids: Range, day: Long => LocalDate,
      path: String): Mix = {
    var mix = Mix(0, 0, 0, 0)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try ids.foreach { i =>
      val id = i.toLong
      val d = day(id)
      val roll = unit(seed, 1, id)
      if (roll < 0.6) {
        val v = gen.vitals(id)
        val time = LocalDateTime.parse(v.timestamp).toLocalTime
        out.println(json(v.copy(timestamp = d.atTime(time).toString)))
        mix += Mix(1, 0, 0, 0)
      } else if (roll < 0.8) {
        val c = gen.claim(id)
        val gap = ChronoUnit.DAYS.between(LocalDate.parse(c.service_date), LocalDate.parse(c.submission_date))
        val sub = d.plusDays(math.min(gap, ChronoUnit.DAYS.between(d, asOf)))
        out.println(json(c.copy(service_date = d.toString, submission_date = sub.toString)))
        mix += Mix(0, 1, 0, 0)
      } else if (roll < 0.9) {
        out.println(json(gen.ehr(id).copy(visit_date = d.toString)))
        mix += Mix(0, 0, 1, 0)
      } else {
        out.println(s"""{"data_type": "unknown_sensor", "payload": "opaque-$id"}""")
        mix += Mix(0, 0, 0, 1)
      }
    } finally out.close()
    mix
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Outcome = {
    val gen = new HealthcareGenerator(a.seed, asOf)
    val inputs = s"${a.work}/inputs"
    new java.io.File(inputs).mkdirs()
    // a message id is a fixed function of its position, so the same seed
    // renders the same bytes
    val historyFile = s"$inputs/history.jsonl"
    val historyMix = render(gen, a.seed, 0 until historyMsgs,
      id => asOf.minusDays(1L + (unit(a.seed, 2, id) * cfg.lookbackDays).toLong), historyFile)
    def batchFile(i: Int): (String, Mix, LocalDate) = {
      val day = firstBatchDay.plusDays((i % batchDays).toLong)
      val f = s"$inputs/batch-$i.jsonl"
      val from = historyMsgs + i * batchMsgs
      (f, render(gen, a.seed, from until from + batchMsgs, _ => day, f), day)
    }
    def text(f: String): DataFrame = spark.read.text(f)

    Main.log("inputs rendered")

    val lake = new VersionedLakehouse(spark, s"${a.work}/lake", cfg)
    val roots = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
    val processed = roots.take(3)
    val stats = new TableStats(spark, tr)
    def routedBytes(): Double = processed.map(stats.lastAdded).sum.toDouble
    def processedRows(): Long =
      processed.map(r => TableVersions.commitState(spark, r).files.map(_.rows).sum).sum

    var failed = 0
    var attempted = 0
    // the bootstrap of the lake the batches go to: the JVM's first call into
    // the program, cold, so unmeasured (its time is in the detail)
    val c0 = System.nanoTime()
    lake.runEtl(text(historyFile), 0L)
    lake.buildFact()
    val coldBuild = (System.nanoTime() - c0) / 1e9
    // set-up: open the built lake's four tables from their logs, as a fresh
    // process does (reconstructed-state cache dropped first): median of five
    // means of four opens
    val setups = Main.coldOpens(5, 4) {
      val l = new VersionedLakehouse(spark, s"${a.work}/lake", cfg)
      l.processedVitals; l.processedClaims; l.processedEhr; l.fact; ()
    }
    Main.log("cold bootstrap done")

    val refreshWalls = mutable.ArrayBuffer.empty[Double]
    val reportWalls = mutable.ArrayBuffer.empty[Double]
    val reportSetWalls = mutable.ArrayBuffer.empty[Double]
    val affected = mutable.ArrayBuffer.empty[Int]
    val rewriteShare = mutable.ArrayBuffer.empty[Double]
    val routedShare = mutable.ArrayBuffer.empty[Double]
    var appliedMix = historyMix
    var batchTotalMix = Mix(0, 0, 0, 0)
    var lastBatch: Option[(String, Long)] = None
    var i = 0
    /** The first batch, unmeasured: it warms the refresh and report paths. */
    def warmBatch(): Unit = {
      val (file, mix, _) = batchFile(i)
      lake.refreshFactIncremental(text(file), i + 1L)
      appliedMix += mix
      Reports.patientMonitoringReport(cfg)(lake.fact).collect()
      Reports.claimsProcessingReport(cfg)(lake.fact).collect()
      lake.gates()
      i += 1
    }
    /** Hand batch `i` to the refresh, then run the report set. */
    def cycle(): Unit = {
      val (file, mix, _) = batchFile(i)
      val batch = text(file)
      val batchId = i + 1L
      val rows0 = if (tr.on) processedRows() else 0L
      try {
        val (dates, w) = stats.around(roots)(tr.op("refresh") {
          lake.refreshFactIncremental(batch, batchId)
        })
        stats.changed(routedBytes())
        appliedMix += mix
        lastBatch = Some(file -> batchId)
        val share = if (!tr.on) 0.0 else stats.lastTouchedParts(lake.factRoot).size.toDouble /
          stats.liveParts(lake.factRoot).size
        val routed = if (!tr.on) 0.0 else (processedRows() - rows0).toDouble / batchMsgs
        val reports = Seq(
          tr.op("monitoring")(Reports.patientMonitoringReport(cfg)(tr.snapshot(lake.fact)).collect())._2,
          tr.op("claims")(Reports.claimsProcessingReport(cfg)(tr.snapshot(lake.fact)).collect())._2,
          tr.op("gates")(lake.gates())._2)
        refreshWalls += w
        affected += dates.size
        batchTotalMix += mix
        if (tr.on) { rewriteShare += share; routedShare += routed }
        reportWalls ++= reports
        reportSetWalls += reports.sum
      } catch { case e: Exception =>
        failed += 4; System.err.println(s"[perfbench] batch $batchId failed: $e")
      }
      i += 1
    }
    warmBatch()
    Main.log("warm-up batch done")
    val batches = Main.evenCount(a.seconds, nominalBatchS)
    (1 to batches).foreach { _ =>
      attempted += 4
      cycle()
    }

    Main.log(s"measured ${refreshWalls.size} batches")

    // checks, outside the timed calls; `--plant <check>` hands that check a
    // wrong expectation, to show it fails
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    lastBatch.foreach { case (file, id) =>
      val before = roots.map(r => TableVersions.currentVersion(spark, r))
      lake.refreshFactIncremental(text(file), if (a.plant("lake.replay_is_noop")) id + 1 else id)
      val after = roots.map(r => TableVersions.currentVersion(spark, r))
      checks += (("lake.replay_is_noop", before == after, s"versions $before -> $after"))
    }

    // the full build: the whole fact rebuilt from the same processed
    // snapshot, the refresh with the incremental swap bypassed; it must
    // write the fact the refreshes left
    val factFp = TableDml.fingerprint(lake.fact)
    def factFiles() = TableVersions.commitState(spark, lake.factRoot).files
    def part(f: TableVersions.FileEntry) = f.part.getOrElse("measurement_date", "")
    val oldFiles = factFiles().map(_.path).toSet
    attempted += 1
    val (_, fullBuild) = tr.op("full_build")(lake.buildFact())
    val newFiles = factFiles()
    val factPartsAfterBuild = newFiles.map(part).distinct.size
    val fullBuildRewrite =
      newFiles.filterNot(f => oldFiles(f.path)).map(part).distinct.size.toDouble / factPartsAfterBuild
    val rebuiltFp = TableDml.fingerprint(
      if (a.plant("lake.fact_equals_full_build")) lake.fact.limit(1000) else lake.fact)
    checks += (("lake.fact_equals_full_build", factFp == rebuiltFp,
      s"incremental fact $factFp vs full build $rebuiltFp"))
    Main.log("fact and replay checks done")
    val routed = Mix(
      lake.processedVitals.count(), lake.processedClaims.count(), lake.processedEhr.count(),
      Etl.routeUnknown(spark.read.text(historyFile +: (0 until i).map(b => s"$inputs/batch-$b.jsonl"): _*)
        .transform(Etl.pipeline(cfg))).count())
    val expected = if (a.plant("lake.routed_counts_match_mix")) appliedMix + Mix(1, 0, 0, 0)
      else appliedMix
    checks += (("lake.routed_counts_match_mix", routed == expected,
      s"routed $routed vs rendered $expected"))

    val refreshTotal = refreshWalls.sum
    val ingest = batchMsgs * refreshWalls.size / math.max(refreshTotal, 1e-9)
    val counters = stats.counters(roots) ++ (if (!tr.on) Map.empty else Map(
      "runner.affected_dates" -> affected.sum.toDouble / math.max(affected.size, 1),
      "runner.rewrite_share" -> rewriteShare.sum / math.max(rewriteShare.size, 1),
      "etl.msgs" -> batchMsgs.toDouble,
      "etl.deadletter" -> batchTotalMix.unknown.toDouble / math.max(refreshWalls.size, 1),
      "etl.routed_share" -> routedShare.sum / math.max(routedShare.size, 1)))
    Outcome(
      e2e = Map(
        "setup_s" -> Stats.median(setups),
        "bulk_s" -> fullBuild,
        "op_p50_s" -> Stats.median(refreshWalls.toSeq),
        "read_p50_s" -> Stats.median(reportSetWalls.toSeq)),
      counters = counters,
      detail = Map(
        "full_build_s" -> fullBuild, "cold_bootstrap_s" -> coldBuild,
        "refresh_p50_s" -> Stats.median(refreshWalls.toSeq),
        "ingest_msgs_per_s" -> ingest, "report_p50_s" -> Stats.median(reportWalls.toSeq),
        "report_set_p50_s" -> Stats.median(reportSetWalls.toSeq),
        "batches" -> refreshWalls.size, "batch_msgs" -> batchMsgs, "history_msgs" -> historyMsgs,
        "affected_dates_per_batch" -> affected.toSeq,
        "rewrite_share_per_batch" -> rewriteShare.toSeq,
        "full_build_rewrite_share" -> fullBuildRewrite,
        "fact_partitions_after_build" -> factPartsAfterBuild,
        "setup_samples_s" -> setups),
      checks = checks.toSeq, attempted = attempted, failedOps = failed)
  }
}
