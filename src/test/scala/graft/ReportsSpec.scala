package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.analytics.Reports.HealthAlert
import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.runner.Lakehouse

/** The gates read each table once, in two overlapped actions, and the
  * daily reports sort in one partition (Reports scaladoc). This spec
  * keeps the four-action gates and the range-sorted reports as the
  * references, compares them on adversarial input (doubles by raw bits),
  * and pins the jobs and actions as `<=` budgets.
  */
class ReportsSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Config.default

  private def lastHour(ts: String) = col(ts) >= lit(cfg.asOf) - expr("INTERVAL 1 HOUR")

  // ---- the references: one filtered aggregate and one action per check ----

  private def refFreshness(vitals: DataFrame) =
    vitals.filter(lastHour("processed_at"))
      .agg(count(lit(1)).as("recent_records"),
        max(col("processed_at")).as("latest_processing_time"))

  private def refQuality(vitals: DataFrame) =
    vitals.filter(lastHour("processed_at"))
      .agg(
        count(lit(1)).as("total_records"),
        count(when(col("data_quality_score") < 0.7, 1)).as("low_quality_records"),
        avg(col("data_quality_score")).as("avg_quality_score"))

  private def refHealth(fact: DataFrame) =
    fact.filter(lastHour("measurement_timestamp"))
      .agg(
        count(lit(1)).as("total_encounters"),
        count(when(col("risk_level") === "high_risk", 1)).as("high_risk_encounters"),
        count(when(col("encounter_type") === "comprehensive", 1)).as("comprehensive_encounters"),
        avg(col("encounter_complexity_score")).as("avg_complexity"))

  private def refStaleness(fact: DataFrame) =
    fact.agg(
      max(col("measurement_timestamp")).as("latest_timestamp"),
      ((lit(cfg.asOf).cast("long") - max(col("measurement_timestamp")).cast("long")) / 60)
        .cast("long").as("minutes_since_last_update"))

  private def refGates(vitals: DataFrame, fact: DataFrame): Seq[HealthAlert] = {
    val alerts = Seq.newBuilder[HealthAlert]
    val fresh = refFreshness(vitals).head()
    if (fresh.getAs[Long]("recent_records") == 0L)
      alerts += HealthAlert("freshness", "No recent data found - pipeline may be failing")
    val quality = refQuality(vitals).head()
    val avgScore = Option(quality.getAs[java.lang.Double]("avg_quality_score")).map(_.doubleValue)
    if (avgScore.exists(_ < cfg.minQualityScore))
      alerts += HealthAlert("quality", "Data quality score is below threshold")
    val health = refHealth(fact).head()
    if (health.getAs[Long]("high_risk_encounters") > cfg.highRiskAlertsPerHour)
      alerts += HealthAlert("high_risk", s"High number of high-risk encounters: ${health.getAs[Long]("high_risk_encounters")}")
    if (health.getAs[Long]("total_encounters") == 0L)
      alerts += HealthAlert("health", "Pipeline health check failed - no data processed")
    val staleness = refStaleness(fact).head()
    val mins = Option(staleness.getAs[java.lang.Long]("minutes_since_last_update")).map(_.longValue)
    if (mins.exists(_ > cfg.stalenessMinutes))
      alerts += HealthAlert("staleness", s"Data is stale - last update was ${mins.get} minutes ago")
    alerts.result()
  }

  private def refMonitoring(fact: DataFrame) =
    fact
      .filter(col("measurement_timestamp") >= lit(cfg.asOf) - expr("INTERVAL 24 HOURS"))
      .groupBy(to_date(col("measurement_timestamp")).as("date"))
      .agg(
        count(lit(1)).as("total_measurements"),
        count(when(col("elevated_heart_rate_alert"), 1)).as("elevated_heart_rate_count"),
        count(when(col("low_oxygen_alert"), 1)).as("low_oxygen_count"),
        count(when(col("fever_alert"), 1)).as("fever_count"),
        avg(col("heart_rate")).as("avg_heart_rate"),
        avg(col("temperature")).as("avg_temperature"))
      .orderBy(col("date").desc)

  private def refClaims(fact: DataFrame) =
    fact
      .filter(col("primary_service_date") >= date_sub(to_date(lit(cfg.asOf)), 7))
      .groupBy(col("primary_service_date").as("date"))
      .agg(
        count(lit(1)).as("total_claims"),
        sum(col("primary_claim_amount")).as("total_value"),
        count(when(col("primary_claim_status") === "Paid", 1)).as("paid_claims"),
        count(when(col("primary_claim_status") === "Denied", 1)).as("denied_claims"),
        avg(col("primary_processing_days")).as("avg_processing_days"))
      .orderBy(col("date").desc)

  // ---- comparison ----

  /** Rows in order, doubles as their raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private def assertSame(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.schema === expected.schema)
    assert(bits(actual) === bits(expected))
  }

  /** The gates and each of the four checks equal their references. */
  private def assertGates(vitals: DataFrame, fact: DataFrame): Seq[String] = {
    assertSame(Reports.freshnessCheck(cfg)(vitals), refFreshness(vitals))
    assertSame(Reports.qualityCheck(cfg)(vitals), refQuality(vitals))
    assertSame(Reports.pipelineHealth(cfg)(fact), refHealth(fact))
    assertSame(Reports.stalenessCheck(cfg)(fact), refStaleness(fact))
    val alerts = Reports.evaluateGates(cfg)(vitals, fact)
    assert(alerts === refGates(vitals, fact))
    alerts.map(_.check)
  }

  // ---- inputs ----

  private def ts(s: String) = Timestamp.valueOf(s)

  /** `PipelineSpec`'s two-column vitals. */
  private def vitals(rows: (Timestamp, Option[Double])*): DataFrame =
    rows.toDF("processed_at", "data_quality_score")

  /** `PipelineSpec`'s four-column fact. */
  private def fact(rows: (Option[Timestamp], String, String, Option[Double])*): DataFrame =
    rows.toDF("measurement_timestamp", "risk_level", "encounter_type", "encounter_complexity_score")

  private val recentTs = Some(ts("2026-08-11 23:50:00"))
  private val oldTs = Some(ts("2026-08-11 22:00:00"))
  private val goodVitals = vitals((ts("2026-08-11 23:59:00"), Some(1.0)))
  private val healthyFact = fact((recentTs, "low_risk", "comprehensive", Some(0.5)))

  private def highRisk(n: Int): DataFrame = fact(
    Seq.fill(n)((recentTs, "high_risk", "vitals_only", Some(1.0))) ++
      // older or undated high-risk rows are outside the hour
      Seq((oldTs, "high_risk", "comprehensive", Some(2.0)),
        (None, "high_risk", "comprehensive", Some(3.0))): _*)

  test("gates on adversarial input equal the four-action gates, check by check") {
    // no recent vitals: freshness fires, the NULL average raises no quality alert
    val none = assertGates(vitals((ts("2026-08-11 22:00:00"), Some(0.1))), healthyFact)
    assert(none.contains("freshness") && !none.contains("quality"))
    // all-NULL quality scores in the hour
    val nulls = assertGates(
      vitals((ts("2026-08-11 23:30:00"), None), (ts("2026-08-11 23:40:00"), None)), healthyFact)
    assert(!nulls.contains("freshness") && !nulls.contains("quality"))
    // low, NaN and -0.0 scores
    assert(assertGates(vitals((ts("2026-08-11 23:30:00"), Some(-0.0)),
      (ts("2026-08-11 23:40:00"), Some(0.65)), (ts("2026-08-11 23:45:00"), None)), healthyFact)
      .contains("quality"))
    assertGates(vitals((ts("2026-08-11 23:30:00"), Some(Double.NaN))), healthyFact)
    // an empty fact: health fires, the NULL staleness raises nothing
    val empty = assertGates(goodVitals, fact())
    assert(empty.contains("health") && !empty.contains("staleness"))
    // high-risk counts at the threshold and one above it
    assert(!assertGates(goodVitals, highRisk(cfg.highRiskAlertsPerHour)).contains("high_risk"))
    assert(assertGates(goodVitals, highRisk(cfg.highRiskAlertsPerHour + 1)).contains("high_risk"))
    // NaN, -0.0 and NULL complexity scores, and only undated rows
    assertGates(goodVitals, fact((recentTs, "low_risk", "comprehensive", Some(-0.0)),
      (recentTs, "medium_risk", "vitals_only", None), (oldTs, "low_risk", "comprehensive", Some(Double.NaN))))
    assert(assertGates(goodVitals, fact((None, "high_risk", "comprehensive", Some(1.0))))
      .contains("health"))
    // PipelineSpec's stale fact
    val stale = assertGates(goodVitals, fact((Some(ts("2026-08-10 00:00:00")), "low_risk", "vitals_only", Some(0.0))))
    assert(stale.contains("staleness"))
  }

  private lazy val lake = {
    val l = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("reports_lake_").toString, cfg)
    val g = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)
    l.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    l.buildFact()
    l
  }

  test("on a built lake the gates and both daily reports equal their references row for row") {
    assertGates(lake.processedVitals, lake.fact)
    val monitoring = Reports.patientMonitoringReport(cfg)(lake.fact)
    val claims = Reports.claimsProcessingReport(cfg)(lake.fact)
    assertSame(monitoring, refMonitoring(lake.fact))
    assertSame(claims, refClaims(lake.fact))
    assert(monitoring.count() > 0 && claims.count() > 1, "the windows hold rows to compare")
  }

  private final case class Ledger(actions: Int, jobs: Int)

  /** SQL executions and Spark jobs that `body` starts. The listener bus
    * is asynchronous: wait until it has delivered the end of each.
    */
  private def ledger(body: => Any): Ledger = {
    val sc = spark.sparkContext
    val jobs, jobEnds, actions, actionEnds = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => actions.incrementAndGet(); ()
        case _: SparkListenerSQLExecutionEnd => actionEnds.incrementAndGet(); ()
        case _ => ()
      }
    }
    Thread.sleep(500L) // let earlier events drain before listening
    sc.addSparkListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 10000000000L
      while ((actions.get == 0 || jobs.get != jobEnds.get || actions.get != actionEnds.get) &&
          System.nanoTime() < deadline) Thread.sleep(20L)
      Thread.sleep(200L)
    } finally sc.removeSparkListener(listener)
    Ledger(actions.get, jobs.get)
  }

  private def rangeShuffled(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning")

  test("budgets: gates in <= 2 actions and <= 4 jobs, each daily report in <= 2 jobs with no range shuffle") {
    lake.gates() // warm
    val gates = ledger(lake.gates())
    assert(gates.actions <= 2 && gates.jobs <= 4, s"gates: $gates")
    val refClaimsDf = refClaims(lake.fact)
    refClaimsDf.collect()
    assert(rangeShuffled(refClaimsDf), "the reference sort plans a range shuffle")
    for ((name, report) <- Seq(
        "monitoring" -> Reports.patientMonitoringReport(cfg) _,
        "claims" -> Reports.claimsProcessingReport(cfg) _)) {
      val df = report(lake.fact)
      val run = ledger(df.collect())
      assert(run.jobs <= 2, s"$name: $run")
      assert(!rangeShuffled(df), s"$name plans a range shuffle:\n${df.queryExecution.executedPlan}")
    }
  }
}
