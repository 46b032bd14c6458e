package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Config
import graft.operators.Forks

/** The Airflow DAG's analytical/monitoring queries
  * (`airflow/dags/healthcare_data_pipeline_dag.py:152-330`) as DataFrame
  * transforms (SURVEY A5-A10), plus the thresholded health checks as
  * driver-side decisions. `CURRENT_TIMESTAMP()` is parameterized by
  * `cfg.asOf` for determinism.
  *
  * The gates read each table once: A5/A6 and A9/A10 are projections of
  * one aggregate per table (column pruning drops the unread aggregates),
  * and [[evaluateGates]] runs the two as overlapped actions. The daily
  * reports hold at most one row per date of a bounded window, so they
  * sort in one partition: no range shuffle, no sampling job.
  */
object Reports {

  private def lastHour(cfg: Config, ts: String) = col(ts) >= lit(cfg.asOf) - expr("INTERVAL 1 HOUR")

  /** A5 and A6 over `processed.patient_vitals`: one aggregate under their shared filter. */
  private def vitalsHealth(cfg: Config)(vitals: DataFrame): DataFrame =
    vitals.filter(lastHour(cfg, "processed_at")).agg(count(lit(1)).as("recent_records"),
      max(col("processed_at")).as("latest_processing_time"),
      count(when(col("data_quality_score") < 0.7, 1)).as("low_quality_records"),
      avg(col("data_quality_score")).as("avg_quality_score"))

  /** A9 and A10 over the fact: the last hour's metrics as conditional
    * aggregates beside the unfiltered latest measurement, one aggregate.
    */
  private def factHealth(cfg: Config)(fact: DataFrame): DataFrame = {
    val recent = lastHour(cfg, "measurement_timestamp")
    fact.agg(count(when(recent, 1)).as("total_encounters"),
      count(when(recent && col("risk_level") === "high_risk", 1)).as("high_risk_encounters"),
      count(when(recent && col("encounter_type") === "comprehensive", 1))
        .as("comprehensive_encounters"),
      avg(when(recent, col("encounter_complexity_score"))).as("avg_complexity"),
      max(col("measurement_timestamp")).as("latest_timestamp"))
      // `TIMESTAMP_DIFF(..., MINUTE)` truncates toward zero
      .withColumn("minutes_since_last_update",
        ((lit(cfg.asOf).cast("long") - col("latest_timestamp").cast("long")) / 60).cast("long"))
  }

  /** Freshness check (A5; DAG lines 163-169): records processed in the
    * last hour + latest processing time, over `processed.patient_vitals`.
    */
  def freshnessCheck(cfg: Config = Config.default)(vitals: DataFrame): DataFrame =
    vitalsHealth(cfg)(vitals).select("recent_records", "latest_processing_time")

  /** Quality check (A6; DAG lines 182-189). */
  def qualityCheck(cfg: Config = Config.default)(vitals: DataFrame): DataFrame =
    vitalsHealth(cfg)(vitals).select(col("recent_records").as("total_records"),
      col("low_quality_records"), col("avg_quality_score"))

  /** Patient monitoring report (A7; DAG lines 215-228): daily alert counts
    * and vitals averages over the last 24h of the fact table.
    */
  def patientMonitoringReport(cfg: Config = Config.default)(fact: DataFrame): DataFrame =
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
      .coalesce(1) // at most two dates: a one-partition sort needs no range shuffle
      .orderBy(col("date").desc)

  /** Claims processing report (A8; DAG lines 243-255): daily claim volumes
    * and outcomes over the last 7 days of the fact table.
    */
  def claimsProcessingReport(cfg: Config = Config.default)(fact: DataFrame): DataFrame =
    fact
      .filter(col("primary_service_date") >= date_sub(to_date(lit(cfg.asOf)), 7))
      .groupBy(col("primary_service_date").as("date"))
      .agg(
        count(lit(1)).as("total_claims"),
        sum(col("primary_claim_amount")).as("total_value"),
        count(when(col("primary_claim_status") === "Paid", 1)).as("paid_claims"),
        count(when(col("primary_claim_status") === "Denied", 1)).as("denied_claims"),
        avg(col("primary_processing_days")).as("avg_processing_days"))
      .coalesce(1) // one row per date of the window: sorted in one partition
      .orderBy(col("date").desc)

  /** Pipeline-health metrics (A9; DAG lines 283-291). */
  def pipelineHealth(cfg: Config = Config.default)(fact: DataFrame): DataFrame =
    factHealth(cfg)(fact).drop("latest_timestamp", "minutes_since_last_update")

  /** Staleness check (A10; DAG lines 312-317): minutes since the latest measurement. */
  def stalenessCheck(cfg: Config = Config.default)(fact: DataFrame): DataFrame =
    factHealth(cfg)(fact).select("latest_timestamp", "minutes_since_last_update")

  /** Driver-side threshold decisions mirroring the DAG's alert logic. */
  final case class HealthAlert(check: String, message: String)

  /** Evaluate all quality gates exactly as the DAG does
    * (`healthcare_data_pipeline_dag.py:178-179,199-200,303-308,327-328`):
    * hard failure on zero recent rows, warnings otherwise. One action per
    * table, the two overlapped (Forks scaladoc).
    */
  def evaluateGates(cfg: Config = Config.default)(
      vitals: DataFrame, fact: DataFrame): Seq[HealthAlert] = {
    val (v, f) = Forks(vitals.sparkSession) { forks =>
      val f = forks.fork("gates-fact")(factHealth(cfg)(fact)
        .select("total_encounters", "high_risk_encounters", "minutes_since_last_update").head())
      (vitalsHealth(cfg)(vitals).select("recent_records", "avg_quality_score").head(), f.join())
    }
    val alerts = Seq.newBuilder[HealthAlert]
    if (v.getAs[Long]("recent_records") == 0L)
      alerts += HealthAlert("freshness", "No recent data found - pipeline may be failing")
    val avgScore = Option(v.getAs[java.lang.Double]("avg_quality_score")).map(_.doubleValue)
    if (avgScore.exists(_ < cfg.minQualityScore))
      alerts += HealthAlert("quality", "Data quality score is below threshold")
    val highRisk = f.getAs[Long]("high_risk_encounters")
    if (highRisk > cfg.highRiskAlertsPerHour)
      alerts += HealthAlert("high_risk", s"High number of high-risk encounters: $highRisk")
    if (f.getAs[Long]("total_encounters") == 0L)
      alerts += HealthAlert("health", "Pipeline health check failed - no data processed")
    val mins = Option(f.getAs[java.lang.Long]("minutes_since_last_update")).map(_.longValue)
    if (mins.exists(_ > cfg.stalenessMinutes))
      alerts += HealthAlert("staleness", s"Data is stale - last update was ${mins.get} minutes ago")
    alerts.result()
  }
}
