package graft.marts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.model.Config

/** The mart layer: `dbt/models/marts/fact_patient_encounters.sql`.
  *
  * Dataflow (SURVEY §3, entry point 2): three lookback-filtered staging
  * scans → proximity band LEFT JOIN vitals↔claims (J1) with ROW_NUMBER
  * proximity rank (W1) → proximity band LEFT JOIN ↔EHR (J2, W2) →
  * `encounter_metrics` aggregates (A1-A3), risk and encounter-type
  * categorization.
  *
  * No GROUP BY: `encounter_metrics` groups by a 34-column grain (lines
  * 229-238) holding `patient_id`, `measurement_timestamp` and
  * `ehr_proximity_rank`, which W2's ROW_NUMBER makes unique, so every group
  * is one row (hence SURVEY A1's 0-or-1 "distinct counts"). [[metrics]]
  * takes each aggregate's one-row value: COUNT(DISTINCT id) (lines
  * 188-189) is 0/1 by the id's non-nullness, SUM/AVG (190-191) the value,
  * the conditional SUMs (193-196) the flag as 0/1, the complexity score
  * (199-205) the same COALESCE/weight tree. Three edge cases are
  * reproduced, so the output equals the GROUP BY's bit for bit:
  *  - a one-row SUM is `0 + v`, turning -0.0 into +0.0: `try_add(0, v)`;
  *  - the planner normalises double grouping keys (-0.0 → 0.0, any NaN →
  *    the canonical NaN), so exposed double grain columns are too;
  *  - SUM is NULL-able, and so is `try_add`, which keeps the four
  *    `*_claims_count` columns nullable.
  * (Under the default `Config` bounds staging's validation keeps -0.0 and
  * NaN out anyway.) Rows come in join/window order, not hash order.
  *
  * Scale notes (SURVEY §7.4): the equi-part of each join is
  * `patient_id`, so both joins shuffle on the same key and the windows
  * (partitioned by `patient_id, measurement_timestamp`) reuse that
  * clustering — Catalyst inserts no extra exchange, only sorts. The ±7-day
  * band predicate stays a join residual, which is correct and cheap as
  * long as per-patient claim/EHR counts inside the lookback window are
  * bounded (they are: events per patient per 30 days). At extreme skew,
  * `graft.operators.BandJoin` provides the bucketed equi-join rewrite.
  * `CURRENT_TIMESTAMP()`/`CURRENT_DATE()` are parameterized via
  * `cfg.asOf` so results are deterministic (SURVEY §7.4).
  */
object FactPatientEncounters {

  // the vitals grain, exposed as-is in the fact
  private val vitalsColumns = Seq(
    "patient_id", "measurement_timestamp", "device_id", "location",
    "heart_rate", "blood_pressure_systolic", "blood_pressure_diastolic",
    "temperature", "oxygen_saturation", "respiratory_rate",
    "heart_rate_category", "pulse_pressure", "rate_pressure_product",
    "shift_category", "day_category", "quality_category",
    "low_oxygen_alert", "elevated_heart_rate_alert", "low_heart_rate_alert", "fever_alert")

  def build(cfg: Config = Config.default)(
      stgVitals: DataFrame, stgClaims: DataFrame, stgEhr: DataFrame): DataFrame =
    metrics(cfg)(encounters(cfg)(stgVitals, stgClaims, stgEhr))

  /** The fact date partitions a batch of processed rows touches: its
    * vitals dates ∪ its claim service and EHR visit dates ± the proximity
    * band, the only reach of the band join residual. Sorted.
    */
  private[graft] def affectedDates(cfg: Config)(
      vitals: DataFrame, claims: DataFrame, ehr: DataFrame): Seq[java.sql.Date] = {
    def banded(c: String): Column =
      explode(sequence(date_sub(col(c), cfg.proximityDays), date_add(col(c), cfg.proximityDays)))
    vitals.select(to_date(col("timestamp")).as("d"))
      .unionByName(claims.select(banded("service_date").as("d")))
      .unionByName(ehr.select(banded("visit_date").as("d")))
      .distinct().collect().map(_.getDate(0)).sortBy(_.getTime).toSeq
  }

  /** Staging inputs that rebuild exactly the `dates` fact partitions:
    * vitals on those dates; claims and EHR pruned to dates ± band, beyond
    * which the band residual attaches nothing (a refresh reads O(window)).
    */
  private[graft] def datesInputs(cfg: Config, dates: Seq[java.sql.Date])(stgVitals: DataFrame,
      stgClaims: DataFrame, stgEhr: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val window = dates.flatMap(d => (-cfg.proximityDays to cfg.proximityDays)
      .map(o => java.sql.Date.valueOf(d.toLocalDate.plusDays(o.toLong)))).distinct
    def in(c: Column, ds: Seq[java.sql.Date]): Column = c.isin(ds.map(lit): _*)
    (stgVitals.filter(in(to_date(col("measurement_timestamp")), dates)),
      stgClaims.filter(in(col("service_date"), window)), stgEhr.filter(in(col("visit_date"), window)))
  }

  /** The joined, ranked rows `encounter_metrics` reads (lines 8-142). */
  private[graft] def encounters(cfg: Config)(
      stgVitals: DataFrame, stgClaims: DataFrame, stgEhr: DataFrame): DataFrame = {
    val asOfTs = lit(cfg.asOf)
    val asOfDate = to_date(asOfTs)

    // vitals CTE (fact_patient_encounters.sql:8-33): 30-day lookback (P6)
    val vitals = stgVitals
      .filter(col("measurement_timestamp") >= asOfTs - expr(s"INTERVAL ${cfg.lookbackDays} DAYS"))
      .select(vitalsColumns.map(col): _*)
      .alias("v")

    // claims CTE (lines 35-61)
    val claims = stgClaims
      .filter(col("service_date") >= date_sub(asOfDate, cfg.lookbackDays))
      .select("patient_id", "claim_id", "service_date", "submission_date", "provider_id",
        "total_amount", "insurance_type", "insurance_category", "claim_status",
        "lifecycle_stage", "amount_category", "value_category", "processing_days",
        "processing_efficiency", "diagnosis_count", "procedure_count", "daily_claim_value",
        "denied_claim", "paid_claim", "pending_claim", "high_value_claim")
      .alias("c")

    // ehr CTE (lines 63-78)
    val ehr = stgEhr
      .filter(col("visit_date") >= date_sub(asOfDate, cfg.lookbackDays))
      .select("patient_id", "record_id", "visit_date", "provider_id", "diagnosis",
        "treatment", "medications", "lab_results", "medication_count", "lab_test_count", "notes")
      .alias("e")

    // vitals_with_claims (lines 81-115): J1 equi on patient_id + ±7-day band
    // residual, then W1 proximity rank over the vitals grain.
    val claimDayDist = abs(datediff(to_date(col("v.measurement_timestamp")), col("c.service_date")))
    val vitalsWithClaims = vitals
      .join(claims,
        col("v.patient_id") === col("c.patient_id") && claimDayDist <= cfg.proximityDays,
        "left")
      .select(
        col("v.*"),
        col("c.claim_id"), col("c.service_date"), col("c.submission_date"),
        col("c.provider_id").as("claim_provider_id"),
        col("c.total_amount"), col("c.insurance_type"), col("c.insurance_category"),
        col("c.claim_status"), col("c.lifecycle_stage"), col("c.amount_category"),
        col("c.value_category"), col("c.processing_days"), col("c.processing_efficiency"),
        col("c.diagnosis_count"), col("c.procedure_count"), col("c.daily_claim_value"),
        col("c.denied_claim"), col("c.paid_claim"), col("c.pending_claim"), col("c.high_value_claim"),
        datediff(to_date(col("v.measurement_timestamp")), col("c.service_date")).as("days_from_service"),
        row_number().over(
          Window.partitionBy(col("v.patient_id"), col("v.measurement_timestamp"))
            .orderBy(claimDayDist)).as("claim_proximity_rank"))
      .alias("vc")

    // encounters (lines 118-142): J2 + W2 against EHR
    val ehrDayDist = abs(datediff(to_date(col("vc.measurement_timestamp")), col("e.visit_date")))
    vitalsWithClaims
      .join(ehr,
        col("vc.patient_id") === col("e.patient_id") && ehrDayDist <= cfg.proximityDays,
        "left")
      .select(
        col("vc.*"),
        col("e.record_id"), col("e.visit_date"),
        col("e.provider_id").as("ehr_provider_id"),
        col("e.diagnosis"), col("e.treatment"), col("e.medications"), col("e.lab_results"),
        col("e.medication_count"), col("e.lab_test_count"), col("e.notes"),
        datediff(to_date(col("vc.measurement_timestamp")), col("e.visit_date")).as("days_from_visit"),
        row_number().over(
          Window.partitionBy(col("vc.patient_id"), col("vc.measurement_timestamp"))
            .orderBy(ehrDayDist)).as("ehr_proximity_rank"))
  }

  /** `encounter_metrics` and the final select (lines 145-239), one output
    * row per [[encounters]] row (object scaladoc). */
  private[graft] def metrics(cfg: Config)(encounters: DataFrame): DataFrame = {
    val asOfTs = lit(cfg.asOf)

    // a grain column as GROUP BY outputs it (double keys normalised)
    def groupKey(c: String): Column = encounters.schema(c).dataType match {
      case DoubleType => when(isnan(col(c)), Double.NaN).otherwise(lit(0.0) + col(c))
      case _ => col(c)
    }
    // Spark's SUM over one row: `0 + v` (so -0.0 becomes 0.0), NULL-able
    def rowSum(zero: Any, v: Column): Column = try_add(lit(zero), v)
    // COUNT(DISTINCT id) over one row
    def rowCount(id: String): Column = when(col(id).isNotNull, 1L).otherwise(0L)
    // SUM(CASE WHEN flag THEN 1 ELSE 0 END) over one row (A2, lines 193-196)
    def flagCount(flag: String): Column = rowSum(0L, when(col(flag), 1).otherwise(0))
    // closest-match projection (lines 173-186): rank=1 keeps the
    // temporally nearest claim/EHR per vitals row (J3/O2)
    def primaryClaim(c: String): Column = when(col("claim_proximity_rank") === 1, groupKey(c))
    def primaryEhr(c: String): Column = when(col("ehr_proximity_rank") === 1, groupKey(c))

    val totalClaims = rowCount("claim_id")
    val totalEhrRecords = rowCount("record_id")

    // final column list (lines 148-227): the grain's join/rank columns are
    // grouped on but not exposed
    encounters.select(vitalsColumns.map(c => groupKey(c).as(c)) ++ Seq(
      primaryClaim("claim_id").as("primary_claim_id"),
      primaryClaim("service_date").as("primary_service_date"),
      primaryClaim("total_amount").as("primary_claim_amount"),
      primaryClaim("insurance_type").as("primary_insurance_type"),
      primaryClaim("claim_status").as("primary_claim_status"),
      primaryClaim("processing_days").as("primary_processing_days"),
      primaryEhr("record_id").as("primary_ehr_record_id"),
      primaryEhr("visit_date").as("primary_visit_date"),
      primaryEhr("diagnosis").as("primary_diagnosis"),
      primaryEhr("treatment").as("primary_treatment"),
      primaryEhr("medication_count").as("primary_medication_count"),
      primaryEhr("lab_test_count").as("primary_lab_test_count"),
      // mixed aggregates (A1, lines 188-192)
      totalClaims.as("total_claims"),
      totalEhrRecords.as("total_ehr_records"),
      rowSum(0.0, col("total_amount")).as("total_claim_value"),
      col("processing_days").cast(DoubleType).as("avg_processing_days"),
      flagCount("denied_claim").as("denied_claims_count"),
      flagCount("paid_claim").as("paid_claims_count"),
      flagCount("pending_claim").as("pending_claims_count"),
      flagCount("high_value_claim").as("high_value_claims_count"),
      // weighted composite (A3, lines 199-205)
      (coalesce(totalClaims, lit(0)) * 0.3 +
        coalesce(totalEhrRecords, lit(0)) * 0.2 +
        coalesce(rowSum(0L, col("diagnosis_count")), lit(0)) * 0.2 +
        coalesce(rowSum(0L, col("procedure_count")), lit(0)) * 0.2 +
        coalesce(rowSum(0L, col("medication_count")), lit(0)) * 0.1).as("encounter_complexity_score"),
      // risk (lines 208-214) — BigQuery NULL semantics: NULL conditions fall through
      when(col("low_oxygen_alert") || col("elevated_heart_rate_alert") ||
        col("low_heart_rate_alert") || col("fever_alert"), "high_risk")
        .when(col("heart_rate_category") =!= "normal" || col("temperature") > 37.5, "medium_risk")
        .otherwise("low_risk").as("risk_level"),
      // encounter type (lines 217-222) — lateral references to the agg aliases
      when(totalClaims > 0 && totalEhrRecords > 0, "comprehensive")
        .when(totalClaims > 0, "claims_only")
        .when(totalEhrRecords > 0, "ehr_only")
        .otherwise("vitals_only").as("encounter_type"),
      asOfTs.as("created_at"),
      asOfTs.as("updated_at")): _*)
  }
}
