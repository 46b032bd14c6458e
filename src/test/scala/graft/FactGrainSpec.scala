package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.etl.Etl
import graft.marts.FactPatientEncounters
import graft.model.Config
import graft.queries.PipelineQueries
import graft.staging.Staging

/** The fact mart computes `encounter_metrics` row by row instead of the
  * model's GROUP BY over its 34-column grain (FactPatientEncounters
  * scaladoc). This spec keeps the GROUP BY formulation as the reference,
  * compares the two bit for bit on adversarial input, and pins the plan:
  * no Expand and no aggregate, the same shuffles under the joins.
  */
class FactGrainSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val cfg = Config.default

  /** `encounter_metrics` and the final select as the model writes them:
    * GROUP BY the full grain, then the closest-match projection. */
  private def reference(encounters: DataFrame): DataFrame = {
    val asOfTs = lit(cfg.asOf)
    val grain = Seq(
      "patient_id", "measurement_timestamp", "device_id", "location",
      "heart_rate", "blood_pressure_systolic", "blood_pressure_diastolic",
      "temperature", "oxygen_saturation", "respiratory_rate", "heart_rate_category",
      "pulse_pressure", "rate_pressure_product", "shift_category", "day_category",
      "quality_category", "low_oxygen_alert", "elevated_heart_rate_alert",
      "low_heart_rate_alert", "fever_alert", "claim_proximity_rank", "ehr_proximity_rank",
      "claim_id", "service_date", "total_amount", "insurance_type", "claim_status",
      "processing_days", "record_id", "visit_date", "diagnosis", "treatment",
      "medication_count", "lab_test_count")

    def cnt(flagCol: String): Column = sum(when(col(flagCol), 1).otherwise(0))

    encounters
      .groupBy(grain.map(col): _*)
      .agg(
        countDistinct(col("claim_id")).as("total_claims"),
        countDistinct(col("record_id")).as("total_ehr_records"),
        sum(col("total_amount")).as("total_claim_value"),
        avg(col("processing_days")).as("avg_processing_days"),
        cnt("denied_claim").as("denied_claims_count"),
        cnt("paid_claim").as("paid_claims_count"),
        cnt("pending_claim").as("pending_claims_count"),
        cnt("high_value_claim").as("high_value_claims_count"),
        (coalesce(countDistinct(col("claim_id")), lit(0)) * 0.3 +
          coalesce(countDistinct(col("record_id")), lit(0)) * 0.2 +
          coalesce(sum(col("diagnosis_count")), lit(0)) * 0.2 +
          coalesce(sum(col("procedure_count")), lit(0)) * 0.2 +
          coalesce(sum(col("medication_count")), lit(0)) * 0.1).as("encounter_complexity_score"))
      .withColumn("primary_claim_id", when(col("claim_proximity_rank") === 1, col("claim_id")))
      .withColumn("primary_service_date", when(col("claim_proximity_rank") === 1, col("service_date")))
      .withColumn("primary_claim_amount", when(col("claim_proximity_rank") === 1, col("total_amount")))
      .withColumn("primary_insurance_type", when(col("claim_proximity_rank") === 1, col("insurance_type")))
      .withColumn("primary_claim_status", when(col("claim_proximity_rank") === 1, col("claim_status")))
      .withColumn("primary_processing_days", when(col("claim_proximity_rank") === 1, col("processing_days")))
      .withColumn("primary_ehr_record_id", when(col("ehr_proximity_rank") === 1, col("record_id")))
      .withColumn("primary_visit_date", when(col("ehr_proximity_rank") === 1, col("visit_date")))
      .withColumn("primary_diagnosis", when(col("ehr_proximity_rank") === 1, col("diagnosis")))
      .withColumn("primary_treatment", when(col("ehr_proximity_rank") === 1, col("treatment")))
      .withColumn("primary_medication_count", when(col("ehr_proximity_rank") === 1, col("medication_count")))
      .withColumn("primary_lab_test_count", when(col("ehr_proximity_rank") === 1, col("lab_test_count")))
      .withColumn("risk_level",
        when(col("low_oxygen_alert") || col("elevated_heart_rate_alert") ||
          col("low_heart_rate_alert") || col("fever_alert"), "high_risk")
          .when(col("heart_rate_category") =!= "normal" || col("temperature") > 37.5, "medium_risk")
          .otherwise("low_risk"))
      .withColumn("encounter_type",
        when(col("total_claims") > 0 && col("total_ehr_records") > 0, "comprehensive")
          .when(col("total_claims") > 0, "claims_only")
          .when(col("total_ehr_records") > 0, "ehr_only")
          .otherwise("vitals_only"))
      .withColumn("created_at", asOfTs)
      .withColumn("updated_at", asOfTs)
      .select(
        "patient_id", "measurement_timestamp", "device_id", "location",
        "heart_rate", "blood_pressure_systolic", "blood_pressure_diastolic",
        "temperature", "oxygen_saturation", "respiratory_rate",
        "heart_rate_category", "pulse_pressure", "rate_pressure_product",
        "shift_category", "day_category", "quality_category",
        "low_oxygen_alert", "elevated_heart_rate_alert",
        "low_heart_rate_alert", "fever_alert",
        "primary_claim_id", "primary_service_date", "primary_claim_amount",
        "primary_insurance_type", "primary_claim_status", "primary_processing_days",
        "primary_ehr_record_id", "primary_visit_date", "primary_diagnosis",
        "primary_treatment", "primary_medication_count", "primary_lab_test_count",
        "total_claims", "total_ehr_records", "total_claim_value",
        "avg_processing_days", "denied_claims_count", "paid_claims_count",
        "pending_claims_count", "high_value_claims_count",
        "encounter_complexity_score", "risk_level", "encounter_type",
        "created_at", "updated_at")
  }

  /** Rows as sorted strings, doubles by their raw bits (so -0.0 differs
    * from 0.0) and every value tagged with its class: equal outputs are
    * equal row multisets, bit for bit. */
  private def cells(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => "null"
      case d: Double => s"d:${java.lang.Double.doubleToRawLongBits(d)}"
      case v => s"${v.getClass.getSimpleName}:$v"
    }.mkString("|")).sorted

  private val t1 = Timestamp.valueOf("2026-08-11 14:00:00")
  private val t2 = Timestamp.valueOf("2026-08-05 09:00:00")
  private val old = Timestamp.valueOf("2026-06-01 08:00:00") // outside the 30-day lookback
  private def d(s: String) = Date.valueOf(s)

  /** Staged vitals, claims and EHR rows that hit every edge of the grain
    * argument: duplicate vitals (some fully identical), claims and EHR
    * rows tied on day distance, join misses on either side, NULL amounts,
    * processing days, counts and flags, rows outside the lookback, and
    * -0.0 / NaN in every double grain column. */
  private def adversarial(): (DataFrame, DataFrame, DataFrame) = {
    val vitals = Seq(
      ("P1", t1, 72, 120, 80, 36.8), ("P1", t1, 72, 120, 80, 36.8), ("P1", t1, 72, 120, 80, 36.8),
      ("P1", t1, 110, 130, 85, 38.4), ("P1", t2, 65, 118, 79, 36.5), ("P1", old, 70, 120, 80, 36.9),
      ("P2", t1, 80, 125, 82, 36.7), ("P3", t1, 58, 100, 70, 37.0), ("P4", t1, 90, 140, 90, 37.6),
      ("P5", t2, 75, 120, 80, 36.6), ("P6", t1, 70, 115, 75, 36.9), ("P6", t1, 70, 115, 75, 36.9))
      .map { case (p, at, hr, sys, dia, temp) =>
        (p, at, hr, sys, dia, temp, 97, 16, "DEV1", "ICU", at, "normal", 14, "Tuesday", 0.95, "1.0.0")
      }
      .toDF("patient_id", "timestamp", "heart_rate", "blood_pressure_systolic",
        "blood_pressure_diastolic", "temperature", "oxygen_saturation", "respiratory_rate",
        "device_id", "location", "processed_at", "heart_rate_category", "hour_of_day",
        "day_of_week", "data_quality_score", "pipeline_version")
      .transform(Staging.stgPatientVitals(cfg))
      // -0.0 and NaN in the double grain columns (staging's bounds keep
      // them out, other callers may not)
      .withColumn("temperature", when($"patient_id" === "P2", lit(-0.0))
        .when($"patient_id" === "P6", lit(Double.NaN)).otherwise($"temperature"))
      .withColumn("rate_pressure_product", when($"patient_id" === "P6", lit(-0.0))
        .when($"patient_id" === "P2", lit(Double.NaN)).otherwise($"rate_pressure_product"))

    val claims = Seq[(String, String, Date, java.lang.Double, String, Integer, String)](
      ("C1", "P1", d("2026-08-08"), 250.5, "Paid", 4, "I10,E11.9"),
      ("C2", "P1", d("2026-08-14"), 1250.0, "Denied", 9, "I10"),        // |3 days| tie with C1
      ("C3", "P1", d("2026-08-08"), 99.0, "Submitted", 2, "I10"),      // same day as C1
      ("C4", "P1", d("2026-08-05"), 150000.0, "Denied", 30, "I10"),    // amount out of range → NULL
      ("C5", "P1", d("2026-08-02"), 40.0, "Under Review", null, null), // NULL processing days
      ("C6", "P1", d("2026-06-20"), 10.0, "Paid", 3, "I10"),           // outside the lookback
      ("C7", "P4", d("2026-08-10"), 60.0, "Paid", 1, "I10"),
      ("C8", "P4", d("2026-08-12"), 5000.0, "Submitted", 2, "I10,I11"),
      ("C9", "P2", d("2026-08-11"), 75.25, "Approved", 5, "I10"),
      ("C10", "P6", d("2026-08-09"), 300.0, "Paid", 7, "E11.9"))
      .map { case (id, p, service, amount, status, days, diag) =>
        (id, p, "DR1", service, diag, "99213", amount, "Medicare", status, service,
          t1, days, "medium", 0.9, "1.0.0")
      }
      .toDF("claim_id", "patient_id", "provider_id", "service_date", "diagnosis_codes",
        "procedure_codes", "total_amount", "insurance_type", "claim_status",
        "submission_date", "processed_at", "processing_days", "amount_category",
        "data_quality_score", "pipeline_version")
      .transform(Staging.stgInsuranceClaims(cfg))
      .withColumn("total_amount", when($"claim_id" === "C7", lit(-0.0))
        .when($"claim_id" === "C8", lit(Double.NaN)).otherwise($"total_amount"))
      .withColumn("diagnosis_count", when($"claim_id" =!= "C5", $"diagnosis_count"))
      .withColumn("procedure_count", when($"claim_id" =!= "C3", $"procedure_count"))
      .withColumn("paid_claim", when($"claim_id" =!= "C10", $"paid_claim"))

    val ehr = Seq[(String, String, Date, Integer, Integer)](
      ("E1", "P1", d("2026-08-10"), 2, 1),
      ("E2", "P1", d("2026-08-12"), 1, 3),       // |1 day| tie with E1
      ("E3", "P1", d("2026-08-10"), null, null), // same day as E1, NULL counts
      ("E4", "P1", d("2026-08-04"), 3, 0),
      ("E5", "P1", d("2026-06-15"), 1, 1),       // outside the lookback
      ("E6", "P5", d("2026-08-06"), null, 2),
      ("E7", "P2", d("2026-08-11"), 4, 4),
      ("E8", "P6", d("2026-08-11"), 0, 0))
      .map { case (id, p, visit, meds, labs) =>
        (id, p, visit, "DR2", "stable", "rest", "Aspirin", "{}", meds, labs, "ok", t1, 0.8)
      }
      .toDF("record_id", "patient_id", "visit_date", "provider_id", "diagnosis", "treatment",
        "medications", "lab_results", "medication_count", "lab_test_count", "notes",
        "processed_at", "data_quality_score")
      .transform(Staging.stgEhrRecords(cfg))
    (vitals, claims, ehr)
  }

  test("row-wise metrics equal the GROUP BY reference bit for bit; the grain key is unique") {
    val (v, c, e) = adversarial()
    val enc = FactPatientEncounters.encounters(cfg)(v, c, e).localCheckpoint()
    val n = enc.count()
    assert(enc.select("patient_id", "measurement_timestamp", "ehr_proximity_rank")
      .distinct().count() == n, "(patient_id, measurement_timestamp, ehr_proximity_rank) must be unique")

    // the input really has the edges: repeated vitals grains, misses on
    // both joins, -0.0 and NaN reaching the doubles
    assert(enc.filter($"ehr_proximity_rank" > 1 && $"claim_proximity_rank" > 1).count() > 0)
    assert(enc.filter($"claim_id".isNull && $"record_id".isNull).count() > 0)
    assert(enc.filter($"claim_id".isNotNull && $"record_id".isNull).count() > 0)
    assert(enc.filter($"claim_id".isNull && $"record_id".isNotNull).count() > 0)
    val doubles = enc.select("temperature", "rate_pressure_product", "total_amount").collect()
      .flatMap(_.toSeq).collect { case x: Double => x }
    assert(doubles.exists(x => java.lang.Double.doubleToRawLongBits(x) == Long.MinValue), "-0.0 must reach the grain")
    assert(doubles.exists(_.isNaN), "NaN must reach the grain")

    val got = FactPatientEncounters.metrics(cfg)(enc)
    val want = reference(enc)
    assert(got.schema == want.schema, s"\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    assert(cells(got) == cells(want))
  }

  test("build equals the GROUP BY formulation end to end, on adversarial and generated input") {
    val (v, c, e) = adversarial()
    val gen = PipelineQueries.enrichedFresh(spark, 2000).cache()
    try {
      val generated = (Etl.routeVitals(gen).transform(Staging.stgPatientVitals(cfg)),
        Etl.routeClaims(gen).transform(Staging.stgInsuranceClaims(cfg)),
        Etl.routeEhr(gen).transform(Staging.stgEhrRecords(cfg)))
      for ((sv, sc, se) <- Seq((v, c, e), generated)) {
        val got = FactPatientEncounters.build(cfg)(sv, sc, se)
        val want = reference(FactPatientEncounters.encounters(cfg)(sv, sc, se))
        assert(got.schema == want.schema)
        val rows = cells(got)
        assert(rows.nonEmpty)
        assert(rows == cells(want))
      }
    } finally { gen.unpersist(); () }
  }

  private def aggregateNodes(plan: SparkPlan): Seq[SparkPlan] = collect(plan) {
    case p @ (_: ExpandExec | _: HashAggregateExec | _: SortAggregateExec |
        _: ObjectHashAggregateExec) => p
  }

  test("fact plan: no Expand, no aggregate, and the same shuffles under the joins") {
    val gen = PipelineQueries.enrichedFresh(spark, 3000).cache()
    val (v, c, e) = (Etl.routeVitals(gen).transform(Staging.stgPatientVitals(cfg)),
      Etl.routeClaims(gen).transform(Staging.stgInsuranceClaims(cfg)),
      Etl.routeEhr(gen).transform(Staging.stgEhrRecords(cfg)))
    val conf = spark.conf
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      // executed with AQE (the default): the final adaptive plan has no
      // Expand and no aggregate
      val adaptive = FactPatientEncounters.build(cfg)(v, c, e)
      adaptive.write.format("noop").mode("overwrite").save()
      assert(aggregateNodes(adaptive.queryExecution.executedPlan).isEmpty,
        adaptive.queryExecution.executedPlan.treeString)

      // static sort-merge plans: the exchanges under the two joins are
      // the reference's, and there is no shuffle above them
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      def shuffles(df: DataFrame) = {
        val plan = df.queryExecution.executedPlan
        val joins = plan.collect { case j: SortMergeJoinExec => j }
        assert(joins.size == 2, plan.treeString)
        // the first join sits under the second, which is the topmost;
        // partitionings compare without their expression ids
        (joins.head.collect { case s: ShuffleExchangeExec =>
            s.outputPartitioning.toString.replaceAll("#\\d+", "") },
          plan.collect { case s: ShuffleExchangeExec => s }.size, plan)
      }
      val (underJoins, all, plan) = shuffles(FactPatientEncounters.build(cfg)(v, c, e))
      val (refUnderJoins, refAll, refPlan) =
        shuffles(reference(FactPatientEncounters.encounters(cfg)(v, c, e)))
      assert(aggregateNodes(plan).isEmpty, plan.treeString)
      assert(aggregateNodes(refPlan).nonEmpty, "the reference must still aggregate")
      assert(underJoins.nonEmpty && underJoins == refUnderJoins)
      assert(all == underJoins.size && refAll > all, plan.treeString)
    } finally {
      prev.foreach {
        case (k, Some(x)) => conf.set(k, x)
        case (k, None) => conf.unset(k)
      }
      gen.unpersist(); ()
    }
  }
}
