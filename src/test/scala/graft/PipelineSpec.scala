package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.queries.PipelineQueries
import graft.streaming.StreamingEtl

/** Generator determinism, report gates, streaming≡batch equivalence (R4),
  * and the end-to-end smoke used by the driver.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = Config.default
  private def gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

  test("generator is deterministic and partition-independent") {
    val a = gen.messagesJson(spark, 500).collect()
    val b = gen.messagesJson(spark, 500).repartition(7).collect().sorted
    assert(a.sorted.toSeq == b.toSeq)
    val mix = gen.messagesJson(spark, 2000).toDF("value").transform(Etl.parse(cfg))
      .groupBy("data_type").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    assert(mix("patient_vitals") > 1000 && mix("patient_vitals") < 1400)
    assert(mix("insurance_claim") > 280 && mix("insurance_claim") < 520)
  }

  test("report gates: healthy pipeline raises no freshness/health alerts") {
    val enriched = gen.messagesJson(spark, 3000).toDF("value").transform(Etl.pipeline(cfg))
    val vitals = Etl.routeVitals(enriched)
    val fact = PipelineQueries.factEncounters(spark, 3000)
    val alerts = Reports.evaluateGates(cfg)(vitals, fact)
    assert(!alerts.exists(_.check == "freshness"))
    assert(!alerts.exists(_.check == "health"))
  }

  test("staleness gate fires when data is old") {
    val staleFact = Seq((Timestamp("2026-08-10 00:00:00"), "low_risk", "vitals_only", 0.0))
      .toDF("measurement_timestamp", "risk_level", "encounter_type", "encounter_complexity_score")
    val vitals = Seq((Timestamp("2026-08-11 23:59:00"), 1.0))
      .toDF("processed_at", "data_quality_score")
    val alerts = Reports.evaluateGates(cfg)(vitals, staleFact)
    assert(alerts.exists(_.check == "staleness"))
  }

  private def Timestamp(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming ETL produces exactly the batch pipeline's outputs (R4)") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_test_").toString
    val n = 1500L
    gen.messagesJson(spark, n).toDF("value").coalesce(2).write.mode("overwrite").text(s"$root/in")

    val q = StreamingEtl.start(spark, s"$root/in", root, cfg, Trigger.AvailableNow())
    q.awaitTermination()

    val batchEnriched = spark.read.text(s"$root/in").toDF("value").transform(Etl.pipeline(cfg))
    val batchVitals = Etl.routeVitals(batchEnriched)
    val streamedVitals = spark.read.parquet(s"$root/processed/patient_vitals")
    assert(streamedVitals.count() == batchVitals.count())
    // exact content equivalence, not just counts
    assert(streamedVitals.exceptAll(batchVitals).isEmpty &&
      batchVitals.exceptAll(streamedVitals).isEmpty)
    val streamedClaims = spark.read.parquet(s"$root/processed/insurance_claims")
    assert(streamedClaims.count() == Etl.routeClaims(batchEnriched).count())
    val dead = spark.read.text(s"$root/errors/unknown_data")
    assert(dead.count() > 0)
  }

  test("windowed metric stream counts all parsed records per data_type (R2/R5)") {
    val root = java.nio.file.Files.createTempDirectory("graft_metrics_test_").toString
    gen.messagesJson(spark, 800).toDF("value").coalesce(2).write.mode("overwrite").text(s"$root/in")
    val q = StreamingEtl.startMetrics(spark, s"$root/in", root, cfg, Trigger.AvailableNow())
    q.awaitTermination()
    val metrics = spark.table("healthcare_etl_metrics")
    // vitals carry event timestamps spread over 24h → many 60s windows
    val vitalsTotal = metrics.filter($"data_type" === "patient_vitals")
      .agg(sum("count")).head().getLong(0)
    val expected = spark.read.text(s"$root/in").toDF("value").transform(Etl.parse(cfg))
      .filter($"data_type" === "patient_vitals").count()
    assert(vitalsTotal == expected)
  }

  test("driver entry smoke: fact table non-empty with expected schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("encounter_complexity_score"))
    assert(df.limit(1).count() == 1)
  }
}
