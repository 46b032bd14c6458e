package graft.gen

import java.time.{Instant, LocalDate}
import java.time.temporal.ChronoUnit
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

/** Case classes mirroring the reference dataclasses
  * (`ingestion/data_generators/healthcare_data_generator.py:17-56`).
  * `lab_results` is a map test → (value, unit, normal_range) per
  * `healthcare_data_generator.py:176-193`.
  */
final case class PatientVitals(
    patient_id: String,
    timestamp: String,
    heart_rate: Int,
    blood_pressure_systolic: Int,
    blood_pressure_diastolic: Int,
    temperature: Double,
    oxygen_saturation: Int,
    respiratory_rate: Int,
    device_id: String,
    location: String
)

final case class InsuranceClaim(
    claim_id: String,
    patient_id: String,
    provider_id: String,
    service_date: String,
    diagnosis_codes: Seq[String],
    procedure_codes: Seq[String],
    total_amount: Double,
    insurance_type: String,
    claim_status: String,
    submission_date: String
)

final case class LabResult(value: Double, unit: String, normal_range: String)

final case class EhrRecord(
    record_id: String,
    patient_id: String,
    visit_date: String,
    provider_id: String,
    diagnosis: String,
    treatment: String,
    medications: Seq[String],
    lab_results: Map[String, LabResult],
    notes: String
)

/** Seeded, distributed port of `HealthcareDataGenerator`
  * (`healthcare_data_generator.py:61-209`). Value pools, ranges and
  * correlations match the reference; randomness is deterministic per
  * record id (seeded by `(seed, rowId)`), so output is identical
  * regardless of partitioning or executor count — required for golden
  * tests and legal at any scale because each row's RNG is independent.
  *
  * `asOf` replaces the reference's wall-clock `datetime.now()` /
  * faker `-30d`/`-90d` windows so generated data is reproducible.
  */
final class HealthcareGenerator(seed: Long = 42L, asOf: LocalDate = LocalDate.parse("2026-08-12")) extends Serializable {

  // Pools (healthcare_data_generator.py:62-98)
  private val patientCount = 1000
  private val providerCount = 100
  private val deviceCount = 50
  private val locations = Vector("ICU", "Emergency", "General Ward", "Operating Room", "Recovery Room")
  private val diagnosisCodes = Vector("I21.9", "I50.9", "E11.9", "J44.9", "N18.9", "I63.9", "I10", "E78.5", "J45.909", "K76.0")
  private val procedureCodes = Vector("99213", "99214", "99215", "99223", "99224", "93010", "71046", "80048", "84443", "85025")
  private val insuranceTypes = Vector("Medicare", "Medicaid", "Private", "Self-Pay")
  private val claimStatuses = Vector("Submitted", "Under Review", "Approved", "Denied", "Paid")
  private val medications = Vector("Aspirin", "Lisinopril", "Metformin", "Atorvastatin", "Amlodipine",
    "Omeprazole", "Albuterol", "Warfarin", "Furosemide", "Metoprolol")
  private val labTests = Vector(
    ("CBC", "cells/uL", 4000.0, 11000.0),
    ("Glucose", "mg/dL", 70.0, 100.0),
    ("Creatinine", "mg/dL", 0.6, 1.2),
    ("Cholesterol", "mg/dL", 125.0, 200.0),
    ("Hemoglobin", "g/dL", 12.0, 16.0))
  private val words = Vector("patient", "stable", "follow", "up", "required", "chronic", "acute",
    "condition", "monitored", "treatment", "plan", "reviewed", "medication", "adjusted", "vitals",
    "within", "normal", "limits", "recommend", "specialist")

  /** Java Random's first draws are badly correlated across sequential
    * seeds; run (seed, kind, id) through a splitmix64 finalizer first so
    * per-row streams are independent.
    */
  private def rng(kind: Int, id: Long): Random = {
    var z = seed ^ (kind.toLong * 0x9E3779B97F4A7C15L) ^ (id * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    new Random(z)
  }
  private def pick[A](r: Random, xs: Vector[A]): A = xs(r.nextInt(xs.length))
  private def sample[A](r: Random, xs: Vector[A], k: Int): Seq[A] = r.shuffle(xs).take(k)
  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0
  private def patientId(r: Random): String = f"P${r.nextInt(patientCount) + 1}%06d"

  /** Vitals with the reference's base+jitter correlation structure
    * (`healthcare_data_generator.py:100-134`). Timestamps spread over the
    * 24h before `asOf`.
    */
  def vitals(id: Long): PatientVitals = {
    val r = rng(1, id)
    val baseHr = 60 + r.nextInt(41)
    val baseTemp = 36.5 + r.nextDouble() * 1.0
    val hr = math.max(40, math.min(180, baseHr + (r.nextInt(21) - 10)))
    val temp = math.max(35.0, math.min(40.0, baseTemp + (r.nextDouble() - 0.5)))
    val systolic = 90 + r.nextInt(91)
    val diastolic = math.max(60, math.min(systolic - 20, 60 + r.nextInt(41)))
    val ts = Instant.parse(s"${asOf}T00:00:00Z").minusSeconds(r.nextInt(86400).toLong)
    PatientVitals(
      patient_id = patientId(r),
      timestamp = ts.toString.stripSuffix("Z"),
      heart_rate = hr,
      blood_pressure_systolic = systolic,
      blood_pressure_diastolic = diastolic,
      temperature = math.round(temp * 10.0) / 10.0,
      oxygen_saturation = 95 + r.nextInt(6),
      respiratory_rate = 12 + r.nextInt(9),
      device_id = f"DEV${r.nextInt(deviceCount) + 1}%04d",
      location = pick(r, locations))
  }

  /** Claims (`healthcare_data_generator.py:136-166`): service date within
    * the 30 days before `asOf`, submission between service and `asOf`.
    */
  def claim(id: Long): InsuranceClaim = {
    val r = rng(2, id)
    val serviceDate = asOf.minusDays(r.nextInt(31).toLong)
    val gap = ChronoUnit.DAYS.between(serviceDate, asOf).toInt
    val submissionDate = serviceDate.plusDays(if (gap <= 0) 0L else r.nextInt(gap + 1).toLong)
    val baseAmount = 100 + r.nextInt(1901)
    InsuranceClaim(
      claim_id = s"CLM${100000 + r.nextInt(900000)}",
      patient_id = patientId(r),
      provider_id = f"DR${r.nextInt(providerCount) + 1}%04d",
      service_date = serviceDate.toString,
      diagnosis_codes = sample(r, diagnosisCodes, 1 + r.nextInt(3)),
      procedure_codes = sample(r, procedureCodes, 1 + r.nextInt(2)),
      total_amount = round2(baseAmount * (0.8 + r.nextDouble() * 0.4)),
      insurance_type = pick(r, insuranceTypes),
      claim_status = pick(r, claimStatuses),
      submission_date = submissionDate.toString)
  }

  /** EHR records (`healthcare_data_generator.py:168-209`): visit within 90
    * days; each lab result normal with p=0.8, else low/high abnormal.
    */
  def ehr(id: Long): EhrRecord = {
    val r = rng(3, id)
    val labs = labTests.map { case (name, unit, lo, hi) =>
      val v =
        if (r.nextDouble() < 0.8) lo + r.nextDouble() * (hi - lo)
        else if (r.nextDouble() < 0.5) lo * 0.5 + r.nextDouble() * (lo - lo * 0.5)
        else hi + r.nextDouble() * (hi * 1.5 - hi)
      name -> LabResult(round2(v), unit, s"$lo-$hi")
    }.toMap
    def sentence(n: Int): String = (0 until n).map(_ => pick(r, words)).mkString(" ")
    EhrRecord(
      record_id = s"EHR${100000 + r.nextInt(900000)}",
      patient_id = patientId(r),
      visit_date = asOf.minusDays(r.nextInt(91).toLong).toString,
      provider_id = f"DR${r.nextInt(providerCount) + 1}%04d",
      diagnosis = sentence(6),
      treatment = sentence(8),
      medications = sample(r, medications, 1 + r.nextInt(3)),
      lab_results = labs,
      notes = sentence(20))
  }

  def vitalsDs(spark: SparkSession, n: Long): Dataset[PatientVitals] = {
    import spark.implicits._
    spark.range(n).map((id: java.lang.Long) => vitals(id))
  }

  /** JSON message stream as the publisher would emit it: payload plus the
    * `data_type` discriminator (`pubsub_publisher.py:105-117,222,241,261`),
    * mixed ~60/20/10 vitals/claims/EHR with ~10% junk-free margin
    * reproduced as unknown-type records for dead-letter testing.
    */
  def messagesJson(spark: SparkSession, n: Long, offset: Long = 0L): Dataset[String] = {
    import spark.implicits._
    spark.range(offset, offset + n).map { id =>
      val r = rng(4, id)
      val roll = r.nextDouble()
      if (roll < 0.6) toJson(vitals(id), "patient_vitals")
      else if (roll < 0.8) toJson(claim(id), "insurance_claim")
      else if (roll < 0.9) toJson(ehr(id), "ehr_record")
      else s"""{"data_type": "unknown_sensor", "payload": "opaque-$id"}"""
    }
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
  private def jstr(s: String): String = "\"" + esc(s) + "\""
  private def jarr(xs: Seq[String]): String = xs.map(jstr).mkString("[", ",", "]")

  private def toJson(v: PatientVitals, dt: String): String =
    s"""{"data_type":${jstr(dt)},"patient_id":${jstr(v.patient_id)},"timestamp":${jstr(v.timestamp)},""" +
      s""""heart_rate":${v.heart_rate},"blood_pressure_systolic":${v.blood_pressure_systolic},""" +
      s""""blood_pressure_diastolic":${v.blood_pressure_diastolic},"temperature":${v.temperature},""" +
      s""""oxygen_saturation":${v.oxygen_saturation},"respiratory_rate":${v.respiratory_rate},""" +
      s""""device_id":${jstr(v.device_id)},"location":${jstr(v.location)}}"""

  private def toJson(c: InsuranceClaim, dt: String): String =
    s"""{"data_type":${jstr(dt)},"claim_id":${jstr(c.claim_id)},"patient_id":${jstr(c.patient_id)},""" +
      s""""provider_id":${jstr(c.provider_id)},"service_date":${jstr(c.service_date)},""" +
      s""""diagnosis_codes":${jarr(c.diagnosis_codes)},"procedure_codes":${jarr(c.procedure_codes)},""" +
      s""""total_amount":${c.total_amount},"insurance_type":${jstr(c.insurance_type)},""" +
      s""""claim_status":${jstr(c.claim_status)},"submission_date":${jstr(c.submission_date)}}"""

  private def toJson(e: EhrRecord, dt: String): String = {
    val labs = e.lab_results.toSeq.sortBy(_._1).map { case (k, lr) =>
      s"${jstr(k)}:{\"value\":${lr.value},\"unit\":${jstr(lr.unit)},\"normal_range\":${jstr(lr.normal_range)}}"
    }.mkString("{", ",", "}")
    s"""{"data_type":${jstr(dt)},"record_id":${jstr(e.record_id)},"patient_id":${jstr(e.patient_id)},""" +
      s""""visit_date":${jstr(e.visit_date)},"provider_id":${jstr(e.provider_id)},""" +
      s""""diagnosis":${jstr(e.diagnosis)},"treatment":${jstr(e.treatment)},""" +
      s""""medications":${jarr(e.medications)},"lab_results":$labs,"notes":${jstr(e.notes)}}"""
  }
}
