package graft.runner

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.marts.FactPatientEncounters
import graft.model.Config
import graft.operators.{Forks, Replace, TableVersions}
import graft.staging.Staging

/** Orchestrator replacing the Airflow DAG
  * (`airflow/dags/healthcare_data_pipeline_dag.py:139-147` wiring):
  * ingest/ETL → processed tables → staging views → fact table → reports →
  * health gates, over one pair of zones (`processed/`, `curated/`,
  * mirroring the GCS buckets + BQ datasets, `terraform/main.tf:118-245`).
  * Where the zone tables live is the [[Zones]] argument: graft's table
  * format by default ([[TableZones]]: exactly-once, atomic refresh, time
  * travel), or plain directories in any DataSource format ([[ZoneSink]]:
  * parquet, orc, warehouse connectors; at-least-once). Every batch call
  * takes a batch id; table zones record it, sink zones ignore it.
  *
  * Scale: the fact table is partitioned by `measurement_date` — the
  * date-partitioning the reference documents as intent
  * (`docs/architecture/technical_architecture.md:162-165`) — so report
  * windows prune to their dates and a refresh rewrites only the dates a
  * batch touched.
  */
final class Lakehouse(spark: SparkSession, root: String, cfg: Config = Config.default,
    zones: Zones = TableZones) {

  val processedDir = s"$root/processed"
  val curatedDir = s"$root/curated"
  val vitalsRoot = s"$processedDir/patient_vitals"
  val claimsRoot = s"$processedDir/insurance_claims"
  val ehrRoot = s"$processedDir/ehr_records"
  val factRoot = s"$curatedDir/fact_patient_encounters"

  /** One ETL batch into the three processed tables (R1/S3/S4), and the
    * dead-letter channel. On table zones each table takes the batch
    * exactly once (separate txn app ids per table: a crash between the
    * vitals and claims commits replays into "vitals no-op, claims
    * applies"), and a replay of a fully recorded batch pays metadata
    * reads, not an ETL pass.
    */
  def runEtl(raw: DataFrame, batchId: Long): Unit =
    if (!routesRecorded(batchId)) {
      val enriched = raw.transform(Etl.pipeline(cfg)).cache()
      try {
        TableVersions.timedOp("etl.materialize") { enriched.count() }
        appendRoutes(enriched, batchId)
      } finally { enriched.unpersist(); () }
      // the dead letter gets the un-filtered parse output (errors kept)
      raw.transform(Etl.parse(cfg)).transform(Etl.routeUnknown)
        .select(to_json(struct(col("*"))).as("value"))
        .write.mode("append").text(s"$root/errors/unknown_data")
    }

  private def routesRecorded(batchId: Long): Boolean =
    Seq(vitalsRoot -> "etl_vitals", claimsRoot -> "etl_claims", ehrRoot -> "etl_ehr")
      .forall { case (r, a) => zones.recorded(spark, r, a -> batchId) }

  /** The three processed-table appends of one ETL batch, CONCURRENTLY
    * (Forks scaladoc): wall time is the slowest route, not the sum. The
    * caller materializes the cache first, so the routes read settled
    * columnar cache instead of racing to compute it.
    */
  private def appendRoutes(enriched: DataFrame, batchId: Long): Unit =
    Forks(spark) { forks =>
      forks.fork("etl-vitals")(zones.append(spark, vitalsRoot,
        Etl.routeVitals(enriched), "etl_vitals" -> batchId))
      forks.fork("etl-claims")(zones.append(spark, claimsRoot,
        Etl.routeClaims(enriched), "etl_claims" -> batchId))
      forks.fork("etl-ehr")(zones.append(spark, ehrRoot,
        Etl.routeEhr(enriched), "etl_ehr" -> batchId))
    }

  def processedVitals: DataFrame = zones.read(spark, vitalsRoot)
  def processedClaims: DataFrame = zones.read(spark, claimsRoot)
  def processedEhr: DataFrame = zones.read(spark, ehrRoot)

  /** Staging views (dbt `+materialized: view`, `dbt_project.yml:25-26`). */
  def stgVitals: DataFrame = processedVitals.transform(Staging.stgPatientVitals(cfg))
  def stgClaims: DataFrame = processedClaims.transform(Staging.stgInsuranceClaims(cfg))
  def stgEhr: DataFrame = processedEhr.transform(Staging.stgEhrRecords(cfg))

  private def factFrame(stgV: DataFrame,
      stgC: DataFrame = stgClaims, stgE: DataFrame = stgEhr): DataFrame =
    FactPatientEncounters.build(cfg)(stgV, stgC, stgE)
      .withColumn("measurement_date", to_date(col("measurement_timestamp")))

  /** Materialize the whole fact table (dbt `+materialized: table`). */
  def buildFact(): Unit =
    zones.overwrite(spark, factRoot, factFrame(stgVitals), Seq("measurement_date"))

  /** `buildFact()` then `refreshFactIncremental(raw, batchId)`, PIPELINED
    * (Forks scaladoc): the rebuild runs on a driver thread while the
    * batch's ETL and route appends land, and the swap joins it just
    * before touching the fact. Zone reads resolve their file listing
    * EAGERLY, so the rebuild is pinned to the pre-batch snapshot and the
    * result is bit-identical to the serial flow; wall time is
    * max(rebuild, ETL + appends) + swap. The rebuild is not txn-keyed,
    * like `buildFact()` itself.
    */
  def buildFactWithRefresh(raw: DataFrame, batchId: Long): Seq[java.sql.Date] = {
    // pin the rebuild's input snapshot NOW, before any append lands
    val pinned = factFrame(stgVitals)
    // the barrier joins the rebuild inside the refresh right before the
    // fact swap; on a refresh failure the scope cancels and joins the
    // rebuild, and the refresh's own error surfaces (Forks scaladoc)
    Forks(spark) { forks =>
      val rebuild = forks.fork("fact-build")(
        zones.overwrite(spark, factRoot, pinned, Seq("measurement_date")))
      refreshImpl(raw, batchId, () => rebuild.join())
    }
  }

  def fact: DataFrame = zones.read(spark, factRoot).drop("measurement_date")

  /** Fact slice for time-bounded reports WITH date pruning: the
    * timestamp predicate alone cannot prune a `measurement_date`
    * partitioning, so the implied `date(ts) >= date(X)` is added — one
    * day scanned instead of seven years for the 24h monitoring report.
    */
  def factSince(since: java.sql.Timestamp): DataFrame =
    zones.read(spark, factRoot)
      .filter(col("measurement_date") >= to_date(lit(since)) &&
        col("measurement_timestamp") >= lit(since))
      .drop("measurement_date")

  /** Incremental fact refresh for an append batch (the 15-minute-cadence
    * alternative to `buildFact`): the batch APPENDS to the processed
    * tables, and only the affected fact dates are rebuilt from full
    * staging history and swapped in. Affected = new-vitals dates ∪
    * (new-claim/EHR dates ± the proximity band), since a date's fact rows
    * depend only on that date's vitals and the claims/EHR in its band.
    * Returns the affected dates. On table zones the appends and the swap
    * are keyed by `batchId`, so replaying the call after a crash at ANY
    * point re-commits nothing, and a full replay serves the dates from a
    * marker written at swap time. On sink zones it is at-least-once.
    */
  def refreshFactIncremental(raw: DataFrame, batchId: Long): Seq[java.sql.Date] =
    refreshImpl(raw, batchId, () => ())

  /** `factBarrier` joins an overlapped fact job ([[buildFactWithRefresh]])
    * right before the refresh reads or writes the fact table.
    */
  private def refreshImpl(raw: DataFrame, batchId: Long,
      factBarrier: () => Unit): Seq[java.sql.Date] = {
    // FULL-REPLAY fast path: when all four tables already recorded the
    // batch, the swap is done — serve the affected dates from the marker
    // instead of re-running the batch's ETL parse, unless it is lost (a
    // crash between swap and marker write) or a later batch's (an older
    // batch replayed): then recompute below
    val marker =
      if (zones.recorded(spark, factRoot, "fact_refresh" -> batchId) && routesRecorded(batchId))
        readAffectedMarker()
      else None
    marker match { case Some((`batchId`, dates)) => return dates; case _ => }
    val enriched = raw.transform(Etl.pipeline(cfg)).cache()
    try Forks(spark) { forks =>
      // materialize the cache FIRST so the fork and the route appends
      // read settled cache instead of racing compute
      TableVersions.timedOp("etl.materialize") { enriched.count() }
      // the affected-dates scan needs only the cache, not the route
      // writes: fork it WHILE the appends land (Forks scaladoc)
      val affectedF = forks.fork("affected-dates")(FactPatientEncounters.affectedDates(cfg)(
        Etl.routeVitals(enriched), Etl.routeClaims(enriched), Etl.routeEhr(enriched)))
      if (!routesRecorded(batchId)) appendRoutes(enriched, batchId)
      val affected = affectedF.join()
      val (stgV, stgC, stgE) =
        FactPatientEncounters.datesInputs(cfg, affected)(stgVitals, stgClaims, stgEhr)
      factBarrier() // an overlapped fact rebuild must land before the swap plans
      zones.replacePartitions(spark, factRoot, factFrame(stgV, stgC, stgE),
        Seq("measurement_date"), "fact_refresh" -> batchId)
      if (marker.forall(_._1 < batchId)) writeAffectedMarker(batchId, affected)
      affected
    } finally { enriched.unpersist(); () }
  }

  /** The one affected-dates marker: the last refreshed batch's. */
  private def affectedMarkerPath = new Path(factRoot, "_refresh/last.dates")

  /** `b<batchId>`, the sorted dates one per line, then `#<count>`,
    * replaced whole ([[Replace.file]]). A marker that fails its checksum
    * or whose last line is not its date count reads as lost. The first
    * write sweeps the per-batch `b<batchId>.dates` markers (and their
    * checksums) that tables refreshed before the one marker still hold.
    */
  private def writeAffectedMarker(batchId: Long, dates: Seq[java.sql.Date]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = affectedMarkerPath.getFileSystem(conf)
    // a checksummed file system deletes each marker's checksum with it
    if (!fs.exists(affectedMarkerPath))
      Option(fs.globStatus(new Path(factRoot, "_refresh/b*.dates")))
        .foreach(_.foreach(st => fs.delete(st.getPath, false)))
    Replace.file(conf, affectedMarkerPath)(
      _.write((s"b$batchId" +: dates.map(_.toString).sorted :+ s"#${dates.size}")
        .mkString("", "\n", "\n").getBytes("UTF-8")))
  }

  /** (batch id, dates) of the marker, if it is there and whole. */
  private def readAffectedMarker(): Option[(Long, Seq[java.sql.Date])] = {
    val p = affectedMarkerPath
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      // a torn write on a checksummed file system fails its checksum
      val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        catch { case _: ChecksumException => Nil } finally in.close()
      lines.lastOption.filter(_ == s"#${lines.size - 2}").flatMap(_ => lines.head.stripPrefix("b")
        .toLongOption.map(_ -> lines.tail.init.map(java.sql.Date.valueOf)))
    }
  }

  /** Health gates over the current processed vitals and fact. */
  def gates(): Seq[Reports.HealthAlert] =
    Reports.evaluateGates(cfg)(processedVitals, fact)

  /** Full DAG cycle on generated data as batch 0; returns the health alerts. */
  def runAll(messages: Long = 10000): Seq[Reports.HealthAlert] = {
    val gen = new HealthcareGenerator(seed = 42L, asOf = cfg.asOf.toLocalDateTime.toLocalDate)
    runEtl(gen.messagesJson(spark, messages).toDF("value"), 0L)
    buildFact()
    gates()
  }
}
