package graft.runner

import org.apache.hadoop.fs.{ChecksumException, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.etl.Etl
import graft.marts.FactPatientEncounters
import graft.model.Config
import graft.operators.{Forks, TableVersions}
import graft.staging.Staging

/** The lakehouse pipeline RUNNING ON the versioned table format: the
  * processed and curated zones are [[TableVersions]] tables instead of
  * plain parquet directories, which is the Spark-native equivalent of
  * the reference's managed BigQuery tables BEING its zones
  * (`healthcare_etl_pipeline.py:296-339` WRITE_APPEND into dataset
  * tables; `dbt_project.yml:27-30` materializing marts as tables).
  * [[Lakehouse]] keeps the plain-directory zones for pluggable
  * [[ZoneSink]] formats; this runner is what a single-format parquet
  * deployment should use, because the format upgrades every zone write
  * from "directory of files" to an audited transaction:
  *
  *  - **exactly-once ingest**: each ETL batch lands in the three
  *    processed tables via `appendTxn(app, batchId)` — a foreachBatch
  *    replay after a crash re-commits nothing, so the at-least-once
  *    caveat on [[Lakehouse.refreshFactIncremental]] disappears by
  *    construction;
  *  - **atomic fact refresh**: the affected date partitions swap in ONE
  *    commit ([[TableVersions.replacePartitions]]) with the same batch
  *    id, so reports never observe a half-refreshed fact and a replayed
  *    refresh is a no-op end-to-end;
  *  - **time travel + audit**: every refresh is a version; a bad batch
  *    rolls back with [[TableVersions.restore]] instead of a rebuild;
  *  - **downstream change feed**: consumers tail the fact with
  *    [[TableVersions.readChanges]] (see [[graft.operators.ChangeFeed]])
  *    instead of re-scanning the table per cycle.
  *
  * Scale: identical data motion to [[Lakehouse]] — the fact stays
  * partitioned by `measurement_date` (partition tuples live in commit
  * metadata, so report-window reads plan from the commit without
  * directory listings), refreshes rewrite only affected dates, and
  * every commit is O(metadata) on top of the batch write itself.
  */
final class VersionedLakehouse(spark: SparkSession, root: String, cfg: Config = Config.default) {

  val vitalsRoot = s"$root/processed/patient_vitals"
  val claimsRoot = s"$root/processed/insurance_claims"
  val ehrRoot = s"$root/processed/ehr_records"
  val factRoot = s"$root/curated/fact_patient_encounters"

  /** One ETL batch into the three processed tables, exactly-once per
    * `batchId` (separate txn app ids per table: a crash between the
    * vitals and claims commits replays into "vitals no-op, claims
    * applies" — each table exactly-once, jointly idempotent).
    */
  def runEtl(raw: DataFrame, batchId: Long): Unit =
    if (!routesRecorded(batchId)) {
      val enriched = raw.transform(Etl.pipeline(cfg)).cache()
      try {
        TableVersions.timedOp("etl.materialize") { enriched.count() }
        appendRoutes(enriched, batchId)
      } finally { enriched.unpersist(); () }
    }

  // replay fast path: a crash REPLAY pays metadata reads, not an ETL pass
  private def routesRecorded(batchId: Long): Boolean =
    Seq(vitalsRoot -> "etl_vitals", claimsRoot -> "etl_claims", ehrRoot -> "etl_ehr")
      .forall { case (r, a) => TableVersions.lastTxn(spark, r, a).exists(_ >= batchId) }

  /** The three processed-table appends of one ETL batch. The tables are
    * independent, so the three commits run CONCURRENTLY (Forks scaladoc)
    * — the batch's wall time is the ETL materialization plus the SLOWEST
    * route write, not their sum (on a real cluster these are three
    * separate jobs the scheduler interleaves anyway). The caller
    * materializes the cache once up-front, so the racing routes read
    * columnar cache instead of racing to compute the same blocks.
    */
  private def appendRoutes(enriched: DataFrame, batchId: Long): Unit =
    Forks(spark) { forks =>
      forks.fork("etl-vitals")(TableVersions.appendTxn(spark, vitalsRoot,
        Etl.routeVitals(enriched), "etl_vitals", batchId))
      forks.fork("etl-claims")(TableVersions.appendTxn(spark, claimsRoot,
        Etl.routeClaims(enriched), "etl_claims", batchId))
      forks.fork("etl-ehr")(TableVersions.appendTxn(spark, ehrRoot,
        Etl.routeEhr(enriched), "etl_ehr", batchId))
    }

  def processedVitals: DataFrame = TableVersions.read(spark, vitalsRoot)
  def processedClaims: DataFrame = TableVersions.read(spark, claimsRoot)
  def processedEhr: DataFrame = TableVersions.read(spark, ehrRoot)

  def stgVitals: DataFrame = processedVitals.transform(Staging.stgPatientVitals(cfg))
  def stgClaims: DataFrame = processedClaims.transform(Staging.stgInsuranceClaims(cfg))
  def stgEhr: DataFrame = processedEhr.transform(Staging.stgEhrRecords(cfg))

  private def factFrame(stgV: DataFrame,
      stgC: DataFrame = stgClaims, stgE: DataFrame = stgEhr): DataFrame =
    FactPatientEncounters.build(cfg)(stgV, stgC, stgE)
      .withColumn("measurement_date", to_date(col("measurement_timestamp")))

  /** Full fact rebuild as one atomic versioned overwrite. */
  def buildFact(): Long =
    TableVersions.overwrite(spark, factRoot, factFrame(stgVitals),
      partitionBy = Seq("measurement_date"))

  /** PIPELINED bootstrap + first increment (Forks scaladoc): the full fact
    * rebuild and the next batch's ETL/route-appends are independent —
    * the rebuild reads the CURRENT processed snapshot, the appends only
    * write NEW processed versions — so the rebuild runs on a driver
    * thread while the batch's ETL materialize and the three route
    * appends land, and the incremental swap joins it just before
    * touching the fact table. Determinism: [[TableVersions.read]]
    * resolves commit state EAGERLY, so the rebuild's three staging
    * scans are pinned to the pre-batch versions at call time — the
    * fact it writes is bit-identical to a serial `buildFact()` before
    * `refreshFactIncremental`, and the swap then commits on top of it
    * exactly as in the serial flow. Wall time is
    * max(rebuild, batch ETL + appends) + swap instead of their sum —
    * on a cluster the appends' straggler tails back-fill with rebuild
    * tasks. The rebuild is an overwrite (not txn-keyed), same
    * replay surface as calling `buildFact()` yourself.
    */
  def buildFactWithRefresh(raw: DataFrame, batchId: Long): Seq[java.sql.Date] = {
    // pin the rebuild's input snapshot NOW, before any append commits
    val pinned = factFrame(stgVitals)
    // the barrier joins the rebuild inside the refresh right before the
    // fact swap; on a refresh failure the scope cancels and joins the
    // rebuild, and the refresh's own error surfaces (Forks scaladoc)
    Forks(spark) { forks =>
      val rebuild = forks.fork("fact-build")(TableVersions.overwrite(spark, factRoot,
        pinned, partitionBy = Seq("measurement_date")))
      refreshImpl(raw, batchId, () => { rebuild.join(); () })
    }
  }

  def fact: DataFrame = TableVersions.read(spark, factRoot).drop("measurement_date")

  /** Exactly-once incremental refresh: appends the batch to the
    * processed tables and swaps the affected fact date-partitions in
    * one transactional commit, all keyed by `batchId` — replaying the
    * whole call after a crash at ANY point re-commits nothing. Affected
    * = new-vitals dates ∪ (new-claims/EHR dates ± the proximity band),
    * the same dependency rule as [[Lakehouse.refreshFactIncremental]];
    * the rebuilt partitions read FULL staging history for those dates
    * (band context complete), only the swap is incremental.
    */
  def refreshFactIncremental(raw: DataFrame, batchId: Long): Seq[java.sql.Date] =
    refreshImpl(raw, batchId, () => ())

  /** `factBarrier` joins an overlapped fact job ([[buildFactWithRefresh]])
    * right before the refresh reads or commits against the fact table.
    */
  private def refreshImpl(raw: DataFrame, batchId: Long,
      factBarrier: () => Unit): Seq[java.sql.Date] = {
    // FULL-REPLAY fast path: when all four tables already recorded the
    // batch, the swap is done — serve the affected dates from the
    // marker written at swap time instead of re-running the batch's
    // ETL parse.
    if (TableVersions.lastTxn(spark, factRoot, "fact_refresh").exists(_ >= batchId) &&
        routesRecorded(batchId))
      readAffectedMarker(batchId) match {
        case Some(dates) => return dates
        case None => // a crash between swap and marker write: recompute below
      }
    val enriched = raw.transform(Etl.pipeline(cfg)).cache()
    try Forks(spark) { forks =>
      // materialize the cache FIRST so the fork and the route appends
      // read settled cache instead of racing compute
      TableVersions.timedOp("etl.materialize") { enriched.count() }
      // the affected-dates scan needs only the cache, not the route
      // commits: fork it WHILE the appends land (Forks scaladoc)
      val affectedF = forks.fork("affected-dates")(FactPatientEncounters.affectedDates(cfg)(
        Etl.routeVitals(enriched), Etl.routeClaims(enriched), Etl.routeEhr(enriched)))
      if (!routesRecorded(batchId)) appendRoutes(enriched, batchId)
      val affected = affectedF.join()
      val (stgV, stgC, stgE) =
        FactPatientEncounters.datesInputs(cfg, affected)(stgVitals, stgClaims, stgEhr)
      factBarrier() // an overlapped fact rebuild must commit before the swap plans
      if (TableVersions.currentVersion(spark, factRoot).isEmpty) // refresh before any build
        TableVersions.appendTxn(spark, factRoot, factFrame(stgV, stgC, stgE),
          "fact_refresh", batchId, partitionBy = Seq("measurement_date"))
      else
        TableVersions.replacePartitions(spark, factRoot, factFrame(stgV, stgC, stgE),
          txn = Some("fact_refresh" -> batchId))
      writeAffectedMarker(batchId, affected)
      affected
    } finally { enriched.unpersist(); () }
  }

  private def affectedMarkerPath(batchId: Long) =
    new Path(factRoot, s"_refresh/b$batchId.dates")

  /** Sorted dates, one per line, then `#<count>`, renamed into place from
    * a temp file (as the admin-lock heartbeat does). A marker that fails
    * its checksum or whose last line is not its date count reads as lost.
    */
  private def writeAffectedMarker(batchId: Long, dates: Seq[java.sql.Date]): Unit = {
    val p = affectedMarkerPath(batchId)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((dates.map(_.toString).sorted :+ s"#${dates.size}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    try FileContext.getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, Options.Rename.OVERWRITE)
    catch { case scala.util.control.NonFatal(e) => fs.delete(tmp, false); throw e }
  }

  private def readAffectedMarker(batchId: Long): Option[Seq[java.sql.Date]] = {
    val p = affectedMarkerPath(batchId)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      // a torn write on a checksummed file system fails its checksum
      val lines = try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        catch { case _: ChecksumException => Nil } finally in.close()
      lines.lastOption.filter(_ == s"#${lines.size - 1}")
        .map(_ => lines.init.map(java.sql.Date.valueOf))
    }
  }

  /** Health gates over the versioned snapshots. */
  def gates(): Seq[Reports.HealthAlert] =
    Reports.evaluateGates(cfg)(processedVitals, fact)
}
