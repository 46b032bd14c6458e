package graft.runner

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.marts.FactPatientEncounters
import graft.model.Config
import graft.staging.Staging

/** Zone sink configuration — the pluggable-connector surface of the
  * lakehouse. `format` is any DataSource V1/V2 short name or class;
  * `options` pass verbatim to the writer/reader. Three support tiers:
  *
  *  - **verified columnar** (`parquet`, `orc`): the zone contracts —
  *    schema preservation, dynamic partition overwrite, predicate
  *    pushdown on read-back — are proven by FormatsSpec in this repo;
  *  - **connector formats** (anything else non-textual, e.g. a
  *    `bigquery` warehouse sink with
  *    `Map("table" -> "dataset.fact", "temporaryGcsBucket" -> ...,
  *    "writeMethod" -> "indirect")` — the reference's BigQuery
  *    WRITE_APPEND sinks (`healthcare_etl_pipeline.py:296-339`)
  *    expressed as writer config, or `jdbc`/`delta`/`iceberg`):
  *    ACCEPTED as configuration and resolved by Spark at write time; in
  *    an environment without the connector jar the write raises Spark's
  *    standard unresolvable-data-source error naming the format
  *    (spec-pinned), in production it routes to the warehouse with no
  *    code change;
  *  - **textual formats** (`csv`, `json`, `text`): rejected eagerly —
  *    zones require schema-preserving files (the raw-zone INGEST of
  *    csv/json lives in `sources.Ingest`, not here).
  */
final case class ZoneSink(format: String = "parquet",
    options: Map[String, String] = Map.empty) {
  require(!Seq("csv", "json", "text").contains(format.toLowerCase),
    s"zone format must be schema-preserving; raw-zone $format ingest belongs to sources.Ingest")
}

/** Orchestrator replacing the Airflow DAG
  * (`airflow/dags/healthcare_data_pipeline_dag.py:139-147` wiring):
  * ingest/ETL → processed tables → staging views → fact table → reports →
  * health gates. Zones map to columnar directories (Parquet by default;
  * ORC and warehouse connectors pluggable via [[ZoneSink]])
  * (`raw/ processed/ curated/`, mirroring the three GCS buckets + BQ
  * datasets, `terraform/main.tf:118-245`).
  *
  * Scale: the fact table is written `partitionBy(measurement_date)` —
  * the date-partitioning the reference documents as intent
  * (`docs/architecture/technical_architecture.md:162-165`) — which gives
  * dynamic partition pruning on the 24h/30d report filters for free.
  */
final class Lakehouse(spark: SparkSession, root: String, cfg: Config = Config.default,
    sink: ZoneSink = ZoneSink()) {

  def this(spark: SparkSession, root: String, cfg: Config, format: String) =
    this(spark, root, cfg, ZoneSink(format))

  val processedDir = s"$root/processed"
  val curatedDir = s"$root/curated"

  private def write(df: DataFrame, mode: SaveMode, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode).format(sink.format).options(sink.options)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(path)
  }
  private def read(path: String): DataFrame =
    spark.read.format(sink.format).options(sink.options).load(path)

  /** Run the ETL over a raw message DataFrame (one string column `value`)
    * and append the three processed tables + dead-letter output (R1/S3/S4).
    */
  def runEtl(raw: DataFrame, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val enriched = raw.transform(Etl.pipeline(cfg)).cache()
    try {
      write(Etl.routeVitals(enriched), mode, s"$processedDir/patient_vitals")
      write(Etl.routeClaims(enriched), mode, s"$processedDir/insurance_claims")
      write(Etl.routeEhr(enriched), mode, s"$processedDir/ehr_records")
    } finally enriched.unpersist()
    // Dead-letter channel gets the un-filtered parse output (errors kept)
    raw.transform(Etl.parse(cfg)).transform(Etl.routeUnknown)
      .select(to_json(struct(col("*"))).as("value"))
      .write.mode(mode).text(s"$root/errors/unknown_data")
  }

  def processedVitals: DataFrame = read(s"$processedDir/patient_vitals")
  def processedClaims: DataFrame = read(s"$processedDir/insurance_claims")
  def processedEhr: DataFrame = read(s"$processedDir/ehr_records")

  /** Staging views (dbt `+materialized: view`, `dbt_project.yml:25-26`). */
  def stgVitals: DataFrame = processedVitals.transform(Staging.stgPatientVitals(cfg))
  def stgClaims: DataFrame = processedClaims.transform(Staging.stgInsuranceClaims(cfg))
  def stgEhr: DataFrame = processedEhr.transform(Staging.stgEhrRecords(cfg))

  /** Materialize the fact table (dbt `+materialized: table`), partitioned
    * by measurement date for pruning at scale.
    */
  def buildFact(): Unit =
    write(FactPatientEncounters.build(cfg)(stgVitals, stgClaims, stgEhr)
        .withColumn("measurement_date", to_date(col("measurement_timestamp"))),
      SaveMode.Overwrite, s"$curatedDir/fact_patient_encounters",
      partitionCols = Seq("measurement_date"))

  def fact: DataFrame =
    read(s"$curatedDir/fact_patient_encounters").drop("measurement_date")

  /** Fact slice for time-bounded report queries WITH partition pruning:
    * the timestamp predicate alone cannot prune (the table is partitioned
    * on `measurement_date`), so we add the implied date predicate —
    * `ts >= X ⇒ date(ts) >= date(X)` — which reaches the scan as a
    * PartitionFilter. At 100 TB this is the difference between scanning
    * one day and scanning seven years for the 24h monitoring report.
    */
  def factSince(since: java.sql.Timestamp): DataFrame =
    read(s"$curatedDir/fact_patient_encounters")
      .filter(col("measurement_date") >= to_date(lit(since)) &&
        col("measurement_timestamp") >= lit(since))
      .drop("measurement_date")

  /** Incremental fact refresh for an append batch (streaming-friendly
    * 15-minute-cadence alternative to the full `buildFact`):
    *
    *  1. the batch flows through the same ETL and APPENDS to the
    *     processed tables;
    *  2. the set of affected fact partitions is computed — a fact
    *     partition (measurement_date) depends only on that date's vitals
    *     plus claims/EHR within the ±proximity band, so affected =
    *     new-vitals dates ∪ (new-claim service dates ± band) ∪
    *     (new-EHR visit dates ± band);
    *  3. ONLY those partitions are rebuilt (staging vitals filtered to
    *     the affected dates; claims/EHR pruned to affected ± band, which
    *     keeps band context complete) and written with DYNAMIC partition
    *     overwrite — untouched dates keep their existing files.
    *
    * At 100 TB this turns the 15-minute fact refresh from a full
    * 30-day rebuild into a rewrite of ≤ a handful of date partitions.
    *
    * Semantics are at-least-once per batch: re-applying an identical
    * batch appends duplicate processed rows. Exactly-once belongs to the
    * ingest layer — route batches through `StreamingEtl.dedupStream`
    * (or idempotent batch ids) before this call.
    */
  def refreshFactIncremental(raw: DataFrame): Seq[java.sql.Date] = {
    val enriched = raw.transform(Etl.pipeline(cfg)).cache()
    try {
      write(Etl.routeVitals(enriched), SaveMode.Append, s"$processedDir/patient_vitals")
      write(Etl.routeClaims(enriched), SaveMode.Append, s"$processedDir/insurance_claims")
      write(Etl.routeEhr(enriched), SaveMode.Append, s"$processedDir/ehr_records")

      val affected = graft.marts.FactPatientEncounters.affectedDates(cfg)(
        Etl.routeVitals(enriched), Etl.routeClaims(enriched), Etl.routeEhr(enriched))
      val (stgV, stgC, stgE) = graft.marts.FactPatientEncounters
        .datesInputs(cfg, affected)(stgVitals, stgClaims, stgEhr)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        write(graft.marts.FactPatientEncounters.build(cfg)(stgV, stgC, stgE)
            .withColumn("measurement_date", to_date(col("measurement_timestamp"))),
          SaveMode.Overwrite, s"$curatedDir/fact_patient_encounters",
          partitionCols = Seq("measurement_date"))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      affected
    } finally enriched.unpersist()
  }

  /** Full DAG cycle on generated data; returns the health alerts. */
  def runAll(messages: Long = 10000): Seq[Reports.HealthAlert] = {
    val gen = new HealthcareGenerator(seed = 42L, asOf = cfg.asOf.toLocalDateTime.toLocalDate)
    runEtl(gen.messagesJson(spark, messages).toDF("value"))
    buildFact()
    Reports.evaluateGates(cfg)(processedVitals, fact)
  }

  /** Small-files compaction for a (non-partitioned) zone table — the
    * operational complement to [[refreshFactIncremental]]: every
    * append-mode micro-batch leaves one-or-more files per trigger, and
    * after a day of 15-minute cycles a 100 TB table is tens of
    * thousands of KB-sized files whose open/footer costs dominate scan
    * time. Compaction rewrites the table into ⌈bytes/targetFileBytes⌉
    * files: read → repartition → write to a temp sibling → atomic-ish
    * directory swap (the two-rename window is the standard non-
    * transactional lakehouse tradeoff; table formats with a metadata
    * log do the swap in the log instead — same data motion).
    * Partitioned tables compact per partition directory with the same
    * routine. Returns the new file count.
    */
  def compact(path: String, targetFileBytes: Long = 128L << 20): Int =
    swapRewrite(path, targetFileBytes)((df, n) => df.repartition(n))

  /** Z-order layout job ([[graft.operators.ZOrder.cluster]]) with the
    * same swap-rewrite mechanics as [[compact]]: rewrites the table so
    * every file's min/max range is narrow in EVERY `keys` dimension —
    * parquet's footer stats then let scans with a predicate on any one
    * key skip most files. Run periodically like compaction (it IS a
    * compaction with a smarter row order).
    */
  def optimizeZOrder(path: String, keys: Seq[String],
      targetFileBytes: Long = 128L << 20, bits: Int = 12): Int =
    swapRewrite(path, targetFileBytes)((df, n) =>
      graft.operators.ZOrder.cluster(df, keys, numFiles = n, bits = bits))

  /** Shared rewrite-and-swap: relayout to ⌈bytes/target⌉ files via
    * `relayout`, write to a temp sibling, swap directories. Returns the
    * new file count.
    */
  private def swapRewrite(path: String, targetFileBytes: Long)(
      relayout: (DataFrame, Int) => DataFrame): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    // Refuse partitioned roots: a flat read+rewrite would inline the
    // partition columns into the data files and silently destroy the
    // layout. Rewrite each leaf partition directory instead.
    val subdirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
    require(subdirs.isEmpty,
      s"compact: $path contains partition directories (${subdirs.take(3).mkString(", ")}…) — " +
        "compact each leaf partition directory individually")
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compacting")
    relayout(read(path), nFiles)
      .write.format(sink.format).options(sink.options).mode(SaveMode.Overwrite).save(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "__precompact")
    require(fs.rename(p, old), s"compact: could not move $p aside")
    // If activating the new layout fails, put the original back before
    // rethrowing — otherwise a transient FS error between the two renames
    // strands the table in __precompact with NOTHING at `path`.
    if (!fs.rename(tmp, p)) {
      val restored = fs.rename(old, p)
      throw new IllegalStateException(
        s"compact: could not activate $tmp; " +
          (if (restored) s"restored original at $p"
           else s"RESTORE FAILED — data is at $old, manual rename required"))
    }
    fs.delete(old, true)
    fs.listStatus(p).count(_.getPath.getName.endsWith(formatSuffix))
  }

  private def formatSuffix: String = sink.format match {
    case "orc" => ".orc"
    case _ => ".parquet"
  }

  /** [[compact]] for a partitioned table: walk to the leaf partition
    * directories (those containing data files, not further `k=v` dirs)
    * and compact each independently. Partition independence is the
    * scale property: at 100 TB the sweep parallelizes trivially across
    * partitions and a failed leaf leaves every other partition intact.
    * Returns (leaf directories compacted, total files after).
    */
  def compactPartitioned(root: String, targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(hconf)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val subdirs = fs.listStatus(p).filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_")) // _SUCCESS markers etc.
      if (subdirs.isEmpty) Seq(p) else subdirs.toSeq.flatMap(s => leaves(s.getPath))
    }
    val ls = leaves(rp).filter(p => fs.listStatus(p)
      .exists(_.getPath.getName.endsWith(formatSuffix)))
    val counts = ls.map(p => compact(p.toString, targetFileBytes))
    (ls.length, counts.sum)
  }
}
