package graft.runner

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

import graft.operators.{Replace, TableVersions}

/** Where a [[Lakehouse]]'s processed and curated zone tables live: the
  * five moves the runner makes on a zone table. `txn` is an
  * (application id, batch id) pair, the key of exactly-once replay.
  */
trait Zones {
  /** Append `df` to the table at `path` as batch `txn`. */
  def append(spark: SparkSession, path: String, df: DataFrame, txn: (String, Long)): Unit
  /** Whether the table at `path` already holds batch `txn` (or a later one). */
  def recorded(spark: SparkSession, path: String, txn: (String, Long)): Boolean
  /** Replace the whole table, partitioned by `partitionBy`. */
  def overwrite(spark: SparkSession, path: String, df: DataFrame, partitionBy: Seq[String]): Unit
  /** Replace only the partitions `df` holds rows for, as batch `txn`. */
  def replacePartitions(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String], txn: (String, Long)): Unit
  def read(spark: SparkSession, path: String): DataFrame
}

/** Zones in graft's table format, the Spark-native equivalent of the
  * reference's managed BigQuery tables being its zones
  * (`healthcare_etl_pipeline.py:296-339`, `dbt_project.yml:27-30`).
  * Every write is a [[TableVersions]] commit carrying its txn, so a
  * replayed batch re-commits nothing, a refresh swaps its dates in one
  * commit, every refresh is a version to restore or tail with
  * [[TableVersions.readChanges]], and reads plan from commit metadata.
  */
object TableZones extends Zones {
  def append(spark: SparkSession, path: String, df: DataFrame, txn: (String, Long)): Unit = {
    TableVersions.appendTxn(spark, path, df, txn._1, txn._2); ()
  }
  def recorded(spark: SparkSession, path: String, txn: (String, Long)): Boolean =
    TableVersions.lastTxn(spark, path, txn._1).exists(_ >= txn._2)
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String]): Unit = {
    TableVersions.overwrite(spark, path, df, partitionBy = partitionBy); ()
  }
  def replacePartitions(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String], txn: (String, Long)): Unit = {
    if (TableVersions.currentVersion(spark, path).isEmpty) // a refresh before any build
      TableVersions.appendTxn(spark, path, df, txn._1, txn._2, partitionBy = partitionBy)
    else TableVersions.replacePartitions(spark, path, df, txn = Some(txn))
    ()
  }
  def read(spark: SparkSession, path: String): DataFrame = TableVersions.read(spark, path)
}

/** Zones as plain directories in any DataSource format — the
  * pluggable-connector surface of the lakehouse. `format` is any
  * DataSource V1/V2 short name or class; `options` pass verbatim to the
  * writer/reader. Three support tiers:
  *
  *  - **verified columnar** (`parquet`, `orc`): schema preservation,
  *    dynamic partition overwrite and pushdown on read-back are proven
  *    by FormatsSpec;
  *  - **connector formats** (anything else non-textual, e.g. `bigquery`
  *    with `Map("table" -> "dataset.fact", "temporaryGcsBucket" -> ...)`
  *    — the reference's WRITE_APPEND sinks as writer config — or
  *    `jdbc`/`delta`/`iceberg`): accepted as configuration and resolved
  *    by Spark at write time; without the connector jar the write raises
  *    Spark's unresolvable-data-source error naming the format;
  *  - **textual formats** (`csv`, `json`, `text`): rejected eagerly —
  *    zones need schema-preserving files (raw ingest is `sources.Ingest`).
  *
  * A directory records no batches, so sink zones are at-least-once per
  * batch: re-applying a batch appends duplicate processed rows. Route
  * batches through `StreamingEtl.dedupStream` for effectively-once.
  */
final case class ZoneSink(format: String = "parquet",
    options: Map[String, String] = Map.empty) extends Zones {
  require(!Seq("csv", "json", "text").contains(format.toLowerCase),
    s"zone format must be schema-preserving; raw-zone $format ingest belongs to sources.Ingest")

  private def writer(df: DataFrame, mode: SaveMode, partitionBy: Seq[String]): DataFrameWriter[Row] = {
    val w = df.write.mode(mode).format(format).options(options)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  def append(spark: SparkSession, path: String, df: DataFrame, txn: (String, Long)): Unit =
    writer(df, SaveMode.Append, Nil).save(path)
  def recorded(spark: SparkSession, path: String, txn: (String, Long)): Boolean = false
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String]): Unit =
    writer(df, SaveMode.Overwrite, partitionBy).save(path)
  /** Dynamic partition overwrite as a writer option, so the session's
    * `spark.sql.sources.partitionOverwriteMode` (shared by every thread
    * using the session) is never touched: untouched partitions keep
    * their files.
    */
  def replacePartitions(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String], txn: (String, Long)): Unit =
    writer(df, SaveMode.Overwrite, partitionBy).option("partitionOverwriteMode", "dynamic").save(path)
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format).options(options).load(path)

  /** Small-files compaction for a (non-partitioned) sink directory, whose
    * append-mode batches leave many small files: rewrite it into
    * ⌈bytes/targetFileBytes⌉ files through [[Replace.dir]] (the table
    * format compacts in its log instead). Partitioned directories compact
    * per leaf with [[compactPartitioned]]. Returns the new file count.
    */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long = 128L << 20): Int =
    swapRewrite(spark, path, targetFileBytes)((df, n) => df.repartition(n))

  /** [[compact]] in Z-order ([[graft.operators.ZOrder.cluster]]): every
    * file's min/max range is narrow in EVERY `keys` dimension, so footer
    * stats let a predicate on any one key skip most files.
    */
  def optimizeZOrder(spark: SparkSession, path: String, keys: Seq[String],
      targetFileBytes: Long = 128L << 20, bits: Int = 12): Int =
    swapRewrite(spark, path, targetFileBytes)((df, n) =>
      graft.operators.ZOrder.cluster(df, keys, numFiles = n, bits = bits))

  /** Relayout to ⌈bytes/target⌉ files via `relayout` and swap the
    * directory. Returns the new file count.
    */
  private def swapRewrite(spark: SparkSession, path: String, targetFileBytes: Long)(
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
    Replace.dir(hconf, path, "compact")(
      writer(relayout(read(spark, path), nFiles), SaveMode.Overwrite, Nil).save(_))
    fs.listStatus(p).count(_.getPath.getName.endsWith(formatSuffix))
  }

  private def formatSuffix: String = format match {
    case "orc" => ".orc"
    case _ => ".parquet"
  }

  /** [[compact]] for a partitioned directory: compact each leaf partition
    * directory (one holding data files) independently, so a failed leaf
    * leaves every other partition intact. Returns (leaf directories
    * compacted, total files after).
    */
  def compactPartitioned(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val subdirs = fs.listStatus(p).filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_")) // _SUCCESS markers etc.
      if (subdirs.isEmpty) Seq(p) else subdirs.toSeq.flatMap(s => leaves(s.getPath))
    }
    val ls = leaves(rp).filter(p => fs.listStatus(p)
      .exists(_.getPath.getName.endsWith(formatSuffix)))
    val counts = ls.map(p => compact(spark, p.toString, targetFileBytes))
    (ls.length, counts.sum)
  }
}
