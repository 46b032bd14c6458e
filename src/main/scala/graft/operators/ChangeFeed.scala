package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generalized change-feed consumption for [[TableVersions]] tables —
  * the consumer half of the CDF contract, factored out of
  * [[graft.streaming.IndexPipeline.followCorpus]] so ANY downstream
  * (incremental materialized views, replicas, index maintenance,
  * audit sinks) can tail a versioned table the same way.
  *
  * The driver is a marker loop with Structured Streaming's replay
  * shape: each committed source version is applied IN ORDER, the
  * progress marker (a one-line file in the CONSUMER's checkpoint dir —
  * consumers never write into the source table) advances only after
  * the version's changes are applied, so a crash replays exactly the
  * in-flight version. Consumers that write into a [[TableVersions]]
  * destination get exactly-once end-to-end by keying their commit with
  * `txn = (consumerName, sourceVersion)` — the replayed version then
  * re-commits nothing, which is what [[refreshPartitionsFrom]] does.
  *
  * Scale: one [[TableVersions.readChanges]] plan per catch-up (append
  * steps cost O(new data), layout rewrites cost nothing), and the
  * marker read/write is O(1) metadata. Lag tolerance is the source's
  * vacuum retention — readChanges THROWS past the horizon rather than
  * double-feeding the consumer, so size `keepVersions` to the slowest
  * consumer (the same contract as Delta CDF).
  */
object ChangeFeed {

  private def markerPath(checkpointDir: String) =
    new org.apache.hadoop.fs.Path(checkpointDir, "cdf_progress")

  /** Last source version this checkpoint has fully applied (-1 before
    * the first). A marker that exists but does not parse is a LOUD
    * error naming the recovery path — a silently-guessed value would
    * replay or skip versions.
    */
  def progress(spark: SparkSession, checkpointDir: String): Long = {
    val p = markerPath(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes()).trim finally in.close()
      try txt.toLong
      catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt change-feed progress marker at $p (content: '$txt'). " +
            "Recovery: write the last FULLY-APPLIED source version into the marker, " +
            "or delete it to re-apply from the beginning (safe only for consumers " +
            "that are idempotent per version, e.g. txn-keyed destinations)", e)
      }
    }
  }

  /** Marker updates are WRITE-TEMP-THEN-ATOMIC-RENAME (the same pattern
    * as the table format's commit promote): a crash mid-write leaves
    * only a hidden temp file, never a truncated marker that would wedge
    * or misdirect every subsequent [[follow]].
    */
  private def writeProgress(spark: SparkSession, checkpointDir: String, v: Long): Unit =
    Replace.file(spark.sparkContext.hadoopConfiguration, markerPath(checkpointDir))(
      _.write(v.toString.getBytes))

  /** Catch the consumer up to the source's current version
    * (AvailableNow semantics): `apply(version, changes)` runs once per
    * committed step with that step's CDF rows (`_change_type` ∈
    * insert|delete, `_commit_version` = version), oldest first; the
    * marker advances after each. `apply` must be idempotent per version
    * (or transactional via the destination's txn records) — a crash
    * between apply and marker replays that one version. Returns the
    * versions applied; call on a schedule (or from a foreachBatch
    * heartbeat) to tail continuously.
    */
  def follow(spark: SparkSession, srcRoot: String, checkpointDir: String)
      (apply: (Long, DataFrame) => Unit): Seq[Long] = {
    val cur = TableVersions.currentVersion(spark, srcRoot).getOrElse(return Seq.empty)
    val from = progress(spark, checkpointDir)
    if (cur <= from) return Seq.empty
    val changes = TableVersions.readChanges(spark, srcRoot, from, cur)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val versions = changes.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      versions.foreach { v =>
        apply(v, changes.filter(col("_commit_version") === v))
        writeProgress(spark, checkpointDir, v)
      }
      // step past trailing change-free versions (pure layout rewrites)
      writeProgress(spark, checkpointDir, cur)
      versions
    } finally { changes.unpersist(blocking = false); () }
  }

  /** Incremental MATERIALIZED-VIEW maintenance fed purely by the change
    * feed: for each source version, recompute `view` over ONLY the
    * source partitions whose rows changed and swap them into `dstRoot`
    * with [[TableVersions.replacePartitions]] keyed `(consumer,
    * version)` — exactly-once across crashes and restarts by
    * construction, and partitions the step emptied are dropped in the
    * same commit.
    *
    * Contract: `view` must be PARTITION-WISE on `partCol` — output rows
    * for partition value p derive only from source rows with that value
    * (per-date aggregates over a date-partitioned fact, per-key
    * summaries, filters/projections). That locality is what makes the
    * refresh O(changed partitions) instead of O(view): at 100 TB a
    * refresh touching 3 dates recomputes 3 dates. `view`'s output must
    * carry `partCol`.
    *
    * Returns the source versions applied this call.
    */
  def refreshPartitionsFrom(spark: SparkSession, srcRoot: String, dstRoot: String,
      checkpointDir: String, consumer: String, partCol: String)
      (view: DataFrame => DataFrame): Seq[Long] =
    follow(spark, srcRoot, checkpointDir) { (v, changes) =>
      val changedVals = changes.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq
      if (changedVals.nonEmpty) {
        val srcAtV = TableVersions.read(spark, srcRoot, Some(v))
          .filter(col(partCol).cast("string").isin(changedVals: _*))
        // the refresh delta is consumed twice (produced-partition scan,
        // then the staged write) and is O(changed partitions) of view
        // output by the partition-wise contract — persist it so the
        // view pipeline over the source runs ONCE per version
        val out = view(srcAtV)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          require(out.columns.contains(partCol),
            s"refreshPartitionsFrom: view output must carry partition column '$partCol'")
          val producedVals = out.select(col(partCol).cast("string")).distinct()
            .collect().map(_.getString(0)).toSet
          val emptied = changedVals.filterNot(producedVals).map(pv => Map(partCol -> pv))
          if (TableVersions.currentVersion(spark, dstRoot).isEmpty)
            TableVersions.appendTxn(spark, dstRoot, out, consumer, v,
              partitionBy = Seq(partCol))
          else
            TableVersions.replacePartitions(spark, dstRoot, out,
              txn = Some(consumer -> v), drop = emptied)
          ()
        } finally { out.unpersist(blocking = false); () }
      }
    }
}
