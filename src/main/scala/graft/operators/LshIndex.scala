package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental MinHash-LSH signature maintenance — dedup NEW documents
  * against the historical corpus without recomputing it.
  *
  * The per-document minhash signature is a pure function of the
  * document, so the "index" is just a signature SUMMARY TABLE
  * (id, n_shingles, sig) maintained incrementally: each micro-batch
  * appends its documents' signatures (replace-on-reDelivery — the
  * signature is deterministic, so replays are idempotent), and
  * candidate pairs for the batch come from band-bucketing the DELTA
  * signatures against the stored ones ([[Dedup.bandBuckets]] derives
  * buckets from the sig column alone — historical TEXT is never
  * re-read, the table is ~|corpus|·(numHashes·8B) not corpus-sized).
  *
  * Equivalence contract (spec-pinned): running batches b₁..bₙ and
  * unioning [[pairsForDelta]] outputs equals one-shot
  * [[Dedup.minHashLsh]] over the concatenated corpus (uncapped) —
  * every pair materializes exactly when its LATER document arrives.
  * Unlike the batch operator there is no maxBucket cap here: a cap
  * sliced per-batch would drop different pairs than the one-shot slice
  * and silently break the equivalence; bound degenerate buckets
  * upstream (stop-shingle filtering) instead.
  *
  * Exactly-once: pair output is written partitioned by batch_id with
  * dynamic partition overwrite, so a replayed batch overwrites its own
  * partition instead of appending duplicates — the same idempotent-sink
  * stance as `SketchRollup.updateSummaryTable` and the Lakehouse
  * refresh's `ZoneSink.replacePartitions`.
  *
  * DELETION (shared mechanics in [[IndexTombstones]]; [[SemIndex]] uses
  * the same, [[TermIndex]] adds stats deltas): [[deleteBatch]] records a
  * tombstone partition in O(|victims|); every read path anti-joins it;
  * the next [[updateSignatureTable]] merge folds the tombstones into the
  * rewritten table and clears them. Already-emitted pairs referencing a
  * deleted doc go stale in place — read the pair log through
  * [[livePairs]], which keeps a row only while BOTH ends are live.
  * Re-indexing a deleted id is out of contract: new doc generations take
  * new ids, the standard log-structured-index stance.
  */
object LshIndex {

  private def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Delta documents → signatures (in-batch duplicates collapse first;
    * a re-delivered id computes the identical signature).
    */
  def signatures(delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, k: Int = 3, portable: Boolean = false): DataFrame =
    Dedup.minHashSignatures(delta.dropDuplicates(idCol), idCol, textCol, numHashes, k, portable)

  /** Merge a batch's signatures into the parquet summary table
    * (replace semantics on id → idempotent under replay). The merged
    * table is written to a temp sibling and rename-swapped into place
    * ([[Replace.dir]], as `ZoneSink.compact`): an in-place overwrite has
    * a window — post-delete, pre-commit — where a crash loses the whole
    * historical table; with the swap the live path always holds either
    * the old table or the new one. localCheckpoint is still taken so the
    * merged plan doesn't hold the old files open across the swap.
    */
  def updateSignatureTable(path: String, delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, k: Int = 3, portable: Boolean = false): Unit =
    updateSignatureTableFromSigs(path,
      signatures(delta, idCol, textCol, numHashes, k, portable), idCol)

  /** [[updateSignatureTable]] from ALREADY-COMPUTED delta signatures —
    * the seam [[processBatch]] uses so one batch pays the shingle +
    * minhash pass once (the pair emission and the fold both consume the
    * same checkpointed signature frame) instead of once per consumer.
    */
  private[graft] def updateSignatureTableFromSigs(path: String, deltaSigs: DataFrame,
      idCol: String): Unit = {
    val spark = deltaSigs.sparkSession
    if (!exists(spark, path)) {
      deltaSigs.write.options(WriteOpts.data).mode("overwrite").parquet(path)
      return
    }
    val (merged, foldedBatches) = mergedCheckpoint(path, deltaSigs, idCol)
    try swapInMerged(spark, path, merged, foldedBatches)
    finally graft.CacheScope.freeCheckpoint(merged)
  }

  /** The merged (live ∪ delta, delta wins on id) signature frame,
    * EAGERLY checkpointed — ONE scan of the stored table serves both the
    * pair emission (whose corpus is exactly this frame) and the fold
    * ([[swapInMerged]]); returns the tombstone batches the fold clears.
    * Tombstone batches are captured BEFORE the filterLive read
    * materializes: a delete recorded after this point survives the
    * post-swap clear (folded next merge). Caller frees the checkpoint.
    */
  private def mergedCheckpoint(path: String, deltaSigs: DataFrame,
      idCol: String): (DataFrame, Seq[Long]) = {
    val spark = deltaSigs.sparkSession
    val foldedBatches = IndexTombstones.currentBatches(spark, path)
    val merged = IndexTombstones.filterLive(spark.read.parquet(path), path, idCol)
      .join(deltaSigs.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(deltaSigs)
      .localCheckpoint(true)
    (merged, foldedBatches)
  }

  /** Write the checkpointed merged table to a temp sibling and
    * rename-swap it into place (see [[updateSignatureTable]] for the
    * crash-window contract), then clear exactly the tombstone batches
    * that were folded. Reads only the checkpoint, never `path` — safe to
    * run while another job still consumes the same checkpoint.
    */
  private def swapInMerged(spark: org.apache.spark.sql.SparkSession, path: String,
      merged: DataFrame, foldedBatches: Seq[Long]): Unit = {
    Replace.dir(spark.sparkContext.hadoopConfiguration, path, "updateSignatureTable")(
      merged.write.options(WriteOpts.data).mode("overwrite").parquet(_))
    IndexTombstones.clearBatches(spark, path, foldedBatches) // exactly what was folded
  }

  /** Delete documents from the index: O(|victims|) tombstone write,
    * idempotent per `delBatchId` — see [[IndexTombstones]].
    */
  def deleteBatch(sigPath: String, victims: DataFrame, idCol: String,
      delBatchId: Long): Unit =
    IndexTombstones.delete(sigPath, victims, idCol, delBatchId)

  /** The pair log with stale rows (an endpoint deleted) filtered out. */
  def livePairs(spark: org.apache.spark.sql.SparkSession, pairsPath: String,
      sigPath: String, idCol: String): DataFrame =
    IndexTombstones.livePairs(spark.read.parquet(pairsPath), sigPath,
      "id_a", "id_b", idCol)

  /** Candidate duplicate pairs INVOLVING the delta documents: delta
    * band-buckets equi-join the (stored ∪ delta) band-buckets; exact
    * signature agreement re-scores candidates. Call BEFORE
    * [[updateSignatureTable]] for the same batch. Output matches
    * [[Dedup.minHashLsh]]'s shape: (id_a, id_b, est_jaccard),
    * id_a < id_b, distinct.
    */
  def pairsForDelta(path: String, delta: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, minJaccard: Double = 0.5,
      k: Int = 3, portable: Boolean = false): DataFrame = {
    val deltaSigs = graft.CacheScope.trackCheckpoint(
      signatures(delta, idCol, textCol, numHashes, k, portable)
        .localCheckpoint(true)) // consumed by both join sides below
    pairsForDeltaFromSigs(path, deltaSigs, idCol, numHashes, bands, minJaccard, portable)
  }

  /** [[pairsForDelta]] from already-computed (checkpointed) delta
    * signatures — see [[updateSignatureTableFromSigs]].
    */
  private[graft] def pairsForDeltaFromSigs(path: String, deltaSigs: DataFrame,
      idCol: String, numHashes: Int, bands: Int, minJaccard: Double,
      portable: Boolean): DataFrame = {
    val spark = deltaSigs.sparkSession
    val corpus =
      if (exists(spark, path))
        // a replayed batch's ids may already be stored — the delta copy
        // wins; tombstoned ids never pair again
        IndexTombstones.filterLive(spark.read.parquet(path), path, idCol)
          .join(deltaSigs.select(col(idCol)), Seq(idCol), "left_anti")
          .unionByName(deltaSigs)
      else deltaSigs
    pairsFromCorpus(corpus, deltaSigs, idCol, numHashes, bands, minJaccard, portable)
  }

  /** The pair join body of [[pairsForDelta]] against an explicit corpus
    * frame (live ∪ delta, delta wins on id) — the seam [[processBatch]]
    * uses so the corpus can be the SAME checkpointed merged frame the
    * fold writes, one stored-table scan per batch instead of two.
    */
  private def pairsFromCorpus(corpus: DataFrame, deltaSigs: DataFrame,
      idCol: String, numHashes: Int, bands: Int, minJaccard: Double,
      portable: Boolean): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val all = Dedup.bandBuckets(corpus.select(col(idCol), col("sig")),
      idCol, numHashes, bands, portable)
    val dlt = Dedup.bandBuckets(deltaSigs.select(col(idCol), col("sig")),
        idCol, numHashes, bands, portable)
      .select(col(idCol).as("__did"), col("sig").as("__dsig"),
        col("band"), col("bucket"))
    all.join(dlt, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("__did"))
      .select(
        least(col(idCol), col("__did")).as("id_a"),
        greatest(col(idCol), col("__did")).as("id_b"),
        (expr("size(filter(zip_with(sig, __dsig, (a, b) -> a = b), m -> m))").cast("double") /
          lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** One micro-batch of maintenance: emit the batch's pairs (against
    * the pre-batch corpus), then fold its signatures into the table.
    * Exposed for direct use and by [[start]].
    */
  def processBatch(sigPath: String, pairsPath: String, batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, numHashes: Int = 32, bands: Int = 8,
      minJaccard: Double = 0.5, k: Int = 3, portable: Boolean = false): Unit = {
    // one shingle+minhash pass per batch: the pair emission and the
    // table fold both read the same checkpointed signature frame
    val deltaSigs = signatures(batch, idCol, textCol, numHashes, k, portable)
      .localCheckpoint(true)
    try {
      val spark = deltaSigs.sparkSession
      def writePairs(corpus: DataFrame): Unit =
        pairsFromCorpus(corpus, deltaSigs, idCol, numHashes, bands,
            minJaccard, portable)
          .withColumn("batch_id", lit(batchId))
          .write.options(WriteOpts.data).mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsPath)
      // ONE stored-table scan per batch, and the two outputs overlap
      // (optimization-guide §1.2; Forks scaladoc): the pair emission's corpus
      // (live ∪ delta, delta wins) IS the merged frame the fold writes,
      // so both consume one eager checkpoint — previously each read the
      // stored parquet separately, serialized by the fold's rename-swap.
      // Pair/fold completion order is free under replay: a replayed
      // batch's pairs recompute identically whether or not the fold
      // already ran (delta wins over any stored copy), and the fold is
      // rename-swap idempotent — spec-pinned (LshIndexSpec fold-first
      // replay case).
      if (!exists(spark, sigPath))
        Forks(spark) { forks => // first batch: the corpus IS the delta
          forks.fork("pairs")(writePairs(deltaSigs))
          forks.fork("fold")(deltaSigs.write.options(WriteOpts.data).mode("overwrite").parquet(sigPath))
        }
      else {
        val (merged, foldedBatches) = mergedCheckpoint(sigPath, deltaSigs, idCol)
        try Forks(spark) { forks =>
          forks.fork("pairs")(writePairs(merged))
          forks.fork("fold")(swapInMerged(spark, sigPath, merged, foldedBatches))
        }
        finally graft.CacheScope.freeCheckpoint(merged)
      }
    } finally graft.CacheScope.freeCheckpoint(deltaSigs)
  }

  /** Streaming wiring: maintain the signature table and the pair log
    * from a document stream.
    */
  def start(docs: DataFrame, sigPath: String, pairsPath: String, checkpoint: String,
      idCol: String, textCol: String, numHashes: Int = 32, bands: Int = 8,
      minJaccard: Double = 0.5, k: Int = 3, portable: Boolean = false,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .queryName("lsh_index_maintenance")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(sigPath, pairsPath, batch, batchId, idCol, textCol,
            numHashes, bands, minJaccard, k, portable)
      }
      .start()
}
