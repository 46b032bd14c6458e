package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental SEMANTIC index maintenance — the embedding analog of
  * [[LshIndex]]: near-dup new vectors against the historical corpus
  * without re-pairing the history against itself.
  *
  * The index is an ASSIGNMENT TABLE (id, vec, nrm, cluster_id): each
  * vector assigned once against FROZEN centroids (the production IVF
  * posture — [[IvfIndex.frozenCentroids]]; offline-trained centroids
  * are constants at query time, so an old row's assignment never
  * changes and the table is append-merge-only). Unlike the LSH index
  * the vectors themselves must be stored — exact-cosine scoring needs
  * them — but that is the corpus' embedding column plus 16 bytes, laid
  * out cluster-locally; the 100 TB text never gets re-read.
  *
  * Per batch, candidate pairs are delta×(history ∪ delta) WITHIN each
  * cluster — cost |delta| · cluster-population, linear in the delta,
  * never history×history. This matches the SemDeDup reduction
  * ([[SemDedup]]): cross-cluster pairs are out of scope by design.
  *
  * Equivalence contract (spec-pinned): running batches b₁..bₙ and
  * unioning [[pairsForDelta]] outputs equals one-shot
  * [[SemDedup.edges]] over the concatenated corpus (un-starred case) —
  * every within-cluster pair ≥ threshold materializes exactly when its
  * LATER vector arrives. The cell-size guard's star fallback does not
  * compose across batches (different anchors per batch), so this path
  * relies on the same upstream boundedness as [[LshIndex]]; clusters
  * hot enough to need starring should be split at assignment time
  * instead — pass `subCellBits > 0` (every entry point threads it) and
  * the hyperplane sub-cell key extends `cluster_id` identically on
  * write and read, bounding per-delta join width (spec-pinned).
  *
  * Exactly-once: pair output partitioned by batch_id with dynamic
  * partition overwrite; the assignment table merges via the same
  * rename-swap as [[LshIndex.updateSignatureTable]].
  *
  * DELETION (shared mechanics in [[IndexTombstones]], same as
  * [[LshIndex]]): [[deleteBatch]] records an O(|victims|) tombstone
  * partition; reads anti-join it; the next merge folds and clears. A
  * deleted vector's edge-log rows go stale in place — read them through
  * [[livePairs]], which keeps an edge only while both endpoints are
  * live. No stats adjustment is needed here — assignments are per-row.
  */
object SemIndex {

  private def exists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Delta vectors → assignment rows (id, vec, nrm, cluster_id).
    * In-batch duplicate ids collapse first; assignment against frozen
    * centroids is deterministic, so re-deliveries produce identical
    * rows (replay-idempotent by construction).
    *
    * `subCellBits > 0` extends the cluster key with that many
    * deterministic hyperplane-signature bits — the HOT-CLUSTER lever
    * from the scaladoc above: a cluster whose population outgrows the
    * per-batch join budget splits into up to 2^bits semantically-local
    * sub-cells AT ASSIGNMENT TIME, so write and read agree by
    * construction and per-delta join width stays bounded. Near-dups
    * (cosine ≥ 0.95) share each sign bit w.p. ≈ 1−θ/π ≳ 0.99, so
    * recall degrades gracefully and deterministically — the same
    * trade [[SemDedup.edges]] makes when splitting oversized cells.
    */
  def assignments(delta: DataFrame, idCol: String, vecCol: String,
      centArr: Seq[(Long, Array[Double])], subCellBits: Int = 0,
      dims: Int = 64): DataFrame = {
    graft.expressions.GraftFunctions.register(delta.sparkSession)
    val asg = IvfIndex.assignWith(delta.dropDuplicates(idCol).select(col(idCol), col(vecCol)),
        centArr, vecCol)
      .withColumn("__nrm", sqrt(call_function("vec_dot", col(vecCol), col(vecCol))))
    if (subCellBits <= 0) asg
    else asg.withColumn("cluster_id",
      col("cluster_id") * lit(1L << subCellBits) +
        VectorOps.hyperplaneSignature(col(vecCol), subCellBits, dims))
  }

  /** Merge a batch's assignments into the parquet assignment table
    * (replace semantics on id → idempotent under replay), rename-swapped
    * through a temp sibling so a crash never loses the historical table
    * — same mechanics and failure story as
    * [[LshIndex.updateSignatureTable]].
    */
  def updateAssignmentTable(path: String, delta: DataFrame, idCol: String, vecCol: String,
      centArr: Seq[(Long, Array[Double])], subCellBits: Int = 0): Unit =
    updateAssignmentTableFromAsg(path,
      assignments(delta, idCol, vecCol, centArr, subCellBits), idCol)

  /** [[updateAssignmentTable]] from ALREADY-COMPUTED delta assignments —
    * the seam [[processBatch]] uses so one batch pays the assignment
    * pass once (edge emission and fold share the checkpointed frame).
    */
  private[graft] def updateAssignmentTableFromAsg(path: String, deltaAsg: DataFrame,
      idCol: String): Unit = {
    val spark = deltaAsg.sparkSession
    if (!exists(spark, path)) {
      deltaAsg.write.options(WriteOpts.data).mode("overwrite").parquet(path)
      return
    }
    val (merged, foldedBatches) = mergedCheckpoint(path, deltaAsg, idCol)
    try swapInMerged(spark, path, merged, foldedBatches)
    finally graft.CacheScope.freeCheckpoint(merged)
  }

  /** The merged (live ∪ delta, delta wins on id) assignment frame,
    * EAGERLY checkpointed — ONE scan of the stored table serves both the
    * edge emission (whose corpus is exactly this frame) and the fold
    * ([[swapInMerged]]); returns the tombstone batches the fold clears.
    * Tombstone batches are captured BEFORE the filterLive read
    * materializes: a delete recorded after this point survives the
    * post-swap clear (folded next merge). Caller frees the checkpoint.
    */
  private def mergedCheckpoint(path: String, deltaAsg: DataFrame,
      idCol: String): (DataFrame, Seq[Long]) = {
    val spark = deltaAsg.sparkSession
    val foldedBatches = IndexTombstones.currentBatches(spark, path)
    val merged = IndexTombstones.filterLive(spark.read.parquet(path), path, idCol)
      .join(deltaAsg.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(deltaAsg)
      .localCheckpoint(true)
    (merged, foldedBatches)
  }

  /** Write the checkpointed merged table to a temp sibling and
    * rename-swap it into place (see [[updateAssignmentTable]] for the
    * crash-window contract), then clear exactly the tombstone batches
    * that were folded. Reads only the checkpoint, never `path` — safe to
    * run while another job still consumes the same checkpoint.
    */
  private def swapInMerged(spark: org.apache.spark.sql.SparkSession, path: String,
      merged: DataFrame, foldedBatches: Seq[Long]): Unit = {
    Replace.dir(spark.sparkContext.hadoopConfiguration, path, "updateAssignmentTable")(
      merged.write.options(WriteOpts.data).mode("overwrite").parquet(_))
    IndexTombstones.clearBatches(spark, path, foldedBatches) // exactly what was folded
  }

  /** Delete vectors from the index: O(|victims|) tombstone write,
    * idempotent per `delBatchId` — see [[IndexTombstones]].
    */
  def deleteBatch(asgPath: String, victims: DataFrame, idCol: String,
      delBatchId: Long): Unit =
    IndexTombstones.delete(asgPath, victims, idCol, delBatchId)

  /** The edge log with stale rows (an endpoint deleted) filtered out. */
  def livePairs(spark: org.apache.spark.sql.SparkSession, pairsPath: String,
      asgPath: String, idCol: String): DataFrame =
    IndexTombstones.livePairs(spark.read.parquet(pairsPath), asgPath,
      "src", "dst", idCol)

  /** Near-dup edges INVOLVING the delta vectors: delta assignments
    * equi-join the (stored ∪ delta) assignments on cluster_id, exact
    * cosine ≥ threshold. Call BEFORE [[updateAssignmentTable]] for the
    * same batch. Output matches [[SemDedup.edges]]'s shape:
    * (src, dst), src < dst, distinct.
    */
  def pairsForDelta(path: String, delta: DataFrame, idCol: String, vecCol: String,
      centArr: Seq[(Long, Array[Double])], threshold: Double = 0.95,
      subCellBits: Int = 0): DataFrame = {
    val deltaAsg = graft.CacheScope.trackCheckpoint(
      assignments(delta, idCol, vecCol, centArr, subCellBits)
        .localCheckpoint(true)) // consumed by both join sides below
    pairsForDeltaFromAsg(path, deltaAsg, idCol, vecCol, threshold)
  }

  /** [[pairsForDelta]] from already-computed (checkpointed) delta
    * assignments — see [[updateAssignmentTableFromAsg]].
    */
  private[graft] def pairsForDeltaFromAsg(path: String, deltaAsg: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val spark = deltaAsg.sparkSession
    val corpus =
      if (exists(spark, path))
        // a replayed batch's ids may already be stored — the delta copy
        // wins; tombstoned ids never pair again
        IndexTombstones.filterLive(spark.read.parquet(path), path, idCol)
          .join(deltaAsg.select(col(idCol)), Seq(idCol), "left_anti")
          .unionByName(deltaAsg)
      else deltaAsg
    pairsFromCorpus(corpus, deltaAsg, idCol, vecCol, threshold)
  }

  /** The edge join body of [[pairsForDelta]] against an explicit corpus
    * frame (live ∪ delta, delta wins on id) — the seam [[processBatch]]
    * uses so the corpus can be the SAME checkpointed merged frame the
    * fold writes, one stored-table scan per batch instead of two.
    */
  private def pairsFromCorpus(corpus: DataFrame, deltaAsg: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val dlt = deltaAsg.select(col("cluster_id"), col(idCol).as("__did"),
      col(vecCol).as("__dv"), col("__nrm").as("__dn"))
    corpus.join(dlt, Seq("cluster_id"))
      .filter(col(idCol) =!= col("__did"))
      .filter(call_function("vec_dot", col(vecCol), col("__dv")) /
        (col("__nrm") * col("__dn")) >= threshold)
      .select(least(col(idCol), col("__did")).as("src"),
        greatest(col(idCol), col("__did")).as("dst"))
      .distinct()
  }

  /** One micro-batch of maintenance: emit the batch's edges (against
    * the pre-batch corpus), then fold its assignments into the table.
    */
  def processBatch(asgPath: String, pairsPath: String, batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, centArr: Seq[(Long, Array[Double])],
      threshold: Double = 0.95, subCellBits: Int = 0): Unit = {
    // one assignment pass per batch: edge emission and fold share the
    // checkpointed frame
    val deltaAsg = assignments(batch, idCol, vecCol, centArr, subCellBits)
      .localCheckpoint(true)
    try {
      val spark = deltaAsg.sparkSession
      def writePairs(corpus: DataFrame): Unit =
        pairsFromCorpus(corpus, deltaAsg, idCol, vecCol, threshold)
          .withColumn("batch_id", lit(batchId))
          .write.options(WriteOpts.data).mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsPath)
      // ONE stored-table scan per batch, and the two outputs overlap
      // (optimization-guide §1.2; Forks scaladoc): the edge emission's corpus
      // (live ∪ delta, delta wins) IS the merged frame the fold writes,
      // so both consume one eager checkpoint — previously each read the
      // stored parquet separately, serialized by the fold's rename-swap.
      // Pair/fold completion order is free under replay: a replayed
      // batch's edges recompute identically whether or not the fold
      // already ran (delta wins over any stored copy), and the fold is
      // rename-swap idempotent — spec-pinned (SemIndexSpec fold-first
      // replay case).
      if (!exists(spark, asgPath))
        Forks(spark) { forks => // first batch: the corpus IS the delta
          forks.fork("pairs")(writePairs(deltaAsg))
          forks.fork("fold")(deltaAsg.write.options(WriteOpts.data).mode("overwrite").parquet(asgPath))
        }
      else {
        val (merged, foldedBatches) = mergedCheckpoint(asgPath, deltaAsg, idCol)
        try Forks(spark) { forks =>
          forks.fork("pairs")(writePairs(merged))
          forks.fork("fold")(swapInMerged(spark, asgPath, merged, foldedBatches))
        }
        finally graft.CacheScope.freeCheckpoint(merged)
      }
    } finally graft.CacheScope.freeCheckpoint(deltaAsg)
  }

  /** Streaming wiring: maintain the assignment table and the edge log
    * from an embedding stream.
    */
  def start(vectors: DataFrame, asgPath: String, pairsPath: String, checkpoint: String,
      idCol: String, vecCol: String, centArr: Seq[(Long, Array[Double])],
      threshold: Double = 0.95, subCellBits: Int = 0,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .queryName("sem_index_maintenance")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          processBatch(asgPath, pairsPath, batch, batchId, idCol, vecCol, centArr, threshold,
            subCellBits)
      }
      .start()
}
