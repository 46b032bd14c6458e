package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental LEXICAL index maintenance — the BM25-serving analogue of
  * [[LshIndex]] (minhash signatures) and [[SemIndex]] (embedding
  * assignments): new document batches fold into a persisted postings +
  * statistics store, and ranked retrieval runs off the store WITHOUT
  * ever re-tokenizing the historical corpus.
  *
  * Layout under `root/`, every table partitioned by `batch_id` and
  * written with dynamic partition overwrite, so a REPLAYED batch
  * overwrites its own partition instead of double-counting — the same
  * exactly-once stance as LshIndex's pair log:
  *
  *  - `postings/` (id, term, tf, dl) — one row per (doc, term)
  *  - `df/`       (term, df) — per-batch document-frequency DELTAS
  *  - `scalars/`  (n_docs, sum_dl) — per-batch corpus-scalar deltas
  *  - `deletes/`  (id) — per-batch TOMBSTONES ([[deleteBatch]])
  *
  * Counts are additive across disjoint batches, so serving aggregates
  * the deltas: `df(term) = Σ batches`, `N = Σ n_docs`,
  * `avgdl = Σ sum_dl / N` — exact integers, bit-equal to a one-shot
  * computation over the concatenated corpus. [[bm25]] feeds them into
  * the SAME scoring core as the from-text path
  * ([[TextAnalysis.bm25Rank]]), so index-served rankings are
  * bit-identical to `bm25TopK` over the same documents (spec-pinned).
  *
  * BATCH-ID NAMESPACES. Streaming/caller batch ids are ≥ 0. The stats
  * tables reserve the negative space: `-1` is the compacted base
  * ([[compactStats]]) and `-(b+2)` holds delete-batch `b`'s negative
  * deltas — so a post-compaction replay of streaming batch 0 can never
  * dynamic-overwrite the folded base (it lands in its own `batch_id=0`
  * partition as always), and an update batch and a delete batch may
  * even share an id without colliding.
  *
  * DELETION. [[deleteBatch]] writes a tombstone partition plus EXACT
  * negative df/scalars deltas derived from the victims' own posting
  * rows (one posting-table scan per delete batch — delete batches are
  * rare and the scan is columnar). Serving anti-joins the tombstones
  * out of the postings; the stats need no serve-time adjustment because
  * the negatives are already in the sums. A doc already tombstoned by
  * an EARLIER delete batch is skipped (no double subtraction), and
  * replaying a delete batch recomputes the identical partitions —
  * idempotent. Re-INDEXING a deleted doc id in a later update batch is
  * out of contract (the tombstone would still hide it): assign new doc
  * generations new ids, the standard log-structured-index stance.
  *
  * COMPACTION. [[compactStats]] folds the accumulated df/scalars delta
  * partitions into the single base partition `batch_id=-1` so the
  * per-query delta aggregation stays O(vocab), not O(vocab · batches).
  * [[compact]] additionally folds the tombstones INTO the postings
  * (anti-join, rewritten as the base partition) and clears the
  * tombstone table. After compaction, replays of pre-compaction UPDATE
  * batch ids are no longer idempotent (their partitions were folded
  * into the base) — compaction is a watermark, as with any compacted
  * log; replays of pre-compaction DELETE batches are harmless (their
  * victims are gone from the postings, so the recomputed deltas are
  * empty). Each table swaps via write-to-temp + two renames; between
  * the renames there is a WINDOW where the table path does not exist —
  * a process crash inside it leaves the folded table at
  * `<path>__compacting` (or the original at `<path>__precompact`) and
  * serving fails loudly until one manual rename. The in-code restore
  * only covers rename FAILURE, not process death: run compaction from
  * a maintenance job that can be re-run, never from the serving path.
  *
  * 100 TB shape: maintenance cost is linear in the DELTA (tokenize the
  * batch, two aggregations); serving reads the posting rows of the
  * query terms only after the df/scalars aggregations (|vocab| and
  * |batches| sized, not corpus-sized).
  */
object TermIndex {

  private def postingsPath(root: String) = s"$root/postings"
  private def dfPath(root: String) = s"$root/df"
  private def scalarsPath(root: String) = s"$root/scalars"
  private def deletesPath(root: String) = s"$root/deletes"

  /** The compacted-base partition id; streaming batch ids are ≥ 0 and
    * can never collide with it. */
  private[operators] val BaseBatchId = -1L

  /** Stats-partition id for delete batch `b`: its own negative namespace
    * below the base. */
  private def deleteStatsBatchId(b: Long): Long = -(b + 2L)

  private def write(df: DataFrame, path: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.options(WriteOpts.data).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** True iff `path` holds at least one batch partition — a bare
    * directory with only a _SUCCESS marker (an all-empty write) must
    * read as absent or parquet schema inference fails. */
  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      fs.globStatus(new org.apache.hadoop.fs.Path(path + "/batch_id=*")).nonEmpty
  }

  /** Fold one document batch into the index (idempotent per batchId). */
  def updateBatch(root: String, batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(batchId >= 0, s"caller batch ids are >= 0 (got $batchId); " +
      "negative ids are the index's internal namespace")
    val toks = TextAnalysis.bm25Tokens(batch.dropDuplicates(idCol), idCol, textCol)
    // one tokenization pass, checkpointed; all three writes below are
    // derived from it. The checkpoint is fully consumed here, so FREE it
    // before returning — trackCheckpoint would leak one block set per
    // micro-batch for the life of a maintenance stream.
    val tf = TextAnalysis.bm25Postings(toks, idCol).localCheckpoint(true)
    try {
      // the three stores derive from the same checkpointed frame and
      // write to disjoint paths — overlap them (Forks scaladoc)
      Forks(batch.sparkSession) { forks =>
        forks.fork("postings")(write(tf, postingsPath(root), batchId))
        forks.fork("df")(write(tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
          dfPath(root), batchId))
        // corpus scalars from the postings themselves (dl repeats per
        // (doc, term); every doc has >= 1 posting since split() never
        // returns an empty array) — no second tokenization pass
        forks.fork("scalars")(write(tf.groupBy(col(idCol)).agg(max(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
          scalarsPath(root), batchId))
      }
    } finally graft.CacheScope.freeCheckpoint(tf)
  }

  /** Tombstone `ids` (one `idCol` column) as delete batch `batchId`:
    * a tombstone partition for the serve-side anti-join plus exact
    * negative df/scalars deltas. Idempotent per batchId; docs already
    * tombstoned by another batch, or never indexed, are skipped.
    */
  def deleteBatch(root: String, ids: DataFrame, batchId: Long,
      idCol: String = "doc_id"): Unit = {
    require(batchId >= 0, s"caller batch ids are >= 0 (got $batchId)")
    val spark = ids.sparkSession
    val post = spark.read.parquet(postingsPath(root)).drop("batch_id")
    val priorDeletes =
      if (exists(spark, deletesPath(root)))
        spark.read.parquet(deletesPath(root))
          // exclude THIS batch's own partition so a replay recomputes
          // the same victims instead of seeing its own tombstones
          .filter(col("batch_id") =!= batchId)
          .select(col(idCol))
      else spark.emptyDataFrame.withColumn(idCol, lit(0L)).limit(0)
    // victims' posting rows: the source of the exact negative deltas
    val victimPosts = post
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .join(priorDeletes, Seq(idCol), "left_anti")
      .localCheckpoint(true) // consumed by the three writes
    try {
      // nothing to delete (all ids unknown or already tombstoned):
      // writing would leave data-less partition dirs; the no-write is
      // state-identical since dynamic overwrite of zero rows is a no-op
      if (victimPosts.isEmpty) return
      // disjoint idempotent partitions off one checkpointed frame —
      // overlap; a crash leaving any subset replays cleanly (above)
      Forks(spark) { forks =>
        forks.fork("deletes")(write(victimPosts.select(col(idCol)).distinct(),
          deletesPath(root), batchId))
        forks.fork("df")(write(victimPosts.groupBy(col("term")).agg((-count(lit(1))).as("df")),
          dfPath(root), deleteStatsBatchId(batchId)))
        forks.fork("scalars")(write(victimPosts.groupBy(col(idCol)).agg(max(col("dl")).as("dl"))
          .agg((-count(lit(1))).as("n_docs"), (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl")),
          scalarsPath(root), deleteStatsBatchId(batchId)))
      }
    } finally graft.CacheScope.freeCheckpoint(victimPosts)
  }

  /** BM25 top-k served from the index — no text, no re-tokenization.
    * Same output contract (and bit-identical results) as
    * [[TextAnalysis.bm25TopK]] over the indexed, non-deleted documents.
    */
  def bm25(spark: SparkSession, root: String, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id"): DataFrame = {
    val postAll = spark.read.parquet(postingsPath(root)).drop("batch_id")
    val post =
      if (exists(spark, deletesPath(root)))
        postAll.join(spark.read.parquet(deletesPath(root)).select(col(idCol)),
          Seq(idCol), "left_anti")
      else postAll
    val dfc = spark.read.parquet(dfPath(root))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0) // a fully-deleted vocabulary term is gone
    val stats = spark.read.parquet(scalarsPath(root))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    TextAnalysis.bm25Rank(post, dfc, stats, queries, idCol, k, k1, b)
  }

  /** Swap `path` to the frame written at `path__compacting` via two
    * renames. See the object scaladoc for the crash-window contract. */
  private def swapIn(spark: SparkSession, path: String, merged: DataFrame): Unit = {
    val chk = merged.localCheckpoint(true)
    try Replace.dir(spark.sparkContext.hadoopConfiguration, path, "compact")(
      chk.write.mode("overwrite").partitionBy("batch_id").parquet(_))
    finally graft.CacheScope.freeCheckpoint(chk)
  }

  /** Fold the df/scalars delta partitions into the single base partition
    * (`batch_id = -1`) so the per-query delta aggregation stays
    * O(vocab), not O(vocab · batches). Establishes a replay watermark
    * and has a documented crash window — see the object scaladoc.
    */
  def compactStats(spark: SparkSession, root: String): Unit = {
    def fold(path: String, agg: DataFrame => DataFrame): Unit =
      swapIn(spark, path,
        agg(spark.read.parquet(path)).withColumn("batch_id", lit(BaseBatchId)))
    fold(dfPath(root), df => df.groupBy(col("term")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0))
    fold(scalarsPath(root), df =>
      df.agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl")))
  }

  /** Full compaction: [[compactStats]] plus folding the tombstones into
    * the postings (anti-join, rewritten as the base partition) and
    * clearing the tombstone table. Ordering makes a crash between steps
    * safe: postings fold first (stale tombstones then anti-join nothing
    * — a no-op), tombstone clear second, stats last (pure fold,
    * unaffected by either).
    */
  def compact(spark: SparkSession, root: String, idCol: String = "doc_id"): Unit = {
    if (exists(spark, deletesPath(root))) {
      val live = spark.read.parquet(postingsPath(root)).drop("batch_id")
        .join(spark.read.parquet(deletesPath(root)).select(col(idCol)),
          Seq(idCol), "left_anti")
        .withColumn("batch_id", lit(BaseBatchId))
      swapIn(spark, postingsPath(root), live)
      val p = new org.apache.hadoop.fs.Path(deletesPath(root))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } else {
      swapIn(spark, postingsPath(root),
        spark.read.parquet(postingsPath(root)).drop("batch_id")
          .withColumn("batch_id", lit(BaseBatchId)))
    }
    compactStats(spark, root)
  }

  /** Streaming wiring (the [[LshIndex.start]] shape): maintain the index
    * from a document stream; Structured Streaming's batch ids + the
    * dynamic-overwrite layout give exactly-once folds across restarts.
    */
  def start(docs: DataFrame, root: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .queryName("term_index_maintenance")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) updateBatch(root, batch, batchId, idCol, textCol)
      }
      .start()
}
