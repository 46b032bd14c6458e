package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distinct-count summary tables via bitmap pre-aggregation
  * (Spark 3.5 bitmap functions) — the pattern that answers
  * COUNT(DISTINCT key) over 100 TB of raw events from a KB-scale
  * mergeable summary instead of re-shuffling raw keys (q94; the HLL
  * variant in Queries4.q95 trades exactness for fixed-size state).
  *
  * Three composable pieces:
  *  - [[dailyBitmaps]]: one scan of raw events → (group-cols, bucket)
  *    → bitmap rows. Map-side partial ORs shrink each task's output to
  *    at most |groups|×|buckets| bitmaps before the single exchange.
  *  - [[mergeBitmaps]]: associative OR-merge of two summary frames —
  *    the INCREMENTAL maintenance step: a streaming `foreachBatch`
  *    merges each micro-batch's delta into the stored table, touching
  *    only the groups present in the delta (bitmap_or_agg is
  *    idempotent on re-delivered rows ONLY at the bitmap level, so
  *    exactly-once writing still comes from the sink swap, same as
  *    `Lakehouse.refreshFactIncremental`'s `Zones.replacePartitions`).
  *  - [[distinctRollup]]: summary rows → exact distinct counts at any
  *    coarser grain (week/month/all-time), reading zero raw rows.
  */
object SketchRollup {

  /** Raw events → per-(groupCols, bucket) bitmap summary rows. */
  def dailyBitmaps(events: DataFrame, keyCol: String, groupCols: Seq[String]): DataFrame =
    events
      .select(groupCols.map(col) ++ Seq(
        expr(s"bitmap_bucket_number($keyCol)").as("bucket"),
        expr(s"bitmap_bit_position($keyCol)").as("pos")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))

  /** OR-merge two summary frames (associative, commutative). */
  def mergeBitmaps(a: DataFrame, b: DataFrame): DataFrame = {
    val groupCols = a.columns.filterNot(_ == "bm").toSeq
    a.unionByName(b)
      .groupBy(groupCols.map(col): _*)
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
  }

  /** Summary rows → exact distinct counts at a coarser grain.
    * `regroup` maps original group columns to the coarser keys (e.g.
    * week from day); counts are exact at any rollup level.
    */
  def distinctRollup(summary: DataFrame, regroup: Seq[(String, Column)],
      countName: String = "distinct_keys"): DataFrame = {
    val keys = regroup.map { case (n, c) => c.as(n) }
    summary
      .select(keys ++ Seq(col("bucket"), col("bm")): _*)
      .groupBy(regroup.map(n => col(n._1)) :+ col("bucket"): _*)
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy(regroup.map(n => col(n._1)): _*)
      .agg(sum(expr("bitmap_count(bm)")).as(countName))
  }

  /** Merge a raw-event delta into a parquet summary table in place —
    * the `foreachBatch` maintenance step. The merged frame is pinned
    * with `localCheckpoint` (summaries are KB-to-MB scale) so the
    * overwrite doesn't read its own input files.
    *
    * Recovery story: the summary is DERIVED state, exactly rebuildable
    * from the raw zone with [[dailyBitmaps]] — a crash mid-overwrite is
    * repaired by rebuild, and a replayed micro-batch re-ORs bits that
    * are already set (bitwise idempotent), so at-least-once delivery
    * never inflates counts. That is why this sink can stay simpler
    * than the fact table's partition-swap path.
    */
  def updateSummaryTable(path: String, delta: DataFrame, keyCol: String,
      groupCols: Seq[String]): Unit = {
    val spark = delta.sparkSession
    val deltaSum = dailyBitmaps(delta, keyCol, groupCols)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        mergeBitmaps(spark.read.parquet(path), deltaSum)
      else deltaSum
    val pinned = merged.localCheckpoint(true)
    pinned.write.mode("overwrite").parquet(path)
    graft.CacheScope.freeCheckpoint(pinned) // written out — blocks are dead
  }

  /** Streaming wiring: maintain the summary table from an event stream. */
  def startSummaryStream(events: DataFrame, path: String, checkpoint: String,
      keyCol: String, groupCols: Seq[String],
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("30 seconds")): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .queryName("sketch_summary")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) updateSummaryTable(path, batch, keyCol, groupCols)
      }
      .start()
}
