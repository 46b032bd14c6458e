package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal layer over a deterministic synthetic media table: feature
  * extraction and media near-duplicate dedup. No oracle: the driver checks
  * rows, ScalaTest specs check values.
  */
object MultimodalQueries {
  lazy val entries: Seq[Query] = Seq(
    Query("q26_media_features", q26MediaFeatures),
    Query("q116_media_neardup", q116MediaNearDup)
  )

  /** Multimodal feature extraction over a deterministic synthetic media
    * corpus. All three media types decode for REAL: images are PNGs
    * through `javax.imageio` (pixel-derived features), audio is RIFF/WAV
    * PCM through `javax.sound.sampled` (sample-derived features), video
    * is GFV1 PNG-frame containers demuxed and decoded per frame
    * (temporal motion features) — see Multimodal scaladoc. Rows-only by
    * nature (binary payloads + codec output are not SQL-expressible);
    * pixel/sample/frame semantics pinned in OperatorsSpec.
    */
  def q26MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = Multimodal.extractFeatures(Multimodal.syntheticCorpus(spark, 2000))
    feats.toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"), col("payload_hash"),
        round(expr("aggregate(feature, 0D, (a, x) -> a + x)"), 4).as("feature_sum"))
      .orderBy("media_id")
  }

  /** Multimodal near-dup dedup ([[graft.operators.Multimodal
    * .nearDupGroups]]): a synthetic media corpus plus pixel-perturbed
    * re-encoded copies of its images — different BYTES (exact dedup is
    * blind to them), near-identical PIXELS — resolved into groups via
    * decoded features → guarded feature-space pairing → connected
    * components. Generated-data flow (the q26 class): rows-only at the
    * driver, semantics pinned by OperatorsSpec's planted-twin golden
    * test.
    */
  def q116MediaNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Multimodal.syntheticCorpus(spark, 600)
    val copies = Multimodal.perturbImages(base, delta = 2)
    // 0.9999 (vs the operator's robust 0.9995 default): full recall on
    // the ±2 plant, and it keeps adjacent-tone audio from chaining into
    // high-diameter components that push CC into star-contraction
    // escalation (~2.5× the query runtime for no demo value)
    val grouped = Multimodal.nearDupGroups(base.unionAll(copies), threshold = 0.9999)
    grouped.groupBy(col("media_type"), col("group_sz"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        countDistinct(col("group")).cast("long").as("n_groups"))
      .orderBy("media_type", "group_sz")
  }
}
