package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling operators for training-data pipelines: stable train/test
  * splits and stratified sampling. Everything derives from xxhash64 of a
  * stable id — no RNG state, so splits are reproducible across runs,
  * sessions, and cluster sizes, and a re-run over grown data keeps every
  * previously-assigned row in the same split (the property that matters
  * when a corpus is re-snapshotted between training runs: no
  * train/test leakage from rows migrating across splits).
  *
  * Per-row, shuffle-free, codegen'd — one scan at any scale.
  */
object Sampling {

  /** Uniform [0,1) weight from a stable id (xxhash64 → positive double).
    * pmod, not abs(...) % ...: abs(Long.MinValue) overflows, which under
    * ANSI mode (the Spark 4 default) throws ARITHMETIC_OVERFLOW for the
    * one-in-2⁶⁴ id that hashes there — pmod is always non-negative with
    * no overflow path.
    */
  def splitWeight(idCol: Column, seed: Int = 42): Column =
    pmod(xxhash64(idCol, lit(seed)), lit(1000000000L)).cast("double") / lit(1e9)

  /** Deterministic train/validation/test split: adds a `split` column.
    * Fractions must sum to ≤ 1; any remainder falls into the last split.
    */
  def split(df: DataFrame, idCol: String,
      fractions: Seq[(String, Double)] = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      seed: Int = 42): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9)
    val w = splitWeight(col(idCol), seed)
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val expr = fractions.zip(cuts).init
      .foldRight(lit(fractions.last._1): Column) { case (((name, _), cut), rest) =>
        when(w < cut, name).otherwise(rest)
      }
    df.withColumn("split", expr)
  }

  /** Stratified sample: per-stratum keep-fractions, hash-deterministic.
    * Rows in strata absent from `fractions` are dropped (matching
    * `DataFrameStatFunctions.sampleBy` semantics, but reproducible by
    * construction rather than by seeding Bernoulli draws).
    */
  def stratified(df: DataFrame, strataCol: String, fractions: Map[String, Double],
      idCol: String, seed: Int = 42): DataFrame = {
    val w = splitWeight(col(idCol), seed)
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(strataCol) === stratum && w < f)
    }
    df.filter(keep)
  }

  /** Token-budget MIXTURE sampling — the pretraining data-mixture step:
    * per source (language, domain, crawl, ...) take documents up to a
    * token budget, in md5-of-id order. Hash order makes the selection a
    * deterministic pure function of the corpus (same corpus → same
    * mixture, no RNG state) and the predicate is portable to any engine
    * with md5 — so the whole mixture is oracle-checkable.
    *
    * Growth contract — weaker than [[split]]'s, by design: because the
    * cut is a CUMULATIVE-token prefix, a corpus that grows can insert a
    * new document earlier in hash order, pushing a previously-selected
    * document past its source's budget (eviction IS possible). What
    * growth can never do is promote a previously-UNselected old
    * document: its tokens_before only increases as the corpus grows.
    * (Shrink is monotone the other way — SamplingHllSpec pins it.)
    * If per-document stability under growth matters more than exact
    * budget adherence, use [[split]]/[[stratified]]'s per-row
    * hash-threshold admission with fraction ≈ budget/corpus_tokens
    * instead — that trades the hard budget for admission stability.
    *
    * A document is kept while its source's budget is not yet exhausted
    * BEFORE it (the first document of a source is always kept, and the
    * realized mixture overshoots each budget by less than one document
    * — the standard greedy-prefix contract, same stance as
    * [[Packing.greedyPack]]'s oversized-doc rule).
    *
    * Shape at scale: one window (partitionBy source, orderBy hash) —
    * a single shuffle on the source key; budgets join as a broadcast
    * literal frame, never a driver lookup inside the plan.
    */
  /** Deterministic IMPORTANCE (weighted Bernoulli) sampling: keep each
    * row with probability equal to its per-row weight (clamped to
    * [0,1]) — quality-weighted corpus resampling, acceptance by model
    * score, downsampling hot domains. The draw is the same stable-hash
    * uniform as [[split]]: u(id) < w, so re-runs keep exactly the same
    * rows, and a row's fate changes only if its WEIGHT changes — no
    * RNG state, no shuffle, one codegen'd scan at any scale.
    *
    * The comparison is INTEGER-exact: u is a 60-bit hash value and the
    * threshold is floor(w·2⁶⁰), so there is no float-tie ambiguity to
    * diverge across engines. `portable = true` derives u from md5 hex
    * (cross-engine reproducible — the [[graft.queries.SqlQueries.q93HashSample]]
    * stance); default uses xxhash64 (faster, Spark-native).
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      seed: Int = 42, portable: Boolean = false): DataFrame = {
    val u =
      if (portable)
        conv(substring(md5(concat(col(idCol).cast("string"), lit(":" + seed))), 1, 15),
          16, 10).cast("long")
      else pmod(xxhash64(col(idCol), lit(seed)), lit(1L << 60))
    val thresh = floor(least(greatest(weight, lit(0.0)), lit(1.0)) *
      lit(math.pow(2, 60))).cast("long")
    df.filter(u < thresh)
  }

  def tokenBudgetMixture(df: DataFrame, idCol: String, sourceCol: String,
      tokensCol: String, budgets: Seq[(String, Long)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = budgets.toDF(sourceCol, "__budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.join(broadcast(b), Seq(sourceCol))
      .withColumn("__cum_before", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("__cum_before") < col("__budget"))
      .select(col(idCol), col(sourceCol), col(tokensCol).as("n_tokens"),
        col("__cum_before").as("tokens_before"))
  }

  /** Fixed QUOTA per group — exactly k rows from every group, in
    * md5-of-id order (the eval-set construction shape: "5 held-out
    * documents per source/language/domain", where fractional sampling
    * would starve small groups and flood large ones). Hash order makes
    * the selection a pure function of the corpus: re-runs pick the same
    * rows, and a row enters/leaves the quota only when the hash-order
    * top-k of ITS group changes — growth in other groups never disturbs
    * it.
    *
    * One shuffle on the group key; the rank-filter form triggers
    * Spark's WindowGroupLimit, so each map partition pre-prunes to its
    * local top-k before the exchange — the shuffle carries O(groups·k)
    * survivors per partition, not the corpus.
    */
  def fixedQuotaPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "quota must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
