package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.queries.SqlQueries

/** Sampling operators (stable splits, stratified) and the HLL
  * approximate-distinct sketch against its exact twin.
  */
class SamplingHllSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    Tables.t(spark, "/root/testdata/sf0.01", "documents").cache()

  test("split is complete, disjoint, ratio-correct, and stable across runs") {
    val s1 = Sampling.split(docs, "doc_id")
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    assert(total == docs.count(), "every row lands in exactly one split")
    assert(counts("train").toDouble / total > 0.7 && counts("train").toDouble / total < 0.9)
    assert(counts.keySet == Set("train", "valid", "test"))
    // stability: same ids → same split, run twice
    val s2 = Sampling.split(docs, "doc_id")
    assert(s1.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).isEmpty)
  }

  test("split assignment is insensitive to corpus growth (no leakage)") {
    val half = docs.filter($"doc_id" < 250)
    val fromHalf = Sampling.split(half, "doc_id").select($"doc_id", $"split".as("s1"))
    val fromFull = Sampling.split(docs, "doc_id").select($"doc_id", $"split".as("s2"))
    val moved = fromHalf.join(fromFull, "doc_id").filter($"s1" =!= $"s2")
    assert(moved.isEmpty, "rows must keep their split when the corpus grows")
  }

  test("stratified sampling respects per-stratum fractions") {
    val frac = Map("en" -> 0.5, "zh" -> 1.0)
    val sampled = Sampling.stratified(docs, "lang", frac, "doc_id")
    val byLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseEn = docs.filter($"lang" === "en").count()
    val baseZh = docs.filter($"lang" === "zh").count()
    assert(byLang.keySet.subsetOf(Set("en", "zh")), "unlisted strata are dropped")
    assert(byLang("zh") == baseZh, "fraction 1.0 keeps the whole stratum")
    val enRatio = byLang("en").toDouble / baseEn
    assert(enRatio > 0.35 && enRatio < 0.65, s"en keep-ratio $enRatio should be ~0.5")
  }

  test("token-budget mixture: per-source budget respected, greedy-prefix overshoot < one doc, growth-stable") {
    val toks = docs.withColumn("n_tokens",
      size(split($"text", " ")).cast("long"))
    val budgets = Seq("en" -> 2000L, "zh" -> 700L)
    val got = Sampling.tokenBudgetMixture(toks, "doc_id", "lang", "n_tokens", budgets)
    val bySrc = got.groupBy("lang")
      .agg(sum($"n_tokens").as("t"), max($"tokens_before").as("maxb"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((src, budget) <- budgets) {
      val (total, maxBefore, n) = bySrc(src)
      assert(n > 0 && maxBefore < budget, s"$src: a kept doc started past the budget")
      // overshoot is bounded by the last doc: total - budget < that doc's tokens
      assert(total >= budget || n == toks.filter($"lang" === src).count(),
        s"$src: stopped early with budget left and docs remaining")
    }
    // sources without a budget are excluded entirely
    assert(got.filter(!$"lang".isin("en", "zh")).isEmpty)
    // growth stability: the selection from a half corpus is a subset of
    // nothing-lost semantics — every doc selected from the FULL corpus
    // that exists in the half corpus with the same hash-prefix position
    // is selected there too (prefix property)
    val half = toks.filter($"doc_id" % 2 === 0)
    val fromHalf = Sampling.tokenBudgetMixture(half, "doc_id", "lang", "n_tokens", budgets)
      .select($"doc_id").as[Long].collect().toSet
    val fromFull = got.select($"doc_id").as[Long].collect().toSet
    // full-corpus selection restricted to half-corpus docs is a SUBSET of
    // the half-corpus selection: removing docs only frees budget earlier
    // in the hash order, never evicts a previously-selected doc
    val fullOnHalf = fromFull.filter(_ % 2 == 0)
    assert(fullOnHalf.subsetOf(fromHalf),
      s"selection must be monotone under corpus shrink: ${(fullOnHalf -- fromHalf).take(5)}")
  }

  test("q95 HLL rollup within 5% of the certified exact bitmap path per group (sf0.1)") {
    // The driver can only rows-check q95 (the sketch isn't portable), so
    // this spec is its accuracy certification: the union-of-daily HLL
    // estimate vs the hash-certified exact bitmap rollup (q94), per
    // (week, event_type) group, on the real sf0.1 events table.
    val dir = "/root/testdata/sf0.1"
    val exact = SqlQueries.q94BitmapDistinct(spark, dir)
      .collect().map(r => (r.getDate(0), r.getString(1)) -> r.getLong(2)).toMap
    val est = SqlQueries.q95HllRollup(spark, dir)
      .collect().map(r => (r.getDate(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet, "HLL and bitmap rollups must cover the same groups")
    exact.foreach { case (k, n) =>
      val e = est(k).toDouble
      assert(math.abs(e - n) / n <= 0.05, s"$k: est $e vs exact $n exceeds 5% relative error")
    }
  }

  test("HLL approx_count_distinct within 5% of exact") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val both = ev.agg(
      countDistinct($"user_id").as("exact"),
      approx_count_distinct($"user_id", 0.02).as("approx")).head()
    val (exact, approx) = (both.getLong(0), both.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }
}
