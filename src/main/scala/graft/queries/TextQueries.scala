package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, TextAnalysis}

/** Text layer over the documents table: tokenization, language ID,
  * quality features and filters, PII redaction, TF-IDF and BM25, n-gram
  * LM scores, normalization, chunking and packing, novelty, and the
  * curation and sampling chains built on them.
  */
object TextQueries {
  import Tables.t

  lazy val entries: Seq[Query] = Seq(
    Query("q14_doc_tokens", q14DocTokens, Some(q14Sql)),
    Query("q16_text_quality", q16TextQuality, Some(q16Sql)),
    Query("q22_lang_id", q22LangId, Some(q22Sql)),
    Query("q24_token_counts", q24TokenCounts, Some(q24Sql)),
    Query("q27_text_quality_features", q27TextQualityFeatures, Some(q27Sql)),
    Query("q32_pii_redact", q32PiiRedact, Some(q32Sql)),
    Query("q39_word_topk", q39WordTopK, Some(q39Sql)),
    Query("q53_repetition", q53Repetition, Some(q53Sql)),
    Query("q59_pack_sequences", q59PackSequences, Some(q59Sql)),
    Query("q74_doc_freq", q74DocFreq, Some(q74Sql)),
    Query("q75_tfidf", q75TfIdf, Some(q75Sql)),
    Query("q101_lm_score", q101LmScore, Some(q101Sql)),
    Query("q103_mixture", q103Mixture, Some(q103Sql)),
    Query("q104_curate", q104Curate, Some(q104Sql)),
    Query("q107_wsample", q107WeightedSample, Some(q107Sql)),
    Query("q108_chunks", q108Chunks, Some(q108Sql)),
    Query("q109_bm25", q109Bm25, Some(q109Sql)),
    Query("q112_adaptive_q", q112AdaptiveQuality, Some(q112Sql)),
    Query("q113_curriculum", q113Curriculum, Some(q113Sql)),
    Query("q118_repetition", q118Repetition, Some(q118Sql)),
    Query("q120_quota_sample", q120QuotaSample, Some(q120Sql)),
    Query("q122_normalize", q122Normalize, Some(q122Sql)),
    Query("q142_novelty", q142Novelty, Some(q142Sql), late = true),
    Query("q143_novelty_curate", q143NoveltyCurate, Some(q143Sql), late = true)
  )

  /** Text analysis — token counting (whitespace) + dedup-grade content
    * hash (F15/F16 + the text-pipeline token-count operator). md5 parity
    * with the oracle validates the hash-based dedup path end-to-end.
    */
  def q14DocTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).as("word_count"),
        size(array_distinct(split(col("text"), " "))).as("distinct_words"),
        md5(col("text")).as("text_md5"))
      .withColumn("dup_word_ratio",
        round(lit(1.0) - col("distinct_words").cast("double") / col("word_count"), 6))
      .orderBy("doc_id")

  val q14Sql: String =
    """SELECT doc_id, lang, source, n_chars,
      |  len(string_split(text, ' ')) AS word_count,
      |  len(list_distinct(string_split(text, ' '))) AS distinct_words,
      |  md5(text) AS text_md5,
      |  round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')), 6) AS dup_word_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Text quality scoring: stopword ratio via higher-order array functions
    * (codegen-free but still native, no UDF), length stats, quality bucket
    * (the text-pipeline quality-score operator).
    */
  def q16TextQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("word_count", size(split(col("text"), " ")))
      .withColumn("stopword_count",
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a', 'of', 'and')))"))
      .withColumn("stopword_ratio",
        round(col("stopword_count").cast("double") / col("word_count"), 6))
      .withColumn("avg_word_len",
        round(col("n_chars").cast("double") / col("word_count"), 6))
      .withColumn("quality_bucket",
        when(col("word_count") < 16, "too_short")
          .when(col("stopword_ratio") > 0.25, "boilerplate")
          .when(col("stopword_ratio") > 0.05, "good")
          .otherwise("low_stopword"))
      .select("doc_id", "word_count", "stopword_count", "stopword_ratio", "avg_word_len", "quality_bucket")
      .orderBy("doc_id")

  val q16Sql: String =
    """WITH m AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split(text, ' ')) AS word_count,
      |    len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'of', 'and'))) AS stopword_count
      |  FROM documents)
      |SELECT doc_id, word_count, stopword_count,
      |  round(CAST(stopword_count AS DOUBLE)/word_count, 6) AS stopword_ratio,
      |  round(CAST(n_chars AS DOUBLE)/word_count, 6) AS avg_word_len,
      |  CASE WHEN word_count < 16 THEN 'too_short'
      |       WHEN round(CAST(stopword_count AS DOUBLE)/word_count, 6) > 0.25 THEN 'boilerplate'
      |       WHEN round(CAST(stopword_count AS DOUBLE)/word_count, 6) > 0.05 THEN 'good'
      |       ELSE 'low_stopword' END AS quality_bucket
      |FROM m ORDER BY doc_id""".stripMargin

  /** Explode/unnest + top-k: the 20 most frequent (lang, word) pairs
    * across the corpus (generator/flatMap operator family).
    */
  def q39WordTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang"), col("word"))
      .limit(20)

  val q39Sql: String =
    """SELECT lang, word, COUNT(*) AS n
      |FROM (SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents)
      |WHERE word <> '' GROUP BY lang, word
      |ORDER BY n DESC, lang, word LIMIT 20""".stripMargin

  /** Corpus document-frequency / IDF table
    * ([[graft.operators.TextAnalysis.docFrequency]]) restricted to
    * boilerplate-grade terms (df ≥ 100 over ~N/5 docs). The IDF builder
    * behind q75; also the "scrub list" a C4-style cleaner would subtract.
    */
  def q74DocFreq(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.docFrequency(t(spark, dir, "documents"), "doc_id")
      .filter(col("doc_freq") >= 100)
      .orderBy(col("doc_freq").desc, col("term").asc)

  val q74Sql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS term
      |  FROM documents
      |), df AS (
      |  SELECT term, COUNT(*) AS doc_freq FROM terms GROUP BY 1
      |)
      |SELECT term, doc_freq,
      |  round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / doc_freq), 6) AS idf
      |FROM df WHERE doc_freq >= 100
      |ORDER BY doc_freq DESC, term ASC""".stripMargin

  /** TF-IDF top-3 terms per document
    * ([[graft.operators.TextAnalysis.tfIdfTopTerms]]): rank order is
    * engine-stable because both factors round before composing (see the
    * operator scaladoc for the 2·ln(20) = ln(400) hazard).
    */
  def q75TfIdf(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.tfIdfTopTerms(t(spark, dir, "documents"), "doc_id", k = 3)
      .orderBy(col("doc_id"), col("rn"))

  val q75Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
      |), tfc AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2
      |), idf AS (
      |  SELECT term, round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / COUNT(DISTINCT doc_id)), 6) AS idf
      |  FROM tf GROUP BY term
      |), scored AS (
      |  SELECT tfc.doc_id, tfc.term, tfc.tf, round(tfc.tf * idf.idf, 6) AS tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY tfc.doc_id ORDER BY round(tfc.tf * idf.idf, 6) DESC, tfc.term ASC) AS rn
      |  FROM tfc JOIN idf USING (term)
      |)
      |SELECT doc_id, CAST(rn AS INT) AS rn, term, tf, tfidf FROM scored WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  /** Gopher-style repetition signals for corpus filtering: the fraction
    * of a document occupied by its most frequent word and 2-gram (high
    * values mean boilerplate/templated text). Argmax tie-breaks to the
    * lexicographically smallest gram in both engines via min over
    * (-count, gram).
    */
  def q53Repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = split(lower(col("text")), " ")
    val m = greatest(size(toks) - 1, lit(0))
    val bigrams = transform(
      arrays_zip(slice(toks, lit(1), m).as("a"), slice(toks, lit(2), m).as("b")),
      s => concat_ws(" ", s.getField("a"), s.getField("b")))

    def topFraction(grams: org.apache.spark.sql.Column, what: String): DataFrame =
      docs.select(col("doc_id"), explode(grams).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"n_$what"),
          min(struct((-col("c")).as("nc"), col("gram").as("g"))).as("m"))
        .select(col("doc_id"), col(s"n_$what"),
          col("m.g").as(s"top_$what"),
          round((-col("m.nc")).cast("double") / col(s"n_$what"), 6).as(s"top_${what}_fraction"))

    topFraction(toks, "word")
      .join(topFraction(bigrams, "bigram"), Seq("doc_id"))
      .orderBy("doc_id")
  }

  val q53Sql: String =
    """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |wx AS (SELECT doc_id, unnest(toks) AS gram FROM tk),
      |wc AS (SELECT doc_id, gram, count(*) AS c FROM wx GROUP BY 1, 2),
      |wr AS (SELECT doc_id, gram, c,
      |         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
      |       FROM wc),
      |w AS (SELECT doc_id, n AS n_word, gram AS top_word,
      |        round(CAST(c AS DOUBLE) / n, 6) AS top_word_fraction
      |      FROM wr WHERE rn = 1),
      |bx AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
      |         ELSE [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] END) AS gram
      |       FROM tk),
      |bc AS (SELECT doc_id, gram, count(*) AS c FROM bx GROUP BY 1, 2),
      |br AS (SELECT doc_id, gram, c,
      |         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
      |       FROM bc),
      |b AS (SELECT doc_id, n AS n_bigram, gram AS top_bigram,
      |        round(CAST(c AS DOUBLE) / n, 6) AS top_bigram_fraction
      |      FROM br WHERE rn = 1)
      |SELECT w.doc_id, w.n_word, w.top_word, w.top_word_fraction,
      |  b.n_bigram, b.top_bigram, b.top_bigram_fraction
      |FROM w JOIN b ON w.doc_id = b.doc_id ORDER BY w.doc_id""".stripMargin

  /** Heuristic language ID vs the labeled lang column. Oracle-checked:
    * the marker-token hit rates and the CJK charset ratio are portable
    * SQL (DuckDB list_filter + RE2 \x{...} class), and the
    * highest-score/greatest-struct tie-break maps to list_sort(...)[-1].
    */
  def q22LangId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("lid", TextAnalysis.langId(col("text")))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        col("lid.predicted_lang").as("predicted_lang"),
        round(col("lid.confidence"), 6).as("confidence"))
      .orderBy("doc_id")

  val q22Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, text,
      |    string_split_regex(lower(text), '\s+') AS toks,
      |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS cjk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, cjk,
      |    CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that'], x))) AS DOUBLE) / greatest(len(toks),1) AS s_en,
      |    CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], x))) AS DOUBLE) / greatest(len(toks),1) AS s_de,
      |    CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','es'], x))) AS DOUBLE) / greatest(len(toks),1) AS s_es,
      |    CAST(len(list_filter(toks, x -> list_contains(['le','la','les','de','et','un','est','que'], x))) AS DOUBLE) / greatest(len(toks),1) AS s_fr
      |  FROM t),
      |b AS (
      |  SELECT doc_id, lang AS labeled_lang, cjk,
      |    list_sort([{'s': s_de, 'l': 'de'}, {'s': s_en, 'l': 'en'}, {'s': s_es, 'l': 'es'}, {'s': s_fr, 'l': 'fr'}])[-1] AS best
      |  FROM s)
      |SELECT doc_id, labeled_lang,
      |  CASE WHEN cjk > 0.2 THEN 'zh' ELSE best.l END AS predicted_lang,
      |  round(CASE WHEN cjk > 0.2 THEN cjk ELSE best.s END, 6) AS confidence
      |FROM b ORDER BY doc_id""".stripMargin

  /** Token counting (whitespace + regex + BPE estimate) — oracle-checked:
    * the regex dialect subset used is identical in Java regex and RE2.
    */
  def q24TokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(t(spark, dir, "documents"))
      .select(col("doc_id"), col("ws_tokens"), col("regex_tokens"), col("bpe_est_tokens"))
      .orderBy("doc_id")

  val q24Sql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS regex_tokens,
      |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_est_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** N-gram LM quality score ([[TextAnalysis.ngramLogprob]]): per-doc
    * average log-probability under a corpus-trained add-1 bigram model —
    * the CCNet-style perplexity filter. Oracle-checked: counts are
    * integers, probabilities identical IEEE divisions, `ln` rounded to
    * 6dp at the source (the q74 idf stance), and the per-doc mean sums
    * exact DECIMAL — order-independent on both engines.
    */
  def q101LmScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramLogprob(t(spark, dir, "documents"), "doc_id")
      .orderBy("doc_id")

  val q101Sql: String =
    """WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      |stx AS (SELECT doc_id,
      |    unnest([{'i': i, 'w': toks[i], 'prev': CASE WHEN i > 1 THEN toks[i-1] END}
      |            FOR i IN generate_series(1, len(toks))]) AS s
      |  FROM tk),
      |st AS (SELECT doc_id, s.i AS i, s.w AS w, s.prev AS prev FROM stx),
      |uni AS (SELECT w, COUNT(*) AS cu FROM st GROUP BY w),
      |sc AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_corpus, COUNT(*) AS v_size FROM uni),
      |bi AS (SELECT prev AS b1, w AS b2, COUNT(*) AS cb FROM st WHERE prev IS NOT NULL GROUP BY 1, 2),
      |scored AS (SELECT st.doc_id,
      |    CAST(round((CASE WHEN st.i = 1
      |      THEN ln(CAST(u.cu + 1 AS DOUBLE) / (sc.n_corpus + sc.v_size))
      |      ELSE ln(CAST(COALESCE(b.cb, 0) + 1 AS DOUBLE) / (up.cu + sc.v_size)) END) * 1e6, 0) AS BIGINT) AS lp_micro
      |  FROM st
      |  JOIN uni u ON u.w = st.w
      |  LEFT JOIN uni up ON up.w = st.prev
      |  LEFT JOIN bi b ON b.b1 = st.prev AND b.b2 = st.w
      |  CROSS JOIN sc),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(lp_micro) AS BIGINT) AS s
      |  FROM scored GROUP BY doc_id)
      |SELECT doc_id, n AS n_tokens,
      |  CAST(CASE WHEN s >= 0 THEN (s * 2 + n) // (2 * n)
      |            ELSE -(((-s) * 2 + n) // (2 * n)) END AS DOUBLE) / 1e6 AS avg_logprob
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Token-budget mixture sampling ([[graft.operators.Sampling
    * .tokenBudgetMixture]]): per-language token budgets realized as a
    * hash-stable greedy prefix — the pretraining data-mixture step.
    * Oracle-checked: md5 order, integer token counts, and the
    * window-cumsum cut are identical in any engine (no RNG).
    */
  def q103Mixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    graft.operators.Sampling.tokenBudgetMixture(docs, "doc_id", "lang", "n_tokens",
      Seq("en" -> 3000L, "de" -> 1500L, "es" -> 1500L, "fr" -> 1000L, "zh" -> 800L))
      .orderBy("lang", "doc_id")
  }

  val q103Sql: String =
    """WITH d AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |b(lang, budget) AS (VALUES ('en', 3000), ('de', 1500), ('es', 1500), ('fr', 1000), ('zh', 800)),
      |c AS (SELECT d.doc_id, d.lang, d.n_tokens, b.budget,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY d.lang ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM d JOIN b USING (lang))
      |SELECT doc_id, lang, n_tokens, tokens_before
      |FROM c WHERE tokens_before < budget ORDER BY lang, doc_id""".stripMargin

  /** The composed CURATION PIPELINE — the end-to-end flow a
    * training-data user actually runs, chaining four individually
    * hash-certified stages so their INTERACTION (column contracts, drop
    * ordering) is oracle-certified too:
    *   1. quality filter: [[TextAnalysis.qualityFeatures]] score ≥ 0.8
    *      over the training candidates (doc_id%10 < 8; the %10 ≥ 8 rows
    *      are the held-out benchmark);
    *   2. near-dup resolution: q102's keep-best policy (n-gram Jaccard
    *      pairs → connected components → keep the longest member) on
    *      the quality survivors — non-keepers drop;
    *   3. decontamination: drop any surviving candidate that CONTAINS a
    *      benchmark doc ([[Dedup.contaminationPairs]] ≥ 0.2 — the
    *      un-reduced pair set, because ANY leak disqualifies, not just
    *      each test doc's best match);
    *   4. token-budget mixture: [[graft.operators.Sampling
    *      .tokenBudgetMixture]] per-language budgets over what's left.
    * Each stage only shuffles on its natural key (shingle / component /
    * source); drops flow as left-anti joins, never collected.
    *
    * The two SHARED stage results are persisted as NARROW ID SETS
    * (doc_id only, MEMORY_AND_DISK, CacheScope-tracked): the quality
    * survivors feed three subtrees (shingle pairs, word counts, the
    * anti-join) and the dedup survivors two (contamination pairs, the
    * final anti-join) — without a cache each consumer re-runs the
    * quality-feature/connected-components pipelines, real work done
    * twice at any scale. What is deliberately NOT cached is the full
    * document TEXT: consumers re-derive the wide frame as a LEFT SEMI
    * join of the column-pruned parquet scan against the cached id set.
    * A persisted full-text frame is exactly the block that spills
    * under memory pressure (the r11 driver bench showed this query
    * 6.7× slower with io-contention while the clean-box runs were
    * flat), while the id set is O(rows × 8 bytes) and effectively
    * never spills; the re-scan it costs is columnar, pushed-down and
    * page-cache-friendly. At 100 TB the cached set stays ~GBs where
    * the text frame would be ~TBs.
    */
  def q104Curate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
    val test = docs.filter(col("doc_id") % 10 >= 8).select("doc_id", "lang", "text")
    val cand = docs.filter(col("doc_id") % 10 < 8).select("doc_id", "lang", "text")
    // stage 1: quality gate — cache only the survivor ID SET; the wide
    // text frame re-derives per consumer via a semi-join against the
    // column-pruned scan (see scaladoc: the narrow cache cannot spill)
    val qualityIds = graft.CacheScope.track(
      TextAnalysis.qualityFeatures(cand)
        .filter(col("quality_score") >= 0.8)
        .select("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val q = cand.join(qualityIds, Seq("doc_id"), "left_semi")
    // stage 2: duplicate-cluster keep-best (q102 parameters/policy)
    val pairs = Dedup.ngramJaccard(q, "doc_id", "text",
      k = 3, minJaccard = 0.2, maxDocFreq = 200)
    val wc = q.select(col("doc_id"), size(split(col("text"), " ")).as("word_count"))
    val dupDrops = graft.operators.ConnectedComponents.clusters(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"))
      .join(wc, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("word_count").desc, col("doc_id").asc)))
      .filter(col("rk") > 1)
      .select("doc_id")
    val dedupedIds = graft.CacheScope.track(
      qualityIds.join(dupDrops, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deduped = cand.join(dedupedIds, Seq("doc_id"), "left_semi")
    // stage 3: benchmark decontamination (drop-ANY-leak direction)
    val contaminated = Dedup.contaminationPairs(deduped, test, "doc_id", "text",
        k = 3, minContainment = 0.2, maxDocFreq = 1000)
      .select(col("train_id").as("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    // stage 4: per-language token-budget mixture
    val withTok = clean.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    graft.operators.Sampling.tokenBudgetMixture(withTok, "doc_id", "lang", "n_tokens",
      Seq("en" -> 2000L, "de" -> 1000L, "es" -> 1000L, "fr" -> 800L, "zh" -> 600L))
      .orderBy("lang", "doc_id")
  }

  val q104Sql: String =
    """WITH RECURSIVE
      |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 >= 8),
      |cand AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 < 8),
      |qf AS (SELECT doc_id, lang, text, string_split_regex(text, '\s+') AS words FROM cand),
      |q AS (SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, text,
      |      CAST(len(words) AS INT) AS n_words,
      |      CAST(length(text) AS DOUBLE) / greatest(len(words), 1) AS avg_word_len,
      |      CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |        / greatest(length(text), 1) AS punct_ratio,
      |      1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS dup_word_ratio
      |    FROM qf)
      |  WHERE greatest(0.0, least(1.0, 1.0
      |    - CASE WHEN n_words < 8 THEN 0.4 ELSE 0.0 END
      |    - CASE WHEN punct_ratio > 0.3 THEN 0.3 ELSE 0.0 END
      |    - CASE WHEN dup_word_ratio > 0.7 THEN 0.3 ELSE 0.0 END
      |    - CASE WHEN avg_word_len < 2.0 OR avg_word_len > 12.0 THEN 0.2 ELSE 0.0 END)) >= 0.8),
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM q),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] END) AS shingles
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
      |df AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 200),
      |fex AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN df USING (shingle)),
      |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |       FROM fex a JOIN fex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (SELECT co.id_a, co.id_b
      |      FROM co JOIN sizes sa ON sa.doc_id = co.id_a JOIN sizes sb ON sb.doc_id = co.id_b
      |      WHERE CAST(co.inter AS DOUBLE) / (sa.n + sb.n - co.inter) >= 0.2),
      |und AS (SELECT id_a AS a, id_b AS b FROM pairs
      |        UNION SELECT id_b, id_a FROM pairs),
      |reach AS (SELECT DISTINCT a AS id, a AS r FROM und
      |          UNION
      |          SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |wc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS word_count FROM q),
      |rk AS (SELECT comp.id AS doc_id,
      |    row_number() OVER (PARTITION BY comp.component
      |      ORDER BY wc.word_count DESC, comp.id ASC) AS rk
      |  FROM comp JOIN wc ON wc.doc_id = comp.id),
      |d AS (SELECT q.* FROM q WHERE doc_id NOT IN (SELECT doc_id FROM rk WHERE rk > 1)),
      |dtoks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM d),
      |dsh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] END) AS shingles
      |  FROM dtoks),
      |dex AS (SELECT doc_id AS train_id, unnest(shingles) AS shingle FROM dsh),
      |ttoks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM test),
      |tsh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] END) AS shingles
      |  FROM ttoks),
      |tex AS (SELECT doc_id AS test_id, unnest(shingles) AS shingle FROM tsh),
      |tsz AS (SELECT test_id, count(*) AS n_test FROM tex GROUP BY 1),
      |trf AS (SELECT train_id, shingle FROM (
      |    SELECT train_id, shingle, count(*) OVER (PARTITION BY shingle) AS dfr FROM dex)
      |  WHERE dfr <= 1000),
      |cco AS (SELECT tex.test_id, trf.train_id, count(*) AS inter
      |        FROM tex JOIN trf USING (shingle) GROUP BY 1, 2),
      |contam AS (SELECT DISTINCT cco.train_id AS doc_id
      |           FROM cco JOIN tsz USING (test_id)
      |           WHERE CAST(cco.inter AS DOUBLE) / tsz.n_test >= 0.2),
      |c AS (SELECT d.* FROM d WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |m AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h FROM c),
      |b(lang, budget) AS (VALUES ('en', 2000), ('de', 1000), ('es', 1000), ('fr', 800), ('zh', 600)),
      |cum AS (SELECT m.doc_id, m.lang, m.n_tokens, b.budget,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY m.lang ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM m JOIN b USING (lang))
      |SELECT doc_id, lang, n_tokens, tokens_before
      |FROM cum WHERE tokens_before < budget ORDER BY lang, doc_id""".stripMargin

  /** PII redaction over documents with planted identifiers (the driver's
    * docs contain no PII, so each doc gets a deterministic synthetic
    * email/phone/SSN suffix keyed by doc_id; the operator must scrub all
    * of them). Oracle-checked — patterns are in the Java∩RE2 regex
    * subset.
    */
  def q32PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents")
      .withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
    TextAnalysis.redactPiiDf(planted)
      .select(col("doc_id"),
        substring(col("redacted_text"), -60, 60).as("redacted_tail"),
        col("n_emails"), col("n_phones"), col("n_ssns"))
      .orderBy("doc_id")
  }

  val q32Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com or 555-123-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |      ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      |  FROM documents),
      |r AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
      |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS redacted_text,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
      |    CAST(len(regexp_extract_all(text, '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS INT) AS n_phones,
      |    CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INT) AS n_ssns
      |  FROM planted)
      |SELECT doc_id, substring(redacted_text, -60) AS redacted_tail,
      |  n_emails, n_phones, n_ssns
      |FROM r ORDER BY doc_id""".stripMargin

  /** Text quality features composite (language-model corpus filter).
    * Oracle-checked; quality_score is rounded 6dp on both sides because
    * DuckDB's 0.1-quantum literals are exact decimals while Spark's are
    * binary doubles (1.0-0.4-0.3 = 0.3 vs 0.30000000000000004).
    */
  def q27TextQualityFeatures(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(t(spark, dir, "documents"))
      .select(col("doc_id"), col("n_words"),
        round(col("avg_word_len"), 6).as("avg_word_len"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("dup_word_ratio"), 6).as("dup_word_ratio"),
        round(col("quality_score"), 6).as("quality_score"))
      .orderBy("doc_id")

  val q27Sql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split_regex(text, '\s+') AS words FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS INT) AS n_words,
      |    CAST(length(text) AS DOUBLE) / greatest(len(words), 1) AS avg_word_len,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    CAST(len(list_filter(words, w -> list_contains(['the','and','of','to','a','in','is','that'], w))) AS DOUBLE)
      |      / greatest(len(words), 1) AS stopword_ratio,
      |    1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS dup_word_ratio
      |  FROM t)
      |SELECT doc_id, n_words,
      |  round(avg_word_len, 6) AS avg_word_len,
      |  round(punct_ratio, 6) AS punct_ratio,
      |  round(stopword_ratio, 6) AS stopword_ratio,
      |  round(dup_word_ratio, 6) AS dup_word_ratio,
      |  CAST(round(greatest(0.0, least(1.0, 1.0
      |    - CASE WHEN n_words < 8 THEN 0.4 ELSE 0.0 END
      |    - CASE WHEN punct_ratio > 0.3 THEN 0.3 ELSE 0.0 END
      |    - CASE WHEN dup_word_ratio > 0.7 THEN 0.3 ELSE 0.0 END
      |    - CASE WHEN avg_word_len < 2.0 OR avg_word_len > 12.0 THEN 0.2 ELSE 0.0 END)), 6) AS DOUBLE) AS quality_score
      |FROM f ORDER BY doc_id""".stripMargin

  /** Token-budget sequence packing ([[graft.operators.Packing]]): greedy
    * first-fit of documents (whitespace token counts, doc_id order,
    * per-source pack streams) into 1000-token training shards. The
    * DuckDB oracle replays the identical sequential fold as a recursive
    * CTE stepping one doc per source per iteration — the stateful
    * per-group semantics, not just row counts, are hash-checked.
    */
  def q59PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.operators.Packing.greedyPack(docs, "source", "doc_id", "n_tokens", budget = 1000L)
      .select(col("group").as("source"), col("doc_id"), col("n_tokens"),
        col("shard"), col("offset"))
      .orderBy("source", "doc_id")
  }

  val q59Sql: String =
    """WITH RECURSIVE
      |d AS (SELECT source, doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |      FROM documents),
      |packed AS (
      |  SELECT source, doc_id, n_tokens, rn,
      |    CAST(0 AS BIGINT) AS shard, CAST(0 AS BIGINT) AS "offset",
      |    n_tokens AS acc
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
      |    CASE WHEN p.acc + d.n_tokens > 1000 THEN p.shard + 1 ELSE p.shard END,
      |    CASE WHEN p.acc + d.n_tokens > 1000 THEN CAST(0 AS BIGINT) ELSE p.acc END,
      |    CASE WHEN p.acc + d.n_tokens > 1000 THEN d.n_tokens ELSE p.acc + d.n_tokens END
      |  FROM packed p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
      |SELECT source, doc_id, n_tokens, shard, "offset" AS offset
      |FROM packed ORDER BY source, doc_id""".stripMargin

  /** Quality-weighted IMPORTANCE resampling
    * ([[graft.operators.Sampling.weightedSample]]): each document is
    * kept with probability equal to its quality score — the
    * soft-filtering alternative to q77's hard threshold (low-quality
    * docs downweight instead of vanishing). Portable-hash draw +
    * integer-exact threshold, so the exact kept set hash-matches the
    * DuckDB twin.
    */
  def q107WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityFeatures(t(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("quality_score"))
    graft.operators.Sampling.weightedSample(scored, "doc_id", col("quality_score"),
        seed = 7, portable = true)
      .select(col("doc_id"), col("lang"), round(col("quality_score"), 4).as("weight"))
      .orderBy("doc_id")
  }

  val q107Sql: String =
    """WITH qf AS (SELECT doc_id, lang, text,
      |    string_split_regex(text, '\s+') AS words FROM documents),
      |s AS (SELECT doc_id, lang,
      |    CAST(len(words) AS INT) AS n_words,
      |    CAST(length(text) AS DOUBLE) / greatest(len(words), 1) AS avg_word_len,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS dup_word_ratio
      |  FROM qf),
      |sc AS (SELECT doc_id, lang,
      |    greatest(0.0, least(1.0, 1.0
      |      - CASE WHEN n_words < 8 THEN 0.4 ELSE 0.0 END
      |      - CASE WHEN punct_ratio > 0.3 THEN 0.3 ELSE 0.0 END
      |      - CASE WHEN dup_word_ratio > 0.7 THEN 0.3 ELSE 0.0 END
      |      - CASE WHEN avg_word_len < 2.0 OR avg_word_len > 12.0 THEN 0.2 ELSE 0.0 END)) AS score
      |  FROM s)
      |SELECT doc_id, lang, round(score, 4) AS weight FROM sc
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
      |  < CAST(floor(score * 1152921504606846976.0) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  /** Sliding-window chunking
    * ([[graft.operators.Packing.chunkWithStride]]): documents split
    * into overlapping 12-token windows at stride 8 — the
    * overflow-with-stride shape used for long-document training and
    * embedding indexing.
    */
  def q108Chunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.chunkWithStride(
        t(spark, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", maxTokens = 12, stride = 8)
      .orderBy("doc_id", "chunk_idx")

  val q108Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |idx AS (SELECT doc_id, tk,
      |    unnest(range(CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i
      |  FROM toks)
      |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |  array_to_string(tk[CAST(i * 8 + 1 AS BIGINT):CAST(i * 8 + 12 AS BIGINT)], ' ') AS chunk_text,
      |  CAST(least(len(tk) - i * 8, 12) AS BIGINT) AS n_tokens
      |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin

  /** BM25 ranked retrieval ([[graft.operators.TextAnalysis.bm25TopK]]):
    * top-10 documents for a 3-query keyword workload — the corpus
    * exploration / RAG-candidate stage. Scores in integer-exact micro
    * units (idf and per-term contributions round at the source, the
    * per-(query, doc) sum is exact BIGINT).
    */
  def q109Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (0L, Seq("spark", "window", "join")),
      (1L, Seq("fast", "scan", "table")),
      (2L, Seq("vector", "stream", "hash"))).toDF("qid", "terms")
    TextAnalysis.bm25TopK(t(spark, dir, "documents"), "doc_id", "text", queries, k = 10)
      .orderBy("qid", "rn")
  }

  val q109Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |dls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CAST(len(tk) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl FROM toks),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |idf AS (SELECT term,
      |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6, 0) AS BIGINT) AS idf_micro
      |  FROM dfq, st),
      |qt AS (SELECT * FROM (VALUES (0, ['spark', 'window', 'join']),
      |    (1, ['fast', 'scan', 'table']),
      |    (2, ['vector', 'stream', 'hash'])) AS v(qid, terms)),
      |qe AS (SELECT CAST(qid AS BIGINT) AS qid, unnest(terms) AS term FROM qt),
      |sc AS (SELECT qe.qid, tf.doc_id,
      |    CAST(round((CAST(idf_micro AS DOUBLE) / 1e6) *
      |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 1e6, 0) AS BIGINT) AS c
      |  FROM tf JOIN qe USING (term) JOIN idf USING (term) JOIN dls USING (doc_id), st),
      |ag AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro,
      |    CAST(count(*) AS BIGINT) AS n_terms
      |  FROM sc GROUP BY qid, doc_id),
      |rk AS (SELECT qid, doc_id, n_terms, score_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rn
      |  FROM ag)
      |SELECT qid, doc_id, CAST(rn AS INT) AS rn, n_terms, score_micro
      |FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  /** Curriculum difficulty tiers from the LM quality score (q101's
    * [[TextAnalysis.ngramLogprob]]): documents bin into 4 tiers by exact
    * avg-logprob quartiles — tier 1 = most fluent (trained first in a
    * curriculum schedule), tier 4 = hardest/noisiest. Percentile
    * THRESHOLDS + a broadcast join instead of a global ntile window: an
    * ntile over the whole corpus is a single-partition sort at scale,
    * while the threshold form is one aggregation + a narrow map.
    */
  def q113Curriculum(spark: SparkSession, dir: String): DataFrame = {
    val lm = TextAnalysis.ngramLogprob(t(spark, dir, "documents"), "doc_id")
    val thr = lm.agg(
      round(expr("percentile(avg_logprob, 0.75)"), 6).as("p75"),
      round(expr("percentile(avg_logprob, 0.5)"), 6).as("p50"),
      round(expr("percentile(avg_logprob, 0.25)"), 6).as("p25"))
    lm.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("avg_logprob"),
        when(col("avg_logprob") >= col("p75"), 1)
          .when(col("avg_logprob") >= col("p50"), 2)
          .when(col("avg_logprob") >= col("p25"), 3)
          .otherwise(4).as("tier"))
      .orderBy("doc_id")
  }

  // lazy: q101Sql is declared above but object vals initialize in
  // declaration order only within this file's ordering — keep the same
  // split-reuse stance as q102Sql-over-q58Sql
  lazy val q113Sql: String = {
    val cut = q101Sql.lastIndexOf("\nSELECT doc_id, n AS n_tokens,")
    require(cut >= 0, "q113Sql: q101Sql's final SELECT changed — update the split marker")
    q101Sql.substring(0, cut) +
      """,
        |lm AS (SELECT doc_id, n AS n_tokens,
        |    CAST(CASE WHEN s >= 0 THEN (s * 2 + n) // (2 * n)
        |         ELSE -(((-s) * 2 + n) // (2 * n)) END AS DOUBLE) / 1e6 AS avg_logprob
        |  FROM agg),
        |thr AS (SELECT round(quantile_cont(avg_logprob, 0.75), 6) AS p75,
        |    round(quantile_cont(avg_logprob, 0.5), 6) AS p50,
        |    round(quantile_cont(avg_logprob, 0.25), 6) AS p25 FROM lm)
        |SELECT doc_id, n_tokens, avg_logprob,
        |  CAST(CASE WHEN avg_logprob >= p75 THEN 1
        |       WHEN avg_logprob >= p50 THEN 2
        |       WHEN avg_logprob >= p25 THEN 3
        |       ELSE 4 END AS INT) AS tier
        |FROM lm, thr ORDER BY doc_id""".stripMargin
  }

  /** Per-source adaptive quality threshold
    * ([[graft.operators.TextAnalysis.adaptiveQualityFilter]]): each
    * source keeps documents above its OWN 25th quality percentile — the
    * per-domain calibration that a single global cutoff gets wrong.
    */
  def q112AdaptiveQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.qualityFeatures(t(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        round(col("quality_score"), 4).as("score"))
    TextAnalysis.adaptiveQualityFilter(scored, "source", "score", p = 0.25)
      .select(col("doc_id"), col("source"), col("score"), col("threshold"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition quality filter
    * ([[graft.operators.TextAnalysis.repetitionFeatures]]): per-doc
    * duplicate-word / top-bigram / duplicate-trigram fractions and the
    * keep verdict. The Spark side is a zero-shuffle per-row HOF
    * pipeline; the oracle recomputes the same integer counts via
    * unnest+group (semantically identical, shape irrelevant for an
    * oracle).
    */
  def q118Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionFeatures(t(spark, dir, "documents"), "doc_id")
      .orderBy("doc_id")

  val q118Sql: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
      |  FROM documents),
      |f AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_words,
      |    CASE WHEN len(w) >= 2
      |      THEN [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w)-1)]
      |      ELSE [] END AS big,
      |    CASE WHEN len(w) >= 3
      |      THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w)-2)]
      |      ELSE [] END AS tri
      |  FROM w),
      |bc AS (SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id, unnest(big) AS g FROM f) GROUP BY 1, 2),
      |top AS (SELECT doc_id, max(c) AS mc FROM bc GROUP BY 1),
      |m AS (SELECT f.doc_id, n_words,
      |    CASE WHEN n_words > 0
      |      THEN round((n_words - len(list_distinct(w))) / CAST(n_words AS DOUBLE), 6)
      |      ELSE 0.0 END AS dup_word_frac,
      |    CASE WHEN len(big) > 0
      |      THEN round(COALESCE(top.mc, 0) / CAST(len(big) AS DOUBLE), 6)
      |      ELSE 0.0 END AS top_bigram_frac,
      |    CASE WHEN len(tri) > 0
      |      THEN round((len(tri) - len(list_distinct(tri))) / CAST(len(tri) AS DOUBLE), 6)
      |      ELSE 0.0 END AS dup_trigram_frac
      |  FROM f LEFT JOIN top ON f.doc_id = top.doc_id)
      |SELECT doc_id, n_words, dup_word_frac, top_bigram_frac, dup_trigram_frac,
      |  (dup_word_frac <= 0.55 AND top_bigram_frac <= 0.07
      |    AND dup_trigram_frac <= 0.05) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Fixed per-group quota sample
    * ([[graft.operators.Sampling.fixedQuotaPerGroup]]): exactly 7 docs
    * per source in md5-of-id order — the held-out eval-set construction
    * where fractional sampling would starve small groups. md5 hex order
    * is engine-portable, so selection AND rank hash-compare.
    */
  def q120QuotaSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.fixedQuotaPerGroup(
        t(spark, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", k = 7)
      .select(col("doc_id"), col("source"), col("rn").cast("int").as("rn"))
      .orderBy("source", "rn")

  val q120Sql: String =
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source, CAST(rn AS INT) AS rn
      |FROM r WHERE rn <= 7 ORDER BY source, rn""".stripMargin

  /** Unicode/whitespace text normalization
    * ([[graft.operators.TextAnalysis.normalizeText]], backed by the
    * native [[graft.expressions.NfcNormalize]] expression). The corpus
    * is ASCII, so four Unicode rows are PLANTED identically in both
    * engines (combining-mark composition, Angstrom→Å singleton,
    * control-char strip, whitespace collapse) — the oracle's
    * `nfc_normalize` is utf8proc and Spark's is the JDK, so a
    * hash-green result certifies standard-conformant NFC cross-engine.
    */
  def q122Normalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (100001L, "café"),
      (100002L, "Å unit"),
      (100003L, "tab\tand\nnew  lines"),
      (100004L, "bellchar ")
    ).toDF("doc_id", "text")
    TextAnalysis.normalizeText(
        t(spark, dir, "documents").select(col("doc_id"), col("text")).unionAll(planted),
        "doc_id")
      .orderBy("doc_id")
  }

  val q122Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (100001, 'cafe' || chr(769)),
      |    (100002, chr(8491) || ' unit'),
      |    (100003, 'tab' || chr(9) || 'and' || chr(10) || 'new  lines'),
      |    (100004, 'bell' || chr(7) || 'char ')) t(doc_id, text)),
      |n AS (SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
      |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
      |  FROM corpus)
      |SELECT doc_id, norm_text, (norm_text <> text) AS changed,
      |  CAST(length(norm_text) AS BIGINT) AS n_chars
      |FROM n ORDER BY doc_id""".stripMargin

  val q112Sql: String =
    """WITH qf AS (SELECT doc_id, source, text,
      |    string_split_regex(text, '\s+') AS words FROM documents),
      |s AS (SELECT doc_id, source,
      |    CAST(len(words) AS INT) AS n_words,
      |    CAST(length(text) AS DOUBLE) / greatest(len(words), 1) AS avg_word_len,
      |    CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS punct_ratio,
      |    1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS dup_word_ratio
      |  FROM qf),
      |sc AS (SELECT doc_id, source,
      |    round(greatest(0.0, least(1.0, 1.0
      |      - CASE WHEN n_words < 8 THEN 0.4 ELSE 0.0 END
      |      - CASE WHEN punct_ratio > 0.3 THEN 0.3 ELSE 0.0 END
      |      - CASE WHEN dup_word_ratio > 0.7 THEN 0.3 ELSE 0.0 END
      |      - CASE WHEN avg_word_len < 2.0 OR avg_word_len > 12.0 THEN 0.2 ELSE 0.0 END)), 4) AS score
      |  FROM s),
      |thr AS (SELECT source, round(quantile_cont(score, 0.25), 6) AS threshold
      |  FROM sc GROUP BY source)
      |SELECT sc.doc_id, sc.source, sc.score, thr.threshold
      |FROM sc JOIN thr USING (source)
      |WHERE sc.score >= thr.threshold ORDER BY sc.doc_id""".stripMargin

  /** NOVELTY SCORING (q142): every distinct 3-shingle is owned by the
    * lowest-id document carrying it; each document reports its shingle
    * count, owned-shingle count and novelty fraction. The DuckDB twin
    * recomputes the attribution from the raw parquet with the same
    * shingle definition (distinct, lowercase, whole-text fallback for
    * <3-token docs), so rows+schema+hash certify the global
    * first-writer attribution end-to-end.
    */
  def q142Novelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    TextAnalysis.noveltyScore(docs, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
  }

  val q142Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3
      |      THEN list_distinct(list_transform(range(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |      ELSE [array_to_string(w, ' ')] END AS grams
      |  FROM toks),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
      |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
      |SELECT g.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS novel_grams,
      |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 4) AS novelty
      |FROM g JOIN f USING (gram)
      |GROUP BY g.doc_id
      |ORDER BY doc_id""".stripMargin

  /** NOVELTY-WEIGHTED SELECTION (q143), the D4-style curation chain:
    *   1. score every document's first-occurrence 3-gram novelty
    *      ([[TextAnalysis.noveltyScore]], q142-certified);
    *   2. novelty floor ≥ 0.3 (boilerplate-dominated docs drop), then
    *      IMPORTANCE-SAMPLE survivors with keep-probability = novelty
    *      ([[Sampling.weightedSample]], portable integer-exact draw —
    *      near-duplicate content downweights instead of only the
    *      cluster loser vanishing);
    *   3. per-language token-budget mixture over what is left
    *      ([[Sampling.tokenBudgetMixture]], q103-certified).
    *
    * Scale shape: novelty is two map-side-combining aggregates + one
    * doc-keyed join (no gram-keyed join — see noveltyScore); the
    * sample is a per-row hash draw (zero shuffle, no RNG state); the
    * mixture window shuffles once on the language key with
    * WindowGroupLimit-sized partitions. Reference analogue: the
    * quality-gated curation the reference DAG runs
    * (healthcare_data_pipeline_dag.py:152-202), upgraded to
    * novelty-aware selection.
    */
  def q143NoveltyCurate(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    val nov = TextAnalysis
      .noveltyScore(docs.select(col("doc_id"), col("text")), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("novelty"))
    val kept = Sampling.weightedSample(
      nov.filter(col("novelty") >= 0.3), "doc_id", col("novelty"),
      seed = 11, portable = true)
    val wide = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .join(kept.select("doc_id"), Seq("doc_id"))
    Sampling.tokenBudgetMixture(wide, "doc_id", "lang", "n_tokens",
        Seq("en" -> 2000L, "de" -> 1000L, "es" -> 1000L, "fr" -> 800L, "zh" -> 600L))
      .join(kept.select(col("doc_id"), col("novelty")), Seq("doc_id"))
      .orderBy("doc_id")
  }

  val q143Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3
      |      THEN list_distinct(list_transform(range(1, len(w) - 1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |      ELSE [array_to_string(w, ' ')] END AS grams
      |  FROM toks),
      |g AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
      |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
      |nov AS (SELECT g.doc_id,
      |    round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*), 4) AS novelty
      |  FROM g JOIN f USING (gram) GROUP BY g.doc_id),
      |keep AS (SELECT doc_id, novelty FROM nov
      |  WHERE novelty >= 0.3
      |    AND ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 15))::BIGINT
      |      < CAST(floor(novelty * 1152921504606846976.0) AS BIGINT)),
      |b(lang, budget) AS (VALUES ('en', 2000), ('de', 1000), ('es', 1000), ('fr', 800), ('zh', 600)),
      |d AS (SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (SELECT d.doc_id, d.lang, d.n_tokens, b.budget, keep.novelty,
      |    CAST(COALESCE(SUM(d.n_tokens) OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM d JOIN keep USING (doc_id) JOIN b USING (lang))
      |SELECT doc_id, lang, n_tokens, tokens_before, novelty
      |FROM c WHERE tokens_before < budget ORDER BY doc_id""".stripMargin
}
