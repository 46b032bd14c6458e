package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, VectorOps}

/** ANN/vector layer over the embeddings table: brute-force, LSH, IVF,
  * residual- and int8-quantized ANN, random projection, recall
  * evaluation, hybrid retrieval and contrastive dataset construction.
  */
object VectorQueries {
  import Tables.t

  lazy val entries: Seq[Query] = Seq(
    Query("q17_ann_cosine_topk", q17AnnCosineTopK, Some(q17Sql)),
    Query("q25_ann_lsh", q25AnnLsh, Some(q25Sql)),
    Query("q28_ann_ivf", q28AnnIvf, Some(q28Sql)),
    Query("q64_ann_ivf_rq", q64AnnIvfRq, Some(q64Sql)),
    Query("q106_jl_project", q106JlProject, Some(q106Sql)),
    Query("q110_quant_ann", q110QuantAnn, Some(q110Sql)),
    Query("q114_hard_neg", q114HardNegatives, Some(q114Sql)),
    Query("q115_hybrid_retrieval", q115HybridRetrieval, Some(q115Sql)),
    Query("q119_ann_recall", q119AnnRecall, Some(q119Sql(q17Sql, q110Sql))),
    Query("q124_contrastive", q124ContrastiveTriplets, Some(q124Sql))
  )

  /** Brute-force cosine top-k over the embedding column — the ANN
    * baseline. Query set = vec_id < 5 (broadcast); corpus = the rest.
    * Dot/norm computed as sequential double folds (identical fold order in
    * both engines), cosine rounded to 6dp BEFORE ranking so the rank
    * comparison is engine-stable; unique tie-break on neighbor id.
    *
    * Scale: query side broadcast, corpus scanned once, per-partition
    * top-k via WindowGroupLimit — no shuffle of the corpus. The
    * LSH-bucketed variant for huge corpora is `VectorOps.cosineLshTopK`.
    */
  def q17AnnCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = em.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = em.filter(col("vec_id") >= 5)
    corpus.crossJoin(broadcast(q))
      // codegen'd VecDot — same left-to-right fold order as the DuckDB
      // oracle's list_dot_product, rounded to 6dp before ranking
      .withColumn("cosine", round(
        graft.operators.VectorOps.fastCosine(spark)(col("emb"), col("q_emb")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  val q17Sql: String =
    """WITH em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM em WHERE vec_id < 5),
      |c AS (SELECT vec_id, emb FROM em WHERE vec_id >= 5),
      |s AS (SELECT q.q_id, c.vec_id,
      |        round(list_dot_product(c.emb, q.q_emb) /
      |          (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cosine
      |      FROM c CROSS JOIN q),
      |r AS (SELECT q_id, vec_id, cosine,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
      |      FROM s)
      |SELECT q_id, vec_id AS neighbor_id, cosine, rn FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** Approximate ANN (hyperplane LSH buckets + exact re-rank) — same
    * query set as the brute-force baseline q17 so recall is measurable.
    */
  /** LSH ANN top-k — oracle-checked like q21: the DuckDB twin embeds
    * the same 16 hyperplane literals, replicates the 4-band bucketing,
    * and re-ranks candidates with the engine-exact cosine; rank order
    * (unrounded cosine desc, id asc) is deterministic because the
    * doubles are identical on both engines.
    */
  def q25AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    VectorOps.cosineLshTopK(
      em.filter(col("vec_id") >= 5).withColumnRenamed("vec_id", "id").withColumnRenamed("v", "vec"),
      em.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid").withColumnRenamed("v", "qvec"),
      k = 10)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rn")
  }

  val q25Sql: String = {
    val pl = (0 until 16).map(p => VectorOps.plane(p, 64).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val sigTerms = (0 until 16).map(p =>
      s"(CASE WHEN list_dot_product(vec, pl[${p + 1}]) > 0 THEN ${1L << p}::BIGINT ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH planes AS (SELECT $pl AS pl),
       |av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |sig AS (SELECT vec_id, vec, $sigTerms AS sig FROM av, planes),
       |bb AS (SELECT vec_id, sig, b, (sig >> (b*4)) & 15 AS bucket FROM sig, generate_series(0,3) t(b)),
       |cand AS (SELECT DISTINCT c.vec_id AS id, q.vec_id AS qid
       |  FROM bb c JOIN bb q ON c.b = q.b AND c.bucket = q.bucket
       |  WHERE c.vec_id >= 5 AND q.vec_id < 5),
       |res AS (SELECT qid, id,
       |    list_dot_product(cv.vec, qv.vec) / (sqrt(list_dot_product(cv.vec, cv.vec)) * sqrt(list_dot_product(qv.vec, qv.vec))) AS cos
       |  FROM cand JOIN av cv ON cv.vec_id = id JOIN av qv ON qv.vec_id = qid),
       |rk AS (SELECT qid, id AS neighbor_id, round(cos, 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rn
       |  FROM res)
       |SELECT qid, neighbor_id, cosine, rn FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** IVF approximate ANN — same query set as the q17 brute-force
    * baseline; probes 4 of 16 clusters (inverted-file scale path).
    * Oracle-checked via the frozen-centroid query path
    * ([[graft.operators.IvfIndex.cosineTopKFrozen]]): production IVF
    * trains its centroids OFFLINE, so at query time they are always
    * fixed constants — embedding the deterministic centroid literals in
    * both engines makes assignment → probe → re-rank hash-comparable
    * (the q21/q25 portable-literal trick). The Lloyd training path
    * stays recall-pinned in ChecksDimsSkewSpec.
    */
  def q28AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.operators.IvfIndex.cosineTopKFrozen(spark,
      em.filter(col("vec_id") >= 5).withColumnRenamed("vec_id", "id").withColumnRenamed("v", "vec"),
      em.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid").withColumnRenamed("v", "qvec"),
      k = 10, centArr = graft.operators.IvfIndex.frozenCentroids(16, 64), nprobe = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rn")
  }

  /** The per-centroid argmin score terms of the DuckDB twins: the SAME
    * |c|² literal the Scala side folds driver-side, minus 2·dot against
    * the SAME printed centroid row — bit-identical scores, so argmin and
    * probe ranking agree across engines.
    */
  private[queries] def ivfScoreTerms(vecExpr: String, listExpr: String,
      arr: Seq[(Int, Array[Double])], cidName: String): String =
    arr.map { case (cid, c) =>
      val n2 = c.map(x => x * x).sum
      s"{'d': $n2 - 2.0*list_dot_product($vecExpr, $listExpr[${cid + 1}]), '$cidName': $cid}"
    }.mkString("[", ", ", "]")

  private[queries] def ivfMat(arr: Seq[(Int, Array[Double])]): String =
    arr.sortBy(_._1).map(_._2.mkString("[", ",", "]")).mkString("[", ",", "]")

  val q28Sql: String = {
    val cents = graft.operators.IvfIndex.frozenCentroids(16, 64)
    s"""WITH cc AS (SELECT ${ivfMat(cents)} AS c),
       |av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |corp AS (SELECT vec_id AS id, vec,
       |    list_sort(${ivfScoreTerms("vec", "cc.c", cents, "cid")})[1].cid AS cluster_id
       |  FROM av, cc WHERE vec_id >= 5),
       |qp AS (SELECT qid, qvec, s.cid AS cluster_id FROM (
       |  SELECT vec_id AS qid, vec AS qvec,
       |      unnest(list_sort(${ivfScoreTerms("vec", "cc.c", cents, "cid")})[1:4]) AS s
       |    FROM av, cc WHERE vec_id < 5)),
       |res AS (SELECT qp.qid, corp.id,
       |    list_dot_product(corp.vec, qp.qvec)
       |      / (sqrt(list_dot_product(corp.vec, corp.vec)) * sqrt(list_dot_product(qp.qvec, qp.qvec))) AS cos
       |  FROM corp JOIN qp USING (cluster_id)),
       |rk AS (SELECT qid, id AS neighbor_id, round(cos, 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rn
       |  FROM res)
       |SELECT qid, neighbor_id, cosine, rn FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** Residual-quantized IVF ANN (compressed (cluster,code) index +
    * approximate scoring against reconstructions + exact re-rank of
    * survivors) — same query set as q17/q25/q28 so recall is directly
    * comparable. Oracle-checked via the frozen centroid+codebook query
    * path ([[graft.operators.IvfIndex.rqCosineTopKFrozen]]) — offline
    * training means both levels are query-time constants; every stage
    * (residual, code argmin, reconstruction scoring, exact re-rank) is
    * element-wise or sequential-fold math the DuckDB twin reproduces
    * bit-for-bit. Lloyd-trained RQ stays recall-pinned in
    * ChecksDimsSkewSpec.
    */
  def q64AnnIvfRq(spark: SparkSession, dir: String): DataFrame = {
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graft.operators.IvfIndex.rqCosineTopKFrozen(spark,
      em.filter(col("vec_id") >= 5).withColumnRenamed("vec_id", "id").withColumnRenamed("v", "vec"),
      em.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid").withColumnRenamed("v", "qvec"),
      k = 10, centArr = graft.operators.IvfIndex.frozenCentroids(16, 64),
      codeArr = graft.operators.IvfIndex.frozenCodebook(16, 64), nprobe = 4, refine = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("qid", "rn")
  }

  val q64Sql: String = {
    val cents = graft.operators.IvfIndex.frozenCentroids(16, 64)
    val codes = graft.operators.IvfIndex.frozenCodebook(16, 64)
    s"""WITH cc AS (SELECT ${ivfMat(cents)} AS c),
       |ww AS (SELECT ${ivfMat(codes)} AS w),
       |av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |corp AS (SELECT vec_id AS id, vec,
       |    list_sort(${ivfScoreTerms("vec", "cc.c", cents, "cid")})[1].cid AS cluster_id
       |  FROM av, cc WHERE vec_id >= 5),
       |rv AS (SELECT id, cluster_id,
       |    list_transform(range(1, 65), i -> vec[i] - cc.c[cluster_id + 1][i]) AS rvec
       |  FROM corp, cc),
       |enc AS (SELECT id, cluster_id,
       |    list_sort(${ivfScoreTerms("rvec", "ww.w", codes, "code")})[1].code AS code
       |  FROM rv, ww),
       |qp AS (SELECT qid, qvec, s.cid AS cluster_id FROM (
       |  SELECT vec_id AS qid, vec AS qvec,
       |      unnest(list_sort(${ivfScoreTerms("vec", "cc.c", cents, "cid")})[1:4]) AS s
       |    FROM av, cc WHERE vec_id < 5)),
       |ap AS (SELECT qp.qid, qp.qvec, enc.id,
       |    list_transform(range(1, 65), i -> cc.c[enc.cluster_id + 1][i] + ww.w[enc.code + 1][i]) AS recon
       |  FROM enc JOIN qp USING (cluster_id) CROSS JOIN cc CROSS JOIN ww),
       |sc AS (SELECT qid, qvec, id,
       |    list_dot_product(recon, qvec)
       |      / (sqrt(list_dot_product(recon, recon)) * sqrt(list_dot_product(qvec, qvec))) AS approx_cos
       |  FROM ap),
       |surv AS (SELECT qid, qvec, id FROM (
       |    SELECT qid, qvec, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY approx_cos DESC, id ASC) AS arn
       |    FROM sc) WHERE arn <= 40),
       |res AS (SELECT surv.qid, surv.id,
       |    list_dot_product(av.vec, surv.qvec)
       |      / (sqrt(list_dot_product(av.vec, av.vec)) * sqrt(list_dot_product(surv.qvec, surv.qvec))) AS cos
       |  FROM surv JOIN av ON av.vec_id = surv.id),
       |rk AS (SELECT qid, id AS neighbor_id, round(cos, 6) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS INT) AS rn
       |  FROM res)
       |SELECT qid, neighbor_id, cosine, rn FROM rk WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** Johnson-Lindenstrauss projection of the embedding corpus
    * ([[graft.operators.VectorOps.jlProject]]): 64-d → 16-d with the
    * deterministic constant-literal matrix. Output in integer-exact
    * MICRO units (the q101 pattern): both engines compute the same
    * left-to-right dot-product fold over the same literals, and the
    * ×1e6 round makes the comparison float-tie-proof.
    */
  def q106JlProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    graft.operators.VectorOps.jlProject(emb, "vec", "proj", k = 16, dims = 64)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
      .select(col("vec_id"), col("j"),
        round(col("v") * 1e6, 0).cast("long").as("val_micro"))
      .orderBy("vec_id", "j")
  }

  val q106Sql: String = {
    val mat = (0 until 16).map(j =>
      graft.operators.VectorOps.jlPlane(j, 64).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val scale = math.sqrt(3.0 / 16)
    s"""WITH m AS (SELECT $mat AS p),
       |av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |pr AS (SELECT vec_id,
       |    [{'j': j - 1, 'v': list_dot_product(vec, m.p[j]) * $scale}
       |     FOR j IN generate_series(1, 16)] AS ps
       |  FROM av, m),
       |ex AS (SELECT vec_id, unnest(ps) AS s FROM pr)
       |SELECT vec_id, CAST(s.j AS INT) AS j,
       |  CAST(round(s.v * 1e6, 0) AS BIGINT) AS val_micro
       |FROM ex ORDER BY vec_id, j""".stripMargin
  }

  /** Int8-quantized ANN ([[graft.operators.VectorOps.quantizeInt8]] +
    * [[graft.operators.VectorOps.quantizedTopK]]): corpus-calibrated
    * scalar quantization, exact integer-dot candidate generation (top 30),
    * full-precision cosine re-rank (top 10). The integer candidate stage
    * is bit-portable by construction; only the re-rank touches doubles,
    * under the q17 rounding discipline.
    */
  def q110QuantAnn(spark: SparkSession, dir: String): DataFrame = {
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val qz = VectorOps.quantizeInt8(em, "vec", "q")
    val qs = qz.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"), col("q").as("qq"))
    VectorOps.quantizedTopK(qz.filter(col("vec_id") >= 5), qs, k = 10, candidates = 30,
        id = "vec_id", vec = "vec", codes = "q", qid = "qid", qvec = "qvec", qcodes = "qq")
      .orderBy("qid", "rn")
  }

  val q110Sql: String =
    """WITH av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
      |dim AS (SELECT unnest(vec) AS x, generate_subscripts(vec, 1) AS d FROM av),
      |stt AS (SELECT d, min(x) AS mn, max(x) AS mx FROM dim GROUP BY d),
      |st AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM stt),
      |qv AS (SELECT vec_id, vec,
      |    [CASE WHEN mxs[i] = mns[i] THEN 0
      |          ELSE CAST(round(((vec[i] - mns[i]) / (mxs[i] - mns[i])) * 254.0, 0) AS INT) - 127 END
      |     FOR i IN generate_series(1, 64)] AS q
      |  FROM av, st),
      |qs AS (SELECT vec_id AS qid, vec AS qvec, q AS qq FROM qv WHERE vec_id < 5),
      |cand AS (SELECT qs.qid, cp.vec_id, cp.vec, qs.qvec,
      |    CAST(round(list_dot_product(CAST(cp.q AS DOUBLE[]), CAST(qs.qq AS DOUBLE[])), 0) AS BIGINT) AS qdot
      |  FROM (SELECT * FROM qv WHERE vec_id >= 5) cp, qs),
      |top AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS rc
      |  FROM cand),
      |rr AS (SELECT qid, vec_id, qdot,
      |    round(list_dot_product(vec, qvec)
      |      / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qvec, qvec))), 6) AS cosine
      |  FROM top WHERE rc <= 30),
      |fin AS (SELECT qid, vec_id, qdot, cosine,
      |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn FROM rr)
      |SELECT qid, vec_id AS neighbor_id, qdot, cosine, CAST(rn AS INT) AS rn
      |FROM fin WHERE rn <= 10 ORDER BY qid, rn""".stripMargin

  /** HARD-NEGATIVE mining for contrastive training: for each query
    * embedding, the top-10 most-similar corpus vectors with a DIFFERENT
    * label — the standard negative-sampling prep for embedding-model
    * training (in-batch negatives are too easy; nearest other-label
    * vectors are the informative ones). Same broadcast-queries /
    * per-partition-top-k scan shape as q17, with the label inequality
    * pushed below the ranking window.
    */
  def q114HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val q = em.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("emb").as("q_emb"))
    em.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .withColumn("cosine", round(
        VectorOps.fastCosine(spark)(col("emb"), col("q_emb")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc)))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("negative_id"), col("label"), col("cosine"), col("rn"))
      .orderBy("q_id", "rn")
  }

  val q114Sql: String =
    """WITH em AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb FROM em WHERE vec_id < 5),
      |c AS (SELECT vec_id, label, emb FROM em WHERE vec_id >= 5),
      |s AS (SELECT q.q_id, c.vec_id, c.label,
      |        round(list_dot_product(c.emb, q.q_emb) /
      |          (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))), 6) AS cosine
      |      FROM c CROSS JOIN q
      |      WHERE c.label <> q.q_label),
      |r AS (SELECT q_id, vec_id, label, cosine,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
      |      FROM s)
      |SELECT q_id, vec_id AS negative_id, label, cosine, CAST(rn AS INT) AS rn
      |FROM r WHERE rn <= 10 ORDER BY q_id, rn""".stripMargin

  /** HYBRID retrieval — the fusion layer that turns the two certified
    * index legs into the retrieval surface a RAG / training-data
    * pipeline actually serves: BM25 lexical top-10 (the q109 leg,
    * [[graft.operators.TextAnalysis.bm25TopK]]) and int8-quantized ANN
    * vector top-10 (the q110 leg,
    * [[graft.operators.VectorOps.quantizedTopK]]) fused by reciprocal
    * rank: rrf(d) = Σ_leg 1000000 div (60 + rank_leg(d)), the standard
    * RRF-60 with INTEGER division so the fused score is engine-exact.
    * Query-by-document: docs 0-4 query with their own text (lexical)
    * and their own embedding (vector) against the id-aligned corpus
    * doc_id ≥ 5.
    *
    * Scale shape: both legs are broadcast-query-side plans over one
    * corpus scan each (Round7PlanSpec pins no cartesian); the fusion
    * itself joins two ≤ |queries|·k frames — constant-size at any
    * corpus scale.
    */
  def q115HybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents")
    val lexQueries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), split(lower(col("text")), " ").as("terms"))
    val lex = TextAnalysis.bm25TopK(docs.filter(col("doc_id") >= 5), "doc_id", "text",
        lexQueries, k = 10)
      .select(col("qid"), col("doc_id").as("id"), col("rn").as("r_lex"))
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val qz = VectorOps.quantizeInt8(em, "vec", "q")
    val qs = qz.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"), col("q").as("qq"))
    val vecl = VectorOps.quantizedTopK(qz.filter(col("vec_id") >= 5), qs,
        k = 10, candidates = 30,
        id = "vec_id", vec = "vec", codes = "q", qid = "qid", qvec = "qvec", qcodes = "qq")
      .select(col("qid"), col("neighbor_id").as("id"), col("rn").as("r_vec"))
    lex.join(vecl, Seq("qid", "id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_micro").desc, col("id").asc)))
      .filter(col("rn") <= 10)
      .select(col("qid"), col("id"), col("r_lex"), col("r_vec"), col("rrf_micro"),
        col("rn"))
      .orderBy("qid", "rn")
  }

  /** The vector CTEs are q110Sql's own text (the q113-over-q101 reuse
    * stance); the lexical CTEs are the q109 shape re-scoped to the
    * corpus/query split; fusion is a full outer join + integer RRF.
    */
  lazy val q115Sql: String = {
    val cut = q110Sql.lastIndexOf("\nSELECT qid, vec_id AS neighbor_id")
    require(cut >= 0, "q115Sql: q110Sql's final SELECT changed — update the split marker")
    val vecCtes = q110Sql.substring("WITH ".length, cut).trim.stripSuffix(",")
    """WITH ltoks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents WHERE doc_id >= 5),
      |ldls AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM ltoks),
      |lst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CAST(len(tk) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl FROM ltoks),
      |ltf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM ltoks) GROUP BY doc_id, term),
      |ldfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ltf GROUP BY term),
      |lidf AS (SELECT term,
      |    CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6, 0) AS BIGINT) AS idf_micro
      |  FROM ldfq, lst),
      |lqt AS (SELECT doc_id AS qid, string_split(lower(text), ' ') AS terms FROM documents WHERE doc_id < 5),
      |lqe AS (SELECT qid, unnest(terms) AS term FROM lqt),
      |lsc AS (SELECT lqe.qid, ltf.doc_id,
      |    CAST(round((CAST(idf_micro AS DOUBLE) / 1e6) *
      |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 1e6, 0) AS BIGINT) AS c
      |  FROM ltf JOIN lqe USING (term) JOIN lidf USING (term) JOIN ldls USING (doc_id), lst),
      |lag AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
      |  FROM lsc GROUP BY qid, doc_id),
      |lrk AS (SELECT qid, doc_id, score_micro,
      |    row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rn
      |  FROM lag),
      |lex AS (SELECT qid, doc_id AS id, CAST(rn AS INT) AS r_lex FROM lrk WHERE rn <= 10),
      |""".stripMargin +
      vecCtes + ",\n" +
      """vecl AS (SELECT qid, vec_id AS id, CAST(rn AS INT) AS r_vec FROM fin WHERE rn <= 10),
        |fused AS (SELECT COALESCE(l.qid, v.qid) AS qid, COALESCE(l.id, v.id) AS id,
        |    l.r_lex, v.r_vec,
        |    CAST(COALESCE(1000000 // (60 + l.r_lex), 0) + COALESCE(1000000 // (60 + v.r_vec), 0) AS BIGINT) AS rrf_micro
        |  FROM lex l FULL OUTER JOIN vecl v ON l.qid = v.qid AND l.id = v.id),
        |fr AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, id) AS rn FROM fused)
        |SELECT qid, id, r_lex, r_vec, rrf_micro, CAST(rn AS INT) AS rn
        |FROM fr WHERE rn <= 10 ORDER BY qid, rn""".stripMargin
  }

  /** ANN index QUALITY EVALUATION — recall@10 of the int8-quantized
    * index (q110) against exact brute-force ground truth (q17), per
    * query. The eval harness is as much a part of an ANN stack as the
    * index: a recall number is what justifies `candidates`/`nprobe`
    * knobs at 100 TB, where ground truth is only affordable on a query
    * SAMPLE like this one. Both legs are already hash-certified; the
    * oracle composes their twins, so the recall arithmetic (integer
    * overlap counts / k) is certified end-to-end too.
    */
  def q119AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = q17AnnCosineTopK(spark, dir)
      .select(col("q_id"), col("neighbor_id"))
    val quant = q110QuantAnn(spark, dir)
      .select(col("qid"), col("neighbor_id").as("q_neighbor"))
    val overlap = exact.join(quant,
        exact("q_id") === quant("qid") && exact("neighbor_id") === quant("q_neighbor"))
      .groupBy(col("q_id")).agg(count(lit(1)).cast("long").as("n_overlap"))
    exact.select("q_id").distinct()
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / lit(10.0), 6).as("recall_at_10"))
      .orderBy("q_id")
  }

  def q119Sql(q17Sql: String, q110Sql: String): String =
    s"""WITH ex AS ($q17Sql),
       |qn AS ($q110Sql),
       |ov AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM ex JOIN qn ON ex.q_id = qn.qid AND ex.neighbor_id = qn.neighbor_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  round(COALESCE(ov.n_overlap, 0) / 10.0, 6) AS recall_at_10
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN ov USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** CONTRASTIVE TRAINING TRIPLETS — the dataset-construction step on
    * top of q114's mining: per anchor, the nearest SAME-label corpus
    * vector is the positive (in-class nearest neighbor — the standard
    * choice when no labeled pairs exist) and the top-3 nearest
    * OTHER-label vectors are the hard negatives; one output row per
    * (anchor, negative_rank). ONE broadcast-anchor corpus scan computes
    * both rankings (two windows over the same pass, rank filters →
    * WindowGroupLimit); cosines 6dp-rounded with unique id tiebreaks,
    * so the triplet set is engine-exact.
    */
  def q124ContrastiveTriplets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val em = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
    val q = em.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"), col("emb").as("a_emb"))
    val scored = em.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .withColumn("cosine", round(
        VectorOps.fastCosine(spark)(col("emb"), col("a_emb")), 6))
    val byAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("rn", row_number().over(byAnchor)).filter(col("rn") === 1)
      .select(col("anchor_id"), col("vec_id").as("positive_id"),
        col("cosine").as("pos_cosine"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("rn", row_number().over(byAnchor)).filter(col("rn") <= 3)
      .select(col("anchor_id"), col("vec_id").as("negative_id"),
        col("cosine").as("neg_cosine"), col("rn").cast("int").as("neg_rank"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("positive_id"), col("pos_cosine"),
        col("negative_id"), col("neg_cosine"), col("neg_rank"))
      .orderBy("anchor_id", "neg_rank")
  }

  val q124Sql: String =
    """WITH em AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |a AS (SELECT vec_id AS anchor_id, label AS a_label, emb AS a_emb FROM em WHERE vec_id < 8),
      |s AS (SELECT a.anchor_id, a.a_label, c.vec_id, c.label,
      |        round(list_dot_product(c.emb, a.a_emb) /
      |          (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(a.a_emb, a.a_emb))), 6) AS cosine
      |      FROM (SELECT * FROM em WHERE vec_id >= 8) c CROSS JOIN a),
      |pos AS (SELECT anchor_id, vec_id AS positive_id, cosine AS pos_cosine,
      |          ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, vec_id ASC) AS rn
      |        FROM s WHERE label = a_label),
      |neg AS (SELECT anchor_id, vec_id AS negative_id, cosine AS neg_cosine,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS neg_rank
      |        FROM s WHERE label <> a_label)
      |SELECT p.anchor_id, p.positive_id, p.pos_cosine,
      |       n.negative_id, n.neg_cosine, n.neg_rank
      |FROM (SELECT * FROM pos WHERE rn = 1) p
      |JOIN (SELECT * FROM neg WHERE neg_rank <= 3) n USING (anchor_id)
      |ORDER BY anchor_id, neg_rank""".stripMargin
}
