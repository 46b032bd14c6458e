package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis, VectorOps}

/** Dedup layer: exact, MinHash, SimHash, n-gram, winnowing, embedding,
  * span, semantic and entity-resolution dedup, and the cluster,
  * keeper and contamination passes built on them. Oracle-checked where
  * the semantics are portable SQL; the LSH/sketch operators are checked
  * by ScalaTest golden/property tests instead (approximate structure
  * isn't expressible in DuckDB SQL without re-implementing the sketch).
  */
object DedupQueries {
  import Tables.t
  import VectorQueries.{ivfMat, ivfScoreTerms}

  lazy val entries: Seq[Query] = Seq(
    Query("q15_exact_dedup", q15ExactDedup, Some(q15Sql)),
    Query("q18_minhash_dedup", q18MinHashDedup, Some(q18Sql)),
    Query("q19_simhash_dedup", q19SimHashDedup, Some(q19Sql)),
    Query("q20_ngram_jaccard", q20NgramJaccard, Some(q20Sql)),
    Query("q21_embedding_neardup", q21EmbeddingNearDup, Some(q21Sql)),
    Query("q23_fingerprint", q23Fingerprint, Some(q23Sql)),
    Query("q35_neardup_exact", q35NearDupExact, Some(q35Sql)),
    Query("q50_contamination", q50Contamination, Some(q50Sql)),
    Query("q58_dedup_clusters", q58DedupClusters, Some(q58Sql)),
    Query("q100_semdedup", q100SemDedup, Some(q100Sql)),
    Query("q102_dedup_keepers", q102DedupKeepers, Some(q102Sql)),
    Query("q105_span_dedup", q105SpanDedup, Some(q105Sql)),
    Query("q111_entity_res", q111EntityResolution, Some(q111Sql))
  )

  /** Exact deduplication by key (hash-groupBy dedup): collapse each
    * customer's orders to the earliest, reporting duplicate cardinality —
    * the canonical exact-dedup shape (groupBy key → keeper + count).
    */
  def q15ExactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("keeper_orderkey"),
        decSum(col("o_totalprice")).as("total_value"))
      .filter(col("n_orders") > 1)
      .orderBy("o_custkey")

  val q15Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders, MIN(o_orderkey) AS keeper_orderkey,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1 ORDER BY o_custkey""".stripMargin

  /** MinHash-LSH near-duplicate candidate pairs over documents. */
  /** MinHash+LSH candidate pairs, portable-hash variant: 31-bit md5
    * base hash + the shared linear permutations (Dedup.permA/permB) so
    * the WHOLE pipeline — shingles → minhash signature → banded buckets
    * → candidate pairs → signature-agreement estimate — hash-compares
    * against a DuckDB twin generated from the same constants. The
    * xxhash64 production path keeps OperatorsSpec/PropertySpec coverage.
    */
  def q18MinHashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(t(spark, dir, "documents"), "doc_id", "text",
      numHashes = 32, bands = 8, minJaccard = 0.3, portable = true)
      .orderBy("id_a", "id_b")

  val q18Sql: String = {
    val a = Dedup.permA.take(32).mkString("[", ",", "]")
    val b = Dedup.permB.take(32).mkString("[", ",", "]")
    // 31-bit base from the first 8 md5 hex chars, positionally
    val baseTerms = (1 to 8)
      .map(p => s"(strpos('0123456789abcdef', substring(x,$p,1))-1)*${1L << (4 * (8 - p))}")
      .mkString(" + ")
    s"""WITH ab AS (SELECT $a AS pa, $b AS pb),
       |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(w) >= 3
       |      THEN [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w)-2)]
       |      ELSE [array_to_string(w, ' ')] END) AS shs
       |  FROM toks),
       |base AS (SELECT doc_id, [(($baseTerms) & 2147483647) FOR x IN [md5(s) FOR s IN shs]] AS vals FROM sh),
       |sig AS (SELECT doc_id,
       |    [list_min([(pa[i]*v + pb[i]) % 2147483647 FOR v IN vals]) FOR i IN generate_series(1,32)] AS sig
       |  FROM base, ab),
       |bands AS (SELECT doc_id, sig, b, array_to_string(sig[b*4+1:b*4+4], ',') AS bucket
       |  FROM sig, generate_series(0,7) AS t(b)),
       |pairs AS (SELECT DISTINCT a2.doc_id AS id_a, b2.doc_id AS id_b, a2.sig AS sa, b2.sig AS sb
       |  FROM bands a2 JOIN bands b2 ON a2.b = b2.b AND a2.bucket = b2.bucket AND a2.doc_id < b2.doc_id)
       |SELECT id_a, id_b,
       |  len([i FOR i IN generate_series(1,32) IF sa[i] = sb[i]])/32.0 AS est_jaccard
       |FROM pairs
       |WHERE len([i FOR i IN generate_series(1,32) IF sa[i] = sb[i]])/32.0 >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** SimHash near-duplicate candidate pairs (Hamming ≤ 3 of 64 bits). */
  /** SimHash near-dup pairs, portable-hash variant (md5-derived 64-bit
    * token hash) so the full pipeline — token hash → 64 bit-votes →
    * fingerprint → 16-bit pigeonhole chunks → bucket pairs → hamming
    * verify — is hash-compared against a DuckDB twin. The xxhash64
    * production path keeps its OperatorsSpec coverage. The twin joins
    * chunks directly (uncapped): valid while no chunk bucket exceeds
    * maxBucket (measured max 291 at sf0.1 vs cap 1000; the observed
    * truncated_buckets metric guards the regime).
    */
  def q19SimHashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashDedup(t(spark, dir, "documents"), "doc_id", "text", maxHamming = 3,
      portable = true)
      .orderBy("id_a", "id_b")

  val q19Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |h AS (SELECT doc_id, md5(tok) AS hx FROM toks),
      |votes AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef', substring(hx, 15 - j//4, 1)) - 1) >> (j % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h, generate_series(0, 59) AS t(j)
      |  GROUP BY doc_id, j),
      |fp AS (SELECT doc_id,
      |    bit_or(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS sh
      |  FROM votes GROUP BY doc_id),
      |chunks AS (SELECT doc_id, sh, ci, (sh >> (ci*16)) & 65535 AS cv
      |  FROM fp, (VALUES (0),(1),(2),(3)) c(ci)),
      |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      |  FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
      |SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** Exact n-gram Jaccard pairs (inverted-index verification stage). */
  def q20NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(spark, dir, "documents"), "doc_id", "text",
      k = 3, minJaccard = 0.2, maxDocFreq = 200)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  /** DuckDB twin of q20: shingling via list comprehension, inverted-index
    * co-count, exact Jaccard — filter on the unrounded value (like the
    * operator), round for output parity.
    */
  val q20Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
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
      |j AS (SELECT co.id_a, co.id_b,
      |        CAST(co.inter AS DOUBLE) / (sa.n + sb.n - co.inter) AS jac
      |      FROM co JOIN sizes sa ON sa.doc_id = co.id_a JOIN sizes sb ON sb.doc_id = co.id_b)
      |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-duplicate pairs via hyperplane LSH.
    * The driver's embeddings are near-random (max pairwise cosine ≈0.51,
    * so a true near-dup set is empty); we plant 20 deterministic
    * near-duplicates (vec_id+100000, each component nudged by +0.01) so
    * the operator's recall is observable: it must recover exactly those
    * planted pairs at θ=0.95.
    */
  /** LSH-blocked embedding near-dup pairs — oracle-checked: the DuckDB
    * twin embeds the SAME hyperplane literals (VectorOps.plane values,
    * printed by Scala and re-parsed by DuckDB's correctly-rounded
    * strtod), replicates the 48-bit signature / 6-band bucketing with
    * plain bit arithmetic, and verifies with the identical
    * dot/(‖a‖·‖b‖) expression shape q35 already proved engine-exact.
    * The twin joins buckets uncapped — valid while no bucket nears
    * maxBucket (measured 28 at sf0.1 vs cap 1000; the observed
    * truncation metric guards the regime).
    */
  def q21EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("vec"), x => x + lit(0.01)).as("vec"))
    VectorOps.embeddingNearDup(base.unionByName(planted), "vec_id", "vec", threshold = 0.95)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")
  }

  val q21Sql: String = {
    val pl = (0 until 48).map(p => VectorOps.plane(p, 64).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val sigTerms = (0 until 48).map(p =>
      s"(CASE WHEN list_dot_product(vec, pl[${p + 1}]) > 0 THEN ${1L << p}::BIGINT ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH planes AS (SELECT $pl AS pl),
       |av AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
       |  FROM embeddings WHERE vec_id < 20),
       |sig AS (SELECT vec_id, vec, $sigTerms AS sig FROM av, planes),
       |bb AS (SELECT vec_id, sig, b, (sig >> (b*8)) & 255 AS bucket FROM sig, generate_series(0,5) t(b)),
       |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
       |  FROM bb a JOIN bb b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
       |res AS (SELECT id_a, id_b,
       |    list_dot_product(na.vec, nb.vec) / (sqrt(list_dot_product(na.vec, na.vec)) * sqrt(list_dot_product(nb.vec, nb.vec))) AS cos
       |  FROM pairs JOIN av na ON na.vec_id = id_a JOIN av nb ON nb.vec_id = id_b)
       |SELECT id_a, id_b, round(cos, 6) AS cosine FROM res WHERE cos >= 0.95
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Exact near-duplicate verification (brute-force all-pairs cosine) —
    * the exact baseline behind the LSH-blocked q21, oracle-checked
    * against DuckDB's list_dot_product. Same planted duplicates as q21,
    * so this also pins q21's expected recall set. Norms are computed once
    * per vector before the pair join, so each of the O(n²) pairs costs a
    * single codegen'd [[graft.expressions.VecDot]]. At 100 TB scale the
    * pair source would be LSH candidates (q21); the math per pair is
    * identical.
    */
  def q35NearDupExact(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("vec"), x => x + lit(0.01)).as("vec"))
    val withNorm = base.unionByName(planted)
      .withColumn("nrm", sqrt(call_function("vec_dot", col("vec"), col("vec"))))
    val a = withNorm.select(col("vec_id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("n_a"))
    val b = withNorm.select(col("vec_id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        call_function("vec_dot", col("vec_a"), col("vec_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= 0.95)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  val q35Sql: String =
    """WITH av AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
      |  FROM embeddings WHERE vec_id < 20),
      |n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM av),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cos, 6) AS cosine
      |FROM p WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin

  /** Benchmark-contamination sweep: max n-gram containment of each "test"
    * doc (deterministic doc_id%10 holdout — SQL-expressible, unlike the
    * production hash split of [[graft.operators.Sampling]]) against any
    * "train" doc. Oracle-checked via the q20-style DuckDB shingle
    * machinery.
    */
  def q50Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.contamination(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", k = 3, minContainment = 0.2, maxDocFreq = 1000)
      .select(col("test_id"), col("train_id"), round(col("containment"), 6).as("containment"))
      .orderBy("test_id")
  }

  val q50Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)] END) AS shingles
      |  FROM toks),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |tr AS (SELECT doc_id AS train_id, shingle FROM ex WHERE doc_id % 10 < 8),
      |te AS (SELECT doc_id AS test_id, shingle FROM ex WHERE doc_id % 10 >= 8),
      |tsz AS (SELECT test_id, count(*) AS n_test FROM te GROUP BY 1),
      |trf AS (SELECT train_id, shingle FROM (
      |  SELECT train_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM tr)
      |  WHERE df <= 1000),
      |co AS (SELECT te.test_id, trf.train_id, count(*) AS inter
      |       FROM te JOIN trf USING (shingle) GROUP BY 1, 2),
      |cm AS (SELECT co.test_id, co.train_id,
      |         CAST(co.inter AS DOUBLE) / tsz.n_test AS containment
      |       FROM co JOIN tsz USING (test_id)
      |       WHERE CAST(co.inter AS DOUBLE) / tsz.n_test >= 0.2),
      |b AS (SELECT test_id, train_id, containment,
      |        row_number() OVER (PARTITION BY test_id
      |          ORDER BY containment DESC, train_id ASC) AS rn
      |      FROM cm)
      |SELECT test_id, train_id, round(containment, 6) AS containment
      |FROM b WHERE rn = 1 ORDER BY test_id""".stripMargin

  /** Winnowing fingerprints per document, portable-hash variant so the
    * full pipeline (k-gram hash → sliding min → distinct → set digest)
    * is hash-compared against a DuckDB list-comprehension twin. The
    * xxhash64 production path is pinned separately by OperatorsSpec/
    * PropertySpec.
    */
  def q23Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintDocs(t(spark, dir, "documents"), "doc_id", portable = true)
      .select(col("doc_id"), col("n_fingerprints"), col("content_id"))
      .orderBy("doc_id")

  val q23Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    [('0x' || substring(md5(substring(text, i, 8)), 1, 15))::BIGINT FOR i IN generate_series(1, greatest(length(text)-7, 1))] AS grams
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    list_distinct([list_min(grams[j:least(j+3, len(grams))]) FOR j IN generate_series(1, greatest(len(grams)-3, 1))]) AS fps
      |  FROM g)
      |SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
      |  md5(array_to_string(list_transform(list_sort(fps), x -> CAST(x AS VARCHAR)), ',')) AS content_id
      |FROM f ORDER BY doc_id""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023), composed from
    * the engine's own pieces end-to-end: (1) cluster the embedding
    * corpus with the FROZEN-centroid IVF assignment (offline-trained
    * centroids are query-time constants — same literals as q28/q64);
    * (2) exact cosine near-dup pairs WITHIN each cluster only via
    * [[graft.operators.SemDedup.edges]] (the SemDeDup reduction: the
    * pair join shuffles on cluster_id, never corpus×corpus — and its
    * max-cell-size guard splits/stars oversized cells so frozen-k
    * doesn't go quadratic under corpus growth; no cell is oversized at
    * test SFs, so the oracle sees the identical plain pair join); (3) resolve duplicate groups with
    * [[graft.operators.ConnectedComponents]] and keep the min-id
    * representative. Same planted near-duplicates as q21/q35, so the
    * expected duplicate set is known. Pairs split across clusters are
    * out of scope BY DESIGN (that is SemDeDup's approximation) — the
    * DuckDB twin makes the identical choice, so the oracle certifies
    * the whole composed pipeline including the closure.
    */
  def q100SemDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("vec"), x => x + lit(0.01)).as("vec"))
    val all = base.unionByName(planted)
    val cents = graft.operators.IvfIndex.frozenCentroids(16, 64)
    val assigned = graft.operators.IvfIndex.assignWith(
      all, cents.map { case (c, a) => (c.toLong, a) }, "vec")
    // Guarded pair generation ([[graft.operators.SemDedup.edges]]): with
    // no cell over maxCellSize (the case at every test SF) this IS the
    // plain within-cluster pair join the oracle mirrors; at scale the
    // guard splits/stars oversized cells instead of going quadratic.
    val edges = graft.operators.SemDedup.edges(assigned, "vec_id", "vec", threshold = 0.95)
    graft.operators.ConnectedComponents.clusters(edges, "src", "dst")
      .select(col("id").as("vec_id"), col("component"),
        col("cluster_size").cast("long").as("group_size"),
        (col("id") === col("component")).as("is_representative"))
      .orderBy("vec_id")
  }

  val q100Sql: String = {
    val cents = graft.operators.IvfIndex.frozenCentroids(16, 64)
    s"""WITH RECURSIVE
       |cc AS (SELECT ${ivfMat(cents)} AS c),
       |av AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
       |  FROM embeddings WHERE vec_id < 20),
       |asg AS (SELECT vec_id, vec,
       |    list_sort(${ivfScoreTerms("vec", "cc.c", cents, "cid")})[1].cid AS cluster_id,
       |    sqrt(list_dot_product(vec, vec)) AS nrm
       |  FROM av, cc),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= 0.95),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT DISTINCT a AS id, a AS r FROM und
       |          UNION
       |          SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.id),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       |SELECT id AS vec_id, component,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS group_size,
       |  id = component AS is_representative
       |FROM comp ORDER BY vec_id""".stripMargin
  }

  /** Dedup cluster resolution: n-gram Jaccard near-dup PAIRS (q20's exact
    * parameters) closed into duplicate GROUPS via distributed connected
    * components ([[graft.operators.ConnectedComponents]] min-label
    * propagation). Output: every clustered doc with its cluster
    * representative (min doc_id — the canonical keeper) and cluster size.
    * The DuckDB oracle computes the same transitive closure with a
    * recursive CTE — closure semantics, not just pair semantics, are
    * hash-checked.
    */
  /** Duplicate-cluster RESOLUTION POLICY — the step after detection:
    * real pipelines don't keep the min-id member, they keep the BEST
    * one. Composes the certified q58 machinery (n-gram Jaccard pairs →
    * connected components) with a keep-longest policy: per duplicate
    * cluster, the keeper is the member with the highest word count
    * (ties → smaller doc_id); everything else is the drop list. One
    * row per multi-member cluster with the keeper and the drop count —
    * the exact shape a training-data curation job writes back.
    */
  def q102DedupKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
      k = 3, minJaccard = 0.2, maxDocFreq = 200)
    val wc = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("word_count"))
    graft.operators.ConnectedComponents.clusters(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
      .join(wc, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
          .orderBy(col("word_count").desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("keeper_id"),
        col("word_count").as("keeper_word_count"),
        col("cluster_size").cast("long").as("n_members"),
        (col("cluster_size") - 1).cast("long").as("n_dropped"))
      .orderBy("component")
  }

  // lazy: declared before q58Sql in this object, so eager init would
  // read a null q58Sql (object vals initialize in declaration order)
  lazy val q102Sql: String = {
    // the q58 closure verbatim (everything before its final SELECT),
    // then the keeper policy on top
    val cut = q58Sql.lastIndexOf("\nSELECT id AS doc_id")
    require(cut >= 0, "q102Sql: q58Sql's final SELECT changed — update the split marker")
    val closure = q58Sql.substring(0, cut)
    s"""$closure,
       |cs AS (SELECT id AS doc_id, component,
       |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size FROM comp),
       |wc AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS word_count FROM documents),
       |rk AS (SELECT cs.component, cs.doc_id, wc.word_count, cs.cluster_size,
       |    row_number() OVER (PARTITION BY cs.component
       |      ORDER BY wc.word_count DESC, cs.doc_id ASC) AS rk
       |  FROM cs JOIN wc USING (doc_id))
       |SELECT component, doc_id AS keeper_id, word_count AS keeper_word_count,
       |  cluster_size AS n_members, cluster_size - 1 AS n_dropped
       |FROM rk WHERE rk = 1 ORDER BY component""".stripMargin
  }

  def q58DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(t(spark, dir, "documents"), "doc_id", "text",
      k = 3, minJaccard = 0.2, maxDocFreq = 200)
    graft.operators.ConnectedComponents.clusters(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("component"), col("cluster_size"))
      .orderBy("doc_id")
  }

  val q58Sql: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
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
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
      |SELECT id AS doc_id, component,
      |  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
      |FROM comp ORDER BY doc_id""".stripMargin

  /** Span-level corpus dedup ([[graft.operators.Dedup.spanDedup]] — the
    * C4/RefinedWeb line-dedup stage, at 10-token span granularity since
    * the synthetic docs carry no newlines). Planted duplicates: docs
    * 100000-100004 are verbatim 30-token prefixes of docs 0-4, so their
    * spans chunk identically to the originals' spans 0-2 and ALL of them
    * lose first-occurrence — the planted docs must come back with
    * clean_text = '' and n_kept = 0 while every original keeps its
    * text intact (modulo natural span collisions, which the oracle
    * prices in identically).
    */
  def q105SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 30), " ").as("text"))
    Dedup.spanDedup(docs.unionByName(planted), "doc_id", "text", spanTokens = 10)
      .orderBy("doc_id")
  }

  val q105Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    array_to_string((string_split(text, ' '))[1:30], ' ')
      |  FROM documents WHERE doc_id < 5),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM base),
      |idx AS (SELECT doc_id, tk,
      |    unnest(range(CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS cidx
      |  FROM toks),
      |spans AS (SELECT doc_id, CAST(cidx AS INT) AS cidx,
      |    array_to_string(tk[CAST(cidx * 10 + 1 AS BIGINT):CAST(cidx * 10 + 10 AS BIGINT)], ' ') AS span
      |  FROM idx),
      |firsts AS (SELECT doc_id, cidx, span,
      |    row_number() OVER (PARTITION BY span ORDER BY doc_id, cidx) AS rn
      |  FROM spans),
      |re AS (SELECT doc_id, string_agg(span, ' ' ORDER BY cidx) AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_kept
      |  FROM firsts WHERE rn = 1 GROUP BY doc_id),
      |ns AS (SELECT doc_id,
      |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS n_spans
      |  FROM base)
      |SELECT ns.doc_id, COALESCE(re.clean_text, '') AS clean_text,
      |  ns.n_spans, COALESCE(re.n_kept, 0) AS n_kept
      |FROM ns LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Entity resolution / golden record
    * ([[graft.operators.EntityResolution.resolve]]): part-name spelling
    * clusters (token-blocked lev≤3 pairs → CC closure) with each
    * cluster's canonical form elected by row multiplicity. The oracle
    * replays the same blocked pairs (the q91 twin), the closure as a
    * recursive CTE (the q58 pattern), and the same election window.
    */
  def q111EntityResolution(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EntityResolution.resolve(
        t(spark, dir, "part").select(col("p_name")), "p_name", maxDist = 3)
      .orderBy("value")

  val q111Sql: String =
    """WITH RECURSIVE
      |vocab AS (SELECT p_name AS value, CAST(COUNT(*) AS BIGINT) AS n_rows FROM part GROUP BY p_name),
      |toks AS (SELECT DISTINCT value AS s, unnest(string_split(value, ' ')) AS tok FROM vocab),
      |ok AS (SELECT tok FROM toks WHERE tok <> ''
      |  GROUP BY tok HAVING COUNT(*) BETWEEN 2 AND 1000),
      |pairs AS (SELECT DISTINCT a.s AS pa, b.s AS pb
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.s < b.s
      |  JOIN ok ON ok.tok = a.tok
      |  WHERE levenshtein(a.s, b.s) <= 3),
      |und AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
      |reach AS (SELECT DISTINCT a AS id, a AS r FROM und
      |          UNION
      |          SELECT und.a, reach.r FROM und JOIN reach ON und.b = reach.id),
      |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      |cl AS (SELECT vocab.value, vocab.n_rows,
      |    COALESCE(comp.comp, vocab.value) AS cluster
      |  FROM vocab LEFT JOIN comp ON comp.id = vocab.value)
      |SELECT value, n_rows, cluster,
      |  first_value(value) OVER (PARTITION BY cluster ORDER BY n_rows DESC, value ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical,
      |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_sz,
      |  CAST(sum(n_rows) OVER (PARTITION BY cluster) AS BIGINT) AS rows_covered
      |FROM cl ORDER BY value""".stripMargin
}
