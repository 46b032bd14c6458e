package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Forks, IndexTombstones, IvfIndex, TableVersions, TermIndex}
import graft.streaming.IndexPipeline

/** Round-13 oracle query: the INCREMENTAL INDEX TRI-STORE under the
  * hash gate (q141) — the last spec-only LLM-pipeline component gets an
  * oracle twin (the q132/q134 "feed-driven must converge to one-shot"
  * pattern applied to [[IndexPipeline.followCorpus]]).
  */
object Round13Queries {

  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** CDF-FED INDEX MAINTENANCE CONVERGENCE (q141). A versioned corpus
    * table advances through three commits — even ids, odd ids, then a
    * takedown of `doc_id % 10 = 6` — and [[IndexPipeline.followCorpus]]
    * drives the LSH + semantic + BM25 stores through its change feed
    * (commit version = batch id). The query then REQUIRES each live
    * store to equal a ONE-SHOT rebuild at the same corpus version
    * (distributed exceptAll both ways; tombstoned rows excluded the
    * way serving excludes them), and returns BM25 top-10 rankings for
    * a fixed 3-query workload SERVED FROM the incremental index. The
    * DuckDB oracle recomputes those rankings from the raw parquet
    * (documents ⋈ embeddings, minus the takedown) — rows+schema+hash
    * certify that feed-driven maintenance converges to the one-shot
    * corpus state AND serves it bit-identically.
    *
    * Scale shape: every maintenance step is O(delta) (the stores'
    * contracts); the convergence check is distributed set-difference;
    * nothing but the top-k rows reaches the driver.
    */
  def q141IndexFollow(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val base = java.nio.file.Files.createTempDirectory("graft_ip141").toString
    val roots = IndexPipeline.Roots(s"$base/idx")
    val cents = IvfIndex.frozenCentroids(8, 64).map { case (c, a) => (c.toLong, a) }
    // even ids only: the convergence claim needs a REPRESENTATIVE
    // corpus, not the whole table — the full-corpus build runs in every
    // bench pass and its heap churn taxed every other query (~4× driver
    // GC); the index operators' full-scale costs are q15-q21/q74-q75's
    // oracles
    val corpus = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 0)
      .join(t(spark, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("embedding")), "doc_id")

    val phases0 = sys.env.contains("SPARK_GRAFT_PHASES")
    def phaseT[A](tag: String)(body: => A): A =
      if (!phases0) body
      else {
        val t0 = System.nanoTime()
        try body
        finally println(f"QTIME_PHASE q141/$tag ${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    // the corpus table is maintained by SOMEONE ELSE (appends + a
    // takedown); the indexes follow its change feed
    // one append + one takedown: inserts AND deletes flow through the
    // feed (the multi-append cross-batch pair shape is IndexPipelineSpec's
    // pin — q141's convergence compares the three SERVING stores, which
    // the pair logs are not part of, so a second append would only add
    // ~15 jobs of bench cost without widening what the hash certifies)
    phaseT("appends") {
      TableVersions.append(spark, roots.corpus, corpus)
    }
    phaseT("follow1") {
      require(IndexPipeline.followCorpus(roots, spark, cents) == Seq(0L),
        "follow must consume the first corpus version")
    }
    phaseT("takedown") {
      TableVersions.deleteWhere(spark, roots.corpus, col("doc_id") % 10 === 6)
    }
    phaseT("follow2") {
      require(IndexPipeline.followCorpus(roots, spark, cents).size == 1,
        "catch-up must consume the takedown")
    }

    // CONVERGENCE: one-shot rebuild of the same final corpus version
    def phase[A](tag: String)(body: => A): A = phaseT(tag)(body)
    val oneRoots = IndexPipeline.Roots(s"$base/one")
    phase("oneshot") {
      // store-level rebuild: the convergence compares the SERVING
      // stores (signatures / assignments / postings); the pair logs
      // are per-batch artifacts a one-shot build has no twin for
      val fin = TableVersions.read(spark, roots.corpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // three independent stores off one persisted corpus — overlap
        // the builds (Forks scaladoc); outputs are path-disjoint
        Forks(spark) { forks =>
          forks.fork("lsh-rebuild")(graft.operators.LshIndex.updateSignatureTable(
            oneRoots.lshSignatures, fin.select(col("doc_id"), col("text")),
            "doc_id", "text", portable = true))
          forks.fork("sem-rebuild")(graft.operators.SemIndex.updateAssignmentTable(
            oneRoots.semAssignments, fin.select(col("doc_id"), col("embedding")),
            "doc_id", "embedding", cents))
          forks.fork("term-rebuild")(TermIndex.updateBatch(oneRoots.term,
            fin.select(col("doc_id"), col("text")), 0L, "doc_id", "text"))
        }
      } finally { fin.unpersist(); () }
    }
    // store equality as ORDER-INSENSITIVE multiset row hashes (sum of
    // per-row xxhash64 + count): two scans per store, no shuffle join —
    // exceptAll both ways would shuffle millions of posting rows six
    // times for the same answer
    def multisetSig(df: DataFrame): (java.math.BigDecimal, Long) = {
      val cols = df.columns.sorted.map(col).toIndexedSeq
      val r = df.agg(
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h"),
        count(lit(1)).as("n")).head()
      (Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO), r.getLong(1))
    }
    phase("converge") {
      // the six signature scans are independent read-only aggregates
      // over disjoint stores — run them concurrently (Forks scaladoc) and
      // compare after the join point
      val legs: Seq[(String, DataFrame, DataFrame)] = Seq(
        ("LSH signatures",
          IndexTombstones.filterLive(spark.read.parquet(roots.lshSignatures),
            roots.lshSignatures, "doc_id").drop("batch_id"),
          spark.read.parquet(oneRoots.lshSignatures).drop("batch_id")),
        ("semantic assignments",
          IndexTombstones.filterLive(spark.read.parquet(roots.semAssignments),
            roots.semAssignments, "doc_id").drop("batch_id"),
          spark.read.parquet(oneRoots.semAssignments).drop("batch_id")),
        ("BM25 postings",
          spark.read.parquet(s"${roots.term}/postings").drop("batch_id")
            .join(spark.read.parquet(s"${roots.term}/deletes").select(col("doc_id")),
              Seq("doc_id"), "left_anti"),
          spark.read.parquet(s"${oneRoots.term}/postings").drop("batch_id")))
      val sigs = Forks(spark) { forks =>
        legs.map { case (_, a, b) =>
          (forks.fork("sig-incremental")(multisetSig(a)), forks.fork("sig-oneshot")(multisetSig(b)))
        }.map { case (a, b) => (a.join(), b.join()) }
      }
      legs.zip(sigs).foreach { case ((what, _, _), (a, b)) =>
        require(a == b, s"q141: incremental $what diverged from the one-shot rebuild")
      }
    }

    // the certified result: ranked retrieval SERVED FROM the
    // incrementally-maintained index
    import spark.implicits._
    val queries = Seq(
      (0L, Seq("spark", "window", "join")),
      (1L, Seq("fast", "scan", "table")),
      (2L, Seq("vector", "stream", "hash"))).toDF("qid", "terms")
    val res = TermIndex.bm25(spark, roots.term, queries, k = 10)
      .select("qid", "doc_id", "rn", "n_terms", "score_micro")
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(base)
    out.orderBy("qid", "rn")
  }

  /** The one-shot twin in SQL: BM25 (micro-unit exact, the q109 shape)
    * over the FINAL corpus — documents that have an embedding, minus
    * the takedown.
    */
  val q141Sql: String =
    """WITH toks AS (SELECT d.doc_id, string_split(lower(d.text), ' ') AS tk
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  WHERE d.doc_id % 2 = 0 AND d.doc_id % 10 <> 6),
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
}
