package graft

import org.apache.spark.sql.functions._

import graft.analytics.DataChecks
import graft.marts.Dimensions
import graft.model.Config
import graft.operators.{IvfIndex, Skew, VectorOps}
import graft.queries.PipelineQueries

/** Data checks, dimension models, skew primitives, IVF ANN. */
class ChecksDimsSkewSpec extends SparkSpec {
  import spark.implicits._

  test("data checks: not_null / accepted_values / unique grade with warn/error thresholds") {
    val df = Seq(("a", "Paid"), (null, "Paid"), ("c", "Bogus"), ("a", "Denied"))
      .toDF("claim_id", "claim_status")
    val nn = DataChecks.notNull(df, "t", Seq("claim_id"), warnIf = 0, errorIf = 100)
    assert(nn.head.failures == 1 && nn.head.severity == DataChecks.Warn)
    val av = DataChecks.acceptedValues(df, "t", "claim_status",
      Seq("Paid", "Denied"), warnIf = 0, errorIf = 0)
    assert(av.failures == 1 && av.severity == DataChecks.Error)
    val uq = DataChecks.unique(df, "t", Seq("claim_id"), warnIf = 0, errorIf = 100)
    assert(uq.failures == 1) // "a" appears twice -> 1 extra row
  }

  test("profile: exact stats correct; approx distinct within HLL++ error of exact") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 20000).map { i =>
      (i.toLong, s"k${rnd.nextInt(3000)}", if (i % 7 == 0) null else s"v${i % 50}")
    }.toDF("id", "key", "sparse")
    val exact = DataChecks.profile(df, Seq("id", "key", "sparse"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(exact("id").getLong(1) == 20000 && exact("id").getLong(2) == 0)
    assert(exact("id").getLong(3) == 20000) // all ids distinct
    assert(exact("sparse").getLong(2) == 20000 / 7) // nulls counted
    assert(exact("sparse").getLong(3) == 50) // v0..v49 all survive the null holes
    val approx = DataChecks.profile(df, Seq("id", "key", "sparse"), approx = true)
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "key", "sparse")) {
      val e = exact(c); val a = approx(c)
      // counts, nulls, min/max are exact in both modes
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2))
      assert(a.getString(4) == e.getString(4) && a.getString(5) == e.getString(5))
      // approx_count_distinct default rsd = 5%; allow 3 sigma
      val rel = math.abs(a.getLong(3).toDouble - e.getLong(3)) / e.getLong(3)
      assert(rel <= 0.15, s"$c: approx ${a.getLong(3)} vs exact ${e.getLong(3)} (rel $rel)")
    }
  }

  test("data checks: processed suite passes on generated pipeline output") {
    val e = PipelineQueries.enriched(spark, 2000).cache()
    val results = DataChecks.processedSuite(
      graft.etl.Etl.routeVitals(e), graft.etl.Etl.routeClaims(e), graft.etl.Etl.routeEhr(e))
    assert(results.nonEmpty)
    // claim_id uniqueness can legitimately collide (random 6-digit ids);
    // every contract check must pass
    assert(results.filterNot(_.check.startsWith("unique"))
      .forall(_.severity == DataChecks.Pass))
  }

  test("dimensions: per-patient and per-provider rollups aggregate correctly") {
    val vitals = Seq(("P1", ts("2026-08-11 10:00:00"), 70, 1.0), ("P1", ts("2026-08-11 11:00:00"), 90, 1.0))
      .toDF("patient_id", "timestamp", "heart_rate", "data_quality_score")
      .withColumn("temperature", lit(37.0))
    val claims = Seq(("C1", "P1", "DR1", 100.0, 5, "Paid", d("2026-08-01")),
      ("C2", "P1", "DR1", 300.0, 10, "Denied", d("2026-08-02")))
      .toDF("claim_id", "patient_id", "provider_id", "total_amount", "processing_days", "claim_status", "service_date")
    val ehr = Seq(("E1", "P1", "DR1", 2, d("2026-08-03")))
      .toDF("record_id", "patient_id", "provider_id", "medication_count", "visit_date")

    val dp = Dimensions.dimPatients(Config.default)(vitals, claims, ehr).head()
    assert(dp.getAs[Long]("vitals_count") == 2)
    assert(dp.getAs[Double]("avg_heart_rate") == 80.0)
    assert(dp.getAs[Double]("lifetime_claim_value") == 400.0)
    assert(dp.getAs[Long]("ehr_count") == 1)

    val dr = Dimensions.dimProviders(Config.default)(claims, ehr).head()
    assert(dr.getAs[Long]("claims_count") == 2)
    assert(dr.getAs[Double]("denial_rate") == 0.5)
    assert(dr.getAs[Double]("avg_medications") == 2.0)
  }

  test("salted aggregation equals plain aggregation (skew rewrite correctness)") {
    val df = ((1 to 500).map(i => ("hot", i.toDouble)) ++ (1 to 50).map(i => (s"k${i % 7}", i.toDouble)))
      .toDF("key", "v")
    val plain = df.groupBy($"key").agg(sum($"v").as("v_sum"), count(lit(1)).as("row_count"),
      min($"v").as("v_min"), max($"v").as("v_max"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val salted = Skew.saltedAgg(df, Seq("key"), 8, sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val probe = (1 to 300).map(i => (if (i % 2 == 0) "hot" else s"k$i", i)).toDF("key", "pv")
    val build = Seq(("hot", 1), ("k1", 2), ("k3", 3)).toDF("key", "bv")
    val plain = probe.join(build, Seq("key")).select($"key", $"pv", $"bv")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val salted = Skew.saltedJoin(probe, build, "key", 8)
      .select($"key", $"pv", $"bv")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(salted == plain)
  }

  test("IVF ANN: perfect recall when clusters separate the data") {
    val corpus = (0L until 200L).map { i =>
      val center = (i % 4).toDouble * 10.0
      (i, Array.tabulate(8)(dd => center + 0.1 * math.sin(i * 13.0 + dd)))
    }.toDF("id", "vec")
    val queries = (0L until 4L).map { q =>
      (q, Array.tabulate(8)(dd => q.toDouble * 10.0 + 0.05 * math.cos(q + dd)))
    }.toDF("qid", "qvec")
    val exact = VectorOps.cosineTopK(corpus, queries, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = IvfIndex.cosineTopK(spark, corpus, queries, 5, nClusters = 8, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("frozen IVF: probing ALL clusters equals brute force exactly; partial probe is a subset chain") {
    // the frozen-literal query path (oracle path of q28/q64) must degrade
    // to exact search when nprobe = k — candidates become the full corpus
    val corpus = (5L until 105L).map { i =>
      (i, Array.tabulate(8)(dd => math.sin(i * 13.0 + dd * 1.7)))
    }.toDF("id", "vec")
    val queries = (0L until 3L).map { q =>
      (q, Array.tabulate(8)(dd => math.cos(q * 5.1 + dd)))
    }.toDF("qid", "qvec")
    val cents = IvfIndex.frozenCentroids(8, 8)
    val exact = VectorOps.cosineTopK(corpus, queries, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rn"), r.getAs[Long]("neighbor_id"))).toSet
    val full = IvfIndex.cosineTopKFrozen(spark, corpus, queries, 5, cents, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rn"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact, "nprobe = k must equal brute force (same ranks)")
    // a partial probe returns only rows from probed clusters → subset of
    // the full-probe candidate relation per query (top-k may differ; the
    // neighbor set must come from the corpus, k rows per query)
    val part = IvfIndex.cosineTopKFrozen(spark, corpus, queries, 5, cents, nprobe = 2).collect()
    assert(part.length == 15 && part.forall(r => r.getAs[Long]("neighbor_id") >= 5L))
    // frozen RQ with ALL clusters probed and generous refine also
    // re-ranks to the exact answer (true-vector re-rank dominates)
    val rqFull = IvfIndex.rqCosineTopKFrozen(spark, corpus, queries, 5,
        cents, IvfIndex.frozenCodebook(8, 8), nprobe = 8, refine = 20)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rn"), r.getAs[Long]("neighbor_id"))).toSet
    assert(rqFull == exact, "frozen RQ with full probe + wide refine must equal brute force")
  }

  test("IVF-RQ: compressed index keeps recall; reconstruction beats centroid-only") {
    // clusters get distinct DIRECTIONS (cosine separates them); the
    // per-vector noise makes within-cluster ranking non-trivial
    val corpus = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(dd =>
        math.sin((i % 4) * 7.3 + dd * 1.7) + 0.05 * math.sin(i * 13.0 + dd)))
    }.toDF("id", "vec")
    val queries = (0L until 4L).map { q =>
      (q, Array.tabulate(8)(dd => math.sin(q * 7.3 + dd * 1.7) + 0.02 * math.cos(q + dd)))
    }.toDF("qid", "qvec")
    val exact = VectorOps.cosineTopK(corpus, queries, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toSet
    val rq = IvfIndex.rqCosineTopK(spark, corpus, queries, 5,
        nClusters = 8, nprobe = 3, codebookSize = 8, refine = 10)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = exact.intersect(rq).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-RQ recall too low: $recall")
    // exact re-rank ⇒ reported cosines are true cosines (match brute force)
    val bf = VectorOps.cosineTopK(corpus, queries, 5).collect()
      .map(r => ((r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")), r.getAs[Double]("cosine"))).toMap
    IvfIndex.rqCosineTopK(spark, corpus, queries, 5,
        nClusters = 8, nprobe = 3, codebookSize = 8, refine = 10)
      .collect().foreach { r =>
        val key = (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))
        bf.get(key).foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-12))
      }

    // residual codebook reduces quantization error vs centroid-only
    val cents = IvfIndex.centroids(corpus, "id", "vec", 8).cache()
    val cb = IvfIndex.residualCodebook(corpus, cents, "id", "vec", 8)
    val enc = IvfIndex.encode(corpus, cents, cb, "id", "vec")
    val recon = IvfIndex.reconstructions(cents, cb)
    val errRq = enc.join(recon, Seq("cluster_id", "code"))
      .join(corpus, "id")
      .select(aggregate(zip_with($"vec", $"recon", (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x).as("e"))
      .agg(sum($"e")).head().getDouble(0)
    val errCent = IvfIndex.assign(corpus, cents, "id", "vec")
      .join(cents, "cluster_id")
      .select(aggregate(zip_with($"vec", $"centroid", (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x).as("e"))
      .agg(sum($"e")).head().getDouble(0)
    assert(errRq < errCent, s"RQ error $errRq should beat centroid-only $errCent")
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def d(s: String) = java.sql.Date.valueOf(s)
}
