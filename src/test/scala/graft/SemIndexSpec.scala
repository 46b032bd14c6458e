package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{IvfIndex, SemDedup, SemIndex}

/** Incremental semantic (embedding) index maintenance: streaming
  * batches must reproduce the one-shot q100 SemDeDup edge set exactly,
  * and replays must be idempotent at both the assignment table and the
  * edge log — the [[graft.operators.LshIndex]] contract, for vectors.
  */
class SemIndexSpec extends SparkSpec {
  import spark.implicits._

  private val cents = IvfIndex.frozenCentroids(16, 64).map { case (c, a) => (c.toLong, a) }

  /** The q100 corpus: real sf0.001 embeddings plus the same planted
    * +0.01 near-dup twins (DedupQueries.q100SemDedup), twins sliced into
    * LATER batches so cross-batch edges genuinely occur.
    */
  private def corpus(): Seq[(Long, Array[Double])] = {
    val base = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .as[(Long, Array[Double])].collect().toSeq.sortBy(_._1)
    val planted = base.filter(_._1 < 20)
      .map { case (id, v) => (id + 100000L, v.map(_ + 0.01)) }
    base ++ planted
  }

  private def oneShotEdges(docs: Seq[(Long, Array[Double])]): Set[(Long, Long)] =
    SemDedup.edges(
        IvfIndex.assignWith(docs.toDF("vec_id", "vec"), cents, "vec"),
        "vec_id", "vec", threshold = 0.95)
      .as[(Long, Long)].collect().toSet

  test("3 AvailableNow batches ≡ one-shot q100 SemDedup edge set") {
    val docs = corpus()
    val asgPath = Files.createTempDirectory("sem_asg").toString + "/asg"
    val pairsPath = Files.createTempDirectory("sem_pairs").toString + "/pairs"
    val cp = Files.createTempDirectory("sem_cp").toString

    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Double])]
    val batches = docs.grouped((docs.size + 2) / 3).toSeq
    assert(batches.size == 3)
    for (b <- batches) {
      mem.addData(b: _*)
      val q = SemIndex.start(
        mem.toDF().toDF("vec_id", "vec"), asgPath, pairsPath, cp,
        "vec_id", "vec", cents, trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    val streamed = spark.read.parquet(pairsPath)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val oneShot = oneShotEdges(docs)
    assert(oneShot.nonEmpty, "q100 corpus produced no near-dup edges")
    assert(streamed == oneShot,
      s"missing=${(oneShot -- streamed).take(5)} spurious=${(streamed -- oneShot).take(5)}")

    // the assignment table holds exactly one row per vector, and every
    // assignment matches a fresh frozen-centroid assignment
    val asg = spark.read.parquet(asgPath)
    assert(asg.count() == docs.size && asg.select("vec_id").distinct().count() == docs.size)
    val fresh = IvfIndex.assignWith(docs.toDF("vec_id", "vec"), cents, "vec")
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect().toMap
    asg.select($"vec_id", $"cluster_id").as[(Long, Long)].collect()
      .foreach { case (id, c) => assert(fresh(id) == c, s"stored assignment drifted for $id") }
  }

  test("replayed batch is idempotent: assignment table and edge partition unchanged") {
    val docs = corpus()
    val asgPath = Files.createTempDirectory("sem_asg_r").toString + "/asg"
    val pairsPath = Files.createTempDirectory("sem_pairs_r").toString + "/pairs"
    val (b1, b2) = docs.splitAt(docs.size / 2)

    SemIndex.processBatch(asgPath, pairsPath, b1.toDF("vec_id", "vec"), 0L, "vec_id", "vec", cents)
    SemIndex.processBatch(asgPath, pairsPath, b2.toDF("vec_id", "vec"), 1L, "vec_id", "vec", cents)
    def snapshot() = (
      spark.read.parquet(asgPath).select("vec_id", "cluster_id")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(pairsPath).select("src", "dst", "batch_id")
        .collect().map(_.toString).sorted.toSeq)
    val before = snapshot()
    SemIndex.processBatch(asgPath, pairsPath, b2.toDF("vec_id", "vec"), 1L, "vec_id", "vec", cents)
    assert(snapshot() == before, "replay must not change the table or duplicate edges")
  }

  test("fold-first crash window: a replayed batch converges to the normal order") {
    // processBatch overlaps the edge write with the assignment fold, so
    // a crash can now leave the FOLD applied with the edge partition
    // missing; the stream's replay of the same batch id must converge to
    // the state a crash-free run produces (edges recompute identically
    // because the delta copy wins over the already-folded rows).
    val docs = corpus()
    val (b1, b2) = docs.splitAt(docs.size / 2)
    def run(foldFirst: Boolean): (Seq[String], Seq[String]) = {
      val asgPath = Files.createTempDirectory("sem_asg_ff").toString + "/asg"
      val pairsPath = Files.createTempDirectory("sem_pairs_ff").toString + "/pairs"
      SemIndex.processBatch(asgPath, pairsPath, b1.toDF("vec_id", "vec"), 0L,
        "vec_id", "vec", cents)
      if (foldFirst) // the crash window: batch 1 fully landed, batch 2's fold ran alone
        SemIndex.updateAssignmentTable(asgPath, b2.toDF("vec_id", "vec"), "vec_id", "vec", cents)
      SemIndex.processBatch(asgPath, pairsPath, b2.toDF("vec_id", "vec"), 1L,
        "vec_id", "vec", cents)
      (spark.read.parquet(asgPath).select("vec_id", "cluster_id")
        .collect().map(_.toString).sorted.toSeq,
        spark.read.parquet(pairsPath).select("src", "dst", "batch_id")
          .collect().map(_.toString).sorted.toSeq)
    }
    assert(run(foldFirst = true) == run(foldFirst = false),
      "replay after a fold-only crash must converge to the crash-free state")
  }

  test("hot cluster: subCellBits splits at assignment time, batches ≡ identically-split one-shot, twins survive") {
    val docs = corpus()
    // k=2 centroids over a 500+-vector corpus: both clusters are HOT —
    // the adversarial case where the per-delta join would otherwise scan
    // ~half the history each batch (assignWith needs ≥2 centroids for
    // its least() distance argmin)
    val oneCent = IvfIndex.frozenCentroids(2, 64).map { case (c, a) => (c.toLong, a) }
    val bits = 4
    val asgPath = Files.createTempDirectory("sem_asg_h").toString + "/asg"
    val pairsPath = Files.createTempDirectory("sem_pairs_h").toString + "/pairs"
    val (b1, b2) = docs.splitAt(docs.size / 2)
    SemIndex.processBatch(asgPath, pairsPath, b1.toDF("vec_id", "vec"), 0L,
      "vec_id", "vec", oneCent, subCellBits = bits)
    SemIndex.processBatch(asgPath, pairsPath, b2.toDF("vec_id", "vec"), 1L,
      "vec_id", "vec", oneCent, subCellBits = bits)

    // the split actually happened: stored keys spread over many sub-cells,
    // and the largest sub-cell is a small fraction of the corpus
    val cells = spark.read.parquet(asgPath).groupBy("cluster_id").count()
      .as[(Long, Long)].collect()
    assert(cells.length > 4, s"expected >4 sub-cells, got ${cells.length}")
    assert(cells.map(_._2).max < docs.size / 2,
      s"largest sub-cell ${cells.map(_._2).max} of ${docs.size} — split ineffective")

    // equivalence against the one-shot edges over the SAME sub-celled
    // assignment (the operator contract: write and read agree)
    val oneShot = SemDedup.edges(
        SemIndex.assignments(docs.toDF("vec_id", "vec"), "vec_id", "vec",
          oneCent, subCellBits = bits).drop("__nrm"),
        "vec_id", "vec", threshold = 0.95)
      .as[(Long, Long)].collect().toSet
    val streamed = spark.read.parquet(pairsPath)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    assert(streamed == oneShot,
      s"missing=${(oneShot -- streamed).take(5)} spurious=${(streamed -- oneShot).take(5)}")

    // recall trade is graceful: nearly all planted twins still share
    // every sub-cell bit (cos ≈ 0.9997 ⇒ per-bit agreement ≈ 99%)
    val twinEdges = streamed.count { case (s, d) => d == s + 100000L }
    assert(twinEdges >= 17, s"only $twinEdges of 20 planted twins survived 4-bit sub-celling")
  }

  test("pairsForDelta sees only edges involving the delta") {
    val docs = corpus()
    val asgPath = Files.createTempDirectory("sem_asg_d").toString + "/asg"
    SemIndex.updateAssignmentTable(asgPath, docs.toDF("vec_id", "vec"), "vec_id", "vec", cents)
    // a brand-new exact twin of vec 0 must pair against the stored corpus
    val twin = Seq((500000L, docs.head._2)).toDF("vec_id", "vec")
    val got = SemIndex.pairsForDelta(asgPath, twin, "vec_id", "vec", cents)
      .as[(Long, Long)].collect()
    assert(got.exists(p => p._1 == 0L && p._2 == 500000L),
      s"identical twin should edge to its original: ${got.toSeq}")
    assert(got.forall(p => p._1 == 500000L || p._2 == 500000L),
      "only delta-involving edges may be emitted")
  }
}
