package graft

import org.apache.spark.sql.functions._

import graft.operators.{Compaction, Sampling, TextAnalysis}
import graft.queries.VectorQueries

/** Round-7 operator additions: compaction planner, repetition quality
  * filter, fixed-quota sampling, ANN recall eval.
  */
class Round7OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- plan
  test("compaction plan: files fill a bin until the target is covered, then a new bin starts") {
    val listing = Seq(
      ("p1", "a", 400L), ("p1", "b", 400L), ("p1", "c", 400L), // 0,0,0 (cum_before 0,400,800)
      ("p1", "d", 400L),                                        // cum_before 1200 -> bin 1
      ("p1", "e", 3000L),                                       // cum_before 1600 -> bin 1
      ("p1", "f", 100L),                                        // cum_before 4600 -> bin 4 (oversize skips bins)
      ("p2", "a", 50L)                                          // independent partition -> bin 0
    ).toDF("partition", "file", "bytes")
    val out = Compaction.plan(listing, Seq("partition"), "file", "bytes", targetBytes = 1000L)
      .select("partition", "file", "bin", "bin_bytes", "bin_files")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(out === Set(
      ("p1", "a", 0L, 1200L, 3L), ("p1", "b", 0L, 1200L, 3L), ("p1", "c", 0L, 1200L, 3L),
      ("p1", "d", 1L, 3400L, 2L), ("p1", "e", 1L, 3400L, 2L),
      ("p1", "f", 4L, 100L, 1L),
      ("p2", "a", 0L, 50L, 1L)))
  }

  test("compaction plan invariants: every file in exactly one bin, bin totals reconcile, no empty bins") {
    val rows = (1 to 500).map(i => (s"p${i % 5}", f"f$i%03d", (i * 131 % 3000 + 10).toLong))
    val out = Compaction.plan(rows.toDF("partition", "file", "bytes"),
        Seq("partition"), "file", "bytes", targetBytes = 5000L)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length === 500, "every file assigned")
    assert(out.map(f => (f._1, f._2)).distinct.length === 500, "assigned exactly once")
    // per (partition, bin): the broadcast bin totals must equal the sums
    out.groupBy(f => (f._1, f._4)).foreach { case ((p, bin), members) =>
      val bytes = members.map(_._3).sum
      assert(members.forall(m => m._5 == bytes && m._6 == members.length),
        s"bin totals diverge in $p/$bin")
      assert(members.nonEmpty)
    }
    // partition totals are conserved through binning
    out.groupBy(_._1).foreach { case (p, files) =>
      val want = rows.filter(_._1 == p).map(_._3).sum
      assert(files.map(_._3).sum === want, s"bytes not conserved in $p")
    }
  }

  test("compaction plan: deterministic under input shuffling (pure function of the listing)") {
    val rows = (1 to 200).map(i => (s"p${i % 3}", f"f$i%03d", (i * 37 % 900 + 50).toLong))
    val a = Compaction.plan(rows.toDF("partition", "file", "bytes"),
      Seq("partition"), "file", "bytes", 2000L)
    val b = Compaction.plan(scala.util.Random.shuffle(rows).toDF("partition", "file", "bytes"),
      Seq("partition"), "file", "bytes", 2000L)
    assert(a.orderBy("partition", "file").collect().toSeq ===
      b.orderBy("partition", "file").collect().toSeq)
  }

  test("compaction planFs: lists a real tree, derives partitions, skips _SUCCESS/hidden files") {
    val dir = java.nio.file.Files.createTempDirectory("compact-fs").toFile
    try {
      def put(rel: String, n: Int): Unit = {
        val f = new java.io.File(dir, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Array.fill[Byte](n)(1))
      }
      put("dt=2024-01-01/part-0.parquet", 600)
      put("dt=2024-01-01/part-1.parquet", 600)
      put("dt=2024-01-02/part-0.parquet", 100)
      put("dt=2024-01-01/_SUCCESS", 0)
      put("dt=2024-01-01/.hidden", 10)
      val out = Compaction.planFs(spark, dir.getAbsolutePath, targetBytes = 1000L)
        .select("partition", "file", "bytes", "bin").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(out === Set(
        ("dt=2024-01-01", "part-0.parquet", 600L, 0L),
        ("dt=2024-01-01", "part-1.parquet", 600L, 0L),
        ("dt=2024-01-02", "part-0.parquet", 100L, 0L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  // -------------------------------------------------------- repetition
  test("repetition features: a generator loop is dropped, varied text survives") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog near the riverbank today " +
        "while birds sing softly and children play games under tall green trees"),
      (3L, "buy now buy now buy now buy now buy now buy now")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(1L).getBoolean(5), "pure word loop must be dropped")
    assert(out(2L).getBoolean(5), "varied text must survive")
    assert(!out(3L).getBoolean(5), "bigram loop must be dropped")
    // exact arithmetic on doc 3: 12 words, 2 distinct -> dup_word 10/12;
    // 11 bigrams, 'buy now' x6 -> top_bigram 6/11; 10 trigrams, 2 distinct
    val r3 = out(3L)
    assert(r3.getLong(1) === 12L)
    assert(math.abs(r3.getDouble(2) - 10.0 / 12) < 1e-6)
    assert(math.abs(r3.getDouble(3) - 6.0 / 11) < 1e-6)
    assert(math.abs(r3.getDouble(4) - 8.0 / 10) < 1e-6)
  }

  test("repetition features: degenerate docs (one word / empty) get zero fractions, no errors") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "two words")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFeatures(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getDouble(3) === 0.0 || id == 3L) // 3 has one bigram (count 1 -> frac 1.0!)
      assert(out(id).getDouble(4) === 0.0)
    }
    assert(out(2L).getLong(1) === 0L && out(2L).getDouble(2) === 0.0)
    // two distinct words: the single bigram IS the top bigram (frac 1.0) —
    // short docs should be handled by a length gate upstream, not here
    assert(out(3L).getDouble(3) === 1.0)
  }

  test("repetition features plan: zero exchanges (per-row HOFs only)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextAnalysis.repetitionFeatures(docs, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan, got:\n$plan")
  }

  // -------------------------------------------------------- fixed quota
  test("fixedQuotaPerGroup: exactly k from big groups, whole group when smaller than k") {
    val df = ((1 to 100).map(i => (i.toLong, "big")) ++ Seq((101L, "small"), (102L, "small")))
      .toDF("id", "grp")
    val out = Sampling.fixedQuotaPerGroup(df, "grp", "id", k = 5)
    val byGrp = out.groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp === Map("big" -> 5L, "small" -> 2L))
  }

  test("fixedQuotaPerGroup: growth in OTHER groups never disturbs a group's selection") {
    val base = (1 to 50).map(i => (i.toLong, if (i <= 25) "a" else "b")).toDF("id", "grp")
    val grown = ((1 to 50).map(i => (i.toLong, if (i <= 25) "a" else "b")) ++
      (200 to 400).map(i => (i.toLong, "b"))).toDF("id", "grp")
    def sel(df: org.apache.spark.sql.DataFrame) =
      Sampling.fixedQuotaPerGroup(df, "grp", "id", 5)
        .filter(col("grp") === "a").select("id", "rn")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sel(base) === sel(grown))
  }

  test("fixedQuotaPerGroup plan: rank filter prunes via WindowGroupLimit before the exchange") {
    val df = (1 to 100).map(i => (i.toLong, s"g${i % 4}")).toDF("id", "grp")
    val plan = Sampling.fixedQuotaPerGroup(df, "grp", "id", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit, got:\n$plan")
  }

  // -------------------------------------------------------- normalize
  test("nfc_normalize: composes combining marks, maps singletons, is identity on ASCII and NFC text") {
    graft.expressions.GraftFunctions.register(spark)
    val rows = Seq(
      ("café", "café"), // combining acute composes
      ("Å", "Å"), // Angstrom sign → Å singleton
      ("plain ascii", "plain ascii"),
      ("café", "café") // already NFC: unchanged
    ).toDF("in", "want")
      .withColumn("got", call_function("nfc_normalize", col("in")))
    rows.collect().foreach { r =>
      assert(r.getString(2) === r.getString(1), s"NFC of ${r.getString(0)}")
    }
    // null propagates; expression stays inside whole-stage codegen
    assert(Seq(Tuple1(null: String)).toDF("in")
      .select(call_function("nfc_normalize", col("in"))).head().isNullAt(0))
    // non-literal input (literals constant-fold to a LocalTableScan);
    // the "*(n)" prefix marks the projection as whole-stage-codegen'd
    val plan = spark.range(4)
      .select(call_function("nfc_normalize", col("id").cast("string")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [nfc_normalize"), s"expected codegen:\n$plan")
  }

  test("normalizeText: control chars stripped, whitespace collapsed, changed flag exact") {
    val out = TextAnalysis.normalizeText(
      Seq((1L, "tab\tand\nnew  lines"), (2L, "bellchar "), (3L, "clean text"))
        .toDF("doc_id", "text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === "tab and new lines" && out(1L).getBoolean(2))
    assert(out(2L).getString(1) === "bell char" && out(2L).getBoolean(2))
    assert(out(3L).getString(1) === "clean text" && !out(3L).getBoolean(2))
    assert(out(2L).getLong(3) === 9L)
  }

  // -------------------------------------------------------- ANN recall
  test("q124 plan: anchors broadcast, corpus never shuffled before the rank windows") {
    val plan = VectorQueries.q124ContrastiveTriplets(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"anchor side must broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"), "rank filters must pre-prune per partition")
  }

  test("q119 ANN recall: per-query recall in [0,1], one row per exact query, exact self-recall is 1") {
    val rows = VectorQueries.q119AnnRecall(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val recall = r.getDouble(2)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - r.getLong(1) / 10.0) < 1e-9)
    }
    // int8 quantization at 30 candidates should not be catastrophically
    // lossy on 64-d data: average recall above 0.5
    val avg = rows.map(_.getDouble(2)).sum / rows.length
    assert(avg > 0.5, s"suspiciously low quantized recall: $avg")
  }
}
