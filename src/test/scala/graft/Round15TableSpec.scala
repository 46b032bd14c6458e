package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry}

/** Round-15 pins: the q142 novelty plan carries NO gram-keyed join
  * (the one r14 scale hazard, removed), `versionAsOf` decides the
  * legacy/ICT era boundary once from the log (never from probe luck),
  * appends before the first parquet checkpoint commit O(delta),
  * unscoped compact of a pushed partitioned table runs
  * partition-batched, the vacuum dry run stays distributed end to end
  * and previews horizon rewrites, and the CDF stream schema is pinned
  * across restarts.
  */
class Round15TableSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("tv15").toString + "/tbl"

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitText(root: String, v: Long): String = {
    val f = hfs(root)
    val in = f.open(new Path(root, s"_versions/v$v.commit"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeCommitText(root: String, v: Long, txt: String): Unit = {
    val f = hfs(root)
    val out = f.create(new Path(root, s"_versions/v$v.commit"), true)
    try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val buf = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def go(n: SparkPlan): Unit = {
      buf += n
      n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => go(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => go(r.child)
        case _ =>
      }
      n.children.foreach(go)
      n.subqueries.foreach(go)
    }
    go(p)
    buf.toSeq
  }

  // ------------------------------------------------------------------
  // q142 noveltyScore: plan shape + planted mega-hot gram
  // ------------------------------------------------------------------

  test("noveltyScore plan: NO join keyed on the gram; the one gram exchange sits on a partial agg") {
    // planted mega-hot gram: ONE shingle ("hot hot hot") in EVERY doc —
    // the Zipf head that made the old corpus-re-join plan a skew bomb
    val docs = (1 to 300).map(i => (i.toLong, s"hot hot hot u$i w$i t$i")).toDF("doc_id", "text")
    val df = graft.operators.TextAnalysis.noveltyScore(docs, "doc_id")
    val rows = df.orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    // 4 distinct grams per doc; doc 1 owns all 4 (incl. the hot gram),
    // every other doc owns its 3 unique ones
    assert(rows.head === ((1L, 4L, 4L, 1.0)))
    assert(rows.tail.forall { case (_, n, nov, f) => n == 4L && nov == 3L && f == 0.75 },
      "every non-first doc owns exactly its 3 unique shingles")
    assert(rows.map(_._3).sum === 4L + 299L * 3L, "ownership partitions the vocabulary")

    val nodes = allNodes(df.queryExecution.executedPlan)
    def onGram(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      exprs.exists(_.references.exists(_.name == "gram"))
    val gramJoins = nodes.collect {
      case j: SortMergeJoinExec if onGram(j.leftKeys) => j
      case j: ShuffledHashJoinExec if onGram(j.leftKeys) => j
      case j: BroadcastHashJoinExec if onGram(j.leftKeys) => j
    }
    assert(gramJoins.isEmpty,
      s"novelty must never join on the skewed gram key; found: ${gramJoins.map(_.nodeName)}")
    val gramExchanges = nodes.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case HashPartitioning(exprs, _) => onGram(exprs)
        case _ => false
      }) => e
    }
    assert(gramExchanges.size === 1,
      s"exactly ONE gram-keyed exchange (the owner min), got ${gramExchanges.size}")
    assert(gramExchanges.head.child.toString.contains("partial_min"),
      "the gram exchange must sit on a map-side-combining partial aggregate — " +
        "a mega-hot gram then contributes at most one row per map partition to its reducer")
  }

  // ------------------------------------------------------------------
  // versionAsOf: era boundary decided once from the log
  // ------------------------------------------------------------------

  test("versionAsOf mixed-era: a future-skewed legacy mtime rules even when the answer " +
      "search would only probe the stamped suffix") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 10L).toDF("k"))
    TableVersions.append(spark, root, (11L to 20L).toDF("k"))
    TableVersions.append(spark, root, (21L to 30L).toDF("k"))
    val f = hfs(root)
    // v0 becomes a LEGACY commit (no #TS) with a FUTURE-SKEWED mtime;
    // v1/v2 stay ICT with instants BELOW it (cross-writer skew /
    // copied-directory shape)
    writeCommitText(root, 0L, commitText(root, 0L).split("\n")
      .filterNot(_.startsWith("#TS ")).mkString("", "\n", "\n"))
    def restamp(v: Long, ts: Long): Unit =
      writeCommitText(root, v, commitText(root, v).split("\n")
        .map(l => if (l.startsWith("#TS ")) s"#TS $ts" else l).mkString("", "\n", "\n"))
    restamp(1L, 100000L)
    restamp(2L, 200000L)
    f.setTimes(new Path(root, "_versions/v0.commit"), 250000L, -1)
    TableVersions.clearStateCache()
    // the monotonized contract: v0's effective instant is 250000, and it
    // FLOORS every later version — at 150000 nothing exists yet, even
    // though a naive binary search over the stamped suffix (which never
    // probes v0) would answer v1
    assert(TableVersions.versionAsOf(spark, root, 150000L) === None,
      "a legacy future-skewed mtime above the target must rule out the stamped suffix")
    assert(TableVersions.versionAsOf(spark, root, 225000L) === None)
    assert(TableVersions.versionAsOf(spark, root, 99999L) === None)
    // at the legacy instant the whole folded history is at-or-before it
    assert(TableVersions.versionAsOf(spark, root, 250000L) === Some(2L))
    assert(TableVersions.versionAsOf(spark, root, 260000L) === Some(2L))
    assert(TableVersions.readAsOf(spark, root, 250000L).count() === 30L)
  }

  test("versionAsOf pure eras unchanged: all-stamped binary-searches; all-legacy monotonizes") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 5L).toDF("k"))
    TableVersions.append(spark, root, (6L to 9L).toDF("k"))
    val t0 = commitText(root, 0L).split("\n").find(_.startsWith("#TS "))
      .get.stripPrefix("#TS ").trim.toLong
    val t1 = commitText(root, 1L).split("\n").find(_.startsWith("#TS "))
      .get.stripPrefix("#TS ").trim.toLong
    assert(TableVersions.versionAsOf(spark, root, t0) === Some(0L))
    assert(TableVersions.versionAsOf(spark, root, t1) === Some(1L))
    assert(TableVersions.versionAsOf(spark, root, t0 - 1) === None)
    // strip ALL stamps: full legacy, running-max mtime scan
    (0L to 1L).foreach(v => writeCommitText(root, v, commitText(root, v).split("\n")
      .filterNot(_.startsWith("#TS ")).mkString("", "\n", "\n")))
    TableVersions.clearStateCache()
    val f = hfs(root)
    f.setTimes(new Path(root, "_versions/v0.commit"), 300000L, -1)
    f.setTimes(new Path(root, "_versions/v1.commit"), 200000L, -1) // inverted
    assert(TableVersions.versionAsOf(spark, root, 250000L) === None,
      "legacy era: running max folds v1 up to 300000")
    assert(TableVersions.versionAsOf(spark, root, 300000L) === Some(1L))
  }

  // ------------------------------------------------------------------
  // Before the FIRST checkpoint: appends from the scalar chain walk
  // ------------------------------------------------------------------

  private val ckSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("p", IntegerType)))

  /** Fake metadata entries far below the real rows' key range
    * (Round14TableSpec's shape) — the write path must carry them BY
    * REFERENCE, never materialize them on the driver.
    */
  private def syntheticEntries(root: String, n: Int, mod: Int = 50): Seq[FileEntry] =
    (0 until n).map { i =>
      FileEntry(s"$root/data/f$i.parquet", 4096L, 100L,
        Map("p" -> (i % mod).toString),
        Map(
          "k" -> ColStats(Some(i * 10.0), Some(i * 10.0 + 9), None, None, 0L),
          "s" -> ColStats(None, None, Some(f"a$i%06d"), Some(f"b$i%06d"), 0L),
          "p" -> ColStats(Some((i % mod).toDouble), Some((i % mod).toDouble), None, None, 0L)))
    }

  test("appends BEFORE the first checkpoint commit O(delta) from the scalar chain walk") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "1000",
      "graft.table.checkpointInterval" -> "100") { // no checkpoint lands in this test
      val root = newRoot()
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
      val big = CommitState(syntheticEntries(root, 50000), Some(ckSchema.json), Seq("p"), Map.empty)
      assert(TableVersions.tryCommit(spark, root, 1L, big, op = "BULKLOAD"))
      TableVersions.clearStateCache()
      TableVersions.append(spark, root,
        Seq((9000001L, "x", 99)).toDF("k", "s", "p"), Seq("p")) // v2
      val txt = commitText(root, 2L)
      assert(txt.contains("\n#BASE 1\n"),
        "the bootstrap append must commit as a DELTA against the bulk load, " +
          "not re-render the 50k-entry listing")
      val addLines = txt.split("\n").count(l => l.nonEmpty && !l.startsWith("#"))
      assert(addLines === 1, s"the delta carries exactly its own add, got $addLines lines")
      assert(TableVersions.lastTxn(spark, root, "nosuchapp") === None,
        "the scalar-walk txn lookup works on the checkpoint-less chain")
    }
  }

  // ------------------------------------------------------------------
  // Unscoped maintenance: partition-batched driver
  // ------------------------------------------------------------------

  test("unscoped compact of a pushed partitioned table runs PARTITION-BATCHED: " +
      "per-tuple pushed plans, data bit-identical, files merged") {
    withConf(
      "graft.table.pushedPruneThreshold" -> "10",
      "graft.table.parquetCheckpointThreshold" -> "5",
      "graft.table.checkpointInterval" -> "3") {
      val root = newRoot()
      (1 to 6).foreach { i =>
        TableVersions.append(spark, root,
          Seq((i.toLong, "a", 0), (100L + i, "b", 1), (200L + i, "c", 2))
            .toDF("k", "s", "p"), Seq("p"))
      }
      val before = TableVersions.read(spark, root)
        .select("k", "s", "p").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
      assert(before.length === 18)
      val batched0 = TableVersions.maintBatchedSweeps.get()
      val v = TableVersions.compact(spark, root, targetBytes = 1L << 30)
      assert(TableVersions.maintBatchedSweeps.get() === batched0 + 1,
        "an unscoped compact of a pushed partitioned snapshot must take the batched driver")
      assert(v.isDefined, "three per-partition merges must commit")
      val after = TableVersions.read(spark, root)
        .select("k", "s", "p").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
      assert(after.toSeq === before.toSeq, "compaction must be a pure layout rewrite")
      val st = TableVersions.commitState(spark, root, None)
      assert(st.files.size === 3, s"6 files per partition merge to 1 (got ${st.files.size})")
    }
  }

  test("unscoped compact at 200k entries: the batched driver plans per-partition " +
      "with zero full materializations") {
    withConf(
      "graft.table.pushedPruneThreshold" -> "1000",
      "graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = newRoot()
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(syntheticEntries(root, 200000, mod = 8), Some(ckSchema.json),
          Seq("p"), Map.empty))
      TableVersions.clearStateCache()
      val batched0 = TableVersions.maintBatchedSweeps.get()
      val resolves0 = TableVersions.ckptResolves.get()
      // targetBytes below every file size: every bin is single-file, so
      // the sweep PLANS all 8 partition groups and merges nothing —
      // pure driver-shape pin, no data touched
      val v = TableVersions.compact(spark, root, targetBytes = 1L)
      assert(v === None, "single-file bins: nothing to merge")
      assert(TableVersions.maintBatchedSweeps.get() === batched0 + 1)
      assert(TableVersions.ckptResolves.get() === resolves0,
        "the unscoped batched sweep must materialize ZERO full listings at 200k entries")
    }
  }

  test("unscoped compact of a pushed UNPARTITIONED table sweeps in bounded bin batches: " +
      "multiple commits, data bit-identical, files merged") {
    withConf(
      "graft.table.pushedPruneThreshold" -> "10",
      "graft.table.parquetCheckpointThreshold" -> "5",
      "graft.table.checkpointInterval" -> "3",
      "graft.table.maintBatchFiles" -> "4") {
      val root = newRoot()
      (1 to 12).foreach { i =>
        TableVersions.append(spark, root,
          Seq((i.toLong, s"s$i")).toDF("k", "s").coalesce(1))
      }
      val before = TableVersions.read(spark, root)
        .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(before.length === 12)
      val fileSize = TableVersions.commitState(spark, root, None).files.head.bytes
      val vBefore = TableVersions.currentVersion(spark, root).get
      val batched0 = TableVersions.maintBatchedSweeps.get()
      // ~3 files per bin → 4 bins; batch ceiling 4 files → several commits
      val v = TableVersions.compact(spark, root, targetBytes = fileSize * 3)
      assert(TableVersions.maintBatchedSweeps.get() === batched0 + 1,
        "an unscoped compact of a pushed unpartitioned snapshot must take the bin-batched sweep")
      assert(v.isDefined)
      assert(v.get >= vBefore + 2, "the sweep commits per bounded bin batch, not once")
      val after = TableVersions.read(spark, root)
        .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(after.toSeq === before.toSeq, "compaction must be a pure layout rewrite")
      assert(TableVersions.commitState(spark, root, None).files.size < 12,
        "undersized files must have merged")
    }
  }

  test("unscoped compact of a pushed unpartitioned table at 200k entries: " +
      "distributed bin plan, zero full materializations") {
    withConf(
      "graft.table.pushedPruneThreshold" -> "1000",
      "graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = newRoot()
      val flat = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
      TableVersions.createEmpty(spark, root, flat)
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(syntheticEntries(root, 200000).map(fe =>
          fe.copy(part = Map.empty, stats = fe.stats - "p")),
          Some(flat.json), Seq.empty, Map.empty))
      TableVersions.clearStateCache()
      val batched0 = TableVersions.maintBatchedSweeps.get()
      val resolves0 = TableVersions.ckptResolves.get()
      // targetBytes below every file size: single-file bins only — the
      // distributed plan finds nothing to merge, no data is touched
      val v = TableVersions.compact(spark, root, targetBytes = 1L)
      assert(v === None, "single-file bins: nothing to merge")
      assert(TableVersions.maintBatchedSweeps.get() === batched0 + 1,
        "the unpartitioned pushed shape must take the bin-batched sweep")
      assert(TableVersions.ckptResolves.get() === resolves0,
        "the distributed bin plan must materialize ZERO full listings at 200k entries")
    }
  }

  // ------------------------------------------------------------------
  // vacuumDryRun: distributed end to end + horizon-rewrite preview
  // ------------------------------------------------------------------

  test("vacuumDryRun at 200k entries: the data kind stays a DISTRIBUTED frame, " +
      "zero driver listings, nothing mutated") {
    withConf(
      "graft.table.pushedPruneThreshold" -> "1000",
      "graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = newRoot()
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(syntheticEntries(root, 200000), Some(ckSchema.json), Seq("p"), Map.empty))
      TableVersions.clearStateCache()
      TableVersions.append(spark, root, Seq((9000001L, "x", 99)).toDF("k", "s", "p"), Seq("p"))
      TableVersions.append(spark, root, Seq((9000002L, "y", 99)).toDF("k", "s", "p"), Seq("p"))
      val resolves0 = TableVersions.ckptResolves.get()
      val report = TableVersions.vacuumDryRun(spark, root, keepVersions = 2, graceMs = 0L)
      assert(TableVersions.ckptResolves.get() === resolves0,
        "building the preview must not materialize any listing on the driver")
      // the data-kind subtree is a genuine distributed lineage, not a
      // collected-and-rewrapped local relation (the pre-r15 shape)
      val leaves = report.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(l =>
        !l.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "the dead-data classification must stay a distributed frame end to end")
      val byKind = report.collect().groupBy(_.getString(0)).view.mapValues(_.length).toMap
      assert(byKind.getOrElse("commit", 0) === 1, "v0 falls below the horizon")
      assert(TableVersions.ckptResolves.get() === resolves0,
        "even EVALUATING the preview resolves no checkpoint on the driver")
      // a dry run mutates nothing: the table still reconstructs whole
      // (the 200k carried entries are synthetic, so assert on metadata)
      assert(TableVersions.currentVersion(spark, root) === Some(2L))
      assert(TableVersions.commitState(spark, root, None).files.size === 200002)
    }
  }

  test("vacuumDryRun previews the horizon-securing checkpoint REWRITE (kind checkpoint-rewrite)") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "1",
      "graft.table.checkpointInterval" -> "2") {
      val root = newRoot()
      (0 to 4).foreach { i =>
        TableVersions.append(spark, root, Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
      }
      val f = hfs(root)
      assert(f.exists(new Path(root, "_versions/v2.checkpoint")))
      // corrupt v2's checkpoint dataset: it EXISTS but no longer resolves
      f.delete(new Path(root, "_versions/v2.ckptpq"), true)
      TableVersions.clearStateCache()
      // keepVersions=3 → keepFrom=2; v2 is a retained delta crossing the
      // horizon with an unresolvable checkpoint → vacuum will delete and
      // REWRITE its sidecars; the preview must name them
      val report = TableVersions.vacuumDryRun(spark, root, keepVersions = 3, graceMs = 0L)
        .collect().map(r => (r.getString(0), r.getString(1)))
      val rewrites = report.filter(_._1 == "checkpoint-rewrite").map(_._2)
      assert(rewrites.exists(_.endsWith("v2.checkpoint")),
        s"the preview must name the horizon rewrite; got ${report.toSeq}")
      TableVersions.vacuum(spark, root, keepVersions = 3, graceMs = 0L)
      assert(f.exists(new Path(root, "_versions/v2.checkpoint")),
        "vacuum rewrites (not drops) the horizon checkpoint")
      TableVersions.clearStateCache()
      assert(TableVersions.read(spark, root, Some(2L)).count() === 3L,
        "the rewritten checkpoint resolves")
    }
  }

  // ------------------------------------------------------------------
  // CDF stream schema pin
  // ------------------------------------------------------------------

  test("cdf stream schema is PINNED across restarts: a resolved-schema change refuses loudly") {
    val root = Files.createTempDirectory("cdfpin").toString + "/tbl"
    val logDir = Files.createTempDirectory("cdfpinlog").toString
    val ckpt = Files.createTempDirectory("cdfpinckpt").toString
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "s").coalesce(1))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", root).load()
        .writeStream.format("parquet")
        .option("path", logDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream()
    val marker = new Path(ckpt, "sources/0/graft_cdf_schema")
    val f = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(marker), "the first start must pin the resolved schema")
    // normal restart (schema unchanged): proceeds
    TableVersions.append(spark, root, Seq((2L, "b")).toDF("k", "s").coalesce(1))
    runStream()
    assert(spark.read.parquet(logDir).count() === 2L)
    // simulate a checkpoint created by an OLDER reader: the pin lacks
    // the newest meta column — a restart must refuse loudly instead of
    // silently reshaping the consumer
    val pinned = {
      val in = f.open(marker)
      try org.apache.spark.sql.types.DataType.fromJson(
        new String(in.readAllBytes(), "UTF-8")).asInstanceOf[StructType]
      finally in.close()
    }
    val older = StructType(pinned.fields.dropRight(1))
    val out = f.create(marker, true)
    try out.write(older.json.getBytes("UTF-8")) finally out.close()
    TableVersions.append(spark, root, Seq((3L, "c")).toDF("k", "s").coalesce(1))
    val ex = intercept[Exception] { runStream() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage != null && c.getMessage.contains("schema changed")),
      s"expected the loud schema-pin refusal, got: $ex")
  }
}
