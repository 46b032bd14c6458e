package graft

import org.apache.spark.sql.functions._

import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.operators.{ChangeFeed, TableVersions}
import graft.runner.{Lakehouse, ZoneSink}

/** The lakehouse pipeline running ON the versioned table format:
  * incremental refresh through [[TableVersions.replacePartitions]]
  * equals a full rebuild, the whole refresh replays as a no-op
  * (exactly-once via txn records), the fact's output matches the
  * plain-parquet [[Lakehouse]] bit-for-bit, and a downstream summary
  * fed purely from the fact's change feed equals its one-shot twin
  * across restarts.
  */
class VersionedLakehouseSpec extends SparkSpec {

  private val cfg = Config.default
  private def gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

  test("versioned refresh equals full rebuild; crash-replay is a no-op; matches plain lakehouse") {
    val g = gen
    val rootA = java.nio.file.Files.createTempDirectory("vlake_a_").toString
    val lakeA = new Lakehouse(spark, rootA, cfg)
    lakeA.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    lakeA.buildFact()
    val affected = lakeA.refreshFactIncremental(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    assert(affected.nonEmpty)

    // crash-replay: the identical batch re-commits NOTHING on any table
    val versionsBefore = Seq(lakeA.vitalsRoot, lakeA.claimsRoot, lakeA.ehrRoot, lakeA.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get)
    val affected2 = lakeA.refreshFactIncremental(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    assert(affected2 === affected)
    val versionsAfter = Seq(lakeA.vitalsRoot, lakeA.claimsRoot, lakeA.ehrRoot, lakeA.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get)
    assert(versionsAfter === versionsBefore, "replayed batch must commit no new versions")

    // one full build over both batches — versioned and plain twins
    val rootB = java.nio.file.Files.createTempDirectory("vlake_b_").toString
    val lakeB = new Lakehouse(spark, rootB, cfg)
    lakeB.runEtl(g.messagesJson(spark, 3000).toDF("value"), batchId = 0L)
    lakeB.buildFact()
    val rootP = java.nio.file.Files.createTempDirectory("vlake_p_").toString
    val lakeP = new Lakehouse(spark, rootP, cfg, ZoneSink())
    lakeP.runEtl(g.messagesJson(spark, 3000).toDF("value"), batchId = 0L)
    lakeP.buildFact()

    val a = lakeA.fact
    assert(a.count() === lakeB.fact.count())
    assert(a.exceptAll(lakeB.fact).isEmpty && lakeB.fact.exceptAll(a).isEmpty,
      "incremental versioned refresh must equal the versioned full rebuild")
    val p = lakeP.fact.select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.exceptAll(p).isEmpty && p.exceptAll(a).isEmpty,
      "versioned fact must match the plain-parquet lakehouse fact")

    // ...and so must the REFRESHED fact: the same runEtl + one refresh on
    // sink zones lands the same rows as on table zones
    val rootQ = java.nio.file.Files.createTempDirectory("vlake_q_").toString
    val lakeQ = new Lakehouse(spark, rootQ, cfg, ZoneSink())
    lakeQ.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    lakeQ.buildFact()
    assert(lakeQ.refreshFactIncremental(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L) === affected)
    val q = lakeQ.fact.select(a.columns.map(col).toIndexedSeq: _*)
    assert(a.count() === q.count())
    assert(a.exceptAll(q).isEmpty && q.exceptAll(a).isEmpty,
      "refreshed fact on table zones must match the refreshed fact on sink zones")

    // health gates evaluate off the versioned snapshots
    assert(lakeA.gates() != null)

    // the refresh is an audited commit: CDF over the fact shows changes
    // confined to the affected dates
    val factV = TableVersions.currentVersion(spark, lakeA.factRoot).get
    val cdf = TableVersions.readChanges(spark, lakeA.factRoot, factV - 1, factV)
    val changedDates = cdf.select(col("measurement_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(changedDates.nonEmpty)
    assert(changedDates.subsetOf(affected.map(_.toString).toSet),
      "refresh must only touch affected date partitions")
  }

  test("pipelined buildFactWithRefresh equals serial buildFact + refreshFactIncremental") {
    val g = gen
    // serial reference flow
    val rootA = java.nio.file.Files.createTempDirectory("vlake_pipeA_").toString
    val lakeA = new Lakehouse(spark, rootA, cfg)
    lakeA.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    lakeA.buildFact()
    val affA = lakeA.refreshFactIncremental(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    // pipelined flow: the fact rebuild overlaps batch 2's ETL + appends
    // but pins its input snapshot BEFORE the appends, so the committed
    // fact and the swap must be bit-identical to the serial flow
    val rootB = java.nio.file.Files.createTempDirectory("vlake_pipeB_").toString
    val lakeB = new Lakehouse(spark, rootB, cfg)
    lakeB.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    val affB = lakeB.buildFactWithRefresh(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    assert(affB === affA, "pipelined refresh must report the same affected dates")
    val a = lakeA.fact
    val b = lakeB.fact
    assert(a.count() === b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "pipelined fact state must equal the serial flow's")
    // same commit structure on every table: overwrite then swap
    Seq(lakeA.factRoot -> lakeB.factRoot).foreach { case (ra, rb) =>
      assert(TableVersions.currentVersion(spark, ra) ===
        TableVersions.currentVersion(spark, rb))
    }
    // replaying the batch through the plain refresh still commits nothing
    val versionsBefore = Seq(lakeB.vitalsRoot, lakeB.claimsRoot, lakeB.ehrRoot, lakeB.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get)
    val affB2 = lakeB.refreshFactIncremental(
      g.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    assert(affB2 === affB)
    assert(Seq(lakeB.vitalsRoot, lakeB.claimsRoot, lakeB.ehrRoot, lakeB.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get) === versionsBefore)
  }

  test("streaming incremental fact on versioned zones: stream equals rebuild, replay commits nothing") {
    val g = gen
    // stream side: seeded versioned lakehouse, then 2 message files
    // replayed one per micro-batch through the txn-keyed refresh
    val rootS = java.nio.file.Files.createTempDirectory("vlake_s_").toString
    val lakeS = new Lakehouse(spark, rootS, cfg)
    lakeS.runEtl(g.messagesJson(spark, 1500).toDF("value"), batchId = -1L)
    lakeS.buildFact()
    g.messagesJson(spark, 800, offset = 1500).toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$rootS/in/b1")
    g.messagesJson(spark, 700, offset = 2300).toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$rootS/in/b2")
    val q = graft.streaming.StreamingEtl.startIncrementalFact(spark,
      graft.streaming.StreamingEtl.FileSource(s"$rootS/in/*", maxFilesPerTrigger = 1),
      lakeS, s"$rootS/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()

    // forced replay of the last streaming batch (crash between the
    // table commits and the checkpoint write): nothing re-commits on
    // any of the four tables
    val roots = Seq(lakeS.vitalsRoot, lakeS.claimsRoot, lakeS.ehrRoot, lakeS.factRoot)
    val lastBatch = TableVersions.lastTxn(spark, lakeS.vitalsRoot, "etl_vitals").get
    assert(lastBatch >= 0L, "streaming batches committed with their engine batch ids")
    val versionsBefore = roots.map(r => TableVersions.currentVersion(spark, r).get)
    lakeS.refreshFactIncremental(
      g.messagesJson(spark, 700, offset = 2300).toDF("value"), lastBatch)
    val versionsAfter = roots.map(r => TableVersions.currentVersion(spark, r).get)
    assert(versionsAfter === versionsBefore,
      "replayed streaming batch must commit no new versions end-to-end")

    // batch side: one full versioned build over all 3000 messages
    val rootB = java.nio.file.Files.createTempDirectory("vlake_sb_").toString
    val lakeB = new Lakehouse(spark, rootB, cfg)
    lakeB.runEtl(g.messagesJson(spark, 3000).toDF("value"), batchId = 0L)
    lakeB.buildFact()

    val s = lakeS.fact
    val b = lakeB.fact
    assert(s.count() === b.count() && s.count() > 0)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty,
      "stream-maintained versioned fact must equal the full rebuild")
  }

  test("change-feed-fed daily summary equals its one-shot twin across restarts") {
    val g = gen
    val root = java.nio.file.Files.createTempDirectory("vlake_cdf_").toString
    val lake = new Lakehouse(spark, root, cfg)
    lake.runEtl(g.messagesJson(spark, 1500).toDF("value"), batchId = 0L)
    lake.buildFact()

    val summaryRoot = s"$root/curated/daily_summary"
    val ckpt = s"$root/_summary_ckpt"
    def summarize(fact: org.apache.spark.sql.DataFrame) =
      fact.groupBy("measurement_date")
        .agg(count(lit(1)).as("n_encounters"),
          round(avg("heart_rate"), 4).as("avg_hr"))

    // consumer catches up to the initial build
    val applied1 = ChangeFeed.refreshPartitionsFrom(spark, lake.factRoot, summaryRoot,
      ckpt, "daily_summary", "measurement_date")(summarize)
    assert(applied1.nonEmpty)

    // two incremental refreshes land two more fact versions
    lake.refreshFactIncremental(g.messagesJson(spark, 600, offset = 1500).toDF("value"), 1L)
    lake.refreshFactIncremental(g.messagesJson(spark, 500, offset = 2100).toDF("value"), 2L)

    // "restart": a fresh catch-up applies both, then a replayed catch-up
    // (same checkpoint) applies nothing
    val applied2 = ChangeFeed.refreshPartitionsFrom(spark, lake.factRoot, summaryRoot,
      ckpt, "daily_summary", "measurement_date")(summarize)
    assert(applied2.size === 2)
    assert(ChangeFeed.refreshPartitionsFrom(spark, lake.factRoot, summaryRoot,
      ckpt, "daily_summary", "measurement_date")(summarize).isEmpty)

    // crash between apply and marker: rewind the marker one version —
    // the replayed version re-commits nothing (txn = consumer, version)
    val dstBefore = TableVersions.currentVersion(spark, summaryRoot).get
    val lastV = applied2.max
    val mp = new org.apache.hadoop.fs.Path(ckpt, "cdf_progress")
    val mfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = mfs.create(mp, true)
    try out.write((lastV - 1).toString.getBytes) finally out.close()
    val replayed = ChangeFeed.refreshPartitionsFrom(spark, lake.factRoot, summaryRoot,
      ckpt, "daily_summary", "measurement_date")(summarize)
    assert(replayed === Seq(lastV))
    assert(TableVersions.currentVersion(spark, summaryRoot).get === dstBefore,
      "replayed in-flight version must re-commit nothing downstream")

    // the CDF-fed summary equals a one-shot summary over the final fact
    val fed = TableVersions.read(spark, summaryRoot)
    val oneShot = summarize(TableVersions.read(spark, lake.factRoot))
      .select(fed.columns.map(col).toIndexedSeq: _*)
    assert(fed.count() === oneShot.count() && fed.count() > 0)
    assert(fed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(fed).isEmpty)
  }

  test("one etl.materialize per runEtl and per refresh; a replayed runEtl materializes nothing") {
    val g = gen
    val lake = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("vlake_mat_").toString, cfg)
    def materializations(): Int =
      TableVersions.opTimingDrainCalls().get("etl.materialize").fold(0)(_._1)
    TableVersions.opTimingEnable(true)
    try {
      lake.runEtl(g.messagesJson(spark, 600).toDF("value"), batchId = 0L)
      assert(materializations() === 1)
      lake.runEtl(g.messagesJson(spark, 600).toDF("value"), batchId = 0L)
      assert(materializations() === 0, "a replayed batch must skip the ETL pass")
      lake.buildFact()
      TableVersions.opTimingDrainCalls()
      lake.refreshFactIncremental(g.messagesJson(spark, 300, offset = 600).toDF("value"), batchId = 1L)
      assert(materializations() === 1)
    } finally TableVersions.opTimingEnable(false)
  }

  test("a torn affected-dates marker reads as lost: the full replay recomputes the original dates") {
    val g = gen
    val lake = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("vlake_marker_").toString, cfg)
    lake.runEtl(g.messagesJson(spark, 600).toDF("value"), batchId = 0L)
    lake.buildFact()
    def batch = g.messagesJson(spark, 300, offset = 600).toDF("value")
    val affected = lake.refreshFactIncremental(batch, batchId = 1L)
    assert(affected.size >= 2)
    val marker = java.nio.file.Paths.get(lake.factRoot, "_refresh", "last.dates")
    def markerLines() = java.nio.file.Files.readAllLines(marker).toArray.toSeq
    assert(markerLines() === "b1" +: affected.map(_.toString) :+ s"#${affected.size}")

    val crc = marker.resolveSibling(".last.dates.crc")
    assert(java.nio.file.Files.exists(crc))
    val versions = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get)
    // a crash mid-write leaves whole date lines but no count line: read
    // as given, the prefix would pass for the affected set. Once with the
    // checksum sidecar gone (a store without one), once with it stale.
    for (dropCrc <- Seq(true, false)) {
      if (dropCrc) java.nio.file.Files.delete(crc)
      java.nio.file.Files.write(marker,
        markerLines().take(1 + affected.size / 2).mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(lake.refreshFactIncremental(batch, batchId = 1L) === affected)
      assert(Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
        .map(r => TableVersions.currentVersion(spark, r).get) === versions)
      // the recomputing replay writes the marker whole again
      assert(markerLines() === "b1" +: affected.map(_.toString) :+ s"#${affected.size}")
      assert(java.nio.file.Files.exists(crc))
    }
  }

  test("one affected-dates marker: the last batch replays from it, an older batch recomputes and commits nothing") {
    val g = gen
    val lake = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("vlake_markers_").toString, cfg)
    lake.runEtl(g.messagesJson(spark, 600).toDF("value"), batchId = 0L)
    lake.buildFact()
    def batch(i: Int) = g.messagesJson(spark, 200, offset = 400 + 200 * i).toDF("value")
    val dates = (1 to 3).map(i => lake.refreshFactIncremental(batch(i), i.toLong))
    val markers = new java.io.File(lake.factRoot, "_refresh").list().filterNot(_.startsWith(".")).toSeq
    assert(markers === Seq("last.dates"), "three refreshes leave one marker")
    def versions() = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
      .map(r => TableVersions.currentVersion(spark, r).get)
    val before = versions()
    def materializations(): Int =
      TableVersions.opTimingDrainCalls().get("etl.materialize").fold(0)(_._1)
    TableVersions.opTimingEnable(true)
    try {
      TableVersions.opTimingDrainCalls()
      assert(lake.refreshFactIncremental(batch(3), 3L) === dates(2))
      assert(materializations() === 0, "the last batch replays from the marker")
      assert(lake.refreshFactIncremental(batch(1), 1L) === dates(0))
      assert(versions() === before, "an older batch's replay commits nothing")
      // ...and leaves the last batch's marker in place
      TableVersions.opTimingDrainCalls()
      assert(lake.refreshFactIncremental(batch(3), 3L) === dates(2))
      assert(materializations() === 0)
    } finally TableVersions.opTimingEnable(false)
  }
}
