package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.operators.{IvfIndex, TableVersions}
import graft.operators.TableVersions.MergeUpdate
import graft.runner.Lakehouse
import graft.streaming.IndexPipeline

/** Failure exits of the operations that overlap driver threads. Each
  * failure is driven through the operation's inputs so that it lands
  * AFTER the overlap started (the main-thread materializations succeed,
  * a later stage fails). A failed operation must surface its own
  * error with the others suppressed, leave no fork or job running,
  * leave the table bit-identical to the pre-operation version, and
  * leave nothing that a vacuum does not sweep.
  */
class ForkFaultSpec extends SparkSpec {
  import spark.implicits._

  /** A partition value no filesystem accepts as a directory name: the
    * staged write of a row carrying it fails in its tasks.
    */
  private val tooLong = "x" * 300

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def mentions(e: Throwable, text: String): Boolean =
    chain(e).exists(t => Option(t.getMessage).exists(_.contains(text)))

  /** Live engine driver threads, except the long-lived footer-stats
    * pool and admin heartbeat.
    */
  private def forkThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName).filter(n =>
      n.startsWith("graft-") && n != "graft-stats" && n != "graft-admin-heartbeat")

  /** Nothing of the operation still runs: no overlap thread is alive, and
    * the status store (fed asynchronously by the listener bus) shows no
    * active job once it caught up.
    */
  private def assertQuiet(): Unit = {
    assert(forkThreads.isEmpty, s"fork threads outlived the operation: $forkThreads")
    val st = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 2000000000L
    while (st.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10L)
    assert(st.getActiveJobIds.isEmpty, "a job of the failed operation is still active")
  }

  /** (version, order-insensitive row-hash sum, row count). */
  private def fingerprint(root: String): (Option[Long], java.math.BigDecimal, Long) = {
    val df = TableVersions.read(spark, root)
    val r = df.agg(
      sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
      count(lit(1))).head()
    (TableVersions.currentVersion(spark, root),
      Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO), r.getLong(1))
  }

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Every parquet file of the table outside its commit log. */
  private def parquetFiles(root: String): Set[String] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala
      .map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/_versions/"))
      .toSet
    finally s.close()
  }

  /** Files the current version references: data files and DV sidecars. */
  private def live(root: String): Set[String] = {
    val st = TableVersions.commitState(spark, root)
    (st.files.map(_.path) ++ st.dvs.values.map(_._1)).map(norm).toSet
  }

  /** A vacuum that keeps every version leaves exactly the pre-op files
    * plus whatever a commit of the operation references — no staged
    * debris of the failed part.
    */
  private def assertNoDebris(root: String, before: Set[String]): Unit = {
    TableVersions.vacuum(spark, root, keepVersions = 1000, graceMs = 0L)
    assert(parquetFiles(root) === before ++ live(root), s"staged debris left under $root")
  }

  /** Run `op`, expecting it to fail with `own` in its error chain. */
  private def failing(own: String)(op: => Any): Throwable = {
    val e = intercept[Throwable](op)
    assert(mentions(e, own), s"the operation's own error must surface, got: $e")
    assertQuiet()
    e
  }

  private def seedTable(root: String, partitioned: Boolean): Unit = {
    val df = (0 until 2000).map(i => (i.toLong, s"p${i % 4}", i * 10L)).toDF("k", "p", "v")
      .repartition(4)
    TableVersions.append(spark, root, df, partitionBy = if (partitioned) Seq("p") else Nil)
    TableVersions.setTableProperty(spark, root, "enableChangeFeed", "true")
  }

  test("upsert (merge-on-read, change feed on): a failed image stage joins the CDC and DV forks") {
    val root = tmp("fault_upsert")
    seedTable(root, partitioned = true)
    val fp = fingerprint(root)
    val files = parquetFiles(root)
    val updates = (0 until 10).map(i => (i.toLong, tooLong, -1L)).toDF("k", "p", "v")
    failing(s"__gp_p=$tooLong") {
      TableVersions.upsert(spark, root, updates, "k", maxDvFraction = 0.5)
    }
    assert(fingerprint(root) === fp)
    assertNoDebris(root, files)
  }

  test("merge (merge-on-read, change feed on): the images' own error surfaces, the CDC fork's is suppressed") {
    val root = tmp("fault_merge")
    seedTable(root, partitioned = false)
    val fp = fingerprint(root)
    val files = parquetFiles(root)
    val src = (0 until 10).map(i => (i.toLong, 1L)).toDF("k", "w")
    failing("merge boom") {
      TableVersions.merge(spark, root, src, on = Seq("k"),
        matched = Seq(MergeUpdate(Map("v" -> "raise_error('merge boom')"))),
        maxDvFraction = 0.5)
    }
    assert(fingerprint(root) === fp)
    assertNoDebris(root, files)
  }

  test("SQL UPDATE on the deletion-vector path: a failed insert stage joins the sidecar fork") {
    val w = TestCatalog.warehouse(spark)
    spark.sql("CREATE TABLE graft.db.fault_upd (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.db.fault_upd SELECT id, concat('p', id % 4), id * 10 " +
      "FROM range(0, 2000)")
    val root = s"$w/db/fault_upd"
    val fp = fingerprint(root)
    val files = parquetFiles(root)
    failing(s"__gp_p=$tooLong") {
      spark.sql(s"UPDATE graft.db.fault_upd SET p = '$tooLong' WHERE k < 5")
    }
    assert(fingerprint(root) === fp)
    assertNoDebris(root, files)
  }

  private val cfg = Config.default
  private def gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

  test("refreshFactIncremental: a failed route append joins its sibling routes and the affected-dates fork") {
    val g = gen
    val lake = new Lakehouse(spark, tmp("fault_refresh"), cfg)
    lake.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    lake.buildFact()
    val batch = g.messagesJson(spark, 1000, offset = 2000).toDF("value")
    // a CHECK the stored vitals satisfy and one vitals row of the batch breaks
    def stamps(df: DataFrame) = df.select(col("timestamp").cast("string")).as[String].collect()
    val stored = stamps(lake.processedVitals).toSet
    val fresh = stamps(Etl.routeVitals(batch.transform(Etl.pipeline(cfg))))
      .find(t => t != null && !stored(t)).get
    TableVersions.addConstraint(spark, lake.vitalsRoot, "not_fresh",
      s"timestamp <> TIMESTAMP'$fresh'")
    val roots = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
    val fps = Seq(lake.vitalsRoot, lake.factRoot).map(fingerprint)
    val files = roots.map(parquetFiles)
    failing("violates CHECK constraint 'not_fresh'") {
      lake.refreshFactIncremental(batch, batchId = 1L)
    }
    assert(Seq(lake.vitalsRoot, lake.factRoot).map(fingerprint) === fps)
    roots.zip(files).foreach { case (r, f) => assertNoDebris(r, f) }
  }

  test("buildFactWithRefresh: the refresh's own error surfaces, the rebuild's is suppressed") {
    val g = gen
    val lake = new Lakehouse(spark, tmp("fault_pipelined"), cfg)
    lake.runEtl(g.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    // the pinned rebuild reads a vitals file that is gone...
    Files.delete(Paths.get(norm(TableVersions.listing(spark, lake.vitalsRoot).head._1)))
    // ...and the refresh fails on its own, in its ETL, before the barrier
    val batch = g.messagesJson(spark, 1000, offset = 2000).toDF("value")
      .withColumn("value", when(col("value").contains("\"patient_vitals\""),
        raise_error(lit("refresh boom"))).otherwise(col("value")))
    val e = failing("refresh boom") { lake.buildFactWithRefresh(batch, batchId = 1L) }
    assert(e.getSuppressed.length === 1, "the rebuild's error rides along as suppressed")
    assert(!mentions(e.getSuppressed.head, "refresh boom"))
  }

  test("evaluateGates: a failed vitals scan surfaces and cancels the overlapped fact aggregate") {
    // the fact's rows take a minute each; the vitals scan fails after two
    // seconds, while the fork's job runs
    val slowTs = udf { (i: Long) => Thread.sleep(60000L); new java.sql.Timestamp(i) }
    val fact = spark.range(0, 2, 1, 2).select(slowTs(col("id")).as("measurement_timestamp"),
      lit("high_risk").as("risk_level"), lit("comprehensive").as("encounter_type"),
      lit(1.0).as("encounter_complexity_score"))
    val failingTs = udf { (i: Long) =>
      Thread.sleep(2000L)
      if (i >= 0L) throw new IllegalStateException("vitals scan boom")
      new java.sql.Timestamp(i)
    }
    val vitals = spark.range(0, 1, 1, 1)
      .select(failingTs(col("id")).as("processed_at"), lit(1.0).as("data_quality_score"))
    // the fork's jobs carry the scope's tag; record how each one ended
    val forkJobs = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-forks-"))) { forkJobs.put(e.jobId, false); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (forkJobs.containsKey(e.jobId)) { forkJobs.put(e.jobId, e.jobResult == JobSucceeded); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val e = try failing("vitals scan boom") { Reports.evaluateGates(cfg)(vitals, fact) }
      finally spark.sparkContext.removeSparkListener(listener)
    assert((System.nanoTime() - t0) / 1e9 < 30.0, "the fact aggregate ran on instead of being cancelled")
    assert(e.getSuppressed.exists(_.isInstanceOf[SparkException]),
      "the cancelled fact aggregate's error rides along as suppressed")
    assert(!forkJobs.isEmpty && !forkJobs.containsValue(true),
      s"the fork's job was cancelled, not completed: $forkJobs")
  }

  test("IndexPipeline.processBatch: a failed LSH store cancels the semantic and term stores") {
    val dims = 64
    val cents = IvfIndex.frozenCentroids(8, dims).map { case (c, a) => (c.toLong, a) }
    val docs = (0 until 40).map { i =>
      (i.toLong, s"document $i about spark tables and vectors ${i % 5}",
        Array.tabulate(dims)(d => math.sin(i * 0.37 + d)))
    }.toDF("doc_id", "text", "embedding")
    val roots = IndexPipeline.Roots(tmp("fault_index") + "/idx")
    IndexPipeline.processBatch(roots, docs, 0L, cents)
    val fp = fingerprint(roots.corpus)
    val files = parquetFiles(roots.corpus)
    // replaying batch 0 re-commits nothing to the corpus; the LSH store's
    // pair emission then rejects the band count inside its fork
    failing("bands must divide numHashes") {
      IndexPipeline.processBatch(roots, docs, 0L, cents, bands = 5)
    }
    assert(fingerprint(roots.corpus) === fp)
    assertNoDebris(roots.corpus, files)
    IndexPipeline.processBatch(roots, docs, 0L, cents) // a valid replay repairs every store
  }
}
