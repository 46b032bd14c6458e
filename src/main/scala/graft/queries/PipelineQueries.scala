package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.marts.FactPatientEncounters
import graft.model.Config
import graft.operators.TableVersions
import graft.runner.Lakehouse
import graft.staging.Staging

/** Reference-pipeline layer: the healthcare flow itself over the seeded
  * generator (generator → ETL → staging → fact → reports, the `hc_*`
  * entries), runnable without external input and deterministic (seed 42,
  * fixed asOf). The `hc_*` entries have no oracle: the driver checks rows
  * and the golden ScalaTest specs check values. The two oracle-checked
  * twins run the same shapes over the driver's tables: the fact's full
  * grain (q127) and the runner end to end on the table format (q134).
  */
object PipelineQueries {
  lazy val entries: Seq[Query] = Seq(
    Query("hc_dim_patients", (s, _) => dimPatients(s, 4000), short = Some("hdp")),
    Query("hc_dim_providers", (s, _) => dimProviders(s, 4000), short = Some("hdq")),
    Query("hc_fact_encounters", (s, _) => factEncounters(s, 4000), short = Some("hfe")),
    Query("hc_stg_vitals", (s, _) => stgVitals(s, 4000), short = Some("hsv")),
    Query("hc_stg_claims", (s, _) => stgClaims(s, 4000), short = Some("hsc")),
    Query("hc_stg_ehr", (s, _) => stgEhr(s, 4000), short = Some("hse")),
    Query("hc_daily_monitoring", (s, _) => dailyMonitoring(s, 4000), short = Some("hdm")),
    Query("hc_claims_report", (s, _) => claimsReport(s, 4000), short = Some("hcr")),
    Query("hc_stream_etl", (s, _) => streamEtl(s, 4000), short = Some("hst")),
    Query("hc_dsv2_source", dsv2Source, short = Some("hds")),
    Query("q127_fact_grain", q127FactGrainTwin, Some(q127Sql), late = true),
    Query("q134_versioned_lakehouse", q134VersionedLakehouse, Some(q134Sql), late = true)
  )

  private val cfg = Config.default
  private def gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

  /** Materialization memo, keyed per SparkSession. The reference builds
    * its lakehouse incrementally: the ETL output and the dbt fact table
    * are materialized ONCE per run, and every report queries the
    * materialized table. Spark's cache manager can't provide that reuse
    * here by plan-matching alone — the generator's `map` lambdas make
    * each invocation's logical plan non-equal — so we memoize the cached
    * DataFrame explicitly. Derived queries (reports, dims, staging) all
    * share one generation + ETL + fact build per session.
    */
  // NOT a WeakHashMap: the cached DataFrame values strongly reference
  // their SparkSession key (Dataset holds sparkSession), which per
  // WeakHashMap's documented pitfall would pin every entry forever.
  // Instead entries for stopped sessions are purged eagerly on each
  // access — the map only ever holds a handful of live sessions.
  private val memo =
    new java.util.HashMap[SparkSession, scala.collection.concurrent.TrieMap[(String, Long), DataFrame]]()
  private def memoized(spark: SparkSession, key: String, n: Long)(build: => DataFrame): DataFrame = {
    val perSession = memo.synchronized {
      val it = memo.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      var m = memo.get(spark)
      if (m == null) { m = scala.collection.concurrent.TrieMap.empty; memo.put(spark, m) }
      m
    }
    perSession.getOrElseUpdate((key, n), build.cache())
  }

  /** Enriched ETL output for n generated messages (parse→filter→enrich). */
  def enriched(spark: SparkSession, n: Long): DataFrame =
    memoized(spark, "enriched", n)(enrichedFresh(spark, n))

  /** Non-memoized, non-cached variant: plan-assertion tests need a plan
    * the cache manager can't substitute (the generator's fresh lambdas
    * make it canonically unequal to any cached plan).
    */
  def enrichedFresh(spark: SparkSession, n: Long): DataFrame =
    gen.messagesJson(spark, n).toDF("value").transform(Etl.pipeline(cfg))

  def processedVitals(spark: SparkSession, n: Long): DataFrame =
    enriched(spark, n).transform(Etl.routeVitals)
  def processedClaims(spark: SparkSession, n: Long): DataFrame =
    enriched(spark, n).transform(Etl.routeClaims)
  def processedEhr(spark: SparkSession, n: Long): DataFrame =
    enriched(spark, n).transform(Etl.routeEhr)

  def stgVitals(spark: SparkSession, n: Long): DataFrame =
    processedVitals(spark, n).transform(Staging.stgPatientVitals(cfg))
  def stgClaims(spark: SparkSession, n: Long): DataFrame =
    processedClaims(spark, n).transform(Staging.stgInsuranceClaims(cfg))
  def stgEhr(spark: SparkSession, n: Long): DataFrame =
    processedEhr(spark, n).transform(Staging.stgEhrRecords(cfg))

  def factEncounters(spark: SparkSession, n: Long): DataFrame =
    memoized(spark, "fact", n) {
      val e = enriched(spark, n)
      FactPatientEncounters.build(cfg)(
        Etl.routeVitals(e).transform(Staging.stgPatientVitals(cfg)),
        Etl.routeClaims(e).transform(Staging.stgInsuranceClaims(cfg)),
        Etl.routeEhr(e).transform(Staging.stgEhrRecords(cfg)))
    }

  def dailyMonitoring(spark: SparkSession, n: Long): DataFrame =
    Reports.patientMonitoringReport(cfg)(factEncounters(spark, n))

  def claimsReport(spark: SparkSession, n: Long): DataFrame =
    Reports.claimsProcessingReport(cfg)(factEncounters(spark, n))

  /** Dimension models (architecture-doc gap, SURVEY §7.4 optional). */
  def dimPatients(spark: SparkSession, n: Long): DataFrame = {
    val e = enriched(spark, n)
    graft.marts.Dimensions.dimPatients(cfg)(
      Etl.routeVitals(e), Etl.routeClaims(e), Etl.routeEhr(e))
      .orderBy("patient_id")
  }

  def dimProviders(spark: SparkSession, n: Long): DataFrame = {
    val e = enriched(spark, n)
    graft.marts.Dimensions.dimProviders(cfg)(Etl.routeClaims(e), Etl.routeEhr(e))
      .orderBy("provider_id")
  }

  /** Streaming ETL demo: replay n generated messages through the
    * Structured Streaming pipeline (AvailableNow trigger), then report
    * per-table row counts from the streamed sinks. Exercises R1-R4
    * end-to-end; rows > 0 proves the stream ran and fanned out.
    */
  def streamEtl(spark: SparkSession, n: Long): DataFrame = memoized(spark, "stream", n) {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_stream_").toString
    gen.messagesJson(spark, n).toDF("value")
      .coalesce(4).write.mode("overwrite").text(s"$root/in")
    val q = graft.streaming.StreamingEtl.start(spark, s"$root/in", root,
      cfg, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    val counts = Seq("patient_vitals", "insurance_claims", "ehr_records").map { t =>
      (t, spark.read.parquet(s"$root/processed/$t").count())
    } :+ (("unknown_deadletter", spark.read.text(s"$root/errors/unknown_data").count()))
    import spark.implicits._
    counts.toDF("table", "rows").orderBy("table")
  }

  /** DataSource V2 generator table (S7 as a connector): filter pushdown +
    * column pruning exercised through the public format() API.
    */
  def dsv2Source(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("healthcare-gen").option("type", "vitals").option("n", 20000)
      .option("seed", 42).option("partitions", 8).load()
      .filter(col("heart_rate") > 100)
      .groupBy("location")
      .agg(count(lit(1)).as("n_alerts"))
      .orderBy("location")

  /** FACT-GRAIN TWIN (q127): the exact `fact_patient_encounters` shape
    * (SURVEY J1+J2+W1+W2+A1-A3, `fact_patient_encounters.sql:81-239`)
    * over the events table so the DuckDB oracle can hash the FULL grain:
    * purchases (vitals) LEFT band-join clicks (claims) within ±6h with a
    * ROW_NUMBER proximity rank, the result LEFT band-joins views (EHR)
    * with a second rank, then the wide GROUP BY over the whole grain —
    * conditional counts, the weighted complexity score and the
    * encounter-type/risk categorizations, with rank=1 primary
    * projections. Unlike the reference model, every window order is a
    * TOTAL order (diff, id tiebreaks) so the ranks are engine-exact.
    *
    * Scale shape (same as the fact): both joins and both windows
    * cluster on `user_id`, so Catalyst plans ONE exchange and reuses it
    * through both joins and both sorts; the band predicates stay
    * residuals on the equi-join, bounded by per-user event counts in
    * the ±6h window. The grain GROUP BY rides the same clustering.
    */
  def q127FactGrainTwin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("cu"),
        col("ts").as("c_ts"), col("value").as("c_value"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("vu"), col("ts").as("v_ts"))
    val cDiff = abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
    val j1 = p.join(c, col("user_id") === col("cu") && cDiff <= 21600000000L, "left")
      .withColumn("c_diff_us", cDiff)
      .withColumn("click_rank", row_number().over(
        Window.partitionBy(col("user_id"), col("p_id"))
          .orderBy(cDiff.asc, col("c_id").asc)))
      .drop("cu", "c_ts")
    val vDiff = abs(unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
    // W2 ranks over the J1 grain (click rows included), exactly like the
    // fact's ehr_proximity_rank — the c_id tiebreak totalizes the order
    val j2 = j1.join(v, col("user_id") === col("vu") && vDiff <= 21600000000L, "left")
      .withColumn("v_diff_us", vDiff)
      .withColumn("view_rank", row_number().over(
        Window.partitionBy(col("user_id"), col("p_id"))
          .orderBy(vDiff.asc, col("v_id").asc, col("c_id").asc)))
      .drop("vu", "v_ts")
    val grain = Seq("p_id", "user_id", "p_ts", "p_value", "c_id", "c_value",
      "c_diff_us", "click_rank", "v_id", "v_diff_us", "view_rank")
    j2.groupBy(grain.map(col): _*)
      .agg(
        countDistinct(col("c_id")).as("total_clicks"),
        countDistinct(col("v_id")).as("total_views"),
        sum(when(col("c_value") > 300.0, 1L).otherwise(0L)).as("high_value_clicks"))
      .withColumn("primary_click_id", when(col("click_rank") === 1, col("c_id")))
      .withColumn("primary_click_diff_us", when(col("click_rank") === 1, col("c_diff_us")))
      .withColumn("primary_view_id", when(col("view_rank") === 1, col("v_id")))
      // weighted composite (A3): integer weights in tenths, one exact
      // final division — engine-identical, no float accumulation
      .withColumn("complexity_score",
        (col("total_clicks") * 3 + col("total_views") * 2 +
          col("high_value_clicks") * 5) / lit(10.0))
      .withColumn("engagement_type",
        when(col("total_clicks") > 0 && col("total_views") > 0, "comprehensive")
          .when(col("total_clicks") > 0, "clicks_only")
          .when(col("total_views") > 0, "views_only")
          .otherwise("purchase_only"))
      .withColumn("value_band",
        when(col("p_value") > 400.0, "high")
          .when(col("p_value") > 200.0, "medium")
          .otherwise("low"))
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("primary_click_id"), col("primary_click_diff_us"), col("primary_view_id"),
        col("total_clicks"), col("total_views"), col("high_value_clicks"),
        col("complexity_score"), col("engagement_type"), col("value_band"))
      .orderBy("p_id", "primary_click_id", "primary_view_id")
  }

  val q127Sql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id AS cu, CAST(ts AS TIMESTAMP) AS c_ts, value AS c_value FROM events WHERE event_type = 'click'),
      |v AS (SELECT event_id AS v_id, user_id AS vu, CAST(ts AS TIMESTAMP) AS v_ts FROM events WHERE event_type = 'view'),
      |j1 AS (SELECT p.p_id, p.user_id, p.p_ts, p.p_value, c.c_id, c.c_value,
      |    abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS c_diff_us,
      |    ROW_NUMBER() OVER (PARTITION BY p.user_id, p.p_id
      |      ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) ASC, c.c_id ASC) AS click_rank
      |  FROM p LEFT JOIN c ON p.user_id = c.cu
      |    AND abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) <= 21600000000),
      |j2 AS (SELECT j1.p_id, j1.user_id, j1.p_ts, j1.p_value, j1.c_id, j1.c_value,
      |    j1.c_diff_us, j1.click_rank, v.v_id,
      |    abs(epoch_us(j1.p_ts) - epoch_us(v.v_ts)) AS v_diff_us,
      |    ROW_NUMBER() OVER (PARTITION BY j1.user_id, j1.p_id
      |      ORDER BY abs(epoch_us(j1.p_ts) - epoch_us(v.v_ts)) ASC, v.v_id ASC, j1.c_id ASC) AS view_rank
      |  FROM j1 LEFT JOIN v ON j1.user_id = v.vu
      |    AND abs(epoch_us(j1.p_ts) - epoch_us(v.v_ts)) <= 21600000000),
      |g AS (SELECT p_id, user_id, p_ts, p_value, c_id, c_value, c_diff_us, click_rank,
      |    v_id, v_diff_us, view_rank,
      |    COUNT(DISTINCT c_id) AS total_clicks,
      |    COUNT(DISTINCT v_id) AS total_views,
      |    CAST(SUM(CASE WHEN c_value > 300 THEN 1 ELSE 0 END) AS BIGINT) AS high_value_clicks
      |  FROM j2
      |  GROUP BY p_id, user_id, p_ts, p_value, c_id, c_value, c_diff_us, click_rank,
      |    v_id, v_diff_us, view_rank)
      |SELECT p_id, user_id, p_ts,
      |  CASE WHEN click_rank = 1 THEN c_id END AS primary_click_id,
      |  CASE WHEN click_rank = 1 THEN c_diff_us END AS primary_click_diff_us,
      |  CASE WHEN view_rank = 1 THEN v_id END AS primary_view_id,
      |  total_clicks, total_views, high_value_clicks,
      |  (total_clicks * 3 + total_views * 2 + high_value_clicks * 5) / 10.0 AS complexity_score,
      |  CASE WHEN total_clicks > 0 AND total_views > 0 THEN 'comprehensive'
      |       WHEN total_clicks > 0 THEN 'clicks_only'
      |       WHEN total_views > 0 THEN 'views_only'
      |       ELSE 'purchase_only' END AS engagement_type,
      |  CASE WHEN p_value > 400 THEN 'high'
      |       WHEN p_value > 200 THEN 'medium'
      |       ELSE 'low' END AS value_band
      |FROM g ORDER BY p_id, primary_click_id, primary_view_id""".stripMargin

  /** VERSIONED LAKEHOUSE END-TO-END (q134). Message mapping (all
    * derived from `event_id`/`user_id`/`value`/`ts` so DuckDB can
    * reproduce it): purchases → vitals, clicks → claims, views → EHR;
    * `event_id % 2 = 0` halves the volume; timestamps shift +924 days
    * so the Jan-2024 events land inside the fact's 30-day lookback
    * window ending at `cfg.asOf` (2026-08-12). Heart rates span
    * 40..209, so ~5% trip the ETL range-anomaly filter (P2/P3 doing
    * real work in the flow); everything else stays in-range.
    *
    * The pipeline runs as a deployment would: batch 1 (days 1-26) lands
    * with `runEtl` + `buildFact`, batch 2 (days 27-30) arrives as an
    * INCREMENTAL refresh — txn-keyed appends to the three processed
    * tables plus an atomic date-partition swap of the fact — and the
    * refresh is then REPLAYED with the same batch id, which must commit
    * nothing on any of the four tables (verified in-query). The report
    * groups the final fact by measurement date over rank-independent
    * grain columns (counts, distinct ids, exact heart-rate sum, decimal
    * claim totals), so the oracle needs no window functions — the
    * band-join grain cardinality and the zone machinery are what is
    * being certified (the rank semantics are q127's oracle).
    *
    * Scale shape: identical to the production runner — the incremental
    * refresh stages O(affected dates), the swap is one commit,
    * untouched partitions carry by reference, and the replay costs two
    * metadata reads. The report reads the fact through the commit-
    * backed FileIndex.
    */
  def q134VersionedLakehouse(spark: SparkSession, dir: String): DataFrame = {
    val cfg = Config.default
    val base = java.nio.file.Files.createTempDirectory("graft_tv").toString
    val e = Tables.events(spark, dir)
      .filter(col("event_id") % 2 === 0)
      .withColumn("sts", col("ts") + expr("INTERVAL 924 DAYS"))
      .withColumn("pid", concat(lit("P"), col("user_id")))
    val vitals = e.filter(col("event_type") === "purchase").select(col("ts"), to_json(struct(
      lit("patient_vitals").as("data_type"),
      col("pid").as("patient_id"),
      date_format(col("sts"), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"),
      (lit(40) + col("event_id") % 170).cast("int").as("heart_rate"),
      (lit(36.0) + (col("event_id") % 50) / 10.0).as("temperature"),
      concat(lit("DEV"), col("event_id") % 7).as("device_id"),
      concat(lit("W"), col("event_id") % 3).as("location"))).as("value"))
    val claims = e.filter(col("event_type") === "click").select(col("ts"), to_json(struct(
      lit("insurance_claim").as("data_type"),
      concat(lit("C"), col("event_id")).as("claim_id"),
      col("pid").as("patient_id"),
      concat(lit("PR"), col("event_id") % 20).as("provider_id"),
      date_format(col("sts"), "yyyy-MM-dd").as("service_date"),
      (col("value") + 1.0).as("total_amount"),
      element_at(array(lit("Medicare"), lit("Private"), lit("Self-Pay")),
        (col("event_id") % 3 + 1).cast("int")).as("insurance_type"),
      element_at(array(lit("Submitted"), lit("Under Review"), lit("Paid"), lit("Denied")),
        (col("event_id") % 4 + 1).cast("int")).as("claim_status"))).as("value"))
    val ehr = e.filter(col("event_type") === "view").select(col("ts"), to_json(struct(
      lit("ehr_record").as("data_type"),
      concat(lit("R"), col("event_id")).as("record_id"),
      col("pid").as("patient_id"),
      date_format(col("sts"), "yyyy-MM-dd").as("visit_date"),
      concat(lit("D"), col("event_id") % 5).as("diagnosis"))).as("value"))
    // batch1 (etl) and batch2 (refresh) both derive from the rendered
    // feed — persist it so the events scan + JSON render run ONCE, not
    // once per batch (the refresh previously re-rendered every message
    // just to filter out days 27-30). Bounded: one message string per
    // event. Unpersisted before the query returns.
    val msgs = vitals.unionByName(claims).unionByName(ehr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each union branch reads ONE parquet split, so without this the
    // whole render+parse chain would run on 3 tasks; a tiny shuffle of
    // the message strings buys full-width ETL parallelism (a real feed
    // arrives pre-partitioned — this reproduces that shape)
    val batch1 = msgs.filter(dayofmonth(col("ts")) <= 26).select("value").repartition(32)
    val batch2 = msgs.filter(dayofmonth(col("ts")) > 26).select("value").repartition(32)

    val lake = new Lakehouse(spark, s"$base/vlake", cfg)
    lake.runEtl(batch1, batchId = 0L)
    // full fact rebuild PIPELINED with batch 2's ETL + appends
    // (Lakehouse.buildFactWithRefresh: the rebuild's input
    // snapshot pins before the appends start, so the committed fact and
    // the swap are bit-identical to the serial buildFact+refresh flow)
    val affected = lake.buildFactWithRefresh(batch2, batchId = 1L)
    require(affected.nonEmpty, "the day-27..30 batch must touch fact partitions")
    // exactly-once: replaying the refresh commits nothing on any table
    val roots = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
    val before = roots.map(r => TableVersions.currentVersion(spark, r).get)
    lake.refreshFactIncremental(batch2, batchId = 1L)
    require(roots.map(r => TableVersions.currentVersion(spark, r).get) == before,
      "replayed refresh must be a no-op end-to-end")

    // rank-independent report columns only: the fact's grain count, its
    // per-row 0/1 claim/EHR indicators and per-row claim value are
    // invariant under proximity-rank tie ordering (the rank semantics
    // themselves are q127's totalized oracle)
    val res = lake.fact
      .groupBy(to_date(col("measurement_timestamp")).as("measurement_date"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("patient_id")).cast("long").as("n_patients"),
        sum(col("total_claims")).cast("long").as("n_claim_rows"),
        sum(col("total_ehr_records")).cast("long").as("n_ehr_rows"),
        sum(when(col("encounter_type") === "comprehensive", 1L).otherwise(0L))
          .as("n_comprehensive"),
        sum(col("heart_rate")).cast("long").as("sum_hr"),
        round(sum(col("total_claim_value").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("claims_total"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    msgs.unpersist()
    rmTree(base)
    out.orderBy("measurement_date")
  }

  val q134Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value,
      |    date_trunc('second', CAST(ts AS TIMESTAMP) + INTERVAL 924 DAY) AS sts
      |  FROM events WHERE event_id % 2 = 0),
      |v AS (
      |  SELECT 'P' || CAST(user_id AS VARCHAR) AS patient_id, sts AS mts,
      |    40 + event_id % 170 AS heart_rate
      |  FROM ev WHERE event_type = 'purchase' AND 40 + event_id % 170 <= 200),
      |c AS (
      |  SELECT 'C' || CAST(event_id AS VARCHAR) AS claim_id,
      |    'P' || CAST(user_id AS VARCHAR) AS patient_id,
      |    CAST(sts AS DATE) AS service_date, value + 1.0 AS total_amount
      |  FROM ev WHERE event_type = 'click'),
      |eh AS (
      |  SELECT 'R' || CAST(event_id AS VARCHAR) AS record_id,
      |    'P' || CAST(user_id AS VARCHAR) AS patient_id, CAST(sts AS DATE) AS visit_date
      |  FROM ev WHERE event_type = 'view'),
      |j1 AS (
      |  SELECT v.patient_id, v.mts, v.heart_rate, c.claim_id, c.total_amount
      |  FROM v LEFT JOIN c ON v.patient_id = c.patient_id
      |    AND abs(datediff('day', c.service_date, CAST(v.mts AS DATE))) <= 7),
      |j2 AS (
      |  SELECT j1.*, eh.record_id
      |  FROM j1 LEFT JOIN eh ON j1.patient_id = eh.patient_id
      |    AND abs(datediff('day', eh.visit_date, CAST(j1.mts AS DATE))) <= 7)
      |SELECT CAST(mts AS DATE) AS measurement_date,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT patient_id) AS BIGINT) AS n_patients,
      |  CAST(COUNT(claim_id) AS BIGINT) AS n_claim_rows,
      |  CAST(COUNT(record_id) AS BIGINT) AS n_ehr_rows,
      |  CAST(SUM(CASE WHEN claim_id IS NOT NULL AND record_id IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_comprehensive,
      |  CAST(SUM(heart_rate) AS BIGINT) AS sum_hr,
      |  round(CAST(SUM(CAST(total_amount AS DECIMAL(38,2))) AS DOUBLE), 4) AS claims_total
      |FROM j2 GROUP BY 1 ORDER BY measurement_date""".stripMargin
}
