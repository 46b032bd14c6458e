package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Config
import graft.operators.TableVersions
import graft.runner.Lakehouse

/** Round-11 oracle query: the VERSIONED LAKEHOUSE end-to-end (q134) —
  * the flagship runner itself under the DuckDB hash gate, not just
  * specs. Events are rendered as deterministic healthcare JSON
  * messages, pushed through the full pipeline ON the table format
  * (`runEtl` → `buildFact` → `refreshFactIncremental` → replayed
  * refresh as a txn no-op), and the daily fact report is read back;
  * the oracle computes the same report one-shot in SQL from the events
  * table with the ETL/staging/fact semantics inlined (the q132
  * "feed-driven must converge to one-shot" pattern applied to the
  * whole healthcare pipeline; ref: dbt_project.yml:27-30 table
  * materialization + healthcare_etl_pipeline.py's ETL graph).
  */
object Round11Queries {

  private def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

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

    // phase attribution (diagnostic; QTIME_PHASE lines when
    // SPARK_GRAFT_PHASES=1 — where q134's wall seconds live)
    def phase[A](tag: String)(body: => A): A =
      if (!sys.env.contains("SPARK_GRAFT_PHASES")) body
      else {
        val t0 = System.nanoTime()
        try body
        finally println(f"QTIME_PHASE q134/$tag ${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    val lake = new Lakehouse(spark, s"$base/vlake", cfg)
    phase("etl1") { lake.runEtl(batch1, batchId = 0L) }
    // full fact rebuild PIPELINED with batch 2's ETL + appends
    // (Lakehouse.buildFactWithRefresh: the rebuild's input
    // snapshot pins before the appends start, so the committed fact and
    // the swap are bit-identical to the serial buildFact+refresh flow)
    val affected = phase("fact+refresh") {
      lake.buildFactWithRefresh(batch2, batchId = 1L) }
    require(affected.nonEmpty, "the day-27..30 batch must touch fact partitions")
    // exactly-once: replaying the refresh commits nothing on any table
    val roots = Seq(lake.vitalsRoot, lake.claimsRoot, lake.ehrRoot, lake.factRoot)
    val before = roots.map(r => TableVersions.currentVersion(spark, r).get)
    phase("replay") { lake.refreshFactIncremental(batch2, batchId = 1L) }
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

  /** COLUMN MAPPING end-to-end (q135): orders lands range-clustered,
    * `o_totalprice` RENAMES to `price` and `o_custkey` DROPS — both
    * metadata-only commits on immutable files — then an append arrives
    * under the NEW names and a stats-pruned delete runs with LOGICAL
    * bounds (translated to the files' physical stats). The final read
    * aggregates under the logical names; the oracle computes the same
    * state in SQL with the rename expressed as an alias and the drop as
    * an omitted column — the mapping machinery must be invisible to
    * query semantics.
    *
    * Scale shape: the rename and drop are each ONE small commit
    * regardless of table size (the Delta name-mode contract); reads
    * keep planning from physical commit stats, so the delete's
    * candidate set and the final scan prune exactly as before the
    * rename.
    */
  def q135ColumnMapping(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_cm"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    TableVersions.append(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    TableVersions.renameColumn(spark, root, "o_totalprice", "price")
    TableVersions.dropColumn(spark, root, "o_custkey")
    // correction batch under the POST-RENAME schema
    TableVersions.append(spark, root, orders.filter(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_orderdate"), col("o_totalprice").as("price")))
    // stats-pruned delete: logical predicate + logical bounds, physical stats
    TableVersions.deleteWhere(spark, root,
      col("price") > 50000.0 && col("o_orderkey") <= 30000L,
      bounds = Map("o_orderkey" -> (0.0, 30000.0)))
    val res = TableVersions.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("price").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(root.stripSuffix("/orders_cm"))
    out.orderBy("month")
  }

  /** GENERAL MERGE INTO (q136): the full ANSI/Delta MERGE statement
    * over the versioned format, certified end-to-end. Two merges run
    * against an orders table:
    *
    *  1. a CDC batch — updates (`op='U'`: price + 1000 for keys % 7 =
    *     0), deletes (`op='D'`: keys % 7 = 3) and conditioned inserts
    *     (`op='I'`: new 20M+ keys at a 500 discount) — through the
    *     MERGE-ON-READ path (`maxDvFraction = 0.5`): the ~29% changed
    *     rows tombstone into deletion-vector sidecars and only the new
    *     images append, no candidate file rewrites;
    *  2. a retention merge — WHEN NOT MATCHED BY SOURCE against the
    *     active-key set (keys % 5 = 0): stale rows older than
    *     1995-01-01 DELETE, the rest flag `o_orderstatus = 'S'` —
    *     a full rewrite that also folds the step-1 DVs away.
    *
    * The oracle reproduces both merges as plain SQL set operations;
    * the report is the month × status order count/value rollup of the
    * final state, so clause routing (first-match-wins), the DV
    * tombstones, and the by-source rewrite must all be semantically
    * invisible.
    *
    * Scale shape: merge 1 is the CDC workhorse — commit-stats key
    * pruning picks candidate files, one inner join finds touched
    * files, and the DV commit writes O(changed + batch) bytes (Delta's
    * documented MERGE architecture re-expressed as Catalyst plans).
    * Merge 2's full rewrite is forced by BY SOURCE semantics (no key
    * range can prune "rows with no match"), which is exactly Delta's
    * caveat for that clause.
    * Ref: the dbt incremental materializations the reference compiles
    * to BigQuery MERGE (dbt_project.yml:27-30).
    */
  def q136MergeInto(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    import TableVersions.{MergeDelete, MergeInsert, MergeUpdate}
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_mg"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"), col("o_totalprice"))
    TableVersions.append(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))

    val upd = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_orderdate"),
        (col("o_totalprice") + 1000.0).as("amount"))
    val del = orders.filter(col("o_orderkey") % 7 === 3)
      .select(col("o_orderkey"), lit("D").as("op"), col("o_orderdate"),
        col("o_totalprice").as("amount"))
    val ins = orders.filter(col("o_orderkey") % 101 === 0)
      .select((col("o_orderkey") + 20000000L).as("o_orderkey"), lit("I").as("op"),
        col("o_orderdate"), (col("o_totalprice") - 500.0).as("amount"))
    val v1 = TableVersions.merge(spark, root, upd.unionByName(del).unionByName(ins),
      on = Seq("o_orderkey"),
      matched = Seq(
        MergeUpdate(Map("o_totalprice" -> "s.amount"), Some("s.op = 'U'")),
        MergeDelete(Some("s.op = 'D'"))),
      notMatched = Seq(MergeInsert(Map(
        "o_orderkey" -> "s.o_orderkey", "o_orderdate" -> "s.o_orderdate",
        "o_orderstatus" -> "'N'", "o_totalprice" -> "s.amount"), Some("s.op = 'I'"))),
      maxDvFraction = 0.5)
    require(v1.isDefined, "CDC merge must commit")
    require(TableVersions.commitState(spark, root).dvs.nonEmpty,
      "the CDC merge must take the merge-on-read path (DV sidecars present)")

    val active = orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey"))
    val v2 = TableVersions.merge(spark, root, active, on = Seq("o_orderkey"),
      notMatchedBySource = Seq(
        MergeDelete(Some("t.o_orderdate < DATE'1995-01-01'")),
        MergeUpdate(Map("o_orderstatus" -> "'S'"))))
    require(v2.isDefined, "retention merge must commit")
    require(TableVersions.commitState(spark, root).dvs.isEmpty,
      "the by-source rewrite must fold the DVs away")

    val res = TableVersions.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(root.stripSuffix("/orders_mg"))
    out.orderBy("month", "status")
  }

  /** CHANGE DATA FEED WITH UPDATE IMAGES (q137): the exact CDC-out
    * surface under the oracle hash gate. An orders table commits with
    * `enableChangeFeed=true`, a CDC upsert lands through the
    * merge-on-read (deletion-vector) path and a general MERGE through
    * the rewrite path — both writing explicit change-data sidecars —
    * and `readChanges(updateImages = true)` is aggregated per
    * (step, change type): update_preimage/update_postimage/delete/
    * insert counts, key sums and price totals. The oracle reproduces
    * every image from the base `orders` parquet by composing the two
    * state transitions in SQL — the merge's preimages must reflect the
    * UPSERT's postimages (state composition), which is exactly what a
    * downstream incremental consumer depends on.
    *
    * Scale shape: sidecars cost O(changed rows) at write; the feed read
    * is one scan of the sidecars (no diffing, no full-table read) —
    * the Delta `delta.enableChangeDataFeed` architecture.
    * Ref semantics: BigQuery change history / Datastream CDC, the
    * reference's implied consumption path for processed-zone tables
    * (healthcare_etl_pipeline.py:296-339 sinks).
    */
  def q137ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    import TableVersions.{MergeDelete, MergeInsert, MergeUpdate}
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_cdf"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"), col("o_totalprice"))
    TableVersions.append(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val vProp = TableVersions.setTableProperty(
      spark, root, TableVersions.ChangeFeedProp, "true")

    // step 1: CDC upsert (merge-on-read path) — updates every %13 key,
    // inserts a +30M twin of every %97 key
    val upd = orders.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 500)
    val ins = orders.filter(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + 30000000L).as("o_orderkey"), col("o_orderdate"),
        lit("N").as("o_orderstatus"), (col("o_totalprice") - 250).as("o_totalprice"))
    val vU = TableVersions.upsert(spark, root, upd.unionByName(ins), "o_orderkey",
      maxDvFraction = 0.5).get
    require(TableVersions.commitState(spark, root).dvs.nonEmpty,
      "the CDC upsert must take the merge-on-read path (DV sidecars present)")

    // step 2: general MERGE (rewrite path) — touches %12=1 (update
    // via target arithmetic) and %12=2 (delete) keys, inserts +60M
    // twins of %151 keys. %12∩%13 keys exist, so the merge's preimages
    // must compose with the upsert's postimages.
    val src = orders.filter(col("o_orderkey") % 12 === 1)
        .select(col("o_orderkey"), lit("U").as("op"), col("o_orderdate"),
          col("o_totalprice").as("amount"))
      .unionByName(orders.filter(col("o_orderkey") % 12 === 2)
        .select(col("o_orderkey"), lit("D").as("op"), col("o_orderdate"),
          col("o_totalprice").as("amount")))
      .unionByName(orders.filter(col("o_orderkey") % 151 === 0)
        .select((col("o_orderkey") + 60000000L).as("o_orderkey"), lit("I").as("op"),
          col("o_orderdate"), (col("o_totalprice") + 0.75).as("amount")))
    val vM = TableVersions.merge(spark, root, src, on = Seq("o_orderkey"),
      matched = Seq(
        MergeUpdate(Map("o_totalprice" -> "t.o_totalprice + 1000"), Some("s.op = 'U'")),
        MergeDelete(Some("s.op = 'D'"))),
      notMatched = Seq(MergeInsert(Map(
        "o_orderkey" -> "s.o_orderkey", "o_orderdate" -> "s.o_orderdate",
        "o_orderstatus" -> "'X'", "o_totalprice" -> "s.amount"), Some("s.op = 'I'")))).get

    val res = TableVersions.readChanges(spark, root, vProp, vM, updateImages = true)
      .withColumn("step",
        when(col("_commit_version") === vU, lit("upsert")).otherwise(lit("merge")))
      .groupBy(col("step"), col("_change_type").as("change_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("o_orderkey")).cast("long").as("sum_key"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(root.stripSuffix("/orders_cdf"))
    out.orderBy("step", "change_type")
  }

  val q137Sql: String =
    """WITH s1 AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 500
      |         ELSE o_totalprice END AS p
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 30000000, 'N', o_totalprice - 250
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |ch AS (
      |  SELECT 'upsert' AS step, 'update_preimage' AS change_type,
      |    o_orderkey AS k, o_totalprice AS p FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT 'upsert', 'update_postimage', o_orderkey, o_totalprice + 500
      |  FROM orders WHERE o_orderkey % 13 = 0
      |  UNION ALL
      |  SELECT 'upsert', 'insert', o_orderkey + 30000000, o_totalprice - 250
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT 'merge', 'update_preimage', k, p
      |  FROM s1 WHERE k % 12 = 1 AND k < 30000000
      |  UNION ALL
      |  SELECT 'merge', 'update_postimage', k, p + 1000
      |  FROM s1 WHERE k % 12 = 1 AND k < 30000000
      |  UNION ALL
      |  SELECT 'merge', 'delete', k, p
      |  FROM s1 WHERE k % 12 = 2 AND k < 30000000
      |  UNION ALL
      |  SELECT 'merge', 'insert', o_orderkey + 60000000, o_totalprice + 0.75
      |  FROM orders WHERE o_orderkey % 151 = 0)
      |SELECT step, change_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_key,
      |  round(CAST(SUM(CAST(p AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM ch GROUP BY 1, 2 ORDER BY step, change_type""".stripMargin

  /** SQL CATALOG END-TO-END (q138): the `GraftCatalog` DML surface
    * under the oracle hash gate — CREATE TABLE / INSERT INTO / DELETE
    * FROM / a second INSERT / time travel (`VERSION AS OF`) all through
    * `spark.sql` on a session with NO build-time extensions (two conf
    * lines register the catalog, the exact deployment shape the
    * driver's sessions need). Every statement lands on the format's
    * transactional commits: v0 CREATE, v1 INSERT (atomic append), v2
    * DELETE (commit-stats-pruned rewrite), v3 INSERT. The result
    * aggregates the FINAL state and the `VERSION AS OF 1` snapshot in
    * one frame — the time-travel read must see through the later
    * delete.
    *
    * The catalog instance is cached by the session at first use, so the
    * warehouse conf is set once per JVM and each invocation uses a
    * UUID table name (Bench runs every query twice).
    *
    * Ref semantics: the reference's BigQuery dataset DDL+DML surface
    * (terraform/main.tf:195-245; healthcare_data_pipeline_dag.py report
    * SQL over named tables).
    */
  def q138SqlCatalog(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    if (!spark.conf.getOption("spark.sql.catalog.graft.warehouse").exists(_.nonEmpty))
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val tbl = s"graft.db.o_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      t(spark, dir, "orders").createOrReplaceTempView("orders_src_q138")
      spark.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_orderdate DATE, o_totalprice DOUBLE)")
      spark.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_orderstatus, o_orderdate, " +
        "o_totalprice FROM orders_src_q138")
      spark.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F'")
      spark.sql(s"INSERT INTO $tbl SELECT o_orderkey + 20000000, 'Z', o_orderdate, " +
        "o_totalprice + 111.5 FROM orders_src_q138 WHERE o_orderkey % 131 = 0")
      val res = spark.sql(
        s"""SELECT 'final' AS stage, o_orderstatus AS status,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
           |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
           |FROM $tbl GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'v1', o_orderstatus, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
           |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4)
           |FROM $tbl VERSION AS OF 1 GROUP BY o_orderstatus
           |UNION ALL
           |SELECT 'stats', '*', CAST(count(*) AS BIGINT),
           |  CAST(min(o_orderkey) + max(o_orderkey) AS BIGINT),
           |  round(max(o_totalprice), 4)
           |FROM $tbl""".stripMargin)
      graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
        .orderBy("stage", "status")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      ()
    }
  }

  val q138Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice FROM orders),
      |fin AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS p
      |  FROM base WHERE o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, 'Z', o_totalprice + 111.5
      |  FROM base WHERE o_orderkey % 131 = 0),
      |ch AS (
      |  SELECT 'final' AS stage, status, k, p FROM fin
      |  UNION ALL
      |  SELECT 'v1', o_orderstatus, o_orderkey, o_totalprice FROM base)
      |SELECT stage, status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_key,
      |  round(CAST(sum(CAST(p AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM ch GROUP BY 1, 2
      |UNION ALL
      |SELECT 'stats', '*', CAST(count(*) AS BIGINT),
      |  CAST(min(k) + max(k) AS BIGINT), round(max(p), 4)
      |FROM fin
      |ORDER BY stage, status""".stripMargin

  /** SQL ROW-LEVEL DML END-TO-END (q139): UPDATE, an
    * arbitrary-predicate DELETE, and MERGE INTO — all through
    * `spark.sql` on a catalog table via the delta-based row-level
    * protocol (`SupportsDelta`): per-task spills, tombstones as
    * deletion vectors under the fraction guard, one atomic commit per
    * statement. The modulo predicates have no `sources.Filter` form,
    * so every statement exercises the row-level path (not the
    * metadata delete), and their selectivities are uniform in the
    * dense keyspace, so the MoR-vs-rewrite routing is
    * scale-independent. The oracle composes the three state
    * transitions in SQL — update, then delete, then merge (whose
    * matched set must reflect the delete).
    */
  def q139SqlDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    if (!spark.conf.getOption("spark.sql.catalog.graft.warehouse").exists(_.nonEmpty))
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val tbl = s"graft.db.d_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      t(spark, dir, "orders").createOrReplaceTempView("orders_src_q139")
      spark.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_orderdate DATE, o_totalprice DOUBLE)")
      spark.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_orderstatus, o_orderdate, " +
        "o_totalprice FROM orders_src_q139")
      spark.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 100 WHERE o_orderkey % 7 = 0")
      spark.sql(s"DELETE FROM $tbl WHERE o_orderkey % 11 = 3")
      spark.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT o_orderkey AS k, CAST(NULL AS DATE) AS d, CAST(NULL AS DOUBLE) AS p
           |  FROM orders_src_q139 WHERE o_orderkey % 13 = 0 AND o_orderkey % 11 <> 3
           |  UNION ALL
           |  SELECT o_orderkey + 40000000, o_orderdate, o_totalprice
           |  FROM orders_src_q139 WHERE o_orderkey % 201 = 0) s
           |ON t.o_orderkey = s.k
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice * 2
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_orderdate,
           |  o_totalprice) VALUES (s.k, 'M', s.d, s.p - 3.25)""".stripMargin)
      val res = spark.sql(
        s"""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
           |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
           |FROM $tbl GROUP BY o_orderstatus ORDER BY status""".stripMargin)
      graft.CacheScope.trackCheckpoint(res.localCheckpoint(true)).orderBy("status")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      ()
    }
  }

  val q139Sql: String =
    """WITH s1 AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
      |         ELSE o_totalprice END AS p
      |  FROM orders),
      |s2 AS (SELECT * FROM s1 WHERE k % 11 <> 3),
      |s3 AS (
      |  SELECT k, st, CASE WHEN k % 13 = 0 THEN p * 2 ELSE p END AS p FROM s2
      |  UNION ALL
      |  SELECT o_orderkey + 40000000, 'M', o_totalprice - 3.25
      |  FROM orders WHERE o_orderkey % 201 = 0)
      |SELECT st AS status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_key,
      |  round(CAST(sum(CAST(p AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM s3 GROUP BY 1 ORDER BY status""".stripMargin

  val q136Sql: String =
    """WITH m1 AS (
      |  SELECT o_orderkey AS k, o_orderdate AS d, o_orderstatus AS st,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS p
      |  FROM orders WHERE o_orderkey % 7 <> 3
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, o_orderdate, 'N', o_totalprice - 500
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |m2 AS (
      |  SELECT k, d, st, p FROM m1 WHERE k % 5 = 0 AND k < 20000000
      |  UNION ALL
      |  SELECT k, d, 'S', p FROM m1
      |  WHERE NOT (k % 5 = 0 AND k < 20000000) AND d >= DATE '1995-01-01')
      |SELECT strftime(d, '%Y-%m') AS month, st AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(p AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM m2 GROUP BY 1, 2 ORDER BY month, status""".stripMargin

  val q135Sql: String =
    """WITH c AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice AS price FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderdate, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 0)
      |SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM c WHERE NOT (price > 50000 AND o_orderkey <= 30000)
      |GROUP BY 1 ORDER BY month""".stripMargin

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
