package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SQL, window and aggregate layer over the driver's tables: the
  * reference's report, quality and categorization shapes (A1–A11, P1–P5,
  * F17/F22) and the engine-completeness SQL around them — window frames
  * and ranking, grouping sets, pivots, set operations, percentiles and
  * statistics, recursive CTEs, profiling, sketches and sampling.
  */
object SqlQueries {
  import Tables.{events, t}

  lazy val entries: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01PricingSummary, Some(q01Sql)),
    Query("q04_top_orders_per_customer", q04TopOrdersPerCustomer, Some(q04Sql)),
    Query("q05_daily_event_report", q05DailyEventReport, Some(q05Sql)),
    Query("q06_order_daily_report", q06OrderDailyReport, Some(q06Sql)),
    Query("q07_quality_score", q07QualityScore, Some(q07Sql)),
    Query("q08_range_validate", q08RangeValidate, Some(q08Sql)),
    Query("q09_quality_filter", q09QualityFilter, Some(q09Sql)),
    Query("q10_value_categorize", q10ValueCategorize, Some(q10Sql)),
    Query("q11_freshness", q11Freshness, Some(q11Sql)),
    Query("q12_top_events", q12TopEvents, Some(q12Sql)),
    Query("q13_buyer_error_users", q13BuyerErrorUsers, Some(q13Sql)),
    Query("q29_window_lag", q29WindowLag, Some(q29Sql)),
    Query("q30_rollup", q30Rollup, Some(q30Sql)),
    Query("q33_sessionize", q33Sessionize, Some(q33Sql)),
    Query("q34_percentiles", q34Percentiles, Some(q34Sql)),
    Query("q36_cube", q36Cube, Some(q36Sql)),
    Query("q37_pivot", q37Pivot, Some(q37Sql)),
    Query("q38_above_avg", q38AboveAvg, Some(q38Sql)),
    Query("q40_deciles", q40Deciles, Some(q40Sql)),
    Query("q41_weekly_cumulative", q41WeeklyCumulative, Some(q41Sql)),
    Query("q42_strings", q42Strings, Some(q42Sql)),
    Query("q44_json", q44Json, Some(q44Sql)),
    Query("q45_distinct_users", q45DistinctUsers, Some(q45Sql)),
    Query("q46_rank_family", q46RankFamily, Some(q46Sql)),
    Query("q47_datetime_suite", q47DatetimeSuite, Some(q47Sql)),
    Query("q48_sliding_window", q48SlidingWindow, Some(q48Sql)),
    Query("q49_setops_regexp", q49SetOpsRegexp, Some(q49Sql)),
    Query("q51_episodes", q51Episodes, Some(q51Sql)),
    Query("q52_value_windows", q52ValueWindows, Some(q52Sql)),
    Query("q54_null_funcs", q54NullFuncs, Some(q54Sql)),
    Query("q55_stats", q55Stats, Some(q55Sql)),
    Query("q56_corr_regr", q56CorrRegr, Some(q56Sql)),
    Query("q57_gapfill", q57GapFill, Some(q57Sql)),
    Query("q61_bag_setops", q61BagSetOps, Some(q61Sql)),
    Query("q62_array_suite", q62ArraySuite, Some(q62Sql)),
    Query("q63_tumbling_window", q63TumblingWindow, Some(q63Sql)),
    Query("q65_grouping_sets", q65GroupingSets, Some(q65Sql)),
    Query("q66_listagg_mode", q66ListaggMode, Some(q66Sql)),
    Query("q71_histogram", q71Histogram, Some(q71Sql)),
    Query("q72_salted_agg", q72SaltedAgg, Some(q72Sql)),
    Query("q73_scd2_replay", q73Scd2Replay, Some(q73Sql)),
    Query("q76_topk_agg", q76TopkAgg, Some(q76Sql)),
    Query("q77_schema_evolution", q77SchemaEvolution, Some(q77Sql)),
    Query("q78_unpivot", q78Unpivot, Some(q78Sql)),
    Query("q80_recursive_cte", q80RecursiveCte, Some(q80Sql)),
    Query("q81_session_window", q81SessionWindow, Some(q81Sql)),
    Query("q84_profile", q84Profile, Some(q84Sql)),
    Query("q92_heavy_hitters", q92HeavyHitters, Some(q92Sql)),
    Query("q93_hash_sample", q93HashSample, Some(q93Sql)),
    Query("q94_bitmap_distinct", q94BitmapDistinct, Some(q94Sql)),
    Query("q95_hll_rollup", q95HllRollup),
    Query("q97_zscore_outliers", q97ZscoreOutliers, Some(q97Sql))
  )

  /** A1/A2 wide aggregation with conditional counts (TPC-H Q1 shape;
    * mirrors `fact_patient_encounters.sql:188-196`). Single hash-agg with
    * partial map-side combine; no join, one shuffle on the 6-value group
    * key — optimal at any scale.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), DP).as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), DP).as("sum_charge"),
        (decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (decSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (decSum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"),
        sum(when(col("l_quantity") > 30, 1).otherwise(0)).cast("long").as("high_qty_lines"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_base_price,
      |  round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_disc_price,
      |  round(CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(24,8))) AS DOUBLE), 4) AS sum_charge,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)/COUNT(*) AS avg_qty,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)/COUNT(*) AS avg_price,
      |  round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)/COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order,
      |  CAST(SUM(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS high_qty_lines
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** W1/O2: per-group top-k via ROW_NUMBER + rank filter (the
    * rank-then-keep pattern of `fact_patient_encounters.sql:107-110,
    * 173-186`, expressed the `filter(rank<=k)` way so Spark's
    * InferWindowGroupLimit turns it into a per-partition top-k instead of
    * a full sort — SURVEY §4).
    */
  def q04TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy("o_custkey", "rn")

  val q04Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** A7: daily monitoring report — group by day, conditional alert counts,
    * averages, ordered DESC (`healthcare_data_pipeline_dag.py:215-228`
    * mapped onto events; fixed as-of anchor 2024-01-31).
    */
  def q05DailyEventReport(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-24 00:00:00")))
      .groupBy(to_date(col("ts")).as("date"))
      .agg(
        count(lit(1)).as("total_events"),
        count(when(col("event_type") === "error", 1)).as("error_count"),
        count(when(col("event_type") === "purchase", 1)).as("purchase_count"),
        count(when(col("value") > 400, 1)).as("high_value_count"),
        (decSum(col("value")) / count(lit(1))).as("avg_value"))
      .orderBy(col("date").desc)

  val q05Sql: String =
    """SELECT CAST(ts AS DATE) AS date,
      |  COUNT(*) AS total_events,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
      |  COUNT(CASE WHEN value > 400 THEN 1 END) AS high_value_count,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)/COUNT(*) AS avg_value
      |FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-24 00:00:00'
      |GROUP BY CAST(ts AS DATE) ORDER BY date DESC""".stripMargin

  /** A8: claims-processing daily report shape
    * (`healthcare_data_pipeline_dag.py:243-255` on orders: daily volumes,
    * value, per-status conditional counts, averages).
    */
  def q06OrderDailyReport(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-06-01 00:00:00")))
      .groupBy(to_date(col("o_orderdate")).as("date"))
      .agg(
        count(lit(1)).as("total_orders"),
        decSum(col("o_totalprice")).as("total_value"),
        count(when(col("o_orderstatus") === "F", 1)).as("finished_orders"),
        count(when(col("o_orderstatus") === "O", 1)).as("open_orders"),
        count(when(col("o_orderstatus") === "P", 1)).as("pending_orders"),
        (decSum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"))
      .orderBy(col("date").desc)

  val q06Sql: String =
    """SELECT CAST(o_orderdate AS DATE) AS date,
      |  COUNT(*) AS total_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value,
      |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_orders,
      |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders,
      |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS pending_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4)/COUNT(*) AS avg_order_value
      |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
      |GROUP BY CAST(o_orderdate AS DATE) ORDER BY date DESC""".stripMargin

  /** A11: the row-wise quality-score fold (start 1.0, fixed penalties,
    * clamp ≥0 — `healthcare_etl_pipeline.py:143-159`) aggregated per type.
    */
  def q07QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val score = greatest(lit(0.0),
      lit(1.0)
        - when(col("value") > 400, 0.3).otherwise(0.0)
        - when(col("event_type") === "error", 0.2).otherwise(0.0)
        - when(col("props").isNull, 0.2).otherwise(0.0))
    events(spark, dir)
      // rounded to 6dp: Spark computes the penalties in binary doubles
      // (1.0-0.3-0.2 = 0.4999...94) while DuckDB folds the same literals
      // as exact decimals (= 0.5); rounding reconciles the two
      .withColumn("q", round(score, 6))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("q").cast(DecimalType(18, 6))).cast("double") / count(lit(1))).as("avg_quality"),
        min(col("q")).as("min_quality"),
        max(col("q")).as("max_quality"))
      .orderBy("event_type")
  }

  val q07Sql: String =
    """WITH scored AS (
      |  SELECT event_type,
      |    round(greatest(0.0, 1.0
      |      - (CASE WHEN value > 400 THEN 0.3 ELSE 0.0 END)
      |      - (CASE WHEN event_type = 'error' THEN 0.2 ELSE 0.0 END)
      |      - (CASE WHEN props IS NULL THEN 0.2 ELSE 0.0 END)), 6) AS q
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE), 4)/COUNT(*) AS avg_quality,
      |  MIN(q) AS min_quality, MAX(q) AS max_quality
      |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P2+P5: range-validate-to-NULL projection plus anomaly flags, per row
    * (`stg_patient_vitals.sql:24-58` / `healthcare_etl_pipeline.py:84-100`
    * shape on events).
    */
  def q08RangeValidate(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      col("user_id"),
      when(col("value").between(1.0, 450.0), col("value")).as("value_validated"),
      when(col("value").between(1.0, 450.0), false).otherwise(true).as("value_anomaly"),
      when(col("event_type").isin("click", "view", "purchase", "signup", "error"), col("event_type"))
        .as("event_type_validated"))
      .orderBy("event_id")

  val q08Sql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN value BETWEEN 1.0 AND 450.0 THEN value END AS value_validated,
      |  CASE WHEN value BETWEEN 1.0 AND 450.0 THEN FALSE ELSE TRUE END AS value_anomaly,
      |  CASE WHEN event_type IN ('click','view','purchase','signup','error') THEN event_type END AS event_type_validated
      |FROM events ORDER BY event_id""".stripMargin

  /** P1+P3: required-field + range quality filter
    * (`healthcare_etl_pipeline.py:109-121` shape).
    */
  def q09QualityFilter(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type").isNotNull && col("props").isNotNull &&
        col("value").between(0.01, 100000.0) && !(col("value") > 450))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  val q09Sql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_type IS NOT NULL AND props IS NOT NULL
      |  AND value BETWEEN 0.01 AND 100000.0 AND NOT (value > 450)
      |ORDER BY event_id""".stripMargin

  /** F22/F17: chained CASE bucketing + lifecycle mapping
    * (`stg_insurance_claims.sql:120-159` shape) with grouped rollup.
    */
  def q10ValueCategorize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("value_category",
        when(col("o_totalprice") < 1000, "low_value")
          .when(col("o_totalprice") < 10000, "medium_value")
          .when(col("o_totalprice") < 100000, "high_value")
          .otherwise("very_high_value"))
      .withColumn("lifecycle_stage",
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "P", "pending")
          .otherwise("unknown"))
      .groupBy("value_category", "lifecycle_stage")
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_value"))
      .orderBy("value_category", "lifecycle_stage")

  val q10Sql: String =
    """SELECT
      |  CASE WHEN o_totalprice < 1000 THEN 'low_value'
      |       WHEN o_totalprice < 10000 THEN 'medium_value'
      |       WHEN o_totalprice < 100000 THEN 'high_value'
      |       ELSE 'very_high_value' END AS value_category,
      |  CASE WHEN o_orderstatus = 'O' THEN 'open'
      |       WHEN o_orderstatus = 'F' THEN 'finished'
      |       WHEN o_orderstatus = 'P' THEN 'pending'
      |       ELSE 'unknown' END AS lifecycle_stage,
      |  COUNT(*) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM orders GROUP BY 1, 2 ORDER BY value_category, lifecycle_stage""".stripMargin

  /** A5+A10+F6: freshness & staleness probe with a fixed as-of anchor
    * (`healthcare_data_pipeline_dag.py:163-169,312-317`).
    * Anchor 2024-01-31T00:00:00Z = 1706659200000000 µs.
    */
  def q11Freshness(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).agg(
      count(when(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-30 00:00:00")), 1))
        .as("recent_records"),
      max(col("ts")).as("latest_timestamp"),
      ((lit(1706659200000000L) - unix_micros(max(col("ts")))) / lit(60000000L)).cast("long")
        .as("minutes_since_last_update"))

  val q11Sql: String =
    """SELECT
      |  COUNT(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 END) AS recent_records,
      |  MAX(CAST(ts AS TIMESTAMP)) AS latest_timestamp,
      |  CAST((1706659200000000 - epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 60000000 AS BIGINT) AS minutes_since_last_update
      |FROM events""".stripMargin

  /** O1/O3: ordered top-10 page (`hipaa_compliance_checker.py:183-190`). */
  def q12TopEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .orderBy(col("value").desc, col("event_id").asc)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(10)

  val q12Sql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |ORDER BY value DESC, event_id ASC LIMIT 10""".stripMargin

  /** §2.7 set operation: INTERSECT of two filtered projections. */
  def q13BuyerErrorUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    e.filter(col("event_type") === "purchase").select(col("user_id"))
      .intersect(e.filter(col("event_type") === "error").select(col("user_id")))
      .orderBy("user_id")
  }

  val q13Sql: String =
    """SELECT user_id FROM events WHERE event_type = 'purchase'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  /** Engine-completeness window functions beyond the reference's
    * ROW_NUMBER: lag/lead with event-time deltas per user session.
    */
  def q29WindowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("prev_purchase_id", lag(col("event_id"), 1).over(w))
      .withColumn("next_purchase_id", lead(col("event_id"), 1).over(w))
      .withColumn("us_since_prev", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("purchase_seq", row_number().over(w))
      .select(col("event_id"), col("user_id"), col("purchase_seq"),
        col("prev_purchase_id"), col("next_purchase_id"), col("us_since_prev"))
      .orderBy("event_id")
  }

  val q29Sql: String =
    """SELECT event_id, user_id,
      |  ROW_NUMBER() OVER w AS purchase_seq,
      |  LAG(event_id, 1) OVER w AS prev_purchase_id,
      |  LEAD(event_id, 1) OVER w AS next_purchase_id,
      |  epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w AS us_since_prev
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
      |ORDER BY event_id""".stripMargin

  /** Rollup aggregation (multi-level subtotals in one pass). */
  def q30Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("total_value"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val q30Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Sessionization (batch twin of the streaming `session_window`): a new
    * session starts after a >30-minute gap per user; classic lag +
    * cumulative-sum formulation, then per-session stats.
    */
  def q33Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val gapped = events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000L)).cast("long")
          .as("duration_s"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"))
      .orderBy("user_id", "session_seq")
  }

  val q33Sql: String =
    """WITH g AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    LAG(CAST(ts AS TIMESTAMP), 1) OVER w AS prev_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)),
      |s AS (
      |  SELECT *, CAST(SUM(CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT) AS duration_s,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases
      |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin

  /** Exact interpolated percentiles per group (both engines use linear
    * interpolation over the sorted values — order-independent and
    * engine-portable; rounded 6dp for residual float safety).
    */
  def q34Percentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        round(expr("percentile(value, 1.0)"), 6).as("p100"))
      .orderBy("event_type")

  val q34Sql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  round(quantile_cont(value, 1.0), 6) AS p100
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CUBE with grouping_id: all 4 subtotal combinations in one pass
    * (completes the grouping-set family next to q30's ROLLUP).
    */
  def q36Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_value"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q36Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Pivot: per-day event counts, one column per event type (fixed value
    * list for schema determinism; coalesce to 0 because pivot yields null
    * for absent combinations while conditional COUNT yields 0).
    */
  def q37Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(tp => coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
      .orderBy("day")
  }

  val q37Sql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Correlated scalar aggregate: per customer, orders priced above that
    * customer's own average. Spark formulation is the decorrelated
    * groupBy+join plan (what Catalyst rewrites the subquery to); the
    * oracle keeps the correlated-subquery form. The average is an exact
    * decimal sum cast to double, so both engines compare against the
    * identical value.
    */
  def q38AboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val avgs = o.groupBy(col("o_custkey").as("ak"))
      .agg((sum(col("o_totalprice").cast(D)).cast("double") / count(lit(1))).as("avg_price"))
    o.join(avgs, col("o_custkey") === col("ak"))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_above"), decSum(col("o_totalprice")).as("value_above"))
      .orderBy("o_custkey")
  }

  val q38Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_above,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS value_above
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** ntile deciles over account balance with per-decile stats (global
    * analytic window — inherently single-partition sort; at 100 TB the
    * same shape runs per-partition-key or via approx quantiles, q34).
    */
  def q40Deciles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("c_acctbal").asc, col("c_custkey").asc)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        decSum(col("c_acctbal")).as("total_bal"))
      .orderBy("decile")

  val q40Sql: String =
    """WITH d AS (
      |  SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
      |  FROM customer)
      |SELECT decile, COUNT(*) AS n_customers, MIN(c_acctbal) AS min_bal,
      |  MAX(c_acctbal) AS max_bal,
      |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_bal
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  /** Weekly revenue with a running cumulative total. The cumulative sum
    * runs over DECIMAL so the running value is exact in both engines
    * (sequential double accumulation would be engine-private).
    */
  def q41WeeklyCumulative(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(to_date(date_trunc("week", col("o_orderdate"))).as("wk"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice").cast(D)).as("wk_rev_d"))
      .withColumn("cum_rev", round(sum(col("wk_rev_d")).over(
        Window.orderBy(col("wk").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"), 4))
      .select(col("wk"), col("n_orders"),
        round(col("wk_rev_d").cast("double"), 4).as("wk_rev"), col("cum_rev"))
      .orderBy("wk")

  val q41Sql: String =
    """WITH w AS (
      |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS wk_rev_d
      |  FROM orders GROUP BY 1)
      |SELECT wk, n_orders, round(CAST(wk_rev_d AS DOUBLE), 4) AS wk_rev,
      |  round(CAST(SUM(wk_rev_d) OVER (ORDER BY wk ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS cum_rev
      |FROM w ORDER BY wk""".stripMargin

  /** String-function suite over customer names (all in the portable
    * Java∩DuckDB semantics subset; names are ASCII).
    */
  def q42Strings(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lpad(col("c_name"), 25, "*").as("padded"),
        substring(col("c_name"), 1, 8).as("prefix"),
        translate(col("c_name"), "0123456789", "##########").as("masked"),
        levenshtein(lower(col("c_name")), lit("customer")).as("lev"),
        length(col("c_name")).as("len"))
      .orderBy("c_custkey")

  val q42Sql: String =
    """SELECT c_custkey, upper(c_name) AS uname, lpad(c_name, 25, '*') AS padded,
      |  substring(c_name, 1, 8) AS prefix,
      |  translate(c_name, '0123456789', '##########') AS masked,
      |  CAST(levenshtein(lower(c_name), 'customer') AS INT) AS lev,
      |  CAST(length(c_name) AS INT) AS len
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** JSON extraction + aggregation over the events.props payload
    * (semi-structured column family: get_json_object ↔ ->> ).
    */
  def q44Json(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        (sum(col("k").cast(D)).cast("double") / count(lit(1))).as("avg_k_raw"))
      .select(col("event_type"), col("n"), col("min_k"), col("max_k"),
        round(col("avg_k_raw"), 6).as("avg_k"))
      .orderBy("event_type")

  val q44Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(MIN(CAST(props->>'$.k' AS INT)) AS INT) AS min_k,
      |  CAST(MAX(CAST(props->>'$.k' AS INT)) AS INT) AS max_k,
      |  round(CAST(SUM(CAST(CAST(props->>'$.k' AS INT) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact COUNT(DISTINCT) per group outside the fact grain (the HLL
    * approximate twin is spec-checked against this in SamplingHllSpec —
    * sketches aren't portable SQL).
    */
  def q45DistinctUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        countDistinct(to_date(col("ts"))).as("n_active_days"))
      .orderBy("event_type")

  val q45Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
      |  COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_active_days
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The full ranking-function family over one deterministic ordering
    * (rank/dense_rank ties are real: o_totalprice collides). percent_rank
    * and cume_dist are exact small-integer ratios — identical IEEE
    * division in both engines.
    */
  def q46RankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .filter(col("rn") <= 50)
      .orderBy("o_orderpriority", "rn")
  }

  val q46Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
      |    round(percent_rank() OVER w, 6) AS prank, round(cume_dist() OVER w, 6) AS cdist
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC))
      |SELECT * FROM r WHERE rn <= 50 ORDER BY o_orderpriority, rn""".stripMargin

  /** Date/time function suite in the portable Spark∩DuckDB subset:
    * extract family, truncation, date arithmetic, last_day.
    */
  def q47DatetimeSuite(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        date_add(to_date(col("o_orderdate")), 90).as("due_date"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), to_date(col("o_orderdate"))).as("age_days"))
      .orderBy("o_orderkey")

  val q47Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y, CAST(quarter(o_orderdate) AS INT) AS q,
      |  CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS due_date,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days
      |FROM orders WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin

  /** Episode extraction over the event stream: maximal runs of ≥3
    * consecutive high-value events per user (the oracle-gated face of
    * [[graft.operators.Episodes]]; same lag+cumsum run-id idiom with the
    * q33 tie-break discipline — (ts, event_id) total order per user).
    */
  def q51Episodes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("abn", col("value") > 50.0)
      .withColumn("entered",
        when(col("abn") && !coalesce(lag(col("abn"), 1).over(w), lit(false)), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("entered")).over(run))
      .filter(col("abn"))
      .groupBy(col("user_id"), col("run_id"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"), round(max(col("value")), 4).as("peak_value"))
      .filter(col("n_events") >= 3)
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"), col("peak_value"))
      .orderBy("user_id", "start_ts")
  }

  val q51Sql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    value > 50.0 AS abn,
      |    LAG(value > 50.0, 1) OVER w AS prev_abn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)),
      |r AS (
      |  SELECT *, CAST(SUM(CASE WHEN abn AND NOT COALESCE(prev_abn, false)
      |      THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM g)
      |SELECT user_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
      |  COUNT(*) AS n_events, round(MAX(value), 4) AS peak_value
      |FROM r WHERE abn GROUP BY user_id, run_id
      |HAVING COUNT(*) >= 3
      |ORDER BY user_id, start_ts""".stripMargin

  /** Value-positional window functions (first/last/nth over an explicit
    * ROWS frame — the default RANGE frame cuts last_value at the current
    * row, so the full-partition frame is spelled out identically in both
    * engines) plus boolean aggregates.
    */
  def q52ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .groupBy(col("o_custkey"))
      .agg(max(col("first_order")).as("first_order"),
        max(col("last_order")).as("last_order"),
        max(col("second_order")).as("second_order"),
        count(lit(1)).as("n_orders"),
        bool_and(col("o_orderkey") > 0).as("all_positive"),
        bool_or(col("o_orderkey") % 100 === 0).as("any_century"))
      .orderBy("o_custkey")
  }

  val q52Sql: String =
    """WITH v AS (
      |  SELECT o_custkey, o_orderkey,
      |    first_value(o_orderkey) OVER w AS first_order,
      |    last_value(o_orderkey) OVER w AS last_order,
      |    nth_value(o_orderkey, 2) OVER w AS second_order
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |SELECT o_custkey, MAX(first_order) AS first_order, MAX(last_order) AS last_order,
      |  MAX(second_order) AS second_order, COUNT(*) AS n_orders,
      |  bool_and(o_orderkey > 0) AS all_positive,
      |  bool_or(o_orderkey % 100 = 0) AS any_century
      |FROM v GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Conditional null-handling suite: nullif / ifnull / least / greatest
    * with nulls (both engines skip nulls in least/greatest) over primary
    * claim-ish shapes.
    */
  def q54NullFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(default)")).as("seg_defaulted"),
        least(col("c_acctbal"), lit(0.0)).as("neg_part"),
        greatest(col("c_acctbal"), lit(0.0)).as("pos_part"),
        when(col("c_acctbal") < 0, col("c_acctbal")).as("bal_if_neg"),
        least(when(col("c_acctbal") < 0, col("c_acctbal")), lit(-1.0)).as("least_with_null"))
      .orderBy("c_custkey")

  val q54Sql: String =
    """SELECT c_custkey,
      |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(default)') AS seg_defaulted,
      |  least(c_acctbal, 0.0) AS neg_part,
      |  greatest(c_acctbal, 0.0) AS pos_part,
      |  CASE WHEN c_acctbal < 0 THEN c_acctbal END AS bal_if_neg,
      |  least(CASE WHEN c_acctbal < 0 THEN c_acctbal END, -1.0) AS least_with_null
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Statistical aggregates with engine-portable determinism: variance
    * and stddev derived from exact decimal Σx and Σx² (the built-in
    * stddev/var are single-pass float accumulations whose result depends
    * on partitioning), rounded 4dp.
    */
  def q55Stats(spark: SparkSession, dir: String): DataFrame = {
    val sx = sum(col("value").cast(DP))
    val sx2 = sum((col("value") * col("value")).cast(DP))
    val n = count(lit(1)).cast("double")
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(((sx2.cast("double") - sx.cast("double") * sx.cast("double") / n) / (n - 1)), 4)
          .as("var_samp"),
        round(sqrt((sx2.cast("double") - sx.cast("double") * sx.cast("double") / n) / (n - 1)), 4)
          .as("stddev_samp"))
      .orderBy("event_type")
  }

  val q55Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  round((CAST(SUM(CAST(value*value AS DECIMAL(24,8))) AS DOUBLE)
      |    - CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE)
      |      * CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1), 4) AS var_samp,
      |  round(sqrt((CAST(SUM(CAST(value*value AS DECIMAL(24,8))) AS DOUBLE)
      |    - CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE)
      |      * CAST(SUM(CAST(value AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1)), 4) AS stddev_samp
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Set-operation chain — ((A UNION B) EXCEPT C) INTERSECT D — with
    * regexp_extract capture groups on the way out (both engines return ''
    * on no-match). Completes §2.7 beyond q13's INTERSECT and q31's
    * EXISTS/NOT EXISTS pair.
    */
  def q49SetOpsRegexp(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val excl = c.filter(col("c_nationkey") < 5).select("c_custkey")
    val withOrders = t(spark, dir, "orders").select(col("o_custkey").as("c_custkey"))
    val keys = a.union(b).distinct().except(excl).intersect(withOrders)
    keys.join(c, "c_custkey")
      .select(col("c_custkey"), col("c_name"),
        regexp_extract(col("c_name"), "Customer#([0-9]+)", 1).cast("long").as("cust_num"))
      .orderBy("c_custkey")
  }

  val q49Sql: String =
    """WITH k AS (
      |  ((SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    UNION
      |    SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |   EXCEPT
      |   SELECT c_custkey FROM customer WHERE c_nationkey < 5)
      |  INTERSECT
      |  SELECT o_custkey FROM orders)
      |SELECT c.c_custkey, c.c_name,
      |  CAST(regexp_extract(c.c_name, 'Customer#([0-9]+)', 1) AS BIGINT) AS cust_num
      |FROM k JOIN customer c ON k.c_custkey = c.c_custkey
      |ORDER BY c.c_custkey""".stripMargin

  /** Sliding time-range window frame (RANGE BETWEEN interval PRECEDING):
    * per event, activity of the same user in the trailing hour — the
    * batch twin of a streaming sliding-window aggregation. Both engines
    * frame over epoch-second integers so the range arithmetic is exact.
    */
  def q48SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    // Frame over epoch MICROseconds as exact integers: unix_timestamp
    // would truncate to seconds while DuckDB's epoch() keeps fractions —
    // boundary rows would land in different frames.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    events(spark, dir)
      .filter(col("event_type") === "click")
      .withColumn("epoch_us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("clicks_trailing_hour"),
        round(sum(col("value").cast(D)).over(w).cast("double"), 4).as("value_trailing_hour"))
      .orderBy("event_id")
  }

  val q48Sql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  COUNT(*) OVER w AS clicks_trailing_hour,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 4) AS value_trailing_hour
      |FROM events WHERE event_type = 'click'
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Correlation / linear-regression aggregates (corr, covar, slope,
    * intercept, r²) from exact decimal moments Σx, Σy, Σxy, Σx², Σy² —
    * the built-in corr/regr_* are single-pass float accumulations whose
    * low bits depend on partitioning, so both engines derive the
    * statistics from the same order-independent decimal sums instead
    * (same final double formula on both sides). One hash-agg, one
    * shuffle on the group key — the moment sums combine map-side, so
    * this scales like q01 (partial aggregation, no row movement beyond
    * the 3-value key).
    */
  def q56CorrRegr(spark: SparkSession, dir: String): DataFrame = {
    val DW = DecimalType(38, 8)
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val sx = sum(x.cast(DW)).cast("double")
    val sy = sum(y.cast(DW)).cast("double")
    val sxy = sum((x * y).cast(DW)).cast("double")
    val sxx = sum((x * x).cast(DW)).cast("double")
    val syy = sum((y * y).cast(DW)).cast("double")
    val n = count(lit(1)).cast("double")
    val covNum = sxy - sx * sy / n
    val varXNum = sxx - sx * sx / n
    val varYNum = syy - sy * sy / n
    val slope = covNum / varXNum
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(covNum / (n - 1), 4).as("covar_samp"),
        round(covNum / sqrt(varXNum * varYNum), 6).as("corr"),
        round(slope, 6).as("regr_slope"),
        round((sy - slope * sx) / n, 4).as("regr_intercept"),
        round((covNum * covNum) / (varXNum * varYNum), 6).as("regr_r2"))
      .orderBy("l_returnflag")
  }

  val q56Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((sxy - sx*sy/n) / (n - 1), 4) AS covar_samp,
      |  round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS corr,
      |  round((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS regr_slope,
      |  round((sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n, 4) AS regr_intercept,
      |  round(((sxy - sx*sy/n) * (sxy - sx*sy/n)) / ((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS regr_r2
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Time-series gap-fill: per-user daily activity re-gridded onto the
    * full calendar span (dense date scaffold via sequence/explode), with
    * missing days flagged and forward-filled from the last observed
    * value (`last(…, ignoreNulls)` over an unbounded-preceding frame —
    * the standard LOCF resample).
    *
    * Scale: the scaffold is |users| × |days| rows built by a broadcast
    * cross join of two tiny aggregates; the fill is one window sorted
    * within the existing per-user partitioning. No shuffle touches the
    * raw events beyond the daily pre-aggregation.
    */
  def q57GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).filter(col("user_id") < 30)
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(decSum(col("value")).as("day_value"), count(lit(1)).as("n_events"))
    val bounds = ev.agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("day_value").isNull.as("was_gap"),
        last(col("day_value"), ignoreNulls = true).over(w).as("ffill_value"))
      .orderBy("user_id", "d")
  }

  val q57Sql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, value FROM events WHERE user_id < 30),
      |daily AS (SELECT user_id, d,
      |    round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS day_value,
      |    count(*) AS n_events
      |  FROM ev GROUP BY 1, 2),
      |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM ev),
      |grid AS (SELECT u.user_id, CAST(g.d AS DATE) AS d
      |  FROM (SELECT DISTINCT user_id FROM ev) u,
      |       (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d FROM b) g)
      |SELECT grid.user_id, grid.d,
      |  CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events,
      |  daily.day_value IS NULL AS was_gap,
      |  last_value(daily.day_value IGNORE NULLS) OVER (
      |    PARTITION BY grid.user_id ORDER BY grid.d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
      |FROM grid LEFT JOIN daily ON grid.user_id = daily.user_id AND grid.d = daily.d
      |ORDER BY grid.user_id, grid.d""".stripMargin

  /** Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    * duplicate cardinalities, unlike q49's distinct-set chain: a customer
    * appearing 3× on one side and 1× on the other survives EXCEPT ALL
    * twice. Operands are the per-order customer keys of two disjoint
    * status slices, so duplicates are real.
    */
  def q61BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    val closed = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val exceptAll = open.exceptAll(closed)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_except_all"))
    val intersectAll = open.intersectAll(closed)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_intersect_all"))
    exceptAll.join(intersectAll, Seq("o_custkey"), "full")
      .select(col("o_custkey"),
        coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
        coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
      .orderBy("o_custkey")
  }

  val q61Sql: String =
    """WITH open_k AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
      |closed_k AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |ea AS (SELECT o_custkey, count(*) AS n_except_all
      |       FROM (SELECT * FROM open_k EXCEPT ALL SELECT * FROM closed_k) GROUP BY 1),
      |ia AS (SELECT o_custkey, count(*) AS n_intersect_all
      |       FROM (SELECT * FROM open_k INTERSECT ALL SELECT * FROM closed_k) GROUP BY 1)
      |SELECT coalesce(ea.o_custkey, ia.o_custkey) AS o_custkey,
      |  CAST(coalesce(ea.n_except_all, 0) AS BIGINT) AS n_except_all,
      |  CAST(coalesce(ia.n_intersect_all, 0) AS BIGINT) AS n_intersect_all
      |FROM ea FULL JOIN ia ON ea.o_custkey = ia.o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** Array aggregation + element access suite: collect per-order line
    * quantities into a sorted array, then read it back with element/
    * slice/containment/fold functions — the ARRAY column surface
    * (collect_list/sort_array/element_at/slice/array_contains/
    * aggregate) against DuckDB's list functions.
    */
  def q62ArraySuite(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("qtys"))
      .select(col("l_orderkey"),
        // arrays stringify for the cross-engine hash (ndarray vs list
        // renderings differ); the array ops themselves stay native
        array_join(col("qtys"), ",").as("qtys_csv"),
        size(col("qtys")).as("n_lines"),
        element_at(col("qtys"), 1).as("min_qty"),
        element_at(col("qtys"), -1).as("max_qty"),
        array_join(slice(col("qtys"), 1, 2), ",").as("two_smallest_csv"),
        array_contains(col("qtys"), 30).as("has_qty_30"),
        aggregate(col("qtys"), lit(0), (a, x) => a + x).as("sum_qty"))
      .orderBy("l_orderkey")

  val q62Sql: String =
    """WITH g AS (
      |  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qtys
      |  FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey)
      |SELECT l_orderkey, array_to_string(qtys, ',') AS qtys_csv,
      |  CAST(len(qtys) AS INT) AS n_lines,
      |  qtys[1] AS min_qty,
      |  qtys[-1] AS max_qty,
      |  array_to_string(qtys[1:2], ',') AS two_smallest_csv,
      |  list_contains(qtys, 30) AS has_qty_30,
      |  CAST(list_sum(qtys) AS INT) AS sum_qty
      |FROM g ORDER BY l_orderkey""".stripMargin

  /** Native tumbling event-time window (`window($"ts", "6 hours")`) in
    * batch — the same groupBy(window) that runs under Structured
    * Streaming (R2's fixed windows, here at 6h). Oracle buckets by epoch
    * arithmetic (Spark's window origin is the epoch; 6h divides a day so
    * the boundaries are engine-independent).
    */
  def q63TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("w_start", "event_type")

  val q63Sql: String =
    """SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600) AS TIMESTAMP) AS w_start,
      |  CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600 + 21600) AS TIMESTAMP) AS w_end,
      |  event_type, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin

  /** GROUPING SETS with an explicit set list — finer than ROLLUP/CUBE
    * (q30/q36): ((status, priority), (status), ()) but NOT (priority)
    * alone. One pass, Expand-based: Catalyst plans a single aggregation
    * over an Expand that replicates each row once per set — no
    * re-reading the table per set, which is what a UNION ALL of three
    * GROUP BYs would do at 100 TB.
    */
  def q65GroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_value"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("n_orders"), col("total_value"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val q65Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  COUNT(*) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total_value
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Ordered list aggregation (LISTAGG/STRING_AGG) + engine-agnostic
    * MODE: per order year, the sorted distinct statuses as a csv and the
    * most frequent priority. Mode is computed as an explicit two-level
    * aggregate with a total tie-break (count desc, value asc) rather
    * than either engine's native `mode()` — native modes break ties
    * nondeterministically, which can never hash-match across engines.
    * The csv goes through sort_array(collect_set(...)) so the result is
    * independent of partial-aggregation order — collect_list order is
    * execution-dependent and must never reach query output.
    */
  def q66ListaggMode(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"), col("o_orderpriority"))
    val mode = base.groupBy(col("yr"), col("o_orderpriority")).agg(count(lit(1)).as("c"))
      .groupBy(col("yr"))
      .agg(min(struct((-col("c")).as("negc"), col("o_orderpriority").as("p"))).as("best"))
      .select(col("yr"), col("best.p").as("mode_priority"), (-col("best.negc")).as("mode_count"))
    base.groupBy(col("yr"))
      .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses_csv"),
        count(lit(1)).as("n_orders"))
      .join(mode, Seq("yr"))
      .select(col("yr"), col("statuses_csv"), col("mode_priority"), col("mode_count"), col("n_orders"))
      .orderBy("yr")
  }

  val q66Sql: String =
    """WITH base AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS yr, o_orderstatus, o_orderpriority FROM orders
      |), pc AS (
      |  SELECT yr, o_orderpriority AS p, COUNT(*) AS c FROM base GROUP BY 1, 2
      |), md AS (
      |  SELECT yr, p AS mode_priority, c AS mode_count,
      |    ROW_NUMBER() OVER (PARTITION BY yr ORDER BY c DESC, p ASC) AS rn
      |  FROM pc
      |)
      |SELECT b.yr AS yr, array_to_string(list_sort(list_distinct(list(b.o_orderstatus))), ',') AS statuses_csv,
      |  ANY_VALUE(md.mode_priority) AS mode_priority,
      |  CAST(ANY_VALUE(md.mode_count) AS BIGINT) AS mode_count,
      |  COUNT(*) AS n_orders
      |FROM base b JOIN md ON md.yr = b.yr AND md.rn = 1
      |GROUP BY b.yr
      |ORDER BY 1""".stripMargin

  /** Exact equi-width histogram over prices, computed in integer cents
    * so bucket edges are exact on both engines (TPC-H prices are
    * cents-exact doubles; `round(x*100)` reconstructs the integer
    * before the truncating division — no float-boundary ambiguity).
    * Shape: single hash aggregation on the derived bucket id.
    */
  def q71Histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .withColumn("bucket", expr("cents div 500000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
      .orderBy("bucket")

  val q71Sql: String =
    """SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 500000 AS bucket,
      |  COUNT(*) AS n_items,
      |  round(MIN(l_extendedprice), 2) AS min_price,
      |  round(MAX(l_extendedprice), 2) AS max_price
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Two-phase salted aggregation ([[graft.operators.Skew.saltedAgg]])
    * hash-matched against a PLAIN GROUP BY oracle — the match certifies
    * that salting is semantically invisible: the salt only splits the
    * hot key's reducer, the phase-2 merge reconstructs the exact
    * aggregate. The summed column is pre-cast to DECIMAL so the
    * extra merge level cannot introduce float reassociation drift
    * (double addition is not associative; decimal is).
    */
  def q72SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val in = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast(D).as("price_dec"),
        col("l_quantity").cast(D).as("qty_dec"))
    graft.operators.Skew.saltedAgg(in, keys = Seq("l_returnflag"), saltBuckets = 16,
      sums = Seq("price_dec", "qty_dec"), mins = Seq("price_dec"), maxs = Seq("price_dec"))
      .select(col("l_returnflag"),
        round(col("price_dec_sum").cast("double"), 4).as("sum_price"),
        round(col("qty_dec_sum").cast("double"), 4).as("sum_qty"),
        col("row_count"),
        round(col("price_dec_min").cast("double"), 2).as("min_price"),
        round(col("price_dec_max").cast("double"), 2).as("max_price"))
      .orderBy("l_returnflag")
  }

  val q72Sql: String =
    """SELECT l_returnflag,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_price,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty,
      |  COUNT(*) AS row_count,
      |  round(CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS min_price,
      |  round(CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** SCD2 snapshot replay ([[graft.operators.Scd2.snapshot]]): orders
    * date-sliced into three update batches, folded through three
    * snapshot passes; the FULL resulting version history — closed and
    * current rows, valid_from/valid_to chains — is hash-matched against
    * a DuckDB window derivation (per key: latest row per batch, lead()
    * for the closing timestamp). Updates are pre-deduplicated to one
    * row per (key, updated_at) with a max-orderkey tie-break, because
    * SCD2's "latest per key per batch" is otherwise nondeterministic on
    * same-timestamp ties.
    */
  def q73Scd2Replay(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scd2
    val orders = t(spark, dir, "orders")
    val upd = orders
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"), col("o_orderdate"))
          .orderBy(col("o_orderkey").desc)))
      .filter(col("__rn") === 1)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      // three batch filters + three snapshot passes all re-derive this
      // frame; materialize the scan+window once
      .localCheckpoint(true)
    val cuts = Seq("1997-01-01 00:00:00", "1999-01-01 00:00:00").map(java.sql.Timestamp.valueOf)
    val batches = Seq(
      upd.filter(col("o_orderdate") < cuts(0)),
      upd.filter(col("o_orderdate") >= cuts(0) && col("o_orderdate") < cuts(1)),
      upd.filter(col("o_orderdate") >= cuts(1)))
    val hist = batches.foldLeft(Scd2.emptyHistory(spark, upd, "o_orderdate")) {
      (h, b) =>
        val next = Scd2.snapshot(h, b, "o_custkey", "o_orderdate").localCheckpoint(true)
        // the fold's previous state is dead once `next` materializes —
        // free its blocks now (only the FINAL history feeds the plan)
        graft.CacheScope.freeCheckpoint(h)
        next
    }
    // upd fed the batch builds; the returned plan reads only `hist`
    graft.CacheScope.freeCheckpoint(upd)
    graft.CacheScope.trackCheckpoint(hist)
    hist.select(col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").as("valid_from"), col("valid_to"))
      .orderBy(col("o_custkey"), col("valid_from"))
  }

  val q73Sql: String =
    """WITH d AS (
      |  SELECT o_custkey, o_totalprice, o_orderdate,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
      |  FROM orders
      |), u AS (
      |  SELECT o_custkey, o_totalprice, o_orderdate,
      |    CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00' THEN 0
      |         WHEN o_orderdate < TIMESTAMP '1999-01-01 00:00:00' THEN 1
      |         ELSE 2 END AS b
      |  FROM d WHERE rn = 1
      |), lat AS (
      |  SELECT o_custkey, o_totalprice, o_orderdate, b,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey, b ORDER BY o_orderdate DESC) AS rn
      |  FROM u
      |)
      |SELECT o_custkey, o_totalprice, o_orderdate AS valid_from,
      |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY b) AS valid_to
      |FROM lat WHERE rn = 1
      |ORDER BY o_custkey, valid_from""".stripMargin

  /** Custom bounded-heap top-k aggregate
    * ([[graft.expressions.TopKAgg]], a TypedImperativeAggregate): the
    * five largest prices per (returnflag, linestatus) as a sorted-desc
    * array, carrying at most k doubles per group per task at every
    * stage (vs collect_list's whole-group buffers or the window sort).
    * Hash-matched against DuckDB's list aggregation — the oracle
    * certifies the heap's update/merge/serialize path end to end,
    * including map-side partials across 32 input partitions.
    */
  def q76TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(call_function("topk_agg", col("l_extendedprice"), lit(5)).as("top5"),
        count(lit(1)).as("n_items"))
      // flattened to scalar columns: the driver's hash compare sorts rows
      // by value, which array cells break. try_element_at: a group with
      // fewer than 5 rows null-fills (DuckDB slice semantics) instead of
      // throwing INVALID_ARRAY_INDEX under ANSI mode.
      .select(Seq(col("l_returnflag"), col("l_linestatus")) ++
        (1 to 5).map(i => try_element_at(col("top5"), lit(i)).as(s"p$i")) ++ Seq(col("n_items")): _*)
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q76Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag, l_linestatus,
      |    (list_sort(list(l_extendedprice), 'DESC'))[1:5] AS top5,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus,
      |  top5[1] AS p1, top5[2] AS p2, top5[3] AS p3, top5[4] AS p4, top5[5] AS p5,
      |  n_items
      |FROM t ORDER BY 1, 2""".stripMargin

  /** Schema-evolution union: two extracts of the same entity with
    * DIFFERENT column sets (an old and a new pipeline version) combined
    * with `unionByName(allowMissingColumns = true)` — absent columns
    * null-fill. This is the lakehouse ingest reality (schema drift
    * between landing batches), and positional UNION silently corrupts
    * it; by-name resolution is the operator under test.
    */
  def q77SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val v1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val q77Sql: String =
    """SELECT o_orderkey, o_totalprice, o_orderstatus FROM (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 1
      |) ORDER BY o_orderkey""".stripMargin

  /** UNPIVOT (melt) — the inverse of q37's pivot: wide per-status
    * conditional counts unpivoted to (status, metric, val) long form
    * via `Dataset.unpivot`. Long form is what downstream metric stores
    * and chart layers ingest; keeping the transform relational (Expand
    * under the hood, one pass) beats per-metric UNION ALL re-scans.
    */
  def q78Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("n_low"),
        count(lit(1)).as("n_total"))
    wide.unpivot(
      ids = Array(col("o_orderstatus")),
      values = Array(col("n_urgent"), col("n_low"), col("n_total")),
      variableColumnName = "metric", valueColumnName = "val")
      .orderBy("o_orderstatus", "metric")
  }

  val q78Sql: String =
    """WITH wide AS (
      |  SELECT o_orderstatus,
      |    CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      |    CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS n_low,
      |    COUNT(*) AS n_total
      |  FROM orders GROUP BY 1)
      |SELECT o_orderstatus, metric, val
      |FROM wide UNPIVOT (val FOR metric IN (n_urgent, n_low, n_total))
      |ORDER BY o_orderstatus, metric""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE): walk the implicit
    * binary-heap hierarchy parent(k) = k div 2 over customer keys from
    * root key 1, emitting each node's depth — the org-chart /
    * BOM-explosion query shape. Output is the per-depth roll-up.
    * Recursion depth is log₂(max key) (~14 at sf0.1), far under
    * Spark's recursion row/level limits; each step is one equi-join —
    * the same iterate-join-agg shape ConnectedComponents hand-rolls,
    * here expressed declaratively.
    */
  def q80RecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    // every recursion step re-joins against this view — cache the scan
    // so ~14 iterations don't re-read the parquet each time
    // (CacheScope-tracked: unpersisted after the query's terminal action)
    CacheScope.track(t(spark, dir, "customer").cache())
      .createOrReplaceTempView("customer_v")
    spark.sql(
      """WITH RECURSIVE r(k, depth) AS (
        |  SELECT c_custkey, 0 FROM customer_v WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT c.c_custkey, r.depth + 1
        |  FROM customer_v c JOIN r ON c.c_custkey DIV 2 = r.k
        |)
        |SELECT depth, COUNT(*) AS n_nodes, MIN(k) AS min_key, MAX(k) AS max_key
        |FROM r GROUP BY depth ORDER BY depth""".stripMargin)
  }

  val q80Sql: String =
    """WITH RECURSIVE r(k, depth) AS (
      |  SELECT c_custkey, 0 FROM customer WHERE c_custkey = 1
      |  UNION ALL
      |  SELECT c.c_custkey, r.depth + 1
      |  FROM customer c JOIN r ON c.c_custkey // 2 = r.k
      |)
      |SELECT depth, COUNT(*) AS n_nodes, MIN(k) AS min_key, MAX(k) AS max_key
      |FROM r GROUP BY depth ORDER BY depth""".stripMargin

  /** Native batch `session_window` (the streaming R2 operator run in
    * batch) certified against a first-principles DuckDB islands
    * derivation (lag-gap break + running sum). Boundary semantics
    * verified empirically: an event exactly gap minutes after the
    * previous one MERGES (break strictly >), and session end = last
    * event + gap.
    */
  def q81SessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  val q81Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |x AS (SELECT user_id, ts,
      |  CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |s AS (SELECT user_id, ts,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Column profiling ([[graft.analytics.DataChecks.profile]]): the
    * data-catalog statistics table over orders — a union of per-column
    * pruned-scan aggregations (single-distinct branches, no Expand; on
    * columnar storage the branches read the same bytes as one wide
    * scan). Price is pre-cast to DECIMAL so the rendered min/max string
    * is engine-identical (raw double→string rendering differs).
    */
  def q84Profile(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.DataChecks.profile(
      // raw scan: the profiler's branches parallelize across columns, so
      // the single-row-group compensation shuffle would only add one
      // exchange per branch (see Tables.raw)
      Tables.raw(spark, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast(D)),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
      .orderBy("column_name")

  val q84Sql: String = {
    def one(c: String, expr: String) =
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($expr) AS n_nulls,
         |  COUNT(DISTINCT $expr) AS n_distinct,
         |  CAST(MIN($expr) AS VARCHAR) AS min_value,
         |  CAST(MAX($expr) AS VARCHAR) AS max_value
         |FROM orders""".stripMargin
    Seq(
      one("o_orderkey", "o_orderkey"),
      one("o_custkey", "o_custkey"),
      one("o_orderstatus", "o_orderstatus"),
      one("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
      one("o_orderdate", "o_orderdate"),
      one("o_orderpriority", "o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Heavy hitters, candidates-then-verify: a Misra-Gries sketch
    * ([[graft.expressions.MisraGriesAgg]], capacity 1024) finds every
    * user POSSIBLY above the n/1024 support threshold in one bounded-
    * state pass (piggybacking the exact total count on the same scan),
    * then a second filtered pass recounts the ≤1024 candidates exactly
    * — so the result is EXACT (identical to GROUP BY HAVING) while no
    * stage ever holds per-distinct-key state.
    */
  def q92HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    graft.expressions.GraftFunctions.register(spark)
    val sketch = ev.agg(
      expr("mg_topk(user_id, 1024)").as("cand"), count(lit(1)).as("total"))
    val candidates = sketch.select(explode(col("cand")).as("user_id"), col("total"))
    ev.join(broadcast(candidates), Seq("user_id"), "inner")
      .groupBy(col("user_id"), col("total"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * 1024 > col("total"))
      .select(col("user_id"), col("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
  }

  val q92Sql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY user_id
      |HAVING COUNT(*) * 1024 > (SELECT COUNT(*) FROM events)
      |ORDER BY n_events DESC, user_id""".stripMargin

  /** Deterministic hash sampling with a CROSS-ENGINE-exact predicate:
    * md5 of the key as lowercase hex compares identically everywhere
    * (unlike xxhash64/murmur whose seeds differ per engine), so a
    * sample defined as md5(key) < threshold is reproducible from Spark
    * to DuckDB to any warehouse — the growth-insensitive split idea of
    * [[graft.operators.Sampling]] certified bit-exact against another
    * engine. Threshold keeps ~1/10 of orders.
    */
  def q93HashSample(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(md5(col("o_orderkey").cast("string")) < "1999999999999999999999999999999a")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n"), decSum(col("o_totalprice")).as("sampled_value"))
      .orderBy(col("o_orderstatus"))

  val q93Sql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),4) AS sampled_value
      |FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) < '1999999999999999999999999999999a'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** EXACT distinct-count rollup via bitmap pre-aggregation (Spark 3.5+
    * bitmap functions): a daily (day, event_type, bucket) → bitmap
    * pre-agg table rolls up to weekly distinct users with bitmap_or_agg
    * + bitmap_count — the lakehouse pattern where COUNT(DISTINCT) over
    * 100 TB of raw events is answered from a tiny mergeable summary
    * table instead of re-shuffling raw user_ids, and unlike HLL the
    * rollup stays EXACT (hence oracle-able: the DuckDB twin is plain
    * COUNT(DISTINCT) over the raw rows).
    *
    * Scale: raw events are touched once to build the daily pre-agg
    * (hash-agg on day/type/bucket — map-side partial ORs shrink each
    * partition to at most |groups|×|buckets| bitmaps before the
    * exchange); every later rollup (week here, month, all-time) reads
    * only pre-agg rows of ~4 KB per 32k-user bucket.
    */
  def q94BitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SketchRollup
    val daily = SketchRollup.dailyBitmaps(
      events(spark, dir).select(to_date(col("ts")).as("day"), col("event_type"), col("user_id")),
      "user_id", Seq("day", "event_type"))
    SketchRollup.distinctRollup(daily,
        Seq("week" -> to_date(date_trunc("week", col("day"))), "event_type" -> col("event_type")),
        countName = "distinct_users")
      .orderBy(col("week"), col("event_type"))
  }

  val q94Sql: String =
    """SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week, event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The approximate twin of q94: Apache DataSketches HLL rollup
    * (hll_sketch_agg → hll_union_agg → hll_sketch_estimate). Where the
    * bitmap pre-agg is exact but sized by the key domain (one bit per
    * possible user per bucket), the HLL sketch is a fixed ~KB per group
    * REGARDLESS of cardinality — at billions of users per week the
    * sketch table stays tiny and still merges associatively across
    * days/weeks/months. Estimates are deterministic for fixed input
    * (DataSketches is seedless-deterministic) but engine-specific, so
    * the check is rows-only + the error-bound spec in SketchRollupSpec
    * (estimate within 5% of exact at lgK=12).
    */
  def q95HllRollup(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
      .groupBy(col("day"), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    daily
      .groupBy(to_date(date_trunc("week", col("day"))).as("week"), col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      .orderBy(col("week"), col("event_type"))
  }

  /** Z-score outlier detection per group — the data-quality screen a
    * training pipeline runs before ingestion. Group moments come from
    * exact decimal sums (order-independent), are rounded at the source
    * (6dp) so sqrt/division ulps can't diverge engines, and variance
    * uses explicit multiplication, not libm pow. One aggregation + one
    * broadcast join back; no window over raw rows.
    */
  def q97ZscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val D4 = DecimalType(18, 4)
    val ev = events(spark, dir)
    val stats = ev.groupBy(col("event_type"))
      .agg(
        round(sum(col("value").cast(D4)).cast("double") / count(lit(1)), 6).as("mu"),
        round(sqrt(greatest(
          sum((col("value").cast(D4) * col("value").cast(D4))).cast("double") / count(lit(1)) -
            (sum(col("value").cast(D4)).cast("double") / count(lit(1))) *
            (sum(col("value").cast(D4)).cast("double") / count(lit(1))),
          lit(0.0))), 6).as("sigma"))
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("value") - col("mu")) > lit(3) * col("sigma"))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("mu")) / col("sigma"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  val q97Sql: String =
    """WITH stats AS (
      |  SELECT event_type,
      |    round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 6) AS mu,
      |    round(sqrt(greatest(
      |      CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*)
      |      - (CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*))
      |        * (CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*)), 0)), 6) AS sigma
      |  FROM events GROUP BY event_type)
      |SELECT event_id, e.event_type, value, round((value - mu)/sigma, 4) AS z
      |FROM events e JOIN stats USING (event_type)
      |WHERE abs(value - mu) > 3 * sigma
      |ORDER BY event_id""".stripMargin
}
