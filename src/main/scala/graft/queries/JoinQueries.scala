package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{FuzzyJoin, RangeJoin}

/** Join layer over the driver's tables: band, as-of, range, semi/anti,
  * Bloom-pruned, lateral and fuzzy joins, and the multi-way TPC-H join
  * shapes (Q5, Q7, Q11, Q13, Q15–Q18, Q21, Q22) in decorrelated form.
  */
object JoinQueries {
  import Tables.{events, t}

  lazy val entries: Seq[Query] = Seq(
    Query("q02_asof_band_join", q02AsofBandJoin, Some(q02Sql)),
    Query("q03_regional_revenue", q03RegionalRevenue, Some(q03Sql)),
    Query("q31_semi_anti", q31SemiAnti, Some(q31Sql)),
    Query("q43_asof_join", q43AsofJoin, Some(q43Sql)),
    Query("q60_bloom_semi_join", q60BloomSemiJoin, Some(q60Sql)),
    Query("q67_range_join", q67RangeJoin, Some(q67Sql)),
    Query("q68_volume_shipping", q68VolumeShipping, Some(q68Sql)),
    Query("q69_large_orders", q69LargeOrders, Some(q69Sql)),
    Query("q79_band_join_bucketed", q79BandJoinBucketed, Some(q79Sql)),
    Query("q82_lateral_topn", q82LateralTopN, Some(q82Sql)),
    Query("q83_having_share", q83HavingShare, Some(q83Sql)),
    Query("q85_small_qty_revenue", q85SmallQtyRevenue, Some(q85Sql)),
    Query("q86_sole_late_supplier", q86SoleLateSupplier, Some(q86Sql)),
    Query("q87_idle_rich_customers", q87IdleRichCustomers, Some(q87Sql)),
    Query("q88_brand_supplier_counts", q88BrandSupplierCounts, Some(q88Sql)),
    Query("q89_order_reconcile", q89OrderReconcile, Some(q89Sql)),
    Query("q91_fuzzy_names", q91FuzzyNames, Some(q91Sql)),
    Query("q96_top_supplier", q96TopSupplier, Some(q96Sql)),
    Query("q98_custdist", q98CustDist, Some(q98Sql)),
    Query("q99_fuzzy_passjoin", q99FuzzyPassjoin, Some(q99Sql))
  )

  /** J1+J3+W1+O2: proximity band LEFT JOIN + as-of closest-match selection,
    * the exact shape of `fact_patient_encounters.sql:81-115` (equi key +
    * theta band residual, ROW_NUMBER rank, rank=1 filter). Each purchase
    * event finds its temporally nearest click by the same user within ±6h.
    *
    * Scale: both the join and the window cluster on `user_id`, so Catalyst
    * plans ONE shuffle; the window adds only a sort (HashPartitioning on
    * the join key satisfies the window's ClusteredDistribution). The
    * rank=1 filter triggers Spark's WindowGroupLimit top-k pushdown.
    */
  def q02AsofBandJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val diff = abs(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
    p.join(c, col("user_id") === col("c_user") && diff <= 21600000000L, "left")
      .withColumn("diff_us", diff)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("p_id")).orderBy(diff.asc, col("c_id").asc)))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("user_id"), col("c_id").as("nearest_click_id"), col("diff_us"))
      .orderBy("p_id")
  }

  val q02Sql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT event_id AS c_id, user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts FROM events WHERE event_type = 'click'),
      |     j AS (SELECT p.p_id, p.user_id, c.c_id,
      |             abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS diff_us,
      |             ROW_NUMBER() OVER (PARTITION BY p.user_id, p.p_id
      |               ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) ASC, c.c_id ASC) AS rn
      |           FROM p LEFT JOIN c ON p.user_id = c.c_user
      |             AND abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) <= 21600000000)
      |SELECT p_id, user_id, c_id AS nearest_click_id, diff_us FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin

  /** Multi-way star join with broadcast dims (TPC-H Q5 shape): revenue by
    * nation for one region over a date range. Dims (`region`, `nation`) are
    * broadcast explicitly; `customer` stays well under the AQE broadcast
    * threshold at every SF, so the only real shuffle is orders⋈lineitem.
    */
  def q03RegionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val nationRegion = t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    t(spark, dir, "customer")
      .join(broadcast(nationRegion), col("c_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
          col("o_orderdate") < lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))),
        col("c_custkey") === col("o_custkey"))
      .join(t(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), DP).as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q03Sql: String =
    """SELECT n_name,
      |  round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
      |  COUNT(*) AS line_count
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      |JOIN orders ON c_custkey = o_custkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Semi + anti joins: customers who bought in 2001 but never with
    * priority 1-URGENT (left semi against one subquery, left anti against
    * another — the classic EXISTS / NOT EXISTS pair).
    */
  def q31SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val orders2001 = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
    val urgent = t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    t(spark, dir, "customer")
      .join(orders2001, col("c_custkey") === orders2001("o_custkey"), "left_semi")
      .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val q31Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** As-of join ([[graft.operators.AsOfJoin]]): each error event picks up
    * the user's latest preceding purchase (point-in-time enrichment).
    * Oracle is DuckDB's native ASOF LEFT JOIN. Purchases are
    * pre-aggregated to one row per (user, ts) — both the sweep and ASOF
    * need tie-free right sides for determinism.
    */
  def q43AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val pur = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max(col("event_id")).as("pid"), max(col("value")).as("pval"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(err, pur,
        "user_id", "user_id", "ts", "pts", Seq("pts", "pid", "pval"))
      .orderBy("event_id")
  }

  val q43Sql: String =
    """WITH pur AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts,
      |    max(event_id) AS pid, max(value) AS pval
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |err AS (
      |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'error')
      |SELECT err.event_id, err.user_id, err.ts, pur.pts, pur.pid, pur.pval
      |FROM err ASOF LEFT JOIN pur
      |  ON err.user_id = pur.user_id AND pur.pts <= err.ts
      |ORDER BY err.event_id""".stripMargin

  /** Bucketized point-in-interval join ([[RangeJoin.pointInInterval]]):
    * lineitem prices against OVERLAPPING price bands (overlap is what
    * makes this a real range join — a non-overlapping banding is just
    * width_bucket). The oracle is the naive BETWEEN theta join; the
    * Spark side runs the grid-cell equi-join, so the hash match also
    * certifies the rewrite's correctness at sf scale.
    */
  def q67RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val bands = Seq(
      ("band_00", 0.0, 10000.0), ("band_01", 5000.0, 20000.0),
      ("band_02", 15000.0, 40000.0), ("band_03", 30000.0, 70000.0),
      ("band_04", 60000.0, 120000.0)).toDF("band", "lo", "hi")
    RangeJoin.pointInInterval(
      t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      "l_extendedprice", bands, "lo", "hi", bucketWidth = 5000.0)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_items"), decSum(col("l_extendedprice")).as("band_value"))
      .orderBy("band")
  }

  val q67Sql: String =
    """SELECT b.band, COUNT(*) AS n_items,
      |  round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS band_value
      |FROM lineitem l
      |JOIN (VALUES ('band_00', 0.0, 10000.0), ('band_01', 5000.0, 20000.0),
      |             ('band_02', 15000.0, 40000.0), ('band_03', 30000.0, 70000.0),
      |             ('band_04', 60000.0, 120000.0)) b(band, lo, hi)
      |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
      |GROUP BY b.band ORDER BY b.band""".stripMargin

  /** TPC-H Q7-shaped volume shipping: bidirectional nation-pair revenue
    * by ship year through a 5-way star join (lineitem ⋈ orders ⋈
    * supplier ⋈ customer ⋈ nation×2). All four dimension sides are
    * small → AQE broadcasts every one; the only shuffle left is the
    * final 3-column aggregation. The nation filter pushes into BOTH
    * nation scans before the joins (PushedFilters), so the big fact
    * side is filtered by two broadcast joins, never materializing the
    * unfiltered join.
    */
  def q68VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
        lit(java.sql.Timestamp.valueOf("1996-12-31 00:00:00"))))
    val n1 = t(spark, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin("NATION_1", "NATION_2"))
    val n2 = t(spark, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin("NATION_1", "NATION_2"))
    li.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), DP).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q68Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  EXTRACT(year FROM l.l_shipdate) AS l_year,
      |  round(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))) AS DOUBLE), 4) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey AND n1.n_name IN ('NATION_1','NATION_2')
      |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey AND n2.n_name IN ('NATION_1','NATION_2')
      |WHERE l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
      |  AND n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q18-shaped large-volume orders: HAVING-filtered aggregate as
    * a semi-join back onto the fact. The inner aggregate groups the
    * full lineitem by orderkey; only qualifying keys (sum qty > 250)
    * join back — at scale the qualifying set is small, so AQE turns the
    * re-join into a broadcast. The whole query is two shuffles (the
    * groupBy, then nothing: both back-joins broadcast).
    */
  def q69LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity").cast(D)).cast("double"), 4).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    big.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey").asc)
  }

  val q69Sql: String =
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, q.sum_qty
      |FROM (SELECT l_orderkey,
      |        round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty
      |      FROM lineitem GROUP BY 1
      |      HAVING round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) > 250.0) q
      |JOIN orders o ON q.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY q.sum_qty DESC, o.o_orderkey ASC""".stripMargin

  /** Bucketed band join certified at SF scale
    * ([[graft.operators.BandJoin.bandedLeftJoinById]]): orders LEFT
    * band-joined to their lineitems shipped within ±30 days, through
    * the date-grid rewrite (probe exploded into adjacent buckets, pure
    * equi-join, residual re-check) — while the ORACLE runs the naive
    * BETWEEN band join. The hash match certifies rewrite ≡ naive on
    * real data, the same pattern q67 uses for the range join. Output
    * aggregated per order so LEFT semantics are visible (unmatched
    * orders keep n_lines = 0).
    */
  def q79BandJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"),
        col("l_linenumber"), col("l_quantity"))
    graft.operators.BandJoin.bandedLeftJoinById(
      orders, li, leftId = "o_orderkey", key = "o_orderkey",
      leftDateCol = "o_orderdate", rightDateCol = "l_shipdate", band = 30)
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_linenumber")).as("n_lines"),
        decSum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  val q79Sql: String =
    """SELECT o.o_orderkey, COUNT(l.l_linenumber) AS n_lines,
      |  round(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty
      |FROM orders o LEFT JOIN lineitem l
      |  ON o.o_orderkey = l.l_orderkey
      |  AND abs(date_diff('day', CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))) <= 30
      |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin

  /** Correlated LATERAL subquery with per-row LIMIT: for every region,
    * the top-2 nations by customer count — the "top-n related rows per
    * outer row" shape. Catalyst decorrelates the lateral into a
    * DomainJoin-based plan; the per-group ORDER BY + LIMIT is the
    * lateral analogue of the q04 WindowGroupLimit pattern, expressed
    * as the SQL a BI tool would emit.
    */
  def q82LateralTopN(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("nation_v")
    t(spark, dir, "customer").createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT r.n_regionkey, t.n_name, t.n_cust
        |FROM (SELECT DISTINCT n_regionkey FROM nation_v) r,
        |LATERAL (
        |  SELECT n.n_name, COUNT(c.c_custkey) AS n_cust
        |  FROM nation_v n LEFT JOIN customer_v c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.n_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_cust DESC, n.n_name ASC LIMIT 2
        |) t
        |ORDER BY r.n_regionkey, t.n_cust DESC, t.n_name""".stripMargin)
  }

  val q82Sql: String =
    """SELECT r.n_regionkey, t.n_name, t.n_cust
      |FROM (SELECT DISTINCT n_regionkey FROM nation) r,
      |LATERAL (
      |  SELECT n.n_name, COUNT(c.c_custkey) AS n_cust
      |  FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      |  WHERE n.n_regionkey = r.n_regionkey
      |  GROUP BY n.n_name
      |  ORDER BY n_cust DESC, n.n_name ASC LIMIT 2
      |) t
      |ORDER BY r.n_regionkey, t.n_cust DESC, t.n_name""".stripMargin

  /** TPC-H Q11-shaped share-of-total HAVING: nations whose revenue
    * exceeds 5% of GLOBAL revenue — an uncorrelated scalar subquery
    * inside HAVING. Catalyst plans the scalar as an independent
    * one-row subplan joined in (computed once, broadcast), so the big
    * aggregation runs exactly once — not once per group, and not twice
    * (the naive "compute total then re-aggregate" rewrite). Decimal
    * sums keep the share comparison exact on both engines.
    */
  def q83HavingShare(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("nation_v")
    t(spark, dir, "customer").createOrReplaceTempView("customer_v")
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT n.n_name,
        |  round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS nation_value
        |FROM nation_v n
        |JOIN customer_v c ON c.c_nationkey = n.n_nationkey
        |JOIN orders_v o ON o.o_custkey = c.c_custkey
        |GROUP BY n.n_name
        |HAVING SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) >
        |  0.05 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders_v)
        |ORDER BY nation_value DESC, n_name""".stripMargin)
  }

  val q83Sql: String =
    """SELECT n.n_name,
      |  round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS nation_value
      |FROM nation n
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |GROUP BY n.n_name
      |HAVING SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) >
      |  0.05 * (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
      |ORDER BY nation_value DESC, n_name""".stripMargin

  /** TPC-H Q17 shape: lines whose quantity is below 20% of their part's
    * average — a correlated aggregate subquery, implemented in its
    * decorrelated form (per-part aggregate, then equi-join back). The
    * threshold compare is exact integer/decimal arithmetic
    * (qty * cnt * 5 < sum(qty)) so no engine ever rounds a boundary.
    *
    * Scale: one extra aggregation of lineitem on l_partkey (map-side
    * partial combine), then a shuffle join on l_partkey reused by the
    * aggregate's own partitioning; part is broadcast. A window
    * formulation (avg over partition by partkey) would instead sort
    * every lineitem row — strictly worse.
    */
  def q85SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val pa = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast(D)).as("sumq"))
    li.join(pa, Seq("l_partkey"))
      .filter(col("l_quantity").cast(D) * col("cnt") * 5 < col("sumq"))
      .join(broadcast(t(spark, dir, "part")), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), decSum(col("l_extendedprice")).as("lost_revenue"))
      .orderBy(col("p_brand"))
  }

  val q85Sql: String =
    """WITH pa AS (SELECT l_partkey, COUNT(*) AS cnt, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sumq
      |            FROM lineitem GROUP BY l_partkey)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),4) AS lost_revenue
      |FROM lineitem JOIN pa USING (l_partkey) JOIN part ON p_partkey = l_partkey
      |WHERE CAST(l_quantity AS DECIMAL(18,2)) * cnt * 5 < sumq
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    * multi-supplier order — EXISTS plus NOT EXISTS self-joins (left-semi
    * then left-anti), each an equi-join on l_orderkey with a
    * supplier-inequality residual. "Late" = shipped >180 days after the
    * order date.
    *
    * Scale: the late set is computed once (join on orderkey, orders side
    * projected to two columns); semi and anti reuse the same orderkey
    * hash partitioning, so the three exchanges align; supplier is
    * broadcast for the name lookup.
    */
  def q86SoleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    // `late` feeds both the probe side and the NOT-EXISTS side — cache
    // it or the lineitem⋈orders subtree executes twice (Spark does not
    // share common subplans across join inputs; measured 2.25s → ~1.6s
    // at sf0.1). CacheScope-tracked: Bench/Verify unpersist after the
    // terminal action, so blocks don't outlive the query.
    val late = CacheScope.track(
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 180 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .cache())
    val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    late
      .join(l2, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(l3, col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .join(broadcast(t(spark, dir, "supplier")), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q86Sql: String =
    """WITH late AS (SELECT l.l_orderkey, l.l_suppkey FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |              WHERE l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY)
      |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier, late l1
      |WHERE s_suppkey = l1.l_suppkey
      |  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  /** TPC-H Q22 shape: rich-but-recently-idle customers — a scalar
    * aggregate subquery (average positive balance, 6dp-rounded so both
    * engines compare against the identical literal-like threshold) and
    * a NOT EXISTS anti-join against recent orders.
    *
    * Scale: the scalar is a one-row broadcast cross join (no driver
    * collect); the anti join shuffles on custkey; the date filter on
    * orders prunes before the exchange.
    */
  def q87IdleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val thresh = cust.filter(col("c_acctbal") > 0.0)
      .agg(round(sum(col("c_acctbal").cast(D)).cast("double") / count(lit(1)), 6).as("avg_bal"))
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-06-01 00:00:00")))
      .select(col("o_custkey"))
    cust
      .crossJoin(broadcast(thresh))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("numcust"), decSum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  val q87Sql: String =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
      |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),4) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*), 6)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q16 shape: distinct supplier counts per brand/type,
    * excluding a NOT IN supplier subquery. s_suppkey is non-nullable so
    * the null-aware NOT IN reduces to a plain anti join (documented
    * equivalence — with a nullable subquery column NOT IN would need
    * Spark's null-aware anti, which the SQL form plans automatically).
    *
    * Scale: the exclusion list is tiny (suppliers in debt) — broadcast
    * anti join, no shuffle; COUNT(DISTINCT) expands to a two-level
    * aggregate with partial dedup before the exchange.
    */
  def q88BrandSupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val debt = t(spark, dir, "supplier").filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    t(spark, dir, "lineitem")
      .join(broadcast(debt), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(t(spark, dir, "part")), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
  }

  val q88Sql: String =
    """SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin

  /** FULL OUTER JOIN reconciliation: orders vs the revenue actually on
    * their lines, classified into close / divergent / no_lines /
    * orphan_lines. The one join type the inventory lacked; both sides
    * aggregate or arrive keyed on orderkey so the full-outer is a
    * single aligned shuffle. Both engines compute identical doubles
    * (decSum revenue, IEEE products for the band edges), so even an
    * exact-boundary row classifies identically.
    */
  def q89OrderReconcile(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), DP).as("revenue"))
    t(spark, dir, "orders")
      .join(rev, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(
        when(col("o_orderkey").isNull, "orphan_lines")
          .when(col("l_orderkey").isNull, "no_lines")
          .when(col("revenue").between(col("o_totalprice") * 0.9, col("o_totalprice") * 1.1), "close")
          .otherwise("divergent").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("status"))
  }

  val q89Sql: String =
    """WITH rev AS (SELECT l_orderkey,
      |    round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS revenue
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT CASE WHEN o_orderkey IS NULL THEN 'orphan_lines'
      |            WHEN l_orderkey IS NULL THEN 'no_lines'
      |            WHEN revenue BETWEEN o_totalprice*0.9 AND o_totalprice*1.1 THEN 'close'
      |            ELSE 'divergent' END AS status,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders FULL OUTER JOIN rev ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Token-blocked fuzzy self-join ([[FuzzyJoin.tokenBlocked]]) on part
    * names: name pairs sharing a token within edit distance 3, with row
    * multiplicities. The oracle replicates the same blocked semantics
    * (shared token + levenshtein bound + the maxTokenFreq=1000 stop-token
    * drop — without it the two sides diverge the moment any token's block
    * exceeds the cap, which TPC-H color tokens do at sf≥0.1) over the
    * distinct vocabulary.
    */
  def q91FuzzyNames(spark: SparkSession, dir: String): DataFrame =
    FuzzyJoin.tokenBlocked(t(spark, dir, "part").select(col("p_name")), "p_name", maxDist = 3)
      .select(col("a").as("name_a"), col("b").as("name_b"),
        col("dist").cast("int").as("dist"), col("n_row_pairs").cast("long").as("n_row_pairs"))
      .orderBy(col("name_a"), col("name_b"))

  val q91Sql: String =
    """WITH vocab AS (SELECT p_name AS s, COUNT(*) AS n_rows FROM part GROUP BY p_name),
      |toks AS (SELECT DISTINCT s, unnest(string_split(s, ' ')) AS tok FROM vocab),
      |ok AS (SELECT tok FROM toks WHERE tok <> ''
      |  GROUP BY tok HAVING COUNT(*) BETWEEN 2 AND 1000),
      |pairs AS (SELECT DISTINCT a.s AS name_a, b.s AS name_b
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.s < b.s
      |  JOIN ok ON ok.tok = a.tok
      |  WHERE levenshtein(a.s, b.s) <= 3)
      |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INT) AS dist,
      |  CAST(va.n_rows * vb.n_rows AS BIGINT) AS n_row_pairs
      |FROM pairs JOIN vocab va ON va.s = name_a JOIN vocab vb ON vb.s = name_b
      |ORDER BY name_a, name_b""".stripMargin

  /** TPC-H Q15 shape: the supplier(s) achieving the maximum quarterly
    * revenue — an aggregated view referenced twice (once for rows, once
    * for its scalar max), the equality-on-aggregate keeping ties. The
    * revenue CTE materializes once per reference; the scalar max is a
    * one-row broadcast, supplier is broadcast for the name.
    */
  def q96TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")), DP).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    t(spark, dir, "supplier")
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q96Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))) AS DOUBLE),4) AS total_revenue
      |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q13 shape: customer order-count distribution — a LEFT OUTER
    * join with a non-key residual predicate, counted per customer (the
    * outer join preserving zero-order customers as count 0), then a
    * second aggregation over the first's result. Two shuffles: the join
    * + first groupBy share the custkey clustering; the histogram groupBy
    * exchanges only (count, 1) pairs.
    */
  def q98CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q98Sql: String =
    """WITH c_orders AS (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** PassJoin fuzzy self-join ([[FuzzyJoin.passJoin]]) over part names
    * with planted misspellings (drop-last / append / first-char-swap by
    * partkey mod 3 — deterministic and SQL-expressible). The DuckDB twin
    * is the UNBLOCKED brute force over the same vocabulary, so the green
    * hash certifies the segment-signature blocking is COMPLETE for
    * lev <= 2 — the guarantee tokenBlocked (q91) can't make. The base
    * set is keyed p_partkey <= 500, so the oracle costs the same at
    * every SF.
    */
  def q99FuzzyPassjoin(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
      .filter(col("p_partkey") <= 500)
      .select(col("p_partkey"), col("p_name"))
    val variants = p.select(
      when(col("p_partkey") % 3 === 0,
          expr("substring(p_name, 1, length(p_name) - 1)"))
        .when(col("p_partkey") % 3 === 1, concat(col("p_name"), lit("x")))
        .otherwise(concat(lit("z"), expr("substring(p_name, 2)")))
        .as("p_name"))
    FuzzyJoin.passJoin(p.select(col("p_name")).unionAll(variants), "p_name", maxDist = 2)
      .select(col("a").as("name_a"), col("b").as("name_b"),
        col("dist").cast("int").as("dist"), col("n_row_pairs").cast("long").as("n_row_pairs"))
      .orderBy(col("name_a"), col("name_b"))
  }

  val q99Sql: String =
    """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 500),
      |vars AS (SELECT CASE WHEN p_partkey % 3 = 0 THEN substring(p_name, 1, length(p_name) - 1)
      |                     WHEN p_partkey % 3 = 1 THEN p_name || 'x'
      |                     ELSE 'z' || substring(p_name, 2) END AS s FROM p),
      |vocab AS (SELECT s, COUNT(*) AS n_rows FROM
      |  (SELECT p_name AS s FROM p UNION ALL SELECT s FROM vars) GROUP BY s),
      |pairs AS (SELECT a.s AS name_a, b.s AS name_b, levenshtein(a.s, b.s) AS d,
      |    a.n_rows AS na, b.n_rows AS nb
      |  FROM vocab a JOIN vocab b ON a.s < b.s
      |  WHERE levenshtein(a.s, b.s) <= 2)
      |SELECT name_a, name_b, CAST(d AS INT) AS dist, CAST(na * nb AS BIGINT) AS n_row_pairs
      |FROM pairs ORDER BY name_a, name_b""".stripMargin

  /** Bloom-pruned semi join ([[graft.operators.BloomJoin]]): orders with
    * at least one very-high-value line item. The Bloom phase only prunes
    * probe rows ahead of the shuffle (false positives die in the exact
    * semi join), so the result — and the oracle — is the plain EXISTS.
    */
  def q60BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val hot = t(spark, dir, "lineitem").filter(col("l_extendedprice") > 95000)
    graft.operators.BloomJoin.prunedLeftSemi(orders, hot, "o_orderkey", "l_orderkey",
        expectedItems = 100000L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val q60Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 95000)
      |ORDER BY o_orderkey""".stripMargin
}
