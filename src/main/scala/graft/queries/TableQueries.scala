package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{ChangeFeed, Merge, TableVersions, ZOrder}

/** Table-format layer: the versioned table end to end. Most queries land
  * sf tables in a temp versioned table under java.io.tmpdir, drive one
  * table operation (MERGE, upsert, delete and optimize, partition replace,
  * change feed, deletion vectors, restore and clone, column mapping, the
  * SQL catalog and its DML), localCheckpoint the final state and delete
  * the table, so DuckDB can hash the exact semantics from plain SQL. The
  * rest certify the layout and maintenance planners the table runs on:
  * Z-order values (q70), the DataFrame MERGE upsert (q90) and the
  * compaction plan (q117).
  */
object TableQueries {
  import Tables.t

  lazy val entries: Seq[Query] = Seq(
    Query("q70_zorder_values", q70ZOrderValues, Some(q70Sql)),
    Query("q90_merge_upsert", q90MergeUpsert, Some(q90Sql)),
    Query("q117_compaction_plan", q117CompactionPlan, Some(q117Sql)),
    Query("q121_versioned_table", q121VersionedRoundtrip, Some(q121Sql)),
    Query("q123_delete_optimize", q123DeleteOptimize, Some(q123Sql)),
    Query("q125_upsert", q125Upsert, Some(q125Sql)),
    Query("q128_partitioned_table", q128PartitionedTable, Some(q128Sql), late = true),
    Query("q129_change_feed", q129ChangeFeed, Some(q129Sql), late = true),
    Query("q130_restore_clone", q130RestoreClone, Some(q130Sql), late = true),
    Query("q131_replace_parts", q131ReplacePartitions, Some(q131Sql), late = true),
    Query("q132_cdf_view", q132CdfView, Some(q132Sql), late = true),
    Query("q133_deletion_vectors", q133DeletionVectors, Some(q133Sql), late = true),
    Query("q135_column_mapping", q135ColumnMapping, Some(q135Sql), late = true),
    Query("q136_merge_into", q136MergeInto, Some(q136Sql), late = true),
    Query("q137_change_feed", q137ChangeFeed, Some(q137Sql), late = true),
    Query("q138_sql_catalog", q138SqlCatalog, Some(q138Sql), late = true),
    Query("q139_sql_dml", q139SqlDml, Some(q139Sql), late = true),
    Query("q140_merge_evolution", q140MergeEvolution, Some(q140Sql), late = true)
  )

  /** Z-order curve positions ([[ZOrder.zValue]]): the Morton interleave
    * of (custkey, order epoch-day) as a plain column expression, hash-
    * checked against DuckDB computing the identical bit arithmetic.
    * This pins the curve math the [[ZOrder.cluster]] layout job sorts
    * by (the layout itself — file-level min/max narrowing — is asserted
    * in LayoutSpec, since file statistics aren't SQL-observable).
    */
  def q70ZOrderValues(spark: SparkSession, dir: String): DataFrame = {
    val epochDay = datediff(to_date(col("o_orderdate")), lit(java.sql.Date.valueOf("1970-01-01")))
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        ZOrder.zValue(Seq(
          col("o_custkey").bitwiseAND(lit(65535L)),
          epochDay.cast("long").bitwiseAND(lit(65535L))), bits = 16).as("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .limit(1000)
  }

  val q70Sql: String =
    """SELECT o_orderkey, CAST(list_sum(list_transform(range(0, 16), i ->
      |    (((o_custkey & 65535) >> i) & 1) * (1::BIGINT << (2*i)) +
      |    (((date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535) >> i) & 1) * (1::BIGINT << (2*i + 1))
      |  )) AS BIGINT) AS zval
      |FROM orders
      |ORDER BY zval, o_orderkey LIMIT 1000""".stripMargin

  /** MERGE upsert ([[Merge.upsert]]): a corrections feed (every 7th
    * order, totalprice revised ×1.05 in exact decimal, status 'R')
    * merged into the pre-2000 order book — matched keys update,
    * unmatched insert. The revised price is DECIMAL(18,2)×DECIMAL(3,2)
    * (exact, identical on both engines) cast back to double.
    */
  def q90MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val target = orders.filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
    val source = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"), lit("R").as("o_orderstatus"),
        (col("o_totalprice").cast(D) * lit(BigDecimal("1.05")).cast(DecimalType(3, 2)))
          .cast("double").as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    Merge.upsert(target, source, Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_orders"), decSum(col("o_totalprice"), DP).as("total_value"))
      .orderBy(col("o_orderstatus"))
  }

  val q90Sql: String =
    """WITH target AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
      |src AS (SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice,
      |    o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 = 0),
      |merged AS (SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice
      |  FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE),4) AS total_value
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Small-file compaction plan ([[graft.operators.Compaction.plan]])
    * over a deterministic synthetic listing derived from orders: one
    * "file" per (order month, orderkey mod 16) with an exact integer
    * byte size from the decimal price sum — both engines derive the
    * identical listing, so the whole planner (window cumsum → integer
    * bin division → per-bin rollup) hash-compares.
    */
  def q117CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val listing = t(spark, dir, "orders")
      .groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("part"),
        (col("o_orderkey") % 16).cast("long").as("file_id"))
      .agg((sum((col("o_totalprice") * 100).cast("decimal(38,0)")) % 4000000L + 50000L)
        .cast("long").as("bytes"))
    graft.operators.Compaction.plan(listing, Seq("part"), "file_id", "bytes",
        targetBytes = 1000000L)
      .select(col("part"), col("file_id"), col("bytes"), col("bin"),
        col("bin_bytes"), col("bin_files"))
      .orderBy("part", "file_id")
  }

  val q117Sql: String =
    """WITH listing AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS part,
      |         CAST(o_orderkey % 16 AS BIGINT) AS file_id,
      |         CAST(CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) % 4000000
      |              + 50000 AS BIGINT) AS bytes
      |  FROM orders GROUP BY 1, 2),
      |planned AS (
      |  SELECT part, file_id, bytes,
      |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 1000000 AS BIGINT) AS bin
      |  FROM listing)
      |SELECT part, file_id, bytes, bin,
      |  CAST(SUM(bytes) OVER (PARTITION BY part, bin) AS BIGINT) AS bin_bytes,
      |  CAST(COUNT(*) OVER (PARTITION BY part, bin) AS BIGINT) AS bin_files
      |FROM planned ORDER BY part, file_id""".stripMargin

  /** Versioned-table END-TO-END round trip
    * ([[graft.operators.TableVersions]]): orders lands in a fresh
    * versioned table as three txn-tagged append commits (one replayed —
    * must dedupe), the layout is compacted, and the LATEST version is
    * aggregated by order month. The oracle aggregates the orders table
    * directly — data-equality through the whole commit/replay/compact
    * machinery is exactly what the format must preserve. The result is
    * checkpointed so the temp table can be deleted before returning.
    */
  def q121VersionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_v"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    (0 until 3).foreach { i =>
      graft.operators.TableVersions.appendTxn(spark, root,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === i), "q121", i.toLong)
    }
    // replayed micro-batch: exactly-once txn record makes it a no-op
    graft.operators.TableVersions.appendTxn(spark, root,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1), "q121", 1L)
    graft.operators.TableVersions.compact(spark, root, targetBytes = 8L << 20)
    val res = graft.operators.TableVersions.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    // the checkpoint detached the plan from the temp files — reclaim them
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q121Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** Versioned-table MUTATION path end-to-end
    * ([[graft.operators.TableVersions.deleteWhere]]/`optimizeZOrder`):
    * orders lands in a versioned table, gets Z-order-optimized on
    * o_orderkey, then a key RANGE is deleted with the stats-pruned
    * rewrite (only the files whose min/max admit the range are
    * touched — the GDPR-takedown shape). The latest version's monthly
    * aggregate must equal the oracle's plain `WHERE NOT BETWEEN` over
    * orders — certifying that optimize preserved every row and delete
    * removed exactly the range, whatever the file layout did.
    */
  def q123DeleteOptimize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_d"
    val tv = graft.operators.TableVersions
    tv.append(spark, root, t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")))
    tv.optimizeZOrder(spark, root, Seq("o_orderkey"), numFiles = 8)
    tv.deleteWhere(spark, root,
      col("o_orderkey").between(1000L, 50000L),
      bounds = Map("o_orderkey" -> (1000.0, 50000.0)))
    val res = tv.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q123Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 50000
      |GROUP BY 1 ORDER BY month""".stripMargin

  /** Versioned-table UPSERT (CDC apply) end-to-end
    * ([[graft.operators.TableVersions.upsert]]): orders lands
    * versioned, then a deterministic CDC batch — price corrections for
    * every 7th key plus brand-new synthetic orders — merges by key.
    * The latest version's aggregate must equal the oracle's replace-
    * and-union over the raw table: replaced keys carry their NEW
    * price exactly once, inserts appear, untouched rows are bit-equal.
    */
  def q125Upsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_u"
    val tv = graft.operators.TableVersions
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    tv.append(spark, root, orders)
    val updates = orders.filter(col("o_orderkey") % 7 === 3)
      .withColumn("o_totalprice",
        (col("o_totalprice") + lit(1000)).cast(DecimalType(12, 2)))
      .unionByName(orders.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          to_date(lit("1997-06-15")).as("o_orderdate"),
          lit(BigDecimal("123.45")).cast(DecimalType(12, 2)).as("o_totalprice")))
    tv.upsert(spark, root, updates, "o_orderkey")
    val res = tv.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q125Sql: String =
    """WITH up AS (
      |  SELECT o_orderkey, o_orderdate,
      |    CAST(o_totalprice + 1000 AS DECIMAL(12,2)) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 7 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, DATE '1997-06-15', CAST(123.45 AS DECIMAL(12,2))
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |merged AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM up)
      |  UNION ALL SELECT * FROM up)
      |SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM merged GROUP BY 1 ORDER BY month""".stripMargin

  /** PARTITIONED versioned table end-to-end (q128,
    * [[TableVersions.append]] with `partitionBy` + [[TableVersions
    * .readPartitions]]): orders lands month-partitioned in two appends
    * (the second inherits the partitioning), one partition is compacted
    * (per-partition maintenance), then three months are read back
    * PARTITION-PRUNED — file selection from commit metadata only — and
    * aggregated. The oracle aggregates orders under the same month
    * filter: data-equality through partitioned commit/inherit/compact/
    * prune is what the format must preserve. The result is checkpointed
    * so the temp table can be deleted before returning.
    */
  def q128PartitionedTable(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_p"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("year", date_format(col("o_orderdate"), "yyyy"))
    TableVersions.append(spark, root,
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0), partitionBy = Seq("year"))
    TableVersions.append(spark, root,
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
    // per-partition maintenance on a DIFFERENT partition than the read:
    // the pruned read below must not see or pay for it
    TableVersions.compact(spark, root, targetBytes = 8L << 20,
      partition = Map("year" -> "1994"))
    val res = TableVersions.readPartitions(spark, root, Map("year" -> "1995"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q128Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y') = '1995'
      |GROUP BY 1 ORDER BY month""".stripMargin

  /** CHANGE FEED vs oracle diff (q129, [[TableVersions.readChanges]]):
    * two appends, a row-level delete and a compaction on a fresh
    * versioned table, then the full change feed — the oracle
    * reconstructs the exact (row, change_type, version) set from the
    * orders table: appends emit their rows as inserts at their version,
    * the delete emits exactly the deleted rows at its version, and the
    * compaction (a pure layout rewrite) emits NOTHING — the property
    * that makes a 100 TB change feed O(changed data), not O(table).
    */
  def q129ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_c"
    val orders = t(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    // range-clustered appends: the delete's stats bounds then prune to
    // the files actually covering [1000, 5000] — the CDF delete step
    // diffs only those, not the table
    TableVersions.append(spark, root, orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    TableVersions.append(spark, root, orders.filter(pmod(col("o_orderkey"), lit(3)) === 1)
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val Some(dv) = TableVersions.deleteWhere(spark, root,
      col("o_orderkey").between(1000L, 5000L),
      bounds = Map("o_orderkey" -> (1000.0, 5000.0))): @unchecked
    val cv = TableVersions.compact(spark, root, targetBytes = 8L << 20).getOrElse(dv)
    val res = TableVersions.readChanges(spark, root, fromExclusive = -1L, to = cv)
      .select(col("o_orderkey"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("version"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("version", "change_type", "o_orderkey")
  }

  /** RESTORE + SHALLOW CLONE end-to-end (q130): orders lands versioned,
    * a range delete goes wrong, [[TableVersions.restore]] rolls it back
    * by committing forward, then a zero-copy [[TableVersions
    * .shallowClone]] takes the restored table and receives a correction
    * batch the SOURCE must never see. The result reads the CLONE's
    * monthly aggregate; the oracle computes orders + the correction
    * batch directly — data-equality through delete/restore/clone/append
    * is exactly what the rollback and branching machinery must
    * preserve. (The restored source equals plain orders; the q121/q128
    * family already certifies that read path.)
    */
  def q130RestoreClone(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_tv").toString
    val root = base + "/orders_r"
    val cloneRoot = base + "/orders_r_clone"
    val orders = t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    TableVersions.append(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val Some(dv) = TableVersions.deleteWhere(spark, root,
      col("o_orderkey").between(1000L, 5000L),
      bounds = Map("o_orderkey" -> (1000.0, 5000.0))): @unchecked
    TableVersions.restore(spark, root, dv - 1) // the delete was a mistake
    TableVersions.shallowClone(spark, root, cloneRoot)
    // the correction batch lands on the CLONE only
    TableVersions.append(spark, cloneRoot,
      orders.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val res = TableVersions.read(spark, cloneRoot)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q130Sql: String =
    """WITH c AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderdate, o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM c GROUP BY 1 ORDER BY month""".stripMargin

  val q129Sql: String =
    """WITH ch AS (
      |  SELECT o_orderkey, 'insert' AS change_type, CAST(0 AS BIGINT) AS version
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'insert', 1 FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, 'delete', 2 FROM orders
      |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey BETWEEN 1000 AND 5000)
      |SELECT o_orderkey, change_type, version
      |FROM ch ORDER BY version, change_type, o_orderkey""".stripMargin

  /** REPLACE PARTITIONS (q131): orders land partitioned by order year;
    * a correction batch atomically swaps 1995 for a re-priced copy AND
    * drops 1996 in the same commit (`drop` — a refresh that empties a
    * partition must not leave stale files); a replayed commit with the
    * same txn id is a no-op. The oracle computes the same final state
    * in SQL: 1995 re-priced, 1996 absent, everything else untouched.
    *
    * Scale shape: the swap is O(staged batch + commit metadata) — the
    * untouched years carry by reference (zero data motion), partition
    * selection reads the commit, and readers only ever see a whole
    * version. This is the fact-refresh primitive at 100 TB: a
    * 15-minute cycle rewrites a handful of date partitions, never the
    * table.
    */
  def q131ReplacePartitions(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_rp"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("yr", year(col("o_orderdate")))
    TableVersions.append(spark, root, orders.repartition(4), partitionBy = Seq("yr"))
    val correction = orders.filter(col("yr") === 1995)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    TableVersions.replacePartitions(spark, root, correction,
      txn = Some("correction" -> 1L), drop = Seq(Map("yr" -> "1996")))
    // exactly-once: the replayed batch must change nothing
    val v = TableVersions.replacePartitions(spark, root, correction,
      txn = Some("correction" -> 1L), drop = Seq(Map("yr" -> "1996")))
    require(v == TableVersions.currentVersion(spark, root).get)
    val res = TableVersions.read(spark, root)
      .groupBy(col("yr"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("yr")
  }

  val q131Sql: String =
    """WITH c AS (
      |  SELECT o_orderkey, o_orderdate,
      |    CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
      |      THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
      |    EXTRACT(year FROM o_orderdate) AS yr
      |  FROM orders WHERE EXTRACT(year FROM o_orderdate) <> 1996)
      |SELECT CAST(yr AS INT) AS yr, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM c GROUP BY 1 ORDER BY yr""".stripMargin

  /** CHANGE-FEED-FED MATERIALIZED VIEW (q132): orders land versioned in
    * three commits (initial load, an append batch, a partition
    * replacement), and a downstream per-year summary table is
    * maintained PURELY from the source's change feed by
    * [[ChangeFeed.refreshPartitionsFrom]] — each source version
    * recomputes only the years whose rows changed and swaps them
    * exactly-once (txn = consumer, source version). The query reads the
    * SUMMARY table; the oracle computes the same summary from the final
    * source state directly — feed-driven maintenance must converge to
    * the one-shot answer.
    *
    * Scale shape: per source commit the consumer pays O(changed
    * partitions), not O(view); catch-up is one readChanges plan; a
    * crash replays one version into a txn-guarded no-op. This is the
    * generalized form of the index-maintenance follower, usable by any
    * partition-wise view.
    */
  def q132CdfView(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_tv").toString
    val root = base + "/orders_src"
    val viewRoot = base + "/orders_summary"
    val ckpt = base + "/_ckpt"
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("yr", year(col("o_orderdate")))
    def summarize(src: DataFrame): DataFrame =
      src.groupBy(col("yr"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
            .as("total_price"))
    def catchUp(): Seq[Long] = ChangeFeed.refreshPartitionsFrom(
      spark, root, viewRoot, ckpt, "summary", "yr")(summarize)

    TableVersions.append(spark, root,
      orders.filter(col("o_orderkey") % 3 =!= 0).repartition(4), partitionBy = Seq("yr"))
    catchUp() // consumer reaches the initial load
    TableVersions.append(spark, root, orders.filter(col("o_orderkey") % 3 === 0).repartition(2))
    TableVersions.replacePartitions(spark, root,
      orders.filter(col("yr") === 1994)
        .withColumn("o_totalprice", col("o_totalprice") - 5.0))
    catchUp() // two more source versions flow through the feed
    require(catchUp().isEmpty) // caught up: the feed is drained
    val res = TableVersions.read(spark, viewRoot)
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("yr")
  }

  val q132Sql: String =
    """WITH c AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS yr,
      |    CASE WHEN EXTRACT(year FROM o_orderdate) = 1994
      |      THEN o_totalprice - 5.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT CAST(yr AS INT) AS yr, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM c GROUP BY 1 ORDER BY yr""".stripMargin

  /** DELETION VECTORS end-to-end (q133): orders land Z-ordered on the
    * key, a small takedown runs as a MERGE-ON-READ delete (positional
    * tombstone sidecar — no data file rewritten), a second DV delete
    * merges the first's tombstones forward, a too-large delete falls
    * back to the rewrite path, and compaction folds the remaining DVs
    * away. The result reads the final state; the oracle applies the
    * same three predicates in SQL — the tombstone/fold machinery must
    * be invisible to query semantics at every point.
    *
    * Scale shape: the takedowns write O(deleted rows) bytes against a
    * table whose candidate files are stats-pruned from the commit; the
    * fraction guard keeps sidecars small so every read's anti-join
    * build side stays broadcast-sized; rewrites re-materialize
    * tombstones away so they never accumulate past the next
    * maintenance pass.
    */
  def q133DeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tv").toString + "/orders_mor"
    val tv = TableVersions
    tv.append(spark, root, t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")))
    tv.optimizeZOrder(spark, root, Seq("o_orderkey"), numFiles = 8)
    // small takedowns: merge-on-read (verified: the listing is unchanged).
    // The fraction guard is per CANDIDATE file, so the delete ranges are
    // SCALE-RELATIVE (keys here are dense 0..m): a 2%-of-keyspace range
    // is ~16% of the one Z-ordered file holding it at EVERY sf, keeping
    // the DV-vs-rewrite routing deterministic across scales. The oracle
    // mirrors the ranges with m = max(o_orderkey) scalar subqueries.
    val m = t(spark, dir, "orders").agg(max(col("o_orderkey"))).head().getLong(0)
    val files0 = tv.listing(spark, root).map(_._1).toSet
    tv.deleteWhere(spark, root, col("o_orderkey").between(100L, 100L + m / 50),
      bounds = Map("o_orderkey" -> (100.0, (100L + m / 50).toDouble)), maxDvFraction = 0.2)
    tv.deleteWhere(spark, root, col("o_orderkey").between(m / 2, m / 2 + m / 100),
      bounds = Map("o_orderkey" -> ((m / 2).toDouble, (m / 2 + m / 100).toDouble)),
      maxDvFraction = 0.2)
    require(tv.listing(spark, root).map(_._1).toSet == files0,
      "small deletes must not rewrite data files")
    require(tv.commitState(spark, root).dvs.nonEmpty)
    // a bulk delete (the top fifth of the keyspace) exceeds the
    // fraction guard and rewrites
    tv.deleteWhere(spark, root, col("o_orderkey") > m * 4 / 5,
      bounds = Map("o_orderkey" -> ((m * 4 / 5).toDouble, Double.MaxValue)),
      maxDvFraction = 0.2)
    // compaction folds whatever tombstones remain
    tv.compact(spark, root, targetBytes = 64L << 20)
    val res = tv.read(spark, root)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        round(sum(col("o_totalprice").cast(DecimalType(38, 2))).cast("double"), 4)
          .as("total_price"))
    val out = graft.CacheScope.trackCheckpoint(res.localCheckpoint(true))
    rmTree(new java.io.File(root).getParent)
    out.orderBy("month")
  }

  val q133Sql: String =
    """WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS m FROM orders)
      |SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM orders, mx
      |WHERE o_orderkey NOT BETWEEN 100 AND 100 + m // 50
      |  AND o_orderkey NOT BETWEEN m // 2 AND m // 2 + m // 100
      |  AND o_orderkey <= m * 4 // 5
      |GROUP BY 1 ORDER BY month""".stripMargin

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

  /** SQL MERGE WITH SCHEMA EVOLUTION end-to-end (q140): CREATE +
    * INSERT a versioned orders table, evolve it with a merge whose
    * source carries an extra `o_bonus` column (updates by key + keyed
    * inserts), and read the evolved result back through the catalog.
    */
  def q140MergeEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.t
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    if (!spark.conf.getOption("spark.sql.catalog.graft.warehouse").exists(_.nonEmpty))
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val tbl = s"graft.db.e_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      t(spark, dir, "orders").createOrReplaceTempView("orders_src_q140")
      spark.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE)")
      spark.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice FROM orders_src_q140")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING (
           |  SELECT o_orderkey AS o_orderkey2, 'E' AS o_orderstatus,
           |    o_totalprice + 5 AS o_totalprice,
           |    CAST((o_orderkey % 100) + 0.5 AS DOUBLE) AS o_bonus
           |  FROM orders_src_q140 WHERE o_orderkey % 17 = 0
           |  UNION ALL
           |  SELECT o_orderkey + 60000000, 'E2', 1.25, CAST(2.5 AS DOUBLE)
           |  FROM orders_src_q140 WHERE o_orderkey % 301 = 0) s
           |ON t.o_orderkey = s.o_orderkey2
           |WHEN MATCHED THEN UPDATE SET o_orderstatus = s.o_orderstatus,
           |  o_totalprice = s.o_totalprice, o_bonus = s.o_bonus
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice,
           |  o_bonus) VALUES (s.o_orderkey2, s.o_orderstatus, s.o_totalprice,
           |  s.o_bonus)""".stripMargin)
      val res = spark.sql(
        s"""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
           |  round(CAST(sum(CAST(coalesce(o_bonus, 0.0) AS DECIMAL(38,4))) AS DOUBLE), 4)
           |    AS bonus_sum,
           |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 4)
           |    AS total_price
           |FROM $tbl GROUP BY o_orderstatus ORDER BY status""".stripMargin)
      graft.CacheScope.trackCheckpoint(res.localCheckpoint(true)).orderBy("status")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      ()
    }
  }

  val q140Sql: String =
    """WITH src AS (
      |  SELECT o_orderkey AS k, 'E' AS st, o_totalprice + 5 AS p,
      |    (o_orderkey % 100) + 0.5 AS b
      |  FROM orders WHERE o_orderkey % 17 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 60000000, 'E2', 1.25, 2.5
      |  FROM orders WHERE o_orderkey % 301 = 0),
      |m AS (
      |  SELECT COALESCE(o.o_orderkey, s.k) AS k,
      |    CASE WHEN s.k IS NOT NULL THEN s.st ELSE o.o_orderstatus END AS st,
      |    CASE WHEN s.k IS NOT NULL THEN s.p ELSE o.o_totalprice END AS p,
      |    s.b AS b
      |  FROM orders o FULL OUTER JOIN src s ON o.o_orderkey = s.k)
      |SELECT st AS status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_key,
      |  round(CAST(sum(CAST(COALESCE(b, 0.0) AS DECIMAL(38,4))) AS DOUBLE), 4) AS bonus_sum,
      |  round(CAST(sum(CAST(p AS DECIMAL(38,2))) AS DOUBLE), 4) AS total_price
      |FROM m GROUP BY 1 ORDER BY status""".stripMargin
}
