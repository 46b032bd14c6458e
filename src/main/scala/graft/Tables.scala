package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic test tables (TESTDATA.md). */
object Tables {

  /** Tables whose downstream work is heavy enough that scan parallelism
    * matters (big facts; small-but-expensive text/vector corpora).
    * Whether they actually GET the compensating exchange is decided per
    * layout below — dimension tables are never listed (they broadcast).
    */
  private val scanHeavyTables =
    Set("lineitem", "orders", "events", "documents", "embeddings")

  /** Parquet's split unit is the row group (Spark assigns each row
    * group to the task owning its byte midpoint), so a table's
    * achievable scan parallelism is its TOTAL ROW-GROUP COUNT across
    * files. Counted from the footers once per path (cached — the footer
    * is also what the scan itself reads, so this adds one metadata read
    * per table per session).
    */
  private val rowGroupCache = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def totalRowGroups(spark: SparkSession, path: String): Int =
    rowGroupCache.computeIfAbsent(path, { p =>
      val hconf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(hconf)
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).toSeq.map(_.getPath)
            .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        else Seq(root)
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
        try r.getRowGroups.size finally r.close()
      }.sum
    })

  /** Scan-heavy tables get one small post-scan exchange ONLY when the
    * measured layout cannot feed the cores by itself (row groups <
    * default parallelism — the driver's testdata ships each table as a
    * single row group, where without help every scan-heavy stage runs
    * single-threaded; measured: q01's map-side decimal aggregation
    * alone, 2.0s → 0.76s with the repartition). Filters and column
    * pruning still push through the Repartition to the scan. On
    * production data — thousands of row groups — the gate self-disables
    * and the plan is the exchange-free scan → partial-agg shape
    * (Round7PlanSpec pins both directions).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    if (scanHeavyTables(name) &&
        totalRowGroups(spark, path) < spark.sparkContext.defaultParallelism)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** Unrepartitioned scan — for consumers that fan out into MANY small
    * independent branches (e.g. the per-column profiler union): there
    * the compensating exchange above is paid once PER BRANCH while
    * parallelism already comes from running the branches concurrently
    * (measured: q84 2.1 s → 0.8 s at sf0.1).
    */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.parquet` normalization, adaptive to the generator's physical
    * layout (it has shipped three): whatever arrives, downstream sees
    * TimestampType micros matching the DuckDB oracle's naive reading of
    * the same file — WITHOUT losing parquet predicate pushdown on `ts`
    * (the reference's bread-and-butter lookback filters, P6/A5-A10,
    * must row-group-skip at 100 TB):
    *
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): TimestampType natively.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): read with
    *    `inferTimestampNTZ` scoped OFF for this one read, so the column
    *    arrives as TimestampType straight from the scan (the stored
    *    micros ARE the session-UTC micros — the same value the previous
    *    post-scan `cast(ntz as timestamp)` produced, but filters now
    *    reach the scan: a predicate on a cast-derived column does not
    *    push, a predicate on the scanned column does).
    *  - INT64 TIMESTAMP(NANOS) — which Spark's reader only accepts as
    *    long via the legacy conf — truncates to microseconds
    *    (`div 1000`, bit-identical to DuckDB's `CAST(ts AS TIMESTAMP)`).
    *    Time predicates then compare against the derived column, so
    *    [[graft.plans.RawTimeBoundsRewrite]] (registered here) derives
    *    pushable raw-long bounds next to them.
    *
    * LayoutSpec pins value-equality of all three normalizations;
    * Round7PlanSpec pins PushedFilters in the NTZ and nanos layouts.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inferKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.get(inferKey, "true")
    spark.conf.set(inferKey, "false")
    // schema inference is eager at read-time, so restoring the conf
    // immediately after does not affect this frame's execution
    val df = try t(spark, dir, "events") finally spark.conf.set(inferKey, prev)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // unreachable with the infer conf scoped off; kept as a belt
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
