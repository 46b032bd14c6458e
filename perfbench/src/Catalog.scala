package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `catalog`: repeated passes over a fixed set of oracle-backed
  * `SparkEntry.queries` at sf0.1, each run through the noop sink, so the
  * whole physical plan executes and nothing is collected.
  *
  * The first pass in the JVM is the cold one (planning, code generation and
  * JIT included) and is not measured; then a fixed, even number of passes,
  * sized from `--seconds`, is. Last, the result pass writes each query's
  * result to `<work>/results/<query>`, and each `SparkEntry.oracleSql` goes
  * to `<work>/results/oracle_sql.json`; `run.py` compares them with DuckDB
  * over the same generated tables.
  */
object Catalog {
  /** Scan-aggregate, window and cube shapes: the executor CPU lands in
    * `graft.operators`, `plans` and `expressions`, none in the table format.
    */
  val queries = Seq("q01_pricing_summary", "q29_window_lag", "q36_cube")
  /** The plain scan-and-aggregate read of the largest table. */
  val readQuery = "q01_pricing_summary"
  /** Nominal seconds of one warm pass on 4 cores (sizes the pass count). */
  private val nominalPassS = 3.5

  def run(spark: SparkSession, tr: Tracer, a: Args): Outcome = {
    def frame(q: String) = SparkEntry.queries(q)(spark, a.data)

    // set-up: build the query set's DataFrames (the queries open their
    // tables and are analysed), three times
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach(frame)
      (System.nanoTime() - t0) / 1e9
    }

    var attempted = 0
    var failed = 0
    def pass(): Map[String, Double] = queries.flatMap { q =>
      attempted += 1
      try Some(q -> tr.op(q)(frame(q).write.format("noop").mode("overwrite").save())._2)
      catch { case e: Exception =>
        failed += 1; System.err.println(s"[perfbench] $q failed: $e"); None
      }
    }.toMap

    val warm = tr.ops.size
    val c0 = System.nanoTime()
    pass()
    val coldS = (System.nanoTime() - c0) / 1e9
    tr.discardFrom(warm)
    Main.log("cold pass done")

    val passes = (1 to Main.evenCount(a.seconds, nominalPassS)).map { _ =>
      val t0 = System.nanoTime()
      val p = pass()
      ((System.nanoTime() - t0) / 1e9, p)
    }
    Main.log(s"measured ${passes.size} passes")

    // the result pass: the query set once more, each result written to
    // parquet, where `run.py` checks it against the oracle; `--plant
    // catalog.<query>` drops a row of that query's result
    val results = s"${a.work}/results"
    val r0 = System.nanoTime()
    queries.foreach { q =>
      val df = frame(q)
      val out = if (a.plant(s"catalog.$q")) df.limit(math.max(0L, df.count() - 1).toInt) else df
      out.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
    }
    val resultPassS = (System.nanoTime() - r0) / 1e9
    val w = new java.io.PrintWriter(s"$results/oracle_sql.json", "UTF-8")
    try w.println(Json.obj(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)) finally w.close()

    def perQuery(q: String) = passes.flatMap(_._2.get(q))
    Outcome(
      e2e = Map(
        "setup_s" -> Stats.median(setups),
        "bulk_s" -> resultPassS,
        "op_p50_s" -> Stats.median(passes.map(_._1)),
        "read_p50_s" -> Stats.median(perQuery(readQuery))),
      counters = Map.empty,
      detail = Map(
        "catalog_pass_s" -> Stats.median(passes.map(_._1)), "cold_pass_s" -> coldS,
        "result_pass_s" -> resultPassS,
        "pass_samples_s" -> passes.map(_._1), "passes" -> passes.size,
        "query_p50_s" -> queries.map(q => q -> Stats.median(perQuery(q))).toMap,
        "queries" -> queries, "setup_samples_s" -> setups),
      checks = Seq.empty, attempted = attempted, failedOps = failed)
  }
}
