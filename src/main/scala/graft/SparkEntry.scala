package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps every implemented operator from SURVEY §2 (plus the
  * training-data extension operators) to a runnable DataFrame; `oracleSql`
  * holds the DuckDB-equivalent SQL for hash-compared correctness. Queries
  * without an oracle entry (the healthcare end-to-end pipeline over
  * generated data, and ops not expressible in portable SQL) get the
  * driver's rows-only check and are covered by ScalaTest golden tests
  * instead. All of them are views of [[catalog]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full healthcare
    * pipeline — generate messages → ETL → staging → fact_patient_encounters
    * (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = PipelineQueries.factEncounters(spark, 4000)

  /** Every query, declared once, layer by layer (`graft.queries`). */
  lazy val catalog: Seq[Query] = Seq(PipelineQueries.entries, SqlQueries.entries,
    JoinQueries.entries, DedupQueries.entries, VectorQueries.entries, TextQueries.entries,
    MultimodalQueries.entries, TableQueries.entries, StreamingQueries.entries).flatten

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = catalog.flatMap(q => q.oracleSql.map(q.name -> _)).toMap

  /** Fixed bench execution order: the round-7 cohort sorted by name
    * (byte-identical to the order BENCH_r07 ran), then the `late` queries
    * oldest first, so the common-set PREFIX of every bench pass is fixed:
    * round-over-round per-query ratios compare like with like, and new
    * queries' JVM/page-cache load cannot leak into the common set's
    * numbers (the round-7 drift lesson). A new query is `late`.
    */
  def benchOrder: Seq[String] = {
    val (late, first) = catalog.partition(_.late)
    first.map(_.name).sorted ++
      late.map(_.name).sortBy(_.drop(1).takeWhile(_.isDigit).toInt)
  }
}
