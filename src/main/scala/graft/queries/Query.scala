package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: the query's name, its builder over an sf tables
  * directory, its DuckDB-equivalent SQL when it has one, whether it joined
  * the bench after the round-7 run (`late`, see
  * [[graft.SparkEntry.benchOrder]]), and its key on Bench's compact line
  * when that is not the `qNN` prefix of the name.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String] = None,
    late: Boolean = false,
    short: Option[String] = None) {

  /** The key on Bench's compact line: `short`, else the `qNN` prefix. */
  def shortKey: String = short.getOrElse(name.takeWhile(_ != '_'))
}
