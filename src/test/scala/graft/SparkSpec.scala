package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast; suites must not mutate global conf destructively).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // -Dgraft.test.pushedPruneThreshold=1 sends every non-empty table through the pushed planner
    sys.props.get("graft.test.pushedPruneThreshold").foreach(s.conf.set("graft.table.pushedPruneThreshold", _))
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Collect `df` and return (rows, observed metrics) — the CollectMetrics
    * counters operators emit via `observe(name, ...)`. Listener callbacks
    * are async, so poll briefly; filter by name prefix since observe names
    * carry a monotone uniqueness suffix.
    */
  def collectWithMetrics(df: org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Map[String, org.apache.spark.sql.Row]) = {
    val captured = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => captured.put(k, v) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = df.collect()
      val deadline = System.nanoTime() + 10000000000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(25)
      (rows, scala.jdk.CollectionConverters.MapHasAsScala(captured).asScala.toMap)
    } finally spark.listenerManager.unregister(listener)
  }
}
