package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the mains: a local master in UTC with the UI
  * off. `bench` adds the settings Bench and its diagnostics run under
  * (AQE on, 64 MB broadcast joins, 4 GB results).
  */
private[graft] object Sessions {

  /** The local master's thread count: `SPARK_GRAFT_CPUS`, else `default`. */
  def cores(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cores: String, shufflePartitions: String, bench: Boolean = false,
      logLevel: String = "WARN"): SparkSession = {
    val benchConf =
      if (bench) Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "64m", "spark.driver.maxResultSize" -> "4g")
      else Map.empty[String, String]
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config(benchConf ++ Map("spark.sql.shuffle.partitions" -> shufflePartitions,
        "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
