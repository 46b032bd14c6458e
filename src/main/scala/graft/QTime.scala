package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: time individual named queries from [[SparkEntry.queries]]
  * without the full bench session. Usage:
  *
  *   sbt "runMain graft.QTime <sfDir> <reps> <name> [<name> ...]"
  *
  * Same session config as [[Bench]]; per-rep seconds printed so warm-up
  * vs steady-state is visible. Not part of the driver contract.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.TableVersions.opTimingEnable(true)
    // the same fixed-work calibration as Bench ([[Calibration]]) so QTime
    // numbers taken on a drift-prone box are normalizable across runs
    val calThreads = math.min(cpus.toInt, Runtime.getRuntime.availableProcessors)
    println(f"QTIME_CAL cal1=${Calibration.seconds(1)}%.2f " +
      f"cal2=${Calibration.seconds(calThreads)}%.2f calt=$calThreads")
    for (n <- names) {
      val times = (0 until reps).map { _ =>
        graft.operators.TableVersions.opTimingDrain()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        CacheScope.drain()
        val secs = (System.nanoTime() - t0) / 1e9
        val ops = graft.operators.TableVersions.opTimingDrain()
        if (ops.nonEmpty) println("QTIME_OPS " + n + " " + ops.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.2f" }.mkString(","))
        secs
      }
      println(f"QTIME $n reps=${times.map(t => f"$t%.3f").mkString(",")} best=${times.min}%.3f")
    }
    spark.stop()
  }
}
