package graft

/** Dev tool: write `explain("formatted")` output for declared queries to
  * one file per query, for plan-diff review (plans/r{N}/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [query ...]
  * With no query list, dumps every declared query. Table-format queries
  * execute eagerly while the frame is constructed; their dump still records
  * the final frame's plan (the checkpoint scan) — the interesting plans for
  * those live in the operator specs' plan pins instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [sfDir] [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val names = if (args.length > 3) args.drop(3).toSeq else SparkEntry.benchOrder
    val spark = Sessions.local(Sessions.cores("8"), "32", bench = true, logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] $n ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      } finally {
        CacheScope.drain()
      }
    }
    spark.stop()
  }
}
