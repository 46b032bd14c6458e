package graft
object EntryProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8", "8")
    println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
