package graft

import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.runner.{Lakehouse, ZoneSink}

/** Zone format pluggability: the same pipeline over ORC zones produces a
  * byte-equal fact to the Parquet default (SURVEY §1's "everything is
  * format-pluggable" claim, proven).
  */
class FormatsSpec extends SparkSpec {

  test("ORC lakehouse produces the same fact as the Parquet lakehouse") {
    val cfg = Config.default
    val gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)
    val raw = gen.messagesJson(spark, 2000).toDF("value").cache()
    try {
      val pRoot = java.nio.file.Files.createTempDirectory("graft_fmt_parquet_").toString
      val oRoot = java.nio.file.Files.createTempDirectory("graft_fmt_orc_").toString
      val pLake = new Lakehouse(spark, pRoot, cfg, ZoneSink())
      val oLake = new Lakehouse(spark, oRoot, cfg, ZoneSink("orc"))
      pLake.runEtl(raw, 0L); pLake.buildFact()
      oLake.runEtl(raw, 0L); oLake.buildFact()

      val p = pLake.fact
      val o = oLake.fact
      assert(p.count() == o.count() && p.count() > 0)
      assert(p.exceptAll(o).isEmpty && o.exceptAll(p).isEmpty)

      // the ORC zone really is ORC on disk
      val factDir = new java.io.File(s"${oLake.curatedDir}/fact_patient_encounters")
      def orcFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(orcFiles).sum
        else if (f.getName.endsWith(".orc")) 1 else 0
      assert(orcFiles(factDir) > 0, "expected .orc files in the curated zone")
    } finally raw.unpersist()
  }

  test("textual zone format is rejected eagerly") {
    intercept[IllegalArgumentException] {
      new Lakehouse(spark, "/tmp/never", Config.default, ZoneSink("csv"))
    }
  }

  test("sink options pass through to the writer (zstd parquet on disk)") {
    import graft.runner.ZoneSink
    val cfg = Config.default
    val gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)
    val raw = gen.messagesJson(spark, 300).toDF("value")
    val root = java.nio.file.Files.createTempDirectory("graft_fmt_zstd_").toString
    val lake = new Lakehouse(spark, root, cfg,
      ZoneSink("parquet", Map("compression" -> "zstd")))
    lake.runEtl(raw, 0L)
    def zstdFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(zstdFiles).sum
      else if (f.getName.endsWith(".zstd.parquet")) 1 else 0
    assert(zstdFiles(new java.io.File(lake.processedDir)) > 0,
      "expected zstd-compressed parquet in the processed zone")
  }

  test("warehouse connector formats are config-accepted; absent connectors fail at write naming the format") {
    import graft.runner.ZoneSink
    // the config surface for a production warehouse sink (the
    // reference's BigQuery zone) constructs fine...
    val lake = new Lakehouse(spark, "/tmp/never_bq", Config.default,
      ZoneSink("bigquery", Map("table" -> "curated.fact_patient_encounters",
        "temporaryGcsBucket" -> "staging-bucket", "writeMethod" -> "indirect")))
    // ...and in this connector-less environment the write raises Spark's
    // standard unresolvable-data-source error that names the format
    val cfg = Config.default
    val gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)
    val raw = gen.messagesJson(spark, 50).toDF("value")
    val e = intercept[Exception] { lake.runEtl(raw, 0L) }
    assert(e.getMessage.toLowerCase.contains("bigquery"),
      s"error should name the missing connector: ${e.getMessage}")
  }

  test("CSV and JSON raw-zone ingest land identical clean rows; corrupt rows go to the dead letter") {
    import graft.sources.Ingest
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_").toString

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.json"),
      ("""{"id":1,"name":"alpha","amount":10.5}""" + "\n" +
        """{"id":2,"name":"beta","amount":20.0}""" + "\n" +
        """{"id":3,"name":"gamma","amount":-3.25}""" + "\n" +
        """{not json at all""" + "\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.csv"),
      ("id,name,amount\n1,alpha,10.5\n2,beta,20.0\n3,gamma,-3.25\n" +
        "oops,ragged,row,extra\n").getBytes)

    val (jClean, jDead) = Ingest.routeCorrupt(Ingest.json(spark, s"$dir/a.json", schema))
    val (cClean, cDead) = Ingest.routeCorrupt(Ingest.csv(spark, s"$dir/a.csv", schema))
    assert(jClean.count() == 3 && cClean.count() == 3)
    assert(jDead.count() == 1 && cDead.count() == 1)
    assert(jClean.exceptAll(cClean).isEmpty && cClean.exceptAll(jClean).isEmpty)

    // the CSV batch extract replays through the same message contract as
    // the JSON stream: to_json envelope → from_json(schema) round-trip
    import org.apache.spark.sql.functions._
    val replayed = Ingest.asMessages(cClean)
      .select(from_json(col("value"), schema).as("m")).select(col("m.*"))
    assert(replayed.exceptAll(jClean).isEmpty && jClean.exceptAll(replayed).isEmpty)
  }
}
