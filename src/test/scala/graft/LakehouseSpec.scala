package graft

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.model.Config
import graft.runner.{Lakehouse, ZoneSink}

/** End-to-end zone layout + partition pruning on the curated fact. */
class LakehouseSpec extends SparkSpec {

  test("lakehouse runAll: zones materialize, gates healthy, fact partition-pruned") {
    val root = java.nio.file.Files.createTempDirectory("lake_").toString
    val lake = new Lakehouse(spark, root, Config.default, ZoneSink())
    val alerts = lake.runAll(messages = 3000)
    assert(!alerts.exists(a => a.check == "freshness" || a.check == "health"))

    assert(lake.processedVitals.count() > 1000)
    assert(lake.fact.count() > 0)

    // partition pruning: generated vitals span one day, so extend the
    // curated table with a copy shifted 3 days back (second partition),
    // then factSince must read only the recent partition
    import org.apache.spark.sql.functions._
    val root2 = java.nio.file.Files.createTempDirectory("lake2_").toString
    val recent = lake.fact
    val shifted = recent
      .withColumn("measurement_timestamp", col("measurement_timestamp") - expr("INTERVAL 3 DAYS"))
    recent.unionByName(shifted)
      .withColumn("measurement_date", to_date(col("measurement_timestamp")))
      .write.partitionBy("measurement_date")
      .parquet(s"$root2/curated/fact_patient_encounters")
    val lake2 = new Lakehouse(spark, root2, Config.default, ZoneSink())

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val since = java.sql.Timestamp.valueOf("2026-08-11 00:00:00")
      val pruned = lake2.factSince(since)
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      assert(scan.partitionFilters.nonEmpty,
        s"expected partition filters, got: ${scan.partitionFilters}")
      val prunedPartitions = scan.relation.location.listFiles(scan.partitionFilters, Nil).length
      val allPartitions = scan.relation.location.listFiles(Nil, Nil).length
      assert(prunedPartitions < allPartitions,
        s"pruning ineffective: $prunedPartitions of $allPartitions partitions")
      // parity with the unpruned logical filter
      val expected = lake2.fact.filter(col("measurement_timestamp") >= lit(since)).count()
      assert(pruned.count() == expected)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("factSince on table zones prunes the fact's date partitions at planning") {
    import org.apache.spark.sql.functions._
    import graft.operators.TableVersions
    val root = java.nio.file.Files.createTempDirectory("lake_tz_").toString
    val lake = new Lakehouse(spark, root, Config.default)
    lake.runAll(messages = 3000)
    // as above: a second date partition from a copy shifted 3 days back
    val recent = lake.fact
    val shifted = recent
      .withColumn("measurement_timestamp", col("measurement_timestamp") - expr("INTERVAL 3 DAYS"))
    val root2 = java.nio.file.Files.createTempDirectory("lake_tz2_").toString
    val lake2 = new Lakehouse(spark, root2, Config.default)
    TableVersions.overwrite(spark, lake2.factRoot, recent.unionByName(shifted)
      .withColumn("measurement_date", to_date(col("measurement_timestamp"))),
      partitionBy = Seq("measurement_date"))

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val since = java.sql.Timestamp.valueOf("2026-08-11 00:00:00")
      val pruned = lake2.factSince(since)
      val scan = pruned.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }.head
      // the table format keeps partition values in its commit entries, not
      // in the directory layout, so the date predicate reaches its file
      // index as a data filter and the index drops the other dates' files
      val filters = scan.partitionFilters ++ scan.dataFilters
      assert(filters.exists(_.references.exists(_.name == "measurement_date")),
        s"expected a measurement_date filter at the scan, got: $filters")
      val dateOf = TableVersions.commitState(spark, lake2.factRoot).files.map(f =>
        new org.apache.hadoop.fs.Path(f.path).toString -> f.part("measurement_date")).toMap
      def dates(fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
        scan.relation.location.listFiles(Nil, fs).flatMap(_.files)
          .map(s => dateOf(s.getPath.toString)).distinct
      val prunedDates = dates(filters)
      val allDates = dates(Nil)
      assert(prunedDates.nonEmpty && prunedDates.length < allDates.length,
        s"pruning ineffective: ${prunedDates.length} of ${allDates.length} date partitions")
      // parity with the unpruned logical filter
      val expected = lake2.fact.filter(col("measurement_timestamp") >= lit(since)).count()
      assert(pruned.count() == expected)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("ORC ZoneSink drives the full operational surface: runAll gates, incremental refresh, partitioned compaction") {
    import org.apache.spark.sql.functions._
    import graft.gen.HealthcareGenerator
    import graft.runner.ZoneSink
    val root = java.nio.file.Files.createTempDirectory("lake_orc_").toString
    val lake = new Lakehouse(spark, root, Config.default, ZoneSink("orc"))

    // full DAG cycle lands healthy through the plug point
    val alerts = lake.runAll(messages = 2000)
    assert(!alerts.exists(a => a.check == "freshness" || a.check == "health"))
    assert(lake.fact.count() > 0)

    // incremental refresh: append batch + dynamic partition overwrite,
    // all via the ORC writer/reader; result must equal a full rebuild
    val gen = new HealthcareGenerator(seed = 99L,
      asOf = Config.default.asOf.toLocalDateTime.toLocalDate)
    val affected = lake.refreshFactIncremental(gen.messagesJson(spark, 300).toDF("value"), 1L)
    assert(affected.nonEmpty)
    def factMultiset() = lake.fact.collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val incremental = factMultiset()
    lake.buildFact()
    assert(factMultiset() == incremental,
      "incremental ORC refresh must equal a full rebuild over the appended tables")

    // partitioned compaction sweeps the ORC leaves and preserves data
    val factRoot = s"${lake.curatedDir}/fact_patient_encounters"
    val withPart = spark.read.format("orc").load(factRoot).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val (nLeaves, nFiles) = ZoneSink("orc").compactPartitioned(spark, factRoot)
    assert(nLeaves >= 1 && nFiles == nLeaves, s"$nLeaves leaves, $nFiles files")
    val afterCompact = spark.read.format("orc").load(factRoot).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(afterCompact == withPart)

    // every zone file really is ORC — no parquet leaked from a default
    def files(f: java.io.File, suffix: String): Int =
      if (f.isDirectory) f.listFiles().map(files(_, suffix)).sum
      else if (f.getName.endsWith(suffix)) 1 else 0
    for (zone <- Seq(lake.processedDir, lake.curatedDir)) {
      val d = new java.io.File(zone)
      assert(files(d, ".orc") > 0, s"expected .orc files under $zone")
      assert(files(d, ".parquet") == 0, s"no parquet may leak into the $zone ORC zone")
    }
  }

  test("compact: many append files collapse to the target count with identical data") {
    import org.apache.spark.sql.functions._
    import graft.gen.HealthcareGenerator
    val root = java.nio.file.Files.createTempDirectory("lake3_").toString
    val lake = new Lakehouse(spark, root, Config.default, ZoneSink())
    val gen = new HealthcareGenerator(seed = 7L,
      asOf = Config.default.asOf.toLocalDateTime.toLocalDate)
    // three append cycles with multi-partition writers → many small files
    (0 until 3).foreach { b =>
      lake.runEtl(gen.messagesJson(spark, 600).toDF("value"),
        batchId = b.toLong)
    }
    val path = s"$root/processed/patient_vitals"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .count(_.getPath.getName.endsWith(".parquet"))
    def multiset() = lake.processedVitals.collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val before = multiset()
    assert(parquetFiles() > 3, s"expected many small files, got ${parquetFiles()}")

    val n = ZoneSink().compact(spark, path) // default 128 MB target → 1 file here
    assert(n == 1 && parquetFiles() == 1)
    assert(multiset() == before)

    // partitioned roots are refused (a flat rewrite would inline the
    // partition columns and destroy the layout)...
    val partRoot = java.nio.file.Files.createTempDirectory("lakep_").toString + "/t"
    lake.processedVitals
      .withColumn("d", to_date(col("timestamp")))
      .repartition(4) // several files per partition dir
      .write.partitionBy("d").parquet(partRoot)
    val ex = intercept[IllegalArgumentException] { ZoneSink().compact(spark, partRoot) }
    assert(ex.getMessage.contains("partition"))

    // ...compactPartitioned sweeps the leaves instead, preserving the
    // partition layout and the data (including the partition column)
    val beforePart = spark.read.parquet(partRoot).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val (nLeaves, nFiles) = ZoneSink().compactPartitioned(spark, partRoot)
    assert(nLeaves >= 1 && nFiles == nLeaves, s"$nLeaves leaves, $nFiles files")
    val afterPart = spark.read.parquet(partRoot).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(afterPart == beforePart)
  }
}
