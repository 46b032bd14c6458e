package graft

import graft.gen.HealthcareGenerator
import graft.model.Config
import graft.runner.{Lakehouse, ZoneSink}

/** Incremental fact refresh ≡ full rebuild (dynamic partition overwrite
  * correctness): applying batch 2 incrementally over batch 1's lakehouse
  * must produce exactly the fact a from-scratch build over batch 1+2
  * produces.
  */
class IncrementalFactSpec extends SparkSpec {

  test("incremental refresh equals full rebuild over the combined batches") {
    val cfg = Config.default
    val gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

    // lakehouse A: batch 1 full build, then batch 2 incrementally
    val rootA = java.nio.file.Files.createTempDirectory("inc_a_").toString
    val lakeA = new Lakehouse(spark, rootA, cfg, ZoneSink())
    lakeA.runEtl(gen.messagesJson(spark, 2000).toDF("value"), batchId = 0L)
    lakeA.buildFact()
    val affected = lakeA.refreshFactIncremental(
      gen.messagesJson(spark, 1000, offset = 2000).toDF("value"), batchId = 1L)
    assert(affected.nonEmpty)

    // lakehouse B: one full build over both batches
    val rootB = java.nio.file.Files.createTempDirectory("inc_b_").toString
    val lakeB = new Lakehouse(spark, rootB, cfg, ZoneSink())
    lakeB.runEtl(gen.messagesJson(spark, 3000).toDF("value"), batchId = 0L)
    lakeB.buildFact()

    val a = lakeA.fact
    val b = lakeB.fact
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("streaming incremental fact: micro-batched refresh equals full rebuild") {
    val cfg = Config.default
    val gen = new HealthcareGenerator(42L, cfg.asOf.toLocalDateTime.toLocalDate)

    // stream side: 2 message files replayed one per micro-batch into an
    // incrementally-maintained lakehouse (seeded with an empty full build)
    val rootS = java.nio.file.Files.createTempDirectory("inc_stream_").toString
    val lakeS = new Lakehouse(spark, rootS, cfg, ZoneSink())
    lakeS.runEtl(gen.messagesJson(spark, 1500).toDF("value"), batchId = -1L)
    lakeS.buildFact()
    gen.messagesJson(spark, 800, offset = 1500).toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$rootS/in/b1")
    gen.messagesJson(spark, 700, offset = 2300).toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$rootS/in/b2")
    val q = graft.streaming.StreamingEtl.startIncrementalFact(spark,
      graft.streaming.StreamingEtl.FileSource(s"$rootS/in/*", maxFilesPerTrigger = 1),
      lakeS, s"$rootS/_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()

    // batch side: one full build over all 3000 messages
    val rootB = java.nio.file.Files.createTempDirectory("inc_stream_full_").toString
    val lakeB = new Lakehouse(spark, rootB, cfg, ZoneSink())
    lakeB.runEtl(gen.messagesJson(spark, 3000).toDF("value"), batchId = 0L)
    lakeB.buildFact()

    val s = lakeS.fact
    val b = lakeB.fact
    assert(s.count() == b.count() && s.count() > 0)
    assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty)
  }
}
