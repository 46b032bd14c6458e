package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.etl.Etl
import graft.queries.PipelineQueries
import graft.runner.BucketedLakehouse

/** Bucketed co-located joins: same results as the unbucketed path, and
  * the physical plan contains no shuffle exchange for the join sides
  * (the 100 TB strategy, SURVEY §4).
  */
class BucketedSpec extends SparkSpec {

  test("bucketed fact build: identical results, no shuffle exchange above the bucketed scans") {
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // disable broadcast so the join strategy actually exercises bucketing;
    // disable AQE so executedPlan is static and exchange nodes collectable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // enrichedFresh: a memoized `enriched` would make the plain fact's
      // plan canonically equal to the globally cached fact → the cache
      // manager would swap in InMemoryRelation and erase the joins this
      // test asserts on.
      val e = PipelineQueries.enrichedFresh(spark, 3000).cache()
      val lake = new BucketedLakehouse(spark, "graft_bucketed_test", buckets = 4)
      lake.writeProcessed(Etl.routeVitals(e), Etl.routeClaims(e), Etl.routeEhr(e))

      val bucketedFact = lake.buildFact()
      val plainFact = graft.marts.FactPatientEncounters.build()(
        Etl.routeVitals(e).transform(graft.staging.Staging.stgPatientVitals()),
        Etl.routeClaims(e).transform(graft.staging.Staging.stgInsuranceClaims()),
        Etl.routeEhr(e).transform(graft.staging.Staging.stgEhrRecords()))

      // result equivalence
      assert(bucketedFact.count() == plainFact.count())
      assert(bucketedFact.exceptAll(plainFact).isEmpty)

      // plan: below every SortMergeJoin there must be NO shuffle — the
      // joins and proximity windows ride the bucket clustering (and the
      // per-row metrics above them add none)
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val executed = bucketedFact.queryExecution.executedPlan
      val joins = executed.collect { case j: SortMergeJoinExec => j }
      assert(joins.size == 2, s"expected 2 sort-merge joins, got ${joins.size}")
      val shufflesUnderJoins = joins.flatMap(_.collect { case s: ShuffleExchangeExec => s })
      assert(shufflesUnderJoins.isEmpty,
        s"expected shuffle-free join inputs over bucketed tables, found ${shufflesUnderJoins.length}")

      // sanity: the plain variant DOES shuffle below its joins (proves
      // the assertion bites)
      val plainJoins = plainFact.queryExecution.executedPlan.collect { case j: SortMergeJoinExec => j }
      val plainShuffles = plainJoins.flatMap(_.collect { case s: ShuffleExchangeExec => s })
      assert(plainShuffles.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP DATABASE IF EXISTS graft_bucketed_test CASCADE")
    }
  }
}
