package graft

import org.apache.spark.sql.DataFrame

import graft.queries.PipelineQueries

/** Round-8 plan pins: q127's fact-grain twin must keep the fact's
  * documented plan shape — both band joins and both proximity windows
  * cluster on `user_id`, so the whole J1 → W1 → J2 → W2 chain runs on
  * ONE user-keyed exchange (broadcast right sides at test scale, SMJ at
  * cluster scale — either way no second user-side shuffle, and never a
  * cartesian).
  */
class Round8PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q127 plan: no cartesian; one user-side exchange feeds both windows") {
    val plan = formatted(PipelineQueries.q127FactGrainTwin(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("CartesianProduct"), "band joins must stay equi-joins with residuals")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "band joins must keep their equi key")
    // two Window nodes (click_rank, view_rank) ...
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows >= 2, s"expected both proximity windows in the plan:\n$plan")
    // ... but the second window and the second join REUSE the first
    // window's (user_id, p_id) clustering: between the two Window nodes
    // there must be no new shuffle Exchange (broadcast exchanges of the
    // small build sides are fine)
    val w1 = plan.indexOf("Window")
    val w2 = plan.indexOf("Window", w1 + 1)
    assert(w1 >= 0 && w2 > w1)
    val between = plan.substring(w1, w2)
    assert(!between.replace("BroadcastExchange", "").contains("Exchange"),
      s"the W1->J2->W2 chain must not reshuffle the user-keyed side:\n$between")
  }
}
