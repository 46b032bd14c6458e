package graft

import org.apache.spark.sql.DataFrame

/** Session-scoped registry for caches AND localCheckpoints created inside
  * lazily-returned query DataFrames.
  *
  * Caches: `DataFrame.cache()` goes through the CacheManager, which holds
  * a strong reference until `unpersist` — so a cache created while
  * BUILDING a query (e.g. q86's late-lineitem set, q80's recursive scan)
  * would otherwise live for the whole 113-query bench/verify session and
  * accumulate memory pressure. Query builders `track` such frames.
  *
  * Checkpoints: `localCheckpoint(eager = true)` stores MEMORY_AND_DISK
  * blocks owned by an internal RDD that nothing ever unpersists — the
  * ContextCleaner only reaps it after a driver GC (periodic interval:
  * 30 min), far longer than a bench session. Iterative operators
  * (ConnectedComponents, SemDedup, SCD2 replay) free their SUPERSEDED
  * round checkpoints inline via [[freeCheckpoint]]; checkpoints that the
  * RETURNED plan still references are registered with [[trackCheckpoint]]
  * and freed when the consumer is done with the query. NOTE a freed
  * checkpoint cannot recompute (lineage was truncated) — only drain
  * frames whose query is finished.
  *
  * Bench/Verify call `drain()` after each pass / query's terminal action,
  * bounding cached and checkpointed blocks to one scope's working set.
  *
  * Deliberately NOT used for `HealthcareQueries.perSession` (a
  * cross-query memo by design) or for operator-internal caches whose
  * callers already unpersist in `finally` (`runner.Lakehouse`, which
  * `StreamingEtl` runs its micro-batches through).
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a just-cached frame for end-of-query cleanup. Returns it. */
  def track(df: DataFrame): DataFrame = { live.add(df); df }

  /** Register a localCheckpoint'ed frame whose blocks should be freed at
    * end-of-query (the returned plan references it, so it cannot be
    * freed inline). Returns it. */
  def trackCheckpoint(df: DataFrame): DataFrame = { checkpoints.add(df); df }

  /** Release the checkpoint blocks behind a localCheckpoint'ed frame NOW
    * — for superseded iteration states whose successor has already
    * materialized. The frame must never be executed again. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Unpersist every tracked frame and checkpoint (non-blocking). Safe to
    * call when empty; safe if a frame was never materialized. */
  def drain(): Unit = {
    var df = live.poll()
    while (df != null) { df.unpersist(blocking = false); df = live.poll() }
    drainCheckpoints()
  }

  /** Free tracked checkpoints only — used after the bench warm-up pass,
    * where plan-identical CACHES deliberately stay warm into pass 1 (the
    * CacheManager dedups by plan across passes) but checkpoint RDDs are
    * rebuilt per pass and would only accumulate. */
  def drainCheckpoints(): Unit = {
    var df = checkpoints.poll()
    while (df != null) { freeCheckpoint(df); df = checkpoints.poll() }
  }
}
