package graft.operators

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession

/** STRUCTURED FORK/JOIN — the one seam for driver-thread overlaps.
  * Independent Spark actions started from a few driver threads let the
  * scheduler overlap their jobs (optimization-guide §2.6: one job's
  * straggler tail back-fills with the next job's tasks); every overlap
  * in the engine (the three route appends, the CDC and DV sidecar
  * stages, the pipelined fact rebuild, the index stores) goes through
  * this scope:
  *
  * {{{
  *   Forks(spark) { forks =>
  *     val side = forks.fork("cdf") { stageSidecar() }
  *     val main = stageFiles()         // runs while the fork runs
  *     commit(main, side.join())       // join() gives the fork's value
  *   }                                 // ...and the scope joins the rest
  * }}}
  *
  * The contract:
  *  - `fork(name) { … }` starts the body on a daemon driver thread and
  *    returns a handle whose `join()` gives its value or rethrows its
  *    error.
  *  - When the scope exits, normally or by an exception, it joins EVERY
  *    fork — nothing it started outlives it, so callers release the
  *    caches and checkpoints the forks read only after the scope.
  *  - The first failure, the body's or a fork's, cancels the forks'
  *    Spark jobs. Fork threads carry a per-scope job tag (`addJobTag`,
  *    interrupt-on-cancel) that does not overwrite a caller's job group;
  *    scopes opened inside a fork inherit it through Spark's inherited
  *    local properties, so cancelling an outer scope cancels theirs too.
  *    The body's own thread is not tagged: a fork failure reaches the
  *    body at `join()` or at the scope exit.
  *  - The primary error is the body's own, or else the first fork's to
  *    fail; a body that only rethrows a fork's error from `join()` has
  *    none of its own. Every other error is attached with
  *    `addSuppressed`. A failed scope returns only once none of its
  *    tagged jobs is still running.
  */
final class Forks private (spark: SparkSession) {
  import Forks.Fork
  private val sc = spark.sparkContext
  private val tag = s"graft-forks-${Forks.ids.incrementAndGet()}"
  private val forks = new java.util.concurrent.ConcurrentLinkedQueue[Fork[_]]()
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
  @volatile private var cancelled = false

  /** Start `body` on a driver thread named `graft-fork-<name>`. */
  def fork[A](name: String)(body: => A): Fork[A] = {
    val f = new Fork[A](s"graft-fork-$name", () => {
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      body
    }, fail)
    forks.add(f)
    f.start()
    f
  }

  private def fail(e: Throwable): Unit = { failures.add(e); cancel() }

  private def cancel(): Unit = {
    cancelled = true
    sc.cancelJobsWithTag(tag, s"$tag: a sibling branch failed")
  }

  /** Join every fork. Once cancelled, keep re-cancelling while waiting:
    * a fork between two actions submits its next job after the first
    * cancellation went out.
    */
  private def joinAll(): Unit = forks.forEach { f =>
    while (!f.await(50L)) if (cancelled) cancel()
  }

  /** The status store trails the scheduler (it is fed by the listener
    * bus); wait, bounded, until it shows none of this scope's jobs
    * running.
    */
  private def awaitQuiet(): Unit = {
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline && st.getJobIdsForTag(tag)
        .exists(id => st.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING)))
      Thread.sleep(10L)
  }
}

object Forks {
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Handle of one forked body (see [[Forks]]). */
  final class Fork[A] private[Forks] (name: String, body: () => A,
      onFailure: Throwable => Unit) {
    @volatile private var result: Either[Throwable, A] = _
    private val thread = new Thread(() => {
      val r = try Right(body()) catch { case e: Throwable => Left(e) }
      result = r
      r.swap.foreach(onFailure)
    }, name)
    thread.setDaemon(true)

    private[Forks] def start(): Unit = thread.start()
    private[Forks] def await(ms: Long): Boolean = { thread.join(ms); !thread.isAlive }

    /** Wait for the body; its value, or its error rethrown. */
    def join(): A = { thread.join(); result.fold(e => throw e, identity) }
  }

  /** Run `body` as a fork scope (contract in the class scaladoc). */
  def apply[A](spark: SparkSession)(body: Forks => A): A = {
    val scope = new Forks(spark)
    val out = try Right(body(scope)) catch { case e: Throwable => scope.cancel(); Left(e) }
    scope.joinAll()
    import scala.jdk.CollectionConverters._
    val forkErrs = scope.failures.asScala.toList
    val own = out.swap.toOption.filterNot(e => forkErrs.exists(_ eq e))
    own.toList ++ forkErrs match {
      case Nil => out.fold(e => throw e, identity)
      case primary :: rest =>
        scope.awaitQuiet()
        rest.filterNot(_ eq primary).foreach(primary.addSuppressed)
        throw primary
    }
  }
}
