package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.TableVersions

/** One timed call into the program. `t0Ms`/`t1Ms` bound it on the wall clock
  * Spark's listener events use; `wallS` is the same call on the monotonic
  * clock. `phases` holds the table-format op-timing seconds drained right
  * after the call, `counters` whatever the workload recorded about it.
  */
final case class OpRec(id: Long, kind: String, t0Ms: Long, t1Ms: Long, wallS: Double,
    phases: Map[String, Double], counters: Map[String, Double])

/** A finished span: name, interval, the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
    attrs: Map[String, Double] = Map.empty)

/** Layer split of one operation, derived after the run. */
final case class Split(op: OpRec, jobBusyS: Double, planningS: Double, otherS: Double,
    cpuS: Double, runS: Double, jobs: Int, tasks: Int, actions: Int,
    shuffleB: Long, inputB: Long, spillB: Long, jobIv: Seq[(Long, Long)],
    planIv: Seq[(Long, Long)])

/** Times every operation the benchmark hands to the program and, when `on`,
  * attributes each one's wall time to layers from outside the program:
  *
  *  - a `SparkListener` records job intervals and per-task metrics;
  *  - a `QueryExecutionListener` records the planning-tracker phases
  *    (analysis, optimization, planning) of every action;
  *  - the table format's op-timing seam reports its write-path phases;
  *  - the benchmark's own snapshot calls become `table.snapshot` spans.
  *
  * Operations run one at a time on the client thread, so a job, task or
  * planning phase belongs to the operation whose interval contains it,
  * whichever thread inside the program started it. Per operation,
  * `job_busy` is the union of job intervals, `planning` the part of the
  * planning phases outside any job, and `driver_other` the rest of the wall
  * time; the three add up to the wall time by construction. Everything is
  * kept in memory and written out by [[writeSpans]] at the end.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private final case class Task(finishMs: Long, cpuNs: Long, runMs: Long,
      shuffleB: Long, inputB: Long, spillB: Long)

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val actions = new ConcurrentLinkedQueue[java.lang.Long]()
  private val ids = new AtomicLong(0)

  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** `table.snapshot` spans, children of the operation that made them. */
  val snapshotSpans = mutable.ArrayBuffer.empty[Span]
  private var current = 0L

  if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, e.time); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStart.remove(e.jobId)
        if (s != null) jobs.add((s.longValue, e.time))
        ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorCpuTime,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.diskBytesSpilled))
        ()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      // stamped with its last planning phase's end, which falls inside the
      // calling operation (the callback itself arrives later, on a bus thread)
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.values
        ph.foreach(p => plans.add((p.startTimeMs, p.endTimeMs)))
        if (ph.nonEmpty) actions.add(ph.map(_.endTimeMs).max)
        ()
      }
    })
    TableVersions.opTimingEnable(true)
  }

  /** Time `body` as one operation of type `kind`. */
  def op[A](kind: String)(body: => A): (A, Double) = {
    val id = ids.incrementAndGet()
    current = id
    if (on) TableVersions.opTimingDrain() // phases recorded between operations belong to none
    val g0 = gcMillis()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally current = 0L
    val wall = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    ops += (if (on) OpRec(id, kind, t0Ms, t1Ms, wall, TableVersions.opTimingDrain(),
      Map("gc_s" -> (gcMillis() - g0) / 1e3))
    else OpRec(id, kind, t0Ms, t1Ms, wall, Map.empty, Map.empty))
    (out, wall)
  }

  /** JVM-wide GC time; in local mode the executors share the driver's JVM. */
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** A `table.snapshot` child span around the benchmark's own snapshot call. */
  def snapshot[A](body: => A): A =
    if (!on) body
    else {
      val t0 = System.currentTimeMillis()
      try body
      finally snapshotSpans += Span(ids.incrementAndGet(), current, "table.snapshot",
        t0, System.currentTimeMillis())
    }

  /** Forget the operations from index `from` on (and their snapshot spans):
    * warm-up calls that are made but not measured.
    */
  def discardFrom(from: Int): Unit = {
    val gone = ops.drop(from).map(_.id).toSet
    ops.remove(from, ops.size - from)
    snapshotSpans.filterInPlace(s => !gone(s.parent))
  }

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter { case (a, b) => b > a }

  private def len(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum

  /** `a` minus the parts covered by the (merged, sorted) intervals `cut`. */
  private def minus(a: Seq[(Long, Long)], cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (s, e) =>
      val pieces = mutable.ArrayBuffer.empty[(Long, Long)]
      var cur = s
      cut.foreach { case (cs, ce) =>
        if (ce > cur && cs < e) {
          if (cs > cur) pieces += ((cur, cs))
          cur = math.max(cur, ce)
        }
      }
      if (cur < e) pieces += ((cur, e))
      pieces
    }

  /** Attribute the recorded events to the operations; call once, at the end. */
  def splits(): Seq[Split] = {
    if (!on) return Seq.empty
    org.apache.spark.BusDrain(spark.sparkContext)
    val allJobs = jobs.asScala.toSeq
    val allTasks = tasks.asScala.toSeq
    val allPlans = plans.asScala.toSeq
    val allActions = actions.asScala.toSeq.map(_.longValue)
    ops.toSeq.map { o =>
      def in(t: Long) = t >= o.t0Ms && t <= o.t1Ms
      val jIv = union(clip(allJobs, o.t0Ms, o.t1Ms))
      val pIv = minus(union(clip(allPlans, o.t0Ms, o.t1Ms)), jIv)
      val jobS = len(jIv) / 1e3
      val planS = len(pIv) / 1e3
      val ts = allTasks.filter(t => in(t.finishMs))
      Split(o, jobS, planS, o.wallS - jobS - planS,
        ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3,
        allJobs.count { case (s, _) => in(s) }, ts.size, allActions.count(in),
        ts.map(_.shuffleB).sum, ts.map(_.inputB).sum, ts.map(_.spillB).sum, jIv, pIv)
    }
  }

  /** Write every span (operations, their jobs, planning and snapshot
    * children) as JSON lines.
    */
  def writeSpans(path: String, ss: Seq[Split]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    def line(s: Span): Unit = out.println(Json.obj(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "attrs" -> s.attrs)))
    try {
      ss.foreach { s =>
        val o = s.op
        line(Span(o.id, 0L, s"op.${o.kind}", o.t0Ms, o.t1Ms, o.counters ++
          o.phases.map { case (k, v) => s"phase.$k" -> v } ++ Map(
          "wall_s" -> o.wallS, "job_busy_s" -> s.jobBusyS, "planning_s" -> s.planningS,
          "driver_other_s" -> s.otherS, "exec_cpu_s" -> s.cpuS)))
        s.jobIv.foreach { case (a, b) => line(Span(ids.incrementAndGet(), o.id, "spark.jobs", a, b)) }
        s.planIv.foreach { case (a, b) => line(Span(ids.incrementAndGet(), o.id, "sql.planning", a, b)) }
      }
      snapshotSpans.foreach(line)
    } finally out.close()
  }
}
