package graft.perfbench

/** The per-layer metric set of the traced run, shared by all workloads.
  * A workload reports zero for the layers and operations it does not use.
  *
  * Per-operation metrics are means per call of that operation type. The
  * workload-level ones are per operation call over all measured calls
  * (counts, bytes, GC), per write call (table-format phases and writes),
  * per ETL call (runner phases), or ratios, so they compare across commits
  * that complete different numbers of calls in the same measuring time.
  */
object Layers {
  val lakeOps = Seq("full_build", "refresh", "monitoring", "claims", "gates")
  val dmlOps = Seq("upsert", "merge", "delete", "compact", "read")
  val allOps: Seq[String] = lakeOps ++ dmlOps ++ Catalog.queries
  val writeOps = Set("full_build", "refresh", "upsert", "merge", "delete", "compact")
  val etlOps = Set("refresh")

  private val perOp = Seq("spark.job_busy_s", "spark.exec_cpu_s", "sql.planning_s",
    "driver.other_s")

  private val tablePhases = Seq("stage", "stats", "commit", "replace", "cdf", "dvstage")

  /** Counters a workload supplies itself (zero where it has none). */
  val workloadCounters = Seq("table.commits", "table.files_live", "table.write_mb",
    "table.write_amp", "table.dv_share", "runner.affected_dates", "runner.rewrite_share",
    "etl.msgs", "etl.deadletter", "etl.routed_share")

  val names: Seq[String] =
    (for (m <- perOp; o <- allOps) yield s"$m.$o") ++
      Seq("spark.jobs", "spark.tasks", "spark.gc_s", "spark.slot_util", "spark.shuffle_mb",
        "spark.input_mb", "spark.spill_mb", "sql.actions", "table.snapshot_s") ++
      tablePhases.map(p => s"table.${p}_s") ++ workloadCounters ++
      Seq("runner.etl_materialize_s", "runner.append_s",
        "analytics.monitoring_s", "analytics.claims_s", "analytics.gates_s") ++
      Catalog.queries.map(q => s"catalog.${q}_s")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(ss: Seq[Split], tr: Tracer, counters: Map[String, Double],
      cores: Int): Map[String, Double] = {
    val n = math.max(ss.size, 1).toDouble
    val byKind = ss.groupBy(_.op.kind)
    def opMean(kind: String)(f: Split => Double) = mean(byKind.getOrElse(kind, Nil).map(f))
    val perOpVals = allOps.flatMap { o =>
      Seq(s"spark.job_busy_s.$o" -> opMean(o)(_.jobBusyS),
        s"spark.exec_cpu_s.$o" -> opMean(o)(_.cpuS),
        s"sql.planning_s.$o" -> opMean(o)(_.planningS),
        s"driver.other_s.$o" -> opMean(o)(_.otherS))
    }
    val writes = ss.filter(s => writeOps(s.op.kind))
    val etl = ss.filter(s => etlOps(s.op.kind))
    def phaseMean(xs: Seq[Split], key: String => Boolean) =
      if (xs.isEmpty) 0.0 else xs.map(_.op.phases.filter(kv => key(kv._1)).values.sum).sum / xs.size
    val busy = ss.map(_.jobBusyS).sum
    val snaps = tr.snapshotSpans.map(s => (s.endMs - s.startMs) / 1e3).toSeq
    val all = perOpVals.toMap ++ Map(
      "spark.jobs" -> ss.map(_.jobs).sum / n,
      "spark.tasks" -> ss.map(_.tasks).sum / n,
      "spark.gc_s" -> ss.map(_.op.counters.getOrElse("gc_s", 0.0)).sum / n,
      "spark.slot_util" -> (if (busy > 0) ss.map(_.runS).sum / (busy * cores) else 0.0),
      "spark.shuffle_mb" -> ss.map(_.shuffleB).sum / 1e6 / n,
      "spark.input_mb" -> ss.map(_.inputB).sum / 1e6 / n,
      "spark.spill_mb" -> ss.map(_.spillB).sum / 1e6 / n,
      "sql.actions" -> ss.map(_.actions).sum / n,
      "table.snapshot_s" -> mean(snaps),
      "runner.etl_materialize_s" -> phaseMean(etl, _ == "etl.materialize"),
      "runner.append_s" -> phaseMean(etl, _.startsWith("append:")),
      "analytics.monitoring_s" -> opMean("monitoring")(_.op.wallS),
      "analytics.claims_s" -> opMean("claims")(_.op.wallS),
      "analytics.gates_s" -> opMean("gates")(_.op.wallS)) ++
      Catalog.queries.map(q => s"catalog.${q}_s" -> opMean(q)(_.op.wallS)) ++
      tablePhases.map(p => s"table.${p}_s" -> phaseMean(writes, _ == p)) ++ counters
    names.map(k => k -> all.getOrElse(k, 0.0)).toMap
  }

  /** Per-operation-type summary for the run report: calls, wall median, and
    * (traced) the mean split of wall time into job, planning and driver time.
    */
  def opTable(ss: Seq[Split], tr: Tracer): Map[String, Map[String, Double]] =
    tr.ops.toSeq.groupBy(_.kind).map { case (k, os) =>
      val sk = ss.filter(_.op.kind == k)
      val base = Map("calls" -> os.size.toDouble, "wall_p50_s" -> Stats.median(os.map(_.wallS)),
        "wall_mean_s" -> mean(os.map(_.wallS)))
      k -> (if (sk.isEmpty) base else base ++ Map(
        "job_busy_s" -> mean(sk.map(_.jobBusyS)), "planning_s" -> mean(sk.map(_.planningS)),
        "driver_other_s" -> mean(sk.map(_.otherS)), "exec_cpu_s" -> mean(sk.map(_.cpuS)),
        "jobs" -> mean(sk.map(_.jobs.toDouble))) ++
        sk.flatMap(_.op.phases.keys).distinct.map(p =>
          s"phase.$p" -> mean(sk.map(_.op.phases.getOrElse(p, 0.0)))))
    }
}
