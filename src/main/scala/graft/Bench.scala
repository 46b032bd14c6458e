package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Results are forced through the noop sink so the full physical plan
  * executes (a bare count() would let Catalyst prune projections).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cores("32")
    val spark = Sessions.local(cpus, "32", bench = true)

    // Driver-JVM GC time attribution: with 130+ queries per pass the
    // main round-over-round confounder is no longer any single plan but
    // accumulated JVM state — per-query GC deltas separate "this query's
    // plan got slower" from "the pass got heavier around it".
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gcByQuery = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    // Spill attribution (the round-11 verdict's ask: q104's 6.7× driver
    // regression was consistent with persist-spill under memory
    // pressure, but the artifact couldn't prove it). A stage-completion
    // listener accumulates executor spill bytes (memory+disk); per-query
    // deltas land in the artifact so "this query spilled" is readable
    // from BENCH_r{N}.json alone. Listener delivery is async — a query's
    // last stages may attribute to its successor — fine for the signal
    // this carries (totals are exact by pass end).
    val spilledBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val tm = e.stageInfo.taskMetrics
        if (tm != null) {
          spilledBytes.addAndGet(tm.memoryBytesSpilled + tm.diskBytesSpilled); ()
        }
      }
    })
    val spillByQuery = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    // storage-memory high-water mark (cached/persisted blocks), sampled
    // after each query — persists that balloon show up here even when
    // they don't spill
    def storageMemBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    // Per-query table-format op attribution (the q134 "where do the
    // seconds live" ask): the write-path phases (stage / stats /
    // commit / per-table appends) drain after each run; multi-commit
    // queries' totals land in a BENCH_OPS detail line.
    graft.operators.TableVersions.opTimingEnable(true)
    val opsByQuery = scala.collection.mutable.Map.empty[String, Map[String, Double]]

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      val g0 = gcMillis()
      val s0 = spilledBytes.get()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      } finally {
        // A finished query's localCheckpoint blocks (CC rounds, SemDedup
        // assignment, SCD2 folds) are dead weight for every query after
        // it — with 6 checkpoint-heavy queries in the roster they squeeze
        // execution memory for the rest of the pass. Free them per QUERY
        // (non-blocking, after the clock stops); caches (tracked
        // separately) stay warm until the pass drain.
        CacheScope.drainCheckpoints()
        gcByQuery(name) += gcMillis() - g0
        spillByQuery(name) += spilledBytes.get() - s0
        val ops = graft.operators.TableVersions.opTimingDrain()
        if (ops.values.sum >= 0.5)
          opsByQuery(name) = opsByQuery.getOrElse(name, Map.empty) ++
            ops.map { case (k, v) => k -> (opsByQuery.getOrElse(name, Map.empty)
              .getOrElse(k, 0.0) + v) }
      }
    }

    // Environment attribution (the round-9 verdict's ask): OS-level I/O
    // and load sampled at pass boundaries, so the next pass-level drift
    // episode is attributable from the artifact — if the ratio moves
    // with io/loadavg, it's the box, not the plans.
    def ioBytes(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/self/io")
        try {
          val m = src.getLines().map(_.split(":\\s*")).collect {
            case Array(k, v) => k -> v.trim.toLong
          }.toMap
          (m.getOrElse("read_bytes", 0L), m.getOrElse("write_bytes", 0L))
        } finally src.close()
      } catch { case _: Throwable => (0L, 0L) }
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // FIXED order: round-7 cohort in BENCH_r07's exact (sorted) order,
    // then later-round queries strictly after — the common-set prefix is
    // identical across rounds, so ratios compare like with like.
    val names = SparkEntry.benchOrder
    // Warm-up pass: JIT + codegen + parquet footer caches, so the measured
    // passes reflect steady-state throughput, not JVM warm-up. Two
    // measured passes, best-of per query: single-pass numbers on a
    // shared machine showed ±50% noise on ~2s queries.
    names.foreach(run)
    // CacheScope drains per PASS, not per run: in-query caches (q86's
    // late set, q80's scan) stay warm from the warm-up pass through p1 —
    // the steady state being measured — while still bounding cached
    // blocks to one pass's lifetime instead of the whole session.
    // (Verify, the correctness surface, drains per query.)
    // Checkpoint blocks are different: each pass rebuilds its own
    // localCheckpoint RDDs (no cross-pass reuse), so the warm-up pass's
    // checkpoints are pure dead weight for p1 — free them now.
    CacheScope.drainCheckpoints()
    // Session hygiene at pass boundaries: ContextCleaner reaps dead
    // shuffle files, broadcasts and RDD blocks only after a DRIVER GC,
    // and a 100+-query pass on a large heap may never trigger one —
    // the accumulated state from pass N then taxes pass N+1 (the
    // round-5 common-set drift). One explicit GC per pass bounds the
    // carry-over without touching the warm caches the next pass reuses
    // (CacheManager holds strong refs; only UNREFERENCED state is
    // reaped).
    def sweep(): Unit = { System.gc(); Thread.sleep(500) }
    sweep()
    gcByQuery.clear() // attribute GC to the MEASURED passes only
    spillByQuery.clear() // likewise spill
    // One measured pass: per-query seconds, the common-set (r7-cohort)
    // wall subtotal — accumulated BEFORE the late tail runs, so
    // later-round queries' load cannot leak into it — plus the pass's
    // /proc/self/io delta and its starting 1-min loadavg.
    val lateSet = SparkEntry.catalog.filter(_.late).map(_.name).toSet
    final case class Pass(res: Map[String, Double], commonSec: Double,
        ioReadMb: Long, ioWriteMb: Long, la: Double, spillMb: Long, peakStorageMb: Long)
    def pass(): Pass = {
      val la = loadavg()
      val io0 = ioBytes()
      val sp0 = spilledBytes.get()
      var commonSec = 0.0
      var peakStorage = 0L
      val res = names.map { n =>
        val v = run(n)
        if (!lateSet(n) && v >= 0) commonSec += v
        peakStorage = math.max(peakStorage, storageMemBytes())
        n -> v
      }.toMap
      val io1 = ioBytes()
      Pass(res, commonSec, (io1._1 - io0._1) / 1000000L, (io1._2 - io0._2) / 1000000L, la,
        (spilledBytes.get() - sp0) / 1000000L, peakStorage / 1000000L)
    }
    val (results, pass1, pass2) = {
      val p1 = pass()
      CacheScope.drain()
      sweep()
      val p2 = pass()
      CacheScope.drain()
      val best = names.map { n =>
        val (a, b) = (p1.res(n), p2.res(n))
        n -> (if (a < 0 || b < 0) math.max(a, b) else math.min(a, b))
      }
      (best, p1, p2)
    }
    val p1Total = pass1.res.values.filter(_ >= 0).sum
    val p2Total = pass2.res.values.filter(_ >= 0).sum

    // FIXED-WORK CPU CALIBRATION ([[Calibration]]), measured after the
    // passes. Three straight rounds needed manual A/B runs to separate
    // box drift from code; cal1/cal2 make the next ratio dispute
    // resolvable from the artifact alone.
    // cal2 runs on min(bench threads, physical cores): oversubscribing a
    // smaller box would conflate env-var/core mismatch with box drift
    // (and add a fixed multi-ten-second wall cost); calt in the artifact
    // records the thread count actually measured
    val cal1 = Calibration.seconds(1)
    val calThreads = math.min(cpus.toInt, Runtime.getRuntime.availableProcessors)
    val cal2 = Calibration.seconds(calThreads)
    // The driver captures only the LAST ~2000 chars of stdout and parses
    // the final line as JSON (rounds 1-3 all came back parsed:null because
    // the full-name queries dict overflowed that window). Emit a full-name
    // detail line first for humans, then a compact final line — short keys
    // ("q01_pricing_summary" -> "q01"), 3-decimal seconds — that stays
    // well under the window.
    val detail = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""BENCH_DETAIL $detail""")
    // Per-query driver-GC milliseconds summed over both measured passes
    // (full-name line for humans; the compact line carries the total).
    val gcDetail = names.map(n => "\"" + n + "\":" + gcByQuery(n)).mkString("{", ",", "}")
    println(s"""BENCH_GC_MS $gcDetail""")
    // Table-format op attribution for multi-commit queries, summed over
    // all passes (human detail line; not the parsed final line).
    val opsDetail = opsByQuery.toSeq.sortBy(_._1).map { case (n, ops) =>
      "\"" + n + "\":" + ops.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + f"""\":$v%.1f""" }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    println(s"""BENCH_OPS $opsDetail""")
    // Per-query executor spill MB summed over both measured passes —
    // full-name line for humans/logs; the compact line carries pass
    // totals plus the top offenders.
    val spillDetail = names.map(n => "\"" + n + "\":" + spillByQuery(n) / 1000000L)
      .mkString("{", ",", "}")
    println(s"""BENCH_SPILL_MB $spillDetail""")
    // Compact-line keys ([[graft.queries.Query.shortKey]]): the qNN
    // prefix, and three letters for the ten long hc_* names (BENCH_DETAIL
    // keeps full names) — the line must carry the round-9 attribution
    // fields and 140+ queries inside the driver's 2000-char tail window.
    // Round-over-round comparisons map old "hc_stg_vitals" etc. to these
    // via SURVEY.md §7.4's note.
    val shortKey = SparkEntry.catalog.map(q => q.name -> q.shortKey).toMap
    def r3(v: Double): String = if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // 2-decimal per-query values on the COMPACT line only: at 136
    // queries the 3-decimal form crossed the driver's tail window
    // (1850 chars); 10 ms resolution is far below this box's ±30%
    // noise floor, and BENCH_DETAIL above keeps full precision
    // trailing zeros stripped ("0.50"→"0.5", "2.00"→"2") — same keys,
    // still plain JSON numbers, ~80 chars of durable headroom
    def r2(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    def qsLine(fmt: Double => String): String =
      results.map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // Environment-attribution signal: per-pass wall totals and the
    // driver-GC total across both measured passes — if a future round's
    // ratio moves while gc_sec/pass spread moves with it, the drift is
    // pass-level state, not plans (the round-7 lesson, now measurable).
    // short keys — the compact line lives inside the driver's 2000-char
    // tail window: gc = driver-GC seconds (both passes), p1/p2 = pass
    // wall totals; the run order is the fixed r7-prefix (see benchOrder)
    def r1(v: Double): String = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString
    // cs1/cs2 = common-set (r7-cohort) wall subtotal per measured pass;
    // io1/io2 = [MB read, MB written] via /proc/self/io per pass;
    // la1/la2 = 1-min loadavg at pass start. Together with gc/p1/p2
    // these make pass-level drift attributable from the artifact alone.
    // sp = executor spill MB per measured pass; pk = storage-memory
    // high-water MB per pass; sq = the top-3 spilling queries (MB,
    // both passes summed, only entries > 0) — the round-11 ask: a
    // future q104-style regression must be attributable to spill (or
    // ruled out) from this line alone.
    val topSpill = spillByQuery.toSeq.filter(_._2 > 0).sortBy(-_._2).take(3)
      .map { case (n, b) => "\"" + shortKey(n) + "\":" + b / 1000000L }
      .mkString("{", ",", "}")
    // table-format machinery seconds (stage/stats/commit phases summed,
    // all passes) for the top-5 table queries — "how much of this entry
    // is honest commit cost" readable from the artifact alone
    val opsTop = opsByQuery.toSeq
      .map { case (n, m) => n -> m.values.sum }
      .sortBy(-_._2).take(5)
      .map { case (n, s) => "\"" + shortKey(n) + "\":" + r1(s) }
      .mkString("{", ",", "}")
    val env = s""""cal1":${r2(cal1)},"cal2":${r2(cal2)},"calt":$calThreads,""" +
      s""""gc":${r1(gcByQuery.values.sum / 1000.0)},"p1":${r1(p1Total)},"p2":${r1(p2Total)},""" +
      s""""cs1":${r1(pass1.commonSec)},"cs2":${r1(pass2.commonSec)},""" +
      s""""io1":[${pass1.ioReadMb},${pass1.ioWriteMb}],"io2":[${pass2.ioReadMb},${pass2.ioWriteMb}],""" +
      s""""la1":${r1(pass1.la)},"la2":${r1(pass2.la)},""" +
      s""""sp":[${pass1.spillMb},${pass2.spillMb}],"pk":[${pass1.peakStorageMb},${pass2.peakStorageMb}],""" +
      s""""sq":$topSpill"""
    // minimal attribution env for the tight cascade levels: the box
    // constants + totals that every round-over-round comparison needs;
    // the FULL env always survives on the BENCH_ENV line just below
    // (inside the driver's captured tail, like BENCH_OPS_TOP)
    val envMin = s""""cal1":${r2(cal1)},"cal2":${r2(cal2)},"calt":$calThreads,""" +
      s""""gc":${r1(gcByQuery.values.sum / 1000.0)},"p1":${r1(p1Total)},"p2":${r1(p2Total)},""" +
      s""""sp":[${pass1.spillMb},${pass2.spillMb}]"""
    def lineWith(qs: String, ops: String, e: String = env) =
      s"""{"metric":"total","value":$total,"unit":"sec",$e,$ops"queries":$qs,"sf":"${new java.io.File(sfDir).getName}"}"""
    // graceful degradation instead of a cliff: if 2-decimal per-query
    // values overflow the driver's tail window, fall back to 1-decimal
    // (100 ms resolution — still far below the box's noise floor;
    // BENCH_DETAIL above always keeps full precision), and only then
    // hard-fail.
    def r1q(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    // preference cascade under the tail-window budget: 2-decimal WITH
    // the top-5 table-format ops field, then 2-decimal without it, then
    // the same two with the MINIMAL env, then 1-decimal — the compact
    // BENCH_OPS_TOP and BENCH_ENV lines below always carry the dropped
    // fields either way (they print right before the final line, so
    // they survive inside the driver's ~2000-char captured tail too).
    // Round 15: at 153 queries the full-env 1-decimal form measured
    // 1794/1800 — run-to-run digit jitter crossed the guard — so the
    // env degrades BEFORE precision does.
    val opsField = s""""ops":$opsTop,"""
    val line = Seq(
      lineWith(qsLine(r2), opsField),
      lineWith(qsLine(r2), ""),
      lineWith(qsLine(r2), "", envMin),
      lineWith(qsLine(r1q), ""),
      lineWith(qsLine(r1q), "", envMin))
      .find(_.length <= 1800)
      .getOrElse(throw new IllegalArgumentException(
        s"bench JSON line ${lineWith(qsLine(r1q), "", envMin).length} chars even at " +
          "1-decimal with the minimal env — would overflow the driver's 2000-char tail window"))
    println(s"BENCH_OPS_TOP $opsTop")
    println(s"""BENCH_ENV {$env}""")
    println(line)
    spark.stop()
  }
}
