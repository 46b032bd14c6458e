package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the benchmark's result and span files. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Product => value(p.productIterator.toSeq)
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Order statistics over a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above it,
    * as (percentile, value); None when there are fewer than twenty samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}

/** What a workload hands back: end-to-end metrics (measured with or without
  * tracing), workload-level layer counters, named detail for the run
  * report, and the correctness checks it made outside its timed regions.
  */
final case class Outcome(e2e: Map[String, Double], counters: Map[String, Double],
    detail: Map[String, Any], checks: Seq[(String, Boolean, String)], attempted: Int,
    failedOps: Int)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, plant: Set[String])

/** Benchmark entry point. Runs one workload against the program in this JVM
  * and writes the outcome as JSON to `--out`; `perfbench/run.py` builds,
  * generates inputs, launches this and prints the result line.
  *
  *   java ... graft.perfbench.Main --workload table_dml --seed 1 --seconds 10
  *     --trace 0 --data DIR --work DIR --out FILE [--plant CHECK,...]
  *
  * `--plant` hands each named correctness check a wrong expectation, to show
  * the check flags it.
  */
object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m.getOrElse("plant", "").split(",").filter(_.nonEmpty).toSet)
  }

  private val started = System.nanoTime()

  /** A progress line on stderr (kept in the run's JVM log), stamped with the
    * seconds since the JVM's benchmark code started.
    */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $msg")

  /** The fixed, even number of measured iterations `seconds` buys at
    * `nominalS` seconds each (at least two). The count depends only on the
    * arguments, so every commit measures the same work.
    */
  def evenCount(seconds: Double, nominalS: Double): Int =
    2 * math.max(1L, math.round(seconds / nominalS / 2)).toInt

  /** `samples` timings of `open`, each the mean wall seconds of `reps`
    * runs, and each run after dropping the table format's
    * reconstructed-state cache, so every run reads the logs the way a fresh
    * process does.
    */
  def coldOpens(samples: Int, reps: Int)(open: => Unit): Seq[Double] = (1 to samples).map { _ =>
    var total = 0L
    (1 to reps).foreach { _ =>
      graft.operators.TableVersions.clearStateCache()
      val t0 = System.nanoTime()
      open
      total += System.nanoTime() - t0
    }
    total / 1e9 / reps
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, a.work)
    val tracer = new Tracer(spark, a.trace)
    log(s"session up; ${a.workload} seed ${a.seed}")
    val res = try {
      val o = a.workload match {
        case "lakehouse_cycle" => LakehouseCycle.run(spark, tracer, a)
        case "table_dml" => TableDml.run(spark, tracer, a)
        case "catalog" => Catalog.run(spark, tracer, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      log("workload done")
      val splits = tracer.splits()
      if (a.trace) tracer.writeSpans(s"${a.out}.spans.jsonl", splits)
      Map(
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores, "trace" -> a.trace,
        "e2e" -> (o.e2e + ("peak_rss_mb" -> peakRssMb())),
        "layer" -> (if (a.trace) Layers.metrics(splits, tracer, o.counters, cores) else Map.empty),
        "ops" -> Layers.opTable(splits, tracer),
        "detail" -> o.detail,
        "checks" -> o.checks.map { case (n, ok, why) => Map("name" -> n, "ok" -> ok, "why" -> why) },
        "attempted" -> o.attempted, "failed_ops" -> o.failedOps)
    } finally spark.stop()
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Json.obj(res)) finally w.close()
  }
}
