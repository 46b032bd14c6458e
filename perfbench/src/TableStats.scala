package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.operators.TableVersions

/** Table-format counters of the traced run, read from commit metadata around
  * each write (outside its wall time): commits made, data bytes written,
  * whether the write took the deletion-vector path, and live files.
  */
final class TableStats(spark: SparkSession, tr: Tracer) {
  private final case class Snap(version: Long, files: Map[String, Long],
      dvs: Map[String, (String, Long)], rows: Long)

  private def snap(root: String): Snap =
    TableVersions.currentVersion(spark, root) match {
      case None => Snap(-1L, Map.empty, Map.empty, 0L)
      case Some(v) =>
        val st = TableVersions.commitState(spark, root, Some(v))
        Snap(v, st.files.map(f => f.path -> f.bytes).toMap, st.dvs, st.files.map(_.rows).sum)
    }

  private var writes = 0
  private var dvWrites = 0
  private var commits = 0L
  private var written = 0L
  private var changedBytes = 0.0
  private var last = Map.empty[String, (Snap, Snap)]

  /** Forget everything recorded so far (the unmeasured warm-up writes). */
  def reset(): Unit = {
    writes = 0; dvWrites = 0; commits = 0L; written = 0L; changedBytes = 0.0; last = Map.empty
  }

  /** Run `write` (timed by the caller) and record what it did to `roots`. */
  def around[A](roots: Seq[String])(write: => A): A = {
    if (!tr.on) return write
    val before = roots.map(r => r -> snap(r)).toMap
    val out = write
    last = roots.map(r => r -> (before(r), snap(r))).toMap
    writes += 1
    last.values.foreach { case (b, a) =>
      commits += math.max(0L, a.version - b.version)
      written += added(b, a)
    }
    if (last.values.exists { case (b, a) => a.dvs.exists { case (p, d) => !b.dvs.get(p).contains(d) } })
      dvWrites += 1
    out
  }

  private def added(b: Snap, a: Snap): Long =
    a.files.collect { case (p, n) if !b.files.contains(p) => n }.sum

  /** Data bytes the last write added to `root`. */
  def lastAdded(root: String): Long = last.get(root).map { case (b, a) => added(b, a) }.getOrElse(0L)

  /** Partition values of the files the last write added to or removed from `root`. */
  def lastTouchedParts(root: String): Set[String] = last.get(root).map { case (b, a) =>
    val changed = (a.files.keySet diff b.files.keySet) ++ (b.files.keySet diff a.files.keySet)
    changed.map(partOf)
  }.getOrElse(Set.empty)

  /** Partition directories live in `root` after the last write. */
  def liveParts(root: String): Set[String] =
    last.get(root).map(_._2.files.keySet.map(partOf)).getOrElse(Set.empty)

  private def partOf(path: String): String =
    Option(new org.apache.hadoop.fs.Path(path).getParent).map(_.getName).getOrElse("")

  /** Price `rows` changed rows of `root` at its current mean row size. */
  def changedRows(root: String, rows: Long): Unit = if (tr.on) {
    val a = last.get(root).map(_._2).getOrElse(snap(root))
    if (a.rows > 0) changedBytes += rows * a.files.values.sum.toDouble / a.rows
  }

  /** Count `bytes` as changed data (the write-amplification denominator). */
  def changed(bytes: Double): Unit = changedBytes += bytes

  def counters(roots: Seq[String]): Map[String, Double] =
    if (!tr.on || writes == 0) Map.empty
    else Map(
      "table.commits" -> commits.toDouble / writes,
      "table.files_live" -> roots.map(r => snap(r).files.size).sum.toDouble,
      "table.write_mb" -> written / 1e6 / writes,
      "table.write_amp" -> (if (changedBytes > 0) written / changedBytes else 0.0),
      "table.dv_share" -> dvWrites.toDouble / writes)
}
