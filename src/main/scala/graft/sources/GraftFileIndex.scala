package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions.{col, isnan, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry, PushedListing}

/** Planning-time file skipping for the versioned table format, as a
  * Spark [[FileIndex]] — the Delta `TahoeFileIndex` architecture: the
  * commit's per-file min/max stats and partition values ARE the file
  * listing, so Catalyst's pushed-down data filters prune files during
  * PHYSICAL PLANNING with zero filesystem listings and zero footer
  * reads. A `WHERE k BETWEEN a AND b` over a Z-ordered million-file
  * table plans a scan of only the intersecting files — automatically,
  * from the query predicate, without the caller spelling bounds out
  * (the explicit-`bounds` [[TableVersions.prunedRead]] remains for
  * engine-internal planning).
  *
  * Partition columns live IN the data files (partitions-as-metadata),
  * so the index declares an EMPTY partition schema and receives every
  * pushed filter as a data filter — partition pruning falls out of the
  * same stats path, because a partition-pure file has min = max = the
  * partition value.
  *
  * THE FILE-SKIPPING RULES of the table format live here, once, and
  * every planner uses them: scans through this index, and the DML
  * planners ([[TableVersions]] delete / upsert / merge / `prunedRead`),
  * whose key box `(lo, hi)` becomes the Catalyst conjunction
  * `k >= lo AND k <= hi` on the key's physical column. Two forms:
  *   - [[GraftFileIndex.mayMatch]], the EXACT driver rule over one
  *     commit entry;
  *   - [[GraftFileIndex.ckptKeep]], its COARSE Column twin over
  *     checkpoint rows, evaluated inside the distributed checkpoint
  *     read. Contract: it keeps every entry `mayMatch` keeps (it may
  *     keep more), so the exact rule refines its survivors.
  * Pruning is conservative by construction: only provably-disjoint
  * files are dropped. Anything else keeps the file:
  *   - unsupported expressions and columns without stats, or with only
  *     one of min/max recorded;
  *   - decimal columns (parquet footer stats carry the UNSCALED value —
  *     comparing against a scaled literal would prune wrongly) and
  *     binary-backed types;
  *   - a NaN float/double literal (Spark orders NaN above every double,
  *     so `d <= NaN` holds for every row) and NaN stored bounds;
  *   - string comparisons unless the literal AND both stored bounds are
  *     ASCII: Java-String order (how footer min/max were folded) and
  *     Spark's UTF8String byte order agree only below U+0080. Stored
  *     string bounds may be TRUNCATED (min rounded down, max rounded
  *     up), which keeps the interval check sound.
  *
  * Which listing the rules run over is [[TableVersions.select]]'s
  * decision:
  *   - MATERIALIZED (`pushed = None`): a driver loop over the
  *     already-parsed commit entries — right below the pushed
  *     threshold, where a Spark job per query costs more than the loop.
  *   - PUSHED (`pushed = Some(listing)`): the listing stays in the
  *     version's parquet checkpoint; the coarse rule runs inside a
  *     distributed columnar read of it, and only the survivors — plus
  *     the bounded delta tail — reach the exact rule. Per-query driver
  *     cost: O(survivors), not O(#files). [[driverEvals]] counts
  *     driver-side entry evaluations so tests can pin that bound.
  */
class GraftFileIndex(spark: SparkSession, root: String, st: CommitState,
    val dataSchema: StructType, pushed: Option[PushedListing] = None)
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = new StructType()

  override def sizeInBytes: Long = pushed match {
    case Some(l) => l.sizeEstimate(spark)
    case None => st.files.map(_.bytes).sum
  }

  override def inputFiles: Array[String] = pushed match {
    case Some(l) => l.allPaths(spark)
    case None => st.files.map(_.path).toArray
  }

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val filters = partitionFilters ++ dataFilters
    val kept = TableVersions.select(spark, st, pushed)(
      _.where(filters.map(GraftFileIndex.ckptKeep).reduceOption(_ && _).getOrElse(lit(true))),
      fe => {
        GraftFileIndex.driverEvals.incrementAndGet()
        filters.forall(f => GraftFileIndex.mayMatch(fe, f))
      }).files
    val statuses = kept.map { fe =>
      new FileStatus(fe.bytes, false, 1, 128L << 20, 0L, new Path(fe.path))
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }
}

object GraftFileIndex {

  /** Driver-side entry evaluations performed by [[listFiles]] — the
    * observable the pushed path exists to bound: pushed listings must
    * grow this O(survivors + tail), never O(#files).
    */
  val driverEvals = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A DML key box as file-skipping predicates over PHYSICAL column
    * names: `k >= lo` and `k <= hi` per key. A NaN side keeps every file
    * (the rules refuse NaN literals), and a string key whose box has a
    * non-ASCII end is dropped whole, so the box keeps a file exactly
    * when every key's stats may intersect it.
    */
  private[graft] def boxPredicate(num: Map[String, (Double, Double)],
      str: Map[String, (String, String)]): Seq[Expression] = {
    def sides(c: String, dt: DataType, lo: Literal, hi: Literal) = {
      val a = AttributeReference(c, dt)()
      Seq(GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi))
    }
    num.toSeq.flatMap { case (c, (lo, hi)) => sides(c, DoubleType, Literal(lo), Literal(hi)) } ++
      str.toSeq.flatMap { case (c, (lo, hi)) =>
        if (allAscii(lo) && allAscii(hi)) sides(c, StringType, Literal(lo), Literal(hi)) else Nil
      }
  }

  /** Can `fe` contain a row satisfying `expr`? (false ⇒ provably not —
    * safe to skip the file.) Three-valued in spirit: anything not
    * understood is "maybe" = keep.
    */
  private[graft] def mayMatch(fe: FileEntry, expr: Expression): Boolean = expr match {
    case And(l, r) => mayMatch(fe, l) && mayMatch(fe, r)
    case Or(l, r) => mayMatch(fe, l) || mayMatch(fe, r)
    case EqualTo(a: Attribute, Literal(v, dt)) => rangeMayContain(fe, a.name, dt, v, v)
    case EqualTo(Literal(v, dt), a: Attribute) => rangeMayContain(fe, a.name, dt, v, v)
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      rangeMayContain(fe, a.name, dt, v, v)
    case LessThan(a: Attribute, Literal(v, dt)) => rangeMayContain(fe, a.name, dt, null, v)
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) => rangeMayContain(fe, a.name, dt, null, v)
    case GreaterThan(a: Attribute, Literal(v, dt)) => rangeMayContain(fe, a.name, dt, v, null)
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) => rangeMayContain(fe, a.name, dt, v, null)
    case LessThan(Literal(v, dt), a: Attribute) => rangeMayContain(fe, a.name, dt, v, null)
    case LessThanOrEqual(Literal(v, dt), a: Attribute) => rangeMayContain(fe, a.name, dt, v, null)
    case GreaterThan(Literal(v, dt), a: Attribute) => rangeMayContain(fe, a.name, dt, null, v)
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) => rangeMayContain(fe, a.name, dt, null, v)
    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, dt) => rangeMayContain(fe, a.name, dt, v, v) }
    case InSet(a: Attribute, hset) =>
      hset.exists(v => rangeMayContain(fe, a.name, a.dataType, v, v))
    case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
      prefixMayContain(fe, a.name, v.toString)
    // null-count pruning: the commit records per-column null counts, so
    // `IS NULL` provably skips files with zero nulls (the common shape:
    // a sparse column concentrated in few files). `IS NOT NULL` can only
    // skip files that are ALL null — those carry no min/max and hence
    // usually no stats entry at all, so it stays conservative in
    // practice; the branch is kept for entries that do record it.
    case IsNotNull(a: Attribute) => fe.stats.get(a.name) match {
      case Some(cs) if fe.rows >= 0 => cs.nulls < fe.rows
      case _ => true
    }
    case IsNull(a: Attribute) => fe.stats.get(a.name) match {
      case Some(cs) => cs.nulls > 0 // zero nulls recorded ⇒ skip
      case _ => true
    }
    case _ => true // casts / UDFs / …: no safe prune
  }

  private val AsciiRe = "^[\\x00-\\x7F]*$"

  /** [[mayMatch]] as a Column over the checkpoint-row schema (`stats:
    * map<string, struct<minNum, maxNum, minStr, maxStr, nulls>>`,
    * `rows`). TRUE whenever `mayMatch(entry, expr)` is true for the
    * row's entry — it may keep more (untranslatable shapes become
    * `true`), never less.
    */
  private[graft] def ckptKeep(expr: Expression): Column = expr match {
    case And(l, r) => ckptKeep(l) && ckptKeep(r)
    case Or(l, r) => ckptKeep(l) || ckptKeep(r)
    case EqualTo(a: Attribute, Literal(v, dt)) => keepRange(a.name, dt, v, v)
    case EqualTo(Literal(v, dt), a: Attribute) => keepRange(a.name, dt, v, v)
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      keepRange(a.name, dt, v, v)
    case LessThan(a: Attribute, Literal(v, dt)) => keepRange(a.name, dt, null, v)
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) => keepRange(a.name, dt, null, v)
    case GreaterThan(a: Attribute, Literal(v, dt)) => keepRange(a.name, dt, v, null)
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) => keepRange(a.name, dt, v, null)
    case LessThan(Literal(v, dt), a: Attribute) => keepRange(a.name, dt, v, null)
    case LessThanOrEqual(Literal(v, dt), a: Attribute) => keepRange(a.name, dt, v, null)
    case GreaterThan(Literal(v, dt), a: Attribute) => keepRange(a.name, dt, null, v)
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) => keepRange(a.name, dt, null, v)
    case In(a: Attribute, list)
        if list.forall(_.isInstanceOf[Literal]) && list.size <= 64 =>
      list.map { case Literal(v, dt) => keepRange(a.name, dt, v, v) }
        .reduceOption(_ || _).getOrElse(lit(false))
    case InSet(a: Attribute, hset) if hset.size <= 64 =>
      hset.toSeq.map(v => keepRange(a.name, a.dataType, v, v))
        .reduceOption(_ || _).getOrElse(lit(false))
    case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
      keepPrefix(a.name, v.toString)
    case IsNotNull(a: Attribute) => {
      val s = col("stats").getItem(a.name)
      s.isNull || col("rows") < 0L || s.getField("nulls") < col("rows")
    }
    case IsNull(a: Attribute) => {
      val s = col("stats").getItem(a.name)
      s.isNull || s.getField("nulls") > 0L
    }
    case _ => lit(true)
  }

  /** Column twin of [[rangeMayContain]]. */
  private def keepRange(name: String, dt: DataType, lo: Any, hi: Any): Column = {
    if (lo == null && hi == null) return lit(true)
    val s = col("stats").getItem(name)
    dt match {
      case StringType =>
        val loS = Option(lo).map(_.toString)
        val hiS = Option(hi).map(_.toString)
        if (loS.exists(x => !allAscii(x)) || hiS.exists(x => !allAscii(x)))
          return lit(true)
        val mn = s.getField("minStr")
        val mx = s.getField("maxStr")
        // keep when stats absent, bounds absent, or stored bounds
        // non-ASCII (Java-order folding agrees with UTF8 binary order
        // only below U+0080 — same guard as the driver check)
        s.isNull || mn.isNull || mx.isNull ||
          !(mn.rlike(AsciiRe) && mx.rlike(AsciiRe)) ||
          (loS.map(x => mx >= lit(x)).getOrElse(lit(true)) &&
            hiS.map(x => mn <= lit(x)).getOrElse(lit(true)))
      case _ =>
        val loD = numLit(dt, lo)
        val hiD = numLit(dt, hi)
        if ((lo != null && loD.isEmpty) || (hi != null && hiD.isEmpty))
          return lit(true) // untranslatable literal domain: keep all
        val mn = s.getField("minNum")
        val mx = s.getField("maxNum")
        // SQL orders NaN above every double; the driver rule keeps a
        // NaN bound, so the coarse form must too
        s.isNull || mn.isNull || mx.isNull || isnan(mn) || isnan(mx) ||
          (loD.map(x => mx >= lit(x)).getOrElse(lit(true)) &&
            hiD.map(x => mn <= lit(x)).getOrElse(lit(true)))
    }
  }

  /** Column twin of [[prefixMayContain]]. */
  private def keepPrefix(name: String, prefix: String): Column = {
    if (!allAscii(prefix)) return lit(true)
    val s = col("stats").getItem(name)
    val mn = s.getField("minStr")
    val mx = s.getField("maxStr")
    s.isNull || mn.isNull || mx.isNull ||
      !(mn.rlike(AsciiRe) && mx.rlike(AsciiRe)) ||
      (mx >= lit(prefix) && (mn <= lit(prefix) || mn.startsWith(prefix)))
  }

  /** Interval-overlap check of [lo, hi] (null = unbounded side) against
    * the file's recorded min/max for `col`. A null literal value means
    * the comparison itself is NULL for every row — conservatively keep
    * (the exact filter drops the rows anyway).
    */
  private def rangeMayContain(fe: FileEntry, col: String, dt: DataType,
      lo: Any, hi: Any): Boolean = {
    if ((lo == null && hi == null)) return true
    fe.stats.get(col) match {
      case None => true
      case Some(cs) =>
        dt match {
          case StringType =>
            (cs.minStr, cs.maxStr) match {
              // ASCII-only: Java-String order (how the footer min/max
              // were folded) and Spark's UTF8String byte order agree
              // only below U+0080 — outside that, keep the file
              case (Some(mn), Some(mx)) if allAscii(mn) && allAscii(mx) =>
                val loS = Option(lo).map(_.toString)
                val hiS = Option(hi).map(_.toString)
                if (loS.exists(s => !allAscii(s)) || hiS.exists(s => !allAscii(s))) true
                else loS.forall(l => mx >= l) && hiS.forall(h => mn <= h)
              case _ => true
            }
          case _ =>
            (numLit(dt, lo), numLit(dt, hi), cs.minNum, cs.maxNum) match {
              case (l, h, Some(mn), Some(mx)) if (lo == null || l.isDefined) && (hi == null || h.isDefined) =>
                // negated so a NaN stored bound keeps the file
                l.forall(lv => !(mx < lv)) && h.forall(hv => !(mn > hv))
              case _ => true
            }
        }
    }
  }

  private def allAscii(s: String): Boolean = s.forall(_ < 0x80)

  private def prefixMayContain(fe: FileEntry, col: String, prefix: String): Boolean =
    fe.stats.get(col) match {
      case Some(ColStats(_, _, Some(mn), Some(mx), _))
          if allAscii(mn) && allAscii(mx) && allAscii(prefix) =>
        // strings starting with `prefix` lie in [prefix, prefix+∞)
        mx >= prefix && (mn <= prefix || mn.startsWith(prefix))
      case _ => true
    }

  /** Literal → the double domain the footer stats were recorded in.
    * None ⇒ this literal cannot be compared safely — caller keeps the
    * file: decimal (footer stats are UNSCALED), binary-backed types,
    * and NaN (Spark orders it above every double, IEEE comparisons
    * make it disjoint from every range).
    */
  private def numLit(dt: DataType, v: Any): Option[Double] = {
    if (v == null) return None
    (dt match {
      case ByteType => Some(v.asInstanceOf[Byte].toDouble)
      case ShortType => Some(v.asInstanceOf[Short].toDouble)
      case IntegerType => Some(v.asInstanceOf[Int].toDouble)
      case LongType => Some(v.asInstanceOf[Long].toDouble)
      case FloatType => Some(v.asInstanceOf[Float].toDouble)
      case DoubleType => Some(v.asInstanceOf[Double])
      case DateType => Some(v.asInstanceOf[Int].toDouble) // days since epoch
      case TimestampType | TimestampNTZType => Some(v.asInstanceOf[Long].toDouble) // micros
      case _ => None
    }).filterNot(_.isNaN)
  }
}
