package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{CkptFileRow, CkptStatsRow, ColStats, CommitState, FileEntry}
import graft.sources.GraftFileIndex

/** ONE FILE-SKIPPING RULE: the DML key-box planners select candidates
  * through the scan index's rule ([[GraftFileIndex.mayMatch]] over the
  * box as `k >= lo AND k <= hi`), which must select exactly what the
  * dedicated box checks did. Those checks are kept below as the
  * reference; adversarial entries and boxes cover NaN and ±Inf bounds,
  * -0.0, Long keys above 2^53, min-only / max-only / absent stats,
  * truncated and non-ASCII string bounds and probes, and a
  * column-mapped key. The coarse Column form [[GraftFileIndex.ckptKeep]],
  * evaluated over checkpoint rows, must keep every entry the exact rule
  * keeps.
  */
class FileSkippingRuleSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference: the numeric and string box checks the rule replaced
  private def allAscii(s: String): Boolean = s.forall(_ < 0x80)

  private def refIntersects(fe: FileEntry, bounds: Map[String, (Double, Double)]): Boolean =
    bounds.forall { case (c, (lo, hi)) =>
      fe.stats.get(c) match {
        case Some(cs) if cs.minNum.isDefined && cs.maxNum.isDefined =>
          !(cs.maxNum.get < lo || cs.minNum.get > hi)
        case _ => true
      }
    }

  private def refIntersectsStr(fe: FileEntry,
      bounds: Map[String, (String, String)]): Boolean =
    bounds.forall { case (c, (lo, hi)) =>
      fe.stats.get(c) match {
        case Some(cs) => (cs.minStr, cs.maxStr) match {
          case (Some(mn), Some(mx)) if allAscii(mn) && allAscii(mx) &&
              allAscii(lo) && allAscii(hi) => !(mx < lo || mn > hi)
          case _ => true
        }
        case _ => true
      }
    }

  // ---- adversarial domain
  private val big = Seq(9007199254740993L, 9007199254740995L, Long.MaxValue).map(_.toDouble)
  private val nums: Seq[Double] = Seq(Double.NaN, Double.NegativeInfinity, -1.0, -0.0, 0.0,
    1.0, 2.5, Double.PositiveInfinity) ++ big
  private val strs: Seq[String] = Seq("", "a", "abc", "abd", "b", "zz", "\u007f",
    "\u00e9", "\u65e5\u672c", "\ud83d\ude00", "\uffff")

  /** Logical `k` is stored under physical `k_phys` (column mapping);
    * `s` is unmapped.
    */
  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = true,
      new MetadataBuilder().putString("graft_physical", "k_phys").build()),
    StructField("s", StringType)))

  private def entries(root: String): Seq[FileEntry] = {
    var i = 0
    def fe(stats: Map[String, ColStats]): FileEntry = {
      i += 1
      FileEntry(s"$root/data/f$i.parquet", 100L, 10L, Map.empty, stats)
    }
    def num(mn: Option[Double], mx: Option[Double]) = ColStats(mn, mx, None, None, 0L)
    def str(mn: Option[String], mx: Option[String]) = ColStats(None, None, mn, mx, 0L)
    val numeric = for (a <- nums; b <- nums) yield fe(Map("k_phys" -> num(Some(a), Some(b))))
    val oneSided = nums.flatMap(v => Seq(fe(Map("k_phys" -> num(Some(v), None))),
      fe(Map("k_phys" -> num(None, Some(v))))))
    val strings = for (a <- strs; b <- strs) yield fe(Map("s" -> str(Some(a), Some(b))))
    val strOneSided = strs.flatMap(v => Seq(fe(Map("s" -> str(Some(v), None))),
      fe(Map("s" -> str(None, Some(v))))))
    // a truncated stored pair: min is a prefix of the true min, max the
    // prefix with its last char incremented
    val truncated = Seq(fe(Map("s" -> str(Some("abc"), Some("abd")))),
      fe(Map("s" -> str(Some("\u00e9t"), Some("\u00e9u")))))
    // a logical-name-keyed entry must NOT be read as the mapped key
    val logicalKeyed = Seq(fe(Map("k" -> num(Some(100.0), Some(200.0)))))
    val both = Seq(fe(Map("k_phys" -> num(Some(0.0), Some(1.0)), "s" -> str(Some("a"), Some("b")))),
      fe(Map("k_phys" -> num(Some(5.0), Some(9.0)), "s" -> str(Some("x"), Some("y")))))
    numeric ++ oneSided ++ strings ++ strOneSided ++ truncated ++ logicalKeyed ++ both :+
      fe(Map.empty)
  }

  private val numBoxes: Seq[(Double, Double)] = for (a <- nums; b <- nums) yield (a, b)
  private val strBoxes: Seq[(String, String)] = for (a <- strs; b <- strs) yield (a, b)

  private def reference(all: Seq[FileEntry], num: Map[String, (Double, Double)],
      str: Map[String, (String, String)]): Seq[String] = {
    val numP = num.map { case (k, v) => (if (k == "k") "k_phys" else k) -> v }
    all.filter(fe => refIntersects(fe, numP) && refIntersectsStr(fe, str)).map(_.path)
  }

  test("the shared rule selects exactly the reference box candidates (materialized)") {
    val all = entries("/tbl")
    val st = CommitState(all, Some(schema.json), Nil, Map.empty)
    def check(num: Map[String, (Double, Double)], str: Map[String, (String, String)]): Unit = {
      val got = TableVersions.boxState(spark, st, None, num, str).files.map(_.path)
      assert(got === reference(all, num, str), s"box num=$num str=$str")
    }
    numBoxes.foreach(b => check(Map("k" -> b), Map.empty))
    strBoxes.foreach(b => check(Map.empty, Map("s" -> b)))
    for (n <- Seq((0.5, 0.7), (Double.NaN, 6.0), (9007199254740993L.toDouble, Double.NaN));
         s <- Seq(("a", "a"), ("x", "\u00e9"), ("c", "w")))
      check(Map("k" -> n), Map("s" -> s))
  }

  test("the shared rule selects the reference candidates through a pushed listing") {
    val olds = Seq("graft.table.parquetCheckpointThreshold" -> "1",
      "graft.table.pushedPruneThreshold" -> "1")
      .map { case (k, v) => val o = spark.conf.getOption(k); spark.conf.set(k, v); k -> o }
    try {
      val root = Files.createTempDirectory("fsr").toString + "/tbl"
      TableVersions.createEmpty(spark, root, schema, Nil)
      val all = entries(root)
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(all, Some(schema.json), Nil, Map.empty))
      TableVersions.clearStateCache()
      val l = TableVersions.pushedSnapshot(spark, root)
        .getOrElse(fail("precondition: the snapshot serves a pushed listing"))
      val boxes: Seq[(Map[String, (Double, Double)], Map[String, (String, String)])] = Seq(
        (Map("k" -> (0.5, 0.7)), Map.empty),
        (Map("k" -> (Double.NaN, 1.0)), Map.empty),
        (Map("k" -> (-0.0, -0.0)), Map.empty),
        (Map("k" -> (9007199254740995L.toDouble, Double.PositiveInfinity)), Map.empty),
        (Map.empty, Map("s" -> ("abc", "abc"))),
        (Map.empty, Map("s" -> ("b", "\u00e9"))),
        (Map("k" -> (2.0, 3.0)), Map("s" -> ("a", "a"))))
      boxes.foreach { case (num, str) =>
        val got = TableVersions.boxState(spark, l.scalar, Some(l), num, str).files.map(_.path)
        assert(got.sorted === reference(all, num, str).sorted, s"box num=$num str=$str")
      }
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("coarse contract: ckptKeep over checkpoint rows keeps every entry mayMatch keeps") {
    val all = entries("/tbl")
    val rows = all.zipWithIndex.map { case (fe, i) =>
      CkptFileRow(i.toLong, fe.path, fe.bytes, fe.rows, fe.part,
        fe.stats.map { case (c, s) =>
          c -> CkptStatsRow(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls) },
        None, None)
    }.toDS()
    def attr(n: String, dt: DataType): Attribute = AttributeReference(n, dt)()
    val k = attr("k_phys", DoubleType)
    val s = attr("s", StringType)
    val preds: Seq[Expression] =
      numBoxes.flatMap { case (lo, hi) => GraftFileIndex.boxPredicate(Map("k_phys" -> (lo, hi)),
        Map.empty).reduceOption(And) } ++
      strBoxes.flatMap { case (lo, hi) => GraftFileIndex.boxPredicate(Map.empty,
        Map("s" -> (lo, hi))).reduceOption(And) } ++
      nums.flatMap(v => Seq(LessThanOrEqual(k, Literal(v)), GreaterThan(k, Literal(v)),
        EqualTo(Literal(v), k))) ++
      strs.flatMap(v => Seq(LessThan(s, Literal(v)), GreaterThanOrEqual(s, Literal(v)),
        StartsWith(s, Literal(v))))
    val kept = rows.select(preds.zipWithIndex.map { case (p, i) =>
      GraftFileIndex.ckptKeep(p).as(s"c$i") } :+ rows("path"): _*).collect()
    preds.zipWithIndex.foreach { case (p, i) =>
      val coarse = kept.filter(r => !r.isNullAt(i) && r.getBoolean(i))
        .map(_.getString(preds.size)).toSet
      val exact = all.filter(GraftFileIndex.mayMatch(_, p)).map(_.path).toSet
      assert(exact.subsetOf(coarse), s"ckptKeep drops ${exact -- coarse} that mayMatch keeps for $p")
    }
  }
}
