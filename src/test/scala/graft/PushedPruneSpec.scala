package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry}
import graft.sources.GraftFileIndex

/** FILTERED CHECKPOINT RECONSTRUCTION: a big snapshot's per-query file
  * pruning must run INSIDE the checkpoint's distributed parquet read,
  * with the driver touching only the survivors — never O(#files)
  * expression evaluations per query (the Delta stats-indexed-checkpoint
  * / Iceberg manifest-filtering architecture). Pinned here:
  *   - PRUNING PARITY at 200k entries: the pushed listing keeps exactly
  *     the files the materialized driver loop keeps, across range /
  *     equality / In / IsNull / StartsWith / unsupported shapes, with a
  *     live delta tail folded on top.
  *   - the driver-side evaluation counter grows O(survivors + tail),
  *     not O(#files).
  *   - reconstruction + pruning latency stays bounded at 200k files
  *     (generous ceilings — this is a regression tripwire, not a bench).
  *   - END-TO-END: with the threshold forced low, real reads (DVs,
  *     column mapping, time travel, SQL catalog) are byte-identical to
  *     the materialized path.
  */
class PushedPruneSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("ppr").toString + "/tbl"

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val N = 200000

  /** 200k synthetic entries: k ranges [i*10, i*10+9], partition
    * p = i % 50, every 1000th file all-null in k.
    */
  private def syntheticEntries(root: String): Seq[FileEntry] =
    (0 until N).map { i =>
      val nulls = if (i % 1000 == 0) 100L else 0L
      FileEntry(s"$root/data/f$i.parquet", 4096L, 100L,
        Map("p" -> (i % 50).toString),
        Map(
          "k" -> ColStats(Some(i * 10.0), Some(i * 10.0 + 9), None, None, nulls),
          "s" -> ColStats(None, None, Some(f"s$i%06d"), Some(f"s$i%06dz"), 0L),
          "p" -> ColStats(Some((i % 50).toDouble), Some((i % 50).toDouble), None, None, 0L)))
    }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("p", IntegerType)))

  private def attr(n: String): Attribute =
    AttributeReference(n, schema(n).dataType)()

  test("pushed listing: 200k-entry parity, O(survivors) driver evals, bounded latency") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = newRoot()
      TableVersions.createEmpty(spark, root, schema, Seq("p")) // v0 commit
      val big = CommitState(syntheticEntries(root), Some(schema.json), Seq("p"),
        Map.empty)
      val t0 = System.nanoTime()
      TableVersions.writeCheckpoint(spark, root, 0L, big)
      // a LIVE DELTA TAIL on top: one real append (v1, base 0) so the
      // pushed walk folds adds over the checkpoint base
      TableVersions.clearStateCache() // v0 was cached empty at create
      TableVersions.append(spark, root,
        Seq((9999999L, "tail", 7)).toDF("k", "s", "p"), Seq("p"))
      val pl = TableVersions.pushedListing(spark, root, Some(1L))
        .getOrElse(fail("v1 must reconstruct as checkpoint + tail"))
      val buildSecs = (System.nanoTime() - t0) / 1e9
      assert(pl.ckptCount === N.toLong)
      assert(pl.tailAdds.size === 1)

      val full = TableVersions.commitState(spark, root, Some(1L))
      assert(full.files.size === N + 1, "materialized twin resolves ckpt + tail")
      val fullIdx = new GraftFileIndex(spark, root, full, schema)
      val pushedIdx = new GraftFileIndex(spark, root, pl.scalar, schema, Some(pl))

      def paths(idx: GraftFileIndex, preds: Seq[Expression]): Set[String] =
        idx.listFiles(Nil, preds).flatMap(_.files.map(_.getPath.toUri.getPath)).toSet

      val probes: Seq[(String, Seq[Expression])] = Seq(
        "range" -> Seq(And(GreaterThanOrEqual(attr("k"), Literal(5000L)),
          LessThan(attr("k"), Literal(7000L)))),
        "equality" -> Seq(EqualTo(attr("k"), Literal(123456L))),
        "in" -> Seq(In(attr("k"), Seq(Literal(5L), Literal(999995L), Literal(-1L)))),
        "isnull" -> Seq(IsNull(attr("k"))),
        "prefix" -> Seq(StartsWith(attr("s"), Literal("s00001"))),
        "part+range" -> Seq(EqualTo(attr("p"), Literal(7)),
          GreaterThan(attr("k"), Literal(1990000L))),
        "tail-add" -> Seq(EqualTo(attr("k"), Literal(9999999L))),
        "unsupported" -> Seq(EqualTo(Abs(attr("k")), Literal(50L)),
          LessThan(attr("k"), Literal(100L))))

      probes.foreach { case (tag, preds) =>
        val before = GraftFileIndex.driverEvals.get()
        val p = paths(pushedIdx, preds)
        val evals = GraftFileIndex.driverEvals.get() - before
        val f = paths(fullIdx, preds)
        assert(p === f, s"parity broken for probe '$tag'")
        assert(evals <= p.size + 64,
          s"probe '$tag': $evals driver evals for ${p.size} survivors — must be " +
            "O(survivors), not O(#files)")
      }
      // sanity: the probes actually prune (pushed pruning is not a no-op)
      assert(paths(pushedIdx, probes.head._2).size === 201)
      assert(paths(pushedIdx, Seq(EqualTo(attr("k"), Literal(123456L)))).size === 1)

      // generous tripwires, not a benchmark
      assert(buildSecs < 120.0, s"checkpoint write + listing build took $buildSecs s")
      val t1 = System.nanoTime()
      paths(pushedIdx, probes.head._2)
      val querySecs = (System.nanoTime() - t1) / 1e9
      assert(querySecs < 30.0, s"pushed prune of 200k entries took $querySecs s")
    }
  }

  test("a NaN literal keeps the file on both paths: reads agree with plain parquet") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1",
        "graft.table.checkpointInterval" -> "1") {
      val root = newRoot()
      TableVersions.append(spark, root, Seq(1.0, 2.0, 3.0).toDF("d").coalesce(1))
      // a metadata-only commit, so a parquet checkpoint exists to push into
      TableVersions.setTableProperty(spark, root, "comment", "nan")
      val files = TableVersions.commitState(spark, root).files.map(_.path)
      assert(files.size === 1)
      // Spark orders NaN above every double: each predicate holds for all rows
      val preds = Seq(col("d") <= Double.NaN, col("d") < Double.NaN,
        lit(Double.NaN) > col("d"))
      Seq("0", "1").foreach { threshold =>
        withConf("graft.table.pushedPruneThreshold" -> threshold) {
          TableVersions.clearStateCache()
          if (threshold == "1") assert(TableVersions.pushedListing(spark, root, None).isDefined,
            "precondition: the snapshot serves a pushed listing")
          preds.foreach { p =>
            assert(spark.read.parquet(files: _*).filter(p).count() === 3L)
            assert(TableVersions.read(spark, root).filter(p).count() === 3L,
              s"$p pruned the file at threshold $threshold")
          }
        }
      }
    }
  }

  test("end-to-end: pushed reads equal materialized reads (DVs, mapping, time travel, SQL)") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1",
        "graft.table.checkpointInterval" -> "1") {
      val root = newRoot()
      TableVersions.append(spark, root,
        (1L to 400L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("k", "v", "p")
          .repartition(4), Seq("p")) // v0
      TableVersions.append(spark, root,
        (401L to 500L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("k", "v", "p"),
        Seq("p")) // v1
      TableVersions.deleteWhere(spark, root, col("k").isin(7L, 444L),
        maxDvFraction = 0.5) // v2: DV path
      assert(TableVersions.commitState(spark, root).dvs.nonEmpty, "DV precondition")
      TableVersions.renameColumn(spark, root, "v", "w") // v3: column mapping
      TableVersions.compact(spark, root, targetBytes = 1L << 30) // v4: removes

      def rows(version: Option[Long], threshold: String): Seq[String] =
        withConf("graft.table.pushedPruneThreshold" -> threshold) {
          TableVersions.clearStateCache()
          TableVersions.read(spark, root, version)
            .collect().map(_.toString).sorted.toSeq
        }
      Seq(None, Some(1L), Some(2L), Some(3L), Some(4L)).foreach { v =>
        // threshold 1 forces the pushed path wherever a pq checkpoint
        // exists; 0 disables it — the two must be byte-identical
        assert(rows(v, "1") === rows(v, "0"), s"pushed read diverges at version $v")
      }

      withConf("graft.table.pushedPruneThreshold" -> "1") {
        TableVersions.clearStateCache()
        // the format("graft-table") surface takes the pushed relation
        val viaSource = spark.read.format("graft-table").load(root)
          .filter(col("k") > 490L).count()
        assert(viaSource === 10L)
        // filtered time travel before the delete sees the deleted keys
        assert(spark.read.format("graft-table").option("versionAsOf", "1").load(root)
          .filter(col("k").isin(7L, 444L)).count() === 2L)

        // SQL catalog: partition-filtered stats aggregate through the
        // pushed read (fresh table name to dodge any cached relation)
        withConf("spark.sql.catalog.gps" -> classOf[graft.sources.GraftCatalog].getName,
            "spark.sql.catalog.gps.warehouse" -> root.stripSuffix("/tbl")) {
          val cnt = spark.sql("SELECT count(*) AS c FROM gps.`" + root + "` WHERE p = 2")
            .head().getLong(0)
          withConf("graft.table.pushedPruneThreshold" -> "0") {
            TableVersions.clearStateCache()
            val expect = TableVersions.read(spark, root)
              .filter(col("p") === 2).count()
            assert(cnt === expect, "pushed partition-stats answer diverges")
          }
        }
      }
    }
  }
}
