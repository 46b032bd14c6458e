package graft

import org.apache.spark.sql.functions._
import graft.operators.{RangeJoin, ZOrder}

/** RangeJoin (bucketized point-in-interval) and ZOrder (Morton layout)
  * — the round-3 data-layout/scale operators.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // ---- RangeJoin -------------------------------------------------------

  private def naive(points: org.apache.spark.sql.DataFrame,
      intervals: org.apache.spark.sql.DataFrame) =
    points.join(intervals,
      col("v") >= col("lo") && col("v") < col("hi"))

  test("pointInInterval matches the naive theta join on overlapping intervals") {
    val points = (0 until 500).map(i => (i.toLong, i * 7.3 % 100)).toDF("pid", "v")
    val intervals = Seq(
      ("a", 0.0, 30.0), ("b", 20.0, 60.0), ("c", 50.0, 100.0),
      ("d", 10.0, 90.0), ("e", 99.5, 100.5)).toDF("iv", "lo", "hi")
    for (w <- Seq(1.0, 7.0, 33.0, 500.0)) {
      val got = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", w)
        .select("pid", "iv").as[(Long, String)].collect().toSet
      val want = naive(points, intervals).select("pid", "iv")
        .as[(Long, String)].collect().toSet
      assert(got == want, s"bucketWidth=$w")
    }
  }

  test("pointInInterval: hi is exclusive, lo inclusive; cell-edge values") {
    val points = Seq((1L, 10.0), (2L, 20.0), (3L, 19.999)).toDF("pid", "v")
    val intervals = Seq(("x", 10.0, 20.0)).toDF("iv", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 10.0)
      .select("pid").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("pointInInterval rejects degenerate wide intervals instead of truncating") {
    val points = Seq((1L, 5.0)).toDF("pid", "v")
    val wide = Seq(("w", 0.0, 1e9)).toDF("iv", "lo", "hi")
    val ex = intercept[Exception] {
      RangeJoin.pointInInterval(points, "v", wide, "lo", "hi", 1.0, maxCellsPerInterval = 100)
        .collect()
    }
    assert(ex.getMessage.contains("pointInInterval"))
  }

  test("pointInInterval plans a hash equi-join on the cell id, not a nested loop") {
    val points = (0 until 100).map(i => (i.toLong, i / 2.0)).toDF("pid", "v")
    val intervals = Seq(("a", 0.0, 30.0), ("b", 20.0, 50.0)).toDF("iv", "lo", "hi")
    val plan = RangeJoin.pointInInterval(points, "v", intervals, "lo", "hi", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
  }

  // ---- ZOrder ----------------------------------------------------------

  test("zValue interleaves bits (known positions)") {
    val df = Seq((3L, 1L)).toDF("x", "y") // x=0b11, y=0b01 → z = 0b0111 = 7
    val z = df.select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 4)).as[Long].head()
    assert(z == 7L)
  }

  test("zValue is monotone under doubling both coordinates (locality sanity)") {
    val df = Seq((1L, 1L), (2L, 2L), (4L, 4L), (8L, 8L)).toDF("x", "y")
    val zs = df.select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 8)).as[Long].collect()
    assert(zs.sameElements(zs.sorted))
  }

  /** The point of the layout: per-file (here per-partition) min/max spans
    * shrink on BOTH dimensions vs. a single-column sort, which nails one
    * dimension and leaves the other at full width.
    */
  test("cluster narrows per-partition min/max spans on both keys") {
    val n = 4096
    val df = (0 until n).map { i => (i % 64, i / 64) }.toDF("x", "y")

    def avgSpan(laid: org.apache.spark.sql.DataFrame, k: String): Double = {
      val spans = laid
        .withColumn("part", spark_partition_id())
        .groupBy("part").agg((max(col(k)) - min(col(k))).as("span"))
        .agg(avg("span")).as[Double].head()
      spans
    }

    val zordered = ZOrder.cluster(df, Seq("x", "y"), numFiles = 16, bits = 6)
    val xSorted = df.repartitionByRange(16, col("x")).sortWithinPartitions("x")

    // x-sort: x-span tiny, y-span ~ full domain (63)
    assert(avgSpan(xSorted, "y") > 50.0)
    // z-order: both spans well under half the domain
    assert(avgSpan(zordered, "x") < 32.0)
    assert(avgSpan(zordered, "y") < 32.0)
    assert(zordered.count() == n)
  }

  test("cluster accepts date keys (epoch normalization) and empty input") {
    val dated = Seq(
      (1, java.sql.Date.valueOf("2026-01-01")),
      (2, java.sql.Date.valueOf("2026-06-01")),
      (3, java.sql.Date.valueOf("2026-12-01"))).toDF("id", "d")
    assert(ZOrder.cluster(dated, Seq("id", "d"), numFiles = 2).count() == 3)
    val empty = dated.filter(col("id") < 0)
    assert(ZOrder.cluster(empty, Seq("id", "d"), numFiles = 2).count() == 0)
  }

  test("optimizeZOrder: on-disk file stats narrow on both keys; most files skippable") {
    import graft.runner.ZoneSink
    val root = java.nio.file.Files.createTempDirectory("zopt_").toString
    val path = s"$root/t"
    val n = 4096
    (0 until n).map(i => (i % 64, i / 64)).toDF("x", "y")
      .orderBy(rand(42)) // worst-case starting layout: random
      .repartition(8).write.parquet(path)

    val sink = ZoneSink()
    // ~16 files: z-segments of 256 cells = 16×16 blocks, so a point
    // predicate on either key touches ~1/4 of the files
    val nFiles = sink.optimizeZOrder(spark, path, Seq("x", "y"), targetFileBytes = 1L << 10, bits = 6)
    assert(nFiles > 8, s"want many files to make skipping meaningful, got $nFiles")

    // read each FILE separately: its real parquet footer range
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
    val ranges = files.map { f =>
      spark.read.parquet(f).agg(min("x"), max("x"), min("y"), max("y")).head()
    }
    def span(r: org.apache.spark.sql.Row, lo: Int, hi: Int) = r.getInt(hi) - r.getInt(lo)
    val avgX = ranges.map(span(_, 0, 1)).sum.toDouble / ranges.length
    val avgY = ranges.map(span(_, 2, 3)).sum.toDouble / ranges.length
    assert(avgX < 40 && avgY < 40, s"avg file spans x=$avgX y=$avgY of domain 63")
    // point predicate x=7: most files' [min,max] exclude it entirely
    val skippable = ranges.count(r => r.getInt(1) < 7 || r.getInt(0) > 7)
    assert(skippable * 2 > ranges.length,
      s"only $skippable of ${ranges.length} files skippable for x=7")
    // data intact
    assert(spark.read.parquet(path).count() == n)
  }

  test("cluster quantile mode handles heavy skew (all mass at one value)") {
    val df = ((0 until 1000).map(_ => 5) ++ (0 until 24).map(i => i * 100))
      .zipWithIndex.map { case (v, i) => (v, i) }.toDF("x", "rid")
    val laid = ZOrder.cluster(df, Seq("x", "rid"), numFiles = 4, bits = 4, quantile = true)
    assert(laid.count() == 1024)
  }
}
