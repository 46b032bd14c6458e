package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry,
  MergeDelete, MergeInsert, MergeUpdate}

/** WRITER-SIDE PUSHED PLANNING: candidate selection for merge /
  * DELETE / UPSERT / prunedRead must run INSIDE the checkpoint's
  * distributed parquet read at big file counts, with the driver
  * evaluating only the candidates — never O(#files) entry checks per
  * operation (the write-path half of filtered checkpoint
  * reconstruction; the read path is pinned by PushedPruneSpec).
  *
  * Pinned here:
  *   - at 200k entries, each writer's planning grows
  *     [[TableVersions.candidateEvals]] by O(candidates + tail), and
  *     the operation is CORRECT: only the intersecting real files
  *     rewrite, every fake metadata entry carries by reference.
  *   - END-TO-END at small scale with the thresholds forced low:
  *     delete/upsert/merge (rewrite AND DV paths) through the pushed
  *     planner are byte-identical to a twin table on the materialized
  *     planner.
  */
class PushedWritePlanSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("pwp").toString + "/tbl"

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val N = 200000

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("p", IntegerType)))

  /** 200k synthetic entries whose k ranges [i*10, i*10+9] (and s
    * ranges aXXXXXX..bXXXXXX) lie far below the real rows' keys — a
    * pushed planner must never touch them on the driver, and a commit
    * must carry them all by reference.
    */
  private def syntheticEntries(root: String): Seq[FileEntry] =
    (0 until N).map { i =>
      FileEntry(s"$root/data/f$i.parquet", 4096L, 100L,
        Map("p" -> (i % 50).toString),
        Map(
          "k" -> ColStats(Some(i * 10.0), Some(i * 10.0 + 9), None, None, 0L),
          "s" -> ColStats(None, None, Some(f"a$i%06d"), Some(f"b$i%06d"), 0L),
          "p" -> ColStats(Some((i % 50).toDouble), Some((i % 50).toDouble), None, None, 0L)))
    }

  /** The real rows live at k = 5_000_000..5_000_009 in partition p=99;
    * every fake entry's k-range ends at ~2M, so bounds around 5M make
    * the real file(s) the only candidates.
    */
  private def buildBigTable(): String = {
    val root = newRoot()
    TableVersions.createEmpty(spark, root, schema, Seq("p"))
    val big = CommitState(syntheticEntries(root), Some(schema.json), Seq("p"), Map.empty)
    TableVersions.writeCheckpoint(spark, root, 0L, big)
    TableVersions.clearStateCache() // v0 was cached empty at create
    // the append itself must stay scalar: schema checks on the pushed
    // scalar state, O(delta) direct commit, no checkpoint resolve
    val r0 = TableVersions.ckptResolves.get()
    TableVersions.append(spark, root,
      (0 until 10).map(i => (5000000L + i, s"r$i", 99)).toDF("k", "s", "p"), Seq("p"))
    assert(TableVersions.ckptResolves.get() === r0,
      "a pushed append must never materialize the checkpoint dataset")
    root
  }

  private def realRows(root: String): Seq[(Long, String)] =
    TableVersions.readPartitions(spark, root, Map("p" -> "99"))
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq

  test("pushed write planning: 200k entries, O(candidates) driver evals, correct rewrites") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = buildBigTable()
      assert(TableVersions.pushedListing(spark, root, None).exists(_.ckptCount === N.toLong),
        "precondition: the snapshot must serve a pushed listing")

      // ---- DELETE: bounds select only the real tail file
      var resolvesBefore = TableVersions.ckptResolves.get()
      var before = TableVersions.candidateEvals.get()
      val v2 = TableVersions.deleteWhere(spark, root, col("k") === 5000002L,
        bounds = Map("k" -> (5000002.0, 5000002.0)))
      val deleteEvals = TableVersions.candidateEvals.get() - before
      assert(TableVersions.ckptResolves.get() === resolvesBefore,
        "a pushed delete must never materialize the checkpoint dataset")
      assert(v2.isDefined, "delete must commit")
      assert(deleteEvals <= 64L,
        s"delete planning did $deleteEvals entry evals — must be O(candidates), not O(#files)")
      assert(realRows(root).map(_._1) === (0 until 10).filter(_ != 2).map(5000000L + _))

      // ---- UPSERT: numeric key box prunes to the real file
      resolvesBefore = TableVersions.ckptResolves.get()
      before = TableVersions.candidateEvals.get()
      val v3 = TableVersions.upsert(spark, root,
        Seq((5000003L, "UPD", 99), (6000000L, "ins", 99)).toDF("k", "s", "p"), "k")
      val upsertEvals = TableVersions.candidateEvals.get() - before
      assert(TableVersions.ckptResolves.get() === resolvesBefore,
        "a pushed upsert must never materialize the checkpoint dataset")
      assert(v3.isDefined, "upsert must commit")
      assert(upsertEvals <= 64L,
        s"upsert planning did $upsertEvals entry evals — must be O(candidates)")
      val afterUpsert = realRows(root)
      assert(afterUpsert.contains((5000003L, "UPD")) && afterUpsert.contains((6000000L, "ins")))

      // ---- MERGE: source key box prunes to the real files
      resolvesBefore = TableVersions.ckptResolves.get()
      before = TableVersions.candidateEvals.get()
      val v4 = TableVersions.merge(spark, root,
        Seq((5000004L, "MRG"), (7000000L, "new")).toDF("k", "s2"), Seq("k"),
        matched = Seq(MergeUpdate(Map("s" -> "s.s2"))),
        notMatched = Seq(MergeInsert(Map("k" -> "s.k", "s" -> "s.s2", "p" -> "99"))))
      val mergeEvals = TableVersions.candidateEvals.get() - before
      assert(TableVersions.ckptResolves.get() === resolvesBefore,
        "a pushed merge must never materialize the checkpoint dataset")
      assert(v4.isDefined, "merge must commit")
      assert(mergeEvals <= 64L,
        s"merge planning did $mergeEvals entry evals — must be O(candidates)")
      val afterMerge = realRows(root)
      assert(afterMerge.contains((5000004L, "MRG")) && afterMerge.contains((7000000L, "new")))

      // ---- prunedRead through the pushed planner
      before = TableVersions.candidateEvals.get()
      val pr = TableVersions.prunedRead(spark, root, Seq("k"),
        Map("k" -> (5000000.0, 5000001.0))).select("k").as[Long].collect().sorted
      val readEvals = TableVersions.candidateEvals.get() - before
      assert(pr === Array(5000000L, 5000001L))
      assert(readEvals <= 64L, s"prunedRead planning did $readEvals entry evals")

      // ---- REPLACE PARTITIONS: plans its removed set through the
      // exact partition tuples in the checkpoint read
      resolvesBefore = TableVersions.ckptResolves.get()
      val v5 = TableVersions.replacePartitions(spark, root,
        (0 until 5).map(i => (8000000L + i, s"rp$i", 99)).toDF("k", "s", "p"))
      assert(TableVersions.ckptResolves.get() === resolvesBefore,
        "a pushed replacePartitions must never materialize the checkpoint dataset")
      assert(realRows(root).map(_._1) === (0 until 5).map(8000000L + _),
        "partition p=99 replaced wholesale, fakes untouched")
      val _ = v5

      // ...and each committed version is an actual #BASE delta
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      (2L to 5L).foreach { v =>
        val in = f.open(new org.apache.hadoop.fs.Path(root, s"_versions/v$v.commit"))
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        assert(txt.contains("#BASE "), s"v$v must be an incremental commit")
      }

      // readPartitions plans inside the checkpoint read too
      resolvesBefore = TableVersions.ckptResolves.get()
      assert(realRows(root).size === 5)
      assert(TableVersions.ckptResolves.get() === resolvesBefore,
        "a pushed readPartitions must never materialize the checkpoint dataset")

      // every fake entry carried by reference through three commits
      val st = TableVersions.commitState(spark, root, None)
      assert(st.files.count(_.path.contains("/f")) === N,
        "all synthetic entries must survive the rewrites untouched")
    }
  }

  test("string-keyed CDC prunes on string stats: pushed at 200k, and on the materialized path") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      // PUSHED: a string-keyed upsert/merge against 200k entries plans
      // O(candidates) — every fake entry's [aXXXXXX, bXXXXXX] range is
      // provably disjoint from the real rows' "r*" keys
      val root = buildBigTable()
      var before = TableVersions.candidateEvals.get()
      val v = TableVersions.upsert(spark, root,
        Seq(("r3", 5000103L, 99)).toDF("s", "k", "p"), "s")
      val upsertEvals = TableVersions.candidateEvals.get() - before
      assert(v.isDefined)
      assert(upsertEvals <= 64L,
        s"string-keyed upsert did $upsertEvals entry evals — must be O(candidates)")
      assert(realRows(root).map(_._2).count(_ == "r3") === 1)
      assert(TableVersions.readPartitions(spark, root, Map("p" -> "99"))
        .where(col("s") === "r3").select("k").as[Long].head() === 5000103L)

      before = TableVersions.candidateEvals.get()
      val v2 = TableVersions.merge(spark, root,
        Seq(("r5", "MRG")).toDF("s", "tag"), Seq("s"),
        matched = Seq(MergeUpdate(Map("k" -> "9999999"))))
      assert(v2.isDefined)
      assert(TableVersions.candidateEvals.get() - before <= 64L,
        "string-keyed merge must plan O(candidates)")
      assert(TableVersions.readPartitions(spark, root, Map("p" -> "99"))
        .where(col("s") === "r5").select("k").as[Long].head() === 9999999L)
      assert(TableVersions.commitState(spark, root, None)
        .files.count(_.path.contains("/f")) === N)
    }

    // MATERIALIZED: two real files with disjoint string key ranges —
    // an upsert touching only the second file's range carries the
    // first file by reference (same-path identity across the commit)
    val root2 = newRoot()
    TableVersions.append(spark, root2,
      (0 until 20).map(i => (f"a$i%03d", i.toLong)).toDF("id", "v").coalesce(1))
    TableVersions.append(spark, root2,
      (0 until 20).map(i => (f"m$i%03d", 100L + i)).toDF("id", "v").coalesce(1))
    val filesBefore = TableVersions.commitState(spark, root2, None).files.map(_.path)
    TableVersions.upsert(spark, root2,
      Seq(("m003", -1L), ("z999", -2L)).toDF("id", "v"), "id")
    val filesAfter = TableVersions.commitState(spark, root2, None).files.map(_.path).toSet
    val aFile = filesBefore.head
    assert(filesAfter.contains(aFile),
      "the a* file is provably disjoint from [m003, z999] and must carry by reference")
    assert(!filesAfter.contains(filesBefore(1)), "the m* file must have rewritten")
    val out = TableVersions.read(spark, root2).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length === 41)
    assert(out.contains(("m003", -1L)) && out.contains(("z999", -2L)))
    assert(out.contains(("a003", 3L)), "untouched rows intact")
  }

  test("checkpoint scalar totals: sizeEstimate/dvMap job-free; legacy 2-field refs still parse") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = buildBigTable()
      val pl = TableVersions.pushedListing(spark, root, None)
        .getOrElse(fail("snapshot must serve a pushed listing"))
      // a round-13 checkpoint carries the totals inline — the cold
      // snapshot answers both without a job
      assert(pl.ckptBytes === Some(4096L * N))
      assert(pl.ckptNDv === Some(0L))
      assert(pl.sizeEstimate(spark) >= 4096L * N)
      assert(pl.dvMap(spark).isEmpty)

      // LEGACY REF: strip the totals back to the two-field r12 form —
      // parsing must tolerate it and the listing must fall back to the
      // (memoized) columnar jobs with the same answers
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val ckpt = new org.apache.hadoop.fs.Path(root, "_versions/v0.checkpoint")
      val txt = {
        val in = f.open(ckpt)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      val legacy = txt.linesIterator.map { l =>
        if (l.startsWith("#FILESPQ ")) l.split(" ").take(3).mkString(" ") else l
      }.mkString("\n") + "\n"
      val out = f.create(ckpt, true)
      try out.write(legacy.getBytes("UTF-8")) finally out.close()
      TableVersions.clearStateCache()
      val pl2 = TableVersions.pushedListing(spark, root, None)
        .getOrElse(fail("legacy two-field ref must still serve the pushed listing"))
      assert(pl2.ckptBytes.isEmpty && pl2.ckptNDv.isEmpty)
      assert(pl2.sizeEstimate(spark) === pl.sizeEstimate(spark))
      assert(pl2.dvMap(spark) === pl.dvMap(spark))
    }
  }

  test("pushed write planning: end-to-end parity with the materialized planner") {
    // catalog tables, so SQL UPDATE/DELETE run the by-path planner too
    val w = TestCatalog.warehouse(spark)
    def twin[A](pushed: Boolean)(body: => A): A = withConf(
      "graft.table.parquetCheckpointThreshold" -> "1",
      "graft.table.checkpointInterval" -> "1",
      "graft.table.pushedPruneThreshold" -> (if (pushed) "1" else "0"))(body)
    def build(name: String, pushed: Boolean): Unit = twin(pushed) {
      val root = s"$w/db/$name"
      TableVersions.append(spark, root,
        (0 until 40).map(i => (i.toLong, s"a$i", i % 4)).toDF("k", "s", "p"), Seq("p"))
      TableVersions.append(spark, root,
        (40 until 80).map(i => (i.toLong, s"b$i", i % 4)).toDF("k", "s", "p"), Seq("p"))
      // partition replace with an extra dropped partition
      TableVersions.replacePartitions(spark, root,
        (200 until 210).map(i => (i.toLong, s"rp$i", 2)).toDF("k", "s", "p"),
        drop = Seq(Map("p" -> "3")))
      // rewrite-mode delete with bounds
      TableVersions.deleteWhere(spark, root, col("k") % 7 === 0,
        bounds = Map("k" -> (0.0, 50.0)))
      // DV-mode delete (merge-on-read planning over the pushed state)
      TableVersions.deleteWhere(spark, root, col("k") === 61L,
        bounds = Map("k" -> (61.0, 61.0)), maxDvFraction = 0.5)
      // change feed ON from here: the delta-direct commits must carry
      // their #CDF sidecars exactly like the materialized ones
      TableVersions.setTableProperty(spark, root, TableVersions.ChangeFeedProp, "true")
      // upsert (rewrite) + merge incl. a DV-path merge
      TableVersions.upsert(spark, root,
        Seq((10L, "UP", 2), (100L, "NEW", 0)).toDF("k", "s", "p"), "k")
      TableVersions.merge(spark, root,
        Seq((12L, "M1"), (101L, "M2")).toDF("k", "v"), Seq("k"),
        matched = Seq(MergeUpdate(Map("s" -> "s.v"))),
        notMatched = Seq(MergeInsert(Map("k" -> "s.k", "s" -> "s.v", "p" -> "1"))))
      TableVersions.merge(spark, root,
        Seq((13L, "D")).toDF("k", "v"), Seq("k"),
        matched = Seq(MergeDelete()), maxDvFraction = 0.9)
      // string-keyed upsert and merge (string-stats box)
      TableVersions.upsert(spark, root,
        Seq((555L, "a5", 1), (556L, "zz", 0)).toDF("k", "s", "p"), "s")
      TableVersions.merge(spark, root,
        Seq(("b41", 4141L)).toDF("s", "nk"), Seq("s"),
        matched = Seq(MergeUpdate(Map("k" -> "s.nk"))))
      // partition-scoped compaction
      TableVersions.compact(spark, root, 1L << 30, partition = Map("p" -> "1"))
      // SQL row-level statements: the by-path planner
      spark.sql(s"UPDATE graft.db.$name SET s = concat(s, '_u') WHERE k % 5 = 1")
      spark.sql(s"DELETE FROM graft.db.$name WHERE k % 11 = 2")
      ()
    }
    val (pushedName, matName) = ("pwp_parity_pushed", "pwp_parity_mat")
    val pushedRoot = s"$w/db/$pushedName"
    val matRoot = s"$w/db/$matName"
    build(pushedName, pushed = true)
    build(matName, pushed = false)
    val a = TableVersions.read(spark, pushedRoot).orderBy("k")
      .collect().map(_.toSeq).toSeq
    val b = TableVersions.read(spark, matRoot).orderBy("k")
      .collect().map(_.toSeq).toSeq
    assert(a === b, "pushed write planning must be invisible in the results")
    assert(a.nonEmpty && !a.map(_.head.asInstanceOf[Long]).exists(k => k % 7 == 0 && k <= 50))
    // partition-pruned reads agree, each on its own planner
    def partRows(root: String, pushed: Boolean) = twin(pushed) {
      TableVersions.readPartitions(spark, root, Map("p" -> "1"))
        .orderBy("k").collect().map(_.toSeq).toSeq
    }
    assert(partRows(pushedRoot, pushed = true) === partRows(matRoot, pushed = false))
    assert(partRows(matRoot, pushed = false).nonEmpty)
    // the exact change feed is identical too (delta-direct commits
    // reference the same sidecar images the materialized ones do)
    def feed(root: String) = {
      val top = TableVersions.currentVersion(spark, root).get
      TableVersions.readChanges(spark, root, 4L, top, updateImages = true)
        .drop("_commit_timestamp") // wall-clock: legitimately differs across twins
        .orderBy("k", "_change_type", "_commit_version")
        .collect().map(_.toSeq).toSeq
    }
    assert(feed(pushedRoot) === feed(matRoot),
      "change feeds must match across the two planners")
    // the same operations committed the same file motion, version by version
    def steps(root: String): Seq[(Long, String, Map[String, Long])] =
      TableVersions.history(spark, root).select("version", "operation").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        .map { case (v, op) =>
          val motion =
            if (v == 0L) Map.empty[String, Long]
            else TableVersions.diffListing(spark, root, v - 1, v).collect()
              .groupBy(_.getString(2)).map { case (c, rs) => c -> rs.length.toLong }
          (v, op, motion)
        }
    assert(steps(pushedRoot) === steps(matRoot),
      "history operations and per-version file adds/removes must match")
  }

  test("distributed vacuum sweep: same survivors as the driver sweep, retained reads intact") {
    // build two identical tables with history worth vacuuming: appends,
    // a compaction (drops old files), a DV delete (sidecar), plus a
    // planted orphan file old enough to sweep and a fresh one the
    // grace must spare
    def build(pushed: Boolean): String = withConf(
      "graft.table.parquetCheckpointThreshold" -> "1",
      "graft.table.checkpointInterval" -> "1",
      "graft.table.pushedPruneThreshold" -> (if (pushed) "1" else "0")) {
      val root = newRoot()
      (0 until 4).foreach { b =>
        TableVersions.append(spark, root,
          (0 until 25).map(i => ((b * 25 + i).toLong, s"v$b-$i", b % 2)).toDF("k", "s", "p"),
          Seq("p"))
      }
      TableVersions.compact(spark, root, targetBytes = 1L << 26)
      TableVersions.deleteWhere(spark, root, col("k") === 7L,
        bounds = Map("k" -> (7.0, 7.0)), maxDvFraction = 0.5)
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val stale = new org.apache.hadoop.fs.Path(root, "data/orphan-stale.parquet")
      val out = f.create(stale, true); out.write(Array[Byte](1, 2, 3)); out.close()
      f.setTimes(stale, System.currentTimeMillis() - 3600 * 1000L, -1)
      val fresh = new org.apache.hadoop.fs.Path(root, "data/orphan-fresh.parquet")
      val out2 = f.create(fresh, true); out2.write(Array[Byte](4, 5)); out2.close()
      TableVersions.vacuum(spark, root, keepVersions = 2, graceMs = 10 * 60 * 1000L)
      root
    }
    val dRoot = build(pushed = true)
    val mRoot = build(pushed = false)
    def survivors(root: String): Set[String] = {
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val it = f.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          b += st.getPath.toString.stripPrefix("file:").replaceFirst("^" +
            java.util.regex.Pattern.quote(root), "")
      }
      b.toSet
    }
    // the planted stale orphan swept, the fresh one spared, on BOTH paths
    val dS = survivors(dRoot)
    val mS = survivors(mRoot)
    assert(!dS.exists(_.contains("orphan-stale")) && !mS.exists(_.contains("orphan-stale")))
    assert(dS.exists(_.contains("orphan-fresh")) && mS.exists(_.contains("orphan-fresh")))
    // identical survivor SHAPE: same counts per directory kind (file
    // names are uuid-unique per table, so compare structure not names)
    def shape(s: Set[String]): Map[String, Int] =
      s.groupBy(_.split("/")(2).split("-")(0)).view.mapValues(_.size).toMap
    assert(shape(dS) === shape(mS),
      s"distributed and driver sweeps must keep the same files: $dS vs $mS")
    // retained versions still read whole on the distributed table.
    // Version numbers no longer align between the two builds: the
    // round-15 partition-batched driver commits the pushed table's
    // unscoped compaction PER PARTITION TUPLE (two commits), the
    // materialized build in one — so compare each table at its own head
    val dTop = TableVersions.currentVersion(spark, dRoot).get
    val mTop = TableVersions.currentVersion(spark, mRoot).get
    assert(dTop === mTop + 1, "the pushed build commits one compaction per partition tuple")
    // on the materialized planner and on the pushed one
    for (t <- Seq("0", "1")) withConf("graft.table.pushedPruneThreshold" -> t) {
      assert(TableVersions.read(spark, dRoot, Some(dTop)).count() ===
        TableVersions.read(spark, mRoot, Some(mTop)).count())
      assert(TableVersions.read(spark, dRoot, Some(dTop - 1)).count() > 0,
        "the retained predecessor still reconstructs after the distributed sweep")
      assert(TableVersions.read(spark, mRoot, Some(mTop - 1)).count() > 0)
      assert(TableVersions.read(spark, dRoot).where(col("k") === 7L).count() === 0L,
        "the DV delete must hold after the distributed vacuum")
    }
  }

  test("vacuum: every retained version reads whole at thresholds 0 and 1, after either sweep, with and without compaction") {
    // the version below the head was planned by its incremental
    // checkpoint write BEFORE it had a checkpoint of its own, so that
    // planning named its predecessor's checkpoint dataset, which the
    // vacuum drops
    for (distributed <- Seq(false, true); compacted <- Seq(false, true)) {
      val root = newRoot()
      def rows(v: Long): Seq[String] =
        TableVersions.read(spark, root, Some(v)).collect().map(_.toString).toSeq.sorted
      val retained = withConf(
        "graft.table.parquetCheckpointThreshold" -> "1",
        "graft.table.checkpointInterval" -> "1",
        "graft.table.pushedPruneThreshold" -> (if (distributed) "1" else "0")) {
        (0 until 4).foreach { b =>
          TableVersions.append(spark, root,
            (0 until 25).map(i => ((b * 25 + i).toLong, s"v$b-$i", b % 2)).toDF("k", "s", "p"),
            Seq("p"))
        }
        if (compacted) TableVersions.compact(spark, root, targetBytes = 1L << 26)
        TableVersions.deleteWhere(spark, root, col("k") === 7L,
          bounds = Map("k" -> (7.0, 7.0)), maxDvFraction = 0.5)
        val top = TableVersions.currentVersion(spark, root).get
        val want = withConf("graft.table.pushedPruneThreshold" -> "0") {
          (top - 1 to top).map(v => v -> rows(v)) }
        TableVersions.vacuum(spark, root, keepVersions = 2, graceMs = 10 * 60 * 1000L)
        want
      }
      for (t <- Seq("0", "1"); (v, want) <- retained)
        withConf("graft.table.pushedPruneThreshold" -> t) {
          assert(rows(v) === want, s"v$v at threshold $t " +
            s"(${if (distributed) "distributed" else "driver"} sweep, compacted=$compacted)")
        }
    }
  }

  test("delta-direct commits race: disjoint rewrites rebase, overlapping inputs refuse") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "1",
      "graft.table.checkpointInterval" -> "1",
      "graft.table.pushedPruneThreshold" -> "1") {
      val root = newRoot()
      // two single-file partitions with disjoint key ranges
      TableVersions.append(spark, root,
        (0 until 10).map(i => (i.toLong, s"a$i", 0)).toDF("k", "s", "p").coalesce(1), Seq("p"))
      TableVersions.append(spark, root,
        (10 until 20).map(i => (i.toLong, s"b$i", 1)).toDF("k", "s", "p").coalesce(1), Seq("p"))
      assert(TableVersions.pushedListing(spark, root, None).isDefined,
        "precondition: pushed planning engaged")

      // DISJOINT rewrites racing from one gate: both must land (the
      // loser of the claim race rebases over the winner's delta)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def race(k: Long): java.util.concurrent.Future[Option[Long]] =
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = {
            gate.await()
            TableVersions.deleteWhere(spark, root, col("k") === k,
              bounds = Map("k" -> (k.toDouble, k.toDouble)))
          }
        })
      val fa = race(1L)
      val fb = race(11L)
      gate.countDown()
      val (ra, rb) = (fa.get(), fb.get())
      assert(ra.isDefined && rb.isDefined,
        s"disjoint rewrites must both commit, got $ra / $rb")
      val rows = TableVersions.read(spark, root).orderBy("k")
        .select("k").as[Long].collect().toSeq
      assert(rows === (0L until 20L).filterNot(k => k == 1L || k == 11L),
        "both deletes applied exactly once")

      // OVERLAPPING inputs racing: at most one of each colliding pair
      // commits; the final table reflects exactly the committed ops
      val gate2 = new java.util.concurrent.CountDownLatch(1)
      def race2(k: Long): java.util.concurrent.Future[Option[Long]] =
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = {
            gate2.await()
            // both target partition p=0's file: same candidate set
            TableVersions.deleteWhere(spark, root, col("k") === k,
              bounds = Map("k" -> (0.0, 9.0)))
          }
        })
      val f1 = race2(2L)
      val f2 = race2(3L)
      gate2.countDown()
      val (r1, r2) = (f1.get(), f2.get())
      val after = TableVersions.read(spark, root).select("k").as[Long].collect().toSet
      assert(r1.isDefined || r2.isDefined, "at least one racer must commit")
      assert(after.contains(2L) === r1.isEmpty, "k=2 gone iff its delete committed")
      assert(after.contains(3L) === r2.isEmpty, "k=3 gone iff its delete committed")
      // nothing else was touched, nothing resurrected
      assert((after + 2L + 3L) === (0L until 20L).filterNot(k => k == 1L || k == 11L).toSet)
      // every claimed version is whole and readable
      val top = TableVersions.currentVersion(spark, root).get
      (0L to top).foreach(v => TableVersions.read(spark, root, Some(v)).count())
      pool.shutdown()
    }
  }

  test("pushed partition-scoped maintenance: compact and zorder plan inside the ckpt read") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = buildBigTable()
      // several small real files in p=99 so a scoped compact has work
      (0 until 3).foreach { b =>
        TableVersions.append(spark, root,
          (0 until 5).map(i => (5100000L + b * 10 + i, s"c$b-$i", 99)).toDF("k", "s", "p")
            .coalesce(1), Seq("p"))
      }
      val r0 = TableVersions.ckptResolves.get()
      val vC = TableVersions.compact(spark, root, targetBytes = 1L << 26,
        partition = Map("p" -> "99"))
      assert(vC.isDefined, "scoped compact must find mergeable files")
      assert(TableVersions.ckptResolves.get() === r0,
        "a pushed scoped compact must never materialize the checkpoint dataset")
      assert(realRows(root).size === 25, "rows intact after compact")

      val r1 = TableVersions.ckptResolves.get()
      val vZ = TableVersions.optimizeZOrder(spark, root, Seq("k"), numFiles = 2,
        partition = Map("p" -> "99"))
      assert(vZ.isDefined)
      assert(TableVersions.ckptResolves.get() === r1,
        "a pushed scoped zorder must never materialize the checkpoint dataset")
      assert(realRows(root).size === 25, "rows intact after zorder")
      assert(TableVersions.commitState(spark, root, None)
        .files.count(_.path.contains("/f")) === N, "fakes untouched throughout")
    }
  }

  test("chain invariant: a bid never skips a READABLE claim, only torn ones") {
    val root = newRoot()
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "s")) // v0
    val v1 = TableVersions.append(spark, root, Seq((2L, "b")).toDF("k", "s"))
    assert(v1 === 1L)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def plant(v: Long, bytes: Array[Byte]): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(root, s"_versions/v$v.commit"), false)
      try out.write(bytes) finally out.close()
    }
    // a TORN claim at v2 (no #END sentinel): bids skip it, like
    // reconstruction does
    plant(2L, "#FORMAT 2\n#BASE 1\ngarbage".getBytes("UTF-8"))
    assert(TableVersions.nextVersion(spark, root, Some(1L)) === 3L,
      "a torn claim is skipped")
    // a READABLE claim at v3 (what a concurrent writer just landed):
    // a bidder whose base is still v1 must BID v3 — the claim fails on
    // the existing name and the retry re-resolves — never v4, which
    // would shadow v3's rows forever (the lost-commit hole the
    // directory-LIST bid had)
    plant(3L, "#FORMAT 2\n#BASE 1\n#END 0\n".getBytes("UTF-8"))
    assert(TableVersions.nextVersion(spark, root, Some(1L)) === 3L,
      "a readable claim above a stale base must be bid (and lost), not skipped")
    // and an append through the public surface lands ABOVE it, with
    // every row of every readable version intact
    val v4 = TableVersions.append(spark, root, Seq((3L, "c")).toDF("k", "s"))
    assert(v4 === 4L)
    assert(TableVersions.read(spark, root).count() === 3L)
  }
}
