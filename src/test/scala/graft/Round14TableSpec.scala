package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry}

/** Round-14 table-format work: IN-COMMIT TIMESTAMPS (`#TS`) — commit
  * instants stamped inside the commit file, clamped monotone against
  * the parent, so `timestampAsOf` no longer depends on filesystem
  * clocks (copied table directories, cross-writer clock skew) — plus
  * the legacy-mtime monotonized fallback.
  */
class Round14TableSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("tv14").toString + "/tbl"

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitText(root: String, v: Long): String = {
    val f = hfs(root)
    val in = f.open(new Path(root, s"_versions/v$v.commit"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def ictOf(root: String, v: Long): Long =
    commitText(root, v).split("\n").find(_.startsWith("#TS "))
      .map(_.stripPrefix("#TS ").trim.toLong)
      .getOrElse(fail(s"v$v carries no #TS line"))

  test("every commit carries a #TS instant right after #FORMAT, strictly increasing") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 5L).toDF("k"))
    TableVersions.append(spark, root, (6L to 9L).toDF("k"))
    TableVersions.deleteWhere(spark, root, col("k") === 7L)
    val lines0 = commitText(root, 0L).split("\n")
    assert(lines0.head.startsWith("#FORMAT "), "first line stays #FORMAT")
    assert(lines0(1).startsWith("#TS "), "#TS is head-readable (line 2)")
    val ts = (0L to 2L).map(ictOf(root, _))
    assert(ts === ts.sorted && ts.distinct.size === 3,
      s"in-commit instants must be strictly increasing, got $ts")
    val now = System.currentTimeMillis()
    assert(ts.forall(t => math.abs(t - now) < 5 * 60 * 1000L),
      "instants are wall-clock-anchored")
  }

  test("timestampAsOf resolves by #TS, immune to scrambled file mtimes (skew/copied dirs)") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 10L).toDF("k"))
    TableVersions.append(spark, root, (11L to 20L).toDF("k"))
    TableVersions.append(spark, root, (21L to 30L).toDF("k"))
    val f = hfs(root)
    // scramble mtimes hard: v0 in the future, v1 in the past, v2 older
    // than v1 — the shapes a copied/restored directory or cross-writer
    // clock skew produces
    f.setTimes(new Path(root, "_versions/v0.commit"), System.currentTimeMillis() + 9e9.toLong, -1)
    f.setTimes(new Path(root, "_versions/v1.commit"), 1000L, -1)
    f.setTimes(new Path(root, "_versions/v2.commit"), 500L, -1)
    val (t0, t1, t2) = (ictOf(root, 0L), ictOf(root, 1L), ictOf(root, 2L))
    assert(TableVersions.versionAsOf(spark, root, t0) === Some(0L))
    assert(TableVersions.versionAsOf(spark, root, t1) === Some(1L))
    assert(TableVersions.versionAsOf(spark, root, t1 + (t2 - t1) / 2).exists(_ >= 1L))
    assert(TableVersions.versionAsOf(spark, root, t2) === Some(2L))
    assert(TableVersions.versionAsOf(spark, root, t0 - 1) === None,
      "before the first commit instant: no version")
    assert(TableVersions.readAsOf(spark, root, t1).count() === 20L)
  }

  test("legacy commits without #TS degrade to a MONOTONIZED mtime scan, never silently wrong") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 10L).toDF("k"))
    TableVersions.append(spark, root, (11L to 20L).toDF("k"))
    TableVersions.append(spark, root, (21L to 30L).toDF("k"))
    val f = hfs(root)
    // strip the #TS lines: these are now legacy-era commits
    (0L to 2L).foreach { v =>
      val p = new Path(root, s"_versions/v$v.commit")
      val txt = commitText(root, v).split("\n").filterNot(_.startsWith("#TS "))
        .mkString("", "\n", "\n")
      val out = f.create(p, true)
      try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    TableVersions.clearStateCache()
    // mtime INVERSION: v1 claims a LATER clock than v2 (skewed writer)
    f.setTimes(new Path(root, "_versions/v0.commit"), 100000L, -1)
    f.setTimes(new Path(root, "_versions/v1.commit"), 300000L, -1)
    f.setTimes(new Path(root, "_versions/v2.commit"), 200000L, -1)
    // at 250000: v1's running-max (300000) is already past the target, so
    // the newest version CERTAINLY at-or-before is v0 — a raw binary
    // search over the unordered mtimes could wrongly answer v2
    assert(TableVersions.versionAsOf(spark, root, 250000L) === Some(0L))
    assert(TableVersions.versionAsOf(spark, root, 300000L) === Some(2L),
      "running max folds the inverted v2 mtime up to v1's instant")
    assert(TableVersions.versionAsOf(spark, root, 99999L) === None)
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val ckSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("p", IntegerType)))

  /** 200k fake metadata entries far below the real rows' key range —
    * planning must carry them BY REFERENCE, never materialize them on
    * the driver (PushedWritePlanSpec's shape).
    */
  private def syntheticEntries(root: String, n: Int): Seq[FileEntry] =
    (0 until n).map { i =>
      FileEntry(s"$root/data/f$i.parquet", 4096L, 100L,
        Map("p" -> (i % 50).toString),
        Map(
          "k" -> ColStats(Some(i * 10.0), Some(i * 10.0 + 9), None, None, 0L),
          "s" -> ColStats(None, None, Some(f"a$i%06d"), Some(f"b$i%06d"), 0L),
          "p" -> ColStats(Some((i % 50).toDouble), Some((i % 50).toDouble), None, None, 0L)))
    }

  test("wide SQL DML planning: 50k touched files plan via SEMI-JOIN (no oversized In), " +
      "identical to the In form and the materialized restriction") {
    withConf("graft.table.parquetCheckpointThreshold" -> "1000") {
      val root = newRoot()
      val n = 200000
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(syntheticEntries(root, n), Some(ckSchema.json), Seq("p"), Map.empty))
      TableVersions.clearStateCache()
      val l = TableVersions.pushedListing(spark, root, None)
        .getOrElse(fail("precondition: pushed listing"))
      // 50k touched files in the checkpoint's stored (root-relative) key form
      val touched = (0 until 50000).map(i => s"data/f${i * 3}.parquet").toSet

      val sj0 = TableVersions.candSemiJoins.get()
      val viaSemi = TableVersions.pushedCandStateByPath(spark, l, touched)
      assert(TableVersions.candSemiJoins.get() === sj0 + 1,
        "50k touched files must plan through the semi-join form, not a 50k-literal In")
      val viaIn = withConf("graft.table.dmlInPredicateMax" -> "1000000") {
        TableVersions.pushedCandStateByPath(spark, l, touched)
      }
      assert(TableVersions.candSemiJoins.get() === sj0 + 1,
        "below the ceiling the In form must still be chosen")

      def keyed(st: CommitState) = st.files.sortBy(_.path)
      assert(viaSemi.files.size === 50000)
      assert(keyed(viaSemi) === keyed(viaIn),
        "semi-join and In planning must select the same entries")
      assert(viaSemi.dvs === viaIn.dvs)
      // and both match the MATERIALIZED planner's restriction
      val full = TableVersions.commitState(spark, root)
      val mat = full.files.filter(fe =>
        touched(fe.path.stripPrefix(root + "/"))).sortBy(_.path)
      assert(keyed(viaSemi) === mat)
    }
  }

  /** Rewrite a commit's `#TS` line — simulates a commit that landed
    * `ago` ms in the past (the instants stay monotone as long as the
    * caller back-dates oldest-first).
    */
  private def backdateTs(root: String, v: Long, toMillis: Long): Unit = {
    val f = hfs(root)
    val p = new Path(root, s"_versions/v$v.commit")
    val txt = commitText(root, v).split("\n").map { l =>
      if (l.startsWith("#TS ")) s"#TS $toMillis" else l
    }.mkString("", "\n", "\n")
    val out = f.create(p, true)
    try out.write(txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  test("vacuum retainHours: a consumer lagging < retainHours survives any commit burst") {
    val root = newRoot()
    (0 to 5).foreach { i =>
      TableVersions.append(spark, root, Seq((i.toLong, s"v$i")).toDF("k", "s"))
    }
    val now = System.currentTimeMillis()
    // v0..v2 landed 3 h ago, v3 1 h ago, v4/v5 just now (a burst)
    backdateTs(root, 0L, now - 3 * 3600 * 1000L)
    backdateTs(root, 1L, now - 3 * 3600 * 1000L + 1)
    backdateTs(root, 2L, now - 3 * 3600 * 1000L + 2)
    backdateTs(root, 3L, now - 1 * 3600 * 1000L)
    TableVersions.clearStateCache()

    // keepVersions=1 ALONE would evict v0..v4 — the recent burst eats
    // the whole count-based window. retainHours=2 keeps every version
    // committed in the last 2 h PLUS the boundary version current at
    // the cutoff (v2), whatever the burst size.
    TableVersions.vacuum(spark, root, keepVersions = 1, graceMs = 0L, retainHours = 2.0)
    val kept = TableVersions.history(spark, root).select("version")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(2L, 3L, 4L, 5L),
      "time-based retention must keep v2 (boundary) through v5")

    // a consumer that last read 1 h ago sat at v3: its catch-up range
    // (3, 5] must serve without hitting the horizon guard
    val changes = TableVersions.readChanges(spark, root, fromExclusive = 3L, to = 5L)
    assert(changes.count() === 2L, "two appended rows since v3")
    // a consumer beyond the horizon still fails LOUDLY, not wrongly
    val e = intercept[Exception] {
      TableVersions.readChanges(spark, root, fromExclusive = 0L, to = 5L).count()
    }
    assert(e.getMessage.toLowerCase.contains("reten") || e.getMessage.contains("horizon") ||
      e.getMessage.contains("vacuum"),
      s"horizon violation must name retention, got: ${e.getMessage}")
  }

  test("admin-claim release never leaves an orphan lock behind a racing heartbeat") {
    val root = newRoot()
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val lock = new Path(root, "_versions/_admin.lock")
    val f = hfs(root)
    // tiny TTL → heartbeat every ~1 s; claim+release in a tight loop
    // would previously race release's delete against an in-flight
    // renew()'s rename, resurrecting the lock as an orphan
    spark.conf.set("graft.table.adminLockTtlMs", "3000")
    try {
      (1 to 8).foreach { _ =>
        // vacuum claims + releases the admin role internally
        TableVersions.vacuum(spark, root, keepVersions = 5, graceMs = 0L)
        assert(!f.exists(lock), "release must leave no lock behind")
      }
      Thread.sleep(2500) // two heartbeat periods after the last release
      assert(!f.exists(lock),
        "no late heartbeat may resurrect a released lock (orphan would block admins for the TTL)")
      // and the role is immediately claimable again
      TableVersions.vacuum(spark, root, keepVersions = 5, graceMs = 0L)
      assert(!f.exists(lock))
    } finally spark.conf.unset("graft.table.adminLockTtlMs")
  }

  test("change feed carries _commit_timestamp from the in-commit instants") {
    val root = newRoot()
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "s"))
    TableVersions.append(spark, root, Seq((2L, "b")).toDF("k", "s"))
    TableVersions.deleteWhere(spark, root, col("k") === 1L)
    val ch = TableVersions.readChanges(spark, root, fromExclusive = 0L, to = 2L)
    assert(ch.columns.toSeq.takeRight(2) === Seq("_commit_version", "_commit_timestamp"),
      "CDF columns stay in order with the timestamp appended")
    val byV = ch.select("_commit_version", "_commit_timestamp").distinct()
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(byV.keySet === Set(1L, 2L))
    assert(byV(1L) === ictOf(root, 1L) && byV(2L) === ictOf(root, 2L),
      "_commit_timestamp must equal each step's #TS instant")
  }

  test("restoreAsOf rolls back to the version current at the instant (SQL surface too)") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 10L).toDF("k"))
    TableVersions.append(spark, root, (11L to 20L).toDF("k"))
    TableVersions.deleteWhere(spark, root, col("k") <= 15L)
    val t1 = ictOf(root, 1L)
    val v = TableVersions.restoreAsOf(spark, root, t1)
    assert(v === Some(3L), "restore commits forward")
    assert(TableVersions.read(spark, root).count() === 20L,
      "the table is back to the state current at v1's instant")
    intercept[IllegalArgumentException] {
      TableVersions.restoreAsOf(spark, root, ictOf(root, 0L) - 1)
    }
  }

  test("vacuumDryRun predicts exactly what vacuum deletes, and mutates nothing") {
    val root = newRoot()
    (0 to 4).foreach { i =>
      TableVersions.append(spark, root,
        Seq((i.toLong, s"v$i")).toDF("k", "s").coalesce(1))
    }
    // one rewrite so dropped history has file-level dead weight
    TableVersions.deleteWhere(spark, root, col("k") <= 1L) // v5

    val f = hfs(root)
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    def snapshot(): Set[String] = {
      def walk(p: Path): Seq[String] = {
        val it = f.listStatus(p).toSeq
        it.flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(norm(s.getPath.toString)))
      }
      walk(new Path(root)).toSet
    }
    val before = snapshot()
    val report = TableVersions.vacuumDryRun(spark, root, keepVersions = 2, graceMs = 0L)
      .collect().map(r => r.getString(0) -> norm(r.getString(1)))
    assert(snapshot() === before, "a dry run must not touch the table")
    assert(report.nonEmpty, "5 dropped versions must classify something dead")
    val predicted = report.map(_._2).toSet

    TableVersions.vacuum(spark, root, keepVersions = 2, graceMs = 0L)
    val after = snapshot()
    val actuallyDeleted = before -- after
    // exact-prediction contract, modulo artifacts vacuum WRITES while
    // running (horizon checkpoints, _last_checkpoint): everything the
    // dry run named is gone, and nothing else was deleted
    val crcless = (s: Set[String]) => s.filterNot(_.contains("/.")) // local-FS .crc shadows
    assert(crcless(predicted -- actuallyDeleted).isEmpty,
      s"dry run over-predicted: ${crcless(predicted -- actuallyDeleted)}")
    assert(crcless(actuallyDeleted -- predicted).isEmpty,
      s"dry run under-predicted: ${crcless(actuallyDeleted -- predicted)}")
    // the surviving table still reads whole
    assert(TableVersions.read(spark, root).count() === 3L)
  }

  test("noveltyScore: global first-writer attribution with the whole-text short-doc fallback") {
    val docs = Seq(
      (1L, "a b c d"), // "a b c","b c d" — first writer of both
      (2L, "a b c x"), // "a b c" owned by 1, "b c x" novel → 1/2
      (3L, "zz yy"), // <3 tokens: whole-text gram, novel → 1/1
      (4L, "a b c d") // every gram owned by doc 1 → 0/2
    ).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.noveltyScore(docs, "doc_id")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSeq === Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 1L, 1L, 1.0), (4L, 2L, 0L, 0.0)))
    // corpus invariant: every distinct gram is owned exactly once
    assert(r.map(_._3).sum === 4L, "ownership partitions the vocabulary")
  }

  test("history() exposes the commit instant as commit_ts") {
    val root = newRoot()
    TableVersions.append(spark, root, (1L to 3L).toDF("k"))
    TableVersions.append(spark, root, (4L to 6L).toDF("k"))
    val h = TableVersions.history(spark, root)
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(h(0L) === ictOf(root, 0L))
    assert(h(1L) === ictOf(root, 1L))
  }
}
