package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TableVersions
import graft.operators.TableVersions.{ColStats, CommitState, FileEntry}

/** PARQUET CHECKPOINTS (format major 4): above a file-count threshold
  * the checkpoint's O(#files) listing is written as a parquet dataset
  * (`v<N>.ckptpq/`) beside a scalar-only text form — columnar,
  * distributed-decodable, the Delta parquet-checkpoint architecture —
  * and reconstruction through it must be STATE-IDENTICAL to the text
  * path (file order, stats, partition values, DV references included).
  * Losing the dataset must degrade to the commit-chain walk, never to
  * a wrong answer; a pre-parquet reader must refuse the major-4 text
  * rather than parse an empty table. Checkpoint AUTHORING: one
  * distributed author derives a big table's checkpoint from the log,
  * and one post-commit step retries a failed checkpoint at the next
  * commit.
  */
class ParquetCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("pqckpt").toString + "/tbl"

  private def hfs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ckptText(root: String, v: Long): String = {
    val p = new org.apache.hadoop.fs.Path(root, s"_versions/v$v.checkpoint")
    val in = hfs(root).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("parquet-checkpoint reconstruction state-equals the text path on a mixed log") {
    val root = newRoot()
    // build a mixed log under TEXT checkpoints (threshold never trips)
    withConf("graft.table.checkpointInterval" -> "3") {
      TableVersions.append(spark, root,
        (1L to 400L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4))   // v0
      TableVersions.setTableProperty(spark, root, TableVersions.ChangeFeedProp, "true") // v1
      TableVersions.deleteWhere(spark, root, col("k").isin(7L, 111L),
        maxDvFraction = 0.2)                                                // v2 (DV)
      TableVersions.upsert(spark, root,
        Seq((5L, "V5"), (900L, "v900")).toDF("k", "v"), "k")                // v3 (+ckpt)
      TableVersions.renameColumn(spark, root, "v", "label")                 // v4
      TableVersions.appendTxn(spark, root,
        Seq((901L, "x901")).toDF("k", "label").coalesce(1), "s", 9L)        // v5
    }
    val latest = TableVersions.currentVersion(spark, root).get
    assert(latest === 5L)
    val want = (0L to latest).map(v => v -> TableVersions.commitState(spark, root, Some(v))).toMap
    assert(want(2L).dvs.nonEmpty, "precondition: the log must carry DVs at the delete step")

    // rewrite EVERY version's checkpoint in the parquet-backed form
    val f = hfs(root)
    withConf("graft.table.parquetCheckpointThreshold" -> "1") {
      (0L to latest).foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(root, s"_versions/v$v.checkpoint"), false)
        TableVersions.writeCheckpoint(spark, root, v, want(v))
        val t = ckptText(root, v)
        assert(t.startsWith("#FORMAT 4\n") && t.contains("#FILESPQ "),
          s"v$v checkpoint must be parquet-backed:\n$t")
        assert(f.exists(new org.apache.hadoop.fs.Path(root, s"_versions/v$v.ckptpq/_SUCCESS")))
      }
      TableVersions.clearStateCache()
      (0L to latest).foreach { v =>
        assert(TableVersions.commitState(spark, root, Some(v)) === want(v),
          s"v$v reconstructed through the parquet checkpoint must equal the text-path state")
      }
      // reads (including the DV anti-join) serve identically
      assert(TableVersions.read(spark, root).count() === 400)
      assert(TableVersions.read(spark, root).select("k").as[Long].collect().toSet
        .intersect(Set(7L, 111L)) === Set.empty)

      // losing the dataset degrades to the commit-chain walk, never a wrong answer
      f.delete(new org.apache.hadoop.fs.Path(root, s"_versions/v$latest.ckptpq"), true)
      TableVersions.clearStateCache()
      assert(TableVersions.commitState(spark, root, Some(latest)) === want(latest),
        "missing parquet dataset must fall back to the chain walk")

      // vacuum sweeps ckptpq dirs below the horizon together with their text twins
      TableVersions.vacuum(spark, root, keepVersions = 2, graceMs = 0L)
      (0L until latest - 1).foreach { v =>
        assert(!f.exists(new org.apache.hadoop.fs.Path(root, s"_versions/v$v.ckptpq")),
          s"v$v.ckptpq must be swept below the retention horizon")
      }
      assert(TableVersions.read(spark, root).count() === 400, "retained version still reads")
    }
  }

  test("10k-file round trip: order, stats, DVs exact; file-index pruning parity") {
    val root = newRoot()
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "v").coalesce(1)) // claims v0
    // synthetic 10k-entry state: stats make files provably disjoint on k
    val n = 10000
    val entries = (0 until n).map { i =>
      FileEntry(s"$root/data/f$i.parquet", 1000L + i, 100L,
        if (i % 3 == 0) Map("dt" -> s"2026-01-${(i % 28) + 1}") else Map.empty,
        Map("k" -> ColStats(Some(i * 100.0), Some(i * 100.0 + 99.0), None, None, if (i % 5 == 0) 3L else 0L),
          "name" -> ColStats(None, None, Some(s"a$i"), Some(s"z$i"), 0L)))
    }
    val dvs = (0 until n by 997).map(i =>
      s"$root/data/f$i.parquet" -> (s"$root/data/dv-x/s$i.parquet", (i % 7 + 1).toLong)).toMap
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val synthetic = CommitState(entries, Some(schema.json), Seq.empty,
      Map("app" -> 42L), Map("k_pos" -> "k >= 0"), dvs, Set.empty, Map("p" -> "1"))

    val f = hfs(root)
    withConf("graft.table.parquetCheckpointThreshold" -> "1") {
      f.delete(new org.apache.hadoop.fs.Path(root, "_versions/v0.checkpoint"), false)
      TableVersions.writeCheckpoint(spark, root, 0L, synthetic)
    }
    assert(ckptText(root, 0L).startsWith("#FORMAT 4\n"))
    TableVersions.clearStateCache()
    val got = TableVersions.commitState(spark, root, Some(0L))
    assert(got.files === synthetic.files, "10k entries: order + stats + partitions exact")
    assert(got.dvs === synthetic.dvs && got === synthetic)

    // pruning parity: the reconstructed state drives GraftFileIndex to the
    // exact same file-skipping decisions as the in-memory original
    val idxA = new graft.sources.GraftFileIndex(spark, root, synthetic, schema)
    val idxB = new graft.sources.GraftFileIndex(spark, root, got, schema)
    val pred = spark.sessionState.sqlParser.parseExpression(
      "k >= 500000 AND k < 510000")
    def kept(ix: graft.sources.GraftFileIndex) =
      ix.listFiles(Nil, Seq(pred)).flatMap(_.files).map(_.getPath.toString).toSet
    val (a, b) = (kept(idxA), kept(idxB))
    assert(a === b, "pruning decisions must be identical through the parquet round trip")
    assert(a.size < n / 50, s"the predicate must actually prune (kept ${a.size} of $n)")
    val nullPred = spark.sessionState.sqlParser.parseExpression("k IS NULL")
    def keptN(ix: graft.sources.GraftFileIndex) =
      ix.listFiles(Nil, Seq(nullPred)).flatMap(_.files).map(_.getPath.toString).toSet
    assert(keptN(idxA) === keptN(idxB), "null-count pruning parity")
  }

  test("a pre-parquet reader refuses a major-4 checkpoint loudly (text parse)") {
    // the guard lives in parseCommitText: majors above the reader's are
    // refused — simulate by writing a FUTURE major and reading
    val root = newRoot()
    TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val f = hfs(root)
    val p = new org.apache.hadoop.fs.Path(root, "_versions/v0.checkpoint")
    val out = f.create(p, true)
    try out.write("#FORMAT 99\n#END 0\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    TableVersions.clearStateCache()
    val e = intercept[IllegalStateException] {
      TableVersions.commitState(spark, root, Some(0L))
    }
    assert(e.getMessage.contains("format major 99"))
  }

  // ------------------------------------------------------------------
  // THE DISTRIBUTED AUTHOR: a due checkpoint at or above the parquet
  // threshold derives from the log — the nearest base (a parquet
  // checkpoint, an inline text checkpoint or the bottom full commit)
  // plus the delta tail — as one Spark job, zero O(#files) driver
  // materializations, reconstructing BIT-IDENTICAL to the driver render.
  // ------------------------------------------------------------------

  private val ckSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType),
    StructField("p", IntegerType)))

  private def synthetic(root: String, i: Int): FileEntry =
    FileEntry(s"$root/data/f$i.parquet", 4096L, 100L,
      Map("p" -> (i % 50).toString),
      Map(
        "k" -> ColStats(Some(i * 10.0), Some(i * 10.0 + 9), None, None, 0L),
        "s" -> ColStats(None, None, Some(f"a$i%06d"), Some(f"b$i%06d"), 0L),
        "p" -> ColStats(Some((i % 50).toDouble), Some((i % 50).toDouble), None, None, 0L)))

  /** Fake metadata entries far below the real rows' key range —
    * checkpoint authoring must carry them BY REFERENCE, never
    * materialize them on the driver (PushedWritePlanSpec's shape).
    */
  private def syntheticEntries(root: String, n: Int): Seq[FileEntry] =
    (0 until n).map(synthetic(root, _))

  private def commitText(root: String, v: Long): String = {
    val in = hfs(root).open(new Path(root, s"_versions/v$v.commit"))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  test("checkpoint at 200k entries authors DISTRIBUTED+INCREMENTAL: zero driver listings, " +
      "bit-identical to the driver render") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "1000",
      "graft.table.checkpointInterval" -> "5") {
      val root = newRoot()
      val n = 200000
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
      val big = CommitState(syntheticEntries(root, n), Some(ckSchema.json), Seq("p"), Map.empty)
      TableVersions.writeCheckpoint(spark, root, 0L, big) // driver-rendered v0 anchor
      TableVersions.clearStateCache()

      val resolves0 = TableVersions.ckptResolves.get()
      val inc0 = TableVersions.ckptDistributed.get()
      // five pushed appends: v5 is checkpoint-due (interval 5)
      (1 to 5).foreach { i =>
        TableVersions.append(spark, root,
          (0 until 4).map(j => (5000000L + i * 10 + j, s"r$i$j", 99)).toDF("k", "s", "p"),
          Seq("p"))
      }
      assert(TableVersions.ckptDistributed.get() === inc0 + 1,
        "the v5 checkpoint must author through the incremental distributed path")
      assert(TableVersions.ckptResolves.get() === resolves0,
        "checkpoint authoring must materialize ZERO driver listings at 200k entries")
      val f = hfs(root)
      assert(f.exists(new Path(root, "_versions/v5.checkpoint")))
      assert(f.exists(new Path(root, "_versions/v5.ckptpq/_SUCCESS")))

      // BIT-IDENTICAL reconstruction: state through the incremental
      // checkpoint vs through a DRIVER-RENDERED twin of the same version
      val viaIncremental = TableVersions.commitState(spark, root, Some(5L))
      assert(viaIncremental.files.size === n + 5,
        "200k carried entries + 5 appended files (one per single-partition batch)")
      f.delete(new Path(root, "_versions/v5.checkpoint"), false)
      f.delete(new Path(root, "_versions/v5.ckptpq"), true)
      TableVersions.clearStateCache()
      val viaFold = TableVersions.commitState(spark, root, Some(5L)) // v0 ckpt + delta walk
      TableVersions.writeCheckpoint(spark, root, 5L, viaFold) // the driver render
      TableVersions.clearStateCache()
      val viaDriver = TableVersions.commitState(spark, root, Some(5L))
      assert(viaIncremental === viaDriver,
        "incremental and driver-rendered checkpoints must reconstruct the SAME state")
      assert(viaIncremental === viaFold)
    }
  }

  test("incremental checkpoint folds tail REMOVES and DV updates, not just appends") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "200",
      "graft.table.pushedPruneThreshold" -> "200",
      "graft.table.checkpointInterval" -> "4") {
      val root = newRoot()
      // REAL files this time (small): appends, then a delete that lands
      // a DV or a rewrite inside the tail, then the due checkpoint
      TableVersions.createEmpty(spark, root, StructType(Seq(
        StructField("k", LongType), StructField("s", StringType))), Seq.empty)
      val n = 300
      val entries = syntheticEntries(root, n).map(fe => fe.copy(part = Map.empty,
        stats = fe.stats - "p"))
      TableVersions.writeCheckpoint(spark, root, 0L,
        CommitState(entries, Some(StructType(Seq(
          StructField("k", LongType), StructField("s", StringType))).json), Seq.empty, Map.empty))
      TableVersions.clearStateCache()
      TableVersions.append(spark, root, Seq((9000001L, "x")).toDF("k", "s")) // v1
      TableVersions.append(spark, root, Seq((9000002L, "y")).toDF("k", "s")) // v2
      // v3: delete one appended row — the tail now carries a remove (+add
      // or DV) for a REAL file
      TableVersions.deleteWhere(spark, root, col("k") === 9000001L,
        bounds = Map("k" -> (9000001.0, 9000001.0)))
      val inc0 = TableVersions.ckptDistributed.get()
      TableVersions.append(spark, root, Seq((9000003L, "z")).toDF("k", "s")) // v4: due
      assert(TableVersions.ckptDistributed.get() === inc0 + 1,
        "the v4 checkpoint must author incrementally")
      TableVersions.clearStateCache()
      val ks = TableVersions.read(spark, root)
        .where(col("k") >= 9000000L).select("k").collect().map(_.getLong(0)).sorted
      assert(ks === Array(9000002L, 9000003L),
        "the checkpointed state must reflect the delete (remove/DV folded)")
    }
  }

  test("FIRST checkpoint at 200k entries authors DISTRIBUTED from the delta chain: " +
      "zero driver listings, removes/DVs folded, bit-identical to the driver render") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "1000",
      "graft.table.checkpointInterval" -> "4") {
      val root = newRoot()
      val n = 200000
      TableVersions.createEmpty(spark, root, ckSchema, Seq("p")) // v0
      // v1: the BULK LOAD — one full commit whose 200k adds live in
      // commit text; NO checkpoint exists anywhere yet
      val big = CommitState(syntheticEntries(root, n), Some(ckSchema.json), Seq("p"), Map.empty)
      assert(TableVersions.tryCommit(spark, root, 1L, big, op = "BULKLOAD"))
      TableVersions.clearStateCache()
      // v2: a real append; v3: delete its row (a remove or DV lands in
      // the tail, exercising the survivor rule)
      TableVersions.append(spark, root,
        Seq((9000001L, "x", 99)).toDF("k", "s", "p"), Seq("p"))
      TableVersions.deleteWhere(spark, root, col("k") === 9000001L,
        bounds = Map("k" -> (9000001.0, 9000001.0)))
      val first0 = TableVersions.ckptDistributed.get()
      val resolves0 = TableVersions.ckptResolves.get()
      TableVersions.append(spark, root,
        Seq((9000002L, "y", 99)).toDF("k", "s", "p"), Seq("p")) // v4: due (4 % 4 == 0)
      assert(TableVersions.ckptDistributed.get() === first0 + 1,
        "the v4 checkpoint must author through the FIRST-distributed path")
      assert(TableVersions.ckptResolves.get() === resolves0,
        "first-checkpoint authoring must materialize ZERO driver listings at 200k entries")
      val f = hfs(root)
      assert(f.exists(new Path(root, "_versions/v4.checkpoint")))
      assert(f.exists(new Path(root, "_versions/v4.ckptpq/_SUCCESS")))

      val viaFirst = TableVersions.commitState(spark, root, Some(4L))
      f.delete(new Path(root, "_versions/v4.checkpoint"), false)
      f.delete(new Path(root, "_versions/v4.ckptpq"), true)
      TableVersions.clearStateCache()
      val viaFold = TableVersions.commitState(spark, root, Some(4L)) // raw chain fold
      TableVersions.writeCheckpoint(spark, root, 4L, viaFold) // the driver render
      TableVersions.clearStateCache()
      val viaDriver = TableVersions.commitState(spark, root, Some(4L))
      assert(viaFirst === viaDriver,
        "first-distributed and driver-rendered checkpoints must reconstruct the SAME state")
      assert(viaFirst === viaFold)
      assert(viaFirst.files.size >= n, "the 200k carried entries survive the fold")
    }
  }


  /** Delta tails over a 300-entry base `s0` whose f7 and f11 carry
    * DVs: each shape is the states of the links above the base, in
    * commit order.
    */
  private val tailShapes = Seq("a path removed and re-added",
    "a DV on a base row whose file the tail then removes", "a tail DV set on a re-added path",
    "a DV-only tail", "a tail with no adds")

  private def tail(root: String, shape: String, s0: CommitState): Seq[CommitState] = {
    def f(i: Int) = synthetic(root, i)
    def drop(st: CommitState, is: Int*) = {
      val ps = is.map(f(_).path).toSet
      st.copy(files = st.files.filterNot(fe => ps(fe.path)), dvs = st.dvs -- ps)
    }
    def add(st: CommitState, fes: FileEntry*) = st.copy(files = st.files ++ fes)
    def setDv(st: CommitState, i: Int, tag: String, n: Long) =
      st.copy(dvs = st.dvs + (f(i).path -> (s"$root/data/dv-$tag/s$i.parquet", n)))
    val g = FileEntry(s"$root/data/g.parquet", 999L, 7L, Map("p" -> "3"), Map.empty)
    shape match {
      case "a path removed and re-added" =>
        val s1 = drop(s0, 5, 6)
        val s2 = add(s1, g).copy(txns = Map("app" -> 3L))
        Seq(s1, s2, add(s2, f(5)))
      case "a DV on a base row whose file the tail then removes" =>
        val s1 = drop(s0, 7)
        Seq(s1, add(s1, g))
      case "a tail DV set on a re-added path" =>
        val s1 = drop(s0, 5)
        val s2 = setDv(add(s1, f(5)), 5, "t", 2L)
        Seq(s1, s2, setDv(s2, 5, "u", 3L))
      case "a DV-only tail" =>
        val s1 = setDv(s0, 9, "t", 1L)
        Seq(s1, setDv(s1, 7, "u", 4L))
      case "a tail with no adds" =>
        val s1 = drop(s0, 1)
        Seq(s1, drop(s1, 2, 7))
    }
  }

  /** For every tail shape over a `base` of the given kind, the
    * distributed author's checkpoint reconstructs the tail's last state
    * exactly — equal to the raw chain fold and to the driver render,
    * file order included — with the author's counter +1 and zero
    * checkpoint materializations.
    */
  private def authorMatchesFoldAndRender(base: String): Unit =
    tailShapes.foreach { shape =>
      val root = newRoot()
      val s0 = CommitState(syntheticEntries(root, 300), Some(ckSchema.json), Seq("p"), Map.empty,
        dvs = Map(synthetic(root, 7).path -> (s"$root/data/dv-b/s7.parquet", 3L),
          synthetic(root, 11).path -> (s"$root/data/dv-b/s11.parquet", 1L)))
      val states = tail(root, shape, s0)
      val v = states.size.toLong
      withConf(
        "graft.table.checkpointInterval" -> "1000", // no checkpoint lands while the log builds
        "graft.table.parquetCheckpointThreshold" -> (if (base == "parquet") "1" else "1000000")) {
        if (base == "full commit") assert(TableVersions.tryCommit(spark, root, 0L, s0, op = "BULKLOAD"))
        else {
          // the v0 commit lists nothing: only the checkpoint can serve the base's entries
          TableVersions.createEmpty(spark, root, ckSchema, Seq("p"))
          assert(TableVersions.writeCheckpoint(spark, root, 0L, s0))
          assert(ckptText(root, 0L).startsWith("#FORMAT 4\n") === (base == "parquet"),
            s"$shape: the v0 checkpoint must be a $base checkpoint")
        }
        (s0 +: states).sliding(2).zipWithIndex.foreach { case (Seq(prev, next), i) =>
          assert(TableVersions.tryCommit(spark, root, i + 1L, next, Some(i.toLong -> prev)))
          assert(commitText(root, i + 1L).contains("\n#BASE "), s"$shape: v${i + 1} must be a delta")
        }
      }
      withConf("graft.table.parquetCheckpointThreshold" -> "100") {
        TableVersions.clearStateCache()
        val authored0 = TableVersions.ckptDistributed.get()
        val resolves0 = TableVersions.ckptResolves.get()
        assert(TableVersions.writeCheckpointFromLog(spark, root, v) === Some(true), shape)
        assert(TableVersions.ckptDistributed.get() === authored0 + 1, shape)
        assert(TableVersions.ckptResolves.get() === resolves0,
          s"$shape: the author must materialize no checkpoint on the driver")
        assert(ckptText(root, v).startsWith("#FORMAT 4\n"), shape)
        val viaAuthor = TableVersions.commitState(spark, root, Some(v))
        val f = hfs(root)
        f.delete(new Path(root, s"_versions/v$v.checkpoint"), false)
        f.delete(new Path(root, s"_versions/v$v.ckptpq"), true)
        TableVersions.clearStateCache()
        val viaFold = TableVersions.commitState(spark, root, Some(v))
        assert(TableVersions.writeCheckpoint(spark, root, v, viaFold))
        TableVersions.clearStateCache()
        val viaDriver = TableVersions.commitState(spark, root, Some(v))
        assert(viaFold === states.last, s"$shape: the chain fold must reproduce the committed state")
        assert(viaAuthor === viaFold, s"$shape over a $base: author vs chain fold")
        assert(viaAuthor === viaDriver, s"$shape over a $base: author vs driver render")
      }
    }

  test("the author over a PARQUET checkpoint base matches the chain fold and the driver render") {
    authorMatchesFoldAndRender("parquet")
  }

  test("the author over an inline TEXT checkpoint base matches the chain fold and the driver render") {
    authorMatchesFoldAndRender("text")
  }

  test("the author over the bottom FULL COMMIT matches the chain fold and the driver render") {
    authorMatchesFoldAndRender("full commit")
  }

  test("a table with text checkpoints that grows past the threshold authors from the log") {
    withConf(
      "graft.table.parquetCheckpointThreshold" -> "200",
      "graft.table.checkpointInterval" -> "4") {
      val root = newRoot()
      def appendRow(k: Long): Unit = {
        TableVersions.append(spark, root, Seq((k, s"r$k", 99)).toDF("k", "s", "p"), Seq("p")); ()
      }
      val s0 = CommitState(syntheticEntries(root, 150), Some(ckSchema.json), Seq("p"), Map.empty)
      assert(TableVersions.tryCommit(spark, root, 0L, s0, op = "BULKLOAD"))
      (1L to 4L).foreach(i => appendRow(9000000L + i)) // v4: due, 154 entries
      assert(!ckptText(root, 4L).startsWith("#FORMAT 4\n"),
        "precondition: below the threshold v4 checkpoints as inline text")
      // v5: a bulk load takes the table past the threshold
      val st4 = TableVersions.commitState(spark, root, Some(4L))
      val grown = st4.copy(files = st4.files ++ syntheticEntries(root, 250).drop(150))
      assert(TableVersions.tryCommit(spark, root, 5L, grown, Some(4L -> st4), op = "BULKLOAD"))
      appendRow(9000006L)
      appendRow(9000007L)
      TableVersions.clearStateCache()
      val authored0 = TableVersions.ckptDistributed.get()
      val resolves0 = TableVersions.ckptResolves.get()
      appendRow(9000008L) // v8: due
      assert(TableVersions.ckptDistributed.get() === authored0 + 1,
        "the v8 checkpoint must author from the log over the v4 text checkpoint")
      assert(TableVersions.ckptResolves.get() === resolves0)
      assert(ckptText(root, 8L).startsWith("#FORMAT 4\n"))

      val viaAuthor = TableVersions.commitState(spark, root, Some(8L))
      val f = hfs(root)
      f.delete(new Path(root, "_versions/v8.checkpoint"), false)
      f.delete(new Path(root, "_versions/v8.ckptpq"), true)
      TableVersions.clearStateCache()
      val viaFold = TableVersions.commitState(spark, root, Some(8L))
      assert(TableVersions.writeCheckpoint(spark, root, 8L, viaFold))
      TableVersions.clearStateCache()
      val viaDriver = TableVersions.commitState(spark, root, Some(8L))
      assert(viaAuthor === viaFold && viaAuthor === viaDriver)
      assert(viaAuthor.files.size === 257)
      val ks = TableVersions.read(spark, root)
        .where(col("k") >= 9000000L).select("k").as[Long].collect().sorted
      assert(ks === Array(9000001L, 9000002L, 9000003L, 9000004L, 9000006L, 9000007L, 9000008L))
    }
  }

  // ------------------------------------------------------------------
  // A FAILED due checkpoint is retried at the table's next commit,
  // through either commit primitive
  // ------------------------------------------------------------------

  test("a failed due checkpoint is retried at the next commit, through each commit primitive") {
    spark.sparkContext.hadoopConfiguration
      .setIfUnset("fs.ckptfault.impl", classOf[CkptFaultFileSystem].getName)
    withConf(
      "graft.table.logstore.ckptfault" -> "rename",
      "graft.table.checkpointInterval" -> "2") {
      val root = "ckptfault://" + Files.createTempDirectory("pqckpt").toString + "/tbl"
      val f = hfs(root)
      def ckpt(v: Long) = f.exists(new Path(root, s"_versions/v$v.checkpoint"))
      // appends commit O(delta) (the log-driven step)
      TableVersions.append(spark, root, Seq((1L, "a")).toDF("k", "v")) // v0
      TableVersions.append(spark, root, Seq((2L, "b")).toDF("k", "v")) // v1
      val skips0 = TableVersions.ckptSkips.get()
      CkptFaultFileSystem.failNext()
      TableVersions.append(spark, root, Seq((3L, "c")).toDF("k", "v")) // v2: due, fails
      assert(!ckpt(2L) && TableVersions.ckptSkips.get() === skips0 + 1,
        "the failed v2 checkpoint must count as skipped")
      TableVersions.append(spark, root, Seq((4L, "d")).toDF("k", "v")) // v3: retried
      assert(ckpt(3L), "the append after a failed checkpoint must write one")
      // property changes commit their full state in hand
      CkptFaultFileSystem.failNext()
      TableVersions.setTableProperty(spark, root, "p1", "x") // v4: due, fails
      assert(!ckpt(4L) && TableVersions.ckptSkips.get() === skips0 + 2)
      TableVersions.setTableProperty(spark, root, "p2", "y") // v5: retried
      assert(ckpt(5L), "the commit after a failed checkpoint must write one")
      TableVersions.append(spark, root, Seq((5L, "e")).toDF("k", "v")) // v6: due, as usual
      assert(ckpt(6L) && !ckpt(7L) && TableVersions.ckptSkips.get() === skips0 + 2)
      TableVersions.clearStateCache()
      assert(TableVersions.read(spark, root).count() === 5)
    }
  }
}

/** A local file system whose next `.tmp-ckpt-` create (the checkpoint
  * text's temp) throws once when armed — a transient store fault.
  */
class CkptFaultFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def getUri: java.net.URI = java.net.URI.create("ckptfault:///")
  // RawLocal's lazy permission loading does new File(uri) and chokes on
  // the ckptfault: scheme — return statuses with permissions pre-filled
  private def eager(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, FsPermission.getDirDefault, "u", "g", s.getPath)
  override def getFileStatus(p: Path): FileStatus = eager(super.getFileStatus(p))
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(eager)
  private def fault(p: Path): Unit =
    if (p.getName.startsWith(".tmp-ckpt-") && CkptFaultFileSystem.armed.getAndSet(false))
      throw new java.io.IOException(s"injected checkpoint fault at $p")
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    fault(p); super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    fault(p); super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CkptFaultFileSystem {
  private[graft] val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def failNext(): Unit = armed.set(true)
}
