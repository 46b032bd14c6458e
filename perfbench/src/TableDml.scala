package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TableVersions
import graft.operators.TableVersions.{MergeDelete, MergeInsert, MergeUpdate}

/** `table_dml`: row-level writes beside snapshot reads on one versioned
  * table, seeded from the generated `orders` with the change feed on.
  *
  * A small warm-up table (the first tenth of the keys) takes the JVM's
  * first, cold call of each kind, unmeasured. The seed table is then loaded
  * as eight key-range appends of one file each (the bulk write: the median
  * append; versions 0 to 7) and the change-feed property (version 8). A fixed, even number of measured
  * rounds follows, sized from `--seconds`. A round is an upsert, a merge and
  * four range deletes, then a key lookup and an order-date range scan; every
  * second round ends with a compaction. A round makes at least six commits,
  * so two rounds take the table from version 9 past 20, across the
  * checkpoints of versions 10 and 20 (every tenth commit by default). Each
  * write kind alternates copy-on-write and merge-on-read
  * (`maxDvFraction` 0.2), merges starting on the other path, so over two
  * rounds every kind takes both. Each write touches one contiguous key
  * range, so it prunes to a file or two.
  *
  * An in-memory model applies the same sequence; outside the timed calls
  * every read is checked against it, and at the end the final snapshot must
  * equal the model and version 0 must still read as the first seed chunk.
  */
object TableDml {
  private val keyCol = "o_orderkey"
  private val loadChunks = 8
  private val batchRows = 400
  private val deleteRows = 300
  private val deletesPerRound = 4
  /** Nominal seconds of one measured round on 4 cores: `--seconds` buys
    * `--seconds / nominalRoundS` rounds, rounded to an even count.
    */
  private val nominalRoundS = 8.0

  /** Order-independent fingerprint of a frame: row count and the sum of
    * per-row hashes over every column.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Outcome = {
    // o_orderdate as a session-zone timestamp (the file stores it zone-less)
    val orders = spark.read.parquet(s"${a.data}/orders.parquet")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val schema = orders.schema
    val n = orders.count()
    def keys(lo: Long, hi: Long) = orders.filter(col(keyCol) >= lo && col(keyCol) < hi)
    def chunk(c: Int) = keys(n * c / loadChunks, n * (c + 1) / loadChunks)
    def load(at: String, parts: Seq[DataFrame]): Seq[Double] = {
      val walls = parts.map { df =>
        val t0 = System.nanoTime()
        TableVersions.append(spark, at, df.coalesce(1))
        (System.nanoTime() - t0) / 1e9
      }
      TableVersions.setTableProperty(spark, at, TableVersions.ChangeFeedProp, "true")
      walls
    }

    // the warm-up table: the first tenth of the keys in two appends; it takes
    // the JVM's first, cold calls of every kind, so its versions do not
    // count towards the seed table's
    val warmRoot = s"${a.work}/dml/warm"
    load(warmRoot, Seq(keys(0, n / 20), keys(n / 20, n / 10)))
    // bulk write: the seed table, one key-range append per file, then the
    // change-feed property
    val seedRoot = s"${a.work}/dml/orders"
    val appends = load(seedRoot, (0 until loadChunks).map(chunk))
    // set-up: open the loaded table from its log, as a fresh process does
    // (reconstructed-state cache dropped first): median of five means of ten
    // opens
    val setups = Main.coldOpens(5, 10) { TableVersions.read(spark, seedRoot); () }
    val targetBytes = TableVersions.commitState(spark, seedRoot).files.map(_.bytes).sum / loadChunks
    Main.log("seed table loaded")

    val seedModel = mutable.HashMap.empty[Long, Row]
    orders.collect().foreach(r => seedModel(r.getLong(0)) = r)
    // the table the calls below go to, and its model
    var root = warmRoot
    var model = seedModel.filter(_._1 < n / 10)
    def maxKey = if (root == warmRoot) n / 10 - 1 else n - 1
    val rng = new java.util.Random(a.seed)
    val statuses = Array("F", "O", "P")
    val day0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    def price() = math.round(rng.nextDouble() * 499000 * 100 + 100000) / 100.0
    def fresh(k: Long) = Row(k, rng.nextInt(15000).toLong, statuses(rng.nextInt(3)), price(),
      new java.sql.Timestamp(day0 + rng.nextInt(2405) * 86400000L), "3-MEDIUM")
    def range(n: Int) = { val s = (rng.nextDouble() * (maxKey - n)).toLong; (s, s + n - 1) }
    // each write kind alternates copy-on-write and merge-on-read on its own;
    // merges start on the other path, so a round mixes both
    val calls = mutable.HashMap.empty[String, Int].withDefaultValue(0)

    val stats = new TableStats(spark, tr)
    var failed = 0
    var attempted = 0
    var readMismatches = 0
    // per measured round: wall seconds of each write and each read
    val writeWalls = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    val readWalls = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Double]]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val kindWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    def write(kind: String, changed: Long)(body: Double => Unit): Unit = {
      val dv = if ((calls(kind) + (if (kind == "merge") 1 else 0)) % 2 == 0) 0.0 else 0.2
      calls(kind) += 1
      attempted += 1
      try {
        val (_, w) = stats.around(Seq(root))(tr.op(kind)(body(dv)))
        stats.changedRows(root, changed)
        writeWalls.lastOption.foreach(_ += w)
        kindWalls.getOrElseUpdate(s"$kind.${if (dv > 0) "mor" else "cow"}",
          mutable.ArrayBuffer.empty) += w
      } catch { case e: Exception =>
        failed += 1; System.err.println(s"[perfbench] $kind failed: $e")
      }
    }

    def reads(): Unit = {
      val k = (rng.nextDouble() * maxKey).toLong
      val d = day0 + rng.nextInt(2300) * 86400000L
      val (lo, hi) = (new java.sql.Timestamp(d), new java.sql.Timestamp(d + 60 * 86400000L))
      attempted += 2
      try {
        val (got, w1) = tr.op("read") {
          tr.snapshot(TableVersions.read(spark, root)).filter(col(keyCol) === k).collect()
        }
        val (agg, w2) = tr.op("read") {
          tr.snapshot(TableVersions.read(spark, root))
            .filter(col("o_orderdate").between(lo, hi))
            .agg(count(lit(1)), sum(col("o_totalprice"))).head()
        }
        readWalls.lastOption.foreach(_ ++= Seq(w1, w2))
        val want = model.get(if (a.plant("dml.reads_match_model")) k + 1 else k)
        if (got.toSeq != want.toSeq) readMismatches += 1
        val inRange = model.valuesIterator.filter { r =>
          val t = r.getTimestamp(4); !t.before(lo) && !t.after(hi)
        }.map(_.getDouble(3)).toSeq
        if (agg.getLong(0) != inRange.size ||
            math.abs(Option(agg.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0) - inRange.sum) >
              1e-6 * math.max(1.0, inRange.sum)) readMismatches += 1
      } catch { case e: Exception =>
        failed += 2; System.err.println(s"[perfbench] read failed: $e")
      }
    }

    def upsert(): Unit = {
      // replace every key of a range (re-inserting any deleted ones)
      val (s, e) = range(batchRows)
      val ups = (s to e).map(k => model.get(k).map(r =>
        Row(k, r.getLong(1), statuses(rng.nextInt(3)), price(), r.getTimestamp(4), r.getString(5)))
        .getOrElse(fresh(k)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(ups, 1), schema)
      write("upsert", ups.size) { dv =>
        TableVersions.upsert(spark, root, df, keyCol, maxDvFraction = dv); ()
      }
      ups.foreach(r => model(r.getLong(0)) = r)
    }

    def merge(): Unit = {
      // update matched keys (a tenth are deleted instead), insert unmatched ones
      val (s, e) = range(batchRows)
      val src = (s to e).map { k =>
        val base = model.getOrElse(k, fresh(k))
        (Row(k, base.getLong(1), statuses(rng.nextInt(3)), price(), base.getTimestamp(4),
          base.getString(5)), rng.nextInt(10) == 0)
      }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        src.map { case (r, del) => Row.fromSeq(r.toSeq :+ del) }, 1),
        schema.add("del", "boolean"))
      write("merge", src.size) { dv =>
        TableVersions.merge(spark, root, df, Seq(keyCol),
          matched = Seq(MergeDelete(Some("s.del")),
            MergeUpdate(Map("o_orderstatus" -> "s.o_orderstatus", "o_totalprice" -> "s.o_totalprice"))),
          notMatched = Seq(MergeInsert()), maxDvFraction = dv); ()
      }
      src.foreach { case (r, del) =>
        val k = r.getLong(0)
        if (model.contains(k) && del) model.remove(k) else model(k) = r
      }
    }

    def delete(): Unit = {
      // a range with live keys, so every delete commits
      var (s, e) = range(deleteRows)
      while (!(s to e).exists(model.contains)) { val r = range(deleteRows); s = r._1; e = r._2 }
      val victims = (s to e).count(model.contains).toLong
      write("delete", victims) { dv =>
        TableVersions.deleteWhere(spark, root, col(keyCol).between(s, e),
          bounds = Map(keyCol -> (s.toDouble, e.toDouble)), maxDvFraction = dv); ()
      }
      (s to e).foreach(model.remove)
    }

    def compact(): Unit = {
      attempted += 1
      try stats.around(Seq(root))(tr.op("compact") {
        TableVersions.compact(spark, root, targetBytes); ()
      }) catch { case e: Exception =>
        failed += 1; System.err.println(s"[perfbench] compact failed: $e")
      }
    }

    def round(): Unit = {
      writeWalls += mutable.ArrayBuffer.empty
      readWalls += mutable.ArrayBuffer.empty
      val r0 = System.nanoTime()
      upsert(); merge()
      (1 to deletesPerRound).foreach(_ => delete())
      reads()
      roundWalls += (System.nanoTime() - r0) / 1e9
      if (roundWalls.size % 2 == 0) compact()
    }

    // warm-up on the warm-up table: one call of each kind
    val warm = tr.ops.size
    upsert(); merge(); delete(); reads()
    tr.discardFrom(warm)
    stats.reset()
    calls.clear()
    kindWalls.clear()
    root = seedRoot
    model = seedModel
    val v0 = TableVersions.currentVersion(spark, root).getOrElse(-1L)
    val rounds = Main.evenCount(a.seconds, nominalRoundS)
    (1 to rounds).foreach(_ => round())
    val v1 = TableVersions.currentVersion(spark, root).getOrElse(-1L)
    Main.log(s"measured $rounds rounds, versions ${v0 + 1} to $v1")

    // checks, outside the timed calls
    // `--plant <check>` hands that check a wrong expectation, to show it fails
    val modelRows = model.values.toSeq
    val modelDf = spark.createDataFrame(spark.sparkContext.parallelize(
      if (a.plant("dml.final_equals_model")) modelRows.drop(1) else modelRows, 4), schema)
    val finalFp = fingerprint(TableVersions.read(spark, root))
    val modelFp = fingerprint(modelDf)
    val v0Fp = fingerprint(TableVersions.read(spark, root, Some(0L)))
    val seedFp = fingerprint(if (a.plant("dml.version0_is_seed")) chunk(0).limit(1000) else chunk(0))
    val checks = Seq(
      ("dml.final_equals_model", finalFp == modelFp, s"snapshot $finalFp vs model $modelFp"),
      ("dml.version0_is_seed", v0Fp == seedFp, s"version 0 $v0Fp vs first seed chunk $seedFp"),
      ("dml.reads_match_model", readMismatches == 0, s"$readMismatches reads differ from the model"))

    val writes = writeWalls.flatten.toSeq
    val tail = Stats.tail(writes)
    def roundMeans(xs: Seq[mutable.ArrayBuffer[Double]]) =
      xs.filter(_.nonEmpty).map(r => r.sum / r.size).toSeq
    Outcome(
      e2e = Map(
        "setup_s" -> Stats.median(setups),
        "bulk_s" -> Stats.median(appends),
        "op_p50_s" -> Stats.median(roundMeans(writeWalls.toSeq)),
        "read_p50_s" -> Stats.median(roundMeans(readWalls.toSeq))),
      counters = stats.counters(Seq(root)),
      detail = Map(
        "append_p50_s" -> Stats.median(appends), "append_samples_s" -> appends,
        "dml_p50_s" -> Stats.median(writes),
        "dml_round_mean_s" -> roundMeans(writeWalls.toSeq),
        "dml_tail_s" -> tail.map(_._2), "dml_tail_percentile" -> tail.map(_._1),
        "dml_kind_mean_s" -> kindWalls.map { case (k, w) => k -> w.sum / w.size }.toMap,
        "dml_samples" -> writes.size, "read_p50_s" -> Stats.median(readWalls.flatten.toSeq),
        "read_round_mean_s" -> roundMeans(readWalls.toSeq),
        "read_samples" -> readWalls.map(_.size).sum, "rounds" -> rounds,
        "round_s" -> roundWalls.toSeq, "setup_samples_s" -> setups,
        "measured_versions" -> Seq(v0 + 1, v1),
        "checkpoint_versions_measured" -> (v0 + 1 to v1).filter(_ % 10 == 0),
        "final_rows" -> finalFp._1),
      checks = checks, attempted = attempted, failedOps = failed)
  }
}
