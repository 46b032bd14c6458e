package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.TableVersions

/** STREAMING change-data-feed source for [[TableVersions]] tables:
  * `spark.readStream.format("graft-cdf").option("path", root)` tails
  * the table's commit log as a Structured Streaming source — the
  * stream-native complement to the batch
  * [[graft.operators.ChangeFeed]] driver, and the Spark-idiomatic form
  * of "the processed zone feeds downstream continuously" (the
  * reference's Pub/Sub→pipeline hop, re-expressed as a table that IS
  * the queue). Delta's streaming source has this exact shape.
  *
  * Mechanics (v1 `Source` — the getBatch-returns-a-DataFrame API,
  * which lets each micro-batch BE a [[TableVersions.readChanges]]
  * plan, zero custom row readers):
  *
  *  - OFFSETS are commit versions. `getOffset` = the table's current
  *    version; `getBatch(start, end)` = `readChanges(start, end]` —
  *    appends stream through as O(new data) insert rows, rewrites as
  *    touched-file diffs, DV deletes as tombstone diffs, layout
  *    rewrites as nothing. Structured Streaming's checkpoint persists
  *    the offset, so restarts resume exactly where they stopped and a
  *    replayed batch re-reads the same version range (pair with
  *    [[TableVersions.startAppend]]-style txn sinks for end-to-end
  *    exactly-once).
  *  - `startingVersion` (default: everything retained) bounds the first
  *    batch: `latest` skips history and tails only new commits — the
  *    "don't re-index the corpus" switch.
  *  - `maxVersionsPerTrigger` caps how many commit versions one
  *    micro-batch admits (the Kafka `maxOffsetsPerTrigger` analogue):
  *    a consumer restarting after a long outage drains its backlog in
  *    bounded batches instead of one OOM-or-crawl catch-up. The cap's
  *    FLOOR (the last batch end) is persisted in the source metadata
  *    dir with an atomic rename BEFORE the batch commits, so a capped
  *    offer can never move offsets backward across restarts.
  *  - The SCHEMA is fixed at stream start (table schema +
  *    `_change_type`, `_commit_version`, `_commit_timestamp`) and
  *    PINNED in the source metadata dir ([[CdfSourceProvider
  *    .pinnedSchema]]): within a run each batch projects to the
  *    declared columns, and a RESTART whose freshly-resolved schema
  *    differs (table evolution, reader upgrade adding a meta column)
  *    refuses loudly with the remedy named — Delta's
  *    restart-on-schema-change stance; a consumer's shape never
  *    changes silently across restarts.
  *  - Reads past the vacuum horizon THROW (the [[TableVersions
  *    .readChanges]] guard): a consumer that lagged beyond retention
  *    must re-bootstrap, never silently double-apply.
  *
  * Scale: `getOffset` is one directory listing + one commit read;
  * a batch's plan reads only the versions in its range. Retention
  * (`vacuum keepVersions`) bounds consumer lag exactly as in Delta.
  */
class CdfSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdf"

  private def cdfSchema(spark: org.apache.spark.sql.SparkSession, path: String): StructType = {
    val base = TableVersions.commitState(spark, path).schema.getOrElse(
      TableVersions.read(spark, path).schema)
    base.add("_change_type", StringType).add("_commit_version", LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-cdf requires option 'path'"))
    (shortName(), schema.getOrElse(cdfSchema(sqlContext.sparkSession, path)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val path = parameters("path")
    val declared = CdfSourceProvider.pinnedSchema(spark, metadataPath,
      schema.getOrElse(cdfSchema(spark, path)))
    val starting = CdfSourceProvider.resolveStart(spark, metadataPath, parameters, path)
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxVersions.foreach(m => require(m > 0, s"maxVersionsPerTrigger must be positive, got $m"))
    new CdfSource(spark, path, declared, starting.exclusive, maxVersions, metadataPath)
  }
}

private[sources] object CdfSourceProvider {

  /** A stream's pinned starting point: `exclusive` is the version
    * offsets advance from; `snapshot` (the `graft-table`
    * `startingVersion=snapshot` bootstrap) is the version whose FULL
    * DV-aware snapshot the first batch serves before tailing appends.
    */
  final case class Start(exclusive: Long, snapshot: Option[Long])

  /** Pin the stream's RESOLVED schema in the source metadata dir (the
    * same first-writer-wins pattern as the start marker): a v1
    * provider's schema is re-resolved on every stream (re)start, so
    * without the pin an existing checkpointed stream SILENTLY changes
    * shape whenever the table evolves or a reader upgrade appends a
    * meta column — downstream sinks and stateful operators keyed to
    * the exact schema then break at a distance. With the pin, a
    * restart whose freshly-resolved schema differs from the pinned one
    * REFUSES LOUDLY (Delta's restart-on-schema-change stance) and
    * names the remedy. Checkpoints created before the pin existed
    * adopt the current schema once, then pin it.
    */
  def pinnedSchema(spark: org.apache.spark.sql.SparkSession, metadataPath: String,
      fresh: StructType): StructType = {
    val marker = new org.apache.hadoop.fs.Path(metadataPath, "graft_cdf_schema")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readPin(): StructType = {
      val in = fs.open(marker)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      org.apache.spark.sql.types.DataType.fromJson(txt).asInstanceOf[StructType]
    }
    def check(pinned: StructType): StructType = {
      if (pinned != fresh) throw new IllegalStateException(
        s"this stream's schema changed since its checkpoint was created.\n" +
          s"  pinned : ${pinned.simpleString}\n  current: ${fresh.simpleString}\n" +
          "A schema change (table evolution, or a reader upgrade adding a meta column) " +
          "must not silently reshape a running consumer. To adopt the new schema on THIS " +
          s"checkpoint, delete the pin file $marker and restart; to keep the old shape, " +
          "read through a view that selects the pinned columns; otherwise start a fresh " +
          "checkpoint.")
      pinned
    }
    if (fs.exists(marker)) check(readPin())
    else {
      fs.mkdirs(marker.getParent)
      val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
        s".graft_cdf_schema.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(fresh.json.getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, marker)) fresh
      else { fs.delete(tmp, false); check(readPin()) } // raced twin: theirs wins
    }
  }

  /** Resolve the stream's starting point ONCE and pin it in the
    * source's metadata dir (the Kafka-source initial-offset pattern):
    * "latest"/"snapshot" re-resolved on every restart would silently
    * skip (or re-serve) any commit that landed while the stream was
    * down. Shared by the `graft-cdf` source and the `graft-table`
    * streaming source; `allowSnapshot=false` (graft-cdf) refuses the
    * snapshot mode loudly — a change feed of snapshot rows would
    * fabricate insert events that never happened.
    */
  def resolveStart(spark: org.apache.spark.sql.SparkSession, metadataPath: String,
      parameters: Map[String, String], path: String,
      allowSnapshot: Boolean = false): Start = {
    val marker = new org.apache.hadoop.fs.Path(metadataPath, "graft_cdf_start")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parse(txt: String): Start =
      try {
        if (txt.startsWith("snapshot:")) {
          val s = txt.stripPrefix("snapshot:").toLong
          Start(s - 1, Some(s))
        } else Start(txt.toLong, None)
      } catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt graft-cdf start marker at $marker (content: '$txt'); " +
            "write the intended exclusive starting version (or 'snapshot:<v>') into it, " +
            "or delete the checkpoint dir to restart the stream from scratch", e)
      }
    def readMarker(): Start = {
      val in = fs.open(marker)
      val txt = try new String(in.readAllBytes()).trim finally in.close()
      parse(txt)
    }
    if (fs.exists(marker)) readMarker()
    else {
      require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
        "specify at most one of startingVersion and startingTimestamp")
      // startingTimestamp resolves ONCE to the first version committed
      // AT OR AFTER the instant (Delta's option of the same name:
      // "changes at or after"), then pins like any other start. The
      // string is interpreted the way SQL literals are: date-only
      // ('2026-08-15') and timestamp forms both accepted, resolved in
      // spark.sql.session.timeZone — NOT the driver JVM's default zone
      val effectiveStart = parameters.get("startingTimestamp") match {
        case Some(ts) =>
          val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            spark.sessionState.conf.sessionLocalTimeZone)
          val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String.fromString(ts.trim), zone)
            .getOrElse(throw new IllegalArgumentException(
              s"startingTimestamp '$ts' is not a valid date or timestamp " +
                "(expected e.g. '2026-08-15' or '2026-08-15 12:34:56')"))
          val ms = Math.floorDiv(micros, 1000L)
          // first version committed AT OR AFTER the instant = one past
          // the last version committed strictly before it
          val before = TableVersions.versionAsOf(spark, path, ms - 1)
          Some((before.getOrElse(-1L) + 1).toString)
        case None => parameters.get("startingVersion")
      }
      val (rendered, resolved) = effectiveStart match {
        case Some("snapshot") =>
          require(allowSnapshot, "startingVersion=snapshot is a graft-table streaming " +
            "option (bootstrap the current rows, then tail appends); the graft-cdf change " +
            "feed has no snapshot form — use startingVersion=<v> or latest")
          TableVersions.currentVersion(spark, path) match {
            case Some(s) => (s"snapshot:$s", Start(s - 1, Some(s)))
            case None => ("-1", Start(-1L, None)) // empty table: nothing to bootstrap
          }
        case Some("latest") =>
          val v = TableVersions.currentVersion(spark, path).getOrElse(-1L)
          (v.toString, Start(v, None))
        case Some(v) => // startingVersion is INCLUSIVE, offsets exclusive
          ((v.toLong - 1).toString, Start(v.toLong - 1, None))
        case None => ("-1", Start(-1L, None))
      }
      // write-temp-then-rename: a crash mid-write must not leave a
      // truncated marker that poisons every restart
      fs.mkdirs(marker.getParent)
      val tmp = new org.apache.hadoop.fs.Path(marker.getParent,
        s".graft_cdf_start.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(rendered.getBytes) finally out.close()
      if (fs.rename(tmp, marker)) resolved
      else { fs.delete(tmp, false); readMarker() } // raced another starter: theirs wins
    }
  }
}

private[sources] class CdfSource(spark: org.apache.spark.sql.SparkSession,
    path: String, declared: StructType, startExclusive: Long,
    maxVersionsPerTrigger: Option[Long], metadataPath: String) extends Source {

  override def schema: StructType = declared

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val floorPath = new org.apache.hadoop.fs.Path(metadataPath, "graft_cdf_floor")
  private val ffs = floorPath.getFileSystem(hadoopConf)

  /** Highest batch-end version this source has ever HANDED OUT, the
    * base the per-trigger cap advances from. Persisted (atomic rename)
    * in getBatch — i.e. strictly before the engine can commit the
    * batch — so after a restart `floor >= committed end` always holds
    * and a capped [[getOffset]] can never offer an offset below the
    * checkpoint (offsets moving backward corrupt a v1 stream). A
    * missing file means no batch was ever fetched, where
    * `startExclusive` is exact.
    */
  @volatile private var floor: Long = {
    val persisted =
      if (!ffs.exists(floorPath)) Long.MinValue
      else {
        val in = ffs.open(floorPath)
        val txt = try new String(in.readAllBytes()).trim finally in.close()
        try txt.toLong catch { case _: NumberFormatException => Long.MinValue }
      }
    math.max(startExclusive, persisted)
  }

  private def persistFloor(v: Long): Unit =
    graft.operators.Replace.file(hadoopConf, floorPath)(_.write(v.toString.getBytes))

  override def getOffset: Option[V1Offset] = {
    val cur = TableVersions.currentVersion(spark, path).getOrElse(return None)
    val offered = maxVersionsPerTrigger match {
      case Some(m) => math.min(cur, floor + m) // bounded catch-up
      case None => cur
    }
    if (offered > floor) Some(LongOffset(offered)) else None
  }

  private def versionOf(o: V1Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset from the checkpoint log
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startExclusive)
    val to = versionOf(end)
    if (to > floor) { persistFloor(to); floor = to }
    // a v1 Source must hand back a STREAMING frame: re-wrap the batch
    // plan's row RDD (lazy — nothing materializes here) under
    // isStreaming=true, the Delta-source pattern
    org.apache.spark.sql.graftshim.StreamingFrameShim.asStreaming(
      spark, batchFrame(from, to), schema)
  }

  /** The batch rows for (`from`, `to`] in this source's [[schema]].
    * Subclass hook: the `graft-table` streaming source narrows the
    * change feed to append-only table rows here.
    */
  protected def batchFrame(from: Long, to: Long): DataFrame =
    // project to the declared stream schema: columns added by later
    // additive evolution stay invisible until the stream restarts
    TableVersions.readChanges(spark, path, from, to)
      .select(declared.fieldNames.map(col).toIndexedSeq: _*)

  override def stop(): Unit = ()
}

/** `readStream.format("graft-table")` — stream a versioned TABLE's
  * appends (the Delta "streaming from a table" surface): commit
  * versions as offsets, rows in the TABLE schema, append-only by
  * contract. A commit that removed any file identity (delete, upsert,
  * merge, compaction, restore, replace) THROWS by default — silently
  * emitting its inserts would desync every downstream consumer — or is
  * skipped WHOLE with `skipChangeCommits=true` (Delta's option of the
  * same name). Detection is metadata-only ([[TableVersions
  * .changeCommitVersions]] — cached commit reads, no scan per
  * trigger). Options `startingVersion` and `maxVersionsPerTrigger`
  * work as in `graft-cdf`; for update/delete consumption, use
  * `graft-cdf` itself.
  *
  * INITIAL SNAPSHOT (`startingVersion=snapshot`, Delta's
  * table-streaming bootstrap): the version current at stream start is
  * PINNED; the first batch serves its full DV-aware snapshot (one
  * versioned read — deletes already folded, no history replayed, no
  * vacuum-horizon dependence), and everything after tails appends
  * exactly as above. A new downstream consumer bootstraps without a
  * manual backfill, and a restart across the bootstrap never
  * double-serves: the snapshot version rides the pinned start marker.
  */
private[sources] class GraftTableStreamSource(spark: org.apache.spark.sql.SparkSession,
    path: String, cdfDeclared: StructType, tableSchema: StructType,
    start: CdfSourceProvider.Start, maxVersionsPerTrigger: Option[Long],
    metadataPath: String, skipChangeCommits: Boolean)
  extends CdfSource(spark, path, cdfDeclared, start.exclusive, maxVersionsPerTrigger,
    metadataPath) {

  override def schema: StructType = tableSchema

  /** Append rows of commits in (`from`, `to`] — the tail path. */
  private def tailFrame(from: Long, to: Long): DataFrame = {
    val changed = TableVersions.changeCommitVersions(spark, path, from, to)
    if (changed.nonEmpty && !skipChangeCommits)
      throw new UnsupportedOperationException(
        s"graft-table streaming source: commits ${changed.mkString("v", ", v", "")} at $path " +
          "are not pure appends (delete/upsert/merge/compact/restore/replace). Streaming " +
          "from a table is append-only — set skipChangeCommits=true to skip those commits " +
          "entirely, or stream the change feed (format 'graft-cdf') to consume updates " +
          "and deletes as rows")
    val cdf = TableVersions.readChanges(spark, path, from, to)
    val kept =
      if (changed.isEmpty) cdf
      else cdf.filter(!col("_commit_version").isInCollection(changed))
    kept.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  override protected def batchFrame(from: Long, to: Long): DataFrame =
    start.snapshot match {
      case Some(sv) if from < sv =>
        // bootstrap batch: the pinned snapshot (deletes folded), plus
        // any appends that landed between the pin and this batch's end
        val snap = TableVersions.read(spark, path, Some(math.min(to, sv)))
          .select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
        if (to <= sv) snap else snap.unionByName(tailFrame(sv, to))
      case _ => tailFrame(from, to)
    }
}
