package graft.operators

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned parquet tables — ATOMIC commits, TIME TRAVEL, per-file
  * STATISTICS, logical PARTITIONS and optimistic concurrency over plain
  * parquet files: the minimal core of what Delta/Iceberg layer onto a
  * lake (and what the reference gets implicitly from BigQuery's managed
  * storage). Together with [[FileManifest]] (footer stats collection),
  * [[Compaction]] (bin packing) and [[ZOrder]] (clustering), this
  * completes a self-contained table format.
  *
  * Layout (all self-references ROOT-RELATIVE since format major 3, so
  * the table directory moves/copies/renames as a unit — [[moveTable]]):
  * {{{
  *   <root>/data/<batch-uuid>/part-*.parquet   immutable data files
  *   <root>/_versions/v<N>.commit              version N's COMMIT FILE
  *   <root>/_cdf/cdf-<uuid>/part-*.parquet     change-data sidecars
  *   <root>/_bloom/<key>/part-*.parquet        optional per-file bloom
  *                                             sidecar (point lookups)
  * }}}
  *
  * COMMIT PROTOCOL: data files are written first (invisible until
  * committed — readers only follow commit files); the commit content is
  * then written COMPLETELY to a hidden temp file and PROMOTED to
  * `v<N>.commit` in one atomic claim — a hard link on local
  * filesystems (link(2) fails atomically if the name exists), an
  * atomic namenode rename on HDFS-class stores. The claim and the
  * content are therefore one operation: no reader or competing writer
  * can ever observe a claimed-but-unfinished commit, which closes the
  * lost-append race where a slow content write is mistaken for a crash
  * and committed past. (Object stores without atomic
  * create-if-absent need a CAS primitive supplied by the store — the
  * same external-LogStore requirement Delta documents.) Exactly one
  * concurrent writer's promote succeeds; the loser re-reads the new
  * latest version, REBASES and retries:
  *
  *  - appends always rebase (they only ADD files);
  *  - file-rewriting maintenance ([[compact]], [[deleteWhere]],
  *    [[upsert]], [[optimizeZOrder]]) rebases so long as every file it
  *    REMOVED is still live in the winner's listing — concurrent
  *    appends and maintenance of DISJOINT file sets (e.g. different
  *    partitions) all commit; genuinely overlapping rewrites return
  *    None. This is the Delta conflict rule (fail only on true
  *    read/write overlap), which makes per-partition maintenance
  *    embarrassingly concurrent at 100 TB.
  *
  * A writer crashing mid-write leaves only a hidden temp file (cleaned
  * by [[vacuum]]); commit files written by pre-promote writers without
  * the `#END <n>` sentinel are treated as never committed (legacy
  * tolerance — the promote protocol cannot produce them).
  *
  * STATISTICS RIDE THE COMMIT: each file line carries row count and
  * per-column min/max/null-count collected ONCE from the just-written
  * files' footers (a distributed, footer-only job over the new files of
  * that commit). [[prunedRead]], [[deleteWhere]] and [[upsert]] plan
  * their file sets from the COMMIT ALONE — zero data-file footer reads
  * at query/maintenance time, the property that makes a pruned read of
  * a million-file table one small metadata read (the Delta/Iceberg
  * stance). Pruning stays conservative: a file with absent stats is
  * always a candidate.
  *
  * SCHEMA RIDES THE COMMIT: each commit records the table schema as of
  * that version. Reads apply it directly (old files null-fill ADDED
  * columns with no mergeSchema footer sweep), and [[append]] enforces
  * the evolution contract LOUDLY: adding columns is allowed; dropping,
  * renaming or changing the type of an existing column throws at
  * commit time (a format that owns commits must reject what it cannot
  * represent, not write it).
  *
  * PARTITIONS ARE METADATA (Iceberg's stance): `append(partitionBy=…)`
  * splits files so each holds exactly one partition tuple, records the
  * values per file in the commit, and keeps partition columns IN the
  * data files (the directory layout is cosmetic). Partition-pruned
  * reads ([[readPartitions]]) and partition-scoped maintenance select
  * files by commit metadata — no directory-listing contract, no
  * lost-column reads, and the same conservative-pruning argument.
  *
  * TIME TRAVEL: a version's listing references immutable files, so
  * `read(root, Some(v))` reproduces any retained version bit-for-bit
  * under that version's own schema — compaction rewrites the FUTURE
  * listing, never the files an old version points to. [[readChanges]]
  * turns retained history into a CHANGE FEED (insert/delete rows per
  * version step, computed from the touched files only). [[vacuum]]
  * deletes files unreachable from the retained versions (and is the
  * only thing that ever deletes data).
  *
  * Scale shape: commits are O(DELTA) — an append/rewrite/DV step writes
  * only its added file lines, `#RM` removals and metadata deltas
  * against `#BASE` (the Delta action-log stance), so a day of 1-minute
  * streaming micro-batches into a million-file table writes KBs of
  * metadata per commit, not the full listing. Every Nth commit (conf
  * `graft.table.checkpointInterval`, default 10) drops a
  * `v<N>.checkpoint` carrying the full compacted state plus a
  * `_last_checkpoint` hint; readers reconstruct any version from the
  * nearest checkpoint-or-full-commit plus a ≤N-deep delta tail, with
  * reconstructed states cached driver-side by immutable commit-file
  * identity. Self-contained full commits remain first-class (first
  * writes, restores, constraint changes, legacy tables), and mixed-era
  * logs read seamlessly. No data file is ever rewritten in place, so
  * readers racing writers always see a consistent version.
  */
object TableVersions {

  /** Java-serializable carrier for the session's Hadoop configuration,
    * so executor-side FS work (distributed vacuum listing/deletes)
    * sees `spark.hadoop.*` settings — credentials, endpoints, custom
    * FS impls — instead of a default `new Configuration()`. Same shape
    * as Spark's own (private) `SerializableConfiguration`.
    */
  private final class SerializableHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Per-column min/max/null stats for one file (numeric OR string
    * bounds, whichever the parquet footer carried — both absent when
    * the footer had none: the file is then never pruned).
    */
  final case class ColStats(minNum: Option[Double], maxNum: Option[Double],
      minStr: Option[String], maxStr: Option[String], nulls: Long)

  /** One data file in a commit: identity, size, row count (-1 when
    * unknown — legacy lines), partition values, per-column stats.
    */
  final case class FileEntry(path: String, bytes: Long, rows: Long,
      part: Map[String, String], stats: Map[String, ColStats])

  /** Full parsed state of one commit file. `checks` are named CHECK
    * constraints (SQL boolean expressions over the table's columns)
    * enforced on every append/upsert — the format-level form of the
    * reference's P1-P5 data-quality gates; NOT NULL is the special case
    * `c IS NOT NULL`. `dvs` are DELETION VECTORS: data file →
    * (positional tombstone sidecar, rows deleted) — merge-on-read
    * deletes (Delta DV / Iceberg positional-delete shape); a file's
    * rows are served minus its sidecar's (file, pos) entries, and the
    * reference dies with the file (rewrites re-materialize).
    */
  final case class CommitState(files: Seq[FileEntry], schemaJson: Option[String],
      partCols: Seq[String], txns: Map[String, Long],
      checks: Map[String, String] = Map.empty,
      dvs: Map[String, (String, Long)] = Map.empty,
      dropped: Set[String] = Set.empty,
      props: Map[String, String] = Map.empty) {
    def schema: Option[StructType] =
      schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    /** DVs narrowed to files actually in `files` — every rewrite path
      * calls this so a removed file's tombstones never outlive it.
      */
    def pruneDvs: CommitState = {
      val livePaths = files.map(_.path).toSet
      if (dvs.keys.forall(livePaths)) this
      else copy(dvs = dvs.filter { case (p, _) => livePaths(p) })
    }
  }

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------
  // COLUMN MAPPING (Delta's "name mode"): the committed schema carries
  // LOGICAL names; each field's PHYSICAL name (what the immutable data
  // files store) rides the field metadata under `graft_physical`,
  // absent ⇒ identical. [[renameColumn]] is then a metadata-only
  // commit — no file rewritten, every retained version time-travels
  // under its own names — and all read paths open files under the
  // physical schema and project back to logical.
  // ------------------------------------------------------------------

  private val PhysicalKey = "graft_physical"

  private def physicalOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  private[graft] def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalOf(f))))

  private def mappingActive(s: StructType): Boolean =
    s.fields.exists(f => physicalOf(f) != f.name)

  private[graft] def mappingActive(st: CommitState): Boolean =
    st.schema.exists(mappingActive)

  /** logical → physical column name (identity for unmapped/unknown). */
  /** The physical column name `logical` resolves to under `st`'s
    * mapping (identity when no mapping) — commit stats are keyed
    * physical; the catalog's stats-answered aggregates translate here.
    */
  private[graft] def physicalNameFor(st: CommitState, logical: String): String =
    physicalName(st.schema, logical)

  private def physicalName(s: Option[StructType], logical: String): String =
    s.flatMap(_.fields.find(_.name == logical)).map(physicalOf).getOrElse(logical)

  /** Rename a frame's table columns logical → physical before staging
    * (no-op select when the mapping is identity).
    */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!mappingActive(schema)) df
    else {
      val m = schema.fields.map(f => f.name -> physicalOf(f)).toMap
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
    }
  }

  /** Project a physical-schema frame back to logical names, keeping any
    * extra (non-table) columns as-is.
    */
  private def toLogical(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!mappingActive(schema)) df
    else {
      val m = schema.fields.map(f => physicalOf(f) -> f.name).toMap
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
    }
  }

  /** RENAME a column as a METADATA-ONLY commit: the field keeps its
    * physical name (what every existing immutable file stores) in the
    * commit's field metadata, and every read path projects physical →
    * logical — zero data movement, old versions time-travel under
    * their own names, stats pruning keeps working (stats are keyed by
    * physical names end-to-end). Restrictions, all loud: partition
    * columns (their name is partition metadata across every retained
    * commit), a target name that already exists, and columns referenced
    * by CHECK constraints (the stored SQL text would dangle). Returns
    * the committed version.
    */
  def renameColumn(spark: SparkSession, root: String, oldName: String, newName: String): Long = {
    require(oldName != newName, "renameColumn: old and new names are identical")
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val s = cur.schema.getOrElse(throw new IllegalArgumentException(
        s"renameColumn: $root has legacy commits without a recorded schema"))
      require(s.fieldNames.contains(oldName), s"renameColumn: no column '$oldName'")
      require(!s.fieldNames.contains(newName), s"renameColumn: column '$newName' already exists")
      require(!cur.partCols.contains(oldName),
        s"renameColumn: '$oldName' is a partition column (partition names are commit metadata " +
          "across retained history; rewrite the table to repartition)")
      cur.checks.foreach { case (n, e) =>
        val refs = spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
        require(!refs.contains(oldName),
          s"renameColumn: CHECK constraint '$n' references '$oldName'; drop it first")
      }
      val newFields = s.fields.map { f =>
        if (f.name != oldName) f
        else f.copy(name = newName, metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysicalKey, physicalOf(f)).build())
      }
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v,
          cur.copy(schemaJson = Some(StructType(newFields).json)), Some(baseV -> cur),
          op = s"RENAME COLUMN $oldName -> $newName"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"renameColumn: lost $attempt commit races at $root")
  }

  /** DROP a column as a METADATA-ONLY commit: the field leaves the
    * committed schema (reads stop projecting it — parquet never even
    * decodes the column), the data stays in the immutable files (old
    * versions time-travel WITH the column until [[vacuum]] reclaims
    * their files), and the field's PHYSICAL name enters the commit's
    * `#DROPPED` registry so a later append can never re-add a column
    * that would silently resurrect the old values ([[checkEvolution]]
    * rejects the collision loudly; pick a fresh name). Same loud
    * restrictions as [[renameColumn]]: partition columns and
    * CHECK-referenced columns refuse, and the last column cannot be
    * dropped. Returns the committed version.
    */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val s = cur.schema.getOrElse(throw new IllegalArgumentException(
        s"dropColumn: $root has legacy commits without a recorded schema"))
      require(s.fieldNames.contains(name), s"dropColumn: no column '$name'")
      require(s.fields.length > 1, "dropColumn: cannot drop the table's last column")
      require(!cur.partCols.contains(name),
        s"dropColumn: '$name' is a partition column (partition names are commit metadata " +
          "across retained history; rewrite the table to repartition)")
      cur.checks.foreach { case (n, e) =>
        val refs = spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
        require(!refs.contains(name),
          s"dropColumn: CHECK constraint '$n' references '$name'; drop it first")
      }
      val field = s.fields.find(_.name == name).get
      val newSchema = StructType(s.fields.filterNot(_.name == name))
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v,
          cur.copy(schemaJson = Some(newSchema.json),
            dropped = cur.dropped + physicalOf(field)), Some(baseV -> cur),
          op = s"DROP COLUMN $name"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"dropColumn: lost $attempt commit races at $root")
  }

  private def versionsDir(root: String) = new Path(root, "_versions")
  private def commitPath(root: String, v: Long) = new Path(versionsDir(root), s"v$v.commit")

  // ------------------------------------------------------------------
  // Commit-line encoding. Fields are URL-encoded, so the tab/comma/
  // semicolon/pipe separators and the `~` null marker can never appear
  // inside a value; Double.toString round-trips exactly.
  // ------------------------------------------------------------------

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  // ------------------------------------------------------------------
  // LOCATION-INDEPENDENT PATHS: commits and deletion-vector sidecars
  // store paths RELATIVE to the table root (the Delta convention), so
  // a table directory can be moved/copied/renamed as a unit — and at
  // 1M files the metadata sheds the ~100-byte common prefix per entry.
  // Absolute paths remain first-class on both sides: out-of-root
  // references (shallow [[clone]]) render absolute, and legacy
  // absolute commits parse unchanged. All parsed FILE paths are
  // canonicalized to the scheme-less URI path (`file:/x` ≡ `/x` — the
  // two renderings Hadoop listings and `_metadata` produce), so path
  // equality is form-insensitive across eras.
  // ------------------------------------------------------------------

  /** `file:`-scheme (or scheme-less) paths canonicalize to the bare URI
    * path; other schemes (an hdfs/s3 URI in a cross-store clone) pass
    * through untouched — stripping their authority would corrupt them.
    */
  private def canonAbs(p: String): String = {
    val u = new Path(p).toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else p
  }

  /** Render-side: `p` relativized against `root` when under it. */
  private[graft] def relNorm(root: String, p: String): String = {
    val c = canonAbs(p)
    val r = canonAbs(root).stripSuffix("/") + "/"
    if (c.startsWith(r)) c.substring(r.length) else c
  }

  private val absoluteRe = java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:/.*")

  /** Parse-side: a relative stored path resolves against the table
    * root; absolute paths (legacy commits, out-of-root references)
    * canonicalize via [[canonAbs]].
    */
  private def resolvePath(root: String, p: String): String =
    if (p.startsWith("/") || absoluteRe.matcher(p).matches()) canonAbs(p)
    else canonAbs(root).stripSuffix("/") + "/" + p

  /** Column-expression twin of [[relNorm]] for sidecar contents: strips
    * a `file:`-style scheme, then the root prefix. Era-agnostic — new
    * (relative) and legacy (absolute) sidecar entries and `_metadata`
    * paths all canonicalize to the same key.
    */
  private def relCanonCol(root: String, c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    val r = java.util.regex.Pattern.quote(canonAbs(root).stripSuffix("/") + "/")
    regexp_replace(regexp_replace(c, "^file:/+", "/"), "^" + r, "")
  }

  /** The table root that OWNS a DV sidecar, derived from the sidecar's
    * own path (`<ownerRoot>/data/dv-<uuid>/part-*.parquet`). Relative
    * `file` entries inside a sidecar are relative to the root of the
    * table that WROTE it — never to whoever happens to be reading: a
    * shallow [[clone]] references the source's sidecars ABSOLUTELY, so
    * resolving their relative entries against the clone's root would
    * make the anti-join keys never match and silently resurrect every
    * deleted row. Falls back to `readerRoot` for a path outside the
    * standard layout (can only be a same-table legacy sidecar).
    */
  private def dvOwnerRoot(readerRoot: String, sidecarPath: String): String = {
    val c = canonAbs(sidecarPath)
    val i = c.lastIndexOf("/data/dv-")
    if (i >= 0) c.substring(0, i) else canonAbs(readerRoot)
  }

  /** Column twin of [[resolvePath]] for sidecar `file` entries: strips
    * a `file:`-style scheme rendering, then resolves RELATIVE entries
    * against `ownerRoot` — yielding the canonical ABSOLUTE data path,
    * the clone-safe join key (`_metadata.file_path` is always
    * absolute). Non-`file:` scheme'd entries (cross-store clones) pass
    * through untouched, matching [[canonAbs]].
    */
  private def absCanonCol(ownerRoot: String, c: Column): Column = {
    import org.apache.spark.sql.functions.{concat, lit, regexp_replace, when}
    val noScheme = regexp_replace(c, "^file:/+", "/")
    when(noScheme.rlike("^([A-Za-z][A-Za-z0-9+.-]*:)?/"), noScheme)
      .otherwise(concat(lit(canonAbs(ownerRoot).stripSuffix("/") + "/"), noScheme))
  }

  /** All (file, pos) tombstones of `dvPaths` with `file` resolved to
    * the canonical ABSOLUTE data path: sidecars group by their OWN
    * table root ([[dvOwnerRoot]]) so a clone's foreign sidecars and
    * this table's own resolve each against the right base.
    */
  private def dvEntriesAbs(spark: SparkSession, readerRoot: String,
      dvPaths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    dvPaths.groupBy(dvOwnerRoot(readerRoot, _)).toSeq.map { case (owner, ps) =>
      spark.read.parquet(ps: _*)
        .select(absCanonCol(owner, col("file")).as("file"), col("pos"))
    }.reduce(_ unionByName _)
  }
  private val None_ = "~"
  private def encNumOpt(o: Option[Double]): String = o.map(java.lang.Double.toString).getOrElse(None_)
  private def encStrOpt(o: Option[String]): String = o.map(enc).getOrElse(None_)
  private def decNumOpt(s: String): Option[Double] = if (s == None_) None else Some(s.toDouble)
  private def decStrOpt(s: String): Option[String] = if (s == None_) None else Some(dec(s))

  private def renderFileLine(root: String)(fe: FileEntry): String = {
    val part =
      if (fe.part.isEmpty) "-"
      else fe.part.toSeq.sortBy(_._1).map { case (k, v) => enc(k) + "=" + enc(v) }.mkString(",")
    val stats =
      if (fe.stats.isEmpty) "-"
      else fe.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        Seq(enc(c), encNumOpt(s.minNum), encNumOpt(s.maxNum),
          encStrOpt(s.minStr), encStrOpt(s.maxStr), s.nulls.toString).mkString("|")
      }.mkString(";")
    Seq(enc(relNorm(root, fe.path)), fe.bytes.toString, fe.rows.toString, part, stats)
      .mkString("\t")
  }

  private[graft] def parseFileLine(root: String)(l: String): FileEntry = {
    val fields = l.split("\t", -1)
    if (fields.length < 5) {
      // legacy two-field line (path may contain tabs): no stats — the
      // file is simply never pruned (conservative by construction)
      val i = l.lastIndexOf('\t')
      FileEntry(resolvePath(root, l.substring(0, i)), l.substring(i + 1).toLong,
        -1L, Map.empty, Map.empty)
    } else {
      val part =
        if (fields(3) == "-") Map.empty[String, String]
        else fields(3).split(",").map { kv =>
          val Array(k, v) = kv.split("=", 2); (dec(k), dec(v))
        }.toMap
      val stats =
        if (fields(4) == "-") Map.empty[String, ColStats]
        else fields(4).split(";").map { cs =>
          val p = cs.split("\\|", -1)
          dec(p(0)) -> ColStats(decNumOpt(p(1)), decNumOpt(p(2)),
            decStrOpt(p(3)), decStrOpt(p(4)), p(5).toLong)
        }.toMap
      FileEntry(resolvePath(root, dec(fields(0))), fields(1).toLong, fields(2).toLong,
        part, stats)
    }
  }

  /** A parsed commit file: either a self-contained FULL listing (legacy
    * commits, first writes, checkpoints, metadata ops) or an O(delta)
    * INCREMENTAL record against `#BASE` (the streaming-append common
    * case — commit bytes scale with the batch, not the table).
    */
  private sealed trait RawCommit { def op: String; def cdf: Seq[String] }
  /** Reference to a checkpoint's `#FILESPQ` parquet dataset: name
    * relative to `_versions/`, expected row count, and — from round 13
    * — the listing's SCALAR TOTALS (total bytes, deletion-vector'd
    * file count), so a cold pushed snapshot answers `sizeInBytes` and
    * the no-DV common case without a single job. Older checkpoints
    * carry only (name, count); the totals are then None and the
    * pushed listing falls back to one small columnar job each —
    * additive, no major bump.
    */
  private[graft] final case class PqRef(name: String, count: Long,
      bytes: Option[Long] = None, nDv: Option[Long] = None)

  /** `filesPq`: set on format-major-4 CHECKPOINTS whose O(#files)
    * listing lives in a `#FILESPQ` parquet dataset beside the text;
    * `st.files` and `st.dvs` are then EMPTY until [[resolveCkpt]]
    * loads them.
    */
  private final case class FullCommit(st: CommitState, op: String = "",
      cdf: Seq[String] = Nil, filesPq: Option[PqRef] = None) extends RawCommit

  /** One file entry as a row of a PARQUET checkpoint: the columnar,
    * distributed-decodable listing for large tables (the Delta
    * parquet-checkpoint architecture — at 1M files the text form is
    * ~100 MB of single-threaded driver parse; the parquet form decodes
    * in parallel as columnar batches). `idx` preserves the commit's
    * exact file ORDER (state equality is order-sensitive — delta
    * rendering depends on it); `dvFile`/`dvRows` inline the file's
    * deletion-vector reference, so one dataset carries the whole
    * O(#files) state.
    */
  private[graft] final case class CkptStatsRow(minNum: Option[Double],
      maxNum: Option[Double], minStr: Option[String], maxStr: Option[String],
      nulls: Long)
  private[graft] final case class CkptFileRow(idx: Long, path: String, bytes: Long,
      rows: Long, part: Map[String, String], stats: Map[String, CkptStatsRow],
      dvFile: Option[String], dvRows: Option[Long])
  private final case class DeltaCommit(base: Long, adds: Seq[FileEntry],
      removes: Set[String], schemaJson: Option[String],
      partColsOpt: Option[Seq[String]], txns: Map[String, Long],
      checksOpt: Option[Map[String, String]],
      dvSets: Map[String, (String, Long)],
      droppedOpt: Option[Set[String]], op: String = "",
      cdf: Seq[String] = Nil) extends RawCommit {
    /** Fold this delta onto its base state. A removed file takes its
      * deletion vector with it (the pruneDvs invariant); absent
      * metadata sections inherit. Per-commit STEP records (`#OP`,
      * `#CDF`) never enter the state — they describe the commit, not
      * the table.
      */
    def applyTo(prev: CommitState): CommitState =
      CommitState(
        prev.files.filterNot(fe => removes(fe.path)) ++ adds,
        schemaJson.orElse(prev.schemaJson),
        partColsOpt.getOrElse(prev.partCols),
        prev.txns ++ txns,
        checksOpt.getOrElse(prev.checks),
        (prev.dvs -- removes) ++ dvSets,
        droppedOpt.getOrElse(prev.dropped),
        prev.props)
  }

  /** Parse commit-file text; None when torn (no matching #END —
    * impossible under the promote protocol, tolerated for legacy/crash
    * debris). Throws on a format major above this reader's.
    */
  private def parseCommitText(text: String, where: Path): Option[RawCommit] = {
    // commits/checkpoints live at <root>/_versions/<name> — derive the
    // root relative stored paths resolve against from the file's own
    // location, so a moved/copied table directory reads in place
    val root = where.getParent.getParent.toString
    val lines = text.split("\n").filter(_.nonEmpty)
    if (lines.isEmpty || !lines.last.startsWith("#END ")) return None
    lines.find(_.startsWith("#FORMAT ")).foreach { l =>
      val major = l.stripPrefix("#FORMAT ").trim.split("\\.")(0).toInt
      if (major > FormatMajor) throw new IllegalStateException(
        s"commit $where was written by format major $major; this reader understands ≤ $FormatMajor — " +
          "refusing to misread it (upgrade the reader)")
    }
    // TABLE-FEATURES granularity (the Delta table-features protocol,
    // public): a commit NAMES the semantics-bearing features it uses,
    // and a reader refuses ONLY the features it lacks — naming exactly
    // them — instead of a monolithic major refusing everything above
    // its level. Majors stay as the legacy envelope (≤4); every future
    // semantics change gates on a named feature, not a major bump.
    lines.find(_.startsWith("#FEATURES ")).foreach { l =>
      val feats = l.stripPrefix("#FEATURES ").trim.split(",").map(_.trim).filter(_.nonEmpty)
      val missing = feats.filterNot(SupportedFeatures)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"commit $where requires table feature(s) [${missing.mkString(", ")}] this reader " +
          s"does not implement (supported: ${SupportedFeatures.toSeq.sorted.mkString(", ")}) — " +
          "refusing to misread it (upgrade the reader)")
    }
    val files = lines.init.filterNot(_.startsWith("#")).map(parseFileLine(root)).toSeq
    if (lines.last != s"#END ${files.size}") return None
    val schemaJson = lines.find(_.startsWith("#SCHEMA ")).map(_.stripPrefix("#SCHEMA "))
    val partColsOpt = lines.find(_.startsWith("#PART "))
      .map(_.stripPrefix("#PART ").split(",").map(dec).toSeq)
    val txns = lines.filter(_.startsWith("#TXN ")).map { l =>
      val Array(_, app, b) = l.split(" ", 3)
      app -> b.toLong
    }.groupMapReduce(_._1)(_._2)(math.max)
    val checkLines = lines.filter(_.startsWith("#CHECK ")).map { l =>
      val Array(_, name, e) = l.split(" ", 3)
      dec(name) -> dec(e)
    }
    val dvs = lines.filter(_.startsWith("#DV ")).map { l =>
      val Array(_, fp, dvp, n) = l.split(" ", 4)
      resolvePath(root, dec(fp)) -> (resolvePath(root, dec(dvp)), n.trim.toLong)
    }.toMap
    val droppedLines = lines.filter(_.startsWith("#DROPPED "))
      .map(l => dec(l.stripPrefix("#DROPPED ").trim)).toSet
    val op = lines.find(_.startsWith("#OP "))
      .map(l => dec(l.stripPrefix("#OP ").trim)).getOrElse("")
    val props = lines.filter(_.startsWith("#PROP ")).map { l =>
      val Array(_, k, v) = l.split(" ", 3)
      dec(k) -> dec(v)
    }.toMap
    val cdf = lines.filter(_.startsWith("#CDF "))
      .map(l => dec(l.stripPrefix("#CDF ").trim)).toSeq
    // parquet-backed listing (checkpoints only, format major 4): the
    // file entries + DV references live in a sibling parquet dataset
    val filesPq = lines.find(_.startsWith("#FILESPQ ")).map { l =>
      // `name count [bytes nDv]` — the scalar totals are a round-13
      // addition; older checkpoints carry two fields
      val parts = l.split(" ")
      PqRef(dec(parts(1)), parts(2).trim.toLong,
        if (parts.length > 3) Some(parts(3).trim.toLong) else None,
        if (parts.length > 4) Some(parts(4).trim.toLong) else None)
    }
    lines.find(_.startsWith("#BASE ")) match {
      case Some(b) =>
        val removes = lines.filter(_.startsWith("#RM "))
          .map(l => resolvePath(root, dec(l.stripPrefix("#RM ").trim))).toSet
        Some(DeltaCommit(b.stripPrefix("#BASE ").trim.toLong, files, removes,
          schemaJson, partColsOpt, txns,
          if (checkLines.nonEmpty) Some(checkLines.toMap) else None, dvs,
          if (droppedLines.nonEmpty) Some(droppedLines) else None, op, cdf))
      case None =>
        Some(FullCommit(CommitState(files, schemaJson,
          partColsOpt.getOrElse(Seq.empty), txns, checkLines.toMap, dvs, droppedLines,
          props), op, cdf, filesPq))
    }
  }

  private def readRaw(f: FileSystem, p: Path): Option[RawCommit] = {
    if (!f.exists(p)) return None
    val in = f.open(p)
    val text =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    parseCommitText(text, p)
  }

  // ------------------------------------------------------------------
  // State reconstruction: checkpoint + delta tail, with a driver-side
  // cache of reconstructed states. Commit files are immutable once
  // claimed, so (qualified path, mtime, length) identifies content.
  // ------------------------------------------------------------------

  private val stateCacheMax = 32
  private val stateCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), CommitState](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), CommitState]): Boolean =
        size() > stateCacheMax
    })

  /** Test hook: drop every cached reconstructed state (and the
    * per-root version floors — external log surgery invalidates both).
    */
  private[graft] def clearStateCache(): Unit = {
    stateCache.clear(); versionFloor.clear(); pushedCache.clear()
    scalarScanCache.clear()
  }

  // ------------------------------------------------------------------
  // OP TIMING (diagnostic seam): when enabled, the write-path phases
  // (stage / stats / commit loop) record wall seconds so a bench or a
  // profile can attribute a multi-commit query's cost to the commit
  // machinery vs the data motion — the q134 "where do 24 s go"
  // observable. Zero overhead when off (one volatile read per op).
  // ------------------------------------------------------------------

  @volatile private var opTimingOn = false
  private val opTimes =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  private[graft] def opTimingEnable(on: Boolean): Unit = {
    opTimingOn = on; opTimes.clear()
  }

  /** Drain recorded (phase, seconds) pairs, aggregated per phase. */
  private[graft] def opTimingDrain(): Map[String, Double] =
    opTimingDrainCalls().map { case (k, (_, s)) => k -> s }

  /** [[opTimingDrain]] with each phase's number of recorded calls. */
  private[graft] def opTimingDrainCalls(): Map[String, (Int, Double)] = {
    val out = scala.collection.mutable.Map.empty[String, (Int, Double)].withDefaultValue((0, 0.0))
    var e = opTimes.poll()
    while (e != null) { val (n, s) = out(e._1); out(e._1) = (n + 1, s + e._2); e = opTimes.poll() }
    out.toMap
  }

  /** [[timed]] for engine-adjacent callers (runners) that want their
    * phases in the same drain. */
  private[graft] def timedOp[A](what: String)(body: => A): A = timed(what)(body)

  private def timed[A](what: String)(body: => A): A =
    if (!opTimingOn) body
    else {
      val t0 = System.nanoTime()
      try body finally opTimes.add((what, (System.nanoTime() - t0) / 1e9))
    }

  private def cacheKey(f: FileSystem, p: Path): Option[(String, Long, Long)] =
    try {
      val s = f.getFileStatus(p)
      Some((f.makeQualified(p).toString, s.getModificationTime, s.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  private def checkpointPath(root: String, v: Long) =
    new Path(versionsDir(root), s"v$v.checkpoint")

  /** Resolve a parsed checkpoint into its full state: inline listings
    * pass through; a `#FILESPQ` reference loads the parquet dataset
    * (distributed columnar decode, order restored via `idx`, DV
    * references re-inflated). None — fall back to the commit-chain
    * walk — when the dataset is missing, incomplete (no `_SUCCESS`) or
    * row-count-inconsistent: a parquet checkpoint is never a
    * correctness dependency.
    */
  /** Full checkpoint-dataset materializations — the observable the
    * O(delta) write path exists to avoid: a pushed append/rewrite must
    * not grow this (tests pin it; the every-Nth-commit checkpoint is
    * the one amortized exception).
    */
  private[graft] val ckptResolves = new java.util.concurrent.atomic.AtomicLong(0L)

  private def resolveCkpt(spark: SparkSession, root: String,
      fc: FullCommit): Option[CommitState] = fc.filesPq match {
    case None => Some(fc.st)
    case Some(PqRef(name, count, _, _)) =>
      try {
        ckptResolves.incrementAndGet()
        val f = fs(spark, root)
        val dir = new Path(versionsDir(root), name)
        if (!f.exists(new Path(dir, "_SUCCESS"))) return None
        import spark.implicits._
        val rows = spark.read.parquet(dir.toString).as[CkptFileRow]
          .collect().sortBy(_.idx)
        if (rows.length.toLong != count) return None
        val files = rows.toIndexedSeq.map { r =>
          FileEntry(resolvePath(root, r.path), r.bytes, r.rows, r.part,
            r.stats.map { case (c, s) =>
              c -> ColStats(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls) })
        }
        val dvs = rows.flatMap(r => r.dvFile.map(d =>
          resolvePath(root, r.path) -> (resolvePath(root, d), r.dvRows.getOrElse(0L)))).toMap
        Some(fc.st.copy(files = files, dvs = dvs))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The full state of version `v`, reconstructed as CHECKPOINT-OR-FULL
    * + DELTA TAIL: walk back from `v` until a cached state, a
    * checkpoint file, or a full commit, then fold the collected deltas
    * forward (each folded state is cached, so a tailing reader pays
    * O(1) new parses per new commit). None when `v`'s own commit is
    * absent or torn; a BROKEN CHAIN (a delta whose base is missing —
    * retention misconfiguration, never produced by [[vacuum]], which
    * checkpoints the oldest retained version first) throws loudly
    * instead of silently resolving to an older version.
    */
  private def readCommitState(spark: SparkSession, root: String, v: Long): Option[CommitState] = {
    val f = fs(spark, root)
    var chain = List.empty[(DeltaCommit, Option[(String, Long, Long)])]
    var cur = v
    var state: CommitState = null
    while (state == null) {
      val ck = cacheKey(f, commitPath(root, cur))
      // probe contract: the TARGET version exists iff its commit file
      // does (checkpoints are reader-side sidecars, not claims)
      if (cur == v && ck.isEmpty) return None
      val hit = ck.flatMap(k => Option(stateCache.get(k)))
      if (hit.isDefined) state = hit.get
      else {
        val fromCkpt =
          readRaw(f, checkpointPath(root, cur)).collect { case fc: FullCommit => fc }
            .flatMap(fc => resolveCkpt(spark, root, fc))
        fromCkpt match {
          case Some(st) =>
            state = st
            ck.foreach(stateCache.put(_, st))
          case None =>
            readRaw(f, commitPath(root, cur)) match {
              case None if cur == v => return None // absent/torn target: probe contract
              case None => throw new IllegalStateException(
                s"cannot reconstruct version $v at $root: delta chain needs v$cur, " +
                  "which is absent or torn — the commit log below a delta was removed " +
                  "without a checkpoint (vacuum always writes one; was the log edited?)")
              case Some(fc: FullCommit) => // commits never carry #FILESPQ
                state = fc.st
                ck.foreach(stateCache.put(_, fc.st))
              case Some(d: DeltaCommit) =>
                require(d.base < cur, s"malformed commit v$cur at $root: #BASE ${d.base} is not older")
                chain = (d, ck) :: chain
                cur = d.base
            }
        }
      }
    }
    chain.foreach { case (d, k) =>
      state = d.applyTo(state)
      k.foreach(stateCache.put(_, state))
    }
    Some(state)
  }

  /** Every version NUMBER with a commit file. Under the promote
    * protocol every claimed version is fully committed; legacy torn
    * files still burn their number (the name is taken).
    */
  private def claimedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val vd = versionsDir(root)
    if (!f.exists(vd)) Seq.empty
    else f.listStatus(vd).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".commit") =>
        n.stripPrefix("v").stripSuffix(".commit").toLong }
  }

  /** Hot-path accelerator for [[currentVersion]]: the highest version
    * this JVM has ever CONFIRMED per table root. The value is only a
    * FLOOR (monotone while the floor's commit file still exists) —
    * currentVersion probes FORWARD from it with O(new commits)
    * exists() calls instead of an O(#versions) directory LISTING per
    * call. At 10k commits on an object store the listing is the
    * per-query metadata bottleneck; forward probes are O(1) amortized
    * for a tailing reader. A stale floor costs extra probes, never a
    * wrong answer; a floor whose commit file vanished (vacuum'd
    * history from another process, a recreated table root, test
    * surgery) falls back to the full listing. [[clearStateCache]]
    * drops it together with the state cache.
    */
  private val versionFloorMax = 1024
  private val versionFloor = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Long](128, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Long]): Boolean =
        size() > versionFloorMax // LRU-bounded: bench/verify sessions touch thousands of temp roots
    })

  /** Highest fully-committed version, if any (torn commits skipped). */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val key = canonAbs(root)
    val floor = versionFloor.get(key)
    val latestClaimed: Option[Long] =
      if (versionFloor.containsKey(key) && f.exists(commitPath(root, floor))) {
        var v = floor
        while (f.exists(commitPath(root, v + 1))) v += 1
        Some(v)
      } else {
        claimedVersions(spark, root).maxOption
      }
    latestClaimed.foreach(v => versionFloor.merge(key, v, math.max(_, _)))
    // walk DOWN from the newest claim to the newest READABLE one (a
    // torn claim is legacy-only; under the promote protocol the first
    // probe answers). Readability here is the RAW text parse (the same
    // torn-claim check readCommitState applies to its target) — NOT a
    // full state reconstruction: probing current via readCommitState
    // materialized a 1M-file snapshot just to find its version number,
    // the one hidden O(#files) cost every fresh-process operation paid
    // even on the pushed path. A broken delta CHAIN below a readable
    // commit still throws loudly at the actual read, as before.
    var cur = latestClaimed.getOrElse(return None)
    while (cur >= 0) {
      if (readRaw(f, commitPath(root, cur)).isDefined) return Some(cur)
      cur -= 1
    }
    None
  }

  /** The full parsed commit state of `version` (default: latest). */
  def commitState(spark: SparkSession, root: String, version: Option[Long] = None): CommitState = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $root"))
    readCommitState(spark, root, v)
      .getOrElse(throw new IllegalArgumentException(s"version $v absent or torn at $root"))
  }

  /** The file listing of `version` (default: latest): (file, n_bytes). */
  def listing(spark: SparkSession, root: String, version: Option[Long] = None): Seq[(String, Long)] =
    commitState(spark, root, version).files.map(fe => (fe.path, fe.bytes))

  // ------------------------------------------------------------------
  // FILTERED CHECKPOINT RECONSTRUCTION: serve a big snapshot's listing
  // from its parquet checkpoint WITHOUT materializing every entry on
  // the driver. A query's pushed-down predicates translate into a
  // coarse Column filter evaluated INSIDE the checkpoint's parquet
  // read (distributed, columnar), and only the survivors — plus the
  // bounded delta tail — ever reach driver-side exact evaluation:
  // per-query driver cost drops from O(#files × #preds) to
  // O(survivors). The Delta stats-indexed-checkpoint / Iceberg
  // manifest-filtering architecture.
  // ------------------------------------------------------------------

  /** A snapshot reconstructible as PARQUET CHECKPOINT + DELTA TAIL,
    * held unmaterialized: the checkpoint dataset location and expected
    * row count, the tail's folded adds/removes/DV overrides (bounded
    * by the checkpoint cadence), and the version's SCALAR state
    * (schema, partition columns, checks, props — `files`/`dvs` empty
    * by construction). `dvMap`/`sizeEstimate` lazily run one small
    * columnar job each and memoize — both O(#DV'd files) / O(1) rows
    * on the driver, never O(#files).
    */
  private[graft] final case class PushedListing(root: String, ckptDir: String,
      ckptCount: Long, tailAdds: Seq[FileEntry], tailRemoves: Set[String],
      tailDvSets: Map[String, (String, Long)], scalar: CommitState,
      ckptBytes: Option[Long] = None, ckptNDv: Option[Long] = None,
      version: Long = -1L) {

    /** Upper bound on the snapshot's file count (tail removes not
      * subtracted — threshold gating only).
      */
    def totalFiles: Long = ckptCount + tailAdds.size

    @volatile private var dvCache: Map[String, (String, Long)] = null
    @volatile private var sizeCache: java.lang.Long = null

    /** The snapshot's final deletion-vector map (file → (sidecar,
      * rows)): checkpoint rows' inline references, minus tail removes,
      * overridden by tail DV updates. One projected job over the DV'd
      * subset, memoized.
      */
    def dvMap(spark: SparkSession): Map[String, (String, Long)] = {
      if (dvCache == null) {
        import org.apache.spark.sql.functions.col
        val fromCkpt =
          // the checkpoint's scalar totals record zero DV'd files (the
          // common case): no job needed
          if (ckptNDv.contains(0L)) Map.empty[String, (String, Long)]
          else spark.read.schema(ckptRowSchema).parquet(ckptDir)
            .where(col("dvFile").isNotNull)
            .select("path", "dvFile", "dvRows")
            .collect()
            .map(r => resolvePath(root, r.getString(0)) ->
              (resolvePath(root, r.getString(1)), r.getLong(2)))
            .toMap
        dvCache = (fromCkpt -- tailRemoves) ++ tailDvSets
      }
      dvCache
    }

    /** Planning-statistic byte size: checkpoint total + tail adds
      * (removes not subtracted — an overestimate only ever keeps a
      * broadcast from being chosen, never wrongly chooses one).
      */
    def sizeEstimate(spark: SparkSession): Long = {
      if (sizeCache == null) {
        import org.apache.spark.sql.functions.sum
        val base = ckptBytes.getOrElse { // scalar total absent (pre-r13
          // checkpoint): one small columnar job, memoized
          val r = spark.read.schema(ckptRowSchema).parquet(ckptDir)
            .agg(sum("bytes")).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        sizeCache = base + tailAdds.map(_.bytes).sum
      }
      sizeCache
    }

    /** All file paths (rare consumers — `FileIndex.inputFiles`): one
      * projected job, minus removes, plus tail adds.
      */
    def allPaths(spark: SparkSession): Array[String] = {
      val base = spark.read.schema(ckptRowSchema).parquet(ckptDir)
        .select("path").collect().map(r => resolvePath(root, r.getString(0)))
      base.filterNot(tailRemoves) ++ tailAdds.map(_.path)
    }

    /** Checkpoint rows → entries, through the SAME decode as
      * [[resolveCkpt]].
      */
    def toEntry(r: CkptFileRow): FileEntry =
      FileEntry(resolvePath(root, r.path), r.bytes, r.rows, r.part,
        r.stats.map { case (c, s) =>
          c -> ColStats(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls) })
  }

  private[graft] lazy val ckptRowSchema: StructType =
    org.apache.spark.sql.Encoders.product[CkptFileRow].schema

  /** Snapshot file-count threshold at or above which reads serve their
    * listing through the pushed checkpoint path (session conf
    * `graft.table.pushedPruneThreshold`; ≤0 disables). Below it the
    * driver loop over the materialized (and cached) listing is cheaper
    * than a Spark job per query — the pushed path is the 100k-file+
    * design point, not the 100-file one.
    */
  private[graft] def pushedPruneThreshold(spark: SparkSession): Long =
    spark.conf.get("graft.table.pushedPruneThreshold", "100000").toLong

  private val pushedCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), PushedListing](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), PushedListing]): Boolean = size > 32
    })

  /** Version `v` (default: latest) as an unmaterialized checkpoint +
    * tail, when its reconstruction chain bottoms out at a PARQUET
    * checkpoint: walk the raw commits down from `v` (text-scalar reads
    * only — the O(#files) dataset is never touched), fold the tail's
    * adds/removes/DV updates and scalar changes in order. None when the
    * chain reaches a full commit or an inline-text checkpoint first
    * (small-table shape: the materialized path is the right one), or
    * when the checkpoint dataset is incomplete. Cached per target
    * commit-file identity.
    */
  private[graft] def pushedListing(spark: SparkSession, root: String,
      version: Option[Long] = None): Option[PushedListing] = {
    val f = fs(spark, root)
    val v = version.orElse(currentVersion(spark, root)).getOrElse(return None)
    if (!f.exists(commitPath(root, v))) return None // probe contract
    val key = cacheKey(f, commitPath(root, v))
    val hit = key.flatMap(k => Option(pushedCache.get(k)))
    if (hit.isDefined) return hit
    var chain = List.empty[DeltaCommit] // oldest-first after the walk
    var cur = v
    while (true) {
      readRaw(f, checkpointPath(root, cur)) match {
        case Some(fc: FullCommit) if fc.filesPq.isDefined =>
          val PqRef(name, count, ckBytes, ckNDv) = fc.filesPq.get
          val dir = new Path(versionsDir(root), name)
          if (!f.exists(new Path(dir, "_SUCCESS"))) return None
          var scalar = fc.st.copy(files = Seq.empty, dvs = Map.empty)
          var adds = Vector.empty[FileEntry]
          var removes = Set.empty[String]
          var dvSets = Map.empty[String, (String, Long)]
          chain.foreach { d =>
            adds = adds.filterNot(fe => d.removes(fe.path)) ++ d.adds
            removes ++= d.removes
            dvSets = (dvSets -- d.removes) ++ d.dvSets
            scalar = d.applyTo(scalar).copy(files = Seq.empty, dvs = Map.empty)
          }
          val pl = PushedListing(root, dir.toString, count, adds, removes,
            dvSets, scalar, ckBytes, ckNDv, v)
          key.foreach(pushedCache.put(_, pl))
          return Some(pl)
        case Some(_: FullCommit) => return None // inline-text checkpoint:
          // the SAME stopping point readCommitState uses — the listing
          // there was below the parquet threshold, so materialize
        case _ =>
      }
      readRaw(f, commitPath(root, cur)) match {
        case Some(d: DeltaCommit) if d.base < cur =>
          chain = d :: chain
          cur = d.base
        case _ => return None // full commit / torn / malformed: materialized path decides
      }
    }
    None // unreachable
  }

  /** Read a pushed-listing snapshot: the format FileIndex carries the
    * listing handle so pushed-down filters prune INSIDE the checkpoint
    * read; DVs anti-join from the listing's lazily-computed map; the
    * physical→logical projection applies as in [[readState]].
    */
  private[graft] def readPushed(spark: SparkSession, root: String,
      l: PushedListing): DataFrame = {
    val base = graft.sources.GraftTableSource.readFor(spark, root, l.scalar, Some(l))
    val withDvs = applyDvs(spark, root, base,
      l.dvMap(spark).values.map(_._1).toSeq.distinct)
    l.scalar.schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
  }

  /** Read the table at `version` (default: latest) under that version's
    * COMMITTED schema: files written before an additive evolution
    * null-fill the later columns directly from the declared schema — no
    * mergeSchema footer sweep. `mergeSchema` is honored only for legacy
    * commits that carry no schema.
    *
    * Schema-bearing snapshots read through the commit-backed
    * [[graft.sources.GraftFileIndex]]: pushed-down filters from the
    * consuming query prune files against the commit's min/max stats and
    * partition values DURING PLANNING — `read(root).filter(k > x)`
    * scans only the files that can intersect, with no explicit bounds
    * argument (the `spark.read.format("graft-table")` surface is the
    * same relation). Deletion vectors layer on top as the usual
    * anti-join.
    */
  def read(spark: SparkSession, root: String, version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val pushedT = pushedPruneThreshold(spark)
    if (pushedT > 0) {
      pushedListing(spark, root, version) match {
        case Some(l) if l.totalFiles >= pushedT && l.scalar.schema.isDefined =>
          return readPushed(spark, root, l)
        case _ =>
      }
    }
    val st = commitState(spark, root, version)
    if (st.files.isEmpty) {
      // a table created empty (CREATE TABLE) or emptied by a delete
      // reads as zero rows under its committed schema; only legacy
      // schema-less empties are unreadable
      require(st.schema.isDefined, s"empty version at $root")
      return emptyLike(spark, st)
    }
    if (st.schema.isDefined) readState(spark, root, st)
    else readWithDvs(spark, root, st, st.files.map(_.path), mergeSchema)
  }

  /** The snapshot `st` as a DataFrame — format FileIndex relation
    * (PHYSICAL schema — what the files store), deletion vectors
    * applied, then projected back to the LOGICAL names. Shared by
    * [[read]] and the `graft-table` wrapped scan path.
    */
  private[graft] def readState(spark: SparkSession, root: String,
      st: CommitState): DataFrame = {
    val files = st.files.map(_.path)
    val base = graft.sources.GraftTableSource.readFor(spark, root, st)
    val withDvs = applyDvs(spark, root, base, files.flatMap(p => st.dvs.get(p)).map(_._1).distinct)
    st.schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
  }

  /** Read `paths` under `st`'s committed schema with their DELETION
    * VECTORS applied: one scan of the files, one (file, pos) anti-join
    * against the referenced sidecars (row identity =
    * `_metadata.file_path`/`row_index`, captured with the same
    * rendering at delete time). Files without a DV pay NOTHING extra —
    * the anti-join only ever matches rows of tombstoned files, and
    * when no read file carries a DV the plan is the plain scan.
    * Sidecars are fraction-bounded at write time ([[deleteWhere]]), so
    * the join's build side is small by construction.
    */
  private def readWithDvs(spark: SparkSession, root: String, st: CommitState,
      paths: Seq[String], mergeSchema: Boolean = false): DataFrame = {
    val base = st.schema match {
      case Some(s) => spark.read.schema(physicalSchema(s)).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
    }
    val withDvs = applyDvs(spark, root, base,
      paths.flatMap(p => st.dvs.get(p)).map(_._1).distinct)
    st.schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
  }

  /** Anti-join `base` (a parquet scan) against the (file, pos) rows of
    * `dvPaths`. No-op plan when `dvPaths` is empty. Both join sides
    * canonicalize to the ABSOLUTE data path: sidecar entries resolve
    * against their OWNING table's root ([[dvEntriesAbs]] — a clone's
    * foreign sidecars keep working), `_metadata.file_path` just sheds
    * its `file:` scheme. Legacy absolute entries pass through
    * unchanged, so the key is era-insensitive too.
    */
  private def applyDvs(spark: SparkSession, root: String, base: DataFrame,
      dvPaths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    if (dvPaths.isEmpty) base
    else {
      val dv = dvEntriesAbs(spark, root, dvPaths)
        .select(col("file").as("__gdv_file"), col("pos").as("__gdv_pos"))
      base
        .withColumn("__g_file", regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("__g_pos", col("_metadata.row_index"))
        .join(dv, col("__g_file") === col("__gdv_file") && col("__g_pos") === col("__gdv_pos"),
          "left_anti")
        .drop("__g_file", "__g_pos")
    }
  }

  // ------------------------------------------------------------------
  // IN-COMMIT TIMESTAMPS (the Delta ICT architecture, public): every
  // commit this writer promotes carries a `#TS <millis>` line stamped
  // at promote time and CLAMPED monotone against its parent
  // (max(wallclock, parentInstant + 1)), so timestamp time travel on
  // the audit/compliance path no longer depends on filesystem clocks —
  // a copied/restored table directory, a cross-writer clock skew, or
  // an object store rewriting mtimes cannot reorder history. Legacy
  // commits without the line fall back to the commit file's mtime,
  // resolved by a monotonized linear scan (running max), never a
  // silently-wrong binary search over unordered values.
  // ------------------------------------------------------------------

  /** The in-commit instant of the commit file at `p` (its `#TS` line),
    * None for legacy commits. HEAD-ONLY read: `#TS` is stamped
    * immediately after `#FORMAT`, so one bounded read — never the
    * O(#files) body — answers it.
    */
  private def commitInstant(f: FileSystem, p: Path): Option[Long] =
    try commitInstantStrict(f, p)
    catch { case scala.util.control.NonFatal(_) => None }

  /** [[commitInstant]] with read failures PROPAGATED (None means only
    * "legacy commit, no `#TS` line") — the writer's clamp path must
    * distinguish "parent is legacy" from "parent unreadable right now".
    */
  private def commitInstantStrict(f: FileSystem, p: Path): Option[Long] = {
    val in = f.open(p)
    val head =
      try {
        val buf = new Array[Byte](256)
        var off = 0
        var n = in.read(buf, 0, buf.length)
        while (n > 0 && off + n < buf.length) { off += n; n = in.read(buf, off, buf.length - off) }
        new String(buf, 0, math.max(0, off + math.max(0, n)), StandardCharsets.UTF_8)
      } finally in.close()
    head.split("\n").iterator.take(4).find(_.startsWith("#TS "))
      .flatMap(l => l.stripPrefix("#TS ").trim.toLongOption)
  }

  /** Insert the `#TS` stamp right after the leading `#FORMAT` line
    * (readers of every major skip unknown `#` lines, so no major
    * bump; [[commitInstant]] relies on the position).
    */
  private def stampTs(payload: Array[Byte], tsMillis: Long): Array[Byte] = {
    val text = new String(payload, StandardCharsets.UTF_8)
    val cut = text.indexOf('\n')
    val stamped =
      if (cut >= 0 && text.startsWith("#FORMAT "))
        text.substring(0, cut + 1) + s"#TS $tsMillis\n" + text.substring(cut + 1)
      else s"#TS $tsMillis\n" + text
    stamped.getBytes(StandardCharsets.UTF_8)
  }

  // root -> (version, instant) of the last commit THIS process promoted
  // or clamped against — a hint only; a miss re-reads the parent's head
  private val lastInstant =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** The effective commit instant of version `v`: its `#TS`, else the
    * commit file's mtime (legacy).
    */
  private def commitInstantOrMtime(f: FileSystem, root: String, v: Long): Long = {
    val p = commitPath(root, v)
    commitInstantStrict(f, p).getOrElse(f.getFileStatus(p).getModificationTime)
  }

  /** The instant to stamp into version `v`: wall clock, clamped to
    * strictly after the parent commit's effective instant (ICT
    * monotonicity — fast sequential commits tick +1 ms apart rather
    * than sharing a millisecond).
    *
    * A parent head-read failure must NOT degrade to an unclamped
    * stamp: [[versionAsOf]] trusts stamped instants to be monotone by
    * construction, so a silently-unclamped `#TS` under transient FS
    * trouble could reorder stamped history (and, through
    * `keepFromFor`, shrink a vacuum retention window). The read is
    * retried once, then the COMMIT FAILS loudly — with the one vacuous
    * exception of a parent commit file that provably does not exist
    * (nothing to be monotone against).
    */
  private def nextCommitInstant(f: FileSystem, root: String, v: Long): Long = {
    val now = System.currentTimeMillis()
    if (v <= 0) return now
    val parent = Option(lastInstant.get(root)).filter(_._1 == v - 1).map(_._2)
      .getOrElse {
        try commitInstantOrMtime(f, root, v - 1)
        catch {
          case _: java.io.FileNotFoundException => now - 1L
          case scala.util.control.NonFatal(_) =>
            try commitInstantOrMtime(f, root, v - 1)
            catch { case _: java.io.FileNotFoundException => now - 1L }
        }
      }
    math.max(now, parent + 1L)
  }

  /** TIME TRAVEL BY TIMESTAMP: the latest version whose commit instant
    * is at or before `tsMillis`. Stamped (`#TS`) instants are monotone
    * BY CONSTRUCTION (the writer clamp above), so the stamped era
    * BINARY-SEARCHES in O(log #versions) head-reads. Legacy commits
    * without the stamp carry no ordering guarantee — cross-writer
    * clock skew, copied table directories — so their era resolves by a
    * LINEAR scan over RUNNING-MAX-monotonized mtimes.
    *
    * The era boundary is decided ONCE from the log, never inferred
    * from whichever commits the answer search happens to probe: the
    * ICT floor (lowest version of the contiguous stamped suffix) is
    * found by binary search — stampedness is append-monotone for
    * every writer of this format, the stamp being unconditional. A
    * MIXED log (floor > 0) then resolves by the FULL monotonized
    * linear scan: the legacy prefix's mtimes carry no ordering
    * guarantee, and an interleaved old writer could even have left an
    * unstamped commit above the apparent floor — mixed-era logs are
    * transitional (the prefix vacuums away), so they pay O(#versions)
    * head-reads rather than any probe-luck window. Only an
    * ALL-STAMPED log (floor = 0, the steady state) binary-searches,
    * and even there any unstamped probe — counter-evidence against
    * the append-monotone invariant — degrades to the full scan.
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Option[Long] = {
    val f = fs(spark, root)
    val vs = claimedVersions(spark, root).sorted
    if (vs.isEmpty) return None
    val heads = new java.util.HashMap[Int, Option[Long]]()
    def instOf(i: Int): Option[Long] = {
      val cached = heads.get(i)
      if (cached != null) cached
      else {
        val v = commitInstant(f, commitPath(root, vs(i)))
        heads.put(i, v)
        v
      }
    }
    def rawOf(i: Int): Long = instOf(i).getOrElse(
      f.getFileStatus(commitPath(root, vs(i))).getModificationTime)
    // ICT floor: lowest index of the contiguous stamped suffix
    // (vs.size when the newest commit itself is unstamped — no ICT era)
    val floor =
      if (instOf(vs.size - 1).isEmpty) vs.size
      else {
        var lo = 0; var hi = vs.size - 1; var fl = vs.size - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (instOf(mid).isDefined) { fl = mid; hi = mid - 1 } else lo = mid + 1
        }
        fl
      }
    def linearMonotonized(): Int = {
      var ans = -1; var run = Long.MinValue; var i = 0; var break = false
      while (i < vs.size && !break) {
        run = math.max(run, rawOf(i))
        if (run <= tsMillis) ans = i else break = true
        i += 1
      }
      ans
    }
    var ans = -1
    if (floor > 0) ans = linearMonotonized() // mixed or pure-legacy era
    else {
      // all-stamped log: instants are monotone by the writer clamp —
      // binary search; any unstamped probe degrades to the full scan
      var broken = false
      var lo = 0; var hi = vs.size - 1
      while (lo <= hi && !broken) {
        val mid = (lo + hi) >>> 1
        instOf(mid) match {
          case Some(t) => if (t <= tsMillis) { ans = mid; lo = mid + 1 } else hi = mid - 1
          case None => broken = true
        }
      }
      if (broken) ans = linearMonotonized()
    }
    (ans to 0 by -1).iterator.map(vs)
      .find(v => readRaw(f, commitPath(root, v)).isDefined)
  }

  /** [[read]] at the version current as of `tsMillis` ("AS OF TIMESTAMP"). */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis).getOrElse(
      throw new IllegalArgumentException(s"no version committed at or before $tsMillis at $root"))))

  // ------------------------------------------------------------------
  // Atomic commit: full content to a temp file, then one atomic
  // claim-with-content promote.
  // ------------------------------------------------------------------

  /** Highest commit-protocol major this READER understands. Readers
    * tolerate a missing header (legacy commits) and any minor
    * additions, but REFUSE a higher major loudly — a future reader must
    * be able to distinguish "legacy line" from "feature I don't
    * understand" instead of silently misreading it.
    *
    * Writers emit the LOWEST major whose semantics the commit uses:
    * major 1 for self-contained full listings without deletion vectors
    * (any historical reader serves them correctly), major 2 the moment
    * a commit carries `#DV` tombstones (a major-1 reader would skip the
    * unknown lines and serve DELETED rows) or is an incremental
    * `#BASE`/`#RM` delta (a major-1 reader would mistake the adds for
    * the whole table) — semantics-changing features must bump the
    * major, the reason Delta bumps readerVersion for DVs. Major 4
    * marks a CHECKPOINT whose file listing lives in a `#FILESPQ`
    * parquet dataset (a ≤3 reader would parse it as an EMPTY table —
    * the major makes it refuse loudly instead); ordinary commits never
    * exceed 3.
    */
  private val FormatMajor = 4

  /** Every named table feature THIS reader/writer implements. Writers
    * stamp the subset a commit actually uses as a `#FEATURES` line;
    * readers refuse only missing features, by name
    * ([[parseCommitText]]).
    */
  private[graft] val SupportedFeatures: Set[String] = Set(
    "dv", // deletion-vector tombstones (#DV)
    "columnMapping", // physical-name column mapping in #SCHEMA
    "relativePaths", // root-relative stored paths
    "dropped", // dropped-column registry (#DROPPED)
    "props", // table properties (#PROP)
    "delta", // incremental #BASE/#RM commits
    "filesPq", // parquet-backed checkpoint listing (#FILESPQ)
    "ict") // in-commit timestamps (#TS)

  /** The `#FEATURES` line for a commit that uses `used` (sorted for
    * byte-stable rendering); empty when the commit needs none beyond
    * the major-1 baseline.
    */
  private def featuresLine(used: Set[String]): String =
    if (used.isEmpty) "" else s"#FEATURES ${used.toSeq.sorted.mkString(",")}\n"

  private def renderFull(root: String, st: CommitState, op: String = "",
      cdf: Seq[String] = Nil): Array[Byte] = {
    val sb = new StringBuilder
    // majors track semantics: 2 for DV tombstones (a major-1 reader
    // would serve deleted rows), a dropped-column registry (a major-1
    // WRITER would resurrect dropped data on re-add), column mapping
    // (a pre-mapping reader would read logical names against physical
    // files and serve nulls), and table properties (a props-blind
    // WRITER would silently stop honoring behaviors the table
    // declared); 3 when any stored path is RELATIVE (a pre-relative
    // reader would fail loudly on resolution — never wrong data, but
    // the major keeps the refusal at parse time where it belongs)
    val hasRelative = st.files.exists(fe => relNorm(root, fe.path) != canonAbs(fe.path)) ||
      st.dvs.exists { case (p, (dv, _)) =>
        relNorm(root, p) != canonAbs(p) || relNorm(root, dv) != canonAbs(dv) }
    val major =
      if (hasRelative) 3
      else if (st.dvs.nonEmpty || st.dropped.nonEmpty || st.props.nonEmpty ||
        st.schema.exists(mappingActive)) 2 else 1
    sb.append("#FORMAT ").append(major).append('\n')
    sb.append(featuresLine(
      Set("dv").filter(_ => st.dvs.nonEmpty) ++
      Set("dropped").filter(_ => st.dropped.nonEmpty) ++
      Set("props").filter(_ => st.props.nonEmpty) ++
      Set("columnMapping").filter(_ => st.schema.exists(mappingActive)) ++
      Set("relativePaths").filter(_ => hasRelative)))
    // informational audit line (DESCRIBE HISTORY parity): readers of any
    // major skip unknown # lines, so no version bump
    if (op.nonEmpty) sb.append("#OP ").append(enc(op)).append('\n')
    // per-commit STEP record: change-data sidecars written by this
    // commit (a reader that skips them falls back to diff-derived
    // insert/delete changes — degraded fidelity, never wrong rows)
    cdf.foreach(d => sb.append("#CDF ").append(enc(d)).append('\n'))
    st.schemaJson.foreach(j => sb.append("#SCHEMA ").append(j).append('\n'))
    if (st.partCols.nonEmpty)
      sb.append("#PART ").append(st.partCols.map(enc).mkString(",")).append('\n')
    st.txns.toSeq.sortBy(_._1).foreach { case (a, b) =>
      sb.append("#TXN ").append(a).append(' ').append(b).append('\n') }
    st.checks.toSeq.sortBy(_._1).foreach { case (n, e) =>
      sb.append("#CHECK ").append(enc(n)).append(' ').append(enc(e)).append('\n') }
    st.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("#PROP ").append(enc(k)).append(' ').append(enc(v)).append('\n') }
    st.dvs.toSeq.sortBy(_._1).foreach { case (p, (dv, n)) =>
      sb.append("#DV ").append(enc(relNorm(root, p))).append(' ')
        .append(enc(relNorm(root, dv))).append(' ').append(n).append('\n') }
    st.dropped.toSeq.sorted.foreach { d =>
      sb.append("#DROPPED ").append(enc(d)).append('\n') }
    st.files.foreach(fe => sb.append(renderFileLine(root)(fe)).append('\n'))
    sb.append(s"#END ${st.files.size}\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Render the checkpoint TEXT for a PARQUET-backed listing: every
    * scalar section inline, the O(#files) file lines and `#DV`
    * references delegated to the `#FILESPQ` dataset. Format major 4 —
    * a pre-parquet reader would parse this as an EMPTY table, so the
    * major makes it refuse loudly instead ([[FormatMajor]]).
    */
  private def renderFullRef(root: String, st: CommitState,
      ref: PqRef): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("#FORMAT 4\n")
    sb.append(featuresLine(
      Set("filesPq", "relativePaths") ++
      Set("dv").filter(_ => ref.nDv.exists(_ > 0)) ++
      Set("dropped").filter(_ => st.dropped.nonEmpty) ++
      Set("props").filter(_ => st.props.nonEmpty) ++
      Set("columnMapping").filter(_ => st.schema.exists(mappingActive))))
    sb.append("#FILESPQ ").append(enc(ref.name)).append(' ').append(ref.count)
    // scalar totals (bytes, DV'd-file count): cold pushed snapshots
    // answer sizeInBytes / the no-DV case with zero jobs
    ref.bytes.foreach { b =>
      sb.append(' ').append(b)
      ref.nDv.foreach(n => sb.append(' ').append(n))
    }
    sb.append('\n')
    st.schemaJson.foreach(j => sb.append("#SCHEMA ").append(j).append('\n'))
    if (st.partCols.nonEmpty)
      sb.append("#PART ").append(st.partCols.map(enc).mkString(",")).append('\n')
    st.txns.toSeq.sortBy(_._1).foreach { case (a, b) =>
      sb.append("#TXN ").append(a).append(' ').append(b).append('\n') }
    st.checks.toSeq.sortBy(_._1).foreach { case (n, e) =>
      sb.append("#CHECK ").append(enc(n)).append(' ').append(enc(e)).append('\n') }
    st.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("#PROP ").append(enc(k)).append(' ').append(enc(v)).append('\n') }
    st.dropped.toSeq.sorted.foreach { d =>
      sb.append("#DROPPED ").append(enc(d)).append('\n') }
    sb.append("#END 0\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** Render `st` as an O(delta) INCREMENTAL commit against `(baseV,
    * baseSt)` when the step is delta-expressible AND actually smaller;
    * None falls back to a full listing. Inexpressible (rare, all served
    * fine by full commits): constraint or partition-declaration
    * changes, a schema "removal", a shared path whose entry or
    * deletion-vector reference changed outside the set/remove rules,
    * or a file reorder (every writer builds `kept ++ added`, so order
    * holds naturally — [[restore]] is the one that reorders).
    */
  private def tryRenderDelta(root: String, baseV: Long, baseSt: CommitState,
      st: CommitState, op: String, cdf: Seq[String] = Nil): Option[Array[Byte]] = {
    if (baseSt.partCols != st.partCols || baseSt.checks != st.checks) return None
    if (baseSt.dropped != st.dropped) return None // drops are rare: full commit
    if (baseSt.props != st.props) return None // property changes are rare: full commit
    if (st.schemaJson.isEmpty && baseSt.schemaJson.nonEmpty) return None
    val baseByPath = baseSt.files.map(fe => fe.path -> fe).toMap
    val newPaths = st.files.map(_.path).toSet
    val removes = baseSt.files.map(_.path).filterNot(newPaths).toSet
    val adds = st.files.filterNot(fe => baseByPath.contains(fe.path))
    if (removes.size + adds.size >= st.files.size) return None // full is no bigger
    // reconstruction must reproduce the exact state, file order included
    if (baseSt.files.filterNot(fe => removes(fe.path)) ++ adds != st.files) return None
    val txnDelta = st.txns.filter { case (a, b) => !baseSt.txns.get(a).contains(b) }
    if (baseSt.txns ++ txnDelta != st.txns) return None
    val dvDelta = st.dvs.filter { case (p, r) => !baseSt.dvs.get(p).contains(r) }
    if ((baseSt.dvs -- removes) ++ dvDelta != st.dvs) return None
    Some(renderDeltaParts(root, baseV, adds, removes, dvDelta,
      if (st.schemaJson != baseSt.schemaJson) st.schemaJson else None,
      txnDelta, op, cdf))
  }

  /** Render an incremental commit from its PARTS — shared by
    * [[tryRenderDelta]] (parts diffed from two full states) and
    * [[tryCommitDelta]] (parts supplied directly by the writer, no
    * state ever materialized). Major 2; major 3 when any stored path
    * is relative (see renderFull).
    */
  private def renderDeltaParts(root: String, baseV: Long, adds: Seq[FileEntry],
      removes: Set[String], dvDelta: Map[String, (String, Long)],
      schemaJson: Option[String], txnDelta: Map[String, Long],
      op: String, cdf: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder
    val deltaHasRel = adds.exists(fe => relNorm(root, fe.path) != canonAbs(fe.path)) ||
      removes.exists(p => relNorm(root, p) != canonAbs(p)) ||
      dvDelta.exists { case (p, (dv, _)) =>
        relNorm(root, p) != canonAbs(p) || relNorm(root, dv) != canonAbs(dv) }
    sb.append(if (deltaHasRel) "#FORMAT 3\n" else "#FORMAT 2\n")
    sb.append(featuresLine(
      Set("delta") ++
      Set("dv").filter(_ => dvDelta.nonEmpty) ++
      Set("relativePaths").filter(_ => deltaHasRel)))
    if (op.nonEmpty) sb.append("#OP ").append(enc(op)).append('\n')
    cdf.foreach(d => sb.append("#CDF ").append(enc(d)).append('\n'))
    sb.append("#BASE ").append(baseV).append('\n')
    schemaJson.foreach(j => sb.append("#SCHEMA ").append(j).append('\n'))
    txnDelta.toSeq.sortBy(_._1).foreach { case (a, b) =>
      sb.append("#TXN ").append(a).append(' ').append(b).append('\n') }
    dvDelta.toSeq.sortBy(_._1).foreach { case (p, (dv, n)) =>
      sb.append("#DV ").append(enc(relNorm(root, p))).append(' ')
        .append(enc(relNorm(root, dv))).append(' ').append(n).append('\n') }
    removes.toSeq.sorted.foreach(p =>
      sb.append("#RM ").append(enc(relNorm(root, p))).append('\n'))
    adds.foreach(fe => sb.append(renderFileLine(root)(fe)).append('\n'))
    sb.append(s"#END ${adds.size}\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** O(delta) DIRECT COMMIT — the write-path completion of filtered
    * checkpoint reconstruction: claim version `v` rendered straight
    * from the writer's own (adds, removes, DV delta, txn delta)
    * against `#BASE baseV`, never materializing the base listing. The
    * reconstruction contract is [[DeltaCommit.applyTo]]'s, identical
    * to what [[tryRenderDelta]] would have produced from full states:
    * files = base.filterNot(removes) ++ adds, a removed file's DV dies
    * with it, absent scalar sections inherit. Every Nth version still
    * drops a checkpoint — the ONE amortized O(#files) materialization
    * a big table's write path keeps.
    */
  private def tryCommitDelta(spark: SparkSession, root: String, v: Long,
      baseV: Long, adds: Seq[FileEntry], removes: Set[String] = Set.empty,
      dvDelta: Map[String, (String, Long)] = Map.empty,
      schemaJson: Option[String] = None,
      txnDelta: Map[String, Long] = Map.empty,
      op: String = "", cdf: Seq[String] = Nil): Boolean = timed("commit") {
    val f = fs(spark, root)
    f.mkdirs(versionsDir(root))
    val target = commitPath(root, v)
    if (f.exists(target)) return false // cheap pre-check; the claim is the gate
    val ict = nextCommitInstant(f, root, v)
    val ok = logStoreFor(spark, f).putIfAbsent(f, versionsDir(root), target,
      stampTs(renderDeltaParts(root, baseV, adds, removes, dvDelta, schemaJson,
        txnDelta, op, cdf), ict))
    if (ok) {
      lastInstant.put(root, (v, ict))
      val k = checkpointInterval(spark)
      if (k > 0 && v > 0 && (v % k == 0 || ckptPending.contains(root))) {
        // big tables: author the checkpoint INCREMENTALLY as a
        // distributed job over the previous checkpoint + this tail —
        // never materializing the O(#files) listing on the driver; a
        // table crossing the threshold before its FIRST checkpoint
        // authors from the delta chain's own commit text instead
        if (writeCheckpointIncremental(spark, root, v) ||
          writeCheckpointFirstDistributed(spark, root, v)) { ckptPending.remove(root); () }
        else readCommitState(spark, root, v) match {
          // a failed/skipped checkpoint is OBSERVABLE and RETRIED at the
          // very next commit, not silently deferred to the next v%k==0 —
          // repeated silent skips would let the delta tail grow unboundedly
          case Some(st) => writeCheckpoint(spark, root, v, st); ckptPending.remove(root); ()
          case None => ckptSkips.incrementAndGet(); ckptPending.add(root); ()
        }
      }
    }
    ok
  }

  /** Checkpoint attempts skipped because the just-committed state could
    * not be reconstructed at that instant (transient FS hiccup) —
    * observability for an otherwise best-effort step; pairs with the
    * next-commit retry above.
    */
  private[graft] val ckptSkips = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ckptPending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The raw DELTA commits covering (planV, baseV], oldest-first — the
    * pushed writer's conflict-check window: O(interleaved commits),
    * never O(#files). None when any link is missing, torn, a full
    * commit, or the chain does not land exactly on `planV` — the
    * caller then falls back to the materialized check.
    */
  private def walkDeltas(spark: SparkSession, root: String, planV: Long,
      baseV: Long): Option[Seq[DeltaCommit]] = {
    if (baseV == planV) return Some(Nil)
    if (baseV < planV) return None
    val f = fs(spark, root)
    var out = List.empty[DeltaCommit]
    var cur = baseV
    while (cur > planV) {
      readRaw(f, commitPath(root, cur)) match {
        case Some(d: DeltaCommit) if d.base >= planV && d.base < cur =>
          out = d :: out; cur = d.base
        case _ => return None
      }
    }
    Some(out)
  }

  private def renderCommit(root: String, st: CommitState,
      base: Option[(Long, CommitState)], op: String,
      cdf: Seq[String] = Nil): Array[Byte] =
    base.flatMap { case (bv, bst) => tryRenderDelta(root, bv, bst, st, op, cdf) }
      .getOrElse(renderFull(root, st, op, cdf))

  // ------------------------------------------------------------------
  // OBJECT-STORE COMMIT SEAM (the Delta LogStore architecture): the
  // one primitive the whole commit protocol rests on — "publish these
  // bytes at this name IFF the name is unclaimed, atomically, never
  // torn-visible". HDFS/local renames are atomic and refuse an
  // existing destination, so temp-write + rename IS that primitive
  // there; on GCS/S3 the Hadoop connectors implement rename as
  // copy+delete (non-atomic, and it CLOBBERS), so those stores must
  // claim via their native atomic create-if-absent (conditional PUT —
  // the object only becomes visible when the preconditioned upload
  // completes). Scheme-unknown filesystems REFUSE loudly instead of
  // silently assuming rename atomicity.
  // ------------------------------------------------------------------

  /** The commit-claim contract: exactly-once name claiming with
    * content. Implementations must be atomic (two racing claims of one
    * name: exactly one true) and never leave a torn target visible.
    */
  private[graft] sealed trait LogStore {
    def putIfAbsent(f: FileSystem, dir: Path, target: Path, content: Array[Byte]): Boolean
  }

  /** Rename-based claim for stores whose rename is atomic and fails on
    * an existing destination (HDFS namenode, viewfs). Local
    * filesystems claim via link(2) — create-if-absent with content,
    * atomic in the kernel.
    */
  private[graft] object RenameLogStore extends LogStore {
    def putIfAbsent(f: FileSystem, dir: Path, target: Path, content: Array[Byte]): Boolean = {
      val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(content) finally out.close()
      val ok =
        if ("file" == Option(f.getUri.getScheme).getOrElse("file")) {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(target.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: java.io.IOException => false
          }
        } else {
          try f.rename(tmp, target)
          catch { case _: java.io.IOException => false }
        }
      f.delete(tmp, false)
      ok
    }
  }

  /** Conditional-create claim for stores whose `create(overwrite =
    * false)` is an atomic all-or-nothing publish: object stores map it
    * to a preconditioned upload (GCS if-generation-match=0, S3
    * If-None-Match) — the object is visible only once the complete
    * upload commits, so there is no torn-visible window and no tmp
    * file to clean. NOT safe on raw HDFS (create-then-write leaves a
    * torn file visible on a crash mid-write) — HDFS stays on
    * [[RenameLogStore]].
    */
  private[graft] object ConditionalCreateLogStore extends LogStore {
    def putIfAbsent(f: FileSystem, dir: Path, target: Path, content: Array[Byte]): Boolean =
      try {
        val out = f.create(target, false)
        try out.write(content) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
  }

  /** Resolve the claim implementation for `f`'s scheme: the session
    * conf `graft.table.logstore.<scheme>` (`rename` |
    * `conditional-create`) wins; otherwise rename-atomic schemes map
    * to [[RenameLogStore]], GCS to [[ConditionalCreateLogStore]]
    * (its connector publishes `create(overwrite = false)` with
    * if-generation-match=0 — visible only on complete commit), and
    * EVERYTHING ELSE throws. S3 schemes are deliberately NOT
    * defaulted: on the Hadoop S3A line shipped with Spark 4.x,
    * `create(false)` is HEAD-check-then-PUT-on-close — two racing
    * claimants can both return true and the later close silently
    * clobbers the earlier commit, a lost commit in exactly the race
    * this seam exists to prevent. Conditional PUT (If-None-Match)
    * needs Hadoop >= 3.4.2 WITH `fs.s3a.create.conditional` enabled;
    * opt in via `graft.table.logstore.s3a = conditional-create` only
    * once that holds. ABFS/WASB likewise make the target visible
    * EMPTY at create() (torn-visible window), so they refuse too.
    */
  private[graft] def logStoreFor(spark: SparkSession, f: FileSystem): LogStore = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    spark.conf.get(s"graft.table.logstore.$scheme", "") match {
      case "rename" => RenameLogStore
      case "conditional-create" => ConditionalCreateLogStore
      case "" => scheme match {
        case "file" | "hdfs" | "viewfs" => RenameLogStore
        case "gs" => ConditionalCreateLogStore
        case s @ ("s3" | "s3a" | "s3n") => throw new IllegalStateException(
          s"commit LogStore for '$s' requires atomic conditional PUT, which the stock " +
            "Hadoop S3A client does NOT provide (create(overwrite=false) is " +
            "check-then-put: racing committers can silently clobber each other). " +
            "Confirm Hadoop >= 3.4.2 with fs.s3a.create.conditional=true, then set " +
            s"graft.table.logstore.$s = conditional-create; or front S3 with an " +
            s"atomic-rename layer and set graft.table.logstore.$s = rename")
        case s @ ("abfs" | "abfss" | "wasb" | "wasbs") => throw new IllegalStateException(
          s"commit LogStore for '$s' cannot default safely: the Azure connectors make " +
            "the target visible EMPTY at create(), breaking the never-torn-visible " +
            s"claim contract. Set graft.table.logstore.$s explicitly ('conditional-create' " +
            "only if the connector is confirmed to publish atomically; 'rename' only on " +
            "a namespace-enabled ABFS account where rename is atomic)")
        case other => throw new IllegalStateException(
          s"no commit LogStore known for filesystem scheme '$other' — rename atomicity " +
            s"cannot be assumed there; set graft.table.logstore.$other to 'rename' " +
            "(atomic-rename stores) or 'conditional-create' (atomic create-if-absent stores)")
      }
      case bad => throw new IllegalArgumentException(
        s"graft.table.logstore.$scheme = '$bad'; expected 'rename' or 'conditional-create'")
    }
  }

  /** Write commit `v` (incremental against `base` when expressible) and
    * promote it atomically through the scheme's [[LogStore]]. On
    * success, every Nth commit also drops a CHECKPOINT (see
    * [[writeCheckpoint]]) so readers reconstruct any version from one
    * checkpoint + a bounded delta tail.
    */
  private[graft] def tryCommit(spark: SparkSession, root: String, v: Long, st: CommitState,
      base: Option[(Long, CommitState)] = None, op: String = "",
      cdf: Seq[String] = Nil): Boolean = timed("commit") {
    val f = fs(spark, root)
    f.mkdirs(versionsDir(root))
    val target = commitPath(root, v)
    if (f.exists(target)) return false // cheap pre-check; the claim is the real gate
    val ict = nextCommitInstant(f, root, v)
    val ok = logStoreFor(spark, f).putIfAbsent(f, versionsDir(root), target,
      stampTs(renderCommit(root, st, base, op, cdf), ict))
    if (ok) {
      lastInstant.put(root, (v, ict))
      maybeCheckpoint(spark, root, v, st)
    }
    ok
  }

  /** Checkpoint cadence: every Nth version gets a full-state sidecar
    * (session conf `graft.table.checkpointInterval`, default 10; ≤0
    * disables). Bounds every reader's delta-tail walk to N commits —
    * the Delta `_last_checkpoint` architecture.
    */
  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.get("graft.table.checkpointInterval", "10").toInt

  private def maybeCheckpoint(spark: SparkSession, root: String, v: Long,
      st: CommitState): Unit = {
    val k = checkpointInterval(spark)
    if (k > 0 && v > 0 && v % k == 0) writeCheckpoint(spark, root, v, st)
  }

  /** File-count threshold above which checkpoints store their listing
    * as a PARQUET dataset (`v<N>.ckptpq/`, format major 4) instead of
    * text lines: columnar, distributed-decodable — at 1M files the
    * text form is ~100 MB of single-threaded driver parse per cold
    * read, the parquet form a parallel job over columnar batches.
    * Session conf `graft.table.parquetCheckpointThreshold`; ≤0
    * disables the parquet form entirely.
    */
  private def parquetCheckpointThreshold(spark: SparkSession): Int =
    spark.conf.get("graft.table.parquetCheckpointThreshold", "50000").toInt

  /** Stage the parquet listing for a checkpoint of `st` at version `v`:
    * one row per file entry (order-preserving `idx`, partition values,
    * stats, inlined DV reference), written to a temp dir and renamed
    * to `v<N>.ckptpq`. Returns the [[PqRef]] (name, row count, scalar
    * totals) on success, None on ANY failure (the caller then writes
    * the self-contained text form — parquet checkpoints are an
    * optimization, never a correctness dependency).
    */
  private def writeCheckpointParquet(spark: SparkSession, root: String, v: Long,
      st: CommitState): Option[PqRef] =
    try {
      import spark.implicits._
      val f = fs(spark, root)
      val name = s"v$v.ckptpq"
      val target = new Path(versionsDir(root), name)
      val ref = PqRef(name, st.files.size.toLong,
        Some(st.files.map(_.bytes).sum), Some(st.dvs.size.toLong))
      if (f.exists(target)) return Some(ref)
      val rows = st.files.zipWithIndex.map { case (fe, i) =>
        CkptFileRow(i.toLong, relNorm(root, fe.path), fe.bytes, fe.rows, fe.part,
          fe.stats.map { case (c, s) =>
            c -> CkptStatsRow(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls) },
          st.dvs.get(fe.path).map(d => relNorm(root, d._1)),
          st.dvs.get(fe.path).map(_._2))
      }
      val tmp = new Path(versionsDir(root), s".tmp-ckptpq-${java.util.UUID.randomUUID()}")
      // parallelize (not createDataset of a local Seq) so the encode and
      // write distribute; ~100k entries per output file
      val slices = math.max(1, math.min(32, rows.size / 100000))
      spark.createDataset(spark.sparkContext.parallelize(rows, slices))
        .write.options(WriteOpts.marker).parquet(tmp.toString)
      if (f.rename(tmp, target)) Some(ref)
      else {
        f.delete(tmp, true)
        if (f.exists(target)) Some(ref) else None // raced twin wrote it
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Checkpoints authored by the incremental DISTRIBUTED path (vs the
    * driver render) — the observable [[writeCheckpointIncremental]]'s
    * spec pins.
    */
  private[graft] val ckptIncrementals = new java.util.concurrent.atomic.AtomicLong(0L)

  /** INCREMENTAL DISTRIBUTED CHECKPOINT AUTHORING (the Delta
    * incremental-checkpoint architecture, public): derive `v<N>.ckptpq`
    * from the PREVIOUS parquet checkpoint dataset + the ≤N delta tail
    * as a distributed job — the base listing is read columnar on
    * executors, tail removes anti-join away, tail deletion-vector
    * updates patch in, and the tail's adds append AFTER the base order
    * (exactly [[DeltaCommit.applyTo]]'s `kept ++ adds` contract, so
    * [[resolveCkpt]] reconstructs the same state bit-for-bit). This
    * removes the last O(#files) driver materialization on the write
    * path: the periodic checkpoint now costs O(delta) driver work +
    * one metadata-sized distributed job. Returns false — caller falls
    * back to the materialize-then-render path — when the chain does
    * not bottom out at a parquet checkpoint or the table is below the
    * parquet threshold (the driver render IS the right small-table
    * path).
    */
  private def writeCheckpointIncremental(spark: SparkSession, root: String,
      v: Long): Boolean = try {
    val f = fs(spark, root)
    if (f.exists(checkpointPath(root, v))) return true
    val pqT = parquetCheckpointThreshold(spark)
    if (pqT <= 0) return false
    val l = pushedListing(spark, root, Some(v)).getOrElse(return false)
    if (l.totalFiles < pqT) return false
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum, when}
    val name = s"v$v.ckptpq"
    val target = new Path(versionsDir(root), name)
    if (!f.exists(target)) {
      val base = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      // both sides of every path comparison in the canonical STORED
      // form ([[relNorm]]): checkpoint rows store it already, the tail
      // parsed to absolute
      val removesRel = l.tailRemoves.toSeq.map(p => relNorm(root, p))
      val dvRel = l.tailDvSets.toSeq.map { case (p, (d, n)) =>
        (relNorm(root, p), relNorm(root, d), n) }
      val kept0 =
        if (removesRel.isEmpty) base
        else base.join(removesRel.toDF("path"), Seq("path"), "left_anti")
      val kept =
        if (dvRel.isEmpty) kept0
        else kept0.join(dvRel.toDF("path", "__g_dvF", "__g_dvN"), Seq("path"), "left_outer")
          .withColumn("dvRows",
            when(col("__g_dvF").isNotNull, col("__g_dvN")).otherwise(col("dvRows")))
          .withColumn("dvFile", coalesce(col("__g_dvF"), col("dvFile")))
          .drop("__g_dvF", "__g_dvN")
      // adds keep commit order AFTER every base row: idx from the base's
      // max (one single-column columnar job)
      val maxIdx =
        if (l.tailAdds.isEmpty) 0L
        else Option(base.agg(max("idx")).head().get(0)).fold(-1L)(_.asInstanceOf[Long])
      val addRows = l.tailAdds.zipWithIndex.map { case (fe, i) =>
        CkptFileRow(maxIdx + 1 + i, relNorm(root, fe.path), fe.bytes, fe.rows, fe.part,
          fe.stats.map { case (c, s) =>
            c -> CkptStatsRow(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls) },
          l.tailDvSets.get(fe.path).map(d => relNorm(root, d._1)),
          l.tailDvSets.get(fe.path).map(_._2))
      }
      val cols = ckptRowSchema.fieldNames.map(col).toSeq
      val outDs = kept.select(cols: _*)
        .unionByName(spark.createDataset(addRows).select(cols: _*))
      val tmp = new Path(versionsDir(root), s".tmp-ckptpq-${java.util.UUID.randomUUID()}")
      outDs.write.options(WriteOpts.marker).parquet(tmp.toString)
      if (!f.rename(tmp, target)) {
        f.delete(tmp, true)
        if (!f.exists(target)) return false // raced twin? absent: give up
      }
    }
    // exact scalar totals from the WRITTEN dataset (distributed,
    // columnar): the #FILESPQ line must carry the true row count —
    // resolveCkpt treats a mismatch as an incomplete checkpoint
    val agg = spark.read.schema(ckptRowSchema).parquet(target.toString)
      .agg(count(lit(1)), sum("bytes"), count("dvFile")).head()
    val ref = PqRef(name, agg.getLong(0),
      Some(if (agg.isNullAt(1)) 0L else agg.getLong(1)), Some(agg.getLong(2)))
    publishCheckpointText(spark, root, v, renderFullRef(root, l.scalar, ref))
    ckptIncrementals.incrementAndGet()
    true
  } catch { case scala.util.control.NonFatal(_) => false }

  /** Times the DISTRIBUTED FIRST-CHECKPOINT author ran (spec pin). */
  private[graft] val ckptFirstDistributed = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stream ONE commit file keeping only its `#` metadata lines: the
    * scalar sections parse through [[parseCommitText]] against an
    * `#END 0` tail, the O(#files) add lines are COUNTED and discarded —
    * the first-checkpoint walk's driver memory is O(metadata), never
    * O(#files). None when absent or torn (missing/mismatched `#END`,
    * content after it).
    */
  private def scanCommitScalarOnly(f: FileSystem, p: Path): Option[(RawCommit, Long)] =
    try {
      if (!f.exists(p)) return None
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(f.open(p), StandardCharsets.UTF_8))
      val metas = Vector.newBuilder[String]
      var nFiles = 0L
      var endN = -1L
      var torn = false
      try {
        var l = br.readLine()
        while (l != null) {
          if (l.nonEmpty) {
            if (endN >= 0) torn = true // content after #END
            else if (l.startsWith("#END ")) endN = l.stripPrefix("#END ").trim.toLong
            else if (l.startsWith("#")) metas += l
            else nFiles += 1
          }
          l = br.readLine()
        }
      } finally br.close()
      if (torn || endN != nFiles) return None
      val text = (metas.result() :+ "#END 0").mkString("\n")
      parseCommitText(text, p).map(rc => (rc, nFiles))
    } catch { case scala.util.control.NonFatal(_) => None }

  // (path, mtime, len) → (scalar-only RawCommit, add-line count): the
  // scalar walk re-reads the same immutable commit files every append
  // until the first checkpoint lands — a bulk-load commit's text is
  // tens of MB, so the stream is paid once per file, not per append
  private val scalarScanCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), (RawCommit, Long)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), (RawCommit, Long)]): Boolean = size > 64
    })

  private def scanCommitScalarOnlyCached(f: FileSystem, p: Path): Option[(RawCommit, Long)] = {
    val key = cacheKey(f, p).getOrElse(return None)
    val hit = Option(scalarScanCache.get(key))
    if (hit.isDefined) return hit
    val v = scanCommitScalarOnly(f, p)
    v.foreach(scalarScanCache.put(key, _))
    v
  }

  /** Version `v`'s SCALAR state (schema, partition columns, checks,
    * txns, props, dropped — `files`/`dvs` EMPTY by construction),
    * reconstructed without ever parsing an add line: walk the chain
    * down to the nearest full commit or checkpoint through
    * [[scanCommitScalarOnly]] (streamed, `#` lines only) and fold the
    * scalar sections forward. This is what lets a BULK-LOADED table's
    * appends commit O(delta) BEFORE its first parquet checkpoint
    * exists — the append path needs exactly this scalar state, and
    * materializing 200k file entries to read a schema was the last
    * bootstrap-path O(#files) driver cost. None when any link is
    * missing/torn, the walk exceeds a sanity bound (checkpoint cadence
    * bounds real chains), or a filesPq checkpoint text is unreadable.
    */
  private def scalarStateAt(spark: SparkSession, root: String,
      v: Long): Option[CommitState] = {
    val f = fs(spark, root)
    var links = List.empty[RawCommit] // oldest-first when done
    var cur = v
    var bottom: CommitState = null
    var steps = 0
    while (bottom == null) {
      steps += 1
      if (steps > 512) return None // unbounded chain: materialized path decides
      val fromCkpt =
        if (cur == v) None // the target's own checkpoint may not exist yet
        else scanCommitScalarOnlyCached(f, checkpointPath(root, cur)).collect {
          case (fc: FullCommit, _) => fc.st.copy(files = Seq.empty, dvs = Map.empty)
        }
      fromCkpt match {
        case Some(st) => bottom = st
        case None =>
          scanCommitScalarOnlyCached(f, commitPath(root, cur)) match {
            case Some((fc: FullCommit, _)) =>
              bottom = fc.st.copy(files = Seq.empty, dvs = Map.empty)
            case Some((d: DeltaCommit, _)) =>
              if (d.base >= cur) return None
              links ::= d
              cur = d.base
            case _ => return None
          }
      }
    }
    var scalar = bottom
    links.foreach { case d: DeltaCommit =>
      scalar = d.applyTo(scalar).copy(files = Seq.empty, dvs = Map.empty)
    case _ => () }
    Some(scalar)
  }

  /** DISTRIBUTED FIRST CHECKPOINT: a bulk-loaded table that crosses the
    * parquet threshold BEFORE its first checkpoint has no prior ckptpq
    * for [[writeCheckpointIncremental]] to extend — but its delta chain
    * down to the bottom full commit already holds every add as commit
    * text, which IS the distributed input a first-checkpoint job needs.
    * The driver walks the chain SCALAR-ONLY (`#` lines streamed out,
    * add lines counted and discarded — O(metadata) memory), folds the
    * scalar state / removes / DV map exactly as [[DeltaCommit.applyTo]]
    * does, and one Spark job parses each commit's add lines on
    * executors ([[FirstCkptScan]]), applies the survivor rule
    * relationally (an add survives iff no LATER commit removes its
    * path — `applyTo`'s `filterNot(removes) ++ adds` fold, expressed
    * per-row), restores the fold's exact order by (commit, position),
    * and writes the ckptpq dataset. Zero O(#files) driver
    * materializations, bit-identical reconstruction.
    *
    * Returns false — caller falls back to the materialize-then-render
    * path — when any chain link is missing/torn, a prior checkpoint
    * sidecar exists below `v` (the incremental/driver paths own that
    * shape), or the table is below the parquet threshold.
    */
  private def writeCheckpointFirstDistributed(spark: SparkSession, root: String,
      v: Long): Boolean = try {
    val f = fs(spark, root)
    if (f.exists(checkpointPath(root, v))) return true
    val pqT = parquetCheckpointThreshold(spark)
    if (pqT <= 0) return false
    // scalar-only chain walk v → bottom FULL commit
    var links = List.empty[(Long, RawCommit, Long)] // oldest-first when done
    var cur = v
    var bottom = false
    while (!bottom) {
      if (cur < v && f.exists(checkpointPath(root, cur)))
        return false // not the FIRST checkpoint: other authors own this
      val (rc, n) = scanCommitScalarOnly(f, commitPath(root, cur)).getOrElse(return false)
      links ::= ((cur, rc, n))
      rc match {
        case d: DeltaCommit =>
          if (d.base >= cur) return false
          cur = d.base
        case _: FullCommit => bottom = true
      }
    }
    if (links.iterator.map(_._3).sum < pqT) return false // small: driver render is right
    // exact scalar / remove / DV folds, all O(metadata)
    var scalar: CommitState = null
    var dvs = Map.empty[String, (String, Long)]
    var rmMax = Map.empty[String, Long]
    links.foreach {
      case (_, fc: FullCommit, _) =>
        scalar = fc.st.copy(files = Seq.empty, dvs = Map.empty)
        dvs = fc.st.dvs
      case (ver, d: DeltaCommit, _) =>
        scalar = d.applyTo(scalar).copy(files = Seq.empty, dvs = Map.empty)
        dvs = (dvs -- d.removes) ++ d.dvSets
        d.removes.foreach(p => rmMax += p -> math.max(ver, rmMax.getOrElse(p, Long.MinValue)))
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val name = s"v$v.ckptpq"
    val target = new Path(versionsDir(root), name)
    if (!f.exists(target)) {
      val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val specs = links.map { case (ver, _, _) => (ver, commitPath(root, ver).toString) }
      val parsed = spark.createDataset(specs)
        .repartition(math.max(1, math.min(64, specs.size)))
        .flatMap { case (ver, p) => FirstCkptScan.addRows(hconf.value, ver, p) }
      val surv =
        if (rmMax.isEmpty) parsed.toDF()
        else parsed.toDF()
          .join(rmMax.toSeq.toDF("path", "__g_rmV"), Seq("path"), "left_outer")
          .where(col("__g_rmV").isNull || col("__g_rmV") <= col("ver"))
          .drop("__g_rmV")
      val withDv =
        if (dvs.isEmpty) surv
        else surv.drop("dvFile", "dvRows")
          .join(dvs.toSeq.map { case (p, (d, n)) => (p, d, n) }
            .toDF("path", "dvFile", "dvRows"), Seq("path"), "left_outer")
      val rootLocal = root
      val sorted = withDv
        .select("ver", "pos", "path", "bytes", "rows", "part", "stats", "dvFile", "dvRows")
        .sort(col("ver"), col("pos")).as[FirstAddRow]
      val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
        CkptFileRow(i, FirstCkptScan.rel(rootLocal, r.path), r.bytes, r.rows, r.part,
          r.stats, r.dvFile.map(FirstCkptScan.rel(rootLocal, _)), r.dvRows)
      }
      val tmp = new Path(versionsDir(root), s".tmp-ckptpq-${java.util.UUID.randomUUID()}")
      spark.createDataset(rows).write.options(WriteOpts.marker).parquet(tmp.toString)
      if (!f.rename(tmp, target)) {
        f.delete(tmp, true)
        if (!f.exists(target)) return false // raced twin? absent: give up
      }
    }
    val agg = spark.read.schema(ckptRowSchema).parquet(target.toString)
      .agg(count(lit(1)), sum("bytes"), count("dvFile")).head()
    val ref = PqRef(name, agg.getLong(0),
      Some(if (agg.isNullAt(1)) 0L else agg.getLong(1)), Some(agg.getLong(2)))
    publishCheckpointText(spark, root, v, renderFullRef(root, scalar, ref))
    ckptFirstDistributed.incrementAndGet()
    true
  } catch { case scala.util.control.NonFatal(_) => false }

  /** Write `v<N>.checkpoint` — the FULL state of version N in the
    * commit-file rendering — plus the `_last_checkpoint` hint, both via
    * write-temp-then-rename. Above [[parquetCheckpointThreshold]] the
    * O(#files) listing goes to a `#FILESPQ` parquet dataset and the
    * text holds only the scalar state. Checkpoints are pure
    * read-optimization sidecars: losing one costs a longer walk, never
    * correctness, so failures here are swallowed (the commit already
    * promoted).
    */
  private[graft] def writeCheckpoint(spark: SparkSession, root: String, v: Long,
      st: CommitState): Unit =
    try {
      val f = fs(spark, root)
      val target = checkpointPath(root, v)
      if (f.exists(target)) return
      val pqT = parquetCheckpointThreshold(spark)
      val pq =
        if (pqT > 0 && st.files.size >= pqT) writeCheckpointParquet(spark, root, v, st)
        else None
      val body = pq match {
        case Some(ref) => renderFullRef(root, st, ref)
        case None => renderFull(root, st)
      }
      publishCheckpointText(spark, root, v, body)
    } catch { case _: java.io.IOException => () }

  /** Publish the checkpoint TEXT + `_last_checkpoint` hint, both via
    * write-temp-then-rename (shared by the driver-rendered and the
    * incremental-distributed authors).
    */
  private def publishCheckpointText(spark: SparkSession, root: String, v: Long,
      body: Array[Byte]): Unit = {
    val f = fs(spark, root)
    val target = checkpointPath(root, v)
    if (!f.exists(target)) {
      val tmp = new Path(versionsDir(root), s".tmp-ckpt-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      if (!f.rename(tmp, target)) { f.delete(tmp, false); () }
    }
    val ptrTmp = new Path(versionsDir(root), s".tmp-ptr-${java.util.UUID.randomUUID()}")
    val pout = f.create(ptrTmp, true)
    try pout.write(v.toString.getBytes(StandardCharsets.UTF_8)) finally pout.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ptrTmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(ptrTmp, new Path(versionsDir(root), "_last_checkpoint"),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Reject rows that violate any committed CHECK constraint: ONE
    * aggregate pass over the batch regardless of how many constraints
    * the table carries (a conditional count per constraint in a single
    * job — N constraints must not cost N scans of every batch), loud
    * failure naming the first violated constraint and its row count.
    * NULL-evaluating checks pass (SQL CHECK semantics).
    */
  private def validateChecks(df: DataFrame, checks: Map[String, String],
      what: String): Unit = timed("validate") {
    import org.apache.spark.sql.functions.{expr, lit, sum, when}
    if (checks.isEmpty) return
    val ordered = checks.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (_, e) =>
      sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    ordered.zipWithIndex.foreach { case ((name, e), i) =>
      if (!row.isNullAt(i) && row.getLong(i) > 0) throw new IllegalArgumentException(
        s"$what violates CHECK constraint '$name' ($e): ${row.getLong(i)} rows")
    }
  }

  // ------------------------------------------------------------------
  // Write-time stats + schema/partition plumbing
  // ------------------------------------------------------------------

  /** Top-level columns worth stats: the types parquet footers carry
    * comparable min/max for (numeric, string, date, timestamp).
    */
  private def statColsOf(schema: StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] || f.dataType == StringType ||
        f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType => f.name
    }.toSeq
  }

  /** Build [[FileEntry]]s for freshly-written files: ONE distributed
    * footer-only pass over the new files (this is the only time these
    * footers are ever read for stats — every later prune reads the
    * commit).
    */
  /** Below this count, footers are read INLINE on the driver (on a
    * small thread pool — footer reads are metadata-sized IO that
    * parallelize trivially): a streaming micro-batch committing a few
    * files, or a partitioned refresh committing a few dozen, must not
    * pay a whole Spark job (scheduling + task launch + conf shipping)
    * per commit. Larger batches keep the distributed pass.
    */
  private val driverStatsMax = 64

  private val statsPool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => { val t = new Thread(r, "graft-stats"); t.setDaemon(true); t })

  /** Stored string stats truncate at this many chars (the
    * Iceberg/Delta stats-truncation architecture): a free-text column's
    * min/max would otherwise embed WHOLE DOCUMENTS into every commit
    * line and checkpoint row — at 1M files that is metadata bloat that
    * scales with payload size instead of file count. Truncation stays
    * SOUND for pruning: the stored min is a PREFIX of the true min
    * (≤ it — a valid lower bound); the stored max is the truncated
    * prefix with its last non-maximal char INCREMENTED (> every string
    * sharing the prefix — a valid upper bound), or absent when no char
    * can go up (pruning then skips the column for that file).
    */
  private val statsStrMax = 64

  private def truncMinStr(s: String): String =
    if (s.length <= statsStrMax) s else s.substring(0, statsStrMax)

  private def truncMaxStr(s: String): Option[String] =
    if (s.length <= statsStrMax) Some(s)
    else {
      val p = s.substring(0, statsStrMax).toCharArray
      var i = p.length - 1
      while (i >= 0 && p(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else Some(new String(p, 0, i) + (p(i) + 1).toChar)
    }

  private def truncStats(cs: ColStats): ColStats =
    if (cs.minStr.forall(_.length <= statsStrMax) &&
        cs.maxStr.forall(_.length <= statsStrMax)) cs
    else cs.copy(minStr = cs.minStr.map(truncMinStr),
      maxStr = cs.maxStr.flatMap(truncMaxStr))

  private def entriesFor(spark: SparkSession, files: Seq[(String, Long)],
      schema: StructType, partOf: String => Map[String, String]): Seq[FileEntry] = timed("stats") {
    val cols = statColsOf(schema)
    if (files.isEmpty) return Seq.empty
    if (cols.isEmpty)
      return files.map { case (p, b) => FileEntry(p, b, -1L, partOf(p), Map.empty) }
    // (file, bytes, rows, col, minNum, maxNum, minStr, maxStr, nulls)
    val rows: Seq[(String, Long, Long, String, Option[Double], Option[Double],
        Option[String], Option[String], Long)] =
      if (files.size <= driverStatsMax) {
        val c = spark.sparkContext.hadoopConfiguration
        val futures = files.map { case (p, b) =>
          statsPool.submit(new java.util.concurrent.Callable[
              Seq[(String, Long, Long, String, Option[Double], Option[Double],
                Option[String], Option[String], Long)]] {
            def call() = FileManifest.statsOfFile(c, p, b, cols)
          })
        }
        futures.flatMap(_.get())
      } else FileManifest.collectFiles(spark, files, cols).collect().toSeq.map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          Option(r.getString(6)), Option(r.getString(7)), r.getLong(8))
      }
    val byFile = rows.groupBy(_._1)
    files.map { case (p, b) =>
      val rs = byFile.getOrElse(p, Seq.empty)
      val nRows = rs.headOption.map(_._3).getOrElse(-1L)
      val stats = rs.flatMap { r =>
        val cs = truncStats(ColStats(r._5, r._6, r._7, r._8, r._9))
        if (cs.minNum.isEmpty && cs.minStr.isEmpty) None else Some(r._4 -> cs)
      }.toMap
      FileEntry(p, b, nRows, partOf(p), stats)
    }
  }

  private def listParquet(f: FileSystem, dir: Path): Seq[(String, Long)] = {
    val it = f.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        buf += ((st.getPath.toString, st.getLen))
    }
    buf.toSeq
  }

  private val partDirPrefix = "__gp_"

  /** Minimal unescape of Spark/Hive partition-directory names (%xx). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def partOfPath(path: String): Map[String, String] =
    path.split('/').collect {
      case seg if seg.startsWith(partDirPrefix) && seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        (k.stripPrefix(partDirPrefix), unescapePathName(v))
    }.toMap

  /** Stage `df`'s rows as immutable data files under `root`/data and
    * return their commit entries. Partitioned tables write through
    * DUPLICATED `__gp_*` directory columns so each file holds exactly
    * one partition tuple while the partition columns stay IN the data
    * files (metadata partitioning — the read path never reconstructs
    * columns from paths).
    */
  /** `mapSchema` supplies the table's column mapping: incoming frames
    * carry LOGICAL names and the staged files must store PHYSICAL ones.
    * Partition directory names stay LOGICAL (partition columns cannot
    * be renamed, so the two coincide there).
    */
  private def stageFiles(spark: SparkSession, root: String, df0: DataFrame,
      partCols: Seq[String], tag: String,
      splitTargetRows: Long = 0L,
      mapSchema: Option[StructType] = None): (Path, Seq[FileEntry]) = timed("stage") {
    val f = fs(spark, root)
    val df = mapSchema.map(toPhysical(df0, _)).getOrElse(df0)
    val batchDir = new Path(root, s"data/$tag-${java.util.UUID.randomUUID()}")
    // OPTIMIZED WRITE (Delta's optimizeWrite stance, guide §6 file
    // sizing): an unpartitioned staged batch otherwise lands one file
    // per upstream task — task-count-sized, not data-sized (a 32-core
    // local append of a tiny batch writes 32 ~KB files; a wide cluster
    // ETL writes thousands). The REBALANCE hint inserts one AQE-managed
    // exchange whose output coalesces to advisoryPartitionSizeInBytes,
    // so staged file count tracks BYTES at every scale; every later
    // read/stat/compact of the table pays per-file overhead that many
    // fewer times. One extra shuffle of the batch is the documented
    // trade — `graft.table.optimizeWrite=false` opts a bulk load out.
    // An EXPLICIT caller layout wins: a batch arriving under its own
    // repartition/repartitionByRange/rebalance (± partition-local sort)
    // was clustered ON PURPOSE — key-disjoint files are what make the
    // commit-stats pruning of later deleteWhere/upsert/reads work — so
    // the rebalance never second-guesses it.
    def explicitLayout(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
      import org.apache.spark.sql.catalyst.plans.logical._
      p match {
        case s: Sort if !s.global => explicitLayout(s.child)
        case pj: Project => explicitLayout(pj.child)
        case _: Repartition | _: RepartitionByExpression | _: RebalancePartitions => true
        case _ => false
      }
    }
    val sized =
      if (spark.conf.get("graft.table.optimizeWrite", "true").toBoolean &&
          !explicitLayout(df.queryExecution.logical))
        df.hint("rebalance")
      else df
    if (partCols.isEmpty) sized.write.options(WriteOpts.data).parquet(batchDir.toString)
    else {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, pmod, xxhash64}
      val dup = partCols.foldLeft(df)((d, c) => d.withColumn(partDirPrefix + c, col(c)))
      val dirCols = partCols.map(c => col(partDirPrefix + c))
      // cluster by the partition tuple before the partitioned write
      // (Delta's "optimized writes"): without it every task writes a
      // file into every partition it holds rows for — tasks×partitions
      // small files per append; with it an append adds O(partitions)
      // files. One extra shuffle of the batch, the standard trade.
      // SKEW ESCAPE HATCH: one-task-per-tuple serializes a refresh
      // whose input is dominated by one hot partition (a hot date in a
      // backfill). With `splitTargetRows` > 0 the tuples are counted
      // first (one extra pass — cache `df` upstream if it is expensive)
      // and any tuple above the threshold is SALTED into
      // ceil(rows/target) deterministic buckets (row-hash modulo), so
      // the hot partition writes through N parallel tasks into N files
      // while small tuples keep exactly one. Partition metadata stays
      // exact: every output file still holds one tuple.
      val plainDirs = partCols.map(partDirPrefix + _)
      val (clustered, dirNames) =
        if (splitTargetRows <= 0L) (dup.repartition(dirCols: _*), plainDirs)
        else {
          val cntRows = dup.groupBy(dirCols: _*).count().collect()
          val nb = cntRows.map(r => math.max(1L,
            (r.getLong(partCols.size) + splitTargetRows - 1) / splitTargetRows))
          if (nb.forall(_ == 1L)) (dup.repartition(dirCols: _*), plainDirs)
          else {
            val cntSchema = StructType(
              partCols.map(c => dup.schema(partDirPrefix + c)).toArray :+
                org.apache.spark.sql.types.StructField("__g_nbuckets",
                  org.apache.spark.sql.types.LongType, nullable = false))
            val bRows = cntRows.zip(nb).map { case (r, n) =>
              Row.fromSeq(r.toSeq.init :+ n) }
            val bdf = spark.createDataFrame(java.util.Arrays.asList(bRows: _*), cntSchema)
            val hashCols = df.schema.fields
              .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
              .map(fd => col(fd.name))
            val salt =
              if (hashCols.isEmpty) lit(0L)
              else pmod(xxhash64(hashCols.toIndexedSeq: _*),
                coalesce(col("__g_nbuckets"), lit(1L)))
            // the salt is itself a DIRECTORY column (stripped from both
            // the data files and partOfPath, like __gbin in compact):
            // the per-bucket FILE split is then guaranteed by the
            // partitioned write even when the exchange packs several
            // buckets into one task, while the (tuple, salt) clustering
            // gives the hot tuple its N parallel write tasks
            (dup.join(broadcast(bdf), partCols.map(partDirPrefix + _), "left")
              .withColumn("__g_salt", salt)
              .repartition((dirCols :+ col("__g_salt")): _*)
              .drop("__g_nbuckets"),
              plainDirs :+ "__g_salt")
          }
        }
      clustered.write.options(WriteOpts.data)
        .partitionBy(dirNames: _*).parquet(batchDir.toString)
    }
    val files = listParquet(f, batchDir)
    (batchDir, entriesFor(spark, files, df.schema, partOfPath))
  }

  /** Enforce the additive-evolution contract and return the merged
    * table schema: every current column must arrive unchanged (same
    * name, same type); new columns append. Drop/rename/type-change
    * throw at commit time — loudly, with the offending column named.
    */
  private[operators] def checkEvolution(current: StructType, incoming: StructType,
      droppedPhysical: Set[String] = Set.empty): StructType = {
    val in = incoming.fields.map(f => f.name -> f).toMap
    current.fields.foreach { f =>
      in.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"schema evolution rejected: column '${f.name}' is missing from the append " +
            "(dropping or renaming columns happens through dropColumn/renameColumn, " +
            "not through an append; appends may only ADD columns)")
        case Some(g) if g.dataType != f.dataType => throw new IllegalArgumentException(
          s"schema evolution rejected: column '${f.name}' changes type " +
            s"${f.dataType.simpleString} -> ${g.dataType.simpleString} " +
            "(type changes, widening or narrowing, are not supported)")
        case _ =>
      }
    }
    val have = current.fieldNames.toSet
    val added = incoming.fields.filterNot(f => have(f.name))
    // under Spark's default case-INsensitive resolution, a new column
    // differing only in case from an existing one (`ID` vs `id`) would
    // commit a schema where every later reference is ambiguous — reject
    // it at evolution time (honoring spark.sql.caseSensitive, like Delta)
    if (!org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis) {
      val haveLower = current.fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      added.foreach { f =>
        if (haveLower(f.name.toLowerCase(java.util.Locale.ROOT)))
          throw new IllegalArgumentException(
            s"schema evolution rejected: new column '${f.name}' differs only in CASE " +
              "from an existing table column — under spark.sql.caseSensitive=false " +
              "every later reference would be ambiguous; match the existing column's " +
              "case exactly (it is the same column) or pick a different name")
      }
    }
    // a NEW column's physical name is its logical name — it must not
    // collide with a physical name already stored in the table's files:
    // another field's physical (post-rename) or a dropped column's
    // remnant, either of which would silently RESURRECT old file data
    // into the new column
    val occupied = current.fields.map(physicalOf).toSet
    added.foreach { f =>
      if (occupied(f.name)) throw new IllegalArgumentException(
        s"schema evolution rejected: new column '${f.name}' collides with the PHYSICAL " +
          "name of a renamed column — existing files already store data under that name; " +
          "pick a different name")
      if (droppedPhysical(f.name)) throw new IllegalArgumentException(
        s"schema evolution rejected: new column '${f.name}' matches a previously DROPPED " +
          "column's physical name — existing files still store the old values, which would " +
          "silently resurrect; pick a different name")
    }
    StructType(current.fields ++ added)
  }

  // ------------------------------------------------------------------
  // Append (with rebase) and rewrite (with file-disjointness rebase)
  // ------------------------------------------------------------------

  /** The version this writer may BID, given the base it planned
    * against. THE CHAIN INVARIANT: every READABLE claim must lie on
    * the `#BASE` chain — a writer that skipped a readable claim would
    * shadow it forever (reconstruction follows `#BASE`, so the skipped
    * commit's rows silently vanish from every later version; the
    * directory-LIST ancestor of this function had exactly that hole —
    * a claim landing between the caller's base-read and the LIST made
    * max+1 bid PAST it). So: walk forward from `base`; an existing but
    * TORN name (legacy crash debris — modern claims are atomic) is
    * skipped, exactly as reconstruction skips it; the first READABLE
    * claim above base means the caller's base is STALE — return its
    * version so the bid fails on the existing name and the retry loop
    * re-resolves. O(gap) exists() probes per attempt, no directory
    * LIST.
    */
  private[graft] def nextVersion(spark: SparkSession, root: String, base: Option[Long]): Long = {
    val f = fs(spark, root)
    var v = base.getOrElse(-1L)
    while (f.exists(commitPath(root, v + 1))) {
      if (readRaw(f, commitPath(root, v + 1)).isDefined)
        return v + 1 // readable claim above our base: bid it, lose, re-resolve
      v += 1 // torn claim: skip — the #BASE chain skips it too
    }
    v + 1
  }

  /** Stage `df` as new data files and commit them as an APPEND. Returns
    * the committed version. Safe under concurrent appends: on commit
    * conflict the file delta is rebased onto the winner's listing and
    * retried (appends commute). First append of a table may declare
    * `partitionBy`; later appends inherit it (and may restate it
    * identically).
    */
  def append(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty): Long =
    appendInternal(spark, root, df, partitionBy, None)

  /** CREATE TABLE: commit version 0 with a declared schema, partition
    * columns and properties but NO data files — the SQL `CREATE TABLE`
    * primitive (every other writer creates tables implicitly on first
    * append). Reads serve zero rows under the schema; the first append
    * must match the declaration (same evolution rules as any append).
    * Fails if the root already has a committed version.
    */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
      partCols: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty): Long = {
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"createEmpty: partition column '$c' missing from the schema"))
    require(currentVersion(spark, root).isEmpty, s"table $root already exists")
    val st = CommitState(Seq.empty, Some(schema.json), partCols, Map.empty,
      props = props)
    if (!tryCommit(spark, root, 0L, st, op = "CREATE TABLE"))
      throw new IllegalStateException(s"createEmpty: $root raced another writer")
    0L
  }

  /** ALTER TABLE ADD COLUMN — a METADATA-ONLY commit appending a
    * nullable column to the committed schema: existing immutable files
    * simply null-fill it at read (the additive-evolution rule appends
    * already follow), so no data moves. The name is gated by
    * [[checkEvolution]]'s resurrection guards (no collision with a
    * renamed column's physical name or a dropped remnant).
    */
  def addColumn(spark: SparkSession, root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val s = cur.schema.getOrElse(throw new IllegalArgumentException(
        s"addColumn: $root has legacy commits without a recorded schema"))
      require(!s.fieldNames.contains(name), s"addColumn: column '$name' already exists")
      val newField = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
      // reuse the append-evolution gate: same collision/resurrection rules
      val newSchema = checkEvolution(s, StructType(s.fields :+ newField), cur.dropped)
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, cur.copy(schemaJson = Some(newSchema.json)),
          Some(baseV -> cur), op = s"ADD COLUMN $name"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"addColumn: lost $attempt commit races at $root")
  }

  private def appendInternal(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String],
      txn: Option[(String, Long)]): Long = timed(s"append:${new Path(root).getName}") {
    // SCALAR-FIRST SNAPSHOT: everything an append needs before its
    // commit — partition declaration, checks, schema evolution, txn
    // watermarks — is scalar state, so a pushed snapshot (at or above
    // the pushed threshold) appends WITHOUT ever materializing its
    // O(#files) listing: validation runs on the scalar state and the
    // commit renders O(delta) directly ([[tryCommitDelta]]). Below the
    // threshold the cached materialized state stays cheaper.
    def snapFor(v: Long): (CommitState, Boolean) = {
      val t = pushedPruneThreshold(spark)
      val pl = if (t <= 0) None
        else pushedListing(spark, root, Some(v))
          .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
      pl.map(l => (l.scalar, true))
        // no parquet checkpoint below yet (the bulk-load bootstrap):
        // appends still commit O(delta) from a SCALAR-ONLY chain walk —
        // the append needs schema/checks/partCols/txns, never the
        // listing; the due checkpoint then authors from the chain
        // ([[writeCheckpointFirstDistributed]])
        .orElse(scalarStateAt(spark, root, v)
          .filter(_.schema.isDefined).map(sc => (sc, true)))
        .getOrElse((commitState(spark, root, Some(v)), false))
    }
    val base0 = currentVersion(spark, root)
    val st0 = base0.map(v => snapFor(v)._1)
    val effPart = st0.map(_.partCols) match {
      case Some(existing) =>
        require(partitionBy.isEmpty || partitionBy == existing,
          s"partition columns are fixed at table creation: table has $existing, append passed $partitionBy")
        existing
      case None => partitionBy
    }
    effPart.foreach(c => require(df.columns.contains(c), s"partition column '$c' missing from append"))
    var validated = st0.map(_.checks).getOrElse(Map.empty)
    if (validated.nonEmpty) validateChecks(df, validated, "append")
    // evolution is re-checked in the commit loop against the winner, but
    // must ALSO gate staging: a physical-name collision (new column vs a
    // renamed/dropped column's stored name) would otherwise surface as
    // an opaque duplicate-column error inside the mapped staging write
    st0.flatMap(_.schema).foreach(s =>
      checkEvolution(s, df.schema, st0.map(_.dropped).getOrElse(Set.empty)))
    val (batchDir, added) = stageFiles(spark, root, df, effPart, "batch",
      mapSchema = st0.flatMap(_.schema))
    var attempt = 0
    while (attempt < 100) {
      txn.foreach { case (app, b) =>
        if (lastTxn(spark, root, app).exists(_ >= b)) { // raced a replayed twin
          fs(spark, root).delete(batchDir, true)
          return currentVersion(spark, root).get
        }
      }
      val base = currentVersion(spark, root)
      val snap = base.map(snapFor)
      val prev = snap.map(_._1)
      // Re-resolve against the CURRENT winner on every retry, not the
      // pre-staging snapshot: a racing FIRST append may have fixed the
      // table's partition declaration (our files are already staged in
      // our layout — a mismatch must abort, not clobber the winner),
      // and an interleaved addConstraint must gate this data too.
      prev.map(_.partCols).foreach { winnerPart =>
        if (winnerPart != effPart) {
          fs(spark, root).delete(batchDir, true)
          throw new IllegalStateException(
            s"append lost a table-creation race at $root: concurrent first append " +
              s"declared partitioning $winnerPart, this append staged $effPart")
        }
      }
      val unseen = prev.map(_.checks).getOrElse(Map.empty) -- validated.keys
      if (unseen.nonEmpty) { validateChecks(df, unseen, "append"); validated ++= unseen }
      val prevSchema = prev.flatMap(_.schema)
      val newSchema = prevSchema
        .map(checkEvolution(_, df.schema, prev.map(_.dropped).getOrElse(Set.empty)))
        .getOrElse(df.schema)
      val v = nextVersion(spark, root, base)
      val txns = prev.map(_.txns).getOrElse(Map.empty) ++ txn
      val op = txn.map { case (a, b) => s"APPEND txn=$a/$b" }.getOrElse("APPEND")
      val committed = snap match {
        case Some((sc, true)) =>
          // O(delta) direct: adds (+ txn watermark, + schema only when
          // evolved) against #BASE — appends never conflict, the retry
          // loop just re-claims at the next version
          tryCommitDelta(spark, root, v, base.get, added,
            schemaJson = if (prevSchema.contains(newSchema)) None else Some(newSchema.json),
            txnDelta = txn.filter { case (a, b) => !sc.txns.get(a).contains(b) }.toMap,
            op = op)
        case _ => tryCommit(spark, root, v, CommitState(
          prev.map(_.files).getOrElse(Seq.empty) ++ added,
          Some(newSchema.json), effPart, txns,
          prev.map(_.checks).getOrElse(Map.empty),
          prev.map(_.dvs).getOrElse(Map.empty),
          prev.map(_.dropped).getOrElse(Set.empty),
          prev.map(_.props).getOrElse(Map.empty)),
          base.zip(prev), op)
      }
      if (committed) return v
      attempt += 1
    }
    throw new IllegalStateException(s"append: lost $attempt commit races at $root")
  }

  /** The removed files' deletion-vector references as of the snapshot a
    * rewrite READ under — [[commitRewrite]]'s conflict input.
    */
  private def dvSnapshotOf(st: CommitState,
      removed: Set[String]): Map[String, Option[(String, Long)]] =
    removed.map(p => p -> st.dvs.get(p)).toMap

  /** Commit a file REWRITE (remove `removed`, add `added`) with the
    * Delta conflict rule: rebase across any interleaved commits whose
    * listings still carry every removed file (concurrent appends,
    * disjoint maintenance); return None — and clean up the staged
    * files — only on a TRUE overlap: some removed file is no longer
    * live (a competing rewrite got there first), OR a removed file's
    * deletion-vector reference moved (`dvSnapshot` is what this rewrite
    * READ its candidate rows under — a concurrent DV delete that landed
    * new tombstones after our read would be silently RESURRECTED if we
    * committed, because pruneDvs drops the reference with the file;
    * file identity = path + DV ref, the same rule [[commitDvUpdate]]
    * enforces in the opposite direction).
    */
  private[graft] def commitRewrite(spark: SparkSession, root: String, removed: Set[String],
      added: Seq[FileEntry], outDir: Path,
      dvSnapshot: Map[String, Option[(String, Long)]], op: String = "REWRITE",
      cdf: Seq[String] = Nil, extraCleanup: Seq[Path] = Nil,
      schemaEvolved: Option[(String, Option[String])] = None,
      planV: Option[Long] = None): Option[Long] = {
    val f = fs(spark, root)
    def abort(): Unit = {
      f.delete(outDir, true)
      extraCleanup.foreach(p => f.delete(p, true))
    }
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      // O(DELTA) COMMIT: when the rewrite was PLANNED against a pushed
      // snapshot (`planV`), the conflict rule evaluates over the raw
      // delta commits interleaved since — a removed input is no longer
      // live iff some interleaved commit removed it, its DV reference
      // moved iff one set it — and the new version renders directly
      // from (removed, added), so the base listing never materializes.
      // Any full/torn interleaved commit falls back to the
      // materialized check below, same attempt.
      planV.flatMap(pv => walkDeltas(spark, root, pv, baseV)) match {
        case Some(tail) =>
          if (removed.exists(p => tail.exists(_.removes(p)))) {
            abort(); return None // competing rewrite took our inputs
          }
          if (removed.exists(p => tail.exists(_.dvSets.contains(p)))) {
            abort(); return None // concurrent DV update tombstoned them
          }
          if (schemaEvolved.isDefined && tail.exists(_.schemaJson.isDefined)) {
            abort(); return None // concurrent schema change wins
          }
          val v = nextVersion(spark, root, Some(baseV))
          if (tryCommitDelta(spark, root, v, baseV, added, removed,
              schemaJson = schemaEvolved.map(_._1), op = op, cdf = cdf))
            return Some(v)
        case None =>
          val cur = commitState(spark, root, Some(baseV))
          if (!removed.subsetOf(cur.files.map(_.path).toSet)) {
            abort()
            return None // true conflict: a competing rewrite removed our inputs
          }
          if (removed.exists(p => cur.dvs.get(p) != dvSnapshot.getOrElse(p, None))) {
            abort()
            return None // true conflict: a concurrent DV update tombstoned our inputs
          }
          // a schema-evolving commit must still be evolving the schema
          // it computed from — a concurrent rename/drop/add wins and we
          // abort rather than clobber it
          if (schemaEvolved.exists { case (_, base) => cur.schemaJson != base }) {
            abort()
            return None
          }
          val files = cur.files.filterNot(fe => removed(fe.path)) ++ added
          val v = nextVersion(spark, root, Some(baseV))
          // a removed file's deletion vector dies with it (the rewrite
          // re-materialized its live rows)
          if (tryCommit(spark, root, v,
              cur.copy(files = files,
                schemaJson = schemaEvolved.map(_._1).orElse(cur.schemaJson)).pruneDvs,
              Some(baseV -> cur), op, cdf))
            return Some(v)
      }
      attempt += 1
    }
    throw new IllegalStateException(s"rewrite: lost $attempt commit races at $root")
  }

  private def entriesMatching(st: CommitState, partition: Map[String, String]): Seq[FileEntry] =
    st.files.filter(fe => partition.forall { case (k, v) => fe.part.get(k).contains(v) })


  /** Partition-scoped planning state through the pushed checkpoint
    * read — the per-partition MAINTENANCE shape (compact / OPTIMIZE
    * ZORDER of one partition of a 1M-file table): entries whose
    * partition values subset-match `partition` are selected inside the
    * distributed read (partition values are exact per entry), the
    * bounded tail folds on the driver, and the scalar state restricts
    * to exactly those files and their DVs. None below the threshold or
    * for an unscoped pass (the whole-table listing is the work there).
    */
  private def pushedPartPlan(spark: SparkSession, root: String,
      partition: Map[String, String]): Option[(CommitState, Long)] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val t = pushedPruneThreshold(spark)
    if (t <= 0 || partition.isEmpty) return None
    val l = pushedListing(spark, root, None)
      .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
      .getOrElse(return None)
    val pred = partition.map { case (k, v) => col("part").getItem(k) === lit(v) }
      .reduce(_ && _)
    val survivors = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .where(pred).as[CkptFileRow].collect()
    def matches(m: Map[String, String]): Boolean =
      partition.forall { case (k, v) => m.get(k).contains(v) }
    val kept = (survivors.iterator.map(l.toEntry)
      .filterNot(fe => l.tailRemoves(fe.path)) ++
      l.tailAdds.iterator.filter(fe => matches(fe.part))).toVector
    val dv = l.dvMap(spark)
    Some((l.scalar.copy(files = kept,
      dvs = kept.iterator.flatMap(fe => dv.get(fe.path).map(fe.path -> _)).toMap),
      l.version))
  }

  /** Times the PARTITION-BATCHED unscoped-maintenance driver ran
    * (spec pin: unscoped compact/zorder of a pushed partitioned table
    * iterates pushed per-partition plans, zero full materializations).
    */
  private[graft] val maintBatchedSweeps = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The distinct partition tuples of the CURRENT snapshot, read
    * columnar from the checkpoint dataset (+ tail adds) — the
    * partition-batched maintenance driver's work list: O(#partitions)
    * on the driver, never O(#files). None below the pushed threshold
    * or for an unpartitioned table (the materialized listing is the
    * right work list there).
    */
  private def partitionTuplesPushed(spark: SparkSession,
      root: String): Option[Seq[Map[String, String]]] = {
    import org.apache.spark.sql.functions.col
    val t = pushedPruneThreshold(spark)
    if (t <= 0) return None
    val l = pushedListing(spark, root, None)
      .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
      .getOrElse(return None)
    val pcs = l.scalar.partCols
    if (pcs.isEmpty) return None
    val fromCkpt = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .select(pcs.map(c => col("part").getItem(c)): _*).distinct().collect()
      .map(r => pcs.zipWithIndex.flatMap { case (c, i) =>
        Option(r.getString(i)).map(c -> _) }.toMap)
    val fromTail = l.tailAdds.map(_.part)
    Some((fromCkpt ++ fromTail).distinct.toSeq
      .sortBy(_.toSeq.sorted.mkString(",")))
  }

  /** Bin-batch ceiling for the unpartitioned pushed compaction sweep:
    * at most ~this many member files plan on the driver per commit
    * (session conf `graft.table.maintBatchFiles`). A batch never splits
    * a bin across commits, so a single oversized bin may exceed it.
    */
  private def maintBatchFiles(spark: SparkSession): Int =
    spark.conf.get("graft.table.maintBatchFiles", "20000").toInt

  /** UNPARTITIONED whole-table compaction at pushed scale: the bin
    * plan runs DISTRIBUTED straight over the checkpoint dataset (+
    * folded tail), only multi-file bins stream back (`toLocalIterator`
    * — the driver holds one batch, never the listing), and the sweep
    * commits per ≤[[maintBatchFiles]] batch of whole bins through the
    * by-path pushed planner. The rebase rule makes the batches
    * mutually safe (disjoint victims); `planV` pins the shared plan
    * version so each commit rewrites O(batch). None when the snapshot
    * is below the pushed threshold, partitioned, or schemaless — the
    * caller's materialized/per-partition drivers own those shapes.
    * Some(lastCommitted) when the sweep ran (None inside = nothing to
    * merge).
    */
  private def compactUnpartitionedPushed(spark: SparkSession, root: String,
      targetBytes: Long): Option[Option[Long]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val t = pushedPruneThreshold(spark)
    if (t <= 0) return None
    val l = pushedListing(spark, root, None)
      .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined &&
        l.scalar.partCols.isEmpty)
      .getOrElse(return None)
    maintBatchedSweeps.incrementAndGet()
    val baseListing = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .select(col("path"), col("bytes"))
    val removed = l.tailRemoves.toSeq.map(p => relNorm(root, p))
    val kept =
      if (removed.isEmpty) baseListing
      else baseListing.join(removed.toDF("path"), Seq("path"), "left_anti")
    val all =
      if (l.tailAdds.isEmpty) kept
      else kept.union(
        l.tailAdds.map(fe => (relNorm(root, fe.path), fe.bytes)).toDF("path", "bytes"))
    val planned = Compaction.plan(all.withColumn("pkey", lit("")),
        Seq("pkey"), "path", "bytes", targetBytes)
      .where(col("bin_files") > 1)
      .select(col("bin"), col("path"))
      .sort(col("bin"), col("path"))
    val batchMax = math.max(1, maintBatchFiles(spark))
    var last: Option[Long] = None
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var curBin = Long.MinValue
    def flush(): Unit = if (buf.nonEmpty) {
      val groups = buf.groupBy(_._1).map { case (bin, ms) =>
        ("", bin) -> ms.map(m => resolvePath(root, m._2)).toSeq
      }
      val stB = pushedCandStateByPath(spark, l, buf.iterator.map(_._2).toSet)
      compactCommit(spark, root, stB,
        stB.files.map(fe => fe.path -> fe.part).toMap, groups, Some(l.version))
        .foreach(v => last = Some(v))
      buf.clear()
    }
    val it = planned.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val bin = r.getLong(0)
      if (buf.size >= batchMax && bin != curBin) flush() // whole bins only
      curBin = bin
      buf += ((bin, r.getString(1)))
    }
    flush()
    Some(last)
  }

  /** Rewrite undersized files into ~`targetBytes` bins
    * ([[Compaction.plan]] over the live listing — metadata, so the plan
    * is a driver-sized job) and commit the new layout as the next
    * version. `partition` scopes the pass to one partition's files —
    * per-partition compaction of a 100 TB table is N independent,
    * concurrently-committable jobs (the rebase rule: disjoint file
    * sets never conflict). An UNSCOPED pass over a pushed partitioned
    * snapshot iterates exactly those per-partition plans, committing
    * per group; a pushed UNPARTITIONED snapshot plans its bins
    * distributed over the checkpoint dataset and sweeps in bounded bin
    * batches ([[compactUnpartitionedPushed]]) — a 1M-file unscoped
    * compact never materializes the full listing in either shape.
    * Old versions keep reading their original files — compaction is
    * invisible to time travel until [[vacuum]]. Returns the newest
    * version committed, or None when there is nothing to merge
    * or a competing rewrite touched the same files.
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
      partition: Map[String, String] = Map.empty): Option[Long] = {
    if (partition.isEmpty) {
      partitionTuplesPushed(spark, root) match {
        case Some(tuples) if tuples.nonEmpty =>
          maintBatchedSweeps.incrementAndGet()
          var last: Option[Long] = None
          tuples.foreach(p => compact(spark, root, targetBytes, p).foreach(v => last = Some(v)))
          return last
        case _ =>
          // unpartitioned at pushed scale: plan bins DISTRIBUTED over
          // the checkpoint dataset and sweep in bounded bin batches
          compactUnpartitionedPushed(spark, root, targetBytes) match {
            case Some(res) => return res
            case None => // small table: the materialized listing is the work list
          }
      }
    }
    // per-partition maintenance of a pushed snapshot plans inside the
    // checkpoint read and commits O(delta); unscoped passes (and small
    // tables) keep the materialized listing — it IS their work list
    val pst = pushedPartPlan(spark, root, partition)
    val st = pst.map(_._1).getOrElse(commitState(spark, root, None))
    val scope = pst.map(_._1.files).getOrElse(entriesMatching(st, partition))
    import spark.implicits._
    // bins are planned WITHIN each partition tuple (the tuple rendered
    // as a stable string key): a whole-table compact of a partitioned
    // table can never merge files of different partitions into one
    // output, which would corrupt the per-file partition metadata
    def pkeyOf(p: Map[String, String]): String =
      p.toSeq.sortBy(_._1).map { case (k, v) => enc(k) + "=" + enc(v) }.mkString(",")
    val planned = Compaction.plan(
        scope.map(fe => (fe.path, fe.bytes, pkeyOf(fe.part))).toDF("file", "bytes", "pkey"),
        Seq("pkey"), "file", "bytes", targetBytes)
      .select("file", "bytes", "pkey", "bin", "bin_files")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val toMerge = planned.filter(_._5 > 1).groupBy(p => (p._3, p._4))
      .view.mapValues(_.map(_._1).toSeq).toMap // only multi-file bins rewrite
    val partOf = scope.map(fe => fe.path -> fe.part).toMap
    compactCommit(spark, root, st, partOf, toMerge, pst.map(_._2))
  }

  /** Rewrite the multi-file bins of ONE planned batch and commit — the
    * shared tail of every compaction driver (materialized,
    * per-partition pushed, and the bin-batched unpartitioned sweep).
    *
    * ONE distributed job for ALL bins (a 100 TB table compacts
    * thousands of bins; N sequential coalesce(1) jobs would serialize
    * on the driver): every member file is read once, each row is
    * routed to its bin by source file (a broadcast map join on the
    * scan's file path), the frame repartitions ON the bin id and
    * writes partitioned by it — a bin's rows land in exactly one task,
    * so each bin still produces exactly one output file. Members' DVs
    * fold here: the rewrite excludes tombstoned rows and commitRewrite
    * drops the dead references.
    */
  private def compactCommit(spark: SparkSession, root: String, st: CommitState,
      partOf: Map[String, Map[String, String]],
      toMerge: Map[(String, Long), Seq[String]],
      planV: Option[Long]): Option[Long] = {
    import spark.implicits._
    if (toMerge.isEmpty) return None
    val f = fs(spark, root)
    val outDir = new Path(root, s"data/compact-${java.util.UUID.randomUUID()}")
    val schema = st.schema
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val binIds = toMerge.keys.toSeq.sorted.zipWithIndex.toMap // (pkey, bin) -> id
    val fileBin = toMerge.toSeq.flatMap { case (key, members) =>
      members.map(m => (normPath(m), binIds(key)))
    }
    val memberPaths = toMerge.values.flatten.toSeq.sorted
    // compaction is a pure LAYOUT rewrite: it reads and writes the
    // PHYSICAL schema directly (logical names never enter the pass)
    val base = (schema match {
      case Some(s) => spark.read.schema(physicalSchema(s)).parquet(memberPaths: _*)
      case None => spark.read.parquet(memberPaths: _*)
    }).withColumn("__gfp", regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    val routed = applyDvs(spark, root, base,
        memberPaths.flatMap(p => st.dvs.get(p)).map(_._1).distinct)
      .join(org.apache.spark.sql.functions.broadcast(
        fileBin.toDF("__gfp", "__gbin")), Seq("__gfp"))
      .drop("__gfp")
    routed.repartition(col("__gbin"))
      .write.options(WriteOpts.data).partitionBy("__gbin").parquet(outDir.toString)
    // map each written file back to its bin's ORIGINAL partition tuple
    // (the __gbin=N directory level is routing, not table partitioning)
    val partOfBin = toMerge.map { case (key, members) =>
      binIds(key) -> partOf.getOrElse(members.head, Map.empty[String, String]) }
    def binOfPath(p: String): Map[String, String] =
      new Path(p).getParent.getName match {
        case seg if seg.startsWith("__gbin=") => partOfBin(seg.stripPrefix("__gbin=").toInt)
        case _ => Map.empty
      }
    val dataSchema = schema.map(physicalSchema).getOrElse(spark.read.parquet(memberPaths.head).schema)
    val newEntries = entriesFor(spark, listParquet(f, outDir), dataSchema, binOfPath)
    val merged = toMerge.values.flatten.toSet
    commitRewrite(spark, root, merged, newEntries, outDir, dvSnapshotOf(st, merged),
      op = "COMPACT", planV = planV)
  }

  // ------------------------------------------------------------------
  // Stats-pruned planning FROM THE COMMIT (zero footer reads)
  // ------------------------------------------------------------------

  /** Driver-side candidate-entry evaluations — the write-path twin of
    * [[graft.sources.GraftFileIndex.driverEvals]]: pushed planning
    * ([[pushedPlanState]]) must grow this O(candidates + tail), never
    * O(#files); the materialized [[candidatePaths]] loop counts every
    * file. Tests pin the bound.
    */
  private[graft] val candidateEvals = new java.util.concurrent.atomic.AtomicLong(0L)

  private def intersects(fe: FileEntry, bounds: Map[String, (Double, Double)]): Boolean = {
    candidateEvals.incrementAndGet()
    bounds.forall { case (c, (lo, hi)) =>
      fe.stats.get(c) match {
        case Some(cs) if cs.minNum.isDefined && cs.maxNum.isDefined =>
          !(cs.maxNum.get < lo || cs.minNum.get > hi)
        case _ => true // no stats recorded: conservative — always a candidate
      }
    }
  }

  private def allAsciiStr(s: String): Boolean = s.forall(_ < 0x80)

  /** String-box twin of [[intersects]] — the CDC shape where the merge
    * key is a string/UUID. Sound only when BOTH the stored bounds and
    * the probe values are ASCII (Java string order and Spark's
    * UTF8String byte order agree only below U+0080 — the same guard as
    * [[graft.sources.GraftFileIndex.mayMatch]]); anything else keeps
    * the file. Stored bounds may be TRUNCATED (sound: min rounded
    * down, max rounded up — Iceberg-style), so the interval check
    * stays conservative.
    */
  private def intersectsStr(fe: FileEntry,
      bounds: Map[String, (String, String)]): Boolean = {
    candidateEvals.incrementAndGet()
    bounds.forall { case (c, (lo, hi)) =>
      fe.stats.get(c) match {
        case Some(cs) => (cs.minStr, cs.maxStr) match {
          case (Some(mn), Some(mx)) if allAsciiStr(mn) && allAsciiStr(mx) &&
              allAsciiStr(lo) && allAsciiStr(hi) => !(mx < lo || mn > hi)
          case _ => true
        }
        case _ => true // no stats recorded: conservative — always a candidate
      }
    }
  }

  /** Candidate files for a numeric box, planned from commit stats
    * alone. Legacy commits without stats fall back to a one-off footer
    * collection ([[FileManifest.collectFiles]]).
    */
  private def candidatePaths(spark: SparkSession, st: CommitState,
      bounds0: Map[String, (Double, Double)]): Seq[String] = {
    if (bounds0.isEmpty) return st.files.map(_.path)
    // stats (and the files themselves) are keyed by PHYSICAL names;
    // callers pass logical bounds
    val bounds = bounds0.map { case (k, v) => physicalName(st.schema, k) -> v }
    val anyStats = st.files.exists(fe => bounds.keys.exists(fe.stats.contains))
    if (anyStats || st.files.isEmpty) st.files.filter(intersects(_, bounds)).map(_.path)
    else FileManifest.candidateFiles(
      FileManifest.collectFiles(spark, st.files.map(fe => (fe.path, fe.bytes)), bounds.keys.toSeq),
      bounds)
  }

  /** [[candidatePaths]] plus a STRING box: the numeric prune first,
    * then [[intersectsStr]] over the survivors' entries. Used by the
    * string/UUID-keyed merge and upsert shapes.
    */
  private def candidatePathsB(spark: SparkSession, st: CommitState,
      num: Map[String, (Double, Double)],
      str: Map[String, (String, String)]): Seq[String] = {
    val numPruned = candidatePaths(spark, st, num)
    if (str.isEmpty) numPruned
    else {
      val strP = str.map { case (k, v) => physicalName(st.schema, k) -> v }
      val keep = numPruned.toSet
      st.files.filter(fe => keep(fe.path) && intersectsStr(fe, strP)).map(_.path)
    }
  }

  /** WRITER-SIDE PUSHED PLANNING — the write-path half of filtered
    * checkpoint reconstruction: candidate selection for a rewrite
    * (merge phase 1, DELETE/UPSERT stats pruning, [[prunedRead]])
    * served through the snapshot's parquet checkpoint instead of a
    * driver loop over the materialized listing. The coarse bounds
    * predicate evaluates INSIDE a distributed columnar read of the
    * `ckptpq` dataset (conservative: stats-less entries always
    * survive — it may keep more than [[intersects]], never less), and
    * only the survivors plus the bounded delta tail refine with the
    * exact driver-side check. Returns the version's scalar state with
    * `files` restricted to exactly the candidates and `dvs` to theirs
    * — a planning state every downstream consumer (candidate rows, DV
    * snapshots, partitioned restage) uses unchanged. Driver cost:
    * O(candidates), not O(#files × #bounds).
    */
  private def pushedCandState(spark: SparkSession, l: PushedListing,
      bounds0: Map[String, (Double, Double)],
      strBounds0: Map[String, (String, String)] = Map.empty): CommitState = {
    import org.apache.spark.sql.functions.{col, lit}
    // stats are keyed by PHYSICAL names; callers pass logical bounds
    val bounds = bounds0.map { case (k, v) => physicalName(l.scalar.schema, k) -> v }
    val strBounds = strBounds0.map { case (k, v) => physicalName(l.scalar.schema, k) -> v }
    val asciiRe = "^[\\x00-\\x7F]*$"
    val numTerms = bounds.map { case (c, (lo, hi)) =>
      val s = col("stats").getItem(c)
      // CONTRACT (same as GraftFileIndex.ckptKeep): TRUE whenever the
      // driver's intersects() would keep the entry — absent stats and
      // unbounded sides keep; only a provably-disjoint range drops
      s.isNull || s.getField("minNum").isNull || s.getField("maxNum").isNull ||
        (s.getField("maxNum") >= lit(lo) && s.getField("minNum") <= lit(hi))
    }
    val strTerms = strBounds.map { case (c, (lo, hi)) =>
      if (!allAsciiStr(lo) || !allAsciiStr(hi)) lit(true)
      else {
        val s = col("stats").getItem(c)
        val mn = s.getField("minStr")
        val mx = s.getField("maxStr")
        // keep when stats/bounds absent or stored bounds non-ASCII —
        // the coarse twin of intersectsStr's soundness guard
        s.isNull || mn.isNull || mx.isNull ||
          !(mn.rlike(asciiRe) && mx.rlike(asciiRe)) ||
          (mx >= lit(lo) && mn <= lit(hi))
      }
    }
    val coarse = (numTerms ++ strTerms).reduceOption(_ && _).getOrElse(lit(true))
    import spark.implicits._
    val survivors = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .where(coarse).as[CkptFileRow].collect()
    val kept = (survivors.iterator.map(l.toEntry)
      .filterNot(fe => l.tailRemoves(fe.path)) ++ l.tailAdds.iterator)
      .filter(fe => intersects(fe, bounds) && intersectsStr(fe, strBounds)).toVector
    val dv = l.dvMap(spark)
    l.scalar.copy(files = kept,
      dvs = kept.iterator.flatMap(fe => dv.get(fe.path).map(fe.path -> _)).toMap)
  }

  /** [[pushedCandState]] for the CURRENT version of `root`, when the
    * pushed path serves it: at or above the pushed threshold, with a
    * recorded schema, and with non-empty `bounds` to prune on. None ⇒
    * the caller materializes as before. PLANNING ONLY: the commit's
    * conflict check re-reads the live state, so a snapshot raced by a
    * concurrent writer is caught there exactly as on the materialized
    * path.
    */
  private def pushedPlanState(spark: SparkSession, root: String,
      bounds: Map[String, (Double, Double)],
      version: Option[Long] = None,
      strBounds: Map[String, (String, String)] = Map.empty): Option[(CommitState, Long)] = {
    val t = pushedPruneThreshold(spark)
    if (t <= 0 || (bounds.isEmpty && strBounds.isEmpty)) return None
    pushedListing(spark, root, version)
      .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
      .map(l => (pushedCandState(spark, l, bounds, strBounds), l.version))
  }

  /** Stats-pruned read of `version` (default latest): candidate files
    * decided from the COMMIT (no data-file footer is opened to plan the
    * scan), then the exact predicate applied. `statCols` is accepted
    * for signature stability; the commit already carries stats for all
    * primitive columns.
    */
  def prunedRead(spark: SparkSession, root: String, statCols: Seq[String],
      bounds: Map[String, (Double, Double)], version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pst = pushedPlanState(spark, root, bounds, version).map(_._1)
    val st = pst.getOrElse(commitState(spark, root, version))
    // pushed planning already restricted st.files to the candidates
    val files = pst.map(_.files.map(_.path)).getOrElse(candidatePaths(spark, st, bounds))
    val df =
      if (files.isEmpty) emptyLike(spark, st)
      else readWithDvs(spark, root, st, files)
    bounds.foldLeft(df) { case (d, (cn, (lo, hi))) => d.filter(col(cn) >= lo && col(cn) <= hi) }
  }

  private def emptyLike(spark: SparkSession, st: CommitState): DataFrame =
    st.schema match {
      case Some(s) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      case None => spark.read.parquet(st.files.head.path).limit(0)
    }

  /** Partition-pruned read: only the files whose recorded partition
    * values match every `filter` entry — selected from commit metadata,
    * no directory listing, no footer reads.
    */
  def readPartitions(spark: SparkSession, root: String, filter: Map[String, String],
      version: Option[Long] = None): DataFrame = {
    val st = commitState(spark, root, version)
    val files = entriesMatching(st, filter).map(_.path)
    if (files.isEmpty) emptyLike(spark, st)
    else readWithDvs(spark, root, st, files)
  }

  /** Distinct partition tuples of `version` with file/row counts —
    * commit metadata only.
    */
  def partitions(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val st = commitState(spark, root, version)
    st.files.groupBy(_.part).toSeq
      .map { case (p, fes) =>
        (st.partCols.map(c => p.getOrElse(c, null)).mkString("/"),
          fes.size.toLong, fes.map(_.bytes).sum, fes.map(_.rows).filter(_ >= 0).sum)
      }
      .sortBy(_._1)
      .toDF("partition", "n_files", "n_bytes", "n_rows")
  }

  // ------------------------------------------------------------------
  // Row-level mutation: DELETE and UPSERT (stats-pruned from the commit)
  // ------------------------------------------------------------------

  /** Row-level DELETE — the takedown/GDPR path, Delta's DELETE shape:
    * the files that COULD hold matching rows are planned from commit
    * stats (`bounds`; a 20-row deletion against a Z-ordered 100 TB
    * table rewrites a handful of files, not the table), only those are
    * rewritten with the predicate inverted, and kept + rewritten commit
    * as the next version — untouched files carry by reference.
    * SQL DELETE semantics: only rows where the predicate is TRUE are
    * deleted; NULL-evaluating rows survive. Old versions still see the
    * deleted rows until [[vacuum]] — point-in-time reads are the
    * feature; vacuum is the compliance boundary. Returns the new
    * version, or None when no file could match or a competing rewrite
    * touched the same files (concurrent appends and disjoint rewrites
    * rebase fine).
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
      bounds: Map[String, (Double, Double)] = Map.empty,
      maxDvFraction: Double = 0.0): Option[Long] = {
    import org.apache.spark.sql.functions.lit
    // candidate planning through the pushed checkpoint read when it
    // serves this snapshot (st.files = exactly the candidates there)
    val pst = pushedPlanState(spark, root, bounds)
    val st = pst.map(_._1).getOrElse(commitState(spark, root, None))
    val planV = pst.map(_._2)
    val candidates = pst.map(_._1.files.map(_.path))
      .getOrElse(candidatePaths(spark, st, bounds))
    if (candidates.isEmpty) return None
    if (maxDvFraction > 0.0)
      deleteViaDv(spark, root, st, candidates, predicate, maxDvFraction, planV) match {
        case Some(result) => return result // committed (or true conflict)
        case None => // fraction exceeded / legacy stats — fall through to rewrite
      }
    val src = readWithDvs(spark, root, st, candidates) // already-tombstoned rows stay deleted
    // keep rows where predicate is NOT TRUE (false or NULL) — 3-valued
    // logic: DELETE removes only rows the predicate positively matched
    val survivors = src.filter(!(predicate <=> lit(true)))
    // survivors restage through the same (possibly partitioned) write
    // path as appends, so a delete spanning several partitions keeps
    // every surviving row's partition metadata exact
    val (outDir, added) = stageFiles(spark, root, survivors, st.partCols, "delete",
      mapSchema = st.schema)
    commitRewrite(spark, root, candidates.toSet, added, outDir,
      dvSnapshotOf(st, candidates.toSet), op = "DELETE", planV = planV)
  }

  /** MERGE-ON-READ delete (deletion vectors): when the matched rows are
    * ≤ `maxFraction` of the candidate files' rows, record them as
    * (file, position) tombstones in a sidecar and commit a DV-reference
    * update — a k-row takedown against a 1 GB file writes O(k) bytes
    * instead of a 1 GB rewrite (Delta DV / Iceberg positional-delete
    * shape). Reads anti-join the sidecar ([[readWithDvs]]);
    * [[compact]]/[[upsert]]/[[optimizeZOrder]] re-materialize touched
    * files and drop the references; a later rewrite-mode delete folds
    * them too. Each touched file keeps exactly ONE sidecar reference:
    * repeated DV deletes carry the file's previous tombstones into the
    * new sidecar.
    *
    * Returns Some(result) when the DV path decided (committed, no-op,
    * or true conflict), None when the caller should fall back to the
    * rewrite path (fraction exceeded, or legacy files without row
    * counts — the fraction cannot be bounded).
    */
  /** Open `candidates` with `_metadata`-derived row-identity columns
    * (`__gv_file`, `__gv_pos` — RESERVED temp names, so a table column
    * literally named `file` or `pos` keeps its DATA values: predicates
    * and key joins over the victim frame must see the table, not the
    * metadata) and the candidates' EXISTING deletion vectors applied —
    * the common victim-finding frame for DV delete and DV upsert.
    * Callers rename to the sidecar's (`file`, `pos`) only AFTER
    * projecting the identity columns out.
    */
  private def candidateRowsWithPos(spark: SparkSession, root: String, st: CommitState,
      candidates: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = (st.schema match {
      case Some(s) => spark.read.schema(physicalSchema(s)).parquet(candidates: _*)
      case None => spark.read.parquet(candidates: _*)
    })
      .withColumn("__gv_file", col("_metadata.file_path"))
      .withColumn("__gv_pos", col("_metadata.row_index"))
    val withDvs = applyDvs(spark, root, base, candidates.flatMap(p => st.dvs.get(p)).map(_._1).distinct)
    // logical names for the caller's predicate/key join; identity cols kept
    st.schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
  }

  /** Per-file NEW tombstone counts of a victims frame, keyed by the
    * sidecar's own normalization ([[relCanonCol]] — the same key
    * [[relNorm]] yields for a listing path). Victims are live rows by
    * construction (every producer scans through the DVs), so this sum
    * IS the operation's new-tombstone count — the DV-vs-rewrite
    * fraction decision happens here, BEFORE anything is staged.
    * Callers persist `victims` first: the aggregate is then the frame's
    * one materializing scan and the sidecar write below re-reads cache.
    */
  private def victimCounts(root: String, victims: DataFrame): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    victims.groupBy(relCanonCol(root, col("file")).as("file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Stage a merged tombstone sidecar: `victims` (new (file, pos) rows
    * over `candidates`, per-file counts pre-aggregated by
    * [[victimCounts]] — non-empty by contract) plus the candidates'
    * carried previous tombstones, written as one file. Returns (dvDir,
    * sidecar path, per-file totals by normalized path). The totals are
    * computed from the counts plus each candidate's RECORDED prior
    * tombstone count — exact because victims are live rows (disjoint
    * from every carried tombstone) — so the staged sidecar is never
    * read back.
    */
  private def stageDvSidecar(spark: SparkSession, root: String, st: CommitState,
      candidates: Seq[String], victims: DataFrame,
      victimsPerFile: Map[String, Long]): (Path, String, Map[String, Long]) = timed("dvstage") {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    // carried rows: the candidates' previous tombstones move into the
    // new sidecar (restricted to candidate files — a sidecar shared
    // with untouched files keeps serving them where it is). file-path
    // renderings differ between _metadata (file:///x) and the listing
    // (file:/x); compare on the scheme-stripped path.
    val existingDvPaths = candidates.flatMap(p => st.dvs.get(p)).map(_._1).distinct
    // carried entries resolve to ABSOLUTE via each sidecar's OWN root
    // (a clone carries tombstones out of the source's sidecars), then
    // the write below relativizes against THIS table's root — in-root
    // files store relative, foreign files stay absolute
    val candAbs = candidates.map(canonAbs)
    val carried =
      if (existingDvPaths.isEmpty) victims.limit(0)
      else dvEntriesAbs(spark, root, existingDvPaths)
        .filter(col("file").isin(candAbs: _*))
    val dvDir = new Path(root, s"data/dv-${java.util.UUID.randomUUID()}")
    // sidecar entries store ROOT-RELATIVE paths (like the commit log),
    // so the table directory moves/copies as a unit; relCanonCol keeps
    // legacy absolute entries joining correctly on the way through
    victims.unionByName(carried)
      .select(relCanonCol(root, col("file")).as("file"), col("pos"))
      .coalesce(1).write.options(WriteOpts.data).parquet(dvDir.toString)
    val sidecar = listParquet(f, dvDir).headOption.map(_._1).getOrElse(
      throw new IllegalStateException(s"dv sidecar write produced no file at $dvDir"))
    // per-file totals (old + new tombstones): victims counts plus the
    // candidates' recorded per-file prior — no read-back of the sidecar
    val perFile = candidates.flatMap { p =>
      val key = relNorm(root, p)
      val n = victimsPerFile.getOrElse(key, 0L) + st.dvs.get(p).map(_._2).getOrElse(0L)
      if (n > 0) Some(key -> n) else None
    }.toMap
    (dvDir, sidecar, perFile)
  }

  private def deleteViaDv(spark: SparkSession, root: String, st: CommitState,
      candidates: Seq[String], predicate: Column,
      maxFraction: Double, planV: Option[Long] = None): Option[Option[Long]] = {
    import org.apache.spark.sql.functions.{col, lit}
    val candSet = candidates.toSet
    val candEntries = st.files.filter(fe => candSet(fe.path))
    if (candEntries.exists(_.rows < 0)) return None // legacy: unbounded fraction
    val totalRows = candEntries.map(_.rows).sum
    if (totalRows == 0) return Some(currentVersion(spark, root))
    val victims = candidateRowsWithPos(spark, root, st, candidates)
      .filter(predicate <=> lit(true))
      .select(col("__gv_file").as("file"), col("__gv_pos").as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = victimCounts(root, victims)
      val newMatches = counts.values.sum
      if (newMatches == 0) return Some(currentVersion(spark, root)) // no-op delete
      if (newMatches.toDouble / totalRows > maxFraction)
        return None // too big for merge-on-read: rewrite (nothing staged yet)
      val (dvDir, sidecar, perFile) = stageDvSidecar(spark, root, st, candidates, victims, counts)
      val updates = candEntries.flatMap { fe =>
        perFile.get(relNorm(root, fe.path)).map(n => fe.path -> (sidecar, n))
      }.toMap
      val snapshot = updates.keySet.map(p => p -> st.dvs.get(p)).toMap
      Some(commitDvUpdate(spark, root, updates, snapshot, Seq(dvDir), op = "DELETE dv",
        planV = planV))
    } finally { victims.unpersist(); () }
  }

  /** Commit a DV-reference update (optionally together with `added`
    * files — the merge-on-read UPSERT shape) with the rewrite conflict
    * rule: rebase across interleaved commits that keep every touched
    * file live WITH the DV reference we built from; a competing rewrite
    * (file gone) or competing DV update (reference moved — our sidecar
    * was built from a stale one and would lose its tombstones) returns
    * None and cleans the staged dirs.
    */
  private def commitDvUpdate(spark: SparkSession, root: String,
      updates: Map[String, (String, Long)],
      snapshot: Map[String, Option[(String, Long)]], cleanup: Seq[Path],
      added: Seq[FileEntry] = Seq.empty, op: String = "DV UPDATE",
      cdf: Seq[String] = Nil,
      schemaEvolved: Option[(String, Option[String])] = None,
      planV: Option[Long] = None): Option[Long] = {
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      // O(delta) path (see commitRewrite): conflict over the
      // interleaved delta tail, commit rendered directly
      planV.flatMap(pv => walkDeltas(spark, root, pv, baseV)) match {
        case Some(tail) =>
          val conflict = updates.keys.exists(p =>
            tail.exists(d => d.removes(p) || d.dvSets.contains(p))) ||
            (schemaEvolved.isDefined && tail.exists(_.schemaJson.isDefined))
          if (conflict) { cleanup.foreach(d => f.delete(d, true)); return None }
          val v = nextVersion(spark, root, Some(baseV))
          if (tryCommitDelta(spark, root, v, baseV, added, Set.empty, updates,
              schemaJson = schemaEvolved.map(_._1), op = op, cdf = cdf))
            return Some(v)
        case None =>
          val cur = commitState(spark, root, Some(baseV))
          val livePaths = cur.files.map(_.path).toSet
          val conflict = updates.keys.exists(p => !livePaths(p) || cur.dvs.get(p) != snapshot(p)) ||
            schemaEvolved.exists { case (_, base) => cur.schemaJson != base }
          if (conflict) { cleanup.foreach(d => f.delete(d, true)); return None }
          val v = nextVersion(spark, root, Some(baseV))
          if (tryCommit(spark, root, v,
              cur.copy(files = cur.files ++ added, dvs = cur.dvs ++ updates,
                schemaJson = schemaEvolved.map(_._1).orElse(cur.schemaJson)),
              Some(baseV -> cur), op, cdf)) return Some(v)
      }
      attempt += 1
    }
    throw new IllegalStateException(s"dv update: lost $attempt commit races at $root")
  }

  /** UPSERT (MERGE by key) — the CDC-apply primitive: rows in `updates`
    * REPLACE same-key rows and new keys INSERT. File selection is
    * stats-driven from the commit like [[deleteWhere]]: for NUMERIC
    * keys, only files whose recorded key range intersects the updates'
    * key range rewrite (existing rows anti-joined against the update
    * keys, then the updates appended); other files carry by reference.
    * Clustered tables therefore pay O(touched files), not O(table), per
    * CDC batch. Non-numeric keys (string/UUID) cannot use the numeric
    * stats and CONSERVATIVELY rewrite all files — cluster on a numeric
    * or time key to get pruned CDC. An empty batch is a no-op.
    * Returns the new version; None when a competing rewrite touched the
    * same files.
    *
    * Contract: `updates` carries the table's schema with at most one
    * row per key — pre-aggregate a CDC stream to last-writer-wins
    * upstream; duplicate keys here would land as duplicate rows (the
    * union semantics say so rather than silently electing a winner).
    */
  def upsert(spark: SparkSession, root: String, updates0: DataFrame,
      keyCol: String, maxDvFraction: Double = 0.0): Option[Long] = {
    // the CDC batch is bounded by definition and evaluated many times
    // below (key-range agg, checks, CDF legs, DV victims, the staged
    // write) — persist it ONCE for the operation; the emptiness check
    // folds into the key-range aggregate (ONE batch scan, not two)
    val updates = updates0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try upsertImpl(spark, root, updates, keyCol, maxDvFraction)
    finally { updates.unpersist(); () }
  }

  private def upsertImpl(spark: SparkSession, root: String, updates: DataFrame,
      keyCol: String, maxDvFraction: Double): Option[Long] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val keyType = updates.schema(keyCol).dataType
    val numericKey = keyType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    val stringKey = keyType == org.apache.spark.sql.types.StringType
    // the batch's key range first (needs only `updates`), so candidate
    // planning can go through the pushed checkpoint read without ever
    // materializing the listing. Numeric/temporal keys prune on the
    // numeric stats; STRING keys (the UUID-CDC shape) prune on the
    // string stats under the ASCII soundness guard; anything else
    // keeps every file a candidate. The row COUNT rides the same
    // aggregate — the empty-batch no-op costs no extra scan.
    val rangeRow = {
      val aggs =
        if (numericKey) Seq(count(lit(1)),
          min(col(keyCol).cast("double")), max(col(keyCol).cast("double")))
        else if (stringKey) Seq(count(lit(1)), min(col(keyCol)), max(col(keyCol)))
        else Seq(count(lit(1)))
      updates.agg(aggs.head, aggs.tail: _*).head()
    }
    if (rangeRow.getLong(0) == 0L) { // empty CDC batch: no-op (but the table must exist)
      val v = currentVersion(spark, root)
      require(v.isDefined, s"no committed version at $root")
      return v
    }
    val bounds: Map[String, (Double, Double)] =
      if (!numericKey || rangeRow.isNullAt(1)) Map.empty // all-NULL keys: cannot prune
      else Map(keyCol -> (rangeRow.getDouble(1), rangeRow.getDouble(2)))
    val strBounds: Map[String, (String, String)] =
      if (!stringKey || rangeRow.isNullAt(1)) Map.empty
      else Map(keyCol -> (rangeRow.getString(1), rangeRow.getString(2)))
    val pst = pushedPlanState(spark, root, bounds, strBounds = strBounds)
    val st = pst.map(_._1).getOrElse(commitState(spark, root, None))
    val planV = pst.map(_._2)
    validateChecks(updates, st.checks, "upsert") // new rows must satisfy the checks
    val candidates =
      if ((bounds.isEmpty && strBounds.isEmpty) || pst.isDefined) st.files.map(_.path)
      else candidatePathsB(spark, st, bounds, strBounds)
    // ONE candidate scan serves both row-level legs: the MATCHED rows
    // (candidates ⋉ the batch's keys, row identity kept) feed the CDC
    // pre-images AND the merge-on-read victims — persisted so the scan
    // runs once, bounded by the CDC batch (matched old rows).
    val matched: Option[DataFrame] =
      if (candidates.isEmpty || (!cdfEnabled(st) && maxDvFraction <= 0.0)) None
      else Some(candidateRowsWithPos(spark, root, st, candidates)
        .join(updates.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the merge-on-read victim counts ALSO materialize the shared frame
    // — on the MAIN thread, before the CDC leg forks, so concurrent
    // consumers read settled cache instead of convoying on block locks
    val counts: Map[String, Long] =
      if (matched.isEmpty || maxDvFraction <= 0.0) Map.empty
      else victimCounts(root,
        matched.get.select(col("__gv_file").as("file"), col("__gv_pos").as("pos")))
    try Forks(spark) { forks =>
      // EXACT change-data capture (table property `enableChangeFeed`):
      // matched keys' old/new rows become update_preimage/update_postimage
      // and unmatched batch rows insert — written as a `_cdf/` sidecar the
      // commit references, so [[readChanges]] serves update images instead
      // of diff-derived delete+insert. The pre/post/ins legs all derive
      // from the shared cached frame; off by default, same stance as
      // Delta's `delta.enableChangeDataFeed`. Staged on a fork that
      // overlaps the DV/rewrite stage below (Forks scaladoc).
      val cdf =
        if (!cdfEnabled(st)) None
        else Some(forks.fork("cdf") {
          import org.apache.spark.sql.functions.lit
          val pre = matched
            .map(_.drop("__gv_file", "__gv_pos"))
            .getOrElse(emptyLike(spark, st))
            .withColumn("_change_type", lit("update_preimage"))
          val matchedKeys = pre.select(col(keyCol)).distinct()
          val post = updates.join(matchedKeys, Seq(keyCol), "left_semi")
            .withColumn("_change_type", lit("update_postimage"))
          val ins = updates.join(matchedKeys, Seq(keyCol), "left_anti")
            .withColumn("_change_type", lit("insert"))
          stageChangeData(spark, root, st, pre.unionByName(post).unionByName(ins))
        })
      val cdfNameF = () => cdf.flatMap(_.join())
      // Some = committed (or true conflict); None = fraction exceeded /
      // legacy stats — fall back to the rewrite
      (if (maxDvFraction > 0.0 && candidates.nonEmpty)
        upsertViaDv(spark, root, st, candidates,
          matched.get.select(col("__gv_file").as("file"), col("__gv_pos").as("pos")),
          counts, updates, maxDvFraction, cdfNameF, planV)
      else None).getOrElse {
        val cdfName = cdfNameF()
        val cdfDirs = cdfName.map(n => new Path(cdfRootDir(root), n)).toSeq
        val rewritten =
          if (candidates.isEmpty) updates // pure insert
          else {
            val src = readWithDvs(spark, root, st, candidates) // rewrite re-materializes the DVs away
            src.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti").unionByName(updates)
          }
        // restage through the (possibly partitioned) write path: a CDC
        // batch spanning partitions keeps every row's partition metadata
        val (outDir, added) = stageFiles(spark, root, rewritten, st.partCols, "upsert",
          mapSchema = st.schema)
        commitRewrite(spark, root, candidates.toSet, added, outDir,
          dvSnapshotOf(st, candidates.toSet), op = "UPSERT",
          cdf = cdfName.toSeq, extraCleanup = cdfDirs, planV = planV)
      }
    } finally { matched.foreach(_.unpersist()); () }
  }

  /** MERGE-ON-READ upsert (the Delta DV MERGE shape): instead of
    * rewriting every candidate file, the updated keys' OLD rows are
    * tombstoned into a sidecar and the update batch appends as new
    * files — ONE commit adds the files and repoints the DV references,
    * so a CDC batch touching k keys across huge files writes
    * O(k + batch) bytes instead of rewriting every candidate. Falls
    * back (None) when the tombstoned fraction exceeds `maxFraction`
    * (at that point the rewrite amortizes better and also folds the
    * accumulated sidecars) or when legacy files carry no row counts.
    * The CDF still shows delete(old image) + insert(new image), because
    * the step's identity diff covers both the DV change and the added
    * files.
    */
  private def upsertViaDv(spark: SparkSession, root: String, st: CommitState,
      candidates: Seq[String], victims: DataFrame, counts: Map[String, Long],
      updates: DataFrame,
      maxFraction: Double, cdfNameF: () => Option[String],
      planV: Option[Long]): Option[Option[Long]] = {
    val candSet = candidates.toSet
    val candEntries = st.files.filter(fe => candSet(fe.path))
    if (candEntries.exists(_.rows < 0)) return None // legacy: unbounded fraction
    val totalRows = candEntries.map(_.rows).sum
    // `victims` projects the caller's PERSISTED matched frame (counts
    // pre-aggregated there), so the sidecar write below reads cache
    val newMatches = counts.values.sum
    if (newMatches > 0 && (totalRows == 0 || newMatches.toDouble / totalRows > maxFraction))
      return None // rewrite amortizes better (nothing staged yet)
    // the update rows stage as NEW files (partition metadata exact)
    Some(stageDvCommit(spark, root, st, candidates, candEntries, victims, counts,
      updates, "upsert", st.schema, cdfNameF, "UPSERT dv", None, planV))
  }

  /** The merge-on-read tail of [[upsertViaDv]] and [[mergeViaDv]]: the
    * tombstone sidecar (when `counts` has victims) and the `images`
    * files are independent writes over decided inputs, so the sidecar
    * stages on a fork CONCURRENTLY with the images (Forks scaladoc);
    * the caller's overlapped CDC stage (`cdfNameF`) joins only after
    * both were started, then ONE [[commitDvUpdate]] lands everything.
    */
  private def stageDvCommit(spark: SparkSession, root: String, st: CommitState,
      candidates: Seq[String], candEntries: Seq[FileEntry], victims: DataFrame,
      counts: Map[String, Long], images: DataFrame, stageTag: String,
      stageSchema: Option[StructType], cdfNameF: () => Option[String], op: String,
      schemaEvolved: Option[(String, Option[String])],
      planV: Option[Long]): Option[Long] = Forks(spark) { forks =>
    val sidecarF =
      if (counts.values.sum == 0) None // no victim rows: pure insert images
      else Some(forks.fork("dv-sidecar")(
        stageDvSidecar(spark, root, st, candidates, victims, counts)))
    val (outDir, added) = stageFiles(spark, root, images, st.partCols, stageTag,
      mapSchema = stageSchema)
    val cdfName = cdfNameF()
    val cdfDirs = cdfName.map(n => new Path(cdfRootDir(root), n)).toSeq
    val (dvUpdates, dvDirs) = sidecarF.map(_.join()) match {
      case None => (Map.empty[String, (String, Long)], Nil)
      case Some((dvDir, sidecar, perFile)) =>
        (candEntries.flatMap { fe =>
          perFile.get(relNorm(root, fe.path)).map(n => fe.path -> (sidecar, n))
        }.toMap, Seq(dvDir))
    }
    val snapshot = dvUpdates.keySet.map(p => p -> st.dvs.get(p)).toMap
    commitDvUpdate(spark, root, dvUpdates, snapshot, cdfDirs ++ dvDirs :+ outDir,
      added, op = op, cdf = cdfName.toSeq, schemaEvolved = schemaEvolved, planV = planV)
  }

  // ------------------------------------------------------------------
  // General MERGE (the ANSI/Delta MERGE INTO surface)
  // ------------------------------------------------------------------

  /** One WHEN clause of a [[merge]]. Conditions and SET/VALUES
    * expressions are SQL strings over two aliases: `t` (the target
    * row) and `s` (the source row) — e.g. `"s.op = 'U'"`,
    * `Map("qty" -> "t.qty + s.qty")`. Clauses are evaluated in the
    * order given and the FIRST whose condition holds applies (the ANSI
    * MERGE rule); a clause with no condition is unconditional and must
    * therefore be last in its group.
    */
  sealed trait MergeClause { def condition: Option[String] }
  /** UPDATE SET: `set` maps target columns to expressions; an EMPTY
    * `set` means `UPDATE SET *` — every target column that exists in
    * the source by name takes `s.<col>`, the rest keep their values.
    */
  final case class MergeUpdate(set: Map[String, String] = Map.empty,
      condition: Option[String] = None) extends MergeClause
  /** DELETE the matched target row. */
  final case class MergeDelete(condition: Option[String] = None) extends MergeClause
  /** INSERT for a source row with no match: `values` maps target
    * columns to expressions over `s`; an EMPTY `values` means
    * `INSERT *` — target columns present in the source by name take
    * `s.<col>`, the rest insert NULL.
    */
  final case class MergeInsert(values: Map[String, String] = Map.empty,
      condition: Option[String] = None) extends MergeClause

  /** MERGE `source` INTO the table — the general ANSI/Delta
    * `MERGE INTO t USING s ON …` statement over the versioned format:
    * ordered WHEN MATCHED update/delete clauses, WHEN NOT MATCHED
    * inserts, and WHEN NOT MATCHED BY SOURCE update/delete clauses
    * (the Delta 3.x surface), committed as ONE atomic version.
    * [[upsert]] stays the fast path for the plain CDC key-replace
    * shape; `merge` is the full statement.
    *
    * Execution is the two-phase shape Delta documents, re-expressed as
    * Catalyst plans:
    *
    *  1. FIND TOUCHED FILES — candidate files are pruned from COMMIT
    *     stats by the source's `on`-key range (numeric keys; others
    *     scan conservatively), then one inner join of the candidates'
    *     rows (deletion vectors applied, row identity from
    *     `_metadata`) against the source finds (a) the files that
    *     actually hold matches and (b) the per-target-row match count.
    *     More than one source match for a target row under an
    *     update/delete clause throws — the ANSI nondeterminism rule —
    *     BEFORE anything is staged.
    *  2. WRITE — only the touched files rewrite: a full-outer join of
    *     their rows with the source classifies every row once
    *     (first-match-wins CASE over the clause conditions, a single
    *     codegen'd projection), survivors and updated images restage
    *     through the partitioned write path, inserts append, and
    *     [[commitRewrite]] swaps the touched files atomically under
    *     the usual conflict rules (file identity = path + DV ref).
    *     Untouched files carry by reference, so a CDC-sized merge into
    *     a 100 TB table pays O(touched files + batch), not O(table).
    *     An insert-only merge (no matched/by-source clauses) removes
    *     nothing — it degrades to a pruned anti-join append.
    *
    * `notMatchedBySource` clauses reference target rows with NO source
    * match, so they force every live file into the rewrite set (their
    * conditions see only `t`; there is no key range to prune by) —
    * same caveat as Delta. With `maxDvFraction` > 0 the changed rows
    * are instead TOMBSTONED into a deletion-vector sidecar and only
    * the new images append (merge-on-read, one commit), falling back
    * to the rewrite when the changed fraction exceeds the bound.
    *
    * CHECK constraints validate over the updated/inserted images only
    * (kept rows passed at their own write time). The CDF shows
    * delete(old image) + insert(new image) for updates, exactly like
    * [[upsert]]. Returns the committed version; None on a losing race
    * with a concurrent rewrite/DV update of a touched file; the
    * current version unchanged when the merge is a no-op.
    *
    * Ref semantics: BigQuery `MERGE` (the reference's dbt
    * incremental-materialization primitive, dbt_project.yml:27-30);
    * architecture: the publicly documented Delta MERGE command.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame, on: Seq[String],
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeInsert] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      extraOn: Option[String] = None,
      maxDvFraction: Double = 0.0,
      autoMerge: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, min, when}
    require(on.nonEmpty, "merge: `on` key columns required")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "merge: at least one WHEN clause required")
    matched.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "merge: INSERT is not a WHEN MATCHED action")
      case _ =>
    }
    notMatchedBySource.foreach {
      case _: MergeInsert => throw new IllegalArgumentException(
        "merge: INSERT is not a WHEN NOT MATCHED BY SOURCE action")
      case MergeUpdate(set, _) if set.isEmpty => throw new IllegalArgumentException(
        "merge: a WHEN NOT MATCHED BY SOURCE update needs an explicit SET " +
          "(there is no source row to take * from)")
      case _ =>
    }
    def checkOrder(cs: Seq[MergeClause], what: String): Unit =
      cs.dropRight(1).foreach(c => require(c.condition.isDefined,
        s"merge: every $what clause except the last needs a condition " +
          "(an unconditional clause makes later ones unreachable)"))
    checkOrder(matched, "WHEN MATCHED")
    checkOrder(notMatched, "WHEN NOT MATCHED")
    checkOrder(notMatchedBySource, "WHEN NOT MATCHED BY SOURCE")
    val reserved = Seq("__gv_file", "__gv_pos", "__g_t", "__g_s", "__g_action", "__g_tf")
    reserved.foreach(r => require(!source.columns.contains(r),
      s"merge: source column name '$r' is reserved"))

    // the version's SCALAR state first: schema and evolution decisions
    // need no listing, so a pushed snapshot never materializes its
    // O(#files) entries just to resolve column names. The SAME
    // PushedListing then serves phase 1's candidate selection — one
    // consistent planning version.
    val pushedL: Option[PushedListing] = {
      val t = pushedPruneThreshold(spark)
      if (t <= 0) None
      else pushedListing(spark, root, None)
        .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
    }
    val st0 = pushedL.map(_.scalar).getOrElse(commitState(spark, root, None))
    val tblSchema0 = st0.schema.getOrElse(
      spark.read.parquet(st0.files.head.path).schema)
    // SCHEMA EVOLUTION (opt-in `autoMerge`, Delta's autoMerge shape):
    // extra source columns append to the table schema as NULLABLE
    // fields — checkEvolution's resurrection guards still reject a new
    // name colliding with a renamed column's physical name or a
    // dropped column's remnant. Existing files null-fill on read (the
    // force-nullable physical schema); the new schema commits
    // ATOMICALLY with the merge itself, conflict-checked against the
    // schema it evolved from.
    // "new" is resolved the way the SESSION resolves names: under the
    // default case-insensitive analysis a source 'ID' against a table
    // 'id' is the SAME column, not a new one (treating it as new would
    // commit a duplicate-modulo-case schema that poisons every later
    // query) — Delta matches per spark.sql.caseSensitive, so do we
    val evoCaseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def knownCol(n: String): Boolean =
      if (evoCaseSensitive) tblSchema0.fieldNames.contains(n)
      else tblSchema0.fieldNames.exists(_.equalsIgnoreCase(n))
    val newFields: Seq[org.apache.spark.sql.types.StructField] =
      if (!autoMerge) Seq.empty
      else source.schema.fields.toIndexedSeq
        .filterNot(f => knownCol(f.name))
        .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true))
    if (newFields.nonEmpty) require(st0.schema.isDefined,
      s"merge autoMerge: $root has legacy commits without a recorded schema")
    val tblSchema =
      if (newFields.isEmpty) tblSchema0
      else checkEvolution(tblSchema0,
        StructType(tblSchema0.fields ++ newFields), st0.dropped)
    val schemaEvolved: Option[(String, Option[String])] =
      if (newFields.isEmpty) None else Some((tblSchema.json, st0.schemaJson))
    val tHasCol = tblSchema0.fieldNames.toSet
    // the t side of the join has only the PRE-evolution columns; an
    // evolved column's target-row base value is NULL
    def tBase(c: String): org.apache.spark.sql.Column =
      if (tHasCol(c)) org.apache.spark.sql.functions.col("t." + c)
      else org.apache.spark.sql.functions.lit(null)
    val tblCols = tblSchema.fieldNames.toSeq
    on.foreach(k => require(tblCols.contains(k) && source.columns.contains(k),
      s"merge: on-key '$k' must exist in both the table and the source"))
    // SET * / INSERT * pull a source value for every table column the
    // source CARRIES — resolved the same way newFields was (a source
    // 'AMT' feeds table column 'amt' under case-insensitive analysis;
    // col("s.<name>") resolution below is case-insensitive to match)
    val srcExact = source.columns.toSet
    def srcHas(c: String): Boolean =
      if (evoCaseSensitive) srcExact(c)
      else srcExact(c) || source.columns.exists(_.equalsIgnoreCase(c))
    (matched ++ notMatchedBySource).foreach {
      case MergeUpdate(set, _) => set.keys.foreach(c => require(tblCols.contains(c),
        s"merge: SET target '$c' is not a table column"))
      case _ =>
    }
    notMatched.foreach(i => i.values.keys.foreach(c => require(tblCols.contains(c),
      s"merge: INSERT target '$c' is not a table column")))

    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- phase 1: candidates from commit stats, then touched files
      val numericKeys = on.filter(k => source.schema(k).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => true
        case _ => false
      })
      val stringKeys = on.filter(k =>
        source.schema(k).dataType == org.apache.spark.sql.types.StringType)
      // the source's key box (empty = cannot prune: NOT MATCHED BY
      // SOURCE must see every target row). Numeric/temporal keys prune
      // on the numeric stats; STRING keys (the UUID-CDC shape) on the
      // string stats under the ASCII soundness guard. The emptiness
      // check ("nothing to match, nothing to insert" no-op) rides the
      // SAME aggregate — one source scan, not two (guide §1.2); merges
      // with BY SOURCE clauses never needed either and keep zero scans.
      val (srcRows, bounds, strBounds): (Long, Map[String, (Double, Double)], Map[String, (String, String)]) =
        if (notMatchedBySource.nonEmpty) (-1L, Map.empty, Map.empty)
        else {
          val aggs = count(lit(1)) +: (numericKeys.flatMap(k =>
            Seq(min(col(k).cast("double")), max(col(k).cast("double")))) ++
            stringKeys.flatMap(k => Seq(min(col(k)), max(col(k)))))
          val row = src.agg(aggs.head, aggs.tail: _*).head()
          val nb = numericKeys.zipWithIndex.flatMap { case (k, i) =>
            if (row.isNullAt(1 + 2 * i)) None // all-NULL key: cannot prune on it
            else Some(k -> (row.getDouble(1 + 2 * i), row.getDouble(1 + 2 * i + 1)))
          }.toMap
          val off = 1 + 2 * numericKeys.size
          val sb = stringKeys.zipWithIndex.flatMap { case (k, i) =>
            if (row.isNullAt(off + 2 * i)) None
            else Some(k -> (row.getString(off + 2 * i), row.getString(off + 2 * i + 1)))
          }.toMap
          (row.getLong(0), nb, sb)
        }
      if (srcRows == 0L)
        return currentVersion(spark, root) // nothing to match, nothing to insert
      // phase-1 planning state: candidate selection through the pushed
      // checkpoint read when it serves this snapshot and the bounds
      // can prune (st.files = exactly the candidates there); the
      // materialized listing otherwise
      val canPrune = bounds.nonEmpty || strBounds.nonEmpty
      val st: CommitState = pushedL match {
        case Some(l) if canPrune => pushedCandState(spark, l, bounds, strBounds)
        case Some(_) => commitState(spark, root, None)
        case None => st0
      }
      // the version the pushed plan read — commits then conflict-check
      // and render O(delta) against it
      val planV: Option[Long] =
        if (pushedL.isDefined && canPrune) pushedL.map(_.version) else None
      val candidates: Seq[String] =
        if (!canPrune || pushedL.isDefined) st.files.map(_.path)
        else candidatePathsB(spark, st, bounds, strBounds)
      def joinCond: Column = {
        val keys = on.map(k => col("t." + k) === col("s." + k)).reduce(_ && _)
        extraOn.map(e => keys && expr(e)).getOrElse(keys)
      }

      // ---- phase 2 (SINGLE PASS): classify every candidate row once.
      // The ANSI multiple-match guard and the touched-file set both
      // derive from this join's persisted result (one O(touched files)
      // aggregate) instead of a separate inner-join pre-pass — the
      // merge scans its candidates exactly once.
      val tRows =
        if (candidates.isEmpty)
          emptyLike(spark, st)
            .withColumn("__gv_file", lit(null).cast("string"))
            .withColumn("__gv_pos", lit(null).cast("long"))
        else candidateRowsWithPos(spark, root, st, candidates)
      val j = tRows.withColumn("__g_t", lit(true)).alias("t")
        .join(src.withColumn("__g_s", lit(true)).alias("s"), joinCond, "full_outer")
      def condCol(c: Option[String]): Column = c.map(expr).getOrElse(lit(true))
      def chain(cs: Seq[MergeClause], tag: String): Column =
        cs.zipWithIndex.foldRight(lit(null).cast("string")) { case ((cl, i), acc) =>
          when(condCol(cl.condition), lit(s"$tag$i")).otherwise(acc)
        }
      val tP = coalesce(col("__g_t"), lit(false))
      val sP = coalesce(col("__g_s"), lit(false))
      val action =
        when(tP && sP, coalesce(chain(matched, "m"), lit("keep")))
          .when(tP && !sP, coalesce(chain(notMatchedBySource, "b"), lit("keep")))
          .otherwise(coalesce(chain(notMatched, "i"), lit("drop")))
      // always persisted: the guard aggregate, validation, CDF images,
      // DV victims, and the restage all reuse this one classified frame
      val acted = j.withColumn("__g_action", action)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      def updVal(set: Map[String, String], c: String): Column =
        set.get(c).map(expr).getOrElse(
          if (set.isEmpty && srcHas(c)) col("s." + c) else tBase(c))
      def insVal(values: Map[String, String], c: String): Column =
        values.get(c).map(expr).getOrElse(
          if (values.isEmpty && srcHas(c)) col("s." + c) else lit(null))
      def tags(cs: Seq[MergeClause], tag: String,
          p: MergeClause => Boolean): Seq[(String, MergeClause)] =
        cs.zipWithIndex.collect { case (cl, i) if p(cl) => (s"$tag$i", cl) }
      val updateTags = tags(matched, "m", _.isInstanceOf[MergeUpdate]) ++
        tags(notMatchedBySource, "b", _.isInstanceOf[MergeUpdate])
      val deleteTags = (tags(matched, "m", _.isInstanceOf[MergeDelete]) ++
        tags(notMatchedBySource, "b", _.isInstanceOf[MergeDelete])).map(_._1)
      val insertTags = notMatched.zipWithIndex.map { case (cl, i) => (s"i$i", cl) }
      val outCols: Seq[Column] = tblSchema.fields.toIndexedSeq.map { fd =>
        val c = fd.name
        val withUpd = updateTags.foldRight(tBase(c).cast(fd.dataType)) { case ((tg, cl), acc) =>
          when(col("__g_action") === tg,
            updVal(cl.asInstanceOf[MergeUpdate].set, c)).otherwise(acc)
        }
        val full = insertTags.foldRight(withUpd) { case ((tg, cl), acc) =>
          when(col("__g_action") === tg, insVal(cl.values, c)).otherwise(acc)
        }
        full.cast(fd.dataType).as(c)
      }
      val changedTags = updateTags.map(_._1) ++ insertTags.map(_._1)
      val dropTags = deleteTags :+ "drop"

      try {
        // ANSI multiple-match guard + touched-file set, ONE aggregate
        // over the classified frame (O(touched files) rows to the
        // driver) — the fold that replaces the former inner-join pass
        val perFile: Array[(String, Long)] =
          if (matched.isEmpty) Array.empty
          else acted.filter(tP && sP)
            .groupBy(col("__gv_file"), col("__gv_pos")).agg(count(lit(1)).as("__g_n"))
            .groupBy(col("__gv_file")).agg(max(col("__g_n")).as("__g_maxn"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
        if (perFile.exists(_._2 > 1L))
          throw new IllegalStateException(
            "merge: a target row matched more than one source row under an " +
              "update/delete clause — the result would be nondeterministic " +
              "(dedupe the source on the merge keys first)")
        val touchedNorm = perFile.map(p => normPath(p._1)).toSet
        val rewriteSet: Seq[String] =
          if (notMatchedBySource.nonEmpty) st.files.map(_.path)
          else if (matched.nonEmpty) candidates.filter(p => touchedNorm(normPath(p)))
          else Seq.empty // insert-only: nothing rewrites
        if (rewriteSet.isEmpty && notMatched.isEmpty)
          return currentVersion(spark, root) // no match, no insert clause: no-op
        // insert-only merges keep their matched rows IN PLACE (their
        // files never rewrite), so t-present rows leave the output
        val keepPred =
          if (rewriteSet.isEmpty) col("__g_action").isin(insertTags.map(_._1): _*)
          else !col("__g_action").isin(dropTags: _*)

        if (st.checks.nonEmpty && changedTags.nonEmpty)
          validateChecks(
            acted.filter(col("__g_action").isin(changedTags: _*)).select(outCols: _*),
            st.checks, "merge")

        Forks(spark) { forks =>
          // EXACT change-data capture (table property `enableChangeFeed`):
          // the classified frame already holds every image — update rows'
          // old/new values become update_preimage/update_postimage,
          // deleted rows' old values delete, insert rows insert — one
          // sidecar write, identical for the DV and rewrite paths, staged
          // on a fork overlapping the DV/rewrite stage (Forks scaladoc).
          val cdf =
            if (!cdfEnabled(st)) None
            else Some(forks.fork("cdf") {
              val updTagSeq = updateTags.map(_._1)
              val tCols: Seq[Column] = tblSchema.fields.toIndexedSeq.map(fd =>
                tBase(fd.name).cast(fd.dataType).as(fd.name))
              def img(ts: Seq[String], cs: Seq[Column], ct: String): Option[DataFrame] =
                if (ts.isEmpty) None
                else Some(acted.filter(col("__g_action").isin(ts: _*))
                  .select(cs: _*).withColumn("_change_type", lit(ct)))
              val frames = Seq(
                img(updTagSeq, tCols, "update_preimage"),
                img(updTagSeq, outCols, "update_postimage"),
                img(deleteTags, tCols, "delete"),
                img(insertTags.map(_._1), outCols, "insert")).flatten
              if (frames.isEmpty) None
              else stageChangeData(spark, root, st, frames.reduce(_.unionByName(_)))
            })
          val cdfNameF = () => cdf.flatMap(_.join())

          // ---- merge-on-read attempt: tombstone changed rows, append
          // images; None = fraction exceeded / legacy stats: rewrite below
          (if (maxDvFraction > 0.0 && rewriteSet.nonEmpty)
            mergeViaDv(spark, root, st, rewriteSet, acted, outCols,
              updateTags.map(_._1) ++ deleteTags, changedTags, maxDvFraction,
              cdfNameF, schemaEvolved,
              if (schemaEvolved.isDefined) Some(tblSchema) else st.schema,
              planV)
          else None).getOrElse {
            // rewrite path: the classified frame holds EVERY candidate's
            // rows, but only rewriteSet's files re-materialize — untouched
            // candidates' rows stay in place (a broadcast semi-filter on
            // the O(touched) file list; s-only insert rows pass through)
            val result0 = acted.filter(keepPred)
            val narrowed =
              if (notMatchedBySource.nonEmpty || matched.isEmpty ||
                rewriteSet.size == candidates.size) result0
              else {
                import org.apache.spark.sql.functions.{broadcast, regexp_replace}
                import spark.implicits._
                val tDf = rewriteSet.map(normPath).toDF("__g_tf")
                result0.join(broadcast(tDf),
                  regexp_replace(regexp_replace(col("__gv_file"),
                    "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""), "^file:/+", "/") === col("__g_tf"),
                  "left_outer")
                  .filter(col("__g_tf").isNotNull || col("__gv_file").isNull)
                  .drop("__g_tf")
              }
            val result = narrowed.select(outCols: _*)
            val (outDir, added) = stageFiles(spark, root, result, st.partCols, "merge",
              mapSchema = if (schemaEvolved.isDefined) Some(tblSchema) else st.schema)
            // join the overlapped CDC sidecar stage (Forks scaladoc)
            val cdfName = cdfNameF()
            val cdfDirs = cdfName.map(n => new Path(cdfRootDir(root), n)).toSeq
            if (rewriteSet.isEmpty && added.isEmpty) {
              // no file rewrites and no insert images: committing would
              // write an identical version — make the no-op observable
              val f = fs(spark, root)
              f.delete(outDir, true)
              cdfDirs.foreach(p => f.delete(p, true))
              currentVersion(spark, root)
            } else commitRewrite(spark, root, rewriteSet.toSet, added, outDir,
              dvSnapshotOf(st, rewriteSet.toSet), op = "MERGE",
              cdf = cdfName.toSeq, extraCleanup = cdfDirs, schemaEvolved = schemaEvolved,
              planV = planV)
          }
        }
      } finally { acted.unpersist(); () }
    } finally { src.unpersist(); () }
  }

  /** Merge-on-read completion of [[merge]]: the changed target rows
    * (`victimTags`) tombstone into a DV sidecar, and ONLY the new
    * images (`changedTags`: updated rows + inserts) append as files —
    * one [[commitDvUpdate]], O(changed + batch) bytes. None ⇒ fall
    * back to the rewrite (fraction exceeded or legacy row counts).
    */
  private def mergeViaDv(spark: SparkSession, root: String, st: CommitState,
      rewriteSet: Seq[String], acted: DataFrame, outCols: Seq[Column],
      victimTags: Seq[String], changedTags: Seq[String],
      maxFraction: Double, cdfNameF: () => Option[String],
      schemaEvolved: Option[(String, Option[String])],
      stageSchema: Option[StructType],
      planV: Option[Long]): Option[Option[Long]] = {
    import org.apache.spark.sql.functions.col
    val candSet = rewriteSet.toSet
    val candEntries = st.files.filter(fe => candSet(fe.path))
    if (candEntries.exists(_.rows < 0)) return None // legacy: unbounded fraction
    val totalRows = candEntries.map(_.rows).sum
    if (victimTags.isEmpty) {
      // insert-only path never reaches here (rewriteSet empty); with no
      // changed target rows the DV shape has nothing to tombstone
      return None
    }
    // `acted` is persisted by the caller, so the counts aggregate and
    // the sidecar write below both read cache — no extra candidate scan
    val victims = acted.filter(col("__g_action").isin(victimTags: _*))
      .select(col("__gv_file").as("file"), col("__gv_pos").as("pos"))
    val counts = victimCounts(root, victims)
    val newMatches = counts.values.sum
    if (newMatches > 0 && (totalRows == 0 || newMatches.toDouble / totalRows > maxFraction))
      return None // rewrite amortizes better (nothing staged yet)
    val images = acted.filter(col("__g_action").isin(changedTags: _*))
      .select(outCols: _*)
    Some(stageDvCommit(spark, root, st, rewriteSet, candEntries, victims, counts,
      images, "merge", stageSchema.orElse(st.schema), cdfNameF, "MERGE dv",
      schemaEvolved, planV))
  }

  /** REPLACE exactly the partitions present in `df`, as ONE atomic
    * commit — dynamic partition overwrite with a transaction log
    * (Delta's `replaceWhere` on partition columns): every live file
    * whose partition tuple appears in the staged batch is removed,
    * untouched partitions carry by reference, and the whole swap is a
    * single version. This is the incremental-materialization primitive:
    * a 15-minute fact refresh rewrites a handful of date partitions out
    * of a 100 TB table, and readers never observe a half-replaced
    * state (unlike directory-swap overwrite, where a crash between
    * deletes and writes loses data). On an UNPARTITIONED table the only
    * "partition" is the whole table, so the call degrades to a full
    * atomic overwrite — documented, not an error.
    *
    * With `txn`, replaying the same (`app`, `batchId`) is a no-op
    * returning the current version — exactly-once refresh under
    * foreachBatch replay, the same contract as [[appendTxn]].
    * Partition selection is file metadata from the commit; the data
    * motion is exactly the staged batch. Concurrent appends OUTSIDE the
    * replaced partitions rebase through; concurrent writes INTO them
    * are last-writer-wins (that IS dynamic-overwrite semantics — run
    * one refresh writer per table, the reference's Airflow-cadence
    * contract).
    */
  /** `splitTargetRows` > 0 turns on skew-aware staging: a partition
    * whose refresh input exceeds the threshold writes through
    * ceil(rows/target) parallel tasks (salted clustering) instead of
    * serializing on one — see [[stageFiles]].
    */

  /** The files of pushed snapshot `l` whose partition tuple EQUALS one
    * of `tuples` or subset-matches one of `drop` — replace-partitions
    * planning through the checkpoint dataset. Partition values are
    * exact per entry (not stats), so the distributed filter IS the
    * decision; only the bounded tail folds on the driver. Callers cap
    * the tuple counts (the OR-of-ANDs predicate is linear in them).
    */
  private def pushedPartMatches(spark: SparkSession, l: PushedListing,
      tuples: Set[Map[String, String]],
      drop: Seq[Map[String, String]]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit}
    def tupleCol(m: Map[String, String]): Column =
      if (m.isEmpty) lit(true) // unpartitioned: the one tuple matches all
      else m.map { case (k, v) => col("part").getItem(k) === lit(v) }.reduce(_ && _)
    val exact = tuples.toSeq.map { m =>
      // tuple EQUALITY: every partition column agrees AND the entry has
      // no extra keys (writers stamp exactly the partition columns, and
      // size equality pins it)
      tupleCol(m) && org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.map_keys(col("part"))) === lit(m.size)
    }
    val subset = drop.map(tupleCol)
    val pred = (exact ++ subset).reduceOption(_ || _).getOrElse(lit(false))
    val fromCkpt = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .where(pred).select("path").collect()
      .map(r => resolvePath(l.root, r.getString(0)))
    def matches(m: Map[String, String]): Boolean =
      tuples.contains(m) || drop.exists(d => d.forall { case (k, v) => m.get(k).contains(v) })
    (fromCkpt.iterator.filterNot(l.tailRemoves) ++
      l.tailAdds.iterator.filter(fe => matches(fe.part)).map(_.path)).toSeq.distinct
  }

  def replacePartitions(spark: SparkSession, root: String, df: DataFrame,
      txn: Option[(String, Long)] = None,
      drop: Seq[Map[String, String]] = Seq.empty,
      splitTargetRows: Long = 0L): Long =
    replaceInternal(spark, root, df, Seq.empty, txn, replaceAll = false, drop, splitTargetRows)

  /** OVERWRITE the whole table as one atomic commit: the next version's
    * listing is exactly the staged batch (the first write of a new
    * table may declare `partitionBy`; later overwrites inherit the
    * declaration). The replaced data stays readable via time travel
    * until [[vacuum]], and [[readChanges]] shows the step as
    * delete(old) + insert(new) — a full-rebuild materialization is an
    * audited version, not an rm -rf.
    */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Seq.empty): Long = {
    if (currentVersion(spark, root).isEmpty) append(spark, root, df, partitionBy)
    else replaceInternal(spark, root, df, partitionBy, None, replaceAll = true)
  }

  /** `drop` removes additional partition tuples in the SAME commit — a
    * refresh that empties a partition entirely (all of a date's rows
    * deleted upstream) swaps new data in and dead partitions out
    * atomically, instead of leaving stale files behind a two-commit
    * window.
    */
  private def replaceInternal(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String], txn: Option[(String, Long)], replaceAll: Boolean,
      drop: Seq[Map[String, String]] = Seq.empty,
      splitTargetRows: Long = 0L): Long = timed("replace") {
    // an accidentally-empty drop tuple would forall-match EVERY file and
    // silently empty the table's kept partitions — fail loudly instead
    require(drop.forall(_.nonEmpty),
      "replacePartitions: drop contains an empty partition tuple, which would match " +
        "every file; pass only non-empty partition-value maps")
    txn.foreach { case (app, b) =>
      if (lastTxn(spark, root, app).exists(_ >= b))
        return currentVersion(spark, root).get // replay — already applied
    }
    val base0 = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"nothing committed at $root (first write goes through append)"))
    // scalar-first, like appendInternal: a pushed snapshot validates and
    // commits a partition replace without materializing its listing
    def snapFor(v: Long): (CommitState, Option[PushedListing]) = {
      val t = pushedPruneThreshold(spark)
      val pl = if (t <= 0) None
        else pushedListing(spark, root, Some(v))
          .filter(l => l.totalFiles >= t && l.scalar.schema.isDefined)
      pl.map(l => (l.scalar, pl)).getOrElse((commitState(spark, root, Some(v)), None))
    }
    val st0 = snapFor(base0)._1
    require(partitionBy.isEmpty || partitionBy == st0.partCols,
      s"partition columns are fixed at table creation: table has ${st0.partCols}, replace passed $partitionBy")
    val effPart = st0.partCols
    effPart.foreach(c => require(df.columns.contains(c), s"partition column '$c' missing from replace"))
    var validated = st0.checks
    if (validated.nonEmpty) validateChecks(df, validated, "replace")
    // same pre-staging evolution gate as append (see appendInternal)
    st0.schema.foreach(s => checkEvolution(s, df.schema, st0.dropped))
    val (batchDir, added) = stageFiles(spark, root, df, effPart, "replace", splitTargetRows,
      mapSchema = st0.schema)
    val stagedTuples = added.map(_.part).toSet
    var attempt = 0
    while (attempt < 100) {
      txn.foreach { case (app, b) =>
        if (lastTxn(spark, root, app).exists(_ >= b)) { // raced a replayed twin
          fs(spark, root).delete(batchDir, true)
          return currentVersion(spark, root).get
        }
      }
      val baseV = currentVersion(spark, root).get
      // pushed O(delta) path: re-planned per attempt at the CURRENT
      // version (metadata-only, cheap), so no walk-adjust is needed —
      // the matching set is exact at the claimed base. Overwrites and
      // wide tuple sets (the OR-of-ANDs ckpt predicate is linear in
      // them) stay on the materialized path.
      val plNow =
        if (replaceAll || stagedTuples.size > 64 || drop.size > 16) None
        else snapFor(baseV)._2.filter(_.version == baseV)
      val committed = plNow match {
        case Some(l) =>
          val sc = l.scalar
          val unseen = sc.checks -- validated.keys
          if (unseen.nonEmpty) { validateChecks(df, unseen, "replace"); validated ++= unseen }
          val removed = pushedPartMatches(spark, l, stagedTuples, drop).toSet
          val newSchema = sc.schema.map(checkEvolution(_, df.schema, sc.dropped))
            .getOrElse(df.schema)
          val v = nextVersion(spark, root, Some(baseV))
          val ok = tryCommitDelta(spark, root, v, baseV, added, removed,
            schemaJson = if (sc.schema.contains(newSchema)) None else Some(newSchema.json),
            txnDelta = txn.filter { case (a, b) => !sc.txns.get(a).contains(b) }.toMap,
            op = "REPLACE PARTITIONS" + txn.map { case (a, b) => s" txn=$a/$b" }.getOrElse(""))
          if (ok) return v
          false
        case None =>
          val cur = commitState(spark, root, Some(baseV))
          val unseen = cur.checks -- validated.keys
          if (unseen.nonEmpty) { validateChecks(df, unseen, "replace"); validated ++= unseen }
          val kept =
            if (replaceAll) Seq.empty
            else cur.files.filterNot(fe => stagedTuples(fe.part) ||
              drop.exists(d => d.forall { case (k, vv) => fe.part.get(k).contains(vv) }))
          val newSchema = cur.schema.map(checkEvolution(_, df.schema, cur.dropped))
            .getOrElse(df.schema)
          val v = nextVersion(spark, root, Some(baseV))
          if (tryCommit(spark, root, v, cur.copy(files = kept ++ added,
              schemaJson = Some(newSchema.json), txns = cur.txns ++ txn).pruneDvs,
              Some(baseV -> cur),
              op = (if (replaceAll) "OVERWRITE" else "REPLACE PARTITIONS") +
                txn.map { case (a, b) => s" txn=$a/$b" }.getOrElse(""))) return v
          false
      }
      val _ = committed
      attempt += 1
    }
    throw new IllegalStateException(s"replace: lost $attempt commit races at $root")
  }

  /** OPTIMIZE ZORDER — rewrite data Z-ordered on `keys`
    * ([[ZOrder.cluster]]) and commit as the next version, so subsequent
    * [[prunedRead]]s skip files on multi-column boxes from the commit's
    * stats. On a partitioned table the pass must be scoped to ONE
    * partition tuple (`partition`) — Z-ordering is a range layout that
    * cannot span partition files; each partition optimizes as its own
    * concurrently-committable job (the rebase rule). An UNSCOPED call
    * on a pushed partitioned snapshot runs the partition-batched
    * driver: each tuple Z-orders as its own pushed plan + commit, the
    * full listing never materializes. Concurrent appends rebase
    * through; a competing rewrite of the same files returns None.
    */
  def optimizeZOrder(spark: SparkSession, root: String, keys: Seq[String],
      numFiles: Int, partition: Map[String, String] = Map.empty): Option[Long] = {
    if (partition.isEmpty) {
      partitionTuplesPushed(spark, root) match {
        case Some(tuples) if tuples.nonEmpty =>
          maintBatchedSweeps.incrementAndGet()
          var last: Option[Long] = None
          tuples.foreach(p =>
            optimizeZOrder(spark, root, keys, numFiles, p).foreach(v => last = Some(v)))
          return last
        case _ => // small or unpartitioned: single materialized pass below
      }
    }
    val f = fs(spark, root)
    val pst = pushedPartPlan(spark, root, partition) // scoped pass: pushed planning
    val st = pst.map(_._1).getOrElse(commitState(spark, root, None))
    val scope = pst.map(_._1.files).getOrElse(entriesMatching(st, partition))
    if (scope.isEmpty) return None
    val tuples = scope.map(_.part).distinct
    require(st.partCols.isEmpty || tuples.size == 1,
      s"optimizeZOrder on a partitioned table must be scoped to one partition " +
        s"(got ${tuples.size} tuples; pass partition=...)")
    val outDir = new Path(root, s"data/zorder-${java.util.UUID.randomUUID()}")
    val src = readWithDvs(spark, root, st, scope.map(_.path)) // DVs fold into the new layout
    val clustered = ZOrder.cluster(src, keys, numFiles) // caller keys are logical
    st.schema.map(toPhysical(clustered, _)).getOrElse(clustered)
      .write.options(WriteOpts.data).parquet(outDir.toString) // files store physical names
    val binPart = tuples.headOption.getOrElse(Map.empty)
    val added = entriesFor(spark, listParquet(f, outDir),
      st.schema.map(physicalSchema).getOrElse(src.schema), _ => binPart)
    commitRewrite(spark, root, scope.map(_.path).toSet, added, outDir,
      dvSnapshotOf(st, scope.map(_.path).toSet), op = s"ZORDER ${keys.mkString(",")}",
      planV = pst.map(_._2))
  }

  /** Delete data files unreachable from the newest `keepVersions`
    * versions, drop the older commit files AND checkpoints, and sweep
    * crashed writers' temp debris. The only destructive operation in
    * the format. Before the old commits go, the OLDEST retained version
    * is guaranteed a full state on disk (its own full commit, an
    * existing checkpoint, or a checkpoint written here) — incremental
    * commits above it keep reconstructing after their chain below is
    * gone.
    */
  // ------------------------------------------------------------------
  // ADMINISTRATIVE-WRITER CLAIM: vacuum and moveTable are destructive
  // table-wide maintenance — two running concurrently are NOT mutually
  // safe (one's liveness walk races the other's deletes). The role is
  // claimed through the same LogStore primitive commits use:
  // create-if-absent of `_versions/_admin.lock` carrying
  // (token, operation, expiry). A live lock makes the loser REFUSE
  // loudly; a crashed admin's lock expires after the TTL (session conf
  // `graft.table.adminLockTtlMs`, default 30 min) and is broken with a
  // double-read guard. A LIVE admin's heartbeat renews the expiry at
  // ttl/3 cadence, so a maintenance run longer than the TTL keeps its
  // role — the TTL only ever breaks crashed admins. Ordinary
  // writers/readers never touch the lock — the orphan grace already
  // protects them from a running vacuum.
  // ------------------------------------------------------------------

  private def adminLockPath(root: String) = new Path(versionsDir(root), "_admin.lock")

  private lazy val adminHeartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-admin-heartbeat"); t.setDaemon(true); t
      })

  /** The claim's release handle, with a HEARTBEAT: a maintenance run
    * legitimately longer than the TTL keeps its role — a daemon thread
    * renews the lock's expiry every ttl/3 while the claim is held, so
    * the TTL only ever breaks locks of CRASHED admins (before the
    * heartbeat, a long vacuum could be broken mid-run). Renewal
    * rewrites the lock only while it still carries OUR token (it never
    * resurrects a broken or deleted lock) via write-temp +
    * atomic-overwrite-rename; a torn read on a non-atomic fallback
    * parses as "held", never as "free", so the safety direction is
    * preserved. [[relocated]] keeps the heartbeat pointed at the lock
    * when [[moveTable]] carries it to a new root. `release` deletes
    * the lock at `atRoot` iff it still carries our token.
    */
  private[graft] final class AdminClaim(token: String, what: String,
      ttlMs: Long, spark: SparkSession, root0: String) {
    @volatile private var rootNow = root0
    @volatile private var stopped = false
    private val periodMs = math.max(1000L, ttlMs / 3)
    private val hb = adminHeartbeats.scheduleAtFixedRate(
      new Runnable { def run(): Unit = if (!stopped) renew() },
      periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)

    // renew/release are mutually exclusive (synchronized on the claim):
    // hb.cancel(false) does not wait for an in-flight renew(), so an
    // unsynchronized renewal that read the lock before release's delete
    // could rename the renewed lock back afterward, leaving an orphan
    // that blocks the next admin claim for up to the TTL.
    private def renew(): Unit = synchronized { if (!stopped) try {
      val r = rootNow
      val f = fs(spark, r)
      val lock = adminLockPath(r)
      readAdminLock(f, lock) match {
        case Some((tok, _, _)) if tok == token =>
          val payload = s"$token $what ${System.currentTimeMillis() + ttlMs}"
          val tmp = new Path(versionsDir(r), s".tmp-admhb-${java.util.UUID.randomUUID()}")
          val out = f.create(tmp, true)
          try out.write(payload.getBytes(StandardCharsets.UTF_8)) finally out.close()
          try {
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(
              tmp.toUri, spark.sparkContext.hadoopConfiguration)
            fc.rename(tmp, lock, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          } catch { case scala.util.control.NonFatal(_) => f.delete(tmp, false); () }
        case _ => () // broken, deleted, or mid-move: nothing to renew
      }
    } catch { case scala.util.control.NonFatal(_) => () } } // next tick retries

    /** The lock traveled with a moved table: renew at the new root. */
    def relocated(newRoot: String): Unit = { rootNow = newRoot }

    def release(spark: SparkSession, atRoot: String): Unit = {
      stopped = true
      hb.cancel(false)
      synchronized { // wait out any in-flight renew; none can start after
        val f = fs(spark, atRoot)
        readAdminLock(f, adminLockPath(atRoot)) match {
          case Some((tok, _, _)) if tok == token => f.delete(adminLockPath(atRoot), false); ()
          case _ => () // expired-and-broken or already gone: not ours to delete
        }
      }
    }
  }

  private def readAdminLock(f: FileSystem,
      lock: Path): Option[(String, String, Long)] =
    try {
      val in = f.open(lock)
      val txt = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim finally in.close()
      txt.split(" ", 3) match {
        case Array(tok, what, exp) => Some((tok, what, exp.trim.toLong))
        case _ => Some((txt, "unknown", Long.MaxValue)) // malformed: treat as held
      }
    } catch {
      case _: java.io.FileNotFoundException => None
      case _: java.io.IOException => Some(("?", "unknown", Long.MaxValue))
    }

  /** Claim the single administrative-writer role for `root` (or throw,
    * loudly and actionably, when a live admin holds it). Atomic via the
    * scheme's [[LogStore]] — exactly one concurrent claimant wins, in
    * one process or across processes/machines.
    */
  private[graft] def claimAdmin(spark: SparkSession, root: String,
      what: String): AdminClaim = {
    val f = fs(spark, root)
    f.mkdirs(versionsDir(root))
    val ttlMs = spark.conf.get("graft.table.adminLockTtlMs",
      (30L * 60 * 1000).toString).toLong
    val lock = adminLockPath(root)
    val store = logStoreFor(spark, f)
    val token = java.util.UUID.randomUUID().toString
    var attempt = 0
    while (attempt < 5) {
      val payload = s"$token $what ${System.currentTimeMillis() + ttlMs}"
      if (store.putIfAbsent(f, versionsDir(root), lock,
          payload.getBytes(StandardCharsets.UTF_8))) {
        // ownership re-verify: guards the one theoretical overlap where
        // a concurrent breaker deleted a fresh lock out from under us
        readAdminLock(f, lock) match {
          case Some((tok, _, _)) if tok == token =>
            return new AdminClaim(token, what, ttlMs, spark, root)
          case _ => throw new IllegalStateException(
            s"$what: lost the administrative claim on $root to a concurrent admin")
        }
      }
      readAdminLock(f, lock) match {
        case None => () // vanished between claim and read: retry the claim
        case Some((tok, heldWhat, exp)) if exp < System.currentTimeMillis() =>
          // stale (crashed admin): break only if a second read still
          // shows the SAME token AND the SAME expiry — never delete a
          // freshly-claimed lock, and never one its owner's heartbeat
          // just renewed (a renewal moves the expiry)
          readAdminLock(f, lock) match {
            case Some((tok2, _, exp2)) if tok2 == tok && exp2 == exp =>
              f.delete(lock, false); ()
            case _ => ()
          }
        case Some((_, heldWhat, exp)) => throw new IllegalStateException(
          s"cannot $what $root: the administrative lock is held by a live '$heldWhat' " +
            s"(expires ${java.time.Instant.ofEpochMilli(exp)}). Two concurrent " +
            "maintenance runs are not mutually safe; wait for it to finish. If its " +
            "process crashed, the lock self-expires (graft.table.adminLockTtlMs), or " +
            s"delete ${adminLockPath(root)} after confirming nothing is running")
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"$what: lost $attempt administrative-claim races at $root")
  }

  /** `retainHours` composes WALL-CLOCK retention with the version
    * count: every version whose commit instant falls within the last
    * `retainHours` is retained (plus the boundary version current at
    * the cutoff), whatever the commit rate — version-count retention
    * alone makes the CDF horizon unpredictable under bursty commits (a
    * lagging consumer's safety margin is wall-clock, not versions).
    * Resolution rides the in-commit `#TS` instants ([[versionAsOf]]),
    * so a skewed filesystem clock cannot shrink the window. ≤0 (the
    * default) disables the time bound; the effective retention is the
    * LOOSER of the two (never fewer than `keepVersions`).
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2,
      graceMs: Long = 10 * 60 * 1000L, retainHours: Double = -1.0): Unit = {
    require(keepVersions >= 1)
    val admin = claimAdmin(spark, root, "vacuum")
    try vacuumLocked(spark, root, keepVersions, graceMs, retainHours)
    finally admin.release(spark, root)
  }


  /** DRY RUN of [[vacuum]] (Delta's `VACUUM ... DRY RUN` surface):
    * report what the SAME classification rules would delete — commit/
    * checkpoint files below the retention horizon, data files that are
    * dropped-history references or grace-expired orphans, stale
    * change-data sidecar dirs, crashed writers' temp debris — WITHOUT
    * mutating anything (no admin claim taken, no horizon checkpoints
    * written; a racing real vacuum can make the preview stale, never
    * wrong-direction). Returns (kind, path) rows, kind ∈ commit |
    * checkpoint | ckptpq | data | cdf | tmp | checkpoint-rewrite. The
    * metadata classification is [[classifyMeta]] — the ONE decider
    * [[vacuumLocked]] acts on — and the data classification reuses the
    * vacuum's own deciders: the distributed frame at pushed scale (the
    * data kind stays DISTRIBUTED end to end; a million-dead-file
    * preview never materializes on the driver), the driver loop below
    * it. `checkpoint-rewrite` rows preview the horizon-securing step —
    * sidecars vacuum deletes AND REWRITES in place at retained
    * versions — so they are churn, not permanent deletions, and sit
    * outside the deletion-exactness contract.
    *
    * CAVEAT (boundary semantics): grace and `retainHours` cutoffs are
    * evaluated against the clock AT CALL TIME, so a file near the
    * grace boundary can be swept by a later real vacuum without having
    * appeared in a slightly older preview — previews age.
    */
  def vacuumDryRun(spark: SparkSession, root: String, keepVersions: Int = 2,
      graceMs: Long = 10 * 60 * 1000L, retainHours: Double = -1.0): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    require(keepVersions >= 1)
    val f = fs(spark, root)
    val latest = currentVersion(spark, root).getOrElse(
      return spark.createDataset(Seq.empty[(String, String)]).toDF("kind", "path"))
    val keepFrom = keepFromFor(spark, root, latest, keepVersions, retainHours)
    val meta = classifyMeta(f, root, keepFrom)
    val vd = versionsDir(root)
    val tmps = meta.tmps.map(n => ("tmp", new Path(vd, n).toString))
    val versions = meta.versions
    val deadMeta =
      meta.deadCommits.map(v => ("commit", commitPath(root, v).toString)) ++
        meta.deadCheckpoints.map(v => ("checkpoint", checkpointPath(root, v).toString)) ++
        meta.deadCkptPqs.map(v => ("ckptpq", new Path(vd, s"v$v.ckptpq").toString))
    // horizon-securing preview: existing sidecars vacuumLocked would
    // DELETE AND REWRITE in place at retained versions (unresolvable
    // checkpoint on a horizon-crossing delta) — named here so the
    // preview never under-reports their churn
    val rewrites = horizonRewriteVersions(spark, root, keepFrom, versions).flatMap { v =>
      Seq(checkpointPath(root, v), new Path(vd, s"v$v.ckptpq")).collect {
        case p if f.exists(p) => ("checkpoint-rewrite", p.toString)
      }
    }
    val deadCdf: Seq[(String, String)] = {
      val cdfDir = cdfRootDir(root)
      if (!f.exists(cdfDir)) Seq.empty
      else {
        val liveCdf = versions.filter(_ >= keepFrom)
          .flatMap(v => readRaw(f, commitPath(root, v)).map(_.cdf).getOrElse(Nil)).toSet
        val now = System.currentTimeMillis()
        f.listStatus(cdfDir).toSeq.collect {
          case s if !liveCdf(s.getPath.getName) && now - s.getModificationTime > graceMs =>
            ("cdf", s.getPath.toString)
        }
      }
    }
    val localDf = (tmps ++ deadMeta ++ rewrites ++ deadCdf).toDF("kind", "path")
    // data files, by the vacuum's own deciders — on the pushed path the
    // data kind stays a DISTRIBUTED FRAME end to end (a million-dead-file
    // preview never lands on the driver; collect() is the caller's call)
    val dataDf: DataFrame = {
      val distributed =
        if (pushedPruneThreshold(spark) > 0 && versions.nonEmpty &&
          pushedListing(spark, root, Some(latest))
            .exists(_.totalFiles >= pushedPruneThreshold(spark)))
          distributedDeadFrame(spark, root, keepFrom, latest, versions.min, graceMs)
        else None
      distributed match {
        case Some(dead) => dead.select(lit("data").as("kind"), col("path"))
        case None =>
          val refs: Long => Seq[String] = v =>
            readCommitState(spark, root, v).toSeq.flatMap(st =>
              st.files.map(_.path) ++ st.dvs.values.map(_._1))
          val live = versions.filter(_ >= keepFrom).flatMap(refs).map(normPath).toSet
          val refAll = live ++ versions.filter(_ < keepFrom).flatMap(refs).map(normPath)
          val nowMs = System.currentTimeMillis()
          val dataDir = new Path(root, "data")
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          if (f.exists(dataDir)) {
            val it = f.listFiles(dataDir, true)
            while (it.hasNext) {
              val st = it.next()
              if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
                !live(normPath(st.getPath.toString)) &&
                (refAll(normPath(st.getPath.toString)) ||
                  nowMs - st.getModificationTime > graceMs))
                out += (("data", st.getPath.toString))
            }
          }
          out.toSeq.toDF("kind", "path")
      }
    }
    localDf.union(dataDf)
  }

  /** Root-relative reference keys of the files (and DV sidecars) held
    * by version `v`, as a DATAFRAME — the distributed-vacuum building
    * block: the checkpoint dataset is read columnar (its raw rows are
    * a superset of v's listing: the reconstruction tail's removes
    * anti-join away, its adds and DV references union in), so the
    * driver never materializes the listing. None when `v` does not
    * reconstruct as checkpoint + tail (the caller falls back to a
    * driver-side union of the materialized state — correct at any
    * size, just not distributed).
    */
  private def refFrameOf(spark: SparkSession, root: String, v: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val l = pushedListing(spark, root, Some(v)).getOrElse(return None)
    val ckptRefs = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(col("path"),
          org.apache.spark.sql.functions.coalesce(col("dvFile"), col("path")))).as("ref"))
      .select(relCanonCol(root, col("ref")).as("ref")).distinct()
    val removed = l.tailRemoves.toSeq.map(p => relNorm(root, p))
    val removedDf = removed.toDF("ref")
    val kept =
      if (removed.isEmpty) ckptRefs
      else ckptRefs.join(removedDf, Seq("ref"), "left_anti")
    val tailRefs = (l.tailAdds.map(fe => relNorm(root, fe.path)) ++
      l.dvMap(spark).values.map(d => relNorm(root, d._1))).distinct
    if (tailRefs.isEmpty) Some(kept)
    else Some(kept.union(tailRefs.toDF("ref")).distinct())
  }

  /** Root-relative reference keys ADDED by the commits in `(from, to]`
    * — driver-side and O(sum of delta sizes): a delta contributes its
    * adds and DV sidecars; a rare full text commit contributes its
    * whole (already-parsed) listing; torn/absent versions are skipped
    * (they are being dropped anyway).
    */
  private def addedRefsBetween(spark: SparkSession, root: String,
      from: Long, to: Long): Seq[String] = {
    val f = fs(spark, root)
    ((from + 1) to to).flatMap { v =>
      readRaw(f, commitPath(root, v)) match {
        case Some(d: DeltaCommit) =>
          d.adds.map(fe => relNorm(root, fe.path)) ++
            d.dvSets.values.map(x => relNorm(root, x._1))
        case Some(fc: FullCommit) =>
          fc.st.files.map(fe => relNorm(root, fe.path)) ++
            fc.st.dvs.values.map(x => relNorm(root, x._1))
        case None => Seq.empty
      }
    }.distinct
  }

  /** DISTRIBUTED DATA SWEEP — vacuum's liveness decision as a Spark
    * job (the Delta-vacuum architecture): at 1M files the driver-side
    * sweep pays O(retained versions × #files) set building plus a
    * sequential recursive listing; here the reference sets stay in the
    * checkpoint datasets (read columnar), the data-directory listing
    * fans out one task per batch directory (there are O(#commits) of
    * those, driver-enumerable), the live/referenced classification is
    * an anti-join, and the deletes run in the tasks that found them.
    * The deletion RULE is byte-identical to the driver sweep: a listed
    * data file dies iff it is not referenced by any retained version
    * AND (it is referenced by a dropped version — known-dead history —
    * OR it is older than the orphan grace).
    */
  private def sweepDataDistributed(spark: SparkSession, root: String,
      keepFrom: Long, latest: Long, oldest: Long, graceMs: Long): Boolean =
    distributedDeadFrame(spark, root, keepFrom, latest, oldest, graceMs) match {
      case None => false // not pushed-reconstructible: driver sweep decides
      case Some(dead) =>
        val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
        dead.foreachPartition { (it: Iterator[Row]) =>
          val conf = hconf.value
          it.foreach { r =>
            val p = new Path(r.getString(0))
            p.getFileSystem(conf).delete(p, false); ()
          }
        }
        true
    }

  /** The DISTRIBUTED liveness classification behind
    * [[sweepDataDistributed]] and [[vacuumDryRun]]: the single-column
    * (`path`) frame of data files vacuum's rule would delete — listed
    * not-retained files that are dropped-history references or older
    * than the orphan grace. None when the anchors don't reconstruct
    * through checkpoint datasets (the driver loop is then the decider —
    * same fallback both callers take).
    */
  private def distributedDeadFrame(spark: SparkSession, root: String,
      keepFrom: Long, latest: Long, oldest: Long, graceMs: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val f = fs(spark, root)
    val dataDir = new Path(root, "data")
    if (!f.exists(dataDir))
      return Some(spark.createDataset(Seq.empty[String]).toDF("path"))
    val liveDf = refFrameOf(spark, root, keepFrom) match {
      case Some(base) =>
        val added = addedRefsBetween(spark, root, keepFrom, latest)
        if (added.isEmpty) base else base.union(added.toDF("ref")).distinct()
      case None => return None // anchor not pushed-reconstructible: driver sweep
    }
    // dropped-history references (known-dead, deletable immediately):
    // the oldest present version's own listing plus everything added
    // below the horizon. The oldest anchor goes through the checkpoint
    // dataset when it can; a small full/checkpointed commit (the
    // common v0 shape) materializes on the driver like the driver
    // sweep does.
    val refAllDf =
      if (oldest >= keepFrom) liveDf
      else {
        val added = addedRefsBetween(spark, root, oldest, keepFrom)
        val withAnchor = refFrameOf(spark, root, oldest) match {
          case Some(df) => liveDf.union(df)
          case None =>
            val anchor = readCommitState(spark, root, oldest).toSeq.flatMap(st =>
              st.files.map(fe => relNorm(root, fe.path)) ++
                st.dvs.values.map(x => relNorm(root, x._1)))
            if (anchor.isEmpty) liveDf else liveDf.union(anchor.toDF("ref"))
        }
        if (added.isEmpty) withAnchor.distinct()
        else withAnchor.union(added.toDF("ref")).distinct()
      }
    // one task per top-level batch directory (plus loose files); the
    // recursive per-directory listing runs ON the executors. The tasks
    // carry the SESSION's Hadoop configuration (spark.hadoop.* —
    // object-store credentials, endpoints, custom FS impls), not a
    // default-constructed one: a bare `new Configuration()` works on
    // local FS but drops exactly the settings a production store needs.
    val hconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val top = f.listStatus(dataDir).toSeq
    val looseFiles = top.filter(_.isFile).map(st => (st.getPath.toString, st.getModificationTime))
    val dirs = top.filter(_.isDirectory).map(_.getPath.toString)
    val listedDirs: org.apache.spark.sql.Dataset[(String, Long)] =
      spark.createDataset(dirs).repartition(math.max(1, math.min(64, dirs.size)))
        .flatMap { d =>
          val p = new Path(d)
          val fsx = p.getFileSystem(hconf.value)
          val it = fsx.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile) buf += ((st.getPath.toString, st.getModificationTime))
          }
          buf.toSeq
        }
    val listed = listedDirs.toDF("path", "mtime")
      .union(looseFiles.toDF("path", "mtime"))
      .where(col("path").endsWith(".parquet"))
      .withColumn("ref", relCanonCol(root, col("path")))
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = listed
      .join(liveDf.withColumn("__g_live", lit(1)), Seq("ref"), "left_outer")
      .where(col("__g_live").isNull)
      .join(refAllDf.withColumn("__g_ref", lit(1)), Seq("ref"), "left_outer")
      .where(col("__g_ref").isNotNull || col("mtime") < lit(cutoff))
      .select("path")
    Some(dead)
  }

  /** The retention horizon: the oldest version [[vacuum]] keeps —
    * version-count bound, loosened by the wall-clock bound when
    * `retainHours` > 0 (keep from the version current at the cutoff —
    * a consumer lagging less than retainHours always finds every step
    * it still needs, whatever the commit burst size).
    */
  private def keepFromFor(spark: SparkSession, root: String, latest: Long,
      keepVersions: Int, retainHours: Double): Long = {
    val byCount = math.max(0L, latest - keepVersions + 1)
    if (retainHours <= 0) byCount
    else {
      val cutoff = System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
      math.min(byCount, versionAsOf(spark, root, cutoff).getOrElse(0L))
    }
  }

  /** Below-horizon `_versions` metadata classification — the ONE
    * decider for which commit / checkpoint / ckptpq / tmp artifacts a
    * vacuum at `keepFrom` removes, shared by [[vacuumLocked]] (which
    * acts on it) and [[vacuumDryRun]] (which previews it), so the
    * preview can never drift from the sweep.
    */
  private final case class MetaSweep(tmps: Seq[String], versions: Seq[Long],
      deadCommits: Seq[Long], deadCheckpoints: Seq[Long], deadCkptPqs: Seq[Long])

  private def classifyMeta(f: FileSystem, root: String, keepFrom: Long): MetaSweep = {
    val all = f.listStatus(versionsDir(root)).toSeq.map(_.getPath.getName)
    def nums(suffix: String): Seq[Long] = all.collect {
      case n if n.startsWith("v") && n.endsWith(suffix) =>
        n.stripPrefix("v").stripSuffix(suffix).toLong
    }
    MetaSweep(
      all.filter(_.startsWith(".tmp-")),
      nums(".commit").sorted,
      nums(".commit").filter(_ < keepFrom),
      nums(".checkpoint").filter(_ < keepFrom),
      nums(".ckptpq").filter(_ < keepFrom))
  }

  /** Retained versions whose delta chain crosses the retention horizon
    * WITHOUT a resolvable checkpoint: [[vacuumLocked]] must secure
    * (delete and rewrite) their `v<N>.checkpoint`/`v<N>.ckptpq`
    * sidecars before the chain below may drop, and [[vacuumDryRun]]
    * previews exactly those rewrites. A checkpoint must actually
    * RESOLVE (not merely exist): a format-major-4 checkpoint whose
    * ckptpq dataset is missing/corrupt exists but reconstructs
    * nothing — trusting `f.exists` would drop the only reconstruction
    * path. Normally only the OLDEST retained version can chain below
    * `keepFrom`, but a torn legacy claim at the horizon makes a later
    * delta's base skip past it — so every retained delta's base is
    * checked explicitly.
    */
  private def horizonRewriteVersions(spark: SparkSession, root: String,
      keepFrom: Long, versions: Seq[Long]): Seq[Long] = {
    val f = fs(spark, root)
    if (!versions.exists(_ < keepFrom)) return Seq.empty
    versions.filter(_ >= keepFrom).filter { v =>
      val crossesHorizon = readRaw(f, commitPath(root, v)) match {
        case Some(d: DeltaCommit) => d.base < keepFrom
        case _ => false // full commit or torn legacy: self-contained either way
      }
      crossesHorizon && readRaw(f, checkpointPath(root, v))
        .collect { case fc: FullCommit => fc }
        .flatMap(fc => resolveCkpt(spark, root, fc)).isEmpty
    }
  }

  private def vacuumLocked(spark: SparkSession, root: String, keepVersions: Int,
      graceMs: Long, retainHours: Double = -1.0): Unit = {
    val f = fs(spark, root)
    val latest = currentVersion(spark, root).getOrElse(return)
    val keepFrom = keepFromFor(spark, root, latest, keepVersions, retainHours)
    val vd = versionsDir(root)
    val meta = classifyMeta(f, root, keepFrom)
    meta.tmps.foreach { n => f.delete(new Path(vd, n), true); () } // recursive: ckptpq temps are dirs
    val versions = meta.versions
    // liveness is form-insensitive: parsed states carry canonical
    // plain paths while listings return file:-qualified ones. LAZY:
    // the distributed sweep never materializes these states
    lazy val live = versions.filter(_ >= keepFrom)
      .flatMap(v => readCommitState(spark, root, v).toSeq.flatMap(st =>
        st.files.map(_.path) ++ st.dvs.values.map(_._1))).map(normPath).toSet
    // reconstructability across the horizon: no retained delta may need
    // the about-to-drop chain — [[horizonRewriteVersions]] is the
    // decider (shared with the dry run's preview); the rewrite in place
    // drops the unresolvable sidecar first (readers treat an
    // unresolvable checkpoint as absent and walk the chain, which
    // still exists at this point)
    horizonRewriteVersions(spark, root, keepFrom, versions).foreach { v =>
      f.delete(checkpointPath(root, v), false)
      f.delete(new Path(vd, s"v$v.ckptpq"), true)
      readCommitState(spark, root, v)
        .foreach(st => writeCheckpoint(spark, root, v, st))
      require(readRaw(f, checkpointPath(root, v))
        .collect { case fc: FullCommit => fc }
        .flatMap(fc => resolveCkpt(spark, root, fc)).isDefined,
        s"vacuum: cannot secure a resolvable checkpoint for v$v at $root; " +
          "refusing to drop the commit chain below it")
    }
    // files referenced by ANY still-present commit (including the
    // versions about to drop): known-dead history, deletable now. A
    // file referenced by NOTHING is either crash debris (deletable
    // after the grace) or an IN-FLIGHT writer's staged batch — writers
    // stage data BEFORE entering the commit retry loop, so sweeping a
    // fresh orphan would tear the commit that is about to reference it.
    // At or above the pushed threshold the whole sweep runs as a Spark
    // job ([[sweepDataDistributed]] — same rule, reference sets read
    // columnar from the checkpoint datasets, listing fanned out,
    // deletes in the tasks); the driver loop below stays the
    // small-table shape.
    val distributed = pushedPruneThreshold(spark) > 0 && versions.nonEmpty &&
      pushedListing(spark, root, Some(latest))
        .exists(_.totalFiles >= pushedPruneThreshold(spark)) &&
      sweepDataDistributed(spark, root, keepFrom, latest, versions.min, graceMs)
    if (!distributed) {
      val refAll = live ++ versions.filter(_ < keepFrom)
        .flatMap(v => readCommitState(spark, root, v).toSeq.flatMap(st =>
          st.files.map(_.path) ++ st.dvs.values.map(_._1))).map(normPath)
      val nowMs = System.currentTimeMillis()
      val dataDir = new Path(root, "data")
      if (f.exists(dataDir)) {
        val it = f.listFiles(dataDir, true)
        val dead = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
            !live(normPath(st.getPath.toString)) &&
            (refAll(normPath(st.getPath.toString)) ||
              nowMs - st.getModificationTime > graceMs)) dead += st.getPath
        }
        dead.foreach(p => f.delete(p, false))
      }
    }
    // change-data sidecars: keep the ones retained commits reference,
    // sweep the rest (dirs of dropped commits and orphans of conflicted
    // commit attempts). Recently-written unreferenced dirs are SPARED
    // for `graceMs`: a concurrent upsert/merge stages its sidecar
    // BEFORE entering the commit retry loop, so an in-flight writer's
    // dir looks orphaned here — deleting it would leave the eventual
    // commit's `#CDF` dangling and readChanges failing for that step.
    val cdfDir = cdfRootDir(root)
    if (f.exists(cdfDir)) {
      val liveCdf = versions.filter(_ >= keepFrom)
        .flatMap(v => readRaw(f, commitPath(root, v)).map(_.cdf).getOrElse(Nil)).toSet
      val now = System.currentTimeMillis()
      f.listStatus(cdfDir).foreach { s =>
        if (!liveCdf(s.getPath.getName) && now - s.getModificationTime > graceMs) {
          f.delete(s.getPath, true); ()
        }
      }
    }
    meta.deadCommits.foreach { v => f.delete(commitPath(root, v), false); () }
    meta.deadCheckpoints.foreach { v => f.delete(checkpointPath(root, v), false); () }
    meta.deadCkptPqs.foreach { v =>
      f.delete(new Path(vd, s"v$v.ckptpq"), true); () }
  }

  // ------------------------------------------------------------------
  // SQL ROW-LEVEL OPERATIONS backend (SupportsDelta): the catalog's
  // UPDATE / MERGE INTO / arbitrary-predicate DELETE land here.
  // ------------------------------------------------------------------

  /** Row-identity METADATA column names the catalog scan can serve —
    * the `SupportsDelta` rowId (Iceberg's `_file`/`_pos` shape).
    */
  val RowIdFileCol = "__graft_file"
  val RowIdPosCol = "__graft_pos"

  /** Snapshot rows under LOGICAL names plus the row-identity columns
    * (file path + row index, existing deletion vectors applied) — the
    * scan behind SQL row-level operations and metadata-column reads.
    */
  /** [[readStateWithRowId]] through the PUSHED path: the row-level
    * scan of a big snapshot serves its listing from the checkpoint
    * dataset (query filters prune inside the distributed read via the
    * pushed file index), with the row identity columns stamped from
    * `_metadata` exactly like the materialized twin.
    */
  private[graft] def readPushedWithRowId(spark: SparkSession, root: String,
      l: PushedListing): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = graft.sources.GraftTableSource.readFor(spark, root, l.scalar, Some(l))
      .withColumn(RowIdFileCol, col("_metadata.file_path"))
      .withColumn(RowIdPosCol, col("_metadata.row_index"))
    val withDvs = applyDvs(spark, root, base,
      l.dvMap(spark).values.map(_._1).toSeq.distinct)
    l.scalar.schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
  }

  /** Planning state for an explicit TOUCHED-FILE set (the SQL DML
    * shape: the victims' row identities name their files), selected
    * inside the checkpoint's distributed read — the by-path twin of
    * [[pushedCandState]]. `touched` carries root-relative canonical
    * keys (foreign files stay absolute), exactly the ckpt row `path`
    * encoding.
    */
  /** Touched-file counts above this plan through a BROADCAST SEMI-JOIN
    * against the checkpoint dataset instead of an In predicate — a 50k+
    * file statement (wide UPDATE/DELETE) must not build a 50k-literal
    * expression tree (predicate-size limits, codegen explosion); below
    * it the In form pushes into the parquet scan and is cheaper.
    * Session conf `graft.table.dmlInPredicateMax`.
    */
  private def dmlInPredicateMax(spark: SparkSession): Int =
    spark.conf.get("graft.table.dmlInPredicateMax", "10000").toInt

  /** Times the wide-DML semi-join planning form was chosen (spec pin). */
  private[graft] val candSemiJoins = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def pushedCandStateByPath(spark: SparkSession, l: PushedListing,
      touched: Set[String]): CommitState = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val survivors =
      if (touched.isEmpty) Array.empty[CkptFileRow]
      else {
        val base = spark.read.schema(ckptRowSchema).parquet(l.ckptDir)
        val filtered =
          if (touched.size <= dmlInPredicateMax(spark))
            base.where(col("path").isInCollection(touched.toSeq))
          else {
            candSemiJoins.incrementAndGet()
            base.join(broadcast(touched.toSeq.toDF("path")), Seq("path"), "left_semi")
          }
        filtered.as[CkptFileRow].collect()
      }
    val kept = (survivors.iterator.map(l.toEntry)
      .filterNot(fe => l.tailRemoves(fe.path)) ++
      l.tailAdds.iterator.filter(fe => touched(relNorm(l.root, fe.path)))).toVector
    val dv = l.dvMap(spark)
    l.scalar.copy(files = kept,
      dvs = kept.iterator.flatMap(fe => dv.get(fe.path).map(fe.path -> _)).toMap)
  }

  private[graft] def readStateWithRowId(spark: SparkSession, root: String,
      st: CommitState): DataFrame = {
    import org.apache.spark.sql.functions.lit
    if (st.files.isEmpty)
      return emptyLike(spark, st)
        .withColumn(RowIdFileCol, lit(null).cast("string"))
        .withColumn(RowIdPosCol, lit(null).cast("long"))
    candidateRowsWithPos(spark, root, st, st.files.map(_.path))
      .withColumnRenamed("__gv_file", RowIdFileCol)
      .withColumnRenamed("__gv_pos", RowIdPosCol)
  }

  /** Commit one SQL row-level statement: tombstone `victims` (rows of
    * `file`, `pos` — identities captured by [[readStateWithRowId]]
    * under snapshot `st`) and append `inserts` (logical rows), as ONE
    * atomic version. Merge-on-read when the tombstones stay within
    * `maxDvFraction` of the touched files' rows (a CDC-sized UPDATE
    * writes O(changed rows)); otherwise the touched files rewrite.
    * CHECK constraints validate the inserted images. Concurrency: the
    * DV/rewrite conflict rules apply against `st`'s file identities —
    * a true conflict throws, naming the retry, instead of silently
    * dropping a concurrent writer's tombstones.
    *
    * Change-feed note: statements committed here serve [[readChanges]]
    * through the identity diff (exact delete/insert rows); explicit
    * update-image sidecars remain the `upsert`/`merge` APIs' feature —
    * Spark's delta protocol splits updates into delete+insert before
    * the connector ever sees them.
    */
  private[graft] def applySqlDelta(spark: SparkSession, root: String, st0: CommitState,
      victims: DataFrame, inserts: DataFrame, op: String,
      maxDvFraction: Double = 0.2,
      pushed: Option[PushedListing] = None): Long = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    // a pure DELETE arrives with an EMPTY insert schema (no data
    // columns in the write) — nothing to validate or stage
    val noInserts = inserts.schema.isEmpty
    if (!noInserts) validateChecks(inserts, st0.checks, op)
    def conflict(): Nothing = throw new IllegalStateException(
      s"$op at $root lost to a concurrent writer that touched the same files — " +
        "re-run the statement against the new snapshot")
    def stageInserts(): (Option[Path], Seq[FileEntry]) =
      if (noInserts) (None, Seq.empty)
      else {
        val (d, a) = stageFiles(spark, root, inserts, st0.partCols, "sqlwrite",
          mapSchema = st0.schema)
        (Some(d), a)
      }
    val planV: Option[Long] = pushed.map(_.version)
    val victimRel = victims
      .select(relCanonCol(root, col("file")).as("file"), col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // touched files AND per-file tombstone counts from one aggregate
      // over the persisted tombstone identities: O(touched) rows — the
      // counts make the DV-vs-rewrite decision below BEFORE any staging
      val counts = victimCounts(root, victimRel)
      val touched = counts.keySet
      // the PLANNING state: restricted to the touched files through the
      // checkpoint's distributed read on a pushed snapshot (the
      // statement then commits O(delta) against planV); the operation's
      // materialized state otherwise
      val st: CommitState = pushed match {
        case Some(l) => pushedCandStateByPath(spark, l, touched)
        case None => st0
      }
      val candSet = st.files.map(_.path).filter(p => touched(relNorm(root, p))).toSet
      val candidates = candSet.toSeq
      val candEntries = st.files.filter(fe => candSet(fe.path))
      if (candidates.isEmpty && touched.isEmpty) { // pure INSERT (merge with no matches)
        val (outDir, added) = stageInserts()
        if (added.isEmpty) { outDir.foreach(f.delete(_, true)); return currentVersion(spark, root).get }
        return commitDvUpdate(spark, root, Map.empty, Map.empty, outDir.toSeq, added, op,
            planV = planV)
          .getOrElse(conflict())
      }
      if (candidates.isEmpty) conflict() // victims name files no longer live
      val totalRows = candEntries.map(_.rows).sum
      val newMatches = counts.values.sum // > 0 here: touched was non-empty
      if (maxDvFraction > 0.0 && candEntries.forall(_.rows >= 0) &&
          totalRows > 0 && newMatches.toDouble / totalRows <= maxDvFraction) {
        // merge-on-read: the tombstone sidecar and the insert files are
        // independent writes over decided inputs — stage them
        // CONCURRENTLY (Forks scaladoc)
        return Forks(spark) { forks =>
          val sidecarF = forks.fork("dv-sidecar")(
            stageDvSidecar(spark, root, st, candidates, victimRel, counts))
          val (outDir, added) = stageInserts()
          val (dvDir, sidecar, perFile) = sidecarF.join()
          val updates = candEntries.flatMap { fe =>
            perFile.get(relNorm(root, fe.path)).map(n => fe.path -> (sidecar, n))
          }.toMap
          val snapshot = updates.keySet.map(p => p -> st.dvs.get(p)).toMap
          commitDvUpdate(spark, root, updates, snapshot, Seq(dvDir) ++ outDir.toSeq,
            added, op, planV = planV).getOrElse(conflict())
        }
      }
      // fraction exceeded (or no DV budget / legacy row counts):
      // rewrite amortizes better — nothing was staged above
      // REWRITE path: the touched files' surviving rows re-materialize
      // together with the inserts; untouched files carry by reference
      val vAlias = victimRel.select(col("file").as("__gs_file"), col("pos").as("__gs_pos"))
      val survivors = candidateRowsWithPos(spark, root, st, candidates)
        .join(vAlias,
          relCanonCol(root, col("__gv_file")) === col("__gs_file") &&
            col("__gv_pos") === col("__gs_pos"),
          "left_anti")
        .drop("__gv_file", "__gv_pos")
      val restaged = if (noInserts) survivors else survivors.unionByName(inserts)
      val (outDir, added) = stageFiles(spark, root, restaged,
        st.partCols, "sqlwrite", mapSchema = st.schema)
      commitRewrite(spark, root, candSet, added, outDir, dvSnapshotOf(st, candSet), op,
          planV = planV)
        .getOrElse(conflict())
    } finally {
      victimRel.unpersist(blocking = false)
      ()
    }
  }

  /** MOVE/RENAME the table directory as a unit. New-era metadata is
    * root-relative, so the move itself is one filesystem rename; any
    * LEGACY commits/checkpoints/DV sidecars that still self-reference
    * the OLD root absolutely are then rebased to relative in place
    * ([[rebaseMetadata]] — idempotent, so a crash mid-sweep is repaired
    * by calling it again with the same arguments). Single-writer
    * administrative op, like [[vacuum]]. Bloom sidecar entries are NOT
    * rebased: a stale absolute entry just stops matching its file,
    * which the bloom read paths already treat as "not indexed yet"
    * (conservative), and the next maintenance pass re-indexes.
    */
  def moveTable(spark: SparkSession, from: String, to: String): Unit = {
    val f = fs(spark, from)
    require(f.exists(versionsDir(from)), s"no graft table at $from")
    require(!f.exists(new Path(to)), s"destination $to already exists")
    // same administrative role as vacuum (the two are not mutually
    // safe either); the lock travels WITH the directory, so release at
    // whichever root it ended up under
    val admin = claimAdmin(spark, from, "moveTable")
    var rootNow = from
    try {
      val toPath = new Path(to)
      Option(toPath.getParent).foreach(f.mkdirs(_))
      if (!f.rename(new Path(from), toPath))
        throw new IllegalStateException(s"rename $from -> $to failed")
      rootNow = to
      admin.relocated(to) // the heartbeat follows the lock
      rebaseMetadata(spark, to, from)
    } finally admin.release(spark, rootNow)
  }

  /** Rewrite absolute self-references under `oldRoot` to ROOT-RELATIVE
    * in every retained commit, checkpoint, and DV sidecar at `root` —
    * the legacy half of [[moveTable]]. Line-level surgery on the commit
    * text (only path fields change; counts, stats, order, and unknown
    * lines are preserved byte-for-byte), and a same-filename content
    * swap for sidecars, so every `#DV` reference stays valid.
    */
  private[graft] def rebaseMetadata(spark: SparkSession, root: String,
      oldRoot: String): Unit = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    val oldPrefix = canonAbs(oldRoot).stripSuffix("/") + "/"
    def rebase(p: String): String = {
      val c = canonAbs(p)
      if (c.startsWith(oldPrefix)) c.substring(oldPrefix.length) else p
    }
    val vd = versionsDir(root)
    if (!f.exists(vd)) return
    f.listStatus(vd).filter { s =>
      s.isFile && (s.getPath.getName.endsWith(".commit") ||
        s.getPath.getName.endsWith(".checkpoint"))
    }.foreach { s =>
      val in = f.open(s.getPath)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      val out = text.split("\n", -1).map { l =>
        if (l.startsWith("#RM ")) "#RM " + enc(rebase(dec(l.stripPrefix("#RM ").trim)))
        else if (l.startsWith("#DV ")) {
          val Array(_, fp, dvp, n) = l.split(" ", 4)
          s"#DV ${enc(rebase(dec(fp)))} ${enc(rebase(dec(dvp)))} $n"
        } else if (l.isEmpty || l.startsWith("#")) l
        else if (l.split("\t", -1).length < 5) {
          // LEGACY two-field line: the path is RAW (never URL-encoded)
          // and may itself contain tabs — split at the LAST tab and
          // rebase without enc/dec, mirroring parseFileLine's legacy
          // branch (dec() would mangle '+'/'%' in a raw path, and an
          // enc()'d output would be read back verbatim)
          val i = l.lastIndexOf('\t')
          if (i < 0) l else rebase(l.substring(0, i)) + l.substring(i)
        } else { // modern 5-field line: only field 0 is a path, enc'd
          val i = l.indexOf('\t')
          enc(rebase(dec(l.substring(0, i)))) + l.substring(i)
        }
      }.mkString("\n")
      if (out != text) {
        val tmp = new Path(vd, s".tmp-rebase-${java.util.UUID.randomUUID()}")
        val o = f.create(tmp, true)
        try o.write(out.getBytes(StandardCharsets.UTF_8)) finally o.close()
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          tmp.toUri, spark.sparkContext.hadoopConfiguration)
        fc.rename(tmp, s.getPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    }
    // legacy DV sidecars: absolute `file` entries under the old root
    // become relative; the rewritten single file keeps its exact name
    // so commit references stay valid
    val dataDir = new Path(root, "data")
    if (f.exists(dataDir)) {
      f.listStatus(dataDir)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("dv-"))
        .foreach { d =>
          listParquet(f, d.getPath).foreach { case (sidecar, _) =>
            val df = spark.read.parquet(sidecar)
            val oldRe = "^" + java.util.regex.Pattern.quote(oldPrefix)
            val needs = df.filter(
              org.apache.spark.sql.functions.regexp_replace(
                col("file"), "^file:/+", "/").rlike(oldRe)).limit(1).count() > 0
            if (needs) {
              val fixed = df.select(relCanonCol(oldRoot, col("file")).as("file"), col("pos"))
                .coalesce(1)
              val tmpDir = new Path(d.getPath, s".tmp-rebase-${java.util.UUID.randomUUID()}")
              fixed.write.options(WriteOpts.data).parquet(tmpDir.toString)
              val newFile = listParquet(f, tmpDir).head._1
              f.delete(new Path(sidecar), false)
              if (!f.rename(new Path(newFile), new Path(sidecar)))
                throw new IllegalStateException(s"sidecar rebase swap failed at $sidecar")
              f.delete(tmpDir, true)
            }
          }
        }
    }
    clearStateCache() // rewritten files carry new identities anyway; be explicit
  }

  /** RESTORE — roll the table back to `toVersion` by committing a NEW
    * version with that version's listing (and schema/partitions/checks
    * as of then; txn records carry forward from the CURRENT version so
    * exactly-once streams cannot double-apply across a restore).
    * History is preserved: the bad versions stay readable until
    * [[vacuum]], and the restore itself is an audited commit — nothing
    * is ever rewritten in place. Fails (None) only if a concurrent
    * writer raced every retry.
    */
  def restore(spark: SparkSession, root: String, toVersion: Long): Option[Long] = {
    val target = readCommitState(spark, root, toVersion)
      .getOrElse(throw new IllegalArgumentException(s"version $toVersion absent or torn at $root"))
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, target.copy(txns = cur.txns), Some(baseV -> cur),
          op = s"RESTORE v$toVersion"))
        return Some(v)
      attempt += 1
    }
    None
  }

  /** [[restore]] to the version current as of `tsMillis` — the
    * compliance rollback surface ("put the table back to how it was at
    * 2 am"), resolved through the IN-COMMIT instants ([[versionAsOf]]),
    * so a skewed filesystem clock cannot roll back to the wrong state.
    */
  def restoreAsOf(spark: SparkSession, root: String, tsMillis: Long): Option[Long] =
    restore(spark, root, versionAsOf(spark, root, tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no version committed at or before $tsMillis at $root")))

  /** SHALLOW CLONE — a new table at `destRoot` whose first commit
    * references the SOURCE's current data files (zero data copied; the
    * clone is one metadata file regardless of table size). The clone
    * then evolves independently — its appends/deletes/compactions
    * never touch the source. Caveat (same as Delta's shallow clones):
    * the clone depends on the source's files, so a source [[vacuum]]
    * that drops versions the clone references breaks it — deep-copy
    * with a plain read/append when the source's retention isn't under
    * your control.
    */
  def shallowClone(spark: SparkSession, root: String, destRoot: String,
      version: Option[Long] = None): Long = {
    val src = commitState(spark, root, version)
    require(currentVersion(spark, destRoot).isEmpty, s"destination $destRoot already exists")
    val ok = tryCommit(spark, destRoot, 0L, src.copy(txns = Map.empty),
      op = s"CLONE $root")
    if (!ok) throw new IllegalStateException(s"clone destination $destRoot raced another writer")
    0L
  }

  // ------------------------------------------------------------------
  // CHECK CONSTRAINTS — the format-level data-quality gate (the
  // reference enforces P1-P5 in the pipeline; a table that owns its
  // commits can enforce them at the storage boundary, so EVERY writer
  // inherits them). NOT NULL is `c IS NOT NULL`.
  // ------------------------------------------------------------------

  /** Add a named CHECK constraint (a SQL boolean expression over the
    * table's columns). The EXISTING data must already satisfy it (one
    * distributed scan, validated before the metadata commit) — a
    * constraint that the table violates would lie to every reader.
    * Committed as a metadata-only version; every subsequent [[append]]
    * and [[upsert]] batch is validated against it (violations throw
    * with the constraint named). Returns the committed version.
    */
  def addConstraint(spark: SparkSession, root: String, name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && !name.contains(' '), s"constraint name must be wordlike: '$name'")
    validateChecks(read(spark, root), Map(name -> sqlExpr), "existing table data")
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, cur.copy(checks = cur.checks + (name -> sqlExpr)),
          Some(baseV -> cur), op = s"ADD CONSTRAINT $name"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"addConstraint: lost $attempt commit races at $root")
  }

  /** Drop a named CHECK constraint (metadata-only version). */
  def dropConstraint(spark: SparkSession, root: String, name: String): Long = {
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      require(cur.checks.contains(name), s"no CHECK constraint '$name' at $root")
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, cur.copy(checks = cur.checks - name),
          Some(baseV -> cur), op = s"DROP CONSTRAINT $name"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"dropConstraint: lost $attempt commit races at $root")
  }

  // ------------------------------------------------------------------
  // TABLE PROPERTIES — a small committed key→value registry (`#PROP`
  // lines, carried by every commit like checks) that gates optional
  // table behaviors; the Delta `TBLPROPERTIES` shape. The one behavior
  // defined so far: `enableChangeFeed=true` makes upsert/merge commits
  // write EXPLICIT change-data sidecars so [[readChanges]] can serve
  // update_preimage/update_postimage rows (Delta's
  // `delta.enableChangeDataFeed`).
  // ------------------------------------------------------------------

  /** The property key that turns on exact change-data capture. */
  val ChangeFeedProp = "enableChangeFeed"

  private def cdfEnabled(st: CommitState): Boolean =
    st.props.get(ChangeFeedProp).exists(_.equalsIgnoreCase("true"))

  private def cdfRootDir(root: String) = new Path(root, "_cdf")

  /** Set a table property as a metadata-only commit. Returns the
    * committed version. Property changes always render as FULL commits
    * (they are rare; the delta codec stays untouched).
    */
  def setTableProperty(spark: SparkSession, root: String, key: String, value: String): Long = {
    require(key.nonEmpty && !key.contains(' '), s"property key must be wordlike: '$key'")
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, cur.copy(props = cur.props + (key -> value)),
          Some(baseV -> cur), op = s"SET PROPERTY $key"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"setTableProperty: lost $attempt commit races at $root")
  }

  /** Remove a table property (metadata-only commit). */
  def unsetTableProperty(spark: SparkSession, root: String, key: String): Long = {
    var attempt = 0
    while (attempt < 100) {
      val baseV = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"nothing committed at $root"))
      val cur = commitState(spark, root, Some(baseV))
      require(cur.props.contains(key), s"no table property '$key' at $root")
      val v = nextVersion(spark, root, Some(baseV))
      if (tryCommit(spark, root, v, cur.copy(props = cur.props - key),
          Some(baseV -> cur), op = s"UNSET PROPERTY $key"))
        return v
      attempt += 1
    }
    throw new IllegalStateException(s"unsetTableProperty: lost $attempt commit races at $root")
  }

  /** The committed properties of `version` (default: latest). */
  def tableProperties(spark: SparkSession, root: String,
      version: Option[Long] = None): Map[String, String] =
    commitState(spark, root, version).props

  /** Write `changes` (table columns + `_change_type`) as a change-data
    * sidecar directory under `_cdf/` and return its name for the
    * commit's `#CDF` line — or None when the frame produced no files
    * (nothing changed). Columns are stored under PHYSICAL names so the
    * sidecar, like the data files it describes, survives later column
    * renames; [[readChanges]] projects back to logical.
    */
  private def stageChangeData(spark: SparkSession, root: String, st: CommitState,
      changes: DataFrame): Option[String] = timed("cdf") {
    val name = s"cdf-${java.util.UUID.randomUUID()}"
    val dir = new Path(cdfRootDir(root), name)
    val mapped = st.schema.map(s => toPhysical(changes, s)).getOrElse(changes)
    // OPTIMIZED WRITE (same stance as stageFiles, guide §6 file sizing):
    // the images frame is a union of 2-4 projections over the persisted
    // classified batch, so a plain write lands one file PER UPSTREAM TASK
    // per branch — task-count-sized sidecar shards whose per-file open
    // cost every readChanges consumer then pays. The REBALANCE hint
    // coalesces the sidecar to advisoryPartitionSizeInBytes-sized files
    // at every scale. The frame is always engine-built (never a caller
    // layout), so no explicit-layout escape is needed here.
    val sized =
      if (spark.conf.get("graft.table.optimizeWrite", "true").toBoolean)
        mapped.hint("rebalance")
      else mapped
    sized.write.options(WriteOpts.data).parquet(dir.toString)
    val f = fs(spark, root)
    if (listParquet(f, dir).isEmpty) { f.delete(dir, true); None } else Some(name)
  }

  /** Commit HISTORY, newest first: (version, n_files, n_bytes, DV
    * counts, the OPERATION that produced the commit — the DESCRIBE
    * HISTORY audit surface — and txn records). One metadata read per
    * retained version, no data access.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    claimedVersions(spark, root).sorted(Ordering[Long].reverse)
      .flatMap { v =>
        readCommitState(spark, root, v).map { st =>
          val op = readRaw(f, commitPath(root, v)).map(_.op).getOrElse("")
          (v, st.files.size.toLong, st.files.map(_.bytes).sum,
            st.dvs.size.toLong, st.dvs.values.map(_._2).sum, op,
            st.txns.toSeq.sortBy(_._1).map { case (a, b) => s"#TXN $a $b" }.mkString(";"),
            // the commit's own `#TS` instant (mtime for legacy commits) —
            // DESCRIBE HISTORY's timestamp column, clock-skew-proof
            new java.sql.Timestamp(commitInstantOrMtime(f, root, v)))
        }
      }
      .toDF("version", "n_files", "n_bytes", "n_dv_files", "n_dv_rows", "operation", "txns",
        "commit_ts")
  }

  /** METADATA-only diff between two versions: which files were added
    * and removed — how compaction/delete/optimize impact is audited
    * without touching data.
    */
  def diffListing(spark: SparkSession, root: String, from: Long, to: Long): DataFrame = {
    import spark.implicits._
    val a = listing(spark, root, Some(from)).toMap
    val b = listing(spark, root, Some(to)).toMap
    val rows =
      (b.keySet -- a.keySet).toSeq.sorted.map(f => (f, b(f), "added")) ++
      (a.keySet -- b.keySet).toSeq.sorted.map(f => (f, a(f), "removed"))
    rows.toDF("file", "n_bytes", "change")
  }

  /** CONTENT diff between two versions: rows present in exactly one
    * (bag semantics — duplicates count). A full shuffle of both
    * versions; for a cheap audit use [[diffListing]] — this is the
    * row-accurate form for compliance checks ("which rows did the
    * takedown actually remove").
    */
  def diffRows(spark: SparkSession, root: String, from: Long, to: Long): DataFrame = {
    val a = read(spark, root, Some(from))
    val b = read(spark, root, Some(to))
    b.exceptAll(a).withColumn("change", org.apache.spark.sql.functions.lit("added"))
      .unionByName(a.exceptAll(b)
        .withColumn("change", org.apache.spark.sql.functions.lit("removed")))
  }

  // ------------------------------------------------------------------
  // CHANGE DATA FEED: per-version-step insert/delete rows, computed
  // from the TOUCHED files only.
  // ------------------------------------------------------------------

  /** Versions in (`fromExclusive`, `to`] whose step REMOVED any file
    * identity — i.e. was not a pure append (delete, upsert, merge,
    * compaction, restore, replace). Metadata-only: one cached
    * commit-state read per version. The `graft-table` STREAMING source
    * uses this to enforce append-only semantics (Delta's fail-on-
    * changes / `skipChangeCommits` stance) without a per-trigger scan.
    */
  private[graft] def changeCommitVersions(spark: SparkSession, root: String,
      fromExclusive: Long, to: Long): Seq[Long] = {
    val good = claimedVersions(spark, root).sorted
      .filter(v => readCommitState(spark, root, v).isDefined)
    def ids(v: Long): Set[(String, Option[String])] = {
      val st = commitState(spark, root, Some(v))
      st.files.map(fe => (fe.path, st.dvs.get(fe.path).map(_._1))).toSet
    }
    good.filter(v => v > fromExclusive && v <= to).filter { v =>
      val prev = good.filter(_ < v).maxOption
      prev.exists(p => (ids(p) -- ids(v)).nonEmpty)
    }
  }

  /** Row-level changes per committed version step in
    * (`fromExclusive`, `to`] — the incremental-consumption API
    * (Delta's CDF shape): columns = table schema +
    * (`_change_type` ∈ insert|delete, `_commit_version`). An upserted
    * key surfaces as delete(old row) + insert(new row) at its version.
    *
    * Scale shape: an APPEND step (the streaming-ingest common case)
    * emits its new files' rows directly — no diffing, O(new data) —
    * and ALL plain-append steps in the range plan as ONE scan (the
    * version attributed per-file through a broadcast path→version
    * join), so a feed of thousands of ingest commits stays a
    * constant-depth plan instead of a thousand-way union. A
    * rewrite step (delete/upsert/compact/optimize) diffs ONLY the
    * touched files' rows — added-files' rows `exceptAll` removed-files'
    * rows and vice versa — so carried-by-reference files cost nothing;
    * a pure layout rewrite (compaction) emits no rows. Both sides read
    * under `to`'s committed schema (evolution is additive, so older
    * files null-fill). The range must lie within the RETAINED history:
    * [[vacuum]] drops old commits and their unshared files, after which
    * their change steps are gone — size `keepVersions` to cover the
    * slowest change-feed consumer's lag, the same retention contract as
    * Delta's CDF. A range that precedes retained history THROWS rather
    * than guessing: diffing the earliest retained version against
    * "nothing" would re-emit the whole snapshot as inserts with a wrong
    * version — a lagging consumer would silently double-apply the
    * corpus. (Delta's CDF errors the same way when the requested range
    * is beyond the retention horizon.)
    *
    * UPDATE IMAGES: when the table committed with the `enableChangeFeed`
    * property set, upsert/merge commits carry explicit change-data
    * sidecars, and those steps are served EXACTLY from them — with
    * `updateImages = true` an updated row surfaces as
    * `update_preimage` + `update_postimage` (Delta's CDF types) instead
    * of delete + insert; with the default `false` the types fold back to
    * delete/insert so existing consumers see the familiar two-type
    * stream. Steps without sidecars (appends, deletes, rewrites, or
    * commits from before the property was set) always diff as before.
    */
  def readChanges(spark: SparkSession, root: String, fromExclusive: Long,
      to: Long, updateImages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val claimed = claimedVersions(spark, root).sorted
    val goodVersions = claimed
      .filter(v => readCommitState(spark, root, v).isDefined)
    require(goodVersions.nonEmpty, s"nothing committed at $root")
    val steps = goodVersions.filter(v => v > fromExclusive && v <= to)
    // Vacuum-horizon precondition: the first step's predecessor must be
    // retained. prev=None is legitimate ONLY when the table's first-ever
    // commit (v0 — version numbers are allocated from 0) is still on
    // disk; otherwise the range starts before retained history.
    if (steps.nonEmpty && claimed.head > 0 && !goodVersions.exists(_ <= fromExclusive))
      throw new IllegalStateException(
        s"readChanges($fromExclusive, $to] at $root precedes retained history: " +
          s"earliest retained commit is v${claimed.head} (vacuum dropped v0..v${claimed.head - 1}), " +
          s"so the step into v${steps.head} cannot be reconstructed; " +
          "re-bootstrap the consumer from a snapshot read or raise vacuum keepVersions")
    def emptyCdf: DataFrame = { // zero-row frame in CDF shape
      val st = commitState(spark, root, Some(goodVersions.last))
      emptyLike(spark, st)
        .withColumn("_change_type", lit(0L).cast("string"))
        .withColumn("_commit_version", lit(0L))
        .withColumn("_commit_timestamp", lit(null).cast("timestamp"))
        .limit(0)
    }
    if (steps.isEmpty) return emptyCdf
    val schema = commitState(spark, root, Some(goodVersions.filter(_ <= to).max)).schema
    // Step diffing is over file IDENTITIES = (path, deletion-vector
    // ref): a merge-on-read delete changes no file paths, but the
    // touched files' identities change, so their BEFORE (old DV) and
    // AFTER (new DV) images diff to exactly the newly-tombstoned rows —
    // same O(touched files) bound as a rewrite step.
    def readFiles(entries: Seq[(String, Option[String])]): DataFrame = {
      val paths = entries.map(_._1)
      val base = schema match {
        case Some(s) =>
          if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
          else spark.read.schema(physicalSchema(s)).parquet(paths: _*)
        case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
      }
      val withDvs = applyDvs(spark, root, base, entries.flatMap(_._2).distinct)
      if (paths.isEmpty) withDvs // already logical (built from the logical schema)
      else schema.map(toLogical(withDvs, _)).getOrElse(withDvs)
    }
    def identities(v: Long): Set[(String, Option[String])] = {
      val st = commitState(spark, root, Some(v))
      st.files.map(fe => (fe.path, st.dvs.get(fe.path).map(_._1))).toSet
    }
    val idCache = scala.collection.mutable.Map.empty[Long, Set[(String, Option[String])]]
    def identitiesCached(v: Long) = idCache.getOrElseUpdate(v, identities(v))
    // Steps whose commit references EXPLICIT change-data sidecars
    // (`#CDF` — written by upsert/merge when the table's
    // `enableChangeFeed` property is set) are served from those files:
    // exact update_preimage/update_postimage/delete/insert rows, no
    // diffing. All other steps fall back to the identity diff below.
    val fsRoot = fs(spark, root)
    val cdfOf: Map[Long, Seq[String]] = steps.map { v =>
      v -> readRaw(fsRoot, commitPath(root, v)).map(_.cdf).getOrElse(Nil)
    }.toMap
    val cdfSteps = steps.filter(v => cdfOf(v).nonEmpty)
    val cdfFrame: Option[DataFrame] =
      if (cdfSteps.isEmpty) None
      else {
        import org.apache.spark.sql.functions.{broadcast, col, regexp_extract, when}
        val dirVersion = cdfSteps.flatMap(v => cdfOf(v).map(n => n -> v))
        val dirs = dirVersion.map { case (n, _) => new Path(cdfRootDir(root), n).toString }
        val raw = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        val logical = schema.map(toLogical(raw, _)).getOrElse(raw)
        val versioned =
          if (dirVersion.size == 1) logical.withColumn("_commit_version", lit(dirVersion.head._2))
          else {
            val vmap = spark.createDataFrame(
              java.util.Arrays.asList(dirVersion.map { case (n, v) => Row(n, v) }: _*),
              StructType(Seq(
                org.apache.spark.sql.types.StructField("__gcd", org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType))))
            logical
              .withColumn("__gcd",
                regexp_extract(col("_metadata.file_path"), "/(cdf-[^/]+)/[^/]*$", 1))
              .join(broadcast(vmap), "__gcd")
              .drop("__gcd")
          }
        // align to `to`'s committed columns (additive evolution:
        // older sidecars null-fill newer columns), table order
        val have = versioned.columns.toSet
        val tableCols: Seq[Column] = schema match {
          case Some(s) => s.fields.toIndexedSeq.map(fd =>
            if (have(fd.name)) col(fd.name)
            else lit(null).cast(fd.dataType).as(fd.name))
          case None => versioned.columns.toIndexedSeq
            .filterNot(c => c == "_change_type" || c == "_commit_version").map(col)
        }
        val typed =
          if (updateImages) col("_change_type")
          else when(col("_change_type") === "update_preimage", lit("delete"))
            .when(col("_change_type") === "update_postimage", lit("insert"))
            .otherwise(col("_change_type"))
        Some(versioned.select(
          (tableCols :+ typed.as("_change_type") :+ col("_commit_version")): _*))
      }
    case class Step(v: Long, added: Seq[(String, Option[String])],
        removed: Seq[(String, Option[String])])
    val stepInfos = steps.filter(v => cdfOf(v).isEmpty).flatMap { v =>
      val prev = goodVersions.filter(_ < v).maxOption
      val curIds = identitiesCached(v)
      val prevIds = prev.map(identitiesCached).getOrElse(Set.empty[(String, Option[String])])
      val added = (curIds -- prevIds).toSeq.sortBy(_._1)
      val removed = (prevIds -- curIds).toSeq.sortBy(_._1)
      if (added.isEmpty && removed.isEmpty) None // metadata-only step
      else Some(Step(v, added, removed))
    }
    // FLATTEN the append-dominated common case: a feed of N plain
    // appends must NOT plan as N scans under an N-deep union (planning
    // cost and plan size both O(N) — a day of streaming ingest is
    // thousands of commits). All DV-free insert-only steps collapse to
    // ONE scan of their files with the version attributed per-file via
    // a broadcast (path → version) join on `_metadata.file_path`;
    // delete-only steps likewise. Steps that can't flatten keep their
    // per-step frames: rewrites (the exceptAll diff is inherently
    // per-step), steps touching DV'd identities (a sidecar is applied
    // under ITS step's snapshot — another step's file may share the
    // sidecar without sharing the tombstones' validity), and paths a
    // restore re-added (the path→version map must stay unambiguous).
    def flattenable(entries: Seq[(String, Option[String])]) = entries.forall(_._2.isEmpty)
    val insOnly = stepInfos.filter(s => s.removed.isEmpty && flattenable(s.added))
    val delOnly = stepInfos.filter(s => s.added.isEmpty && flattenable(s.removed))
    def dupPaths(group: Seq[Step], side: Step => Seq[(String, Option[String])]) =
      group.flatMap(s => side(s).map(_._1)).groupBy(identity)
        .collect { case (p, occ) if occ.size > 1 => p }.toSet
    val insDups = dupPaths(insOnly, _.added)
    val delDups = dupPaths(delOnly, _.removed)
    val insFlat = insOnly.filter(s => s.added.forall(e => !insDups(e._1)))
    val delFlat = delOnly.filter(s => s.removed.forall(e => !delDups(e._1)))
    def flatGroup(group: Seq[Step], side: Step => Seq[(String, Option[String])],
        changeType: String): Option[DataFrame] = {
      if (group.isEmpty) return None
      import org.apache.spark.sql.functions.{broadcast, col, regexp_replace}
      val entries = group.flatMap(s => side(s).map(e => (e._1, s.v)))
      if (group.size == 1) // no join needed for a single step
        return Some(readFiles(side(group.head))
          .withColumn("_change_type", lit(changeType))
          .withColumn("_commit_version", lit(group.head.v)))
      val base = readFiles(entries.map(e => (e._1, None)))
      val cols = base.columns
      val vmap = spark.createDataFrame(
        java.util.Arrays.asList(entries.map { case (p, v) => Row(normPath(p), v) }: _*),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("__fp", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType))))
      Some(base
        .withColumn("__fp", regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .join(broadcast(vmap), "__fp")
        .withColumn("_change_type", lit(changeType))
        .select((cols.map(col) :+ col("_change_type") :+ col("_commit_version")): _*))
    }
    val flatSet = (insFlat ++ delFlat).map(_.v).toSet
    val perStep = stepInfos.filterNot(s => flatSet(s.v)).map { s =>
      if (s.removed.isEmpty)
        readFiles(s.added)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(s.v))
      else if (s.added.isEmpty)
        readFiles(s.removed)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(s.v))
      else {
        val a = readFiles(s.added)
        val r = readFiles(s.removed)
        a.exceptAll(r).withColumn("_change_type", lit("insert"))
          .unionByName(r.exceptAll(a).withColumn("_change_type", lit("delete")))
          .withColumn("_commit_version", lit(s.v))
      }
    }
    val frames = cdfFrame.toSeq ++ flatGroup(insFlat, _.added, "insert").toSeq ++
      flatGroup(delFlat, _.removed, "delete").toSeq ++ perStep
    if (frames.isEmpty) emptyCdf
    else {
      // `_commit_timestamp` (Delta CDF parity): each step's IN-COMMIT
      // instant ([[commitInstant]]; mtime for legacy commits) joined in
      // from an O(#steps) broadcast map — clock-skew-proof like every
      // other timestamp surface since round 14
      import spark.implicits._
      val out = frames.reduceLeft(_.unionByName(_))
      val f = fs(spark, root)
      val tsMap = steps.map(v =>
        (v, new java.sql.Timestamp(commitInstantOrMtime(f, root, v))))
        .toDF("_commit_version", "_commit_timestamp")
      val cols = out.columns.toSeq
      out.join(org.apache.spark.sql.functions.broadcast(tsMap),
          Seq("_commit_version"), "left_outer")
        .select((cols :+ "_commit_timestamp").map(org.apache.spark.sql.functions.col): _*)
    }
  }

  // ------------------------------------------------------------------
  // PERSISTENT BLOOM SIDECAR: per-file point-lookup index maintained
  // incrementally (files are immutable, so an entry never goes stale —
  // it just stops being referenced when its file leaves the listing).
  // ------------------------------------------------------------------

  private def bloomDir(root: String, keyCol: String) = new Path(root, s"_bloom/$keyCol")

  /** `input_file_name()` and Hadoop listings render the same file with
    * different URI spellings (`file:///x` vs `file:/x`) — compare files
    * by the URI path component.
    */
  private def normPath(p: String): String = new Path(p).toUri.getPath

  /** Bring the bloom sidecar for `keyCol` up to date with the CURRENT
    * listing: compute per-file blooms ONLY for live files that have no
    * entry yet (one distributed scan of just those files) and append
    * them. Incremental by construction — after an append only the new
    * files are scanned; after compaction only the rewritten bins.
    * Returns the number of files indexed this call. Single maintenance
    * writer, the same contract as compaction. Entries of vacuumed files
    * are dead rows filtered at read time (and reaped here whenever the
    * sidecar is more than half dead).
    */
  def maintainBloomIndex(spark: SparkSession, root: String, keyCol: String,
      expectedItemsPerFile: Long = 1000000L): Long = {
    import org.apache.spark.sql.functions.{call_function, col, input_file_name, lit, xxhash64}
    val f = fs(spark, root)
    val stNow = commitState(spark, root, None)
    // the sidecar indexes raw data files, so it lives under (and scans
    // by) the PHYSICAL column name — stable across logical renames
    val physKey = physicalName(stNow.schema, keyCol)
    val dir = bloomDir(root, physKey)
    val live = stNow.files.map(_.path)
    val haveRaw: Seq[String] =
      if (!f.exists(dir)) Seq.empty
      else spark.read.parquet(dir.toString).select("file")
        .collect().map(_.getString(0)).toSeq
    val have = haveRaw.map(normPath).toSet
    val missing = live.filterNot(p => have(normPath(p)))
    if (missing.nonEmpty) {
      BloomJoin.register(spark)
      spark.read.parquet(missing: _*)
        .groupBy(input_file_name().as("file"))
        .agg(call_function("graft_bloom_agg", xxhash64(col(physKey)),
          lit(expectedItemsPerFile)).as("bloom"))
        .write.options(WriteOpts.data).mode("append").parquet(dir.toString)
    }
    val liveNorm = live.map(normPath).toSet
    val keepRaw = haveRaw.filter(p => liveNorm(normPath(p)))
    val dead = haveRaw.size - keepRaw.size
    if (dead > haveRaw.size / 2 && dead > 0) {
      // reap: rewrite only the live entries (distributed read→write into
      // a temp dir, then swap — the source is still intact while read)
      val tmp = new Path(root, s"_bloom/.rewrite-${java.util.UUID.randomUUID()}")
      spark.read.parquet(dir.toString)
        .filter(col("file").isInCollection(keepRaw.toSet))
        .coalesce(1).write.options(WriteOpts.data).parquet(tmp.toString)
      f.delete(dir, true)
      f.rename(tmp, dir)
    }
    missing.size.toLong
  }

  /** Point lookup through the persistent sidecar: only files whose
    * bloom admits the key are opened (files the sidecar hasn't indexed
    * yet stay candidates — conservative), then the exact predicate
    * kills the false-positive tail. Row-equal to a full scan with the
    * same predicate.
    */
  def bloomPointLookup(spark: SparkSession, root: String, keyCol: String,
      key: Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    val st = commitState(spark, root, None)
    val live = st.files.map(_.path)
    val dir = bloomDir(root, physicalName(st.schema, keyCol))
    val candidates =
      if (!f.exists(dir)) live
      else {
        val liveNorm = live.map(normPath).toSet
        val allRaw = spark.read.parquet(dir.toString).select("file")
          .collect().map(_.getString(0))
        val keepRaw = allRaw.filter(p => liveNorm(normPath(p))).toSet
        val idx = spark.read.parquet(dir.toString).filter(col("file").isInCollection(keepRaw))
        val admitted = FileManifest.filesForKey(idx, key).map(normPath).toSet
        val indexed = keepRaw.map(normPath)
        live.filter(p => admitted(normPath(p)) || !indexed(normPath(p)))
      }
    val base =
      if (candidates.isEmpty) emptyLike(spark, st)
      else readWithDvs(spark, root, st, candidates) // a tombstoned row must not resurface here
    base.filter(col(keyCol) === key)
  }

  // ------------------------------------------------------------------
  // EXACTLY-ONCE streaming ingest: the commit file records which
  // (txnApp, txnBatch) produced it — the Delta `txn` action. A replayed
  // foreachBatch sees its batch id already committed and skips, so a
  // crash between the table commit and the streaming checkpoint write
  // cannot double-append.
  // ------------------------------------------------------------------

  /** Highest batch id committed for `app`, if any. Every commit carries
    * the full txn map forward, so only the latest version needs
    * reading.
    */
  def lastTxn(spark: SparkSession, root: String, app: String): Option[Long] =
    currentVersion(spark, root).flatMap { v =>
      // the watermark is SCALAR state: serve it without materializing
      // the listing — pushed snapshot scalar, else the scalar-only
      // chain walk; the full reconstruction is the last resort
      val t = pushedPruneThreshold(spark)
      val sc =
        (if (t <= 0) None
         else pushedListing(spark, root, Some(v)).filter(_.totalFiles >= t).map(_.scalar))
          .orElse(scalarStateAt(spark, root, v))
          .getOrElse(commitState(spark, root, Some(v)))
      sc.txns.get(app)
    }

  /** [[append]] tagged with a transaction id: a no-op when (`app`,
    * `batchId`) is already committed. Returns the version holding the
    * batch (existing or new).
    */
  def appendTxn(spark: SparkSession, root: String, df: DataFrame,
      app: String, batchId: Long, partitionBy: Seq[String] = Seq.empty): Long = {
    if (lastTxn(spark, root, app).exists(_ >= batchId))
      return currentVersion(spark, root).get // replay — already applied
    appendInternal(spark, root, df, partitionBy, Some(app -> batchId))
  }

  /** Stream `df` into the table with exactly-once appends: one commit
    * per micro-batch, idempotent under foreachBatch replay via the txn
    * record above.
    */
  def startAppend(df: DataFrame, root: String, checkpoint: String, app: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      partitionBy: Seq[String] = Seq.empty): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .queryName(s"table_versions_append_$app")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendTxn(batch.sparkSession, root, batch, app, batchId, partitionBy); ()
        }
      }
      .start()
}

/** One parsed add line of the first-checkpoint distributed scan —
  * its owning commit version, position within that commit's adds
  * (the pair restores [[TableVersions.DeltaCommit.applyTo]]'s exact
  * `kept ++ adds` order), and the entry fields in checkpoint-row form.
  */
private[graft] final case class FirstAddRow(ver: Long, pos: Long, path: String,
    bytes: Long, rows: Long, part: Map[String, String],
    stats: Map[String, TableVersions.CkptStatsRow],
    dvFile: Option[String] = None, dvRows: Option[Long] = None)

/** Executor-side scanner for the DISTRIBUTED FIRST CHECKPOINT: each
  * task reads ONE commit file of the delta chain and parses its add
  * lines — the O(#files) listing never lands on the driver. A
  * top-level serializable object so task closures referencing it
  * capture no [[TableVersions]] module state.
  */
private[graft] object FirstCkptScan extends Serializable {

  /** Parse commit `p`'s add (non-`#`) lines into ordered rows. Stored
    * relative paths resolve against the commit file's own location —
    * the same derivation [[TableVersions.parseCommitText]] uses, so a
    * moved/copied table directory scans in place.
    */
  def addRows(conf: org.apache.hadoop.conf.Configuration, ver: Long,
      p: String): Iterator[FirstAddRow] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val root = path.getParent.getParent.toString
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(
      path.getFileSystem(conf).open(path), java.nio.charset.StandardCharsets.UTF_8))
    val out = Vector.newBuilder[FirstAddRow]
    try {
      var pos = 0L
      var l = br.readLine()
      while (l != null) {
        if (l.nonEmpty && !l.startsWith("#")) {
          val fe = TableVersions.parseFileLine(root)(l)
          out += FirstAddRow(ver, pos, fe.path, fe.bytes, fe.rows, fe.part,
            fe.stats.map { case (c, s) =>
              c -> TableVersions.CkptStatsRow(s.minNum, s.maxNum, s.minStr, s.maxStr, s.nulls)
            })
          pos += 1L
        }
        l = br.readLine()
      }
    } finally br.close()
    out.result().iterator
  }

  /** Canonical stored (root-relative) form — checkpoint rows' `path`
    * encoding.
    */
  def rel(root: String, p: String): String = TableVersions.relNorm(root, p)
}
