package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.operators.TableVersions

/** `spark.read.format("graft-table").load(root)` — the versioned table
  * as a first-class batch source. The returned relation is a
  * [[HadoopFsRelation]] over a [[GraftFileIndex]], i.e. the SAME
  * planning machinery Spark's own file sources use: pushed filters
  * reach [[GraftFileIndex.listFiles]] and prune files from commit
  * stats during physical planning, column pruning and parquet
  * vectorized reading stay intact, and `.explain` shows the familiar
  * `PushedFilters`/`ReadSchema` — nothing is opaque to Catalyst.
  *
  * Options: `versionAsOf` (commit version) / `timestampAsOf` (epoch
  * millis) select a snapshot for time travel; default latest.
  *
  * Snapshots carrying DELETION VECTORS read through a
  * [[PrunedFilteredScan]] relation whose scan IS the
  * `TableVersions.read` plan (format FileIndex + tombstone anti-join):
  * pushed filters are translated back into the inner plan, so
  * commit-stats file pruning still happens during that plan's physical
  * planning, and the anti-join applies the sidecars exactly — any
  * snapshot `TableVersions.read` serves, the format serves. The cost
  * is a row-exchange boundary (no whole-stage codegen across it) paid
  * ONLY by DV-carrying snapshots; DV-free tables keep the native
  * `HadoopFsRelation` path. Legacy commits without a recorded schema
  * still refuse (the relation contract needs the schema before any
  * file is opened).
  */
class GraftTableSource extends RelationProvider with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The table's logical schema with field metadata scrubbed (the
    * physical-name mapping is an implementation detail a stream's
    * declared schema must not leak).
    */
  private def tableSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val base = TableVersions.commitState(spark, path).schema.getOrElse(
      TableVersions.read(spark, path).schema)
    org.apache.spark.sql.types.StructType(base.fields.map(f =>
      f.copy(nullable = true, metadata = org.apache.spark.sql.types.Metadata.empty)))
  }

  /** `spark.readStream.format("graft-table").load(root)` — stream the
    * TABLE's appends (Delta's "streaming from a table"): rows in the
    * table schema, commit versions as offsets, append-only by contract
    * (non-append commits throw, or are skipped whole with
    * `skipChangeCommits=true`); see [[GraftTableStreamSource]].
    *
    * DIVERGENCE FROM DELTA, deliberate and pinned (README "Table-format
    * divergences"): with NO start option the stream tails the FULL
    * retained history, not an initial snapshot. Delta-style snapshot
    * bootstrap is the explicit `.option("startingVersion", "snapshot")`
    * (current rows as one batch, then appends). The historical default
    * is kept because streams checkpointed under it pin their start
    * marker — an existing marker always wins, so no restart changes
    * meaning.
    */
  override def sourceSchema(ctx: SQLContext, schema: Option[org.apache.spark.sql.types.StructType],
      providerName: String, parameters: Map[String, String])
      : (String, org.apache.spark.sql.types.StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table streaming requires a path"))
    (shortName(), schema.getOrElse(tableSchema(ctx.sparkSession, path)))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[org.apache.spark.sql.types.StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = ctx.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table streaming requires a path"))
    val tbl = CdfSourceProvider.pinnedSchema(spark, metadataPath,
      schema.getOrElse(tableSchema(spark, path)))
    val cdfDeclared = tbl
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
    val starting = CdfSourceProvider.resolveStart(spark, metadataPath, parameters, path,
      allowSnapshot = true)
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxVersions.foreach(m => require(m > 0, s"maxVersionsPerTrigger must be positive, got $m"))
    new GraftTableStreamSource(spark, path, cdfDeclared, tbl, starting, maxVersions,
      metadataPath, parameters.get("skipChangeCommits").exists(_.toBoolean))
  }

  /** `df.writeStream.format("graft-table").option("path", root)` — the
    * table as a first-class STREAMING SINK with exactly-once appends:
    * each micro-batch commits via [[TableVersions.appendTxn]] keyed
    * `(txnAppId, batchId)`, so a replayed batch after a crash between
    * the table commit and the streaming checkpoint re-commits nothing
    * (the Delta sink's txn-action shape). Append output mode only — a
    * table of immutable committed versions IS an append log; aggregate
    * update/complete modes belong in a foreachBatch upsert. One stream
    * per `txnAppId` per table (default `graft-table-sink`): two
    * concurrent streams sharing an app id would mask each other's
    * batch ids. `option("partitionBy", "a,b")`/`partitionBy(...)` on
    * the first write declares table partitioning; later writes
    * inherit. Paired with the `graft-cdf` source this closes the loop:
    * table → change feed → table is an exactly-once streaming
    * replication pipeline with no external queue.
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table sink: .option(\"path\", <table root>) or .start(<table root>) is required"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-table sink supports Append output mode only, got $outputMode")
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(partitionColumns)
    new GraftTableSink(root, parameters.getOrElse("txnAppId", "graft-table-sink"), partitionBy)
  }

  /** `df.write.format("graft-table").mode(…).save(root)` — writes are
    * TRANSACTIONAL commits, never directory drops: `append` commits a
    * new version (first write may declare partitioning via
    * `option("partitionBy", "a,b")`; later writes inherit), `overwrite`
    * replaces the listing in one audited version (the old data stays
    * time-travelable until vacuum, and the change feed shows
    * delete+insert). `ErrorIfExists`/`Ignore` follow their SQL
    * contract against "a committed version exists".
    */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table: .save(<table root>) is required"))
    val spark = ctx.sparkSession
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val exists = TableVersions.currentVersion(spark, root).isDefined
    mode match {
      case SaveMode.Append => TableVersions.append(spark, root, data, partitionBy)
      case SaveMode.Overwrite => TableVersions.overwrite(spark, root, data, partitionBy)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"graft-table: $root already has committed versions (mode=ErrorIfExists)")
      case SaveMode.ErrorIfExists => TableVersions.append(spark, root, data, partitionBy)
      case SaveMode.Ignore if exists => ()
      case SaveMode.Ignore => TableVersions.append(spark, root, data, partitionBy)
    }
    val st = TableVersions.commitState(spark, root)
    if (st.dvs.isEmpty && !TableVersions.mappingActive(st))
      GraftTableSource.relationFor(spark, root, st)
    else new GraftTableSource.DvTableRelation(spark, root, st)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-table: .load(<table root>) is required"))
    val spark = ctx.sparkSession
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { ts =>
        TableVersions.versionAsOf(spark, root, ts.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"graft-table: no version committed at or before $ts at $root"))
      })
    GraftTableSource.relation(spark, root, version)
  }
}

/** The v1 streaming sink behind `writeStream.format("graft-table")`.
  * `addBatch` re-wraps the incremental execution's row RDD as a batch
  * frame (the ForeachBatchSink pattern, via the graftshim), persists it
  * so the append's validate/stage passes compute the micro-batch once,
  * and commits through the txn-keyed append — idempotent per
  * (app, batchId) by the table format's own replay guard.
  */
private[sources] class GraftTableSink(root: String, app: String,
    partitionBy: Seq[String]) extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.graftshim.StreamingFrameShim.asBatch(spark, data)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!batch.isEmpty) {
        TableVersions.appendTxn(spark, root, batch, app, batchId, partitionBy); ()
      }
    } finally { batch.unpersist(); () }
  }

  override def toString: String = s"GraftTableSink[$root]"
}

object GraftTableSource {

  /** The relation for a snapshot: [[GraftFileIndex]]-backed
    * `HadoopFsRelation` for plain states (shared with
    * [[TableVersions.read]]'s fast path), [[DvTableRelation]] when the
    * snapshot carries deletion vectors OR a column mapping (both need a
    * plan on top of the raw scan: the tombstone anti-join / the
    * physical→logical projection).
    */
  def relation(spark: SparkSession, root: String, version: Option[Long]): BaseRelation = {
    // big snapshots serve their listing straight from the parquet
    // checkpoint (filtered reconstruction) — same dispatch as
    // TableVersions.read
    TableVersions.pushedSnapshot(spark, root, version) match {
      case Some(l) =>
        return if (l.dvMap(spark).isEmpty && !TableVersions.mappingActive(l.scalar))
          relationFor(spark, root, l.scalar, Some(l))
        else new PushedDvTableRelation(spark, root, l)
      case None =>
    }
    val st = TableVersions.commitState(spark, root, version)
    if (st.dvs.isEmpty && !TableVersions.mappingActive(st)) relationFor(spark, root, st)
    else new DvTableRelation(spark, root, st)
  }

  /** A DV-carrying snapshot as a scannable relation: `buildScan`
    * materializes the `TableVersions` read plan (format FileIndex +
    * (file, pos) anti-join against the sidecars) and hands its row RDD
    * to Spark. Pushed filters are translated into the inner plan —
    * Catalyst pushes them through the anti-join's preserved side down
    * to the parquet scan, where [[GraftFileIndex]] prunes files from
    * commit stats — and ALL filters are declared unhandled, so Spark
    * re-applies them above the scan: the translation is purely a
    * pruning/IO optimization and correctness never depends on it.
    */
  private[sources] class DvTableRelation(spark: SparkSession, root: String,
      st: TableVersions.CommitState) extends BaseRelation
      with org.apache.spark.sql.sources.PrunedFilteredScan {
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.functions.{col, lit}

    override def sqlContext: SQLContext = spark.sqlContext

    override val schema: StructType =
      st.schema.map(s => asNullable(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalArgumentException(
          s"graft-table: $root has legacy commits without a recorded schema; " +
            "read it via TableVersions.read(mergeSchema = true)"))

    override def sizeInBytes: Long = st.files.map(_.bytes).sum

    override def unhandledFilters(filters: Array[sources.Filter]): Array[sources.Filter] =
      filters // every filter re-applied above: translation is best-effort pruning

    private[sources] def toColumn(f: sources.Filter): Option[org.apache.spark.sql.Column] = f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case sources.StringEndsWith(a, p) => Some(col(a).endsWith(p))
      case sources.StringContains(a, p) => Some(col(a).contains(p))
      case sources.And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
      case sources.Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
      case sources.Not(c) => toColumn(c).map(!_)
      case _ => None
    }

    override def buildScan(requiredColumns: Array[String],
        filters: Array[sources.Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
      val base = TableVersions.readState(spark, root, st)
      val filtered = filters.flatMap(toColumn).foldLeft(base)(_.filter(_))
      filtered.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
    }
  }

  /** [[DvTableRelation]]'s twin for PUSHED listings: the inner plan is
    * [[TableVersions.readPushed]], so file pruning happens inside the
    * checkpoint's distributed read; everything else (filter
    * translation, re-application above the scan) is identical.
    */
  private[sources] class PushedDvTableRelation(spark: SparkSession, root: String,
      l: TableVersions.PushedListing) extends BaseRelation
      with org.apache.spark.sql.sources.PrunedFilteredScan {
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.functions.col

    private val inner = new DvTableRelation(spark, root, l.scalar)

    override def sqlContext: SQLContext = spark.sqlContext

    override val schema: StructType = inner.schema

    override def sizeInBytes: Long = l.sizeEstimate(spark)

    override def unhandledFilters(filters: Array[sources.Filter]): Array[sources.Filter] =
      filters

    override def buildScan(requiredColumns: Array[String],
        filters: Array[sources.Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
      val base = TableVersions.readPushed(spark, root, l)
      val filtered = filters.flatMap(inner.toColumn).foldLeft(base)(_.filter(_))
      filtered.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
    }
  }

  /** [[relation]] over an ALREADY-PARSED commit state — the
    * [[TableVersions.read]] integration point ([[TableVersions]] layers
    * the deletion-vector anti-join on top itself, so no DV guard here).
    */
  def relationFor(spark: SparkSession, root: String,
      st: TableVersions.CommitState,
      pushed: Option[TableVersions.PushedListing] = None): HadoopFsRelation = {
    // PHYSICAL schema — what the files store (identical to logical
    // unless columns were renamed; [[TableVersions.readState]] projects
    // back to logical on top). Force-nullable, exactly like
    // `spark.read.schema(...)` does (and Delta's read schema): files
    // written BEFORE an additive evolution lack the added columns, and
    // the vectorized reader refuses a missing column that the schema
    // marks required — null-filling is the evolution contract.
    val schema = st.schema.map(s =>
        asNullable(TableVersions.physicalSchema(s)).asInstanceOf[StructType])
      .getOrElse(throw new IllegalArgumentException(
        s"graft-table: $root has legacy commits without a recorded schema; " +
          "read it via TableVersions.read(mergeSchema = true)"))
    val index = new GraftFileIndex(spark, root, st, schema, pushed)
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }

  private def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** [[relationFor]] as a DataFrame. */
  def readFor(spark: SparkSession, root: String,
      st: TableVersions.CommitState,
      pushed: Option[TableVersions.PushedListing] = None): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relationFor(spark, root, st, pushed))

  /** [[relation]] as a DataFrame. */
  def read(spark: SparkSession, root: String, version: Option[Long]): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation(spark, root, version))
}
