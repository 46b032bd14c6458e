package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TableVersions

/** `GraftCatalog` — the versioned table format as a Spark SQL CATALOG,
  * so the full SQL DML surface works with no session rebuild:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE TABLE graft.db.t (k BIGINT, v STRING) PARTITIONED BY (p)")
  *   spark.sql("INSERT INTO graft.db.t SELECT ...")
  *   spark.sql("INSERT OVERWRITE graft.db.t SELECT ...")
  *   spark.sql("DELETE FROM graft.db.t WHERE k < 10")
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 3")
  *   spark.sql("ALTER TABLE graft.db.t SET TBLPROPERTIES ('enableChangeFeed'='true')")
  *   spark.sql("ALTER TABLE graft.db.t RENAME COLUMN v TO w")
  * }}}
  *
  * SQL `INSERT INTO` cannot auto-evolve schemas: Spark validates the
  * insert's columns during ANALYSIS, before this catalog sees the
  * plan. Additive evolution goes through `ALTER TABLE … ADD COLUMNS`
  * (then re-run the insert), `MERGE WITH SCHEMA EVOLUTION INTO`, or
  * the writer API — pinned by GraftCatalogSpec and the README.
  *
  * Identifiers map to `warehouse/<namespace…>/<name>`; a single-part
  * identifier containing `/` addresses a table by PATH (the
  * ``graft.`/abs/path` `` form Delta uses). Every DML statement lands
  * on the format's own transactional primitives: INSERT INTO →
  * [[TableVersions.append]] (an atomic commit), INSERT OVERWRITE →
  * [[TableVersions.overwrite]] (an audited, time-travelable replace),
  * DELETE FROM → [[TableVersions.deleteWhere]] (commit-stats pruned,
  * merge-on-read capable), ALTER TABLE → the metadata-only commits
  * (properties, rename/drop/add column), `VERSION AS OF` /
  * `TIMESTAMP AS OF` → snapshot loads. DROP TABLE removes the
  * directory; RENAME TABLE is a filesystem move.
  *
  * READ PATH AND ITS COST: catalog SELECTs plan through the DSv2
  * [[V1Scan]] bridge — pushed filters and required columns reach the
  * inner `TableVersions.read` plan, where commit-stats FILE SKIPPING
  * and parquet pushdown still happen during that plan's physical
  * planning — but the rows cross a row-exchange boundary (no
  * whole-stage codegen across it), the same trade the DV relation
  * documents. This keeps the catalog self-contained: it works on ANY
  * session (the driver's included) with two conf lines, no
  * `spark.sql.extensions` at session build. For codegen-hot analytics
  * over DV-free snapshots, `spark.read.format("graft-table")` remains
  * the native `HadoopFsRelation` path; the catalog is the DML and
  * governance surface. (Delta solves this with an analyzer rule
  * injected at session build — rejected here because the driver's
  * sessions are built without extensions.)
  *
  * Ref semantics: the reference's BigQuery datasets/tables DDL+DML
  * surface (`terraform/main.tf:195-245` dataset layout,
  * `healthcare_data_pipeline_dag.py` report SQL over named tables).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fs =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"GraftCatalog: spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.contains("/")) ident.name
    else (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    TableVersions.currentVersion(spark, pathOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val root = pathOf(ident)
    if (TableVersions.currentVersion(spark, root).isEmpty) throw new NoSuchTableException(ident)
    new GraftTable(root, None)
  }

  /** `SELECT … FROM t VERSION AS OF <n>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = pathOf(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-table versions are commit numbers; got '$version'")
    }
    if (TableVersions.currentVersion(spark, root).isEmpty) throw new NoSuchTableException(ident)
    new GraftTable(root, Some(v))
  }

  /** `SELECT … FROM t TIMESTAMP AS OF <ts>` (micros from Spark). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = pathOf(ident)
    val v = TableVersions.versionAsOf(spark, root, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no version committed at or before $timestamp at $root"))
    new GraftTable(root, Some(v))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).toSeq
      .filter(s => s.isDirectory && f.exists(new Path(s.getPath, "_versions")))
      .map(s => Identifier.of(namespace, s.getPath.getName)).toArray
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      // the concrete case classes are private[sql]; match structurally
      if (t.name != "identity" || t.references.length != 1 ||
        t.references.head.fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"graft-table supports identity partitioning only, got $t")
      t.references.head.fieldNames.head
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident.toString)
    // engine-supplied bookkeeping keys are not table properties
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val props = properties.asScala.toMap
      .filterNot { case (k, _) => reserved(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
    TableVersions.createEmpty(spark, pathOf(ident), schema, partCols, props)
    new GraftTable(pathOf(ident), None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = pathOf(ident)
    if (TableVersions.currentVersion(spark, root).isEmpty) throw new NoSuchTableException(ident)
    def one(names: Array[String], what: String): String = {
      require(names.length == 1, s"graft-table: nested $what is not supported")
      names.head
    }
    changes.foreach {
      case c: TableChange.SetProperty =>
        TableVersions.setTableProperty(spark, root, c.property, c.value)
      case c: TableChange.RemoveProperty =>
        TableVersions.unsetTableProperty(spark, root, c.property)
      case c: TableChange.RenameColumn =>
        TableVersions.renameColumn(spark, root, one(c.fieldNames, "RENAME COLUMN"), c.newName)
      case c: TableChange.DeleteColumn =>
        TableVersions.dropColumn(spark, root, one(c.fieldNames, "DROP COLUMN"))
      case c: TableChange.AddColumn =>
        // added columns are always nullable (old files null-fill) and
        // append at the end — refuse LOUDLY rather than silently commit
        // a weaker column than the DDL declared
        if (!c.isNullable) throw new UnsupportedOperationException(
          "graft-table: ADD COLUMN ... NOT NULL is not supported — existing files " +
            "null-fill the new column; add it nullable, backfill, then ADD CONSTRAINT")
        if (c.position != null) throw new UnsupportedOperationException(
          "graft-table: ADD COLUMN with FIRST/AFTER position is not supported — " +
            "new columns append at the end of the schema")
        if (c.comment != null) throw new UnsupportedOperationException(
          "graft-table: ADD COLUMN with COMMENT is not supported")
        TableVersions.addColumn(spark, root, one(c.fieldNames, "ADD COLUMN"), c.dataType)
      case c => throw new UnsupportedOperationException(
        s"graft-table: unsupported ALTER TABLE change $c")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val f = fs
    if (f.exists(p)) { f.delete(p, true); true } else false
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent.toString)
    // commit metadata is root-relative, so this is one directory rename
    // (legacy absolute self-references are rebased in the same call)
    TableVersions.moveTable(spark, pathOf(oldIdent), pathOf(newIdent))
  }

  // ---- namespaces: plain warehouse directories ----

  private def nsPath(namespace: Array[String]) =
    new Path((warehouse +: namespace.toSeq).mkString("/"))

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace))

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs
    val w = new Path(warehouse)
    if (!f.exists(w)) return Array.empty
    f.listStatus(w).toSeq
      .filter(s => s.isDirectory && !f.exists(new Path(s.getPath, "_versions")))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(nsPath(namespace)); ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-table namespaces carry no metadata")

  // ---- maintenance procedures: CALL graft.system.<name>(...) ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    val f = fs
    if (!f.exists(p)) return false
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    f.delete(p, true)
  }
}

/** STATS-ANSWERED AGGREGATES (Delta/Iceberg "optimized metadata
  * query"): `COUNT(*)`, `COUNT(col)`, `MIN(col)`, `MAX(col)` with no
  * WHERE — globally or GROUPED BY PARTITION COLUMNS (their values ride
  * the commit's per-file partition tuples, so a partition-inventory
  * query is one group per tuple) — are answered from the COMMIT's
  * per-file row/null/min-max stats: one metadata read instead of a
  * scan, which at 1M files is the difference between milliseconds and
  * a cluster job. EXACTNESS over coverage: refused (→ Spark scans normally)
  * whenever the snapshot carries deletion vectors, any file lacks row
  * counts (legacy) or the column's stats entry (its all-null files
  * record none), the type's footer stats aren't exactly representable
  * (strings truncate; decimals store unscaled), or an integer-family
  * bound reaches 2^53 (the stats channel is a Double — beyond that a
  * long→double round-trip is ambiguous). DISTINCT never pushes.
  */
private[sources] object StatsAggregate {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  private val ExactLong = (1L << 53).toDouble
  private val HiveNullDir = "__HIVE_DEFAULT_PARTITION__"

  private def partLit(dt: DataType, raw: String): Option[Any] = {
    if (raw == HiveNullDir) return None // a null partition value
    try dt match {
      case StringType => Some(raw)
      case LongType => Some(raw.toLong)
      case IntegerType => Some(raw.toInt)
      case ShortType => Some(raw.toShort)
      case ByteType => Some(raw.toByte)
      case BooleanType => Some(raw.toBoolean)
      case DateType => Some(java.sql.Date.valueOf(java.time.LocalDate.parse(raw)))
      case _ => None
    } catch { case _: IllegalArgumentException | _: java.time.DateTimeException => None }
  }

  /** Is `f` a filter this object can evaluate EXACTLY against the
    * commit's per-file partition tuples — every referenced column a
    * partition column, every shape one with unambiguous semantics?
    * Declaring such a filter handled is what lets Spark attempt
    * aggregate pushdown under a WHERE at all (it requires every filter
    * consumed by the source). Must stay in lockstep with [[evalPart]].
    */
  def partitionOnly(st: TableVersions.CommitState, logical: StructType,
      f: Filter): Boolean = {
    def isPart(n: String) = st.partCols.contains(n) &&
      logical.fields.exists(_.name == n)
    f match {
      case sources.EqualTo(n, v) => isPart(n) && v != null
      case sources.In(n, vs) => isPart(n) && vs != null && vs.forall(_ != null)
      case sources.GreaterThan(n, v) => isPart(n) && v != null
      case sources.GreaterThanOrEqual(n, v) => isPart(n) && v != null
      case sources.LessThan(n, v) => isPart(n) && v != null
      case sources.LessThanOrEqual(n, v) => isPart(n) && v != null
      case sources.IsNull(n) => isPart(n)
      case sources.IsNotNull(n) => isPart(n)
      case sources.And(l, r) => partitionOnly(st, logical, l) && partitionOnly(st, logical, r)
      case sources.Or(l, r) => partitionOnly(st, logical, l) && partitionOnly(st, logical, r)
      case _ => false // Not/StartsWith/…: keep Spark-side
    }
  }

  /** Exact same-type comparison of a partition value against a filter
    * literal; None = type mismatch or unsupported pair (refuse — the
    * exactness-over-coverage stance).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: java.lang.Long, y: java.lang.Long) => Some(java.lang.Long.compare(x, y))
    case (x: java.lang.Integer, y: java.lang.Integer) => Some(Integer.compare(x, y))
    case (x: java.lang.Short, y: java.lang.Short) => Some(java.lang.Short.compare(x, y))
    case (x: java.lang.Byte, y: java.lang.Byte) => Some(java.lang.Byte.compare(x, y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.time.LocalDate) =>
      Some(x.toLocalDate.compareTo(y))
    case _ => None
  }

  /** Evaluate `f` against one file's partition tuple under SQL WHERE
    * semantics (NULL comparisons filter the file out). None = cannot
    * evaluate exactly — the caller must refuse the whole pushdown.
    */
  private def evalPart(st: TableVersions.CommitState, logical: StructType,
      fe: TableVersions.FileEntry, f: Filter): Option[Boolean] = {
    // Some(None) = committed NULL partition value; None = unevaluable
    def value(n: String): Option[Option[Any]] =
      logical.fields.find(_.name == n).flatMap { fd =>
        fe.part.get(n) match {
          case None => None // no tuple recorded for a partition column: refuse
          case Some(HiveNullDir) => Some(None)
          case Some(raw) => partLit(fd.dataType, raw).map(v => Some(v))
        }
      }
    def rel(n: String, v: Any, p: Int => Boolean): Option[Boolean] = value(n).flatMap {
      case None => Some(false) // NULL relop literal = unknown → filtered
      case Some(a) => cmp(a, v).map(p)
    }
    f match {
      case sources.EqualTo(n, v) => rel(n, v, _ == 0)
      case sources.In(n, vs) => value(n).flatMap {
        case None => Some(false)
        case Some(a) =>
          val ms = vs.map(v => cmp(a, v))
          if (ms.exists(_.isEmpty)) None else Some(ms.flatten.exists(_ == 0))
      }
      case sources.GreaterThan(n, v) => rel(n, v, _ > 0)
      case sources.GreaterThanOrEqual(n, v) => rel(n, v, _ >= 0)
      case sources.LessThan(n, v) => rel(n, v, _ < 0)
      case sources.LessThanOrEqual(n, v) => rel(n, v, _ <= 0)
      case sources.IsNull(n) => value(n).map(_.isEmpty)
      case sources.IsNotNull(n) => value(n).map(_.nonEmpty)
      case sources.And(l, r) =>
        for (a <- evalPart(st, logical, fe, l); b <- evalPart(st, logical, fe, r)) yield a && b
      case sources.Or(l, r) =>
        for (a <- evalPart(st, logical, fe, l); b <- evalPart(st, logical, fe, r)) yield a || b
      case _ => None
    }
  }

  /** The snapshot narrowed to the files whose partition tuples satisfy
    * every filter — partition values are constant per file
    * (partitions-as-metadata), so file-level selection IS row-level
    * selection and every downstream stat stays exact. None when any
    * file/filter pair cannot be evaluated exactly.
    */
  def pruneByPartition(st: TableVersions.CommitState, logical: StructType,
      filters: Seq[Filter]): Option[TableVersions.CommitState] = {
    if (filters.isEmpty) return Some(st)
    val kept = st.files.map { fe =>
      val votes = filters.map(f => evalPart(st, logical, fe, f))
      if (votes.exists(_.isEmpty)) return None
      (fe, votes.flatten.forall(identity))
    }.collect { case (fe, true) => fe }
    Some(st.copy(files = kept).pruneDvs)
  }

  /** [[pruneByPartition]] over a PUSHED listing: the partition-only
    * filter depends solely on the file's partition tuple, and a 1M-file
    * table has FEW distinct tuples — so (1) one distributed job
    * collects the distinct tuples from the checkpoint, (2) the driver
    * evaluates the filters EXACTLY per tuple (same [[evalPart]] —
    * including the refuse-on-unevaluable contract, applied to every
    * tuple whether it matches or not), (3) a broadcast semi-join
    * materializes only the matching files. Driver cost: O(#tuples +
    * survivors), never O(#files). None = some tuple is not exactly
    * evaluable — the pushdown refuses, exactly like the driver path.
    */
  def pruneByPartitionPushed(spark: SparkSession, l: TableVersions.PushedListing,
      logical: StructType, filters: Seq[Filter]): Option[TableVersions.CommitState] = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, concat_ws, first, lit}
    val scalar = l.scalar
    if (filters.isEmpty) return Some(scalar) // caller gates on nonEmpty
    val partCols = scalar.partCols
    if (partCols.isEmpty) return None
    // the tuple key encoding — MUST stay in lockstep with the driver
    // encoding below ('\\u0002' marks an absent key; partition values
    // are directory-encoded strings, so the separators cannot occur)
    val keyCol = concat_ws("\u0001", partCols.map(c =>
      coalesce(col("part").getItem(c), lit("\u0002"))): _*)
    def keyOf(part: Map[String, String]): String =
      partCols.map(c => part.getOrElse(c, "\u0002")).mkString("\u0001")
    val ckpt = spark.read.schema(TableVersions.ckptRowSchema).parquet(l.ckptDir)
    val tuples: Seq[Map[String, String]] = ckpt
      .groupBy(keyCol.as("__k")).agg(first(col("part")).as("part"))
      .select("part").collect().toSeq
      .map(_.getAs[scala.collection.Map[String, String]](0).toMap)
    def votesFor(part: Map[String, String]): Option[Boolean] = {
      val probe = TableVersions.FileEntry("", 0L, 0L, part, Map.empty)
      val vs = filters.map(f => evalPart(scalar, logical, probe, f))
      if (vs.exists(_.isEmpty)) None else Some(vs.flatten.forall(identity))
    }
    val voted = tuples.map(t => t -> votesFor(t))
    if (voted.exists(_._2.isEmpty)) return None // unevaluable tuple: refuse
    val matched = voted.collect { case (t, Some(true)) => keyOf(t) }
    val tailVoted = l.tailAdds.map(fe => fe -> votesFor(fe.part))
    if (tailVoted.exists(_._2.isEmpty)) return None
    val baseKept: Seq[TableVersions.FileEntry] =
      if (matched.isEmpty) Seq.empty
      else {
        import spark.implicits._
        val keysDf = matched.toDF("__mk")
        ckpt.join(broadcast(keysDf), keyCol === col("__mk"), "left_semi")
          .as[TableVersions.CkptFileRow].collect().toSeq
          .map(l.toEntry)
          .filterNot(fe => l.tailRemoves(fe.path))
      }
    val kept = baseKept ++ tailVoted.collect { case (fe, Some(true)) => fe }
    Some(scalar.copy(files = kept, dvs = l.dvMap(spark)).pruneDvs)
  }

  def answer(st: TableVersions.CommitState, logical: StructType,
      agg: Aggregation): Option[(StructType, Seq[Row])] = {
    if (st.dvs.nonEmpty) return None
    if (st.files.exists(_.rows < 0)) return None
    def colName(e: VExpr): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    def fieldOf(n: String) = logical.fields.find(_.name == n)
    // GROUP BY pushes only over PARTITION columns (their values are in
    // the commit's per-file partition tuples — the partition-inventory
    // query shape, answered without opening a file). Partition columns
    // never rename (a format restriction), so logical == physical here.
    val groupFields: Seq[StructField] = agg.groupByExpressions.toSeq.map { e =>
      (for {
        n <- colName(e)
        fd <- fieldOf(n)
        if st.partCols.contains(n)
      } yield fd).getOrElse(return None)
    }
    def partLiteral(dt: DataType, raw: String): Option[Any] = {
      if (raw == HiveNullDir) return None // a null partition value: refuse
      try dt match {
        case StringType => Some(raw)
        case LongType => Some(raw.toLong)
        case IntegerType => Some(raw.toInt)
        case ShortType => Some(raw.toShort)
        case ByteType => Some(raw.toByte)
        case BooleanType => Some(raw.toBoolean)
        case DateType => Some(java.sql.Date.valueOf(java.time.LocalDate.parse(raw)))
        case _ => None
      } catch { case _: IllegalArgumentException | _: java.time.DateTimeException => None }
    }
    val groups: Seq[(Seq[Any], Seq[TableVersions.FileEntry])] =
      if (groupFields.isEmpty) Seq((Nil, st.files))
      else st.files.groupBy(fe => groupFields.map(fd => fe.part.get(fd.name)))
        .toSeq.map { case (rawKey, files) =>
          val key = rawKey.zip(groupFields).map { case (raw, fd) =>
            raw.flatMap(partLiteral(fd.dataType, _)).getOrElse(return None)
          }
          (key, files)
        }
    // stats are keyed by PHYSICAL name (stable across column renames)
    def statsFor(files: Seq[TableVersions.FileEntry],
        n: String): Option[Seq[(TableVersions.ColStats, Long)]] = {
      val phys = TableVersions.physicalNameFor(st, n)
      val withRows = files.filter(_.rows > 0)
      val entries = withRows.map(fe => fe.stats.get(phys).map(s => (s, fe.rows)))
      if (entries.exists(_.isEmpty)) None else Some(entries.flatten)
    }
    def exact(v: Double): Boolean =
      math.abs(v) < ExactLong && v == math.rint(v) && !v.isNaN
    def toLiteral(dt: DataType, v: Double): Option[Any] = dt match {
      case DoubleType => Some(v)
      case FloatType => Some(v.toFloat)
      case LongType if exact(v) => Some(v.toLong)
      case IntegerType if exact(v) => Some(v.toInt)
      case ShortType if exact(v) => Some(v.toShort)
      case ByteType if exact(v) => Some(v.toByte)
      case DateType if exact(v) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong)))
      case TimestampType if exact(v) =>
        val us = v.toLong
        Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)))
      case TimestampNTZType if exact(v) =>
        val us = v.toLong
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case _ => None
    }
    def extremum(files: Seq[TableVersions.FileEntry], f: AggregateFunc, col: VExpr,
        pick: Seq[Double] => Double,
        side: TableVersions.ColStats => Option[Double]): Option[(StructField, Any)] =
      for {
        n <- colName(col)
        fd <- fieldOf(n)
        es <- statsFor(files, n)
        v <- if (es.isEmpty) Some(null: Any) // zero live rows: SQL NULL
        else {
          val bounds = es.map { case (s, _) => side(s) }
          if (bounds.exists(_.isEmpty)) None
          else toLiteral(fd.dataType, pick(bounds.flatten))
        }
      } yield (StructField(f.toString, fd.dataType, nullable = true), v)
    def answerGroup(files: Seq[TableVersions.FileEntry]): Option[Seq[(StructField, Any)]] = {
      val totalRows = files.map(_.rows).sum
      val answered: Array[Option[(StructField, Any)]] = agg.aggregateExpressions.map {
        case f: CountStar =>
          Some((StructField(f.toString, LongType, nullable = false), totalRows: Any))
        case c: Count if !c.isDistinct =>
          for {
            n <- colName(c.column); _ <- fieldOf(n)
            es <- statsFor(files, n)
          } yield (StructField(c.toString, LongType, nullable = false),
            (totalRows - es.map(_._1.nulls).sum): Any)
        case m: Min => extremum(files, m, m.column, _.min, _.minNum)
        case m: Max => extremum(files, m, m.column, _.max, _.maxNum)
        case _ => None
      }
      if (answered.exists(_.isEmpty)) None else Some(answered.flatten.toIndexedSeq)
    }
    val perGroup = groups.map { case (key, files) =>
      answerGroup(files).map(a => (key, a)).getOrElse(return None)
    }
    val aggFields = perGroup.headOption.map(_._2.map(_._1))
      .getOrElse(answerGroup(Seq.empty).getOrElse(return None).map(_._1))
    val schema = StructType((groupFields ++ aggFields).toIndexedSeq)
    val rows = perGroup.map { case (key, a) => Row.fromSeq(key ++ a.map(_._2)) }
    Some((schema, rows))
  }
}

private[graft] object GraftCatalog {

  /** `sources.Filter` → `Column` for the pushable subset; None keeps
    * the filter Spark-side. Used for DELETE WHERE translation and for
    * forwarding SELECT pushdown into the inner plan (where commit
    * stats prune files).
    */
  def translate(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (a <- translate(l); b <- translate(r)) yield a && b
    case sources.Or(l, r) => for (a <- translate(l); b <- translate(r)) yield a || b
    case sources.Not(c) => translate(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** One catalog table (optionally pinned to a time-travel version).
  * Reads via the [[V1Scan]] bridge, writes via the [[V1Write]] bridge
  * onto the transactional append/overwrite, deletes via the format's
  * stats-pruned `deleteWhere`.
  */
private[sources] class GraftTable(root: String, version: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations {

  private def spark = SparkSession.active

  /** Big checkpoint-backed snapshots keep their listing UNMATERIALIZED
    * (filtered reconstruction): catalog metadata (schema, partitioning,
    * properties) comes from the scalar state, scans prune inside the
    * checkpoint's distributed read, and only write/row-level paths —
    * which need the full listing anyway — materialize `snapshot`.
    */
  private val pushedSnap: Option[TableVersions.PushedListing] =
    TableVersions.pushedSnapshot(spark, root, version)
  private lazy val snapshot = TableVersions.commitState(spark, root, version)
  private def scalarState: TableVersions.CommitState =
    pushedSnap.map(_.scalar).getOrElse(snapshot)

  override def name(): String = s"graft.`$root`" + version.map(v => s"@v$v").getOrElse("")

  // the read plan force-nullables (pre-evolution files null-fill), so
  // the declared schema must agree; physical-name metadata is an
  // implementation detail the SQL surface must not leak
  override def schema(): StructType = StructType(
    scalarState.schema.getOrElse(spark.read.parquet(snapshot.files.head.path).schema)
      .fields.map(f => f.copy(nullable = true,
        metadata = org.apache.spark.sql.types.Metadata.empty)))

  override def partitioning(): Array[Transform] =
    scalarState.partCols.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    (scalarState.props ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft-table",
      TableCatalog.PROP_LOCATION -> root)).asJava

  // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE WITH SCHEMA EVOLUTION INTO`
  // (Spark's native clause) derives AddColumn changes from the extra
  // source columns and drives them through [[GraftCatalog.alterTable]]
  // — the same nullable-append commit as ALTER TABLE, with the same
  // loud refusals for anything beyond a plain nullable add
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // ---- row-level SQL: UPDATE / MERGE INTO / arbitrary DELETE ----

  /** Row identity as METADATA columns (Iceberg's `_file`/`_pos`): the
    * `SupportsDelta` rowId resolves against these, and they are
    * selectable for debugging (`SELECT __graft_file, * FROM t`).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = TableVersions.RowIdFileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file holding the row"
    },
    new MetadataColumn {
      override def name(): String = TableVersions.RowIdPosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row index within its data file"
    })

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(version.isEmpty, s"cannot modify the time-travel snapshot ${name()}")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        // pushed snapshots hand the operation their scalar state + the
        // listing handle: the row-level scan and the statement's commit
        // both stay O(touched), never materializing the listing
        new GraftRowLevelOperation(root,
          pushedSnap.map(_.scalar).getOrElse(snapshot), schema(), info.command,
          pushedSnap)
    }
  }

  // ---- read: V1Scan bridge ----

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates {
      private var pushed: Array[Filter] = Array.empty
      private var handledPart: Array[Filter] = Array.empty
      private var required: Option[StructType] = None
      private var aggAnswer: Option[(StructType, Seq[Row])] = None

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        // record the translatable subset for IO pruning but keep EVERY
        // non-partition filter Spark-side (the push is a pure
        // optimization there, so the translation can stay conservative
        // — the DvTableRelation rule). PARTITION-ONLY filters this
        // source can evaluate exactly against the commit's per-file
        // partition tuples are declared HANDLED instead: that is what
        // lets Spark even attempt aggregate pushdown under a WHERE
        // ("count rows in yesterday's partition" answered from
        // metadata), and the plain-scan path applies them itself via
        // the same exact translation.
        pushed = filters.filter(f => GraftCatalog.translate(f).isDefined)
        val (handled, kept) = filters.partition(f =>
          GraftCatalog.translate(f).isDefined &&
            StatsAggregate.partitionOnly(scalarState, schema(), f))
        handledPart = handled
        kept
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)

      // COUNT/MIN/MAX answered from commit stats — only COMPLETE
      // pushdown (the one row IS the result), only when exact (see
      // [[StatsAggregate]]). Spark attempts this only when every
      // filter was consumed by the source; this builder consumes
      // exactly the partition-only subset, so an aggregation arrives
      // either filter-free or under partition predicates — the latter
      // prune the per-file stat rows before answering.
      // memoized: supportCompletePushDown + pushAggregation both ask,
      // and the pushed variant runs (small) jobs
      private lazy val prunedForAgg: Option[TableVersions.CommitState] =
        pushedSnap match {
          case Some(l) if handledPart.nonEmpty =>
            StatsAggregate.pruneByPartitionPushed(spark, l, schema(), handledPart.toSeq)
          case _ =>
            StatsAggregate.pruneByPartition(snapshot, schema(), handledPart.toSeq)
        }
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        pushed.length == handledPart.length &&
          prunedForAgg.exists(st => StatsAggregate.answer(st, schema(), agg).isDefined)
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
        if (pushed.length != handledPart.length) return false
        aggAnswer = prunedForAgg.flatMap(st => StatsAggregate.answer(st, schema(), agg))
        aggAnswer.isDefined
      }

      override def build(): Scan = new V1Scan {
        private val out = aggAnswer.map(_._1).orElse(required).getOrElse(schema())
        override def readSchema(): StructType = out
        override def toV1TableScan[T <: BaseRelation with TableScan](
            ctx: SQLContext): T = {
          val filters = pushed.toSeq
          val answered = aggAnswer
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = out
            // exact size from the commit: a small dimension table read
            // through the catalog must broadcast in joins instead of
            // inheriting defaultSizeInBytes (= never broadcast)
            override def sizeInBytes: Long =
              if (answered.isDefined) 64L // one metadata-built row
              else pushedSnap.map(_.sizeEstimate(ctx.sparkSession))
                .getOrElse(snapshot.files.map(_.bytes).sum)
            override def buildScan(): RDD[Row] = answered match {
              case Some((sch, rows)) => // metadata-only: no file is opened
                ctx.sparkSession.createDataFrame(rows.asJava, sch).rdd
              case None =>
                val needsRowId = out.fieldNames.exists(n =>
                  n == TableVersions.RowIdFileCol || n == TableVersions.RowIdPosCol)
                var df =
                  if (needsRowId)
                    TableVersions.readStateWithRowId(ctx.sparkSession, root, snapshot)
                  else TableVersions.read(ctx.sparkSession, root, version)
                filters.flatMap(GraftCatalog.translate).foreach(c => df = df.filter(c))
                if (out.isEmpty) df.select().rdd
                else df.select(out.fieldNames.toIndexedSeq.map(col): _*).rdd
            }
          }.asInstanceOf[T]
        }
      }
    }

  // ---- write: V1Write bridge onto the transactional commits ----

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      require(version.isEmpty, s"cannot write to the time-travel snapshot $name")
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit = {
              val s = data.sparkSession
              if (overwrite || overwriteFlag)
                TableVersions.overwrite(s, root, data, scalarState.partCols)
              else TableVersions.append(s, root, data)
              ()
            }
          }
      }
    }

  // ---- DELETE FROM … WHERE ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(f => GraftCatalog.translate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.toSeq.flatMap(GraftCatalog.translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    TableVersions.deleteWhere(spark, root, pred)
    ()
  }
}
