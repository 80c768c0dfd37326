package graft.catalog

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table,
  TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter,
  InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, DateType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{GraftMicroBatchStream, GraftParquetReaderFactory,
  TxFileIndex, TxTable}

/** Tx tables as a Spark SQL CATALOG — the last integration seam after
  * the `format("graft")` data source: plain SQL owns the whole
  * lifecycle, no library calls in sight.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gcat",
  *     "graft.catalog.GraftCatalog")                     // runtime-settable
  *   spark.conf.set("spark.sql.catalog.gcat.warehouse", "/lake")
  *   sql("CREATE NAMESPACE gcat.prod")
  *   sql("CREATE TABLE gcat.prod.flows (date DATE, k STRING, v BIGINT)")
  *   sql("INSERT INTO gcat.prod.flows SELECT ...")
  *   sql("SELECT k, sum(v) FROM gcat.prod.flows GROUP BY k")
  *   sql("SELECT * FROM gcat.prod.flows VERSION AS OF 3")  // time travel
  *   sql("DELETE FROM gcat.prod.flows WHERE k = 'bad'")    // -> TxTable.delete
  *   sql("ALTER TABLE gcat.prod.flows ADD COLUMNS (w DOUBLE)")
  *   sql("TRUNCATE TABLE gcat.prod.flows")
  * }}}
  *
  * Identifiers map to paths (`warehouse/ns.../name`); the table state
  * IS the commit log — this catalog stores nothing of its own, so a
  * path-API writer and a SQL reader always agree (Delta's
  * path-is-truth posture, not Hive's metastore-is-truth).
  *
  * Column order follows the Spark FILE-SOURCE convention: the `date`
  * partition column is moved to the END of the declared schema (what
  * `USING parquet PARTITIONED BY` tables do) — `INSERT INTO ...
  * VALUES` is positional against that order; use the by-name insert
  * syntax (`INSERT INTO t (date, k, v)`) to be order-independent.
  *
  * Two read paths, chosen by what the session has:
  *  - With `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (every [[graft.Graft.session]]), an analyzer rule
  *    ([[GraftCatalogRelations]]) swaps the v2 relation for the SAME
  *    planner-owned `HadoopFsRelation` the path API reads through —
  *    native vectorized parquet scan, log-driven pruning, whole-stage
  *    codegen. This is the recommended posture.
  *  - A session built without the extensions falls back to the public
  *    `V1Scan` bridge: column pruning and filter pushdown still
  *    negotiate at the v2 `ScanBuilder`, but rows materialize through
  *    an `RDD[Row]` (no vectorization) — correct everywhere, slower on
  *    wide scans (same trade measured for the v2 streaming reader,
  *    SCALE.md "v1-vs-DSv2"). GraftCatalogSpec pins its rows against
  *    the swapped read.
  *
  * Streaming reads (`spark.readStream.table("gcat.db.t")`) reuse
  * [[graft.sink.GraftMicroBatchStream]] — the `format("graft-v2")`
  * machinery, checkpoint-compatible with both path-API stream
  * formats. Streaming writes go through
  * `writeStream.format("graft").option("path", ...)` (the v1 sink's
  * exactly-once contract); the catalog table does not advertise
  * STREAMING_WRITE.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def name(): String = catName

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"graft catalog '$name' needs a warehouse root: set " +
        s"spark.sql.catalog.$name.warehouse=<path>")
  }

  private def fsRoot = {
    val root = new Path(warehouse)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  private[catalog] def tablePath(ident: Identifier): String =
    (ident.namespace :+ ident.name)
      .foldLeft(new Path(warehouse))(new Path(_, _)).toString

  private def exists(ident: Identifier): Boolean =
    TxTable.currentVersion(spark, tablePath(ident)) >= 0

  override def tableExists(ident: Identifier): Boolean = exists(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (fs, root) = fsRoot
    val ns = namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new Path(p, "_txlog")))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new GraftCatalogTable(tablePath(ident), ident, None)
  }

  /** `VERSION AS OF <v>` — the engine hands the version string here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    require(version.forall(_.isDigit),
      s"graft VERSION AS OF takes a commit version (a number), got " +
        s"'$version'")
    new GraftCatalogTable(tablePath(ident), ident, Some(version.toLong))
  }

  /** `TIMESTAMP AS OF <t>` — micros since epoch, resolved to the
    * newest commit published at or before that instant
    * ([[TxTable.versionAt]]'s contract, shared with the option API).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(timestampMicros, 1000000L),
      Math.floorMod(timestampMicros, 1000000L) * 1000L)
    new GraftCatalogTable(tablePath(ident), ident,
      Some(TxTable.versionAt(spark, tablePath(ident), inst)))
  }

  /** Shared declaration checks for CREATE / CTAS / RTAS: the
    * partitioning clause must be absent or exactly `identity(date)`,
    * the namespace directory must exist, and engine-reserved
    * properties (provider/location/owner) stay out of the log — the
    * path IS the location and the provider is implied by the log's
    * existence. Returns the user properties that DO belong in the log.
    */
  private def validateDecl(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Seq[(String, String)] = {
    val okPart = partitions.isEmpty ||
      (partitions.length == 1 &&
        partitions.head == Expressions.identity("date"))
    require(okPart,
      "graft tables are date-partitioned by construction: declare no " +
        "PARTITIONED BY clause or exactly PARTITIONED BY (date); got " +
        partitions.mkString(", "))
    require(schema.fields.exists(f =>
      f.name == "date" && f.dataType == DateType),
      "graft tables are date-partitioned: declare (or select) a " +
        "`date DATE` column")
    val (fs, root) = fsRoot
    val ns = ident.namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE)
    properties.asScala.toSeq.filterNot { case (k, _) =>
      reserved(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    val props = validateDecl(ident, schema, partitions, properties)
    TxTable.createTable(spark, tablePath(ident), schema, props)
    new GraftCatalogTable(tablePath(ident), ident, None)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) --------------------
  // The staged table accumulates the SELECT's files UNDER the table
  // root without committing; commitStagedChanges publishes data +
  // schema + properties as ONE log commit (create valid only at v0 —
  // a racing creator fails; replace swaps the whole file set), and an
  // abort just deletes staged files (never visible to any reader —
  // unpublished files fall to vacuum anyway).

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (exists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(tablePath(ident), ident, schema,
      validateDecl(ident, schema, partitions, properties),
      orReplace = false, mustExist = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(tablePath(ident), ident, schema,
      validateDecl(ident, schema, partitions, properties),
      orReplace = true, mustExist = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    new GraftStagedTable(tablePath(ident), ident, schema,
      validateDecl(ident, schema, partitions, properties),
      orReplace = true, mustExist = false)

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreate(ident, info.schema(), info.partitions(), info.properties())

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageReplace(ident, info.schema(), info.partitions(), info.properties())

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreateOrReplace(ident, info.schema(), info.partitions(),
      info.properties())

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!exists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val sets = changes.collect { case s: TableChange.SetProperty =>
      s.property -> s.value }
    val removes = changes.collect { case r: TableChange.RemoveProperty =>
      r.property }
    val other = changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn]
      || c.isInstanceOf[TableChange.SetProperty]
      || c.isInstanceOf[TableChange.RemoveProperty])
    require(other.isEmpty,
      s"graft supports ALTER TABLE ADD COLUMNS and SET/UNSET " +
        s"TBLPROPERTIES; rejected: ${other.mkString(", ")} (drop/rename/" +
        "retype a column via overwrite — old files cannot honor it)")
    if (adds.nonEmpty) {
      val fields = adds.map { a =>
        require(a.fieldNames.length == 1,
          s"nested ADD COLUMN is not supported: ${a.fieldNames.mkString(".")}")
        require(a.position == null && a.defaultValue == null,
          "ADD COLUMN position/default clauses are not supported: new " +
            "columns append at the end and read as NULL from old files")
        StructField(a.fieldNames.head, a.dataType, nullable = true)
      }
      // ONE commit for the whole statement: a batch carrying both
      // column adds and property changes must apply atomically — a
      // crash between two commits would leave the ALTER half-applied
      // with no error surfaced for the missing half
      TxTable.addColumns(spark, path, fields, propsSet = sets,
        propsRemove = removes)
    } else if (sets.nonEmpty || removes.nonEmpty)
      TxTable.setTableProperties(spark, path, sets, removes)
    new GraftCatalogTable(path, ident, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    val (fs, _) = fsRoot
    fs.delete(new Path(tablePath(ident)), true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!exists(from)) throw new NoSuchTableException(from)
    if (exists(to)) throw new TableAlreadyExistsException(to)
    val (fs, root) = fsRoot
    val ns = to.namespace.foldLeft(root)(new Path(_, _))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(to.namespace)
    require(fs.rename(new Path(tablePath(from)), new Path(tablePath(to))),
      s"rename ${from} -> ${to} failed")
  }

  // ---- maintenance procedures: CALL gcat.sys.<proc>(...) -----------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("sys")),
      s"graft procedures live under the `sys` namespace: CALL " +
        s"${name()}.sys.<proc>(...); got ${ident.namespace.mkString(".")}")
    GraftProcedures.load(ident.name, this)
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("sys")))
      GraftProcedures.names.map(Identifier.of(Array("sys"), _)).toArray
    else Array.empty

  // ---- namespaces = warehouse directories --------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val (fs, root) = fsRoot
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filterNot(s => fs.exists(new Path(s.getPath, "_txlog")))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array.empty // one level is enough for a path catalog
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val (fs, root) = fsRoot
    namespace.isEmpty ||
      fs.exists(namespace.foldLeft(root)(new Path(_, _)))
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val (fs, root) = fsRoot
    fs.mkdirs(namespace.foldLeft(root)(new Path(_, _)))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories; nothing to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val (fs, root) = fsRoot
    val ns = namespace.foldLeft(root)(new Path(_, _))
    if (!cascade) require(fs.listStatus(ns).isEmpty,
      s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(ns, true)
  }
}

/** The in-flight table of an atomic CTAS / RTAS: the query's result
  * stages as data files under the table root (invisible — no commit
  * references them), then [[commitStagedChanges]] publishes files +
  * schema + properties as ONE commit. CREATE publishes with the
  * create tag (valid only at version 0 — the TOCTOU guard makes a
  * racing CTAS lose loudly); REPLACE swaps the entire current file
  * set; CREATE OR REPLACE picks per the log state at COMMIT time and
  * downgrades create→replace if a racing creator won in between.
  * [[abortStagedChanges]] best-effort deletes the staged files;
  * anything missed is unreferenced and falls to vacuum.
  */
class GraftStagedTable(path: String, ident: Identifier,
    declared: StructType, props: Seq[(String, String)],
    orReplace: Boolean, mustExist: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private def spark: SparkSession = SparkSession.active
  private var staged: Seq[(String, TxTable.FileMeta)] = Seq.empty

  override def name(): String =
    ident.namespace.mkString("", ".", ".") + ident.name + " (staged)"
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] =
    Array(Expressions.identity("date"))
  override def properties(): java.util.Map[String, String] =
    props.toMap.asJava
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged table is empty by definition — truncate is a no-op
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                overwrite: Boolean): Unit = {
              staged = staged ++
                TxTable.stageOnly(data.sparkSession, data, path)
            }
          }
        override def description(): String = s"GraftStagedWrite[$path]"
      }
    }

  override def commitStagedChanges(): Unit = {
    if (mustExist) require(TxTable.currentVersion(spark, path) >= 0,
      s"REPLACE TABLE ${name()}: the table vanished before commit")
    val dataSchema = StructType(declared.filterNot(_.name == "date")
      .map(_.copy(nullable = true)))
    val create = !orReplace ||
      (TxTable.currentVersion(spark, path) < 0 && !mustExist)
    if (create) {
      try {
        TxTable.publishStaged(spark, path, staged, dataSchema, props,
          create = true)
      } catch {
        case e: IllegalStateException if orReplace =>
          // CREATE OR REPLACE lost the create race — the commit-time
          // guard threw; replace the winner instead (the user asked
          // for exactly that)
          TxTable.publishStaged(spark, path, staged, dataSchema, props,
            create = false)
      }
    } else TxTable.publishStaged(spark, path, staged, dataSchema, props,
      create = false)
  }

  override def abortStagedChanges(): Unit =
    TxTable.discardStaged(spark, path, staged)

  override def toString: String = s"GraftStagedTable(${name()})"
}

/** One tx table behind a catalog identifier. `asOf` pins time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`) — a pinned table refuses
  * writes, deletes, and streaming.
  */
class GraftCatalogTable(val path: String, ident: Identifier,
    val asOf: Option[Long]) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  override def name(): String =
    ident.namespace.mkString("", ".", ".") + ident.name +
      asOf.map(v => s"@v$v").getOrElse("")

  /** Data schema (logged, or footer-sampled on pre-evolution logs)
    * with `date` LAST — matching the `HadoopFsRelation` output order,
    * so the extensions fast path can reuse the v2 attributes 1:1.
    */
  override def schema(): StructType = {
    val data = TxTable.tableSchema(spark, path, asOf).getOrElse {
      val df = TxTable.read(spark, path, asOfVersion = asOf)
      StructType(df.schema.filterNot(_.name == "date")
        .map(_.copy(nullable = true)))
    }
    StructType(data :+ StructField("date", DateType, nullable = false))
  }

  override def partitioning(): Array[Transform] =
    Array(Expressions.identity("date"))

  override def properties(): java.util.Map[String, String] =
    (TxTable.tableProperties(spark, path) +
      (TableCatalog.PROP_LOCATION -> path) +
      (TableCatalog.PROP_PROVIDER -> "graft")).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ)

  /** The planner-owned relation ([[TxFileIndex.relation]]) — what the
    * extensions rule swaps in for vectorized reads; also the base of
    * the V1Scan fallback.
    */
  private[catalog] def v1Relation: HadoopFsRelation =
    TxFileIndex.relation(spark, path, asOf)

  /** Minimal CatalogTable carrying CatalogStatistics for the swapped
    * [[org.apache.spark.sql.execution.datasources.LogicalRelation]]:
    * the log-derived sizeInBytes plus the EXACT rowCount from the
    * per-file `#rows` footer stats (DV cardinalities subtracted) —
    * zero data-file I/O, reusing `rel`'s own one-log-replay index.
    * With `spark.sql.cbo.enabled` the planner then sizes the relation
    * as rowCount × row width and estimates every operator above it
    * from row counts instead of raw bytes — the difference between
    * broadcasting a 1000-row/10 GB-on-disk dim and shuffling 100 TB
    * of facts against it. CBO off → plain sizeInBytes, today's
    * behavior exactly. None when any live file predates `#rows`
    * (unknown beats a lowball the optimizer would trust).
    */
  private[catalog] def statsCatalogTable(rel: HadoopFsRelation)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
      CatalogStatistics, CatalogStorageFormat, CatalogTable,
      CatalogTableType}
    rel.location match {
      case ix: graft.sink.TxFileIndex => ix.exactRowCount.map { n =>
        // per-column count stats (NDV upper bound clamped to rowCount,
        // exact null counts) for the log's indexed columns — what
        // AggregateEstimation needs to size a GROUP BY's output from
        // metadata, which in turn lets a join above the aggregate
        // broadcast (CatalogStatsSpec pins it) — plus min/max ranges
        // folded from the per-file log stats for INTEGRAL columns
        // (CatalogColumnStat's external string for integrals is the
        // plain decimal; timestamps/dates/strings use formats the 'l'
        // micros/days encoding does not match, so they stay range-less
        // here rather than risk a misparsed bound), which is what
        // FilterEstimation needs to size a range predicate's output
        val ranges = ix.columnRangeStats
        val schemaTypes = rel.dataSchema.fields
          .map(f => f.name -> f.dataType).toMap
        def extRange(c: String): (Option[String], Option[String]) = {
          import org.apache.spark.sql.types.{ByteType, IntegerType,
            LongType, ShortType}
          (ranges.get(c), schemaTypes.get(c)) match {
            case (Some(('l', mn, mx)), Some(t))
                if t == LongType || t == IntegerType ||
                  t == ShortType || t == ByteType =>
              (Some(mn), Some(mx))
            case _ => (None, None)
          }
        }
        val counts = ix.columnCountStats
        // equi-height histograms from the ANALYZE full arm ride the
        // table's log-carried properties — FilterEstimation's skew
        // instrument (min/max assumes uniform density; a histogram
        // knows 31 of 32 bins are a point value)
        val hists: Map[String,
            org.apache.spark.sql.catalyst.plans.logical.Histogram] =
          ix.tableProps.collect {
            case (k, v) if k.startsWith(graft.sink.TxTable.HistPropPrefix) =>
              val c = k.stripPrefix(graft.sink.TxTable.HistPropPrefix)
              val Array(h, binsS) = v.split('|')
              val bins = binsS.split(';').map { b =>
                val Array(lo, hi, ndv) = b.split(',')
                org.apache.spark.sql.catalyst.plans.logical
                  .HistogramBin(lo.toDouble, hi.toDouble, ndv.toLong)
              }
              c -> org.apache.spark.sql.catalyst.plans.logical
                .Histogram(h.toDouble, bins)
          }
        val colStats = (counts.keySet ++ ranges.keySet
          .filter(c => extRange(c)._1.isDefined) ++ hists.keySet)
          .toSeq.flatMap { c =>
          val (ndv, nulls) =
            counts.getOrElse(c, (None: Option[Long], None: Option[Long]))
          val (mn, mx) = extRange(c)
          if (ndv.isEmpty && nulls.isEmpty && mn.isEmpty &&
            !hists.contains(c)) None
          else Some(c -> CatalogColumnStat(
            distinctCount = ndv.map(v => BigInt(math.min(v, n))),
            min = mn, max = mx,
            nullCount = nulls.map(BigInt(_)),
            avgLen = None, maxLen = None, histogram = hists.get(c)))
        }.toMap
        CatalogTable(
          identifier = TableIdentifier(ident.name,
            ident.namespace.lastOption),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(new java.net.URI(path))),
          schema = StructType(rel.dataSchema ++ rel.partitionSchema),
          provider = Some("graft"),
          stats = Some(CatalogStatistics(
            sizeInBytes = BigInt(math.max(rel.sizeInBytes, 1L)),
            rowCount = Some(BigInt(n)),
            colStats = colStats)))
      }
      case _ => None
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftCatalogScanBuilder(this, schema(), options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to ${name()}: the table is pinned by time travel")
    new GraftCatalogWriteBuilder(path, info)
  }

  // ---- DELETE FROM / TRUNCATE TABLE --------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty &&
      filters.forall(GraftCatalogTable.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty,
      s"cannot delete from ${name()}: the table is pinned by time travel")
    val cond = filters.flatMap(GraftCatalogTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // the `graft.deletionVectors` table property opts SQL DELETE into
    // merge-on-read (Delta's enableDeletionVectors posture): sparse
    // deletes become metadata commits; purge via
    // `CALL gcat.sys.purge_deletes(...)`
    if (TxTable.tableProperties(spark, path)
        .get("graft.deletionVectors").contains("true"))
      TxTable.deleteMergeOnRead(spark, path, cond)
    else
      TxTable.delete(spark, path, cond)
    ()
  }

  override def truncateTable(): Boolean = {
    require(asOf.isEmpty,
      s"cannot truncate ${name()}: the table is pinned by time travel")
    TxTable.truncate(spark, path) >= 0
  }

  override def toString: String = s"GraftCatalogTable(${name()})"
}

object GraftCatalogTable {
  /** v1 `sources.Filter` -> `Column`, exact by construction: the
    * produced Column re-executes through Spark's own expressions, so
    * claiming a translated filter as handled never changes results.
    * None = untranslatable (the engine keeps it, or refuses the
    * DELETE with its standard message).
    */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(a).contains(v))
    case sources.AlwaysTrue()             => Some(lit(true))
    case sources.AlwaysFalse()            => Some(lit(false))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case _ => None
  }
}

/** Pruning and pushdown negotiate HERE (the v2 contract); the built
  * scan then serves batch SQL through the `V1Scan` bridge and
  * streaming through [[graft.sink.GraftMicroBatchStream]].
  */
class GraftCatalogScanBuilder(table: GraftCatalogTable, full: StructType,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f =>
      GraftCatalogTable.filterToColumn(f).isDefined)
    pushed = ok
    rest // unhandled: the engine evaluates them above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new GraftCatalogScan(table, required, pushed, options)
}

class GraftCatalogScan(table: GraftCatalogTable, pruned: StructType,
    pushed: Array[Filter], options: CaseInsensitiveStringMap)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Log-derived size (the same compression-factor-adjusted number the
    * planner-owned relation reports) so Catalyst can BROADCAST a small
    * catalog table in the fallback posture instead of defaulting to
    * "unknown = huge" and shuffling both join sides.
    */
  /** NOTE: in the no-extensions fallback posture Spark wraps this scan
    * in `V1ScanWrapper`, which does NOT forward
    * `SupportsReportStatistics` — so these numbers only reach the
    * planner when the scan survives unwrapped (pure v2 consumers).
    * The statistics path that matters in production is the extensions
    * rule ([[GraftCatalogRelations]]), whose swapped LogicalRelation
    * carries the same exact rowCount as CatalogStatistics —
    * CatalogStatsSpec pins the broadcast flip it buys.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val rel = table.v1Relation
    val rows: Option[Long] = rel.location match {
      case ix: graft.sink.TxFileIndex => ix.exactRowCount
      case _ => None
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(rel.sizeInBytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  override def readSchema(): StructType = pruned
  override def description(): String =
    s"GraftCatalogScan[${table.name()}, ${pruned.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) "]" else s", pushed=${pushed.mkString(",")}]")

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftCatalogV1Relation(context, table, pruned, pushed)
      .asInstanceOf[T]

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    require(table.asOf.isEmpty,
      s"cannot stream from ${table.name()}: the table is pinned by " +
        "time travel")
    // same delivery machinery (and offset JSON) as format("graft-v2")
    pruned.fields.foreach { f =>
      require(GraftParquetReaderFactory.supported(f.dataType),
        s"streaming reads via the catalog cannot read column " +
          s"`${f.name}` of type ${f.dataType.simpleString}: use " +
          "spark.readStream.format(\"graft\").load(path) — the v1 " +
          "path plans through the native vectorized scan for any schema")
    }
    new GraftMicroBatchStream(SparkSession.active, table.path, pruned,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      options.getBoolean("skipChangeCommits", false),
      Option(options.get("maxFilesPerTrigger")).map(_.toLong),
      options.getBoolean("columnarReader", true))
  }
}

/** The no-extensions fallback read: rows come out of the planner-owned
  * relation but surface as `RDD[Row]` (the public `TableScan`
  * contract — no vectorization). Pushed filters and the pruned
  * projection are applied inside, so the engine-side re-evaluation is
  * cheap.
  */
class GraftCatalogV1Relation(context: SQLContext, table: GraftCatalogTable,
    pruned: StructType, pushed: Array[Filter])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context
  override def schema: StructType = pruned

  override def buildScan(): RDD[Row] = {
    val base = context.sparkSession.baseRelationToDataFrame(table.v1Relation)
    val filtered = pushed.flatMap(GraftCatalogTable.filterToColumn)
      .foldLeft(base)(_.filter(_))
    filtered.select(pruned.fieldNames.map(col).toSeq: _*).rdd
  }
}

/** The extensions FAST PATH for catalog reads: swap the resolved v2
  * relation for the planner-owned `HadoopFsRelation` the path API
  * reads through — native vectorized parquet scan, TxFileIndex
  * pruning, whole-stage codegen — reusing the v2 relation's output
  * attributes 1:1 (the table schema is date-last precisely so the
  * orders line up). Command TARGETS (INSERT/DELETE/MERGE) keep their
  * v2 relation: those nodes require a `NamedRelation` child and run
  * through the write/delete contracts, not a scan.
  *
  * Registered by [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`); without
  * it, reads fall back to the correct-but-row-based V1Scan bridge.
  * The same relation-swap posture as Delta's analyzer rule for
  * `DeltaTableV2` — public knowledge, engine-idiomatic.
  */
object GraftCatalogRelations
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
    LogicalPlan, MergeIntoTable, UpdateTable, V2WriteCommand}
  import org.apache.spark.sql.execution.datasources.LogicalRelation
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def targets(plan: LogicalPlan): Set[DataSourceV2Relation] =
    plan.collect {
      case w: V2WriteCommand   => w.table
      case d: DeleteFromTable  => d.table
      case u: UpdateTable      => u.table
      case m: MergeIntoTable   => m.targetTable
    }.flatMap(_.collect { case r: DataSourceV2Relation => r }).toSet

  private def swap(tg: Set[DataSourceV2Relation])
      : PartialFunction[LogicalPlan, LogicalPlan] = {
    case r: DataSourceV2Relation if !tg.contains(r) &&
        r.table.isInstanceOf[GraftCatalogTable] =>
      val tbl = r.table.asInstanceOf[GraftCatalogTable]
      val rel = tbl.v1Relation
      // CatalogStatistics ride along so the CBO sees the exact log-
      // derived rowCount (see [[GraftCatalogTable.statsCatalogTable]])
      LogicalRelation(rel, r.output, tbl.statsCatalogTable(rel),
        isStreaming = false, None)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp(swap(targets(plan)))
}

class GraftCatalogWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwriteAll = false
  private var overwriteCond: Option[Column] = None

  /** Unfiltered INSERT OVERWRITE arrives as truncate-then-append —
    * map it to the tx table's atomic full replace (one commit swaps
    * the file set; readers never observe the truncated intermediate).
    */
  override def truncate(): WriteBuilder = {
    overwriteAll = true; overwriteCond = None; this
  }

  /** `INSERT OVERWRITE t PARTITION (date=...)` (and any other
    * filtered static overwrite) maps to the atomic
    * [[TxTable.replaceWhere]] — one commit swaps exactly the matched
    * region.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val always = filters.isEmpty ||
      filters.forall(_ == sources.AlwaysTrue())
    if (always) return truncate()
    val cols = filters.map(f => GraftCatalogTable.filterToColumn(f)
      .getOrElse(throw new UnsupportedOperationException(
        s"graft cannot overwrite by filter $f")))
    overwriteCond = Some(cols.reduce(_ && _))
    overwriteAll = false
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          // the engine hands columns in table-schema order with table
          // names; select by name anyway so the mapping is explicit
          val frame = data.select(
            data.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
          overwriteCond match {
            case Some(cond) =>
              TxTable.replaceWhere(data.sparkSession, frame, path, cond)
            case None if overwriteAll || overwrite =>
              TxTable.overwrite(data.sparkSession, frame, path)
            case None =>
              TxTable.append(data.sparkSession, frame, path)
          }
          ()
        }
      }
    override def description(): String = {
      val mode =
        if (overwriteCond.isDefined) "replaceWhere"
        else if (overwriteAll) "overwrite" else "append"
      s"GraftWrite[$path, $mode]"
    }
  }
}
