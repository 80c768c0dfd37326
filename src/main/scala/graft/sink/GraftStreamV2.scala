package graft.sink

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader,
  ParquetWriter}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
  PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo,
  PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.streaming.Offset
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The tx-table streaming source through the DataSourceV2
  * `MicroBatchStream` contract (`format("graft-v2")`) — the round-8
  * verdict's asked-for migration, shipped as a PARALLEL delivery path
  * so the trade it embodies is measurable instead of argued:
  *
  *  - The OFFSET and ADMISSION machinery is genuinely first-class
  *    here: `initialOffset`/`deserializeOffset`/`latestOffset(start,
  *    limit)` are the interface instead of engine-internal JSON
  *    decode, the engine hands the restart offset back explicitly
  *    (no reliance on a recovery `getBatch` replay to rebuild driver
  *    state), and `SupportsPushDownRequiredColumns` negotiates
  *    PER-QUERY column pruning down to the parquet page level.
  *  - The DELIVERY contract is strictly weaker than v1's: a v2
  *    `PartitionReader` must iterate `InternalRow`s itself, so the
  *    micro-batch cannot be planned through Spark's native vectorized
  *    parquet scan (`FileSourceScan` + `WholeStageCodegen`) the way v1
  *    `getBatch`'s DataFrame is. This reader uses the PUBLIC
  *    parquet-mr API (`ParquetReader` + `GroupReadSupport`) —
  *    row-materializing, no vectorization. That is exactly why Spark's
  *    own file streaming source (`FileStreamSource`) and Delta's
  *    `DeltaSource` remain v1 `Source` implementations: for FILE-backed
  *    streams, v1's DataFrame hand-off IS the performance path, and v2
  *    has no public equivalent (`V1Scan` exists for batch only).
  *    SCALE.md records the measured backfill-throughput gap; the
  *    default `format("graft")` stays v1.
  *  - The CHANGE FEED stays v1-only by construction: CDF batches are
  *    DERIVED (a per-batch `exceptAll` multiset diff planned on the
  *    driver), and a v2 reader contract has no way to express "this
  *    batch is a computed join of two file sets" without first
  *    materializing the diff to scratch storage.
  *
  * Both paths share ONE state machine — [[GraftStreamSource.planBatch]]
  * computes offsets, recovery, integrity checks (expired-log /
  * destructive-rewrite / vacuum-lag failures, identical messages) and
  * the per-batch file slice; the paths differ only in how those files
  * become rows. The offset JSON is byte-identical (`s:v:i` chunks,
  * bare-long versions), so a checkpoint written by one path restarts
  * through the other.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-v2"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-v2 data source requires a path")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    require(!options.getBoolean("readChangeFeed", false),
      "readChangeFeed is v1-only (use format(\"graft\")): change-feed " +
        "batches are derived per-batch diffs planned on the driver, " +
        "which the v2 PartitionReader contract cannot express")
    val spark = SparkSession.active
    // a WRITE to a not-yet-existing table has no schema to infer (the
    // write schema comes from the query; the table springs into
    // existence at the first epoch commit) — a READ of a missing
    // table still fails with the source's actionable message
    if (TxTable.currentVersion(spark, path(options)) < 0) new StructType()
    else GraftStreamSource.schemaFor(spark, path(options))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftV2Table(schema, properties.asScala.toMap)
}

class GraftV2Table(tableSchema: StructType, props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-v2:${props.getOrElse("path", "?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the WRITE-side inferSchema tolerates a missing table (it springs
    // into existence at the first epoch); a READ must not — re-raise
    // the source's actionable message here instead of failing later
    // with an empty schema
    Option(options.get("path")).orElse(props.get("path")).foreach { p =>
      require(TxTable.currentVersion(SparkSession.active, p) >= 0,
        s"graft stream source needs an existing table at $p " +
          "(create it with one append/overwrite first — the stream " +
          "schema is resolved from the commit log)")
    }
    new GraftV2ScanBuilder(tableSchema, options)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val path = Option(info.options.get("path")).getOrElse(
      props.getOrElse("path", throw new IllegalArgumentException(
        "graft-v2 streaming write requires a path")))
    new GraftV2WriteBuilder(path, info.schema(), info.queryId(),
      info.options.asScala.toMap)
  }
}

/** Column pruning is the one pushdown v2 adds over the v1 path: the
  * engine calls [[pruneColumns]] with the query's required columns and
  * the reader projects the parquet scan to exactly those — a
  * streaming `select(two_cols)` over a wide table reads two column
  * chunks per file, not the frozen schema's width.
  */
class GraftV2ScanBuilder(full: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new GraftV2Scan(required, options)
}

class GraftV2Scan(pruned: StructType, options: CaseInsensitiveStringMap)
    extends Scan {
  // plan-time type gate: the row-materializing reader covers the flat
  // primitive schemas tx tables carry; a nested/decimal column fails
  // HERE with the remedy, not on an executor mid-backfill
  pruned.fields.foreach { f =>
    require(GraftParquetReaderFactory.supported(f.dataType),
      s"graft-v2 cannot read column `${f.name}` of type " +
        s"${f.dataType.simpleString}: the v2 row reader supports flat " +
        "primitive schemas (long/int/double/float/boolean/string/date/" +
        "timestamp) — use format(\"graft\"), whose v1 path plans " +
        "through the native vectorized parquet scan for any schema")
  }

  override def readSchema(): StructType = pruned
  override def description(): String =
    s"GraftV2Scan[${options.get("path")}, ${pruned.fieldNames.mkString(",")}]"

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    val spark = SparkSession.active
    new GraftMicroBatchStream(spark, options.get("path"), pruned,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      options.getBoolean("skipChangeCommits", false),
      Option(options.get("maxFilesPerTrigger")).map(_.toLong),
      options.getBoolean("columnarReader", true))
  }
}

class GraftMicroBatchStream(spark: SparkSession, table: String,
    pruned: StructType, maxVersionsPerTrigger: Option[Long],
    skipChangeCommits: Boolean, maxFilesPerTrigger: Option[Long],
    columnarReader: Boolean = true)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** The shared state machine — offsets, rate limits, snapshot
    * chunking, integrity failures all come from the SAME code the v1
    * source runs; this class only swaps the delivery contract.
    */
  private val planner = new GraftStreamSource(spark, table,
    maxVersionsPerTrigger, skipChangeCommits, maxFilesPerTrigger)
  private val (_, root) = TxTable.fsFor(spark, table)

  override def getDefaultReadLimit: ReadLimit = planner.getDefaultReadLimit
  override def prepareForTriggerAvailableNow(): Unit =
    planner.prepareForTriggerAvailableNow()

  override def initialOffset(): OffsetV2 = LongOffset(-1L)

  override def deserializeOffset(json: String): OffsetV2 = {
    val j = json.trim
    if (j.startsWith("s:")) {
      val p = j.split(':')
      GraftSnapshotOffset(p(1).toLong, p(2).toLong)
    } else LongOffset(j.toLong)
  }

  private def asV1(o: OffsetV2): Offset = o match {
    case v1: Offset => v1
    case other => deserializeOffset(other.json).asInstanceOf[Offset]
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // v2 hands the restart offset back EXPLICITLY — prime the planner
    // from it instead of relying on a recovery getBatch replay (the
    // v1 engine behavior) to rebuild the planned/snapshot state
    if (start != null) planner.primeFrom(asV1(start))
    planner.latestOffset(start, limit)
  }

  override def latestOffset(): OffsetV2 =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead " +
        "(this stream implements SupportsAdmissionControl)")

  override def planInputPartitions(start: OffsetV2,
      end: OffsetV2): Array[InputPartition] =
    planner.planBatch(Some(asV1(start)), asV1(end)) match {
      case GraftStreamSource.FileSlice(files, _) =>
        // BIN-PACK files into partitions the way FileSourceScan does
        // (maxPartitionBytes target, openCostInBytes per-file floor,
        // at-least-default-parallelism split) — one task per FILE
        // would schedule millions of tasks on a large backfill, and
        // measured ~15% of backfill wall even at 120 files
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val infos = files.map { case (rel, meta) =>
          // deletion vectors resolve driver-side at plan time (strict:
          // a snapshot-era file with an unresolvable vector fails the
          // plan, never delivers resurrected rows)
          val dv = DvStore.positions(fs, root, rel, meta.stats)
            .map(DvStore.encode)
          GraftFileInfo(new Path(root, rel).toString, meta.date,
            math.max(meta.bytes, 1L), dv)
        }
        val conf = spark.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val minParts =
          math.max(spark.sparkContext.defaultParallelism, 1)
        val totalCost = infos.map(_.bytes + openCost).sum
        val target = math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, totalCost / minParts + 1))
        val bins = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[GraftFileInfo]]
        var binCost = 0L
        infos.sortBy(-_.bytes).foreach { f =>
          val cost = f.bytes + openCost
          if (bins.isEmpty || binCost + cost > target) {
            bins += scala.collection.mutable.ArrayBuffer(f)
            binCost = cost
          } else {
            bins.last += f
            binCost += cost
          }
        }
        bins.map(b => GraftFilePartition(b.toSeq): InputPartition).toArray
      case _: GraftStreamSource.ChangeRange =>
        throw new IllegalStateException(
          "unreachable: the change feed is v1-only and rejected at " +
            "schema inference")
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftParquetReaderFactory(pruned,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      columnar = columnarReader)

  override def commit(end: OffsetV2): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftMicroBatchStream[$table]"
}

/** One file of a packed partition; `date` rides along because it is a
  * PATH-derived partition column, not a parquet column. `dv` carries
  * the file's DELETION VECTOR payload (encoded positions, resolved
  * driver-side at plan time) when the snapshot-era meta has one — the
  * v2 readers subtract those positions exactly like the v1 scan's
  * [[DvParquetFileFormat]].
  */
final case class GraftFileInfo(path: String, date: String, bytes: Long,
    dv: Option[String] = None)

/** A bin-packed set of tx data files = one input partition (the
  * FileSourceScan `FilePartition` shape, sized by maxPartitionBytes).
  */
final case class GraftFilePartition(files: Seq[GraftFileInfo])
    extends InputPartition

/** Hadoop `Configuration` is not `java.io.Serializable`; ship it to
  * executors via its own Writable contract.
  */
final class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

object GraftParquetReaderFactory {
  /** The flat primitive types the row reader covers (everything tx
    * tables write); nested/decimal columns are rejected at plan time.
    */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Whether the COLUMNAR delivery can serve `schema`: the synthesized
    * `date` partition column must sit LAST (a `ColumnarBatch` appends
    * partition vectors after the file columns — any other position
    * would permute the output) or be absent from the projection.
    */
  def columnarCompatible(schema: StructType): Boolean =
    !schema.fieldNames.dropRight(1).contains("date")
}

class GraftParquetReaderFactory(schema: StructType,
    conf: SerializableHadoopConf, columnar: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftChainedReader[InternalRow](
      p.asInstanceOf[GraftFilePartition],
      f => {
        val base = new GraftParquetFileReader(f, schema, conf.value)
        f.dv match {
          case None => base
          case Some(b64) => new DvFilteredReader(base, DvStore.decode(b64))
        }
      })

  // a partition holding any vectored file falls back to the row
  // delivery (filtering inside a ColumnarBatch would mean rebuilding
  // the batch; purge restores columnar) — the same trade the v1 scan
  // makes relation-wide in DvParquetFileFormat
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && GraftParquetReaderFactory.columnarCompatible(schema) &&
      p.asInstanceOf[GraftFilePartition].files.forall(_.dv.isEmpty)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftChainedReader[org.apache.spark.sql.vectorized.ColumnarBatch](
      p.asInstanceOf[GraftFilePartition],
      f => new GraftVectorizedFileReader(f, schema, conf.value))
}

/** Subtracts a file's deletion vector from its row reader: the base
  * reader yields every row of ONE whole file in order (v2 files are
  * never split and read with no pushdown), so the running position IS
  * the vector's row identity.
  */
class DvFilteredReader(base: PartitionReader[InternalRow],
    deleted: Array[Long]) extends PartitionReader[InternalRow] {
  private var pos = -1L
  override def next(): Boolean = {
    while (base.next()) {
      pos += 1
      if (java.util.Arrays.binarySearch(deleted, pos) < 0) return true
    }
    false
  }
  override def get(): InternalRow = base.get()
  override def close(): Unit = base.close()
}

/** Drives a packed partition's files through per-file readers, one at
  * a time — the partition-level `PartitionReader` both delivery modes
  * share.
  */
class GraftChainedReader[T](part: GraftFilePartition,
    open: GraftFileInfo => PartitionReader[T]) extends PartitionReader[T] {
  private val it = part.files.iterator
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (cur == null || !cur.next()) {
      if (cur != null) cur.close()
      cur = null
      if (!it.hasNext) return false
      cur = open(it.next())
    }
    true
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** COLUMNAR v2 delivery: the same `VectorizedParquetRecordReader`
  * Spark's own `FileSourceScan` drives — batches of column vectors
  * instead of one materialized `InternalRow` per record. This closes
  * the measured 37% full-scan gap of the row-materializing reader
  * (STREAMV2_RESULTS.json): the v2 contract DOES have a vectorized
  * story, it's just `PartitionReader[ColumnarBatch]` rather than the
  * v1 DataFrame hand-off. Schema evolution matches the v1 path —
  * columns missing from an old file surface as NULL vectors — and the
  * `date` partition column rides in as a constant vector via
  * `initBatch` (which is why it must sit last; see
  * [[GraftParquetReaderFactory.columnarCompatible]]).
  */
class GraftVectorizedFileReader(part: GraftFileInfo,
    schema: StructType, conf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetReadSupport, VectorizedParquetRecordReader}

  private val dataSchema = StructType(schema.filterNot(_.name == "date"))
  private val wantsDate = schema.fieldNames.contains("date")

  private val reader = {
    val rc = new Configuration(conf)
    rc.set("parquet.read.support.class",
      classOf[ParquetReadSupport].getName)
    rc.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataSchema.json)
    // the schema converter reads these from the task conf; Spark's
    // scan sets them from the session — mirror the same defaults
    rc.setBoolean("spark.sql.parquet.binaryAsString", false)
    rc.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    rc.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    rc.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    rc.setBoolean("spark.sql.caseSensitive", false)
    if (rc.get("spark.sql.session.timeZone") == null)
      rc.set("spark.sql.session.timeZone", "UTC")
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    // the base reader casts to the OLD-API split (mapred.FileSplit,
    // which extends the mapreduce one in Hadoop 3)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(part.path), 0, Long.MaxValue, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(rc,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
    r.initialize(split, attempt)
    val (partSchema, partRow) =
      if (wantsDate)
        (StructType(Seq(org.apache.spark.sql.types
          .StructField("date", DateType, nullable = false))),
          new GenericInternalRow(Array[Any](
            LocalDate.parse(part.date).toEpochDay.toInt)))
      else (new StructType(), new GenericInternalRow(Array.empty[Any]))
    r.initBatch(partSchema, partRow)
    r.enableReturningBatches()
    r
  }

  override def next(): Boolean = reader.nextKeyValue()
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    reader.getCurrentValue
      .asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]
  override def close(): Unit = reader.close()
}

/** Row-materializing parquet reader over the PUBLIC parquet-mr API
  * (`ParquetReader` + `GroupReadSupport`): one footer read resolves
  * the file's physical schema, the requested projection is the pruned
  * read schema ∩ the file's columns (columns a pre-evolution file
  * lacks are null — the same additive-evolution semantics the v1
  * scan's `spark.read.schema(frozen)` applies), and per-field
  * converters are resolved ONCE against the physical types (INT96 /
  * INT64-micros/millis/nanos timestamps, INT32-backed longs from
  * widened schemas), so the per-row loop is branch-free.
  */
class GraftParquetFileReader(part: GraftFileInfo,
    schema: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val filePath = new Path(part.path)
  private val fileSchema: MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(filePath, conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  private val dateDays: Int = LocalDate.parse(part.date).toEpochDay.toInt

  private val wanted = schema.fields.filter(f =>
    f.name != "date" && fileSchema.containsField(f.name))
  private val requested = new MessageType(fileSchema.getName,
    (if (wanted.nonEmpty)
      wanted.toSeq.map(f => fileSchema.getType(fileSchema.getFieldIndex(f.name)))
    else
      // a projection needing NO parquet columns (e.g. select("date"),
      // or every requested column absent from this pre-evolution
      // file) still needs row ITERATION — read the first physical
      // column as a row driver and ignore its values
      Seq(fileSchema.getType(0))): _*)

  private val reader: ParquetReader[Group] = {
    val rc = new Configuration(conf)
    rc.set(ReadSupport.PARQUET_READ_SCHEMA, requested.toString)
    ParquetReader.builder(new GroupReadSupport(), filePath).withConf(rc)
      .build()
  }

  private def timestampConv(idx: Int,
      prim: org.apache.parquet.schema.PrimitiveType): Group => Any =
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT96 =>
        // 12 bytes little-endian: nanos-of-day (8) + julian day (4)
        g => {
          val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = buf.getLong
          val julian = buf.getInt
          (julian - 2440588L) * 86400000000L + nanos / 1000L
        }
      case PrimitiveTypeName.INT64 =>
        val unit = prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit
          case _ => LogicalTypeAnnotation.TimeUnit.MICROS
        }
        unit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            g => g.getLong(idx, 0) * 1000L
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            g => g.getLong(idx, 0) / 1000L
          case _ => g => g.getLong(idx, 0)
        }
      case other => throw new IllegalStateException(
        s"graft-v2 reader: timestamp column backed by $other in " +
          s"${part.path}")
    }

  /** Per-field converter, resolved once per file against the physical
    * type; `null` converter means "column absent in this file".
    */
  private val getters: Array[Group => Any] = schema.fields.map { f =>
    if (f.name == "date" && f.dataType == DateType) { (_: Group) => dateDays }
    else if (!fileSchema.containsField(f.name)) null
    else {
      val idx = requested.getFieldIndex(f.name)
      val prim = requested.getType(idx).asPrimitiveType()
      val pt = prim.getPrimitiveTypeName
      val base: Group => Any = (f.dataType, pt) match {
        case (LongType, PrimitiveTypeName.INT64) => g => g.getLong(idx, 0)
        case (LongType, PrimitiveTypeName.INT32) =>
          g => g.getInteger(idx, 0).toLong
        case (IntegerType, PrimitiveTypeName.INT32) =>
          g => g.getInteger(idx, 0)
        case (DoubleType, PrimitiveTypeName.DOUBLE) => g => g.getDouble(idx, 0)
        case (DoubleType, PrimitiveTypeName.FLOAT) =>
          g => g.getFloat(idx, 0).toDouble
        case (FloatType, PrimitiveTypeName.FLOAT) => g => g.getFloat(idx, 0)
        case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
          g => g.getBoolean(idx, 0)
        case (StringType, PrimitiveTypeName.BINARY) =>
          g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
        case (DateType, PrimitiveTypeName.INT32) => g => g.getInteger(idx, 0)
        case (TimestampType | TimestampNTZType, _) =>
          timestampConv(idx, prim)
        case (dt, p) => throw new IllegalStateException(
          s"graft-v2 reader: column `${f.name}` declared $dt but " +
            s"backed by $p in ${part.path}")
      }
      g => if (g.getFieldRepetitionCount(idx) == 0) null else base(g)
    }
  }

  private var cur: Group = _

  override def next(): Boolean = {
    cur = reader.read()
    cur != null
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) {
      vals(i) = if (getters(i) == null) null else getters(i)(cur)
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}

// ---------------------------------------------------------------------------
// DSv2 STREAMING WRITE — the publish direction of `format("graft-v2")`.
// ---------------------------------------------------------------------------

/** The tx table as a DSv2 streaming SINK: executors write the epoch's
  * parquet themselves (one [[GraftParquetDataWriter]] per task, files
  * under an epoch-scoped staged dir), and the driver publishes exactly
  * the files the COMMITTED tasks reported in one marked commit
  * ([[TxTable.commitStreamingEpoch]]). The division of labor differs
  * from the v1 sink ([[GraftStreamSink]]) in one structural way: v1's
  * `addBatch` re-plans the batch DataFrame through a full Spark write
  * job (range partitioning + sort + vectorized parquet), while here
  * the rows stream through the task that produced them — no second
  * shuffle, but also no sort clustering, so v2-streamed files skip on
  * date/Bloom stats only until OPTIMIZE re-clusters them. Exactly-once
  * is the same `(writerId, epochId)` mark: a replayed epoch after
  * checkpoint recovery or a zombie duplicate writer lands ZERO times,
  * and files from aborted/speculative task attempts are never
  * referenced (they fall to vacuum).
  *
  * Complete mode maps to `SupportsTruncate`: each epoch's commit swaps
  * the whole live file set atomically. Update mode is refused — same
  * posture as v1 (keyed upserts go through foreachBatch + merge).
  */
class GraftV2WriteBuilder(path: String, writeSchema: StructType,
    queryId: String, options: Map[String, String])
    extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = {
    val dateOk = writeSchema.fields.exists(f => f.name == "date" &&
      (f.dataType == DateType || f.dataType == StringType))
    require(dateOk, "graft tables are date-partitioned: the streamed " +
      "frame needs a `date` column (DATE or yyyy-MM-dd STRING)")
    val unsupported = writeSchema.fields.filter(f =>
      f.name != "date" && !GraftParquetSchema.supported(f.dataType))
    require(unsupported.isEmpty,
      "graft-v2 streaming write supports flat primitive schemas; " +
        s"unsupported column(s): ${unsupported.map(f =>
          s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
    // stable dedup scope, writerId option > checkpoint-derived id >
    // queryId (itself checkpoint-stable) — same precedence as v1
    val writerId = options.get("writerid")
      .orElse(options.get("checkpointlocation").map { cp =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(cp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        "graft-v2-sink-" + d.take(6).map(b => f"$b%02x").mkString
      }).getOrElse(s"graft-v2-sink-$queryId")
    new Write {
      override def toStreaming: StreamingWrite =
        new GraftStreamingWrite(path, writerId, writeSchema, replace)
      override def description(): String =
        s"graft-v2 streaming write [$path]"
    }
  }
}

/** A task's committed files (table-relative) and the stats it folded
  * for each, keyed `date=<d>/<name>` (see [[FileStatsFold]]). */
final case class GraftEpochFiles(files: Seq[String],
    stats: Map[String, Map[String, TxTable.ColStats]])
  extends WriterCommitMessage

class GraftStreamingWrite(table: String, writerId: String,
    writeSchema: StructType, replace: Boolean) extends StreamingWrite {

  // epoch dirs are deterministic in (writerId, epochId): a retried
  // epoch re-stages into the SAME dir and the commit references only
  // the retry's reported files — prior attempts' leftovers stay
  // unreferenced
  private val dirPrefix = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(writerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    "d-s" + d.take(5).map(b => f"$b%02x").mkString
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    GraftStreamWriterFactory(table, dirPrefix, writeSchema, conf,
      TxTable.bucketNgramCols(TxTable.tableProperties(spark, table)))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val done = messages.toSeq.collect { case m: GraftEpochFiles => m }
    TxTable.commitStreamingEpoch(SparkSession.active, table,
      s"$dirPrefix-e$epochId", done.flatMap(_.files).toSet, writerId,
      epochId, writeSchema, replace, done.flatMap(_.stats).toMap)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // best-effort: unreferenced files are invisible either way and
    // fall to vacuum
    val spark = SparkSession.active
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    messages.iterator.collect { case m: GraftEpochFiles => m.files }
      .flatten.foreach { rel =>
        try fs.delete(new Path(root, rel), false)
        catch { case _: Exception => () }
      }
  }

  override def useCommitCoordinator(): Boolean = true
  override def toString: String = s"GraftStreamingWrite[$table]"
}

final case class GraftStreamWriterFactory(table: String, dirPrefix: String,
    writeSchema: StructType, conf: SerializableHadoopConf,
    ngramCols: Seq[String]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(table, s"$dirPrefix-e$epochId",
      writeSchema, conf.value, partitionId, taskId, ngramCols)
}

/** StructType -> parquet `MessageType` for the executor-side writer —
  * the exact physical shapes the v1 path produces (INT64-micros
  * timestamps so footer stats stay usable for data skipping, UTF8
  * strings) and the v2 reader resolves.
  */
object GraftParquetSchema {
  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  def fileType(f: StructField): Type = {
    val b = f.dataType match {
      case LongType    => Types.optional(PrimitiveTypeName.INT64)
      case IntegerType => Types.optional(PrimitiveTypeName.INT32)
      case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE)
      case FloatType   => Types.optional(PrimitiveTypeName.FLOAT)
      case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
      case StringType  => Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType())
      case TimestampType => Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS))
      case TimestampNTZType => Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS))
      case DateType => Types.optional(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.dateType())
      case dt => throw new IllegalArgumentException(
        s"unsupported graft-v2 write type: $dt")
    }
    b.named(f.name)
  }

  /** The staged FILE schema: everything but the `date` partition
    * column, which lives in the directory name (exactly what v1's
    * `partitionBy("date")` produces).
    */
  def messageType(schema: StructType): MessageType =
    new MessageType("spark_schema",
      schema.fields.filter(_.name != "date").map(fileType).toSeq: _*)
}

/** Per-task parquet writer: routes rows to one open file per date
  * partition (`<dataDir>/date=<d>/part-p<pid>-t<tid>-<uuid>.parquet`),
  * zstd-compressed via the public parquet-mr Group API, folding each
  * file's log stats and filters as its rows pass ([[FileStatsFold]]).
  * The task's commit message reports the table-relative paths it wrote
  * and their stats; ONLY those files become candidates for the epoch
  * commit.
  */
class GraftParquetDataWriter(table: String, dataDir: String,
    schema: StructType, conf: Configuration, partitionId: Int,
    taskId: Long, ngramCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {

  private val root = new Path(table)
  private val fs = root.getFileSystem(conf)
  private val dateIdx = schema.fieldIndex("date")
  private val dateIsNative = schema(dateIdx).dataType == DateType
  private val msgType = GraftParquetSchema.messageType(schema)
  private val factory = new SimpleGroupFactory(msgType)
  private val uuid = java.util.UUID.randomUUID().toString.take(8)

  // (field index in `schema`) -> setter into the group; null = date col
  private val setters: Array[(Group, InternalRow, Int) => Unit] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == dateIdx) null
      else {
        val name = f.name
        f.dataType match {
          case LongType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getLong(i))
          case IntegerType | DateType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getInt(i))
          case DoubleType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getDouble(i))
          case FloatType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getFloat(i))
          case BooleanType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getBoolean(i))
          case StringType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name,
              Binary.fromString(r.getUTF8String(i).toString))
          case TimestampType | TimestampNTZType =>
            (g: Group, r: InternalRow, _: Int) => g.add(name, r.getLong(i))
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        }
      }
    }

  private val fold = new FileStatsFold(schema, ngramCols)

  private val open = scala.collection.mutable.HashMap.empty[String,
    (ParquetWriter[Group], String, fold.Acc)]

  private def writerFor(date: String): (ParquetWriter[Group], String, fold.Acc) =
    open.getOrElseUpdate(date, {
      val rel = s"$dataDir/date=$date/part-p$partitionId-t$taskId-$uuid.parquet"
      val w = ExampleParquetWriter.builder(
          HadoopOutputFile.fromPath(new Path(root, rel), conf))
        .withConf(conf)
        .withType(msgType)
        .withCompressionCodec(CompressionCodecName.ZSTD)
        .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
        .build()
      (w, rel, fold.newFile())
    })

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(dateIdx),
      "graft tables are date-partitioned: `date` must be non-null")
    val date =
      if (dateIsNative) LocalDate.ofEpochDay(row.getInt(dateIdx).toLong).toString
      else row.getUTF8String(dateIdx).toString
    val g = factory.newGroup()
    var i = 0
    while (i < setters.length) {
      if (setters(i) != null && !row.isNullAt(i)) setters(i)(g, row, i)
      i += 1
    }
    val (w, _, acc) = writerFor(date)
    w.write(g)
    fold.add(acc, row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._1.close())
    GraftEpochFiles(open.values.map(_._2).toSeq,
      open.values.map { case (_, rel, acc) =>
        FileStatsTracker.keyOf(rel) -> fold.result(acc) }.toMap)
  }

  override def abort(): Unit = {
    open.values.foreach { case (w, rel, _) =>
      try w.close() catch { case _: Exception => () }
      try fs.delete(new Path(root, rel), false)
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}
