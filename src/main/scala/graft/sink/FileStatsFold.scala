package graft.sink

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XXH64, XxHash64}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import TxTable.ColStats

/** The per-file log stats of [[TxTable]], folded row by row while a
  * write task produces the file — so a commit never reads back what it
  * just wrote (Snatch's "summarize where the data is produced"; Delta
  * collects its file stats the same way). For each file it keeps:
  *  - `#rows` and `<col>#nulls` for [[TxTable.statsColumns]] and
  *    [[TxTable.bloomColumns]];
  *  - min/max of the [[TxTable.statsColumns]], as the parquet footer
  *    renders them ('l' for INT32/INT64 physical types — integers,
  *    dates, micros timestamps, unscaled short decimals — and 's' for
  *    BINARY), absent when the file holds no non-null value;
  *  - the value Bloom bitset (plus `<col>#ndv`) of each
  *    [[TxTable.bloomColumns]] column, built from the same
  *    `xxhash64(col)` the probe evaluates, NULL included;
  *  - the token bitset of each string [[TxTable.tokenBloomColumns]]
  *    column and the 4-gram bitset of each declared ngram column, each
  *    present only when the file yields at least one token or gram.
  *
  * `schema` is the schema of the rows handed to [[add]]; columns are
  * resolved by name, so the partition column may or may not be in it.
  */
private[sink] final class FileStatsFold(schema: StructType,
    ngramCols: Seq[String]) extends Serializable {
  import FileStatsFold._

  private def present(cols: Seq[String]): Array[Int] =
    cols.filter(schema.fieldNames.contains).map(schema.fieldIndex).toArray
  private def strings(cols: Seq[String]): Array[Int] =
    present(cols).filter(i => schema(i).dataType == StringType)

  private val rangeCols: Array[Int] =
    present(TxTable.statsColumns).filter(i => rangeKind(schema(i).dataType) != 0)
  private val nullCols: Array[Int] =
    present(TxTable.statsColumns ++ TxTable.bloomColumns)
  private val bloomCols: Array[Int] = present(TxTable.bloomColumns)
  private val tokCols: Array[Int] = strings(TxTable.tokenBloomColumns)
  private val ngCols: Array[Int] = strings(ngramCols)

  @transient private lazy val hashes: Array[XxHash64] = bloomCols.map(i =>
    new XxHash64(Seq(BoundReference(i, schema(i).dataType, nullable = true))))

  /** One file's running fold. */
  final class Acc {
    var rows = 0L
    val nulls = new Array[Long](nullCols.length)
    val lo = new Array[Any](rangeCols.length)
    val hi = new Array[Any](rangeCols.length)
    val values: Array[Array[Long]] = bloomCols.map(_ => new Array[Long](Bloom.M / 64))
    val tokens: Array[Array[Long]] = tokCols.map(_ => null)
    val grams: Array[Array[Long]] = ngCols.map(_ => null)
  }

  def newFile(): Acc = new Acc

  def add(a: Acc, row: InternalRow): Unit = {
    a.rows += 1
    var i = 0
    while (i < nullCols.length) {
      if (row.isNullAt(nullCols(i))) a.nulls(i) += 1
      i += 1
    }
    i = 0
    while (i < rangeCols.length) {
      val c = rangeCols(i)
      if (!row.isNullAt(c)) {
        val v = rangeValue(row, c, schema(c).dataType)
        if (a.lo(i) == null || less(v, a.lo(i))) a.lo(i) = copyOf(v)
        if (a.hi(i) == null || less(a.hi(i), v)) a.hi(i) = copyOf(v)
      }
      i += 1
    }
    i = 0
    while (i < bloomCols.length) {
      Bloom.setBits(a.values(i), hashes(i).eval(row).asInstanceOf[Long],
        Bloom.M, Bloom.K)
      i += 1
    }
    i = 0
    while (i < tokCols.length) {
      if (!row.isNullAt(tokCols(i))) {
        val s = row.getUTF8String(tokCols(i))
        a.tokens(i) = foldTokens(a.tokens(i), s)
      }
      i += 1
    }
    i = 0
    while (i < ngCols.length) {
      if (!row.isNullAt(ngCols(i))) {
        val s = row.getUTF8String(ngCols(i))
        a.grams(i) = foldGrams(a.grams(i), s)
      }
      i += 1
    }
  }

  /** The stats entries of a finished file, keyed as the log keys them;
    * Bloom payloads are inline base64 ('b' entries). */
  def result(a: Acc): Map[String, ColStats] = {
    val b = Map.newBuilder[String, ColStats]
    def count(k: String, n: Long) = b += k -> ColStats('l', n.toString, n.toString)
    count(TxTable.RowsKey, a.rows)
    nullCols.indices.foreach(i =>
      count(s"${schema(nullCols(i)).name}${TxTable.NullsSuffix}", a.nulls(i)))
    rangeCols.indices.foreach { i =>
      if (a.lo(i) != null) {
        val c = schema(rangeCols(i))
        b += c.name -> (rangeKind(c.dataType) match {
          case 'l' => ColStats('l', a.lo(i).toString, a.hi(i).toString)
          case _ => ColStats('s', render(a.lo(i)), render(a.hi(i)))
        })
      }
    }
    bloomCols.indices.foreach { i =>
      val c = schema(bloomCols(i)).name
      val bits = Bloom.toBytes(a.values(i), Bloom.M)
      b += c -> ColStats('b', Bloom.encode(bits), s"${Bloom.M},${Bloom.K}")
      count(s"$c${TxTable.NdvSuffix}", Bloom.ndvOf(bits))
    }
    def textFilter(cols: Array[Int], words: Array[Array[Long]], suffix: String) =
      cols.indices.foreach { i =>
        if (words(i) != null)
          b += s"${schema(cols(i)).name}$suffix" -> ColStats('b',
            Bloom.encode(Bloom.toBytes(words(i), Bloom.TokM)),
            s"${Bloom.TokM},${Bloom.K}")
      }
    textFilter(tokCols, a.tokens, "#tok")
    textFilter(ngCols, a.grams, "#ng")
    b.result()
  }
}

private[sink] object FileStatsFold {
  /** 'l' for columns parquet stores as INT32/INT64, 's' for BINARY, 0
    * for the rest (their footer carries no stat this log uses). */
  def rangeKind(dt: DataType): Char = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => 'l'
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS => 'l'
    case StringType | BinaryType => 's'
    case _ => 0
  }

  private def rangeValue(row: InternalRow, i: Int, dt: DataType): Any = dt match {
    case ByteType => row.getByte(i).toLong
    case ShortType => row.getShort(i).toLong
    case IntegerType | DateType => row.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType => row.getLong(i)
    case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toUnscaledLong
    case StringType => row.getUTF8String(i)
    case BinaryType => row.getBinary(i)
  }

  // unsigned byte order for BINARY, as parquet orders UTF8 and plain
  // binary statistics
  private def less(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Long, b: Long) => a < b
    case (a: UTF8String, b: UTF8String) => a.compareTo(b) < 0
    case (a: Array[Byte], b: Array[Byte]) =>
      org.apache.spark.unsafe.types.ByteArray.compareBinary(a, b) < 0
  }

  // a row's UTF8String may point into a reused buffer
  private def copyOf(v: Any): Any = v match {
    case s: UTF8String => s.clone()
    case other => other
  }

  private def render(v: Any): String = v match {
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case other => other.toString
  }

  private def hashBytes(s: UTF8String, from: Int, until: Int): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + from,
      until - from, 42L)

  private def insert(words: Array[Long], h: Long): Array[Long] = {
    val w = if (words == null) new Array[Long](Bloom.TokM / 64) else words
    Bloom.setBits(w, h, Bloom.TokM, Bloom.K)
    w
  }

  /** Tokens are the non-empty runs between single spaces (what
    * `explode(split(col, " "))` minus empty strings yields); a space
    * byte never occurs inside a multi-byte UTF-8 sequence. */
  def foldTokens(words: Array[Long], s: UTF8String): Array[Long] = {
    var w = words
    val n = s.numBytes
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' '.toByte) {
        if (i > start) w = insert(w, hashBytes(s, start, i))
        start = i + 1
      }
      i += 1
    }
    w
  }

  /** Every [[Bloom.NgramN]]-character substring, by code point, as
    * `substring(col, i, n)` cuts them. */
  def foldGrams(words: Array[Long], s: UTF8String): Array[Long] = {
    val n = Bloom.NgramN
    val chars = s.numChars
    if (chars < n) return words
    // byte offset of each code point, plus the end
    val at = new Array[Int](chars + 1)
    var b = 0
    var c = 0
    while (c < chars) {
      at(c) = b
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      c += 1
    }
    at(chars) = s.numBytes
    var w = words
    var i = 0
    while (i + n <= chars) {
      w = insert(w, hashBytes(s, at(i), at(i + n)))
      i += 1
    }
    w
  }
}

/** Per-file stats of one write task, keyed by the file's path below the
  * staged data dir (`date=<d>/<name>`, or `date=<d>/__gb=<b>/<name>`
  * before bucket promotion). */
private[sink] final case class FileStatsBatch(
    files: Map[String, Map[String, ColStats]]) extends WriteTaskStats

/** The [[FileStatsFold]] as Spark's write-stats hook: each task folds
  * its files' rows, and [[processStats]] gathers the committed tasks'
  * results on the driver into [[collected]]. */
private[sink] final class FileStatsTracker(fold: FileStatsFold)
    extends WriteJobStatsTracker {
  @transient var collected: Map[String, Map[String, ColStats]] = Map.empty

  override def newTaskInstance(): WriteTaskStatsTracker =
    new WriteTaskStatsTracker {
      private val open =
        scala.collection.mutable.LinkedHashMap.empty[String, fold.Acc]
      private var curPath: String = _
      private var cur: fold.Acc = _
      override def newPartition(values: InternalRow): Unit = ()
      // a file is folded from its first row on: one with no rows keeps
      // no entry and falls back to its footer
      override def newFile(path: String): Unit = ()
      override def closeFile(path: String): Unit = ()
      override def newRow(path: String, row: InternalRow): Unit = {
        if (path != curPath) {
          cur = open.getOrElseUpdate(path, fold.newFile()); curPath = path
        }
        fold.add(cur, row)
      }
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        FileStatsBatch(open.iterator.map { case (p, a) =>
          FileStatsTracker.keyOf(p) -> fold.result(a) }.toMap)
    }

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    collected = stats.iterator.collect { case FileStatsBatch(m) => m }
      .flatten.toMap
}

private[sink] object FileStatsTracker {
  /** A task file's path from its `date=` directory on: the part of the
    * path the commit protocol keeps when it moves the file into place. */
  def keyOf(path: String): String = {
    val at = path.lastIndexOf("/date=")
    if (at < 0) path else path.substring(at + 1)
  }
}
