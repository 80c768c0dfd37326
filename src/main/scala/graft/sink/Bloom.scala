package graft.sink

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-file Bloom filters for the [[TxTable]] commit log — the
  * ClickHouse `INDEX ... TYPE bloom_filter` skip-index analog
  * (reference table DDL carries only the primary ORDER BY index;
  * ClickHouse adds bloom skip indexes for exactly the query this
  * serves: equality lookups on a high-cardinality column OUTSIDE the
  * sort key, where min/max envelopes are useless because every file
  * spans most of the value domain).
  *
  * The filter for each staged file is built by ONE column-pruned Spark
  * job over the staged files (grouped by `_metadata.file_path`, bitset
  * OR as a typed `Aggregator` with map-side partial merge — the shuffle
  * carries |files| fixed-size bitsets, never values), serialized as
  * base64 into the commit-log `A`-line stats field (type tag 'b'), and
  * probed at PLANNING time by [[TxFileIndex]]: an equality or IN
  * predicate whose value provably misses a file's filter drops the
  * file from the scan without opening it.
  *
  * Value identity between build and probe is guaranteed by using the
  * SAME Catalyst expression on both sides: `xxhash64(col)` (seed 42)
  * executor-side during the build, `XxHash64(literal).eval()`
  * driver-side at probe — Spark's own hash semantics for every type,
  * so long/string/timestamp columns all work unchanged.
  *
  * Probing never decodes a whole filter: base64 is a 4-char → 3-byte
  * block code, so [[testBit]] decodes only the one block holding the
  * probed bit — O(k) work per (file, predicate), no allocation. At 1M
  * files (a 100 TB table) a point-lookup plan probes 6M base64 blocks:
  * milliseconds, against the hours the skipped scan would cost.
  *
  * Sizing: m = 32768 bits / k = 6 gives ~2% false positives at 4k
  * distinct values per file and ~5.5 KB of log per (file, column).
  * False positives only cost a wasted file scan — correctness never
  * depends on the filter. m/k ride in the stats line, so re-tuning
  * never invalidates already-logged filters.
  */
object Bloom {
  val M: Int = 1 << 15 // bits per filter
  val K: Int = 6       // probes per value
  private val Words = M / 64

  /** Kirsch–Mitzenmacher double hashing: k bit positions from one
    * 64-bit hash. h2 is forced odd so the probe stride never collapses.
    */
  def positions(h: Long, m: Int, k: Int): Array[Int] = {
    val h2 = (h >>> 32) | 1L
    Array.tabulate(k) { i =>
      val x = (h + i.toLong * h2) % m
      (if (x < 0) x + m else x).toInt
    }
  }

  private def setBit(words: Array[Long], p: Int): Unit =
    words(p >> 6) |= 1L << (p & 63)

  /** Set the k bits of hash `h` ([[positions]] without the array). */
  def setBits(words: Array[Long], h: Long, m: Int, k: Int): Unit = {
    val h2 = (h >>> 32) | 1L
    var i = 0
    while (i < k) {
      val x = (h + i.toLong * h2) % m
      setBit(words, (if (x < 0) x + m else x).toInt)
      i += 1
    }
  }

  /** Approximate distinct count of a value filter, from its bit count
    * (the swamping estimator n ≈ -(m/k)·ln(1 - X/m)): the `#ndv` count
    * stat comes free with the bitset. A saturated filter reads as
    * 2^40, unknown-large yet far from Long overflow in a million-file
    * sum (the catalog clamps it to the row count).
    */
  def ndvOf(bits: Array[Byte]): Long = {
    var x = 0L
    var i = 0
    while (i < bits.length) {
      x += java.lang.Integer.bitCount(bits(i) & 0xff); i += 1
    }
    val m = M.toDouble
    if (x >= M) 1L << 40
    else math.round(-(m / K) * math.log1p(-x / m))
  }

  /** Buffer words → bytes, bit i at byte i>>3 mask 1<<(i&7) — the
    * layout [[testBit]] reads back through the base64 framing.
    */
  def toBytes(words: Array[Long], m: Int): Array[Byte] = {
    val out = new Array[Byte](m / 8)
    var j = 0
    while (j < out.length) {
      out(j) = ((words(j >> 3) >>> ((j & 7) * 8)) & 0xff).toByte
      j += 1
    }
    out
  }

  def encode(bits: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bits)

  // standard-alphabet reverse lookup for the in-place block decode
  private val B64Rev: Array[Int] = {
    val a = Array.fill(128)(-1)
    val alpha =
      "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    alpha.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Read bit `p` of a base64-encoded bitset WITHOUT decoding it:
    * byte p>>3 lives in 4-char block (p>>3)/3. Any malformed framing
    * returns true — a broken filter must read as "cannot skip".
    */
  def testBit(b64: String, p: Int): Boolean = {
    val byteIdx = p >> 3
    val block = byteIdx / 3
    val off = byteIdx % 3
    val ci = block * 4
    if (ci + 3 >= b64.length) return true
    var v = 0
    var i = 0
    while (i < 4) {
      val c = b64.charAt(ci + i)
      val d = if (c < 128) B64Rev(c.toInt) else -1
      if (d < 0 && c != '=') return true
      v = (v << 6) | (if (d < 0) 0 else d)
      i += 1
    }
    val b = off match {
      case 0 => (v >>> 16) & 0xff
      case 1 => (v >>> 8) & 0xff
      case _ => v & 0xff
    }
    (b & (1 << (p & 7))) != 0
  }

  /** Probe a logged filter ('b' stats entry: min = base64 bits,
    * max = "m,k") with a value hash. True = value may be present.
    * Unparseable params keep the file.
    */
  def mayContain(b64: String, params: String, h: Long): Boolean = {
    val mk = params.split(",", 2)
    if (mk.length != 2) return true
    val (m, k) =
      try (mk(0).toInt, mk(1).toInt)
      catch { case _: NumberFormatException => return true }
    if (m <= 0 || k <= 0) return true
    positions(h, m, k).forall(p => testBit(b64, p))
  }

  /** Bits for TOKEN filters (one entry per distinct token per file —
    * far denser than a value filter, so 4× the bits; ~22 KB of log per
    * (file, column) at base64).
    */
  val TokM: Int = 1 << 17

  /** ngram length for the `ngrambf_v1`-analog substring index (CH
    * users pick theirs in the DDL; 4 balances selectivity against
    * the shortest LIKE literals that can probe at all).
    */
  val NgramN: Int = 4

  /** Bitset-OR aggregator over pre-hashed values; partial-aggregates
    * map-side so the exchange carries one fixed-size word array per
    * (file, column) group. `m` must be a multiple of 64.
    */
  class BloomAgg(m: Int = M, k: Int = K)
      extends Aggregator[Long, Array[Long], Array[Byte]] {
    override def zero: Array[Long] = new Array[Long](m / 64)
    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      setBits(b, h, m, k)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Byte] = toBytes(b, m)
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Driver-side filter construction from pre-hashed values — test
    * fixtures and metadata-only writers. Same layout as [[BloomAgg]].
    */
  def ofHashes(hs: Iterable[Long], m: Int = M, k: Int = K): String = {
    val words = new Array[Long](m / 64)
    hs.foreach(h => positions(h, m, k).foreach(p => setBit(words, p)))
    encode(toBytes(words, m))
  }

  /** `bloom(xxhash64(col))` as an untyped aggregate column. */
  def agg(c: Column, m: Int = M, k: Int = K): Column =
    udaf(new BloomAgg(m, k)).apply(xxhash64(c))

}
