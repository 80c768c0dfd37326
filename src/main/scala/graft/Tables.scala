package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * At 100 TB these would be partitioned table roots; `spark.read.parquet`
  * on a directory tree picks up partition columns automatically, so every
  * query below works unchanged when `dir` points at a partitioned lake.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Canonical logical types per table — what every query in the repo
    * was written (and oracle-validated) against. Loaders cast any
    * drifted column back to these (a same-type cast is a no-op Catalyst
    * removes), so a physical-encoding change in regenerated testdata
    * surfaces as, at worst, a value-level canary failure — never a
    * DATATYPE_MISMATCH crash 30 queries deep (the round-5 failure
    * mode). SchemaCanarySpec asserts the loaded schemas match these.
    */
  val canonicalSchemas: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      // events.ts is handled by [[normalizeEventTs]] (multi-encoding)
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
  }

  private def loadCanonical(s: SparkSession, d: String,
      name: String): DataFrame =
    normalize(load(s, d, name), canonicalSchemas(name): _*)

  def region(s: SparkSession, d: String): DataFrame     = loadCanonical(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = loadCanonical(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = loadCanonical(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = loadCanonical(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = loadCanonical(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = loadCanonical(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = loadCanonical(s, d, "lineitem")
  /** The driver regenerates the parquet corpus between rounds and the
    * PHYSICAL type of `events.ts` has already changed once
    * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS, ntz)). Loaders must probe the
    * footer schema and adapt, never assume — the reference treats every
    * external feed the same way (k8s state is re-listed, watcher.go:52-120;
    * range feeds are parsed defensively, public_ranges.go:311-361).
    * Canonical in-engine type: micro-precision TimestampType, UTC session.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // legacy corpus: TIMESTAMP(NANOS) surfaced as a raw nanos long via
      // spark.sql.legacy.parquet.nanosAsLong; integer division keeps
      // precision above 2^53 ns
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // current corpus: TIMESTAMP(MICROS, isAdjustedToUTC=false) → NTZ;
      // the UTC session timezone makes this cast value-preserving and
      // byte-identical to what DuckDB reads
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless when ts is already a timestamp; required for nanos corpora
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(normalizeEventTs(load(s, d, "events")),
      canonicalSchemas("events"): _*)
  }
  /** Cast any column whose loaded dtype drifted from the canonical one
    * (same probe-don't-assume contract as [[normalizeEventTs]]; a cast
    * to the already-correct type is simplified away by Catalyst, so the
    * steady-state plan is unchanged).
    */
  private def normalize(df: DataFrame,
      want: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    df.select(df.columns.map { c =>
      want.collectFirst {
        case (n, t) if n == c && df.schema(c).dataType != t =>
          col(c).cast(t).as(c)
      }.getOrElse(col(c))
    }: _*)

  def documents(s: SparkSession, d: String): DataFrame =
    loadCanonical(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    loadCanonical(s, d, "embeddings")

  /** Register every table as a temp view for the SQL surface, routing
    * through the schema-normalizing loaders (`events` additionally
    * adapts its timestamp encoding).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df =
        if (n == "events") events(spark, dir) else loadCanonical(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
