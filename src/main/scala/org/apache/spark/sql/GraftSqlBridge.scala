package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the Column <-> Expression conversions that Spark 4 moved
  * behind `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils)
  * during the Spark Connect Column refactor. This is the one place the
  * library reaches into Spark's package-private API; everything else
  * uses public surfaces.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an already-analyzed logical plan (e.g. the
    * MERGE source that [[graft.catalog.GraftDmlRewrite]] hands to the
    * tx-table primitives).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-root a BATCH file-scan frame as a STREAMING one — the v1
    * streaming `Source.getBatch` contract (what FileStreamSource does
    * with `LogicalRelation(..., isStreaming = true)`): the engine
    * asserts every leaf of a batch plan is streaming-flagged.
    */
  def toStreamingFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case l: execution.datasources.LogicalRelation if !l.isStreaming =>
        l.copy(isStreaming = true)
    }
    classic.Dataset.ofRows(spark, plan)
  }

  /** The BATCH incarnation of a micro-batch frame inside a v1
    * `Sink.addBatch` — the engine hands a streaming-flagged Dataset,
    * and `DataFrameWriter` refuses those; re-rooting the planned RDD
    * as a batch frame (the standard custom-sink move) executes the
    * micro-batch exactly once, on write.
    */
  def toBatchFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Wrap a COMPUTED batch frame as a streaming micro-batch: the batch
    * plan is optimized and compiled as-is (joins, exceptAll, aggs stay
    * BATCH operators) and only its output RDD is re-rooted with the
    * streaming flag. [[toStreamingFrame]]'s leaf-flagging route is
    * wrong for such plans — a non-map operator above streaming leaves
    * would be planned as a STATEFUL streaming operator (state stores,
    * watermarks) instead of a per-batch computation. The RDD is lazy
    * and deterministic over immutable inputs, so micro-batch retries
    * recompute identical rows.
    */
  def toStreamingFrameExec(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** A zero-row streaming-flagged frame with the given schema (the
    * empty micro-batch a source returns when a polled offset range
    * added no data files).
    */
  def emptyStreamingFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }
}

/** `ExpectsInputTypes.inputTypes` returns `Seq[AbstractDataType]`, and
  * `AbstractDataType` is `private[sql]` — so a custom expression outside
  * Spark's namespace cannot declare its input types directly. This trait
  * declares them from inside the namespace; extending it gives graft
  * expressions analysis-time type checking + implicit input casts
  * instead of runtime ClassCastExceptions.
  */
trait ExpectsLongInput
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType)
}

/** String twin of [[ExpectsLongInput]]. */
trait ExpectsStringInput
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
}
