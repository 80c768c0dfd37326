package netbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import graft.flow.{FlowConfig, SyntheticFlows}
import graft.sink.TxTable

/** Everything one benchmark run shares: the session, the seeded inputs'
  * directory, the tracer, and the raw measurements the run reports. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Trace, val work: String) {
  val cfg: FlowConfig = FlowConfig()
  val dimsDir = s"$work/dims"

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def samplesOf(name: String): Seq[Double] = synchronized {
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  }
  def check(c: Map[String, Any]): Unit = synchronized { checks += c }

  def count(attempts: Long, failures: Long, error: => String): Unit = synchronized {
    attempted += attempts
    failed += failures
    if (failures > 0) errors += error.take(2000)
  }

  /** One counted operation: an exception fails it and is recorded. */
  def operation[T](what: String)(body: => T): Option[T] =
    try { val v = body; count(1, 0, ""); Some(v) }
    catch {
      case e: Exception =>
        count(1, 1, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  /** The informer snapshots, re-resolved from their parquet files on
    * every call, as a streaming job re-resolves them per micro-batch. */
  def loadDims(): (DataFrame, DataFrame, DataFrame) = trace("dims.load") {
    val p = SyntheticFlows.pods(spark, dimsDir)
    val n = SyntheticFlows.nodes(spark, dimsDir)
    val x = SyntheticFlows.prefixes(spark, dimsDir)
    (p, n, x)
  }

  /** Per (date, connection_class, direction) sums of a tx table: what
    * the DuckDB recomputation is compared against. */
  def tableSums(table: String): Seq[Seq[Any]] =
    TxTable.read(spark, table)
      .groupBy(col("date").cast("string").as("date"), col("connection_class"),
        col("direction"))
      .agg(sum("bytes").as("bytes"), sum("packets").as("packets"),
        sum("n_obs").as("n_obs"))
      .orderBy("date", "connection_class", "direction")
      .collect().toSeq.map(r => Seq(r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))

  /** (live data bytes, live files) of a tx table, from its log. */
  def liveBytesAndFiles(table: String): (Long, Long) = {
    val r = TxTable.parts(spark, table)
      .agg(sum("bytes"), functions.count(lit(1))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads (ns). Unlike wall time it leaves
    * out the time the hypervisor gives other guests (steal). */
  def cpuNs(): Long = os.getProcessCpuTime

  def mkdirs(path: String): String = {
    Files.createDirectories(Paths.get(path)); path
  }
}
