package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a session wired for this engine (UTC, AQE,
  * size-adaptive shuffle coalescing, zstd, the in-process local
  * filesystem, [[functions.GraftExtensions]]) with the custom scalar
  * functions registered for both the Column API and SQL.
  *
  * {{{
  * val spark = Graft.session()
  * Graft.registerTables(spark, "/data/lake")
  * spark.sql("SELECT format_readable_size(sum(bytes)) FROM network_flows")
  * }}}
  *
  * This is the only session builder in the project: the bench, the
  * oracle dump, the tools and the tests all call it, so every rule
  * reaches every plan through the extensions and the tests check the
  * configuration the benchmarks time. A caller passes only what differs
  * for its deployment (master, shuffle partitions, and `conf` such as
  * an advisory partition size or an executor classpath).
  */
object Graft {
  def session(
      master: String = "local[*]",
      appName: String = "graft",
      shufflePartitions: Int = 32,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.hadoop.fs.file.impl",
        "graft.ops.FastLocalFileSystem") // no per-file chmod fork
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.ops.FastLocalFs") // FileContext twin (checkpoints/WAL)
      .master(master)
      .appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // size-adaptive shuffle coalescing: let the advisory target
      // govern partition counts instead of pinning ~defaultParallelism
      // tasks on small shuffles (Spark's own cluster recommendation);
      // tiny maintenance commits stop paying per-task plan
      // deserialization × cores. 64m suits cluster deployments; the
      // local bench/verify entry points pass a lower advisory size.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // scan task input ~256 MiB: large enough to amortize task setup at
      // 100 TB (≈400k tasks), small enough to fit executor memory with
      // zstd-decompressed batches; AQE handles shuffle-side sizing/skew
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.parquet.compression.codec", "zstd")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    functions.ipfns.register(spark)
    sql.Compat.registerClickHouseFunctions(spark)
    dims.Dictionaries.registerSql(spark)
    spark
  }

  /** Register every testdata table plus the library's SQL functions
    * (engine-native names AND the ClickHouse dialect pack, so a
    * reference user's dashboards parse unchanged).
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    functions.ipfns.register(spark)
    sql.Compat.registerClickHouseFunctions(spark)
    dims.Dictionaries.registerSql(spark)
    Tables.registerAll(spark, dir)
  }
}
