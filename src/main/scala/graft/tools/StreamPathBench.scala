package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.TxTable

/** The measurement behind the v1-vs-DSv2 streaming default: both
  * delivery paths run the SAME planner ([[graft.sink.GraftStreamSource]]
  * planBatch), so any wall-clock difference is purely the delivery
  * contract — v1's `getBatch` DataFrame planned through Spark's native
  * vectorized parquet scan vs the v2 `PartitionReader`'s
  * row-materializing public parquet-mr reader (the only public way to
  * produce rows under the v2 contract; Spark's own FileStreamSource
  * and Delta's DeltaSource stay v1 for exactly this reason).
  *
  * Scenario: an N× events tx table (destructive history → the fresh
  * stream backfills as one MONOLITHIC INITIAL SNAPSHOT — the 100 TB
  * movement), drained under Trigger.AvailableNow, with a full-width
  * arm (every column decoded via a checksum aggregate) and a pruned
  * arm (2 of 6 columns — v2 negotiates this through
  * SupportsPushDownRequiredColumns; v1 gets the same pruning from
  * Catalyst optimizing each micro-batch plan end-to-end).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=16 \
  *     sbt "runMain graft.tools.StreamPathBench" [factor]
  *
  * Emits one JSON line per (format, arm) and the array to
  * STREAMV2_RESULTS.json.
  */
object StreamPathBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Graft.session(s"local[$cpus]",
      "graft-stream-path-bench", cpus.toInt, Map("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")

    val scratch = java.nio.file.Files
      .createTempDirectory("graft_pathbench").toString
    val table = s"$scratch/t"

    // N× events as the corpus (same shifted-copy construction as
    // ScaleBench), landed in 4 append commits + 1 delete so the fresh
    // stream's history is destructive → monolithic initial snapshot
    val base = graft.Tables.events(spark, sfDir)
    val ev = (0 until factor).map(i => base
        .withColumn("event_id", col("event_id") + lit(i.toLong * 500000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECONDS")))
      .reduce(_ unionByName _)
      .withColumn("date", to_date(col("ts")))
    (0 until 4).foreach(i =>
      TxTable.append(spark, ev.filter(col("user_id") % 4 === i), table))
    val delKey = base.agg(min("event_id")).collect().head.getLong(0)
    require(TxTable.delete(spark, table, col("event_id") === delKey) >= 0)
    val totalRows = TxTable.read(spark, table).count()
    System.err.println(s"[pathbench] corpus: $totalRows rows, " +
      s"${TxTable.liveFiles(spark, table).size} files, factor $factor")

    def drain(format: String, arm: String,
        proj: DataFrame => DataFrame): (Long, Double) = {
      val ckpt = s"$scratch/ckpt_${format}_$arm"
      val rows = new java.util.concurrent.atomic.AtomicLong
      val t0 = System.nanoTime()
      val q = proj(spark.readStream.format(format).load(table))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          // checksum over every projected column forces full decode —
          // a bare count() would let both paths skip column reads
          val r = df.select(count(lit(1)).as("n"),
            bit_xor(xxhash64(df.columns.map(col): _*)).as("h"))
            .collect().head
          rows.addAndGet(r.getLong(0))
          ()
        }.start()
      require(q.awaitTermination(600000), s"$format/$arm did not drain")
      val sec = (System.nanoTime() - t0) / 1e9
      (rows.get(), sec)
    }

    val arms = Seq(
      ("full", (df: DataFrame) => df),
      ("pruned2", (df: DataFrame) => df.select("user_id", "value")))

    // one untimed warmup drain absorbs JVM/codegen/page-cache cold
    // start (the first streaming query also pays engine init)
    drain("graft", "warmup", arms.head._2)

    // two samples per cell in MIRRORED order (v1,v2 then v2,v1), min
    // per cell — order-dependent warmth cannot systematically favor
    // either path
    val cells = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Double]
    var pass = 0
    Seq(Seq("graft", "graft-v2"), Seq("graft-v2", "graft")).foreach { fmts =>
      pass += 1
      for ((arm, proj) <- arms; format <- fmts) {
        val (rows, sec) = drain(format, s"${arm}_p$pass", proj)
        require(rows == totalRows, s"$format/$arm delivered $rows of " +
          s"$totalRows rows")
        val k = (format, arm)
        cells(k) = math.min(cells.getOrElse(k, Double.MaxValue), sec)
      }
    }
    val out = arms.flatMap { case (arm, _) =>
      Seq("graft", "graft-v2").map { format =>
        val sec = cells((format, arm))
        val line = f"""{"bench":"stream_path","format":"$format","arm":"$arm","rows":$totalRows,"sec":$sec%.3f,"rows_per_sec":${totalRows / sec}%.0f}"""
        println(line)
        line
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("STREAMV2_RESULTS.json"),
      out.mkString("[\n", ",\n", "\n]").getBytes)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(scratch))
    spark.stop()
  }
}
