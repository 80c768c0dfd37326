package graft.tools

import org.apache.spark.sql.functions._

import graft.sink.TxTable

/** One competitor in the cross-JVM commit race (CrossJvmRaceSpec): a
  * SEPARATE JVM with its own SparkSession — the actual multi-writer
  * deployment the optimistic log protocol targets (two Spark drivers
  * sharing one object-store table; same-JVM races can never catch a
  * LogStore whose atomicity only holds inside one process).
  *
  * Protocol: announce readiness with a marker file, wait until every
  * competitor is ready (so Spark startup skew doesn't serialize the
  * race), then alternate blind APPENDs (even rounds: 10 rows keyed
  * `w<id>_b<i>_<j>`) with MERGEs (odd rounds: re-state the previous
  * round's rows at v+1000) — the read-modify-write shape whose remove
  * validation must retry cleanly past interleaved commits. Every
  * committed version is recorded to the output file for the spec's
  * serialization check. Any exception exits nonzero.
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(table, outFile, nWritersS, writerIdS, nCommitsS) = args
    val (nWriters, writerId, nCommits) =
      (nWritersS.toInt, writerIdS.toInt, nCommitsS.toInt)
    // GRAFT_LOGSTORE=objectstore:<latencyMs>:<faultEvery>:<ambigEvery>
    // races the commit protocol under object-store semantics
    // (ObjectStoreRaceSpec) instead of the default local LogStore
    sys.env.get("GRAFT_LOGSTORE")
      .flatMap(graft.sink.ObjectStoreLogStore.parse)
      .foreach(TxTable.registerLogStore("file", _))
    val spark = graft.Graft.session("local[4]", "graft-race-writer", 4,
      Map("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val barrier = new java.io.File(new java.io.File(table).getParentFile,
      "barrier")
    barrier.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(barrier, s"ready_$writerId").toPath,
      Array.empty[Byte])
    val deadline = System.currentTimeMillis() + 300000
    while ((0 until nWriters).exists(i =>
        !new java.io.File(barrier, s"ready_$i").isFile)) {
      require(System.currentTimeMillis() < deadline, "barrier timeout")
      Thread.sleep(50)
    }

    def batch(i: Int, bump: Long) =
      (0 until 10).map(j =>
        (java.sql.Date.valueOf("2024-05-01"), s"w${writerId}_b${i}_$j",
          (i * 10 + j).toLong + bump))
        .toDF("date", "k", "v")

    val out = new StringBuilder
    (0 until nCommits).foreach { i =>
      val v =
        if (i % 2 == 0) TxTable.append(spark, batch(i, 0L), table)
        else TxTable.merge(spark, batch(i - 1, 1000L), table,
          Seq("date", "k"))
      require(v >= 0, s"writer $writerId round $i did not commit")
      out.append(s"$writerId $i $v\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
