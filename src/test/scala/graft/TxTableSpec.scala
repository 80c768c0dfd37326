package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.flow.{FlowPipeline, SyntheticFlows}
import graft.sink.{BloomStore, TxTable}

/** The object-store commit-log variant of the summing table (S6/W7 on
  * stores without atomic rename): immutable data files + one atomic log
  * publish per change; readers never observe a partial mutation.
  */
class TxTableSpec extends AnyFunSuite {
  import TestSpark._

  private def summed = FlowPipeline.run(
    SyntheticFlows.flows(spark, sf), SyntheticFlows.pods(spark, sf),
    SyntheticFlows.nodes(spark, sf), SyntheticFlows.prefixes(spark, sf))

  test("tx table: append/read/compact/TTL with reader isolation + vacuum") {
    val s = summed.cache()
    try {
      val n = s.count()
      val bytes = s.agg(sum("bytes")).collect().head.getLong(0)
      val path = java.nio.file.Files
        .createTempDirectory("graft_tx").toString + "/t"
      assert(TxTable.append(spark, s, path) == 0L)
      val back = TxTable.read(spark, path)
      assert(back.count() == n)
      assert(back.columns.toSet == s.columns.toSet,
        "date column re-attached from log metadata")
      assert(back.schema("date").dataType.typeName == "date")
      // append = one more commit, both file sets live
      assert(TxTable.append(spark, s, path) == 1L)
      assert(TxTable.read(spark, path).count() == 2 * n)
      // a crashed writer's staged-but-never-committed files are invisible
      s.limit(5).write.partitionBy("date").parquet(s"$path/d-orphan000")
      assert(TxTable.read(spark, path).count() == 2 * n,
        "unreferenced data files must not surface")
      // compaction: one commit swaps duplicates for the re-summed set
      TxTable.compact(spark, path)
      val compacted = TxTable.read(spark, path)
      assert(compacted.count() == n, "duplicate keys collapsed")
      assert(compacted.agg(sum("bytes")).collect().head.getLong(0) == 2 * bytes,
        "sums preserved (doubled input)")
      // time travel: historical versions replay from the truncated log
      // while their files are still vacuum-retained
      assert(TxTable.read(spark, path, asOfVersion = Some(0L)).count() == n)
      assert(TxTable.read(spark, path, asOfVersion = Some(1L)).count() == 2 * n,
        "version 1 still shows the pre-compaction duplicates")
      // superseded + orphaned files reclaimed only at vacuum — and only
      // PAST the retention window: the default (7 days, Delta's own)
      // refuses to touch just-written history, so time travel survives
      assert(TxTable.vacuum(spark, path).isEmpty,
        "default-retention vacuum must preserve recent versions")
      assert(TxTable.read(spark, path, asOfVersion = Some(1L)).count() == 2 * n,
        "time travel still works after a default vacuum")
      // the explicit zero-retention override reclaims immediately; the
      // live snapshot is untouched by it
      val removed = TxTable.vacuum(spark, path, 0L)
      assert(removed.nonEmpty)
      assert(removed.exists(_.startsWith("d-orphan000/")),
        "vacuum sweeps crashed-writer orphans too")
      assert(TxTable.read(spark, path).count() == n)
      // TTL: metadata-only commit; data bytes survive until vacuum
      val dates = compacted.select("date").distinct()
        .collect().map(_.get(0).toString).sorted.toSeq
      assert(dates.length >= 2, "test needs multiple date partitions")
      val before = TxTable.vacuum(spark, path, 0L) // clean slate
      assert(before.isEmpty)
      val dropped = TxTable.retention(spark, path,
        java.time.LocalDate.parse(dates.last))
      assert(dropped == dates.init)
      assert(TxTable.read(spark, path)
        .select("date").distinct().count() == 1)
      assert(TxTable.vacuum(spark, path, 0L).nonEmpty,
        "TTL'd files reclaimed by the next zero-retention vacuum")
      // date-pruned read plans its file list from the log alone — and
      // the resulting scan touches ONLY that date's files
      val pruned = TxTable.read(spark, path, Some(Seq(dates.last)))
      assert(pruned.count() == TxTable.read(spark, path).count())
      assert(pruned.inputFiles.nonEmpty &&
        pruned.inputFiles.forall(_.contains(s"date=${dates.last}")),
        "log-metadata pruning must keep foreign-date files out of the scan")
    } finally s.unpersist()
  }

  test("planner-integrated FileIndex: date predicates prune files inside " +
    "FileSourceScanExec; data predicates still reach the parquet reader") {
    import graft.sink.TxFileIndex
    val s = summed.cache()
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_txidx").toString + "/t"
      TxTable.append(spark, s, path)
      val df = TxFileIndex.readV2(spark, path)
      assert(df.count() == s.count(), "full-snapshot row parity")
      assert(df.schema("date").dataType.typeName == "date",
        "date surfaces as a real partition column")
      val dates = df.select("date").distinct()
        .collect().map(_.get(0).toString).sorted.toSeq
      assert(dates.length >= 2)
      val pick = dates.last
      val filtered = df.filter(col("date") === lit(pick))
      assert(filtered.count() ==
        TxTable.read(spark, path, Some(Seq(pick))).count())
      val scan = filtered.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.metadata("PartitionFilters").contains("date"),
        "the planner routed the date predicate to the index")
      filtered.collect()
      val expectedFiles = TxTable.liveFiles(spark, path)
        .count { case (_, (d, _)) => d == pick }
      assert(scan.metrics("numFiles").value == expectedFiles,
        "scan touched exactly the picked date's files (from log metadata)")
      // non-partition predicates keep their parquet pushdown
      val dataFiltered = df.filter(col("bytes") > 100)
      val scan2 = dataFiltered.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan2.metadata("PushedFilters").contains("GreaterThan(bytes"),
        "data predicates push into the row-group reader")
    } finally s.unpersist()
  }

  test("data skipping: per-file footer stats ride the commit log and " +
    "prove files out of the scan; statless files are never skipped") {
    import graft.sink.TxFileIndex
    val s = summed.cache()
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_txskip").toString + "/t"
      TxTable.append(spark, s, path)
      val metas = TxTable.liveStats(spark, path)
      assert(metas.nonEmpty &&
        metas.values.forall(_.stats.contains("interval_start")),
        "every staged file must log INT64 timestamp stats " +
          "(INT96 would silently disable time skipping)")
      // range clustering on the sort-key head makes a time predicate
      // skip files: scan EXACTLY the files whose [min,max] intersects
      val maxes = metas.values
        .map(_.stats("interval_start").max.toLong).toSeq.sorted
      val thrTs = new java.sql.Timestamp(maxes(maxes.size / 2) / 1000)
      val thrMicros = thrTs.getTime * 1000
      val df = TxFileIndex.readV2(spark, path)
      val filtered = df.filter(col("interval_start") > lit(thrTs))
      val n = filtered.collect().length.toLong // collect: metrics land on THIS plan
      val scan = filtered.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val expected = metas.values
        .count(_.stats("interval_start").max.toLong > thrMicros)
      assert(expected < metas.size, "threshold must actually split the files")
      assert(scan.metrics("numFiles").value == expected,
        "scan touched exactly the stats-surviving files")
      assert(n == TxTable.read(spark, path)
        .filter(col("interval_start") > lit(thrTs)).count(),
        "skipping must not change the answer")
      // a string equality no file can satisfy prunes the whole scan
      val none = df.filter(col("proto_name") === lit("zzz-no-such"))
      assert(none.collect().isEmpty)
      val scan2 = none.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan2.metrics("numFiles").value == 0,
        "provably-empty equality skips every file from log stats alone")
      // files added without stats (ops seam) are conservatively kept:
      // even one proven out by stats would make the scan MISS data
      val victim = metas.keys.head
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$path/$victim"), fs,
        new org.apache.hadoop.fs.Path(s"$path/$victim.copy"), false, conf)
      TxTable.commitActions(spark, path,
        Seq((victim + ".copy", metas(victim).date, metas(victim).bytes)),
        Seq.empty)
      val df2 = TxFileIndex.readV2(spark, path)
      val all2 = df2.filter(col("interval_start") > lit(thrTs))
      all2.collect()
      val scan3 = all2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan3.metrics("numFiles").value == expected + 1,
        "the statless copy must survive every stats proof")
    } finally s.unpersist()
  }

  test("z-order: layout-only rewrite preserves content and makes a " +
    "2-dim predicate skip files the time-led sort-key layout cannot") {
    import graft.sink.TxFileIndex
    // 32 (direction, proto) combos, uncorrelated with time: the default
    // layout range-clusters on interval_start (the sort-key head), so
    // every file spans every combo — the worst case z-order exists for
    val n = 20000L
    val facts = spark.range(n).select(
      to_date(lit("2024-03-01")).as("date"),
      timestamp_micros(lit(1709251200000000L) + col("id") * 1000000L)
        .as("interval_start"),
      concat(lit("d"), pmod(col("id"), lit(8)).cast("string"))
        .as("direction"),
      concat(lit("p"), pmod(col("id") * 7, lit(4)).cast("string"))
        .as("proto_name"),
      (col("id") * 3).as("bytes"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_txz").toString + "/t"
    // AQE would coalesce this deliberately-tiny corpus into one file,
    // leaving nothing to demonstrate skipping against — pin the write
    // fan-out the way a real-scale table would have it
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
    TxTable.append(spark, facts, path)
    def scanned(): (Long, Long, Long) = {
      val q = TxFileIndex.readV2(spark, path)
        .filter(col("direction") === "d3" && col("proto_name") === "p1")
      val rows = q.collect() // metrics land on THIS executed plan
      val files = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
      (files, rows.length.toLong, rows.map(_.getAs[Long]("bytes")).sum)
    }
    def checksum(): Seq[Any] = TxTable.read(spark, path)
      .agg(count(lit(1)), sum("bytes"),
        sum(hash(facts.columns.map(col): _*)).as("h"))
      .collect().head.toSeq
    val filesBefore = TxTable.liveFiles(spark, path).size
    val (scanBefore, nBefore, bytesBefore) = scanned()
    assert(scanBefore == filesBefore,
      "time-led layout: a dim predicate cannot skip anything")
    val sumBefore = checksum()
    assert(TxTable.zorder(spark, path, Seq("direction", "proto_name"),
      partitions = Some(16)) > 0)
    val (scanAfter, nAfter, bytesAfter) = scanned()
    assert((nAfter, bytesAfter) == ((nBefore, bytesBefore)),
      "clustering must not change the answer")
    assert(checksum() == sumBefore, "layout-only: same rows bit-for-bit")
    val filesAfter = TxTable.liveFiles(spark, path).size
    assert(scanAfter < scanBefore && scanAfter <= filesAfter / 4,
      s"z-order must tighten per-file (direction, proto) envelopes: " +
        s"scanned $scanAfter of $filesAfter files vs " +
        s"$scanBefore of $filesBefore before")
    // the rewrite is one atomic commit: time travel still sees the
    // pre-zorder row set
    assert(TxTable.read(spark, path, asOfVersion = Some(0L)).count() == n)
    } finally prevCoalesce match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None    => spark.conf.unset(coalesceKey)
    }
  }

  test("exactly-once appendTxn: a replayed (appId, version) never lands " +
    "twice — sequentially or as a concurrent duplicate writer") {
    val s = summed.cache()
    try {
      val n = s.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft_txonce").toString + "/t"
      assert(TxTable.appendTxn(spark, s, path, "app", 0L) == 0L)
      // micro-batch replay after checkpoint recovery = same version again
      assert(TxTable.appendTxn(spark, s, path, "app", 0L) == -1L)
      assert(TxTable.read(spark, path).count() == n, "no double-count")
      // the next batch version must land
      assert(TxTable.appendTxn(spark, s, path, "app", 1L) >= 1L)
      assert(TxTable.read(spark, path).count() == 2 * n)
      // zombie duplicate: two writers race the SAME version concurrently
      // — exactly one wins; the loser's staged files are vacuum fodder
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(Future.sequence(Seq(
        Future(TxTable.appendTxn(spark, s, path, "app", 2L)),
        Future(TxTable.appendTxn(spark, s, path, "app", 2L)))), 120.seconds)
      assert(results.count(_ >= 0) == 1 && results.count(_ == -1L) <= 1,
        s"exactly one concurrent duplicate may commit, got $results")
      assert(TxTable.read(spark, path).count() == 3 * n)
      // a DIFFERENT app is its own monotone sequence — version numbers
      // never collide across apps
      assert(TxTable.appendTxn(spark, s, path, "other-app", 0L) >= 0L)
      assert(TxTable.read(spark, path).count() == 4 * n)
      // skipped duplicates left only unreferenced files behind
      TxTable.vacuum(spark, path, 0L)
      assert(TxTable.read(spark, path).count() == 4 * n)
    } finally s.unpersist()
  }

  test("txn high-water mark: checkpoint size stays CONSTANT across 100 " +
    "writer batches (one (appId, version) entry, not one per batch)") {
    val small = summed.limit(5).cache()
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_txhw").toString + "/t"
      assert(TxTable.appendTxn(spark, small, path, "hw", 0L) == 0L)
      // 100 more batches from the same writer app — marks only, the
      // empty-batch shape, so the loop is metadata-speed
      (1 to 100).foreach(i =>
        assert(TxTable.commitTxnMark(spark, path, "hw", i.toLong) == i.toLong))
      val log = java.nio.file.Paths.get(path, "_txlog")
      def ckpt(v: Long) = log.resolve(f"$v%020d.ckpt")
      def tLines(v: Long) = java.nio.file.Files.readAllLines(ckpt(v))
        .asScala.count(_.startsWith("T\t"))
      assert(java.nio.file.Files.exists(ckpt(10L)) &&
        java.nio.file.Files.exists(ckpt(100L)),
        "auto checkpoints at v10 and v100")
      assert(tLines(10L) == 1 && tLines(100L) == 1,
        "exactly ONE txn line per writer app at any batch count")
      val growth = java.nio.file.Files.size(ckpt(100L)) -
        java.nio.file.Files.size(ckpt(10L))
      assert(growth.abs <= 4,
        s"90 more batches must not grow the checkpoint (grew $growth bytes)")
      // the mark still dedups: any replayed version <= 100 is rejected
      // before staging a byte
      assert(TxTable.appendTxn(spark, small, path, "hw", 50L) == -1L)
      assert(TxTable.commitTxnMark(spark, path, "hw", 100L) == -1L)
      assert(TxTable.read(spark, path).count() == small.count())
    } finally small.unpersist()
  }

  test("schema evolution: an added column reads as NULL from old files " +
    "through both read paths; non-additive appends are refused; " +
    "overwrite may replace the schema") {
    val s = summed.limit(30).cache()
    try {
      val n = s.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft_txschema").toString + "/t"
      TxTable.append(spark, s, path) // v0: base schema (M action logged)
      // v1: ADDITIVE evolution — one new column, everything else intact
      TxTable.append(spark, s.withColumn("quality", lit(7L)), path)
      val back = TxTable.read(spark, path)
      assert(back.columns.contains("quality"))
      assert(back.count() == 2 * n)
      assert(back.filter(col("quality").isNull).count() == n,
        "v0 files must read the new column as NULL")
      assert(back.filter(col("quality") === 7L).count() == n)
      // the planner-integrated path reads the SAME logged schema
      val v2 = graft.sink.TxFileIndex.readV2(spark, path)
      assert(v2.schema.fieldNames.contains("quality"))
      assert(v2.filter(col("quality") === 7L).count() == n)
      assert(v2.filter(col("quality").isNull).count() == n)
      // time travel to v0 reads with THAT era's schema
      assert(!TxTable.read(spark, path, asOfVersion = Some(0L))
        .columns.contains("quality"))
      // dropping or retyping an existing column would strand old files —
      // append refuses both
      intercept[IllegalArgumentException] {
        TxTable.append(spark, s.drop("bytes"), path)
      }
      intercept[IllegalArgumentException] {
        TxTable.append(spark,
          s.withColumn("bytes", col("bytes").cast("string")), path)
      }
      // overwrite replaces the whole file set, so any schema goes
      TxTable.overwrite(spark, s.drop("packets"), path)
      assert(!TxTable.read(spark, path).columns.contains("packets"))
      assert(TxTable.read(spark, path).count() == n)
    } finally s.unpersist()
  }

  test("torn checkpoints are skipped, not fatal: reads fall back to an " +
    "older checkpoint or full commit replay") {
    val small = summed.limit(20).cache()
    try {
      val n = small.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft_txtorn").toString + "/t"
      TxTable.append(spark, small, path) // v0: real files
      (1 to 11).foreach(i => TxTable.commitTxnMark(spark, path, "t", i.toLong))
      val log = java.nio.file.Paths.get(path, "_txlog")
      assert(java.nio.file.Files.exists(log.resolve(f"${10L}%020d.ckpt")))
      // a TORN checkpoint at a newer committed version (no C marker):
      // the legacy non-atomic publish could expose exactly this window
      java.nio.file.Files.write(log.resolve(f"${11L}%020d.ckpt"),
        "A\t2024-01-01\t123\td-x/date=2024-01-01/part-0.parquet\n".getBytes)
      assert(TxTable.read(spark, path).count() == n,
        "reads must fall back to the v10 checkpoint")
      // tear the v10 checkpoint too: full commit replay still serves
      java.nio.file.Files.write(log.resolve(f"${10L}%020d.ckpt"),
        "A\t2024-01-01\t123\td-x/date=2024-01-01/part-0.parquet\n".getBytes)
      assert(TxTable.read(spark, path).count() == n,
        "with every checkpoint torn, full replay still serves reads")
    } finally small.unpersist()
  }

  test("log checkpointing: reads replay one checkpoint + the tail, " +
    "expired commits are unneeded, and txn dedup survives expiry") {
    val small = summed.limit(40).cache()
    try {
      val n = small.count()
      val path = java.nio.file.Files
        .createTempDirectory("graft_txckpt").toString + "/t"
      (0 until 9).foreach(_ => TxTable.append(spark, small, path)) // v0..v8
      assert(TxTable.appendTxn(spark, small, path, "ck", 1L) == 9L)
      TxTable.append(spark, small, path) // v10 -> auto checkpoint
      TxTable.append(spark, small, path) // v11
      val log = java.nio.file.Paths.get(path, "_txlog")
      assert(java.nio.file.Files.list(log).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".ckpt")),
        "the 10th commit must have materialized a checkpoint")
      assert(TxTable.read(spark, path).count() == 12 * n)
      // metadata retention: drop everything below the checkpoint...
      val dropped = TxTable.expireLog(spark, path)
      assert(dropped == (0L to 9L),
        s"commits below the checkpoint expire, got $dropped")
      assert(!java.nio.file.Files.exists(log.resolve(f"${0L}%020d.txn")))
      // ...and the table still reads in full: the checkpoint carries the
      // state the expired commits used to provide
      assert(TxTable.read(spark, path).count() == 12 * n)
      // the exactly-once guarantee must not expire with the log
      assert(TxTable.appendTxn(spark, small, path, "ck", 1L) == -1L)
      // time travel: any version >= the checkpoint still replays...
      assert(TxTable.read(spark, path, asOfVersion = Some(10L)).count() == 11 * n)
      // ...but expired pre-checkpoint versions are gone, loudly
      intercept[IllegalArgumentException] {
        TxTable.read(spark, path, asOfVersion = Some(5L))
      }
      // an explicit checkpoint at a NEVER-committed version would hide
      // every commit between the real head and the phantom — refused
      intercept[IllegalArgumentException] {
        TxTable.checkpoint(spark, path, Some(999L))
      }
    } finally small.unpersist()
  }

  test("LogStore seam: a registered store owns every atomic claim, and a " +
    "lost conditional PUT (object-store If-None-Match) retries at the " +
    "next version") {
    val s = summed.limit(10).cache()
    try {
      val puts = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var interposed = false
      val store = new graft.sink.LogStore {
        override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
            f: org.apache.hadoop.fs.Path, payload: Array[Byte]): Boolean = {
          puts.incrementAndGet()
          if (!interposed && f.getName.endsWith(".txn")) {
            interposed = true
            // a concurrent writer wins this version: its (valid, empty)
            // commit lands first, so OUR conditional PUT comes back
            // "precondition failed" — the two-outcome contract's false
            graft.sink.HadoopLogStore.putIfAbsent(fs, f, "C\t0\n".getBytes)
            false
          } else graft.sink.HadoopLogStore.putIfAbsent(fs, f, payload)
        }
      }
      TxTable.registerLogStore("file", store)
      try {
        val path = java.nio.file.Files
          .createTempDirectory("graft_txstore").toString + "/t"
        assert(TxTable.append(spark, s, path) == 1L,
          "v0 lost to the interposed writer; the commit must land at v1")
        assert(puts.get() >= 2, "every claim must route through the store")
        assert(TxTable.read(spark, path).count() == s.count())
      } finally TxTable.unregisterLogStore("file")
    } finally s.unpersist()
  }

  test("object-store posture: lost requests (503 before landing) and " +
    "AMBIGUOUS conditional-PUT successes (object landed, response " +
    "lost) neither lose nor double-commit — read-back-and-compare " +
    "resolves every ambiguity to the correct two-outcome verdict") {
    import spark.implicits._
    // every 3rd call dies before landing; every 4th successful PUT
    // throws after landing — a deterministic gauntlet where a writer
    // that treats ambiguity as a lost race would re-commit its batch
    // at the next version (doubling rows), and one that treats it as
    // failure would abort a commit that actually landed
    val store = new graft.sink.ObjectStoreLogStore(
      latencyMs = 0, faultEvery = 3, ambiguousEvery = 4)
    TxTable.registerLogStore("file", store)
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_objstore").toString + "/t"
      val vs = (0 until 6).map { i =>
        val df = Seq((java.sql.Date.valueOf("2024-05-01"), s"k$i",
          i.toLong)).toDF("date", "k", "v")
        TxTable.append(spark, df, path)
      }
      assert(vs == (0L until 6L),
        s"single-writer versions must be dense and serial, got $vs")
      val ks = TxTable.read(spark, path).select("k")
        .as[String].collect().sorted.toSeq
      assert(ks == (0 until 6).map(i => s"k$i"),
        s"rows lost or doubled under injected faults: $ks")
      // the merge path (read-modify-write) survives the same gauntlet
      val up = Seq((java.sql.Date.valueOf("2024-05-01"), "k0", 100L))
        .toDF("date", "k", "v")
      assert(TxTable.merge(spark, up, path, Seq("date", "k")) == 6L)
      val v0 = TxTable.read(spark, path).filter(col("k") === "k0")
        .select("v").as[Long].collect().toSeq
      assert(v0 == Seq(100L), s"merge lost under faults: $v0")
      assert(store.puts.get() > 7,
        "the fault schedule must have forced retries through the store")
    } finally TxTable.unregisterLogStore("file")
  }

  test("change feed: appends are inserts, an update is a delete+insert " +
    "pair, layout-only rewrites emit NOTHING, carried-over rows cancel " +
    "out, and reclaimed pre-images / swept ranges fail actionably") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdf").toString
    val t = s"$dir/t"
    def rows(kv: (String, Long)*) = kv.toSeq.map { case (k, v) =>
      (java.sql.Date.valueOf("2024-05-01"), k, v) }.toDF("date", "k", "v")
    TxTable.append(spark, rows("a" -> 1L, "b" -> 2L), t)           // v0
    TxTable.append(spark, rows("c" -> 3L), t)                      // v1
    // v2: update ONE row; "b" rides along in the rewritten file and
    // must cancel out of the diff
    assert(TxTable.merge(spark, rows("a" -> 10L), t,
      Seq("date", "k")) == 2L)
    TxTable.optimize(spark, t, slack = 0)                          // v3
    assert(TxTable.currentVersion(spark, t) == 3L,
      "optimize must coalesce the two small files into one commit")
    val cf = TxTable.changeFeed(spark, t, -1L, 3L)
      .select("_commit_version", "_change_type", "k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSet
    assert(cf == Set(
      (0L, "insert", "a", 1L), (0L, "insert", "b", 2L),
      (1L, "insert", "c", 3L),
      (2L, "delete", "a", 1L), (2L, "insert", "a", 10L)),
      s"unexpected feed: $cf")
    // a sub-range reads the same way
    assert(TxTable.changeFeed(spark, t, 1L, 2L).count() == 2L)
    // vacuum reclaims v2's pre-image file -> the feed over v2 must
    // fail loudly, naming vacuum
    TxTable.vacuum(spark, t, minAgeMs = 0L)
    val e1 = intercept[IllegalArgumentException] {
      TxTable.changeFeed(spark, t, -1L, 3L).count()
    }
    assert(e1.getMessage.contains("vacuum"), e1.getMessage)
    // expireLog sweeps part of the range -> loud failure naming the gap
    (4 until 14).foreach(i => TxTable.append(spark, rows(s"x$i" -> i.toLong), t))
    assert(TxTable.expireLog(spark, t).nonEmpty)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.changeFeed(spark, t, -1L, 13L).count()
    }
    assert(e2.getMessage.contains("expireLog"), e2.getMessage)
    // an intact recent range still reads
    assert(TxTable.changeFeed(spark, t, 10L, 13L).count() == 3L)
  }

  test("MERGE upsert is copy-on-write surgery: only files containing " +
    "matched keys are rewritten, updates replace, inserts land, and an " +
    "insert-only merge removes nothing") {
    val s = summed.cache()
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_txmerge").toString + "/t"
      assert(TxTable.append(spark, s, path) == 0L)
      val before = TxTable.liveFiles(spark, path)
      assert(before.size >= 2, "test needs a multi-file table")
      val keys = s.columns.toSeq.filterNot(Set("bytes", "packets", "n_obs"))
      // correction feed: ONE date's rows re-stated with doubled bytes
      val dates = before.values.map(_._1).toSet.toSeq.sorted
      assert(dates.size >= 2, "test needs multiple date partitions")
      val target = dates.last
      val upd = s.filter(col("date") === lit(target))
        .withColumn("bytes", col("bytes") * 2)
      val updRows = upd.count()
      assert(updRows > 0)
      assert(TxTable.merge(spark, upd, path, keys) == 1L)
      val after = TxTable.liveFiles(spark, path)
      // files of every OTHER date were never candidates (date-set
      // pruning from log metadata) and must survive verbatim
      val untouched = before.filter { case (_, (d, _)) => d != target }
      assert(untouched.nonEmpty)
      untouched.keys.foreach { rel =>
        assert(after.contains(rel), s"untouched file $rel must stay live")
      }
      // the target date's files were all rewritten
      before.filter { case (_, (d, _)) => d == target }.keys.foreach { rel =>
        assert(!after.contains(rel), s"matched file $rel must be replaced")
      }
      // values replaced, not duplicated: row count unchanged, bytes
      // doubled exactly on the merged date
      val back = TxTable.read(spark, path)
      assert(back.count() == s.count(), "upsert must not change row count")
      val origBytes = s.filter(col("date") === lit(target))
        .agg(sum("bytes")).collect().head.getLong(0)
      assert(back.filter(col("date") === lit(target))
        .agg(sum("bytes")).collect().head.getLong(0) == 2 * origBytes)
      // insert-only merge: keys shifted beyond the corpus never match —
      // zero files removed, rows appended
      val ins = upd.withColumn("date", date_add(col("date"), 365))
        .withColumn("interval_start",
          col("interval_start") + org.apache.spark.sql.functions
            .expr("INTERVAL 365 DAYS"))
      assert(TxTable.merge(spark, ins, path, keys) == 2L)
      val after2 = TxTable.liveFiles(spark, path)
      after.keys.foreach { rel =>
        assert(after2.contains(rel),
          s"insert-only merge must not rewrite $rel")
      }
      assert(TxTable.read(spark, path).count() == s.count() + updRows)
    } finally s.unpersist()
  }

  test("optimistic concurrency: lost races retry; conflicting removes " +
    "abort; truncated commits are detected") {
    val s = summed
    val path = java.nio.file.Files
      .createTempDirectory("graft_txcc").toString + "/t"
    assert(TxTable.append(spark, s, path) == 0L)
    // a concurrent writer claims version 1 (a valid no-op commit)
    val log = java.nio.file.Paths.get(path, "_txlog")
    java.nio.file.Files.write(log.resolve(f"${1L}%020d.txn"),
      "C\t0\n".getBytes)
    // the blind append loses the v1 race and lands on v2
    assert(TxTable.append(spark, s, path) == 2L)
    // read-modify-write conflict: removing an already-removed file must
    // abort, not double-remove
    val victim = TxTable.liveFiles(spark, path).keys.head
    TxTable.commitActions(spark, path, Seq.empty, Seq(victim))
    assert(!TxTable.liveFiles(spark, path).contains(victim))
    intercept[IllegalArgumentException] {
      TxTable.commitActions(spark, path, Seq.empty, Seq(victim))
    }
    // a torn half-written commit (no terminal marker) fails loudly
    // instead of silently replaying a partial file set
    val v = TxTable.currentVersion(spark, path) + 1
    java.nio.file.Files.write(log.resolve(f"$v%020d.txn"),
      "A\t2024-01-01\t123\td-x/date=2024-01-01/part-0.parquet\n".getBytes)
    intercept[IllegalArgumentException] { TxTable.read(spark, path) }
  }

  test("graft data source: format/SQL round trip, SaveMode semantics, " +
    "versionAsOf time travel, and the date-column contract") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txds").toString + "/t"
    def rows(lo: Int, hi: Int) = (lo until hi)
      .map(i => (d("2024-03-01"), i.toLong)).toDF("date", "v")
    rows(0, 10).write.format("graft").save(path) // ErrorIfExists on fresh
    rows(10, 30).write.format("graft").mode("append").save(path)
    assert(spark.read.format("graft").load(path).count() == 30)
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(path).count() == 10, "time travel through the option")
    intercept[IllegalStateException] {
      rows(0, 1).write.format("graft").save(path) // default ErrorIfExists
    }
    rows(0, 1).write.format("graft").mode("ignore").save(path)
    assert(spark.read.format("graft").load(path).count() == 30,
      "Ignore on an existing table writes nothing")
    rows(0, 5).write.format("graft").mode("overwrite").save(path)
    assert(spark.read.format("graft").load(path).count() == 5)
    intercept[IllegalArgumentException] {
      Seq((1L, 2L)).toDF("a", "b").write.format("graft")
        .mode("append").save(path)
    }
    // SQL DDL sees the same relation; planner pruning still applies
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_ds_spec
      USING graft OPTIONS (path '$path')""")
    assert(spark.sql(
      "SELECT CAST(SUM(v) AS BIGINT) FROM graft_ds_spec")
      .collect().head.getLong(0) == 10L)
  }

  test("merge bloom pruning: a targeted correction's candidate set " +
    "shrinks to the files whose key filter may contain a source value") {
    import graft.sink.Bloom
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txmgb").toString + "/t"
    Seq(Seq("pod-a", "pod-b"), Seq("pod-c", "pod-d"), Seq("pod-e", "pod-f"))
      .zipWithIndex.foreach { case (pods, i) =>
        TxTable.append(spark, pods.zipWithIndex.map { case (p, j) =>
          (d("2024-03-01"), p, (i * 10 + j).toLong)
        }.toDF("date", "local_pod", "bytes"), path)
      }
    val metas = TxTable.liveStatsResolved(spark, path)
    def hashOf(v: String): Long =
      new XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString(v), org.apache.spark.sql.types.StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
    val expected = metas.values.count { m =>
      val st = m.stats("local_pod")
      Bloom.mayContain(st.min, st.max, hashOf("pod-c"))
    }
    assert(expected < metas.size, "layout must make pruning possible")
    val src = Seq((d("2024-03-01"), "pod-c", 999L))
      .toDF("date", "local_pod", "bytes")
    TxTable.merge(spark, src, path, Seq("date", "local_pod"))
    assert(TxTable.lastMergeCandidates == expected,
      "merge consulted the bloom filters, not just date/minmax")
    val got = TxTable.read(spark, path)
      .select("local_pod", "bytes").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("pod-a", 0L), ("pod-b", 1L), ("pod-c", 999L),
      ("pod-d", 11L), ("pod-e", 20L), ("pod-f", 21L)))
    // the pure candidate test, with constructed fixtures
    import TxTable.{ColStats, FileMeta}
    val bloom = ColStats('b', Bloom.ofHashes(Seq(1L, 2L)),
      s"${Bloom.M},${Bloom.K}")
    val meta = FileMeta("2024-03-01", 10L, Map("local_pod" -> bloom))
    assert(TxTable.mayMatchMeta(meta, None, Map.empty,
      Map("local_pod" -> Seq(2L, 99L))), "any matching hash keeps")
    assert(!TxTable.mayMatchMeta(meta, None, Map.empty,
      Map("local_pod" -> Seq(77L))),
      "a file rejecting every source hash is pruned")
    assert(TxTable.mayMatchMeta(
      FileMeta("2024-03-01", 10L, Map.empty), None, Map.empty,
      Map("local_pod" -> Seq(77L))), "missing filter keeps the file")
  }

  test("a failed sidecar read is NOT cached: the next resolve retries " +
    "and finds the filter once the sidecar is readable") {
    import graft.sink.Bloom
    import org.apache.hadoop.fs.Path
    BloomStore.clearCache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bloomretry").toString
    val fs = new Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new Path(dir)
    val rel = "d-x/date=2024-03-01/part-0.parquet"
    val mk = s"${Bloom.M},${Bloom.K}"
    val stats = Map(
      "local_pod" -> TxTable.ColStats('b', "@d-x/_filters.tsv", mk))
    // sidecar missing (transient blip): degrades to no-filter for THIS
    // probe — the pointer entry is dropped, nothing fails
    assert(BloomStore.resolveStats(fs, root, rel, stats).isEmpty)
    // the sidecar becomes readable; a retry must now resolve it — a
    // PERMANENTLY cached empty map would pin no-skip until LRU
    // eviction (round-7 advice). Failures are remembered only for a
    // short TTL (so a dead sidecar is not re-opened on every probe);
    // clearCache stands in for the TTL expiring.
    val payload = Bloom.ofHashes(Seq(1L, 2L))
    val side = new java.io.File(s"$dir/d-x/_filters.tsv")
    side.getParentFile.mkdirs()
    java.nio.file.Files.write(side.toPath,
      s"date=2024-03-01/part-0.parquet\tlocal_pod\t$mk\t$payload\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // inside the negative TTL the failure is still suppressed (no
    // retry storm against a dead sidecar)
    assert(BloomStore.resolveStats(fs, root, rel, stats).isEmpty,
      "within the negative TTL the failed load must not retry")
    BloomStore.clearCache()
    val resolved = BloomStore.resolveStats(fs, root, rel, stats)
    assert(resolved.get("local_pod").exists(_.min == payload),
      s"retry after the TTL must resolve the filter: $resolved")
  }

  test("CHECK constraints: recorded in the log after validating existing " +
    "rows, enforced inside every write pass (NULL passes, FALSE aborts " +
    "pre-commit), survive checkpoints, and drop cleanly") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txck").toString + "/t"
    TxTable.append(spark, Seq(
      (d("2024-03-01"), "a", 10L), (d("2024-03-01"), "b", 20L)
    ).toDF("date", "k", "v"), path)
    // a constraint existing data violates is refused up front
    intercept[IllegalArgumentException] {
      TxTable.addCheckConstraint(spark, path, "v_small", "v < 15")
    }
    assert(TxTable.addCheckConstraint(spark, path, "v_pos", "v > 0") >= 0)
    assert(TxTable.checkConstraints(spark, path) == Map("v_pos" -> "v > 0"))
    val vBefore = TxTable.currentVersion(spark, path)
    // a violating append aborts BEFORE anything commits
    val e = intercept[Exception] {
      TxTable.append(spark, Seq((d("2024-03-02"), "c", -1L))
        .toDF("date", "k", "v"), path)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("v_pos")), s"got: ${msgs(e)}")
    assert(TxTable.currentVersion(spark, path) == vBefore,
      "a refused write must not commit")
    assert(TxTable.read(spark, path).count() == 2)
    // NULL passes (SQL CHECK), valid rows land; merge enforces too
    TxTable.append(spark, Seq(
      (d("2024-03-02"), "c", Some(5L)),
      (d("2024-03-02"), "d", Option.empty[Long])
    ).toDF("date", "k", "v"), path)
    assert(TxTable.read(spark, path).count() == 4)
    intercept[Exception] {
      TxTable.merge(spark,
        Seq((d("2024-03-01"), "a", -5L)).toDF("date", "k", "v"),
        path, Seq("date", "k"))
    }
    assert(TxTable.read(spark, path).filter(col("k") === "a")
      .collect().head.getAs[Long]("v") == 10L, "failed merge left no trace")
    // constraints ride checkpoints: force one, expire the tail, re-read
    TxTable.checkpoint(spark, path)
    TxTable.expireLog(spark, path)
    assert(TxTable.checkConstraints(spark, path) == Map("v_pos" -> "v > 0"))
    // drop: the next violating append is accepted
    assert(TxTable.dropCheckConstraint(spark, path, "v_pos") >= 0)
    assert(TxTable.checkConstraints(spark, path).isEmpty)
    TxTable.append(spark, Seq((d("2024-03-03"), "e", -7L))
      .toDF("date", "k", "v"), path)
    assert(TxTable.read(spark, path).count() == 5)
    intercept[IllegalArgumentException] {
      TxTable.dropCheckConstraint(spark, path, "nope")
    }
  }

  test("TIMESTAMP AS OF: a wall-clock instant resolves to the newest " +
    "commit published at or before it; pre-table instants and " +
    "version+timestamp together are refused") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txtsasof").toString + "/t"
    TxTable.append(spark,
      Seq((d("2024-03-01"), "a", 1L)).toDF("date", "k", "v"), path)
    // the probe instant sits >=1s past v0 so the seconds-granular SQL
    // spelling (truncation) still lands at-or-after v0's mtime
    Thread.sleep(1100)
    val afterV0 = java.time.Instant.now()
    TxTable.append(spark,
      Seq((d("2024-03-02"), "b", 2L)).toDF("date", "k", "v"), path)
    assert(TxTable.versionAt(spark, path, afterV0) == 0L)
    assert(TxTable.versionAt(spark, path, java.time.Instant.now()) == 1L)
    intercept[IllegalArgumentException] {
      TxTable.versionAt(spark, path,
        java.time.Instant.ofEpochMilli(1000L))
    }
    // the data source spelling, both timestamp formats
    val iso = afterV0.toString
    assert(spark.read.format("graft").option("timestampAsOf", iso)
      .load(path).select("k").collect().map(_.getString(0)).toSeq ==
      Seq("a"))
    val sqlTs = java.time.LocalDateTime
      .ofInstant(afterV0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.read.format("graft").option("timestampAsOf", sqlTs)
      .load(path).count() == 1)
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("timestampAsOf", iso).option("versionAsOf", "1")
        .load(path)
    }
  }

  test("filter sidecars: the log carries pointers, a LIVE sidecar " +
    "survives zero-retention vacuum, an orphaned one is reclaimed, and " +
    "skipping still works afterwards") {
    import graft.sink.Bloom
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txsidecar").toString + "/t"
    def batch(tag: String) = (0 until 20).map(i =>
      (d("2024-03-01"), s"$tag-${i % 4}", i.toLong))
      .toDF("date", "local_pod", "bytes")
    TxTable.append(spark, batch("old"), path)
    val oldSidecars = TxTable.liveStats(spark, path).values
      .map(_.stats("local_pod").min.stripPrefix("@")).toSet
    assert(oldSidecars.nonEmpty && oldSidecars.forall(_.endsWith("_filters.tsv")))
    // full replace orphans the old staged dir AND its sidecar
    TxTable.overwrite(spark, batch("new"), path)
    val newSidecars = TxTable.liveStats(spark, path).values
      .map(_.stats("local_pod").min.stripPrefix("@")).toSet
    assert(newSidecars.intersect(oldSidecars).isEmpty)
    val reclaimed = TxTable.vacuum(spark, path, 0L).toSet
    assert(oldSidecars.subsetOf(reclaimed),
      "orphaned sidecars must be reclaimed with their data dir")
    assert(newSidecars.intersect(reclaimed).isEmpty,
      "a live file's sidecar must never be vacuumed")
    // resolution + skipping still intact after the sweep
    def hashOf(v: String): Long =
      new XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString(v), org.apache.spark.sql.types.StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
    val metas = TxTable.liveStatsResolved(spark, path)
    assert(metas.values.forall { m =>
      val st = m.stats("local_pod")
      !st.min.startsWith("@") &&
        Bloom.mayContain(st.min, st.max, hashOf("new-1"))
    }, "post-vacuum resolution must yield real payloads")
    assert(graft.sink.TxFileIndex.readV2(spark, path)
      .filter(col("local_pod") === "new-1").count() == 5)
  }

  test("RESTORE rewinds to a prior version as one metadata-only commit; " +
    "VACUUM DRY RUN reports exactly what vacuum then reclaims; restore " +
    "past a vacuum is refused") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txrestore").toString + "/t"
    def rows = TxTable.read(spark, path).select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    TxTable.append(spark,
      Seq((d("2024-03-01"), "a", 1L)).toDF("date", "k", "v"), path) // v0
    TxTable.append(spark,
      Seq((d("2024-03-02"), "b", 2L)).toDF("date", "k", "v"), path) // v1
    val v1 = TxTable.currentVersion(spark, path)
    assert(TxTable.delete(spark, path, col("k") === "a") >= 0)      // v2
    TxTable.append(spark,
      Seq((d("2024-03-03"), "c", 3L)).toDF("date", "k", "v"), path) // v3
    val v3 = TxTable.currentVersion(spark, path)
    assert(rows == Set(("b", 2L), ("c", 3L)))
    // rewind: the deleted 'a' file returns by reference, 'c' leaves
    val rv = TxTable.restore(spark, path, v1)
    assert(rv == TxTable.currentVersion(spark, path) && rv > v3)
    assert(rows == Set(("a", 1L), ("b", 2L)))
    // pure metadata: the restored file set IS v1's file set (identity,
    // not copies) — and its logged stats came along for free
    assert(TxTable.liveFiles(spark, path).keySet ==
      TxTable.liveStats(spark, path).keySet)
    assert(TxTable.history(spark, path).orderBy(col("version").desc)
      .select("operation").first().getString(0) == "restore")
    // idempotent: restoring to the version we already equal no-ops
    assert(TxTable.restore(spark, path, v1) == -1L)
    // restore preserved history: the post-delete era is still travelable
    assert(TxTable.read(spark, path, asOfVersion = Some(v3))
      .select("k").collect().map(_.getString(0)).toSet == Set("b", "c"))
    // dry run reports the now-unreferenced v3 file (and the v2 rewrite
    // leftovers, if any) WITHOUT deleting anything
    val dry = TxTable.vacuumDryRun(spark, path, 0L)
    // the sweep also lists zero-byte _SUCCESS markers — data files
    // must carry their real sizes
    assert(dry.exists(_._1.endsWith(".parquet")) &&
      dry.filter(_._1.endsWith(".parquet")).forall(_._2 > 0L),
      "dry run lists reclaimable data files with sizes")
    val (fs0, root0) = (new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path))
    dry.foreach { case (rel, _) =>
      assert(fs0.exists(new org.apache.hadoop.fs.Path(root0, rel)),
        s"dry run must not delete $rel") }
    val reclaimed = TxTable.vacuum(spark, path, 0L)
    assert(reclaimed.toSet == dry.map(_._1).toSet,
      "vacuum reclaims exactly the dry-run report")
    assert(rows == Set(("a", 1L), ("b", 2L)), "live data untouched")
    // v3's files are gone → restoring to v3 must refuse loudly
    intercept[IllegalArgumentException] {
      TxTable.restore(spark, path, v3)
    }
    // and a version the log never had is refused up front
    intercept[IllegalArgumentException] {
      TxTable.restore(spark, path, 999L)
    }
  }

  test("RESTORE re-validates the table's CURRENT check constraints over " +
    "re-added files: rewinding past a constraint cannot reintroduce " +
    "violating rows") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txrescons").toString + "/t"
    TxTable.append(spark,
      Seq((d("2024-03-01"), "a", 1L), (d("2024-03-01"), "b", 5L))
        .toDF("date", "k", "v"), path)                              // v0
    val v0 = TxTable.currentVersion(spark, path)
    assert(TxTable.delete(spark, path, col("v") < 3L) >= 0)         // v1
    // the constraint HOLDS over live rows now (only b,5 remains) —
    // but v0's files violate it
    assert(TxTable.addCheckConstraint(spark, path, "big_v", "v >= 3") >= 0)
    val ex = intercept[IllegalArgumentException] {
      TxTable.restore(spark, path, v0)
    }
    assert(ex.getMessage.contains("big_v"),
      s"refusal must name the violated constraint: ${ex.getMessage}")
    assert(TxTable.read(spark, path).count() == 1L,
      "the refused restore must not commit")
    // dropping the constraint unblocks the same restore
    assert(TxTable.dropCheckConstraint(spark, path, "big_v") >= 0)
    assert(TxTable.restore(spark, path, v0) >= 0)
    assert(TxTable.read(spark, path).select("k").collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
    // restoring past an ADDITIVE EVOLUTION whose new column carries a
    // constraint is refused up front: the constraint lives at head,
    // the schema rewinds, and committing that state would make every
    // later write fail at analysis (unresolvable constraint column)
    val path3 = java.nio.file.Files
      .createTempDirectory("graft_txrescons3").toString + "/t"
    TxTable.append(spark,
      Seq((d("2024-03-01"), "a", 1L)).toDF("date", "k", "v"), path3) // v0
    val p3v0 = TxTable.currentVersion(spark, path3)
    TxTable.append(spark,
      Seq((d("2024-03-02"), "b", 2L, "zz"))
        .toDF("date", "k", "v", "tag"), path3)                       // v1
    assert(TxTable.addCheckConstraint(spark, path3, "tag_short",
      "tag IS NULL OR length(tag) < 5") >= 0)
    val ex3 = intercept[IllegalArgumentException] {
      TxTable.restore(spark, path3, p3v0)
    }
    assert(ex3.getMessage.contains("tag_short") &&
      ex3.getMessage.contains("tag"),
      s"refusal must name the constraint and column: ${ex3.getMessage}")
    // dropping the constraint unblocks, and the restored table WRITES
    assert(TxTable.dropCheckConstraint(spark, path3, "tag_short") >= 0)
    assert(TxTable.restore(spark, path3, p3v0) >= 0)
    TxTable.append(spark,
      Seq((d("2024-03-03"), "c", 3L)).toDF("date", "k", "v"), path3)
    assert(TxTable.read(spark, path3).count() == 2L)

    // a restore whose re-added files SATISFY the live constraints
    // proceeds: constraint recorded first, rows never violated it
    val path2 = java.nio.file.Files
      .createTempDirectory("graft_txrescons2").toString + "/t"
    TxTable.append(spark,
      Seq((d("2024-03-01"), "x", 7L)).toDF("date", "k", "v"), path2) // v0
    val p2v0 = TxTable.currentVersion(spark, path2)
    assert(TxTable.addCheckConstraint(spark, path2, "pos", "v > 0") >= 0)
    TxTable.append(spark,
      Seq((d("2024-03-02"), "y", 8L)).toDF("date", "k", "v"), path2)
    assert(TxTable.delete(spark, path2, col("k") === "x") >= 0)
    assert(TxTable.restore(spark, path2, p2v0) >= 0,
      "a constraint-satisfying restore must proceed")
    assert(TxTable.read(spark, path2).select("k").collect()
      .map(_.getString(0)).toSet == Set("x"))
  }

  test("DELETE WHERE: bloom-pruned copy-on-write — untouched files keep " +
    "their identity, NULL predicates keep rows, no-op deletes no-op") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txdel").toString + "/t"
    // three appends with disjoint pod sets → per-file bloom filters
    // partition the candidates
    Seq(Seq("pod-a", "pod-b"), Seq("pod-c", "pod-d"), Seq("pod-e", null))
      .zipWithIndex.foreach { case (pods, i) =>
        val rows = pods.zipWithIndex.map { case (p, j) =>
          (d("2024-03-01"), p, (i * 10 + j).toLong)
        }
        TxTable.append(spark,
          rows.toDF("date", "local_pod", "bytes"), path)
      }
    val before = TxTable.liveFiles(spark, path).keys.toSet
    val vDel = TxTable.delete(spark, path, col("local_pod") === "pod-c")
    assert(vDel >= 0)
    val after = TxTable.liveFiles(spark, path).keys.toSet
    // only the file holding pod-c was replaced; both others untouched
    assert((before -- after).size == 1 && (after -- before).size <= 1,
      s"exactly one file rewritten: $before -> $after")
    val got = TxTable.read(spark, path)
      .select("local_pod", "bytes").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("pod-a", 0L), ("pod-b", 1L), ("pod-d", 11L),
      ("pod-e", 20L), (null, 21L)),
      "pod-c gone; the NULL-pod row (NULL predicate) survives")
    // predicate matching nothing: -1 and the log doesn't move
    val v0 = TxTable.currentVersion(spark, path)
    assert(TxTable.delete(spark, path, col("local_pod") === "pod-zz") == -1L)
    assert(TxTable.currentVersion(spark, path) == v0)
    // delete everything in one file: the rewrite may stage zero files
    assert(TxTable.delete(spark, path,
      col("local_pod").isin("pod-a", "pod-b")) >= 0)
    assert(TxTable.read(spark, path).count() == 3)
  }

  test("token bloom index (tokenbf_v1): has_token skips files from the " +
    "log; substring predicates never consult it; no false negatives") {
    import graft.sink.{Bloom, TxFileIndex}
    import graft.functions.ipfns.has_token
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_txtok").toString + "/t"
    // disjoint vocabularies per append → token membership partitions
    // the file set
    Seq(Seq("alpha beta common", "beta alpha common"),
      Seq("gamma delta common", "delta gamma common"),
      Seq("epsilon zeta common", "zeta epsilon common"))
      .zipWithIndex.foreach { case (texts, i) =>
        val df = texts.zipWithIndex.map { case (t, j) =>
          (java.sql.Date.valueOf("2024-03-01"), (i * 10 + j).toLong, t)
        }.toDF("date", "doc_id", "text")
        TxTable.append(spark, df, path)
      }
    val metas = TxTable.liveStatsResolved(spark, path)
    assert(metas.size >= 3 &&
      metas.values.forall(_.stats.get("text#tok").exists(_.typ == 'b')))
    // the LOGGED form is a sidecar pointer, not ~22 KB of base64 per
    // file riding every checkpoint
    assert(TxTable.liveStats(spark, path).values.forall { m =>
      val st = m.stats("text#tok")
      st.min.startsWith("@") && st.min.length < 200
    }, "token filters must be sidecar pointers in the log")
    def hashOf(v: String): Long =
      new XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString(v), org.apache.spark.sql.types.StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
    def expectFiles(tok: String): Int = metas.values.count { m =>
      val st = m.stats("text#tok")
      Bloom.mayContain(st.min, st.max, hashOf(tok))
    }
    val df = TxFileIndex.readV2(spark, path)
    // filter-only plans have no exchange, so no AQE wrapper hides the
    // scan (same probe as the value-bloom test below)
    def scanned(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    val hit = df.filter(has_token(col("text"), lit("gamma")))
    assert(scanned(hit) == expectFiles("gamma"))
    assert(expectFiles("gamma") < metas.size,
      "the disjoint vocabularies must make the token index skip files")
    assert(hit.count() == 2, "no false negatives")
    // a token nowhere in the corpus: everything skips (w.h.p.)
    val none = df.filter(has_token(col("text"), lit("nosuchtoken")))
    assert(scanned(none) == expectFiles("nosuchtoken") && none.count() == 0)
    // substring of a real token: has_token is FALSE (not a token) even
    // though contains() matches — the exact reason LIKE never probes
    // the token filter
    assert(df.filter(has_token(col("text"), lit("gam"))).count() == 0)
    val sub = df.filter(col("text").contains("gam"))
    assert(scanned(sub) == metas.size,
      "substring predicates must scan every file")
    assert(sub.count() == 2)
  }

  test("OPTIMIZE DEDUPLICATE: full-row dedup collapses replays per " +
    "date partition; BY-columns identity keeps the deterministic MIN " +
    "payload; different dates never collapse") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txdedup").toString + "/t"
    val rows = Seq(
      (d("2024-03-01"), 1L, "a", 10L),
      (d("2024-03-01"), 1L, "a", 10L), // exact dup, same date
      (d("2024-03-02"), 1L, "a", 10L), // same content, OTHER date
      (d("2024-03-01"), 2L, "b", 20L),
      (d("2024-03-01"), 2L, "z", 30L)) // same key 2, different payload
      .toDF("date", "k", "v", "n")
    TxTable.append(spark, rows, path)
    // full-row: only the exact duplicate collapses
    assert(TxTable.optimizeDeduplicate(spark, path) >= 0)
    assert(TxTable.read(spark, path).count() == 4)
    assert(TxTable.read(spark, path)
      .filter(col("date") === d("2024-03-02")).count() == 1,
      "cross-date content twins both survive")
    // BY (k): per (date, k) one row survives with the MIN payload
    assert(TxTable.optimizeDeduplicate(spark, path, Seq("k")) >= 0)
    val kept = TxTable.read(spark, path)
      .filter(col("date") === d("2024-03-01") && col("k") === 2L)
      .collect()
    assert(kept.length == 1 && kept.head.getAs[String]("v") == "b" &&
      kept.head.getAs[Long]("n") == 20L,
      "BY-columns dedup keeps the deterministic per-group MIN")
    assert(TxTable.read(spark, path).count() == 3)
  }

  test("replacing compact: max-version row wins per (date, key), ties " +
    "break on the payload order, and dates never collapse together") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txrepl").toString + "/t"
    TxTable.append(spark, Seq(
      (d("2024-03-01"), 1L, "a", 10L, 1L),
      (d("2024-03-01"), 2L, "b", 20L, 1L),
      // same key, OTHER date partition — must never merge away
      (d("2024-03-02"), 1L, "a", 30L, 1L)
    ).toDF("date", "k", "tag", "cents", "ver"), path)
    TxTable.append(spark, Seq(
      (d("2024-03-01"), 1L, "a", 99L, 2L), // higher version replaces
      (d("2024-03-01"), 3L, "c", 7L, 1L),  // fresh key survives alone
      // version TIE with (01, 2, "b", 20): payload order is
      // (ver, tag, cents), so "z" > "b" decides — deterministically
      (d("2024-03-01"), 2L, "z", 5L, 1L)
    ).toDF("date", "k", "tag", "cents", "ver"), path)
    val before = TxTable.liveFiles(spark, path).keys.toSet
    // SELECT ... FINAL: the read-time collapse must equal what the
    // background merge will produce, while the table still holds dups
    val fin = TxTable.readFinal(spark, path, Seq("k"), "ver")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4))).toSet
    TxTable.compactReplacing(spark, path, Seq("k"), "ver")
    assert(fin == TxTable.read(spark, path)
      .select("date", "k", "tag", "cents", "ver")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4))).toSet,
      "readFinal before the merge == read after it")
    // system.parts analog reflects the post-merge inventory
    val parts = TxTable.parts(spark, path).collect()
    assert(parts.length == TxTable.liveFiles(spark, path).size &&
      parts.map(_.getAs[Long]("bytes")).forall(_ > 0))
    val got = TxTable.read(spark, path)
      .select("date", "k", "tag", "cents", "ver")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("2024-03-01", 1L, "a", 99L, 2L),
      ("2024-03-01", 2L, "z", 5L, 1L),
      ("2024-03-01", 3L, "c", 7L, 1L),
      ("2024-03-02", 1L, "a", 30L, 1L)))
    assert(TxTable.liveFiles(spark, path).keys.toSet.intersect(before).isEmpty,
      "the rewrite swapped every target file atomically")
    // the pre-compact duplicates are still visible via time travel
    val v1 = TxTable.read(spark, path,
      asOfVersion = Some(TxTable.currentVersion(spark, path) - 1))
    assert(v1.count() == 6)
  }

  test("rollup aging: expired partitions collapse to the rollup grain " +
    "behind one swap; recent partitions keep their exact files") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_txroll").toString + "/t"
    TxTable.append(spark, Seq(
      (d("2024-03-01"), "view", 7L, 10L), (d("2024-03-01"), "view", 3L, 30L),
      (d("2024-03-01"), "click", 9L, 5L), (d("2024-03-05"), "view", 1L, 100L),
      (d("2024-03-05"), "click", 2L, 11L)
    ).toDF("date", "event_type", "user_id", "cents"), path)
    val recentBefore = TxTable.liveStats(spark, path)
      .collect { case (rel, m) if m.date == "2024-03-05" => rel }.toSet
    val rolled = TxTable.retentionRollup(spark, path,
      java.time.LocalDate.parse("2024-03-03"), Seq("event_type"),
      Seq("cents"))
    assert(rolled == Seq("2024-03-01"))
    val recentAfter = TxTable.liveStats(spark, path)
      .collect { case (rel, m) if m.date == "2024-03-05" => rel }.toSet
    assert(recentAfter == recentBefore,
      "recent partitions must keep their exact files (no rewrite)")
    val got = TxTable.read(spark, path)
      .select("date", "event_type", "user_id", "cents")
      .collect().map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("2024-03-01", "view", 3L, 40L),   // summed cents, MIN user
      ("2024-03-01", "click", 9L, 5L),
      ("2024-03-05", "view", 1L, 100L),  // raw
      ("2024-03-05", "click", 2L, 11L)))
    // a second rollup with the same cutoff is a no-op grain-wise
    TxTable.retentionRollup(spark, path,
      java.time.LocalDate.parse("2024-03-03"), Seq("event_type"),
      Seq("cents"))
    assert(TxTable.read(spark, path).count() == 4)
    // retyping guard: a sum over a non-numeric column is refused
    intercept[IllegalArgumentException] {
      TxTable.retentionRollup(spark, path,
        java.time.LocalDate.parse("2024-03-09"), Seq("event_type"),
        Seq("event_type"))
    }
    // DESCRIBE HISTORY reports the RECORDED operation tag per commit
    val hist = TxTable.history(spark, path)
      .orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.take(3).toSeq ==
      Seq((0L, "append"), (1L, "rollup"), (2L, "rollup")))
    assert(TxTable.history(spark, path)
      .filter(col("n_added") > 0)
      .agg(sum("bytes_added")).collect().head.getLong(0) > 0)
  }

  test("bloom skip index: equality on a non-sort-key column skips files " +
    "from log filters alone; never a false negative; ranges don't consult it") {
    import graft.sink.{Bloom, TxFileIndex}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_txbloom").toString + "/t"
    // three appends with DISJOINT pod sets — each append stages its own
    // file(s), so pod membership partitions the file set
    val groups = Seq(
      Seq("pod-a", "pod-b"), Seq("pod-c", "pod-d"), Seq("pod-e", "pod-f"))
    groups.foreach { pods =>
      val df = (1 to 200).map { i =>
        (java.sql.Date.valueOf("2024-03-01"), pods(i % pods.size),
          s"10.0.0.${i % 7}", i.toLong)
      }.toDF("date", "local_pod", "remote_ip", "bytes")
      TxTable.append(spark, df, path)
    }
    val metas = TxTable.liveStatsResolved(spark, path)
    assert(metas.size >= groups.size, "each append stages its own files")
    assert(metas.values.forall(m =>
      m.stats.get("local_pod").exists(_.typ == 'b') &&
        m.stats.get("remote_ip").exists(_.typ == 'b')),
      "every staged file logs a bloom filter for both index columns")
    // log hygiene: the A line holds a pointer; the payload lives once
    // per staged dir in _filters.tsv
    assert(TxTable.liveStats(spark, path).values.forall(m =>
      m.stats("local_pod").min.startsWith("@") &&
        m.stats("local_pod").min.endsWith("_filters.tsv")),
      "value filters must be sidecar pointers in the log")

    def hashOf(v: String): Long =
      new XxHash64(Seq(Literal(org.apache.spark.unsafe.types.UTF8String
        .fromString(v), org.apache.spark.sql.types.StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
    // the exact file set the skipper should keep, straight from the log
    def expectFiles(pod: String): Int = metas.values.count { m =>
      val st = m.stats("local_pod")
      Bloom.mayContain(st.min, st.max, hashOf(pod))
    }
    val df = TxFileIndex.readV2(spark, path)
    def scanned(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    // point lookup: planning-time skip to exactly the may-contain set
    val hit = df.filter(col("local_pod") === "pod-a")
    assert(scanned(hit) == expectFiles("pod-a"))
    assert(expectFiles("pod-a") < metas.size,
      "the disjoint layout must make the index skip at least one file")
    assert(hit.count() == 200 / 2 * 1,
      "no false negatives: every pod-a row survives the skip")
    // IN list keeps the union of member may-contain sets
    val inq = df.filter(col("local_pod").isin("pod-a", "pod-f"))
    assert(scanned(inq) ==
      metas.values.count { m =>
        val st = m.stats("local_pod")
        Seq("pod-a", "pod-f").exists(p =>
          Bloom.mayContain(st.min, st.max, hashOf(p)))
      })
    // a value no file holds: with high probability every file skips
    val none = df.filter(col("remote_ip") === "192.168.99.99")
    assert(scanned(none) == metas.values.count { m =>
      val st = m.stats("remote_ip")
      Bloom.mayContain(st.min, st.max, hashOf("192.168.99.99"))
    })
    assert(none.count() == 0)
    // non-equality ops never consult the filter — full keep
    assert(scanned(df.filter(col("local_pod") > "pod-a")) == metas.size,
      "range predicates must not consult the bloom filter")
    // a mangled filter reads as cannot-skip, never as provably-empty
    assert(Bloom.mayContain("%%%not-base64", s"${Bloom.M},${Bloom.K}", 7L))
    assert(Bloom.mayContain("QUJD", "garbage", 7L))
  }

  test("DDL: createTable reads empty under the declared schema and " +
      "appends must conform to it") {
    import org.apache.spark.sql.types.{DateType, LongType, StringType,
      StructField, StructType}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_ddl").toString + "/t"
    // date column is mandatory
    intercept[IllegalArgumentException] {
      TxTable.createTable(spark, path, StructType(Seq(
        StructField("k", StringType))))
    }
    val schema = StructType(Seq(StructField("date", DateType),
      StructField("k", StringType), StructField("v", LongType)))
    assert(TxTable.createTable(spark, path, schema,
      Seq("graft.p1" -> "x")) == 0L)
    val empty = TxTable.read(spark, path)
    assert(empty.count() == 0, "created table reads ZERO rows")
    assert(empty.columns.toSet == Set("date", "k", "v"),
      "…under the DECLARED schema")
    assert(TxTable.tableProperties(spark, path) == Map("graft.p1" -> "x"))
    // duplicate create fails loudly
    intercept[IllegalArgumentException] {
      TxTable.createTable(spark, path, schema)
    }
    // a NON-CONFORMING append (v retyped to string) is rejected
    val bad = Seq(("a", "not-a-long")).toDF("k", "v")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    intercept[IllegalArgumentException] { TxTable.append(spark, bad, path) }
    // a frame MISSING a declared column is rejected too (non-additive)
    val missing = Seq("a").toDF("k")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    intercept[IllegalArgumentException] {
      TxTable.append(spark, missing, path)
    }
    // conforming append lands
    val good = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    assert(TxTable.append(spark, good, path) > 0L)
    assert(TxTable.read(spark, path).count() == 2)
  }

  test("DDL: addColumns evolves additively; on a pre-evolution log it " +
      "fails with the actionable error") {
    import org.apache.spark.sql.types.{DateType, DoubleType, LongType,
      StringType, StructField, StructType}
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ddl2").toString
    val path = s"$dir/t"
    val schema = StructType(Seq(StructField("date", DateType),
      StructField("k", StringType), StructField("v", LongType)))
    TxTable.createTable(spark, path, schema)
    val rows = Seq(("a", 1L)).toDF("k", "v")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    TxTable.append(spark, rows, path)
    TxTable.addColumns(spark, path, Seq(StructField("w", DoubleType)))
    val read = TxTable.read(spark, path)
    assert(read.columns.toSet == Set("date", "k", "v", "w"))
    assert(read.select("w").collect().forall(_.isNullAt(0)),
      "old files read the new column as NULL")
    // name clashes (including the partition column) are rejected
    intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, path, Seq(StructField("v", LongType)))
    }
    intercept[IllegalArgumentException] {
      TxTable.addColumns(spark, path, Seq(StructField("date", DateType)))
    }
    // PRE-EVOLUTION log (no M action): the actionable error, not a
    // silent mis-evolution
    val path2 = s"$dir/pre"
    TxTable.commitActions(spark, path2,
      Seq(("d-000/p.parquet", "2024-01-01", 1L)), Seq.empty)
    val e = intercept[IllegalStateException] {
      TxTable.addColumns(spark, path2, Seq(StructField("w", DoubleType)))
    }
    assert(e.getMessage.contains("pre-evolution"))
  }

  test("replaceWhere: one commit swaps exactly the matched region, " +
      "untouched files keep their identity, out-of-region rows are " +
      "refused, and an empty region degrades to a validated append") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_rw").toString + "/t"
    val rows = (0 until 100).map(i =>
      (java.sql.Date.valueOf(s"2024-01-0${i % 2 + 1}"), s"k$i",
        (i % 5).toString, i.toLong))
      .toDF("date", "k", "seg", "v")
    assert(TxTable.append(spark, rows, path) == 0L)
    val before = TxTable.liveFiles(spark, path).keySet
    // region = seg '3': replace with re-priced rows, ONE commit
    val repl = rows.filter(col("seg") === "3")
      .withColumn("v", col("v") * 100)
    assert(TxTable.replaceWhere(spark, repl, path,
      col("seg") === "3") == 1L, "replaceWhere is ONE commit")
    val after = TxTable.read(spark, path)
    assert(after.count() == 100)
    assert(after.filter(col("seg") === "3").agg(sum("v")).head.getLong(0)
      == rows.filter(col("seg") === "3").agg(sum("v") * 100)
        .head.getLong(0))
    assert(after.filter(col("seg") =!= "3").agg(sum("v")).head.getLong(0)
      == rows.filter(col("seg") =!= "3").agg(sum("v")).head.getLong(0))
    // a row OUTSIDE the region is refused before anything commits
    val vNow = TxTable.currentVersion(spark, path)
    intercept[IllegalArgumentException] {
      TxTable.replaceWhere(spark,
        rows.filter(col("seg") === "1"), path, col("seg") === "3")
    }
    assert(TxTable.currentVersion(spark, path) == vNow,
      "a refused replace must not commit")
    // empty region: nothing to remove — a validated append, one commit
    val novel = Seq((java.sql.Date.valueOf("2024-01-03"), "new",
      "9", 7L)).toDF("date", "k", "seg", "v")
    assert(TxTable.replaceWhere(spark, novel, path,
      col("seg") === "9") == vNow + 1)
    assert(TxTable.read(spark, path).count() == 101)
    // date-pruned region replace keeps the OTHER date's files identical
    val before2 = TxTable.liveFiles(spark, path).keySet
    val d1 = rows.filter(col("date") === "2024-01-01")
      .withColumn("v", col("v") + 1000000L)
    TxTable.replaceWhere(spark, d1, path,
      col("date") === java.sql.Date.valueOf("2024-01-01"))
    val after2 = TxTable.liveFiles(spark, path)
    val kept2 = before2.intersect(after2.keySet)
    assert(kept2.exists(_.contains("date=2024-01-02")),
      "files of the untouched date keep their identity")
    assert(!after2.keySet.exists(f =>
      before2.contains(f) && f.contains("date=2024-01-01")),
      "every file of the replaced date was swapped")
  }

  test("DDL: truncate drops every row in one metadata commit, schema " +
      "and properties survive, removed files fall to vacuum") {
    import org.apache.spark.sql.types.{DateType, LongType, StringType,
      StructField, StructType}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_ddl3").toString + "/t"
    val schema = StructType(Seq(StructField("date", DateType),
      StructField("k", StringType), StructField("v", LongType)))
    TxTable.createTable(spark, path, schema, Seq("graft.keep" -> "yes"))
    val rows = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    TxTable.append(spark, rows, path)
    val vBefore = TxTable.currentVersion(spark, path)
    assert(TxTable.truncate(spark, path) == vBefore + 1,
      "truncate is ONE commit")
    val after = TxTable.read(spark, path)
    assert(after.count() == 0)
    assert(after.columns.toSet == Set("date", "k", "v"),
      "schema survives truncate")
    assert(TxTable.tableProperties(spark, path) == Map("graft.keep" -> "yes"),
      "properties survive truncate")
    // the dropped files were NOT rewritten — they fall to vacuum
    val reclaimed = TxTable.vacuum(spark, path, minAgeMs = 0L)
    assert(reclaimed.nonEmpty, "truncated files must be vacuumable")
    // table keeps working after the sweep
    TxTable.append(spark, rows.limit(1), path)
    assert(TxTable.read(spark, path).count() == 1)
    // the LOG still replays the pre-truncate version's metadata (the
    // data files themselves are gone to vacuum — reading them would
    // fail, exactly Delta's vacuum-vs-time-travel trade)
    assert(TxTable.read(spark, path, asOfVersion = Some(vBefore))
      .columns.toSet == Set("date", "k", "v"))
  }

  test("round-13: compactCollapsing — net-sign survival, version-max " +
      "winner, over-cancel disappearance, partition scoping") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_collapsing").toString + "/t"
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    // k=1: insert, cancel, re-insert v2 -> survives with value 20
    // k=2: insert then cancel -> gone
    // k=3: over-cancelled (net -1) -> gone, never a negative row
    // k=4: plain insert -> survives as-is
    // k=5 on d2: same key value as k=4-on-d1 pattern but cancelled --
    //   partition scoping means d1's k=5 (inserted only) SURVIVES
    val rows = Seq(
      (d1, 1L, 10L, 1, 1L), (d1, 1L, 10L, -1, 1L), (d1, 1L, 20L, 1, 2L),
      (d1, 2L, 30L, 1, 1L), (d1, 2L, 30L, -1, 1L),
      (d1, 3L, 40L, -1, 1L),
      (d1, 4L, 50L, 1, 1L),
      (d1, 5L, 60L, 1, 1L),
      (d2, 5L, 70L, 1, 1L), (d2, 5L, 70L, -1, 1L))
      .toDF("date", "k", "v", "sign", "ver")
    TxTable.append(spark, rows, path)
    assert(TxTable.compactCollapsing(spark, path, Seq("k"),
      "sign", "ver") >= 0)
    val got = TxTable.read(spark, path)
      .select("date", "k", "v").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == Seq(("2024-01-01", 1L, 20L), ("2024-01-01", 4L, 50L),
      ("2024-01-01", 5L, 60L)))
  }
}
