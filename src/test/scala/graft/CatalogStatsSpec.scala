package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftCatalog
import graft.sink.{TxFileIndex, TxTable}

/** Catalog statistics: the commit log's per-file `#rows` footer stats
  * surface as an EXACT table rowCount (DV cardinalities subtracted) on
  * the planner-owned relation, and with `spark.sql.cbo.enabled` that
  * rowCount flips a join to broadcast where byte-size alone would
  * shuffle — the decision that matters when a 1000-row dim occupies
  * gigabytes on disk next to a 100 TB fact table.
  */
class CatalogStatsSpec extends AnyFunSuite {
  import TestSpark._

  private val wh = sys.props("java.io.tmpdir") + "/graft_stats_wh"

  private def ensure(): Unit = {
    spark.conf.set("spark.sql.catalog.gstat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstat.warehouse", wh)
    spark.sql("DROP NAMESPACE IF EXISTS gstat.st CASCADE")
    spark.sql("CREATE NAMESPACE gstat.st")
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("exact rowCount from log metadata: visible to the optimizer, " +
      "and deletion-vector deletes subtract without touching a file") {
    ensure()
    spark.sql("CREATE TABLE gstat.st.t (k BIGINT, v BIGINT, date DATE)" +
      " PARTITIONED BY (date)" +
      " TBLPROPERTIES ('graft.deletionVectors' = 'true')")
    spark.sql("INSERT INTO gstat.st.t SELECT id, id, DATE'2024-01-01'" +
      " FROM range(0, 1000)")
    spark.sql("INSERT INTO gstat.st.t SELECT id, id, DATE'2024-01-02'" +
      " FROM range(1000, 1500)")
    withConf("spark.sql.cbo.enabled" -> "true") {
      assert(spark.sql("SELECT * FROM gstat.st.t")
        .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1500)))
      spark.sql("DELETE FROM gstat.st.t WHERE v < 100")
      // merge-on-read: same files, DV cardinality subtracts in metadata
      assert(spark.sql("SELECT * FROM gstat.st.t")
        .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1400)))
    }
    // cbo off -> plain sizeInBytes posture, no rowCount (today's default)
    withConf("spark.sql.cbo.enabled" -> "false") {
      assert(spark.sql("SELECT * FROM gstat.st.t")
        .queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    }
  }

  test("a file without #rows stats makes the count unknown, not a lowball") {
    ensure()
    spark.sql("CREATE TABLE gstat.st.mixed (k BIGINT, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.mixed SELECT id, DATE'2024-01-01'" +
      " FROM range(0, 10)")
    val loc = wh + "/st/mixed"
    val withRows = TxTable.liveStats(spark, loc).toSeq
    assert(new TxFileIndex(spark, loc, None, Some(withRows))
      .exactRowCount.contains(10L))
    // strip #rows from ONE meta — a pre-upgrade log file
    val mixed = withRows.zipWithIndex.map {
      case ((rel, m), 0) => rel -> m.copy(stats = m.stats - TxTable.RowsKey)
      case ((rel, m), _) => rel -> m
    }
    assert(new TxFileIndex(spark, loc, None, Some(mixed))
      .exactRowCount.isEmpty,
      "any pre-#rows file must make the table count unknown")
  }

  test("column count stats: NDV upper bound and exact null counts " +
      "ride the log; CBO sizes a GROUP BY output from them") {
    ensure()
    spark.sql("CREATE TABLE gstat.st.flows" +
      " (local_pod STRING, pad STRING, date DATE) PARTITIONED BY (date)")
    // 20k rows, 50 pods, every 97th pod NULL, incompressible pad
    spark.sql("INSERT INTO gstat.st.flows SELECT" +
      " CASE WHEN id % 97 = 0 THEN NULL ELSE 'pod-' || (id % 50) END," +
      " array_join(transform(sequence(1, 50)," +
      "   i -> md5(cast(id * 50 + i AS STRING))), '')," +
      " DATE'2024-01-01' FROM range(0, 20000)")
    val loc = wh + "/st/flows"
    val cs = new TxFileIndex(spark, loc).columnCountStats
    val (ndv, nulls) = cs("local_pod")
    assert(nulls.contains(20000L / 97 + 1),
      s"exact footer null count, got $nulls")
    // Σ per-file approx NDV: >= true 50 (plus the cross-file
    // over-count), never a lowball below the per-file truth
    assert(ndv.exists(_ >= 50L), s"ndv upper bound, got $ndv")
    withConf("spark.sql.cbo.enabled" -> "true") {
      val agg = spark.sql(
        "SELECT local_pod, count(*) AS n FROM gstat.st.flows" +
          " GROUP BY local_pod")
      val st = agg.queryExecution.optimizedPlan.stats
      // with ndv + nullCount the aggregate output is estimated at
      // ~|pods| rows, not scan-sized: the broadcast-enabling number
      assert(st.rowCount.exists(_ < 500),
        s"aggregate output must be estimated from NDV, got $st")
    }
  }

  test("join above a GROUP BY broadcasts only because NDV stats size " +
      "the aggregate output") {
    ensure()
    spark.sql("CREATE TABLE gstat.st.fat2" +
      " (local_pod STRING, pad STRING, date DATE) PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.fat2 SELECT 'pod-' || (id % 50)," +
      " array_join(transform(sequence(1, 50)," +
      "   i -> md5(cast(id * 50 + i AS STRING))), '')," +
      " DATE'2024-01-01' FROM range(0, 20000)")
    spark.sql("CREATE TABLE gstat.st.base2 (k STRING, v STRING, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.base2 SELECT 'pod-' || (id % 50)," +
      " md5(cast(id AS STRING)), DATE'2024-01-01' FROM range(0, 200000)")
    val q = "SELECT b.k, b.v, a.n FROM gstat.st.base2 b JOIN" +
      " (SELECT local_pod, count(*) AS n FROM gstat.st.fat2" +
      "  GROUP BY local_pod) a ON b.k = a.local_pod"
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString) {
      withConf("spark.sql.cbo.enabled" -> "false") {
        val p = spark.sql(q).queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
          "size-only stats keep the aggregate scan-sized -> sort-merge\n" +
            p.take(2000))
      }
      withConf("spark.sql.cbo.enabled" -> "true") {
        val p = spark.sql(q).queryExecution.executedPlan.toString
        assert(p.contains("BroadcastHashJoin"),
          "NDV-sized aggregate output must broadcast\n" + p.take(2000))
      }
    }
  }

  test("CALL sys.analyze backfills #rows onto pre-upgrade log entries " +
      "from footers alone") {
    ensure()
    spark.sql("CREATE TABLE gstat.st.old (k BIGINT, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.old SELECT id, DATE'2024-01-01'" +
      " FROM range(0, 123)")
    val loc = wh + "/st/old"
    // simulate a pre-upgrade log: re-add the live rels with EMPTY stats
    // (the ops/test seam) — replay nets to stats-less metas
    val live = TxTable.liveStats(spark, loc).toSeq
    TxTable.commitActions(spark, loc,
      live.map { case (rel, m) => (rel, m.date, m.bytes) }, Seq.empty)
    assert(new TxFileIndex(spark, loc).exactRowCount.isEmpty,
      "stats-less entries must read as unknown")
    val n = spark.sql("CALL gstat.sys.analyze(table => 'st.old')")
      .head.getLong(0)
    assert(n == live.size)
    assert(new TxFileIndex(spark, loc).exactRowCount.contains(123L))
    // second call: nothing missing, still reports cleanly
    assert(spark.sql("CALL gstat.sys.analyze(table => 'st.old')")
      .head.getLong(0) == 0L)
    // data untouched: same file identities
    assert(TxTable.liveStats(spark, loc).keySet == live.map(_._1).toSet)
    // the observability surface reads the same numbers back
    val st = spark.sql("CALL gstat.sys.stats(table => 'st.old')")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(st("#table").getLong(1) == 123L)
  }

  test("ANALYZE full arm: one value pass gives a NON-indexed column " +
      "NDV + min/max, and range-filter selectivity flips the join") {
    ensure()
    // 200k rows; v uniform 0..199999 — NOT a bloom column (no free
    // NDV) and NOT in statsColumns (no footer range): before the full
    // arm the CBO knows nothing about v
    spark.sql("CREATE TABLE gstat.st.vals (k BIGINT, v BIGINT, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.vals SELECT id % 50, id," +
      " DATE'2024-01-01' FROM range(0, 200000)")
    spark.sql("CREATE TABLE gstat.st.probe (k BIGINT, w STRING, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.probe SELECT id % 50," +
      " md5(cast(id AS STRING)), DATE'2024-01-01' FROM range(0, 200000)")
    val loc = wh + "/st/vals"
    val before = new TxFileIndex(spark, loc)
    assert(!before.columnCountStats.contains("v"))
    assert(!before.columnRangeStats.contains("v"))
    // 0.5% of vals passes the range filter; both tables are over the
    // broadcast threshold by rowCount x width, so only a
    // selectivity-informed estimate can broadcast the filtered side
    val q = "SELECT b.k, b.w FROM gstat.st.probe b JOIN" +
      " (SELECT k, v FROM gstat.st.vals WHERE v >= 199000) f ON b.k = f.k"
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024).toString) {
      val p0 = spark.sql(q).queryExecution.executedPlan.toString
      assert(p0.contains("SortMergeJoin") && !p0.contains("BroadcastHashJoin"),
        "without column stats the filter keeps its scan-sized estimate\n" +
          p0.take(2000))
      // the opt-in value pass: per-file NDV/nulls/min-max in ONE
      // column-pruned scan + one metadata commit
      val n = spark.sql("CALL gstat.sys.analyze(table => 'st.vals'," +
        " columns => 'v')").head.getLong(0)
      assert(n >= 1L, s"expected file stats updates, got $n")
      val after = new TxFileIndex(spark, loc)
      val (ndv, nulls) = after.columnCountStats("v")
      assert(ndv.exists(_ >= 150000L), s"HLL NDV near 200k, got $ndv")
      assert(nulls.contains(0L))
      val (t, mn, mx) = after.columnRangeStats("v")
      assert(t == 'l' && mn.toLong == 0L && mx.toLong == 199999L,
        s"table range folded from per-file ranges, got ($t, $mn, $mx)")
      // the observability surface reads the same numbers back
      val st = spark.sql("CALL gstat.sys.stats(table => 'st.vals')")
        .collect().map(r => r.getString(0) -> r).toMap
      assert(st("v").getString(3) == "0" && st("v").getString(4) == "199999")
      val p1 = spark.sql(q).queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin"),
        "min/max selectivity must shrink the filtered side under the " +
          "broadcast threshold\n" + p1.take(2000))
    }
  }

  test("ANALYZE full-arm histograms: equi-height bins estimate a " +
      "SKEWED range filter where min/max's uniform assumption cannot") {
    ensure()
    // v: 99.5% zeros, 0.5% spread to ~200k — min/max (0, 199800) with
    // uniform density estimates `v >= 1` at ~100% of rows; the
    // 32-bin equi-height histogram knows 31 bins are the point [0,0]
    spark.sql("CREATE TABLE gstat.st.skew (k BIGINT, v BIGINT, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.skew SELECT id % 50," +
      " CASE WHEN id % 200 = 0 THEN id ELSE 0 END," +
      " DATE'2024-01-01' FROM range(0, 200000)")
    spark.sql("CREATE TABLE gstat.st.probe2 (k BIGINT, w STRING, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.probe2 SELECT id % 50," +
      " md5(cast(id AS STRING)), DATE'2024-01-01' FROM range(0, 200000)")
    val loc = wh + "/st/skew"
    spark.sql("CALL gstat.sys.analyze(table => 'st.skew'," +
      " columns => 'v')")
    val hist = TxTable.tableProperties(spark, loc)
      .get(TxTable.HistPropPrefix + "v")
    assert(hist.isDefined, "full arm must persist the histogram property")
    // 31 of 32 bins collapse to the point [0.0, 0.0]
    val pointBins = hist.get.split('|')(1).split(';')
      .count(_.startsWith("0.0,0.0,"))
    assert(pointBins >= 30, s"expected point bins on a 99.5%-zero " +
      s"column, got $pointBins of 32")
    val q = "SELECT b.k, b.w FROM gstat.st.probe2 b JOIN" +
      " (SELECT k, v FROM gstat.st.skew WHERE v >= 1) f ON b.k = f.k"
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString) {
      val p1 = spark.sql(q).queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin"),
        "histogram must shrink the skewed filter under the threshold\n" +
          p1.take(2000))
      // the counterfactual: same ndv/min-max stats, histogram REMOVED
      // — uniform density reads `v >= 1` as ~every row -> sort-merge
      TxTable.setTableProperties(spark, loc,
        remove = Seq(TxTable.HistPropPrefix + "v"))
      val p0 = spark.sql(q).queryExecution.executedPlan.toString
      assert(p0.contains("SortMergeJoin") && !p0.contains("BroadcastHashJoin"),
        "without the histogram, min/max alone must keep the scan-sized " +
          "estimate\n" + p0.take(2000))
    }
  }

  test("join-strategy flip: CBO + exact rowCount broadcasts the " +
      "big-on-disk/few-rows side where byte size alone sort-merges") {
    ensure()
    // fat: 2000 rows, ~3.2 MB incompressible on disk (over the 256 KiB
    // broadcast threshold by bytes; under it by rowCount x row width)
    spark.sql("CREATE TABLE gstat.st.fat (k BIGINT, pad STRING, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.fat SELECT id % 50, array_join(" +
      "transform(sequence(1, 100), i -> md5(cast(id * 100 + i AS STRING)))," +
      " ''), DATE'2024-01-01' FROM range(0, 2000)")
    // base: 200k incompressible rows — over threshold in BOTH arms, so
    // the only broadcast candidate is fat
    spark.sql("CREATE TABLE gstat.st.base (k BIGINT, v STRING, date DATE)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gstat.st.base SELECT id % 50," +
      " md5(cast(id AS STRING)), DATE'2024-01-01' FROM range(0, 200000)")
    val q = "SELECT b.k, b.v, f.pad FROM gstat.st.base b" +
      " JOIN gstat.st.fat f ON b.k = f.k"
    withConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString) {
      withConf("spark.sql.cbo.enabled" -> "false") {
        val p = spark.sql(q).queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
          "size-only stats must sort-merge (both sides over threshold)\n" +
            p.take(2000))
      }
      withConf("spark.sql.cbo.enabled" -> "true") {
        val p = spark.sql(q).queryExecution.executedPlan.toString
        assert(p.contains("BroadcastHashJoin"),
          "exact rowCount must flip the fat side to broadcast\n" +
            p.take(2000))
      }
    }
  }
}
