package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these queries scale
  * (filter pushdown to parquet, column pruning, broadcast joins, no
  * nested-loop joins, whole-stage codegen) are asserted here so a plan
  * regression fails CI, not a 100 TB run.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the AQE plan so codegen stages are visible
    val full = df.queryExecution.executedPlan.toString
    // AQE toString appends the pre-adaptive "Initial Plan" — audit only
    // what actually ran
    val cut = full.indexOf("== Initial Plan ==")
    if (cut >= 0) full.substring(0, cut) else full
  }

  test("q1_agg: column pruning — scan reads only the 4 needed columns") {
    val p = plan("q1_agg")
    val readSchema = "ReadSchema: struct<(.*?)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = readSchema.split(",").map(_.split(":").head.trim)
    assert(cols.toSet == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice"), s"read: ${cols.mkString(",")}")
  }

  test("q6_anti_join: o_totalprice predicate pushed to the orders scan") {
    val p = plan("q6_anti_join")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), " +
      "GreaterThan(o_totalprice,400000.0)]") ||
      p.contains("GreaterThan(o_totalprice"), p.take(2000))
  }

  test("q2_join_agg: dims join as broadcast hash joins, facts never shuffle pre-agg") {
    val p = plan("q2_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // exactly one exchange: the final aggregation shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
  }

  test("qf_pipeline: no nested-loop join anywhere; all dim joins broadcast") {
    val p = plan("qf_pipeline")
    assert(!p.contains("BroadcastNestedLoopJoin"), "LPM must be hash-joined")
    assert(!p.contains("SortMergeJoin"), "dims must broadcast")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("qf_pipeline: trie LPM introduces no exchange — one hash shuffle total") {
    // the only hashpartitioning exchange is the final summing groupBy;
    // the range-join LPM variant would add a second (window over flow_id)
    val p = plan("qf_pipeline")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
    // the LPM probe is a native codegen'd expression, not a boxed UDF
    assert(!p.contains("UDF"), "no ScalaUDF anywhere in the headline plan")
    assert(p.contains("trie_lpm"), p.take(3000))
  }

  test("sink write plan range-partitions on (date, sortKey…), not date alone") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val summed = Seq(
      ("2024-01-01", "2024-01-01 00:01:00", "out", "tcp", "a1", "a2", "p1", "p2"),
      ("2024-01-02", "2024-01-02 00:01:00", "in", "tcp", "a3", "a4", "p3", "p4"))
      .toDF("date", "interval_start", "direction", "proto_name",
        "local_app", "remote_app", "local_pod", "remote_pod")
      .withColumn("date", col("date").cast("date"))
      .withColumn("interval_start", col("interval_start").cast("timestamp"))
      .withColumn("bytes", lit(1L))
    val p = graft.sink.TxTable.prep(summed)
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning(date"), p.take(2000))
    assert(!p.contains("hashpartitioning(date"), p.take(2000))
  }

  test("q14_bigjoin: fact-fact join takes the sort-merge path") {
    val p = plan("q14_bigjoin")
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q3_topk: ORDER BY + LIMIT plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q5_minute_agg: partial aggregation before the exchange") {
    val p = plan("q5_minute_agg")
    val partialIdx = p.indexOf("partial_sum")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > 0 && exchangeIdx > 0 && partialIdx > exchangeIdx,
      "map-side combine must run below the shuffle\n" + p.take(2000))
  }

  test("qv_cosine_dedup: LSH-blocked pair scan is an equi-join, no cartesian") {
    val p = plan("qv_cosine_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("qv_ivf_ann: cell assignment argmin is partial-aggregated below the exchange") {
    val p = plan("qv_ivf_ann")
    val partialIdx = p.indexOf("partial_min")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > 0 && exchangeIdx > 0 && partialIdx > exchangeIdx,
      "the 16-way candidate fan-out must collapse map-side\n" + p.take(3000))
  }

  test("qt_minhash_lsh: banding join stays hash-based, no nested loop") {
    val p = plan("qt_minhash_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("whole-stage codegen covers the custom expressions (qip_funcs)") {
    val p = plan("qip_funcs")
    assert(p.contains("*("), "custom IP expressions must not break codegen")
  }

  test("qt_lsh_eval: pair scoring and candidate probe are hash joins — " +
    "no cartesian anywhere in the evaluation") {
    val p = plan("qt_lsh_eval")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("qj_interval_overlap: the hour-bucket decomposition turns the " +
    "time-overlap predicate into a HASH join — no nested loop") {
    val p = plan("qj_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("HashJoin"), "bucket equality must drive a hash join")
  }

  test("qf_dictget: the dictionary probe is joinless — no join operator " +
    "of any kind in the plan") {
    val p = plan("qf_dictget")
    assert(p.contains("dictGet"), "probe must appear in the plan")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("qm_phash_dedup: Hamming-LSH band join is hash-based, no cartesian") {
    val p = plan("qm_phash_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_histogram: binning partial-aggregates below the exchange") {
    val p = plan("q_histogram")
    assert("partial_count".r.findFirstIn(p).isDefined ||
      p.contains("partial"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("qt_simhash: single exchange of |docs| rows — no position/bit explode") {
    val p = plan("qt_simhash")
    // one groupBy shuffle (plus AQE may show none for the tiny orderBy);
    // the old plan had TWO hashpartitioning exchanges and a Generate
    // between them
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
    val partialIdx = p.indexOf("partial_sum")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx && exchangeIdx > 0,
      "bit-count sums must partial-aggregate map-side\n" + p.take(3000))
  }

  test("qv_lsh_multitable: bucket join is broadcast-hash, no cartesian") {
    val p = plan("qv_lsh_multitable")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("sink reads prune date partitions: a date filter never scans other days") {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_prune_spec").toString + "/t"
    val rows = Seq(("2024-01-01", "out", 1L), ("2024-01-02", "out", 2L),
      ("2024-01-03", "in", 3L))
      .toDF("d", "direction", "bytes")
      .withColumn("date", to_date(col("d"))).drop("d")
      .withColumn("interval_start", col("date").cast("timestamp"))
      .withColumn("proto_name", lit("tcp"))
      .withColumn("local_app", lit("a")).withColumn("remote_app", lit("b"))
      .withColumn("local_pod", lit("p")).withColumn("remote_pod", lit("q"))
    graft.sink.TxTable.append(spark, rows, path)
    val q = graft.sink.TxTable.read(spark, path)
      .filter(col("date") === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined,
      "date predicate must reach partition pruning\n" + plan.take(2000))
    // pruning is real, not cosmetic: exactly one partition's files scanned
    val files = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(files == Seq(1), s"expected 1 selected partition, got $files")
  }

  test("qv_kmeans_step: centroid update partial-aggregates below the exchange") {
    val p = plan("qv_kmeans_step")
    val partialIdx = p.indexOf("partial_sum")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx && exchangeIdx > 0,
      "the 64-wide (cell, pos) rollup must collapse map-side\n" + p.take(3000))
  }

  test("qt_bpe: vocab tokenizer runs inside codegen, no UDF, no join") {
    val p = plan("qt_bpe")
    assert(p.contains("bpe_count"), p.take(2000))
    assert(!p.contains("UDF"), "greedy tokenizer must be a native expression")
    assert(!p.contains("Join"), "vocab rides as a reference object, not a join")
  }

  test("qp_bloom_decontam: bloom probe is codegen-native, no ScalaUDF") {
    // the prefilter that drops ~99% of train shingles BEFORE the
    // exchange must itself be free: BloomFilterMightContain inside
    // whole-stage codegen, never a boxed udf((String) => Boolean)
    val p = plan("qp_bloom_decontam")
    assert(!p.contains("UDF"),
      "bloom membership probe must be a native expression\n" + p.take(2000))
    assert(p.contains("might_contain"),
      "expected the BloomFilterMightContain probe in the plan\n" + p.take(2000))
  }

  test("q_compat_summap: map-combine aggregates partial BEFORE the " +
      "exchange — the wire carries combined maps, not row-level pairs") {
    val p = plan("q_compat_summap")
    val aggIdx = p.indexOf("ObjectHashAggregate")
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(aggIdx >= 0 && exIdx >= 0, p.take(2000))
    assert(p.indexOf("ObjectHashAggregate", exIdx) > exIdx,
      "partial ObjectHashAggregate must sit below the exchange\n" +
        p.take(3000))
    assert(!p.contains("Generate"),
      "no explode — the per-key combine happens inside the agg state\n" +
        p.take(2000))
  }

  test("q20_asof: as-of join is ONE exchange and zero join operators") {
    // the union-window formulation: both event kinds shuffle once on
    // user_id for the window; a range-join formulation would instead
    // explode quadratically per hot user
    val p = plan("q20_asof")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Join"), "as-of must not be a join\n" + p.take(2000))
  }

  test("q_compat_asof: the CH ASOF JOIN spelling reaches the same " +
      "one-exchange zero-join plan as q20_asof") {
    // rewriteAsof must not degrade the literal `ASOF JOIN` text into a
    // range join (quadratic per hot user) — same audit as q20_asof
    val p = plan("q_compat_asof")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Join"), "as-of must not be a join\n" + p.take(2000))
  }

  test("qt_diversity: zero hash exchange — the run-length fold stays a " +
      "pure map stage") {
    // the (doc,token) groupBy formulation would exchange |tokens| rows;
    // the sorted-array fold keeps everything per-row, so the only
    // exchange is the final presentation sort
    val p = plan("qt_diversity")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Generate"), "no token explode expected\n" + p.take(2000))
  }

  test("qp_bloom_decontam: bloom prefilter sits BELOW the bench join, " +
      "which broadcasts") {
    val p = plan("qp_bloom_decontam")
    // the probe must run in the scan-side filter, before any join —
    // pushing 99% of shingles out of the plan while it's still a map
    // stage — and the bench (build) side must broadcast, never shuffle
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val probeIdx = p.indexOf("might_contain")
    assert(joinIdx > 0, "bench join must be broadcast\n" + p.take(2000))
    assert(probeIdx > joinIdx,
      "bloom probe filter must appear below (after) the join node in " +
        "the plan tree\n" + p.take(3000))
  }

  test("qp_split/qp_chunk/qp_redact: per-row pipeline ops never hash-shuffle") {
    // split/chunk/redact are projections (+ generator); the only
    // exchange allowed is the final presentation sort's rangepartitioning
    Seq("qp_split", "qp_chunk", "qp_redact").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q\n" + p.take(2000))
    }
  }

  test("qp_tfidf: tf and df aggregations partial-aggregate map-side") {
    val p = plan("qp_tfidf")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(p.indexOf("partial_count") > exchangeIdx && exchangeIdx > 0,
      "token counts must collapse before the shuffle\n" + p.take(3000))
  }

  test("qp_domain_cap: one hash exchange total (the per-domain window), " +
    "no join of any kind") {
    val p = plan("qp_domain_cap")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      p.take(3000))
    assert(!p.contains("Join"), "a cap is a window, not a join\n" + p.take(2000))
  }

  test("qp_rarity: vocabulary joins broadcast (token instances never " +
    "shuffle); doc sums partial-aggregate below their exchange") {
    val p = plan("qp_rarity")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the vocab join must never sort-merge the fact side\n" + p.take(3000))
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(p.indexOf("partial_count") > exchangeIdx && exchangeIdx > 0,
      "per-doc sums must collapse before the shuffle\n" + p.take(3000))
  }

  test("qp_rarity: the broadcast build side is the CAPPED top-K vocabulary " +
    "(a top-k operator, never the full distinct-token table)") {
    val p = plan("qp_rarity")
    assert(p.contains("TakeOrderedAndProject"),
      "the vocab must be bounded by a top-k before it broadcasts\n" + p.take(3000))
  }

  test("qv_semdedup: the pair scan is a HASH equi-join on the cell — " +
    "never an unbounded cartesian (the only nested-loop joins are the " +
    "bounded 16-seed broadcast fan-outs); cell argmin partial-aggregates " +
    "below its exchange") {
    val p = plan("qv_semdedup")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("Join \\[cell".r.findFirstIn(p).isDefined &&
      p.contains("BroadcastHashJoin [cell"),
      "the within-cluster pair scan must hash-join on cell_id\n" + p.take(3000))
    // nested-loop joins may ONLY be the seed fan-outs (broadcast of the
    // 16 centroids) — every one must be a BuildRight Cross against a
    // broadcast, never a join of two fact-sized sides
    assert(!p.contains("BroadcastNestedLoopJoin BuildLeft"), p.take(3000))
    val partialIdx = p.indexOf("partial_min")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx && exchangeIdx > 0,
      "the 16-way seed fan-out must collapse map-side\n" + p.take(3000))
  }

  test("qp_url_dedup: canonicalization is a pure projection — one hash " +
    "exchange (the dedup groupBy), no join, partial-agg map-side") {
    val p = plan("qp_url_dedup")
    assert(!p.contains("Join"), "canonicalize+dedup must not join\n" + p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p.take(3000))
    val partialIdx = p.indexOf("partial_min")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx && exchangeIdx > 0,
      "keeper-id min must collapse below the shuffle\n" + p.take(3000))
  }

  test("qt_span_dedup: membership probe is a hash equi-join on the span " +
    "— no cartesian, no nested loop; window counts partial-aggregate") {
    val p = plan("qt_span_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val partialIdx = p.indexOf("partial_count")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx && exchangeIdx > 0, p.take(3000))
  }

  test("qp_invindex: the df 2..20 semi-join sits BELOW the posting-list " +
    "aggregation — no stopword array ever materializes") {
    val p = plan("qp_invindex")
    val semiIdx = p.indexOf("LeftSemi")
    val listIdx = p.indexOf("collect_list")
    assert(semiIdx > 0, "df pruning must be a semi-join\n" + p.take(3000))
    assert(listIdx > 0 && semiIdx > listIdx,
      "collect_list must aggregate only semi-join survivors " +
        "(plan prints top-down: the join belongs under the agg)\n" + p.take(3000))
  }

  test("q_compat_nptest: MWU + KS rewrite runs on ONE hash exchange — " +
    "rank windows, ECDF windows, and the final aggregate all reuse the " +
    "user_id partitioning") {
    val p = plan("q_compat_nptest")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      p.take(2000))
  }

  test("q_compat_ema: the EMA rewrite's max-anchor window adds no " +
    "second exchange") {
    val p = plan("q_compat_ema")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      p.take(3000))
  }

  test("q_compat_mlreg: the Gram-state fit partial-aggregates below " +
    "the exchange (states cross the wire, not rows)") {
    val p = plan("q_compat_mlreg")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("partial")
    assert(exchangeIdx > 0 && partialIdx > exchangeIdx,
      "partial aggregation must sit below the exchange " +
        "(plan prints top-down)\n" + p.take(3000))
  }

  test("q_compat_decayed: the decayed-window rewrite costs exactly the " +
    "two shuffles its shape implies (rollup agg on (user, t), window " +
    "repartition on user) — no join, no extra exchange") {
    val p = plan("q_compat_decayed")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      p.take(3000))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("q_compat_maps / q_compat_r14misc: the scalar tiers are pure " +
    "per-row projections over one DISTINCT exchange — no join on the " +
    "map/misc side") {
    Seq("q_compat_maps", "q_compat_r14misc").foreach { g =>
      val p = plan(g)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"$g\n" + p.take(3000))
      assert(!p.contains("CartesianProduct"), s"$g\n" + p.take(2000))
    }
  }

  test("q_compat_r14arr: the bitmap folds partial-aggregate below the " +
    "exchange (set states cross the wire, not event rows)") {
    val p = plan("q_compat_r14arr")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("partial_groupBitmap")
    assert(exchangeIdx > 0 && partialIdx > exchangeIdx,
      "partial bitmap fold must sit below the exchange " +
        "(plan prints top-down)\n" + p.take(3000))
  }

  test("qf_dictget_range: the range probe is joinless, inside " +
    "whole-stage codegen") {
    val p = plan("qf_dictget_range")
    assert(!p.contains("Join"), p.take(2000))
    // the *(N) stage marker on the projection holding the probe IS
    // the whole-stage-codegen proof under AQE rendering
    assert("""\*\(\d+\) Project \[.*dictGetRange""".r
      .findFirstIn(p).isDefined, p.take(2000))
  }
}
