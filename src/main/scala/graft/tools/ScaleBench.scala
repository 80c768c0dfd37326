package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.flow.{FlowConfig, FlowPipeline, SyntheticFlows}
import graft.sink.{Bloom, BloomStore, TxFileIndex, TxTable}

/** The empirical scale point behind SCALE.md: runs the flow pipeline,
  * the tx-table append, the Bloom point-lookup, the targeted MERGE,
  * and the token-Bloom probe at 1x and Nx (default 10x) of the given
  * corpus, recording wall time, rows, shuffle read/write bytes, input
  * bytes, file counts, and skip rates — so the "would this hold at
  * 100 TB" claims rest on a measured scaling curve, not only on plan
  * audits at sf0.1.
  *
  * The Nx corpus is N shifted copies of the base events (event_id
  * offset per copy keeps IP/pod diversity; ts offset by i seconds
  * keeps minute windows overlapping), built as a PLAN — facts scale,
  * dims stay informer-sized, exactly the production shape. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.ScaleBench" [factors...]
  *
  * Emits one JSON object per (factor, step) to stdout and the full
  * array to SCALE_RESULTS.json.
  */
object ScaleBench {
  /** Cluster-wide task-metric totals between [[reset]]s. */
  private class Acc extends SparkListener {
    val shufW = new AtomicLong
    val shufR = new AtomicLong
    val input = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        input.addAndGet(m.inputMetrics.bytesRead)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }
    }
    def reset(): Unit = {
      shufW.set(0); shufR.set(0); input.set(0)
      memSpill.set(0); diskSpill.set(0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10)
    // SPARK_GRAFT_SHUFFLE_PARTS decouples shuffle parallelism from
    // thread count: on a real cluster partitions scale WITH data, so
    // the high-factor arms need more partitions than cores to keep
    // per-task state flat (the 300× append sizing experiment)
    val shufParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val spark = graft.Graft.session(s"local[$cpus]", "graft-scale-bench",
      shufParts.toInt, Map("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def record(factor: Int, step: String, sec: Double, rows: Long,
        extra: (String, String)*): Unit = {
      val base = Seq(
        "factor" -> factor.toString, "step" -> ("\"" + step + "\""),
        "sec" -> f"$sec%.3f", "rows" -> rows.toString,
        "rows_per_s" -> (if (sec > 0) f"${rows / sec}%.0f" else "-1"),
        "shuffle_write_mb" -> f"${acc.shufW.get / 1e6}%.1f",
        "shuffle_read_mb" -> f"${acc.shufR.get / 1e6}%.1f",
        "input_mb" -> f"${acc.input.get / 1e6}%.1f",
        "spill_mem_mb" -> f"${acc.memSpill.get / 1e6}%.1f",
        "spill_disk_mb" -> f"${acc.diskSpill.get / 1e6}%.1f")
      val j = (base ++ extra).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
      println(s"[scale] $j")
      out += j
    }
    def timed[A](f: => A): (A, Double) = {
      acc.reset()
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val baseEvents = graft.Tables.events(spark, sfDir)
    val pods = SyntheticFlows.pods(spark, sfDir)
    val nodes = SyntheticFlows.nodes(spark, sfDir)
    val prefixes = SyntheticFlows.prefixes(spark, sfDir)
    val docsBase = graft.Tables.documents(spark, sfDir)

    // warmup: one full pipeline pass absorbs JVM/codegen startup
    noop(FlowPipeline.run(SyntheticFlows.flowsFromEvents(baseEvents),
      pods, nodes, prefixes, FlowConfig()))

    // SPARK_GRAFT_SCALE_ONLY=flows,textdedup,semdedup (comma list)
    // restricts the run to named sections — the high-factor semdedup
    // crossover arms would otherwise pay for 100x event pipelines they
    // don't measure
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def enabled(section: String): Boolean = only.forall(_.contains(section))

    // 10M shift: disjoint id spaces per copy, yet small enough that
    // flowsFromEvents' id*2654435761 hash stays inside Long under
    // ANSI arithmetic (100 copies -> 1e9 ids, x2.65e9 < Long.Max)
    def scaledEvents(factor: Int): DataFrame =
      if (factor == 1) baseEvents
      else (0 until factor).map(i => baseEvents.select(
        (col("event_id") + lit(i * 10000000L)).as("event_id"),
        (col("ts") + expr(s"INTERVAL $i SECONDS")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))
        .reduce(_ unionByName _)

    factors.foreach { factor =>
      if (enabled("flows")) {
      val events = scaledEvents(factor)
      val nEvents = events.count()

      // 1. the full flow pipeline (filter/label/direction/LPM/fan-out/
      //    sum), facts scaled, dims fixed
      val summed = FlowPipeline.run(SyntheticFlows.flowsFromEvents(events),
        pods, nodes, prefixes, FlowConfig())
      val (_, pipeSec) = timed(noop(summed))
      record(factor, "pipeline", pipeSec, nEvents)

      // 2. transactional append of the summed table (stage + footer
      //    stats + bloom/token sidecars + commit)
      val scratch = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_scale_${factor}x")
      org.apache.commons.io.FileUtils.deleteDirectory(scratch)
      val table = s"$scratch/t"
      val (groups, appendSec) = timed {
        TxTable.append(spark, summed, table)
        TxTable.read(spark, table).count()
      }
      val live = TxTable.liveFiles(spark, table)
      val logBytes = {
        val log = new java.io.File(s"$table/_txlog")
        Option(log.listFiles()).getOrElse(Array.empty).map(_.length).sum
      }
      record(factor, "append", appendSec, groups,
        "files" -> live.size.toString, "log_bytes" -> logBytes.toString)

      // 3. Bloom point lookup on local_pod (outside the sort key:
      //    min/max can never skip; only the filter can). Skip rate is
      //    the skipper's own may-contain count over resolved log stats.
      val pod = TxTable.read(spark, table)
        .filter(col("local_pod").isNotNull)
        .select("local_pod").orderBy("local_pod").limit(1)
        .collect().head.getString(0)
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(pod),
          org.apache.spark.sql.types.StringType)), 42L)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
      val metas = TxTable.liveStatsResolved(spark, table)
      val mayContain = metas.values.count(m =>
        m.stats.get("local_pod") match {
          case Some(st) if st.typ == 'b' =>
            Bloom.mayContain(st.min, st.max, h)
          case _ => true
        })
      val (podRows, lookupSec) = timed {
        TxFileIndex.readV2(spark, table)
          .filter(col("local_pod") === pod)
          .agg(sum("bytes"), count(lit(1))).collect().head.getLong(1)
      }
      record(factor, "bloom_lookup", lookupSec, podRows,
        "files_total" -> metas.size.toString,
        "files_kept" -> mayContain.toString,
        "skip_rate" -> f"${1.0 - mayContain.toDouble / metas.size}%.3f")

      // 4. targeted MERGE: re-state ONE pod's rows (the operator
      //    debugging correction) — candidate pruning via date/minmax/
      //    bloom, semi-join discovery, copy-on-write of touched files
      val keys = summed.columns.toSeq
        .filterNot(Set("bytes", "packets", "n_obs"))
      val src = TxTable.read(spark, table)
        .filter(col("local_pod") === pod)
        .withColumn("bytes", col("bytes") + 1)
      val (_, mergeSec) = timed {
        TxTable.merge(spark, src, table, keys)
      }
      val touched = {
        import spark.implicits._
        TxTable.history(spark, table)
          .orderBy(col("version").desc).select("n_removed")
          .as[Long].head()
      }
      record(factor, "merge_restate", mergeSec, podRows,
        "candidates" -> TxTable.lastMergeCandidates.toString,
        "files_total" -> metas.size.toString,
        "files_rewritten" -> touched.toString)

      // 5. token-Bloom probe over the scaled documents corpus
      val docs =
        if (factor == 1) docsBase
        else (0 until factor).map(i => docsBase
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
          .reduce(_ unionByName _)
      val dscratch = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_scale_docs_${factor}x")
      org.apache.commons.io.FileUtils.deleteDirectory(dscratch)
      val dtable = s"$dscratch/t"
      val staged = docs.select(
        date_add(lit("2024-01-01").cast("date"),
          (col("doc_id") % 7).cast("int")).as("date"),
        col("doc_id"), col("text"))
      val (_, dAppendSec) = timed(TxTable.append(spark, staged, dtable))
      val nDocs = docs.count()
      record(factor, "docs_append_tokenindex", dAppendSec, nDocs)
      val tok = docsBase
        .select(explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) > 0)
        .groupBy("t").count().orderBy(col("count"), col("t"))
        .limit(1).collect().head.getString(0)
      val th = new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(tok),
          org.apache.spark.sql.types.StringType)), 42L)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
      val dmetas = TxTable.liveStatsResolved(spark, dtable)
      val dKeep = dmetas.values.count(m =>
        m.stats.get("text#tok") match {
          case Some(st) if st.typ == 'b' =>
            Bloom.mayContain(st.min, st.max, th)
          case _ => true
        })
      val (tokRows, tokSec) = timed {
        TxFileIndex.readV2(spark, dtable)
          .filter(graft.functions.ipfns.has_token(col("text"), lit(tok)))
          .agg(count(lit(1))).collect().head.getLong(0)
      }
      record(factor, "token_bloom_probe", tokSec, tokRows,
        "files_total" -> dmetas.size.toString,
        "files_kept" -> dKeep.toString,
        "skip_rate" -> f"${1.0 - dKeep.toDouble / dmetas.size}%.3f")

      org.apache.commons.io.FileUtils.deleteDirectory(scratch)
      org.apache.commons.io.FileUtils.deleteDirectory(dscratch)
      BloomStore.clearCache()
      }

      if (enabled("textdedup")) {
      // 6-7. MinHash-LSH dedup at scale — the subquadratic claims of
      //    TextQueries measured, not just plan-audited. Each corpus
      //    copy is TOKEN-SALTED (every inter-word gap gains a copy
      //    marker token) so copies do not cross-collide: dup density
      //    per copy is unchanged and candidate pairs must grow
      //    ~linearly with the corpus, never quadratically. Every 7th
      //    doc per copy is duplicated so each copy carries real
      //    positives.
      // salt by SUFFIXING every token (w -> w_x<i>): shingles keep
      // their full 3-word selectivity (an inserted marker token would
      // produce (x,w,x) shingles that depend on ONE word and collapse
      // within-copy selectivity into a fake quadratic blowup), while
      // copies stay pairwise disjoint
      val saltedDocs = (0 until factor).map { i =>
        val txt = if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1x$i")
        val one = docsBase.select(
          (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
          txt.as("text"))
        one.unionByName(one.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("text")))
      }.reduce(_ unionByName _)
      val banded = graft.queries.TextQueries.minhashBanded(
        graft.queries.TextQueries.shingles(saltedDocs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (nBanded, idxSec) = timed(banded.count())
      record(factor, "lsh_index_build", idxSec, nBanded)
      // banded equi-join: the candidate-generation step whose shuffle
      // carries |docs|x bands rows — pair count is the claim under test
      val (lshPairs, lshSec) = timed {
        val a = banded.toDF("a_id", "band", "bh")
        val b = banded.toDF("b_id", "band2", "bh2")
        a.join(b, col("band") === col("band2") && col("bh") === col("bh2") &&
            col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct().count()
      }
      record(factor, "lsh_candidates", lshSec, lshPairs)
      // incremental ingest dedup: new batch (80%) vs the MATERIALIZED
      // index (20%) — new-batch x index lookups, never corpus x corpus
      val (nMatched, incrSec) = timed {
        val idx = banded.filter(col("doc_id") % 5 === 0)
          .toDF("c_id", "band", "bh")
        val fresh = banded.filter(col("doc_id") % 5 =!= 0)
          .toDF("n_id", "band2", "bh2")
        fresh.join(idx,
            col("band2") === col("band") && col("bh2") === col("bh"))
          .groupBy("n_id").agg(countDistinct("c_id")).count()
      }
      record(factor, "incr_dedup", incrSec, nMatched)
      banded.unpersist(blocking = false)
      }

      if (enabled("semdedup")) {
      // 8. SemDeDup at scale: cluster-then-compare with k GROWN with
      //    the corpus (16 cells per copy — the documented requirement
      //    that k ∝ N keeps per-cell pair work flat). Copies are
      //    ROTATED component-wise (norm-preserving, cross-copy cosine
      //    ~random) so the within-copy near-dup structure repeats per
      //    copy and confirmed pairs must grow ~linearly.
      val embBase = graft.Tables.embeddings(spark, sfDir)
      val emb = (0 until factor).map { i =>
        // rotation works for 64 copies; beyond that each copy also gets
        // a deterministic per-copy SIGN vector (Knuth-hash pattern) —
        // both transforms are orthogonal (norm- and within-copy-cosine-
        // preserving) while cross-copy cosines stay ~random
        val r = i % 64
        val rotSql = if (r == 0) "embedding"
          else s"concat(slice(embedding, ${r + 1}, ${64 - r}), " +
            s"slice(embedding, 1, $r))"
        val v = if (i < 64) expr(rotSql)
          else expr(s"zip_with($rotSql, sequence(1, 64), " +
            s"(x, c) -> x * CASE WHEN (c * 2654435761 + $i) % 97 < 48 " +
            s"THEN 1 ELSE -1 END)")
        val one = embBase.select(
          (col("vec_id") + lit(i * 100000000L)).as("vec_id"),
          v.as("embedding"))
        // every 10th vector duplicated exactly (the qv_semdedup corpus
        // shape) so each copy carries real near-dup positives
        one.unionByName(one.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 50000000L).as("vec_id"),
            col("embedding")))
      }.reduce(_ unionByName _)
      val quant = emb.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("q"))
        .withColumn("nrm",
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      quant.count() // materialize outside the timed windows
      val seeds = quant.filter(col("vec_id") % 100000000L < 16)
        .select(col("vec_id").as("cell_id"), col("q").as("sq"),
          col("nrm").as("snrm"))
      val k = 16 * factor
      // 8a. the O(N·k) brute argmin being REPLACED — kept as the
      //     baseline arm so the routed win is a measured delta, not a
      //     claim (this is the cell SCALE.md item 9 flagged: 9x cost
      //     per 3x data once k ∝ N)
      val (nBrute, bruteSec) = timed {
        quant.crossJoin(broadcast(seeds))
          .withColumn("dot_s",
            expr("aggregate(zip_with(q, sq, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
          .withColumn("d2", col("nrm") + col("snrm") - lit(2) * col("dot_s"))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cell_id"))).as("m"))
          .count()
      }
      record(factor, "semdedup_assign_brute", bruteSec, nBrute,
        "cells" -> k.toString)
      // 8b. the routed O(N·B) assignment now wired into qv_semdedup:
      //     B = ceil(log2(k)) sign bits hold seeds-per-bucket at O(1),
      //     so per-vector work is B+1 probes x O(1) exact dots — the
      //     curve that must stay ~linear as k ∝ N
      val bits = math.max(4,
        32 - Integer.numberOfLeadingZeros(math.max(1, k - 1)))
      val pos = graft.queries.VectorQueries.routingPositions(bits)
      // materialized once, as production would (SemDeDup persists its
      // cluster assignment before the pair scan): the assign step is
      // timed as the materialization, and the pair step then measures
      // the pair JOIN itself rather than 2x assignment recompute
      val routedA = graft.queries.VectorQueries
        .routedAssign(quant, seeds, pos)
        .select(col("vec_id"), col("cell_id").as("cell"), col("q"),
          col("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (nRouted, routedSec) = timed { routedA.count() }
      record(factor, "semdedup_assign_routed", routedSec, nRouted,
        "cells" -> k.toString, "bits" -> bits.toString)
      // candidate-count curve: the quantity that decides whether the
      // routing stays linear — expected ≈ N·(B+1)·k/2^B·skew, where
      // skew (~5x on this corpus) is the sign-code concentration
      val (nCand, candSec) = timed {
        graft.queries.VectorQueries
          .routedCandidates(quant, seeds, pos).count()
      }
      record(factor, "semdedup_routed_cand", candSec, nCand,
        "cells" -> k.toString, "bits" -> bits.toString)
      // 8c. within-cell pair scan over the ROUTED assignment (the
      //     production composition)
      val (semPairs, semSec) = timed {
        val a = routedA.toDF("a_id", "cell", "qa", "qn")
        val b = routedA.toDF("b_id", "cell2", "na", "nn")
        a.join(b, col("cell") === col("cell2") && col("a_id") < col("b_id"))
          .withColumn("dot",
            expr("aggregate(zip_with(qa, na, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
          .withColumn("cos_bp", round(col("dot") * 10000 /
            sqrt(col("qn").cast("double") * col("nn").cast("double")), 0)
            .cast("long"))
          .filter(col("cos_bp") >= 9900)
          .count()
      }
      record(factor, "semdedup_pairs", semSec, semPairs,
        "cells" -> k.toString)
      routedA.unpersist(blocking = false)
      quant.unpersist(blocking = false)
      }

      if (enabled("ivfpqrecall")) {
      // 9. IVF-PQ serve-from-codes QUALITY at scale (the qv_recall
      //    pattern applied to the standing index of qv_ivfpq_incr):
      //    recall@3 of the ADC top-k against exact brute top-k, per
      //    query, as a NUMBER — production tunes cells/nprobe against
      //    exactly this measurement. Corpus scaled with the semdedup
      //    rotation/sign recipe (norm-preserving, cross-copy cosine
      //    ~random), cells grown k ∝ N, codebook FROZEN from the base
      //    copy (the train-then-add contract). Two nprobe arms make
      //    the recall/probe-cost trade a curve, not a point.
      val embBase = graft.Tables.embeddings(spark, sfDir)
      // SPARK_GRAFT_SCALE_CORPUS selects the corpus geometry:
      //  isotropic (default) — the rotation/sign-flip recipe below:
      //    norm-preserving, cross-copy cosine ~random, the WORST case
      //    for IVF (cells correlate weakly with neighborhoods);
      //  clustered — a 64-center mixture (the textbook
      //    mixture-of-Gaussians construction, deterministic from
      //    vec_id alone): center components uniform in [-1,1] from a
      //    per-(cluster,dim) hash, plus 0.35-amplitude per-vector
      //    noise, giving intra-cluster cosine ~0.89 and inter-cluster
      //    ~0 — the shape real embedding corpora have, where coarse
      //    cells DO align with cosine neighborhoods. The round-15
      //    caveat ("clustered real-world embeddings need far fewer
      //    probes" — stated, unmeasured) is measured on this arm.
      //  planted — the clustered corpus PLUS 3 planted near-dups per
      //    query vector (0.03-amplitude perturbations ≈ 10× closer
      //    than the noise floor): the DEDUP workload's ground truth,
      //    which stays MEANINGFUL at any density. The flat clustered
      //    corpus at 300× has ~9,400 near-ties per cluster, so exact
      //    top-3 is a needle-in-noise no code width can rank (the
      //    round-16 measurement: recall collapses and inverts) —
      //    whereas production ANN/dedup asks for things MUCH closer
      //    than background, which is what this arm scores.
      val corpusKind =
        sys.env.getOrElse("SPARK_GRAFT_SCALE_CORPUS", "isotropic")
      val corpusTag =
        if (corpusKind == "isotropic") "" else s"_$corpusKind"
      def clusteredRows(n: Long): DataFrame =
        spark.range(n)
          .select(col("id").as("vec_id"), expr(
            "transform(sequence(1, 64), j -> CAST(" +
              "(pmod(xxhash64(pmod(xxhash64(vec_id), 64), j), 2001)" +
              " - 1000) / 1000.0 + 0.35 * " +
              "(pmod(xxhash64(vec_id, j, 42), 2001) - 1000) / 1000.0" +
              " AS FLOAT))").as("embedding"))
      val emb = corpusKind match {
        case "clustered" =>
          val nBase = embBase.count()
          clusteredRows(nBase * factor)
        case "planted" =>
          val nBase = embBase.count()
          val planted = spark.range(30).select(
            (col("id") + lit(nBase * factor)).as("vec_id"), expr(
              "transform(sequence(1, 64), j -> CAST(" +
                "(pmod(xxhash64(pmod(xxhash64(id div 3), 64), j), " +
                "2001) - 1000) / 1000.0 + 0.35 * " +
                "(pmod(xxhash64(id div 3, j, 42), 2001) - 1000) " +
                "/ 1000.0 + 0.03 * " +
                "(pmod(xxhash64(id + 777, j, 43), 2001) - 1000) " +
                "/ 1000.0 AS FLOAT))").as("embedding"))
          clusteredRows(nBase * factor).unionByName(planted)
        case _ => (0 until factor).map { i =>
          val r = i % 64
          val rotSql = if (r == 0) "embedding"
            else s"concat(slice(embedding, ${r + 1}, ${64 - r}), " +
              s"slice(embedding, 1, $r))"
          val v = if (i < 64) expr(rotSql)
            else expr(s"zip_with($rotSql, sequence(1, 64), " +
              s"(x, c) -> x * CASE WHEN (c * 2654435761 + $i) % 97 < 48 " +
              s"THEN 1 ELSE -1 END)")
          embBase.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
            v.as("embedding"))
        }.reduce(_ unionByName _)
      }
      val quant = emb.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
            " * 10000) AS BIGINT))").as("q"))
        .withColumn("nrm",
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpusN = quant.count()
      val k = 16 * factor
      // PQ geometry: 16 subspaces × 4 dims × 256 codes = 128-bit
      // codes (16 B/vector vs 256 B raw — 16× compression, the
      // scan-from-codes economics hold at 100 TB). Round-14
      // measurement on this corpus: 4×16 (16-bit) quantizes away 77%
      // of vector energy — ADC recall@3 caps at ~7% however the
      // codebook is trained; 8×256 reaches rerank-128 recall 0.97 at
      // 1× but only 0.47 at 30×; 16×256 holds ≥0.90 at 30× with the
      // k/4-probe rerank serve shape (driver replay, n=60k). This
      // corpus is ADVERSARIAL for IVF — rotated/sign-flipped copies
      // are near-isotropic, so coarse cells correlate weakly with
      // cosine neighborhoods and the probe fraction must be generous;
      // clustered real-world embeddings need far fewer probes.
      // SPARK_GRAFT_PQ_M widens the code: m=16 (16 B/vec, the shipped
      // default) vs m=32 (32 B/vec, 8x compression) — the round-15
      // codes-only-recall experiment. Non-default geometries suffix
      // every step name so the curves stay separable in the artifact.
      val mSub = sys.env.getOrElse("SPARK_GRAFT_PQ_M", "16").toInt
      require(64 % mSub == 0, s"PQ_M must divide 64, got $mSub")
      val pqTag =
        (if (mSub == 16) "" else s"_m$mSub") + corpusTag
      val subDim = 64 / mSub
      val nCodes = 256
      def subExpr(src: String, field: String) =
        s"transform(sequence(0, ${mSub - 1}), m -> named_struct(" +
          s"'m', m, '$field', slice($src, m * $subDim + 1, $subDim)))"
      def dotAgg(a: String, b: String) =
        expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
      // 9-pre. TRAIN the index the way the SHIPPED index is built
      //    (round-14: the previous arm seeded coarse cells from
      //    16·factor sampled raw rows and took the first 16 rows'
      //    subvectors as the PQ codebook — an UNTRAINED codebook whose
      //    quantization noise swamped the ADC ranking and produced
      //    recall@3 of 13–27% with nprobe-INVERTED curves: a quality
      //    number for an index nobody ships — and, worse, the queries
      //    were rows 0–9 of the same first-16 block, so what recall it
      //    DID show was the codebook containing the queries). Here:
      //    FAISS's train-then-add contract — Lloyd k-means on
      //    deterministic hash samples (coarse: 1/8 of the corpus,
      //    ~64 rows per cell; PQ: ~16 rows per code), centers FROZEN,
      //    then the whole corpus encoded against them. Every Lloyd
      //    update is distributed (sample × broadcast centers); only
      //    the centroid arrays come to the driver per iteration —
      //    metadata-scale by construction, annotated.
      val sample = quant
        .filter(pmod(xxhash64(col("vec_id")), lit(8)) === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSample = sample.count()
      def centersDf(cs: Seq[(Int, Array[Long])]) =
        spark.createDataFrame(cs.map { case (cid, a) =>
          (cid, a.toSeq, a.map(v => v * v).sum) })
          .toDF("cell_id", "sq", "snrm")
      def pqDf(cs: Seq[((Int, Int), Array[Long])]) =
        spark.createDataFrame(cs.map { case ((m, code), a) =>
          (m, code, a.toSeq) }).toDF("m", "code", "csub")
      var coarseC: Seq[(Int, Array[Long])] = null
      var pqC: Seq[((Int, Int), Array[Long])] = null
      val (_, trainSec) = timed {
        // coarse init: k hash-spread sample rows (deterministic)
        coarseC = sample
          .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
          .select("q").collect().toSeq.zipWithIndex
          .map { case (r, i) => i -> r.getSeq[Long](0).toArray }
        (1 to 3).foreach { _ =>
          val upd = sample.crossJoin(broadcast(centersDf(coarseC)))
            .withColumn("dot_s", dotAgg("q", "sq"))
            .withColumn("cd2",
              col("nrm") + col("snrm") - lit(2) * col("dot_s"))
            .groupBy("vec_id")
            .agg(min(struct(col("cd2"), col("cell_id"))).as("a"),
              first(col("q")).as("q"))
            .select(col("a.cell_id").as("cell_id"), col("q"))
            .select(col("cell_id"),
              posexplode(col("q")).as(Seq("pos", "c")))
            .groupBy("cell_id", "pos")
            .agg(expr("sum(c) div count(1)").as("cv"))
            .collect()
          val updated = upd.groupBy(_.getInt(0)).map { case (cid, rs) =>
            val arr = new Array[Long](64)
            rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
            cid -> arr
          }
          // a cell that lost every member keeps its old center
          coarseC = coarseC.map { case (cid, old) =>
            cid -> updated.getOrElse(cid, old) }
        }
        // PQ codebook: per subspace m, nCodes codes over the training
        // sample's subDim-dim subvectors — init hash-spread, Lloyd ×3.
        // The PQ sample is sized to ~16 rows per code (independent of
        // the coarse 1/8 sample: 256 codes need more rows per code
        // than 16·factor cells do)
        val pqP = math.max(1L, corpusN / (16L * nCodes))
        val pqSample =
          if (pqP <= 1) quant
          else quant.filter(pmod(xxhash64(col("vec_id")), lit(pqP)) === 0)
        val subsS = pqSample.select(col("vec_id"),
            explode(expr(subExpr("q", "sub"))).as("e"))
          .select(col("vec_id"), col("e.m").as("m"),
            col("e.sub").as("sub"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pqC = subsS.withColumn("rn", row_number().over(
            Window.partitionBy("m")
              .orderBy(xxhash64(col("vec_id")), col("vec_id"))))
          .filter(col("rn") <= nCodes)
          .select("m", "rn", "sub").collect().toSeq
          .map(r => (r.getInt(0), r.getInt(1) - 1) ->
            r.getSeq[Long](2).toArray)
        (1 to 3).foreach { _ =>
          val upd = subsS.join(broadcast(pqDf(pqC)), "m")
            .withColumn("d2", expr(
              "aggregate(zip_with(sub, csub, (x, y) -> (x - y) * " +
                "(x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
            .groupBy("vec_id", "m")
            .agg(min(struct(col("d2"), col("code"))).as("a"),
              first(col("sub")).as("sub"))
            .select(col("m"), col("a.code").as("code"),
              posexplode(col("sub")).as(Seq("pos", "c")))
            .groupBy("m", "code", "pos")
            .agg(expr("sum(c) div count(1)").as("cv"))
            .collect()
          val updated = upd.groupBy(r => (r.getInt(0), r.getInt(1)))
            .map { case (key, rs) =>
              val arr = new Array[Long](subDim)
              rs.foreach(r => arr(r.getInt(2)) = r.getLong(3))
              key -> arr
            }
          pqC = pqC.map { case (key, old) =>
            key -> updated.getOrElse(key, old) }
        }
        subsS.unpersist(blocking = false)
      }
      sample.unpersist(blocking = false)
      record(factor, s"ivfpq_train$pqTag", trainSec, nSample,
        "cells" -> k.toString, "pq" -> s""""${mSub}x$nCodes"""")
      val seeds = centersDf(coarseC)
      val cent = pqDf(pqC)
      // 9a. index build: coarse argmin + per-subspace code argmin —
      //     what qv_ivfpq_incr does per-batch, here over the whole
      //     corpus. BOTH argmins are per-row folds over BROADCAST
      //     center arrays (array_min over transform), not joins: the
      //     r13 join formulation blew each corpus row up k× (coarse)
      //     and nCodes× (PQ) through a shuffle — 123M intermediate
      //     rows and 14 GB of spill at 30× — where the fold is the
      //     map-only O(N·k) pass a 1000-executor cluster wants.
      val seedsArr = broadcast(seeds.agg(collect_list(
        struct(col("cell_id"), col("sq"), col("snrm"))).as("cents")))
      val centByM = broadcast(cent.groupBy("m").agg(
        collect_list(struct(col("code"), col("csub"))).as("cbs")))
      val coarseDists =
        "transform(cents, c -> named_struct(" +
          "'cd2', nrm + c.snrm - 2 * aggregate(" +
          "zip_with(q, c.sq, (x, y) -> x * y), CAST(0 AS BIGINT), " +
          "(a2, v) -> a2 + v), 'cell_id', c.cell_id))"
      val coarseMin = s"array_min($coarseDists)"
      var codes: DataFrame = null
      val (nCodeRows, buildSec) = timed {
        val assigned = quant.crossJoin(seedsArr)
          .withColumn("a", expr(coarseMin))
          .select(col("vec_id"), col("a.cell_id").as("cell_id"),
            col("q"))
        val sub = assigned.select(col("vec_id"), col("cell_id"),
          explode(expr(subExpr("q", "sub"))).as("e"))
          .select(col("vec_id"), col("cell_id"), col("e.m").as("m"),
            col("e.sub").as("sub"))
        codes = sub.join(centByM, "m")
          .withColumn("a", expr(
            "array_min(transform(cbs, cc -> named_struct(" +
              "'d2', aggregate(zip_with(sub, cc.csub, " +
              "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), " +
              "(a2, v) -> a2 + v), 'code', cc.code)))"))
          .select(col("vec_id"), col("cell_id"), col("m"),
            col("a.code").as("code"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        codes.count()
      }
      record(factor, s"ivfpq_index_build$pqTag", buildSec, nCodeRows,
        "cells" -> k.toString)
      // 9b. exact brute top-3 per query — the ground truth arm
      val qs = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("q").as("qa"),
          col("nrm").as("qn"))
      val wB = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      var brute: DataFrame = null
      val (nBrute, bruteSec) = timed {
        brute = quant.toDF("n_id", "na", "nn").crossJoin(broadcast(qs))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("dot", dotAgg("qa", "na"))
          .withColumn("cos", col("dot") /
            sqrt(col("qn").cast("double") * col("nn").cast("double")))
          .withColumn("rank", row_number().over(wB))
          .filter(col("rank") <= 3).select("q_id", "n_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        brute.count()
      }
      record(factor, s"ivfpq_brute_topk$pqTag", bruteSec, nBrute,
        "queries" -> "10")
      // 9c. serve from CODES alone (coarse probe + broadcast LUT +
      //     ADC), recall@3 vs brute — at two nprobe points
      val qcoarse = quant.filter(col("vec_id") < 10)
        .crossJoin(seedsArr)
        .select(col("vec_id"), explode(expr(coarseDists)).as("ce"))
        .select(col("vec_id"), col("ce.cell_id").as("cell_id"),
          col("ce.cd2").as("cd2"))
      val lutAll = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          explode(expr(subExpr("q", "qsub"))).as("e"))
        .select(col("q_id"), col("e.m").as("m"), col("e.qsub").as("qsub"))
        .join(broadcast(cent), "m")
        .withColumn("d2", expr(
          "aggregate(zip_with(qsub, csub, (x, y) -> (x - y) * (x - y))," +
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("q_id"), col("m"), col("code"), col("d2"))
      val recallByProbe =
        scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      // np4/np32 = the cheap-probe points; k/4 = the SAME probe budget
      // the rerank serve shape pays, so codes-only vs rerank reads as
      // a pure ADC-quality delta at equal probe cost
      Seq(4, 32, math.max(32, k / 4)).distinct.foreach { nprobe =>
        val wp = Window.partitionBy("vec_id")
          .orderBy(asc("cd2"), asc("cell_id"))
        val probes = qcoarse
          .withColumn("rn", row_number().over(wp))
          .filter(col("rn") <= nprobe)
          .select(col("vec_id").as("q_id"), col("cell_id").as("pcell"))
        val wA = Window.partitionBy("q_id").orderBy(asc("adc"), asc("vec_id"))
        val (recallBp, serveSec) = timed {
          val served = codes
            .join(broadcast(probes), col("cell_id") === col("pcell"))
            .filter(col("vec_id") =!= col("q_id"))
            .join(broadcast(lutAll), Seq("q_id", "m", "code"))
            .groupBy("q_id", "vec_id")
            .agg(sum("d2").as("adc"))
            .withColumn("rank", row_number().over(wA))
            .filter(col("rank") <= 3)
            .select(col("q_id"), col("vec_id").as("n_id"),
              lit(1L).as("hit"))
          val r = brute.join(served, Seq("q_id", "n_id"), "left")
            .agg((sum(coalesce(col("hit"), lit(0L))) * 10000 /
              count(lit(1))).cast("long").as("bp"))
            .collect().head.getLong(0)
          r
        }
        recallByProbe(nprobe) = recallBp
        record(factor, s"ivfpq_serve_np$nprobe$pqTag", serveSec, 10L,
          "cells" -> k.toString, "nprobe" -> nprobe.toString,
          "recall_bp" -> recallBp.toString)
      }
      // quality invariant: more probes must not LOSE recall — an
      // inverted curve means quantization noise is outranking true
      // neighbors (the untrained-codebook failure mode this arm used
      // to measure); surface it in the artifact, loudly
      val mono = recallByProbe(32) >= recallByProbe(4)
      if (!mono) System.err.println(
        s"[scale] WARN ivfpq recall INVERTED in nprobe at ${factor}x: " +
          s"np4=${recallByProbe(4)}bp np32=${recallByProbe(32)}bp")
      record(factor, s"ivfpq_recall_monotonic$pqTag", 0.0,
        if (mono) 1L else 0L,
        "np4_bp" -> recallByProbe(4).toString,
        "np32_bp" -> recallByProbe(32).toString)
      // 9d. the production serve shape: probe k/4 cells (generous by
      //     design — see the adversarial-corpus note above), take the
      //     ADC shortlist, exact-rerank ONLY the shortlist (reads
      //     ≤shortlist raw vectors per query, never the corpus —
      //     FAISS's refine stage; the ADC-only arms above are the
      //     honest lower bound). Documented default: shortlist 128.
      Seq(32, 128, 256).foreach { shortlist =>
        val nprobe = math.max(32, k / 4)
        val wp = Window.partitionBy("vec_id")
          .orderBy(asc("cd2"), asc("cell_id"))
        val probes = qcoarse
          .withColumn("rn", row_number().over(wp))
          .filter(col("rn") <= nprobe)
          .select(col("vec_id").as("q_id"), col("cell_id").as("pcell"))
        val wA = Window.partitionBy("q_id").orderBy(asc("adc"), asc("vec_id"))
        val wR = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
        val (recallBp, serveSec) = timed {
          val short = codes
            .join(broadcast(probes), col("cell_id") === col("pcell"))
            .filter(col("vec_id") =!= col("q_id"))
            .join(broadcast(lutAll), Seq("q_id", "m", "code"))
            .groupBy("q_id", "vec_id")
            .agg(sum("d2").as("adc"))
            .withColumn("rank", row_number().over(wA))
            .filter(col("rank") <= shortlist)
            .select(col("q_id"), col("vec_id").as("n_id"))
          val served = short
            .join(quant.toDF("n_id", "na", "nn"), "n_id")
            .join(broadcast(qs), "q_id")
            .withColumn("dot", dotAgg("qa", "na"))
            .withColumn("cos", col("dot") /
              sqrt(col("qn").cast("double") * col("nn").cast("double")))
            .withColumn("rr", row_number().over(wR))
            .filter(col("rr") <= 3)
            .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
          brute.join(served, Seq("q_id", "n_id"), "left")
            .agg((sum(coalesce(col("hit"), lit(0L))) * 10000 /
              count(lit(1))).cast("long").as("bp"))
            .collect().head.getLong(0)
        }
        record(factor, s"ivfpq_serve_rerank$shortlist$pqTag", serveSec, 10L,
          "cells" -> k.toString, "nprobe" -> nprobe.toString,
          "shortlist" -> shortlist.toString,
          "recall_bp" -> recallBp.toString)
      }
      brute.unpersist(blocking = false)
      codes.unpersist(blocking = false)
      quant.unpersist(blocking = false)
      }

      if (enabled("dv")) {
        // Deletion vectors vs copy-on-write: the same sparse DELETE
        // (~0.1% of rows, spread across every file) through both
        // paths. The claims under measurement: MoR write cost is
        // O(matched rows) — sidecar bytes stay ~flat per matched row
        // while CoW rewrite bytes grow with the touched-file bytes —
        // and the vectored-read tax (row-mode scan) is bounded and
        // fully recovered by purge.
        val ev = (if (factor == 1) baseEvents
          else (0 until factor).map(i => baseEvents.select(
            (col("event_id") + lit(i * 10000000L)).as("event_id"),
            (col("ts") + expr(s"INTERVAL $i SECONDS")).as("ts"),
            col("user_id"), col("event_type"), col("value")))
            .reduce(_ unionByName _))
          .select(to_date(col("ts")).as("date"), col("event_id"),
            col("event_type"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val pred = col("event_id") % 1000 === 7
        def freshTable(tag: String): String = {
          val dir = new java.io.File(sys.props("java.io.tmpdir"),
            s"graft_scale_dv_${tag}_${factor}x")
          org.apache.commons.io.FileUtils.deleteDirectory(dir)
          val t = s"$dir/t"
          TxTable.append(spark, ev, t)
          t
        }
        val matched = ev.filter(pred).count()

        val tCow = freshTable("cow")
        val (vCow, cowSec) = timed(TxTable.delete(spark, tCow, pred))
        val cowBytes = TxTable.history(spark, tCow)
          .filter(col("version") === vCow)
          .select("bytes_added").head.getLong(0)
        record(factor, "dv_cow_delete", cowSec, matched,
          "written_mb" -> f"${cowBytes / 1e6}%.1f")

        val tMor = freshTable("mor")
        val files = TxTable.liveStats(spark, tMor).size
        val (vMor, morSec) = timed(
          TxTable.deleteMergeOnRead(spark, tMor, pred))
        require(vMor > 0, "scale arm: MoR delete must commit")
        val sidecarBytes = TxTable.liveStats(spark, tMor).values
          .flatMap(m => graft.sink.DvStore.pointerOf(m.stats)).toSet
          .map((p: String) => new java.io.File(tMor,
            p.stripPrefix("@")).length).sum
        record(factor, "dv_mor_delete", morSec, matched,
          "written_mb" -> f"${sidecarBytes / 1e6}%.3f",
          "files" -> files.toString)

        // the read tax: clean (post-CoW, no vectors) vs vectored scan
        // of the same surviving rows, then purge and the recovery
        val (_, cleanScanSec) = timed(noop(TxTable.read(spark, tCow)))
        record(factor, "dv_scan_clean", cleanScanSec, matched)
        val (_, morScanSec) = timed(noop(TxTable.read(spark, tMor)))
        record(factor, "dv_scan_vectored", morScanSec, matched)
        val (_, purgeSec) = timed(TxTable.purgeDeletes(spark, tMor))
        record(factor, "dv_purge", purgeSec, matched)
        val (_, purgedScanSec) = timed(noop(TxTable.read(spark, tMor)))
        record(factor, "dv_scan_purged", purgedScanSec, matched)
      }

      if (enabled("ngramtax")) {
        // The ngram index's WRITE premium (the reason it is opt-in):
        // the same documents append with and without graft.ngramBloomBy
        // — the delta is the per-character 4-gram explode + filter
        // build. Read payoff is the qtx_ngrambloom gate's zero-file
        // scan; this arm prices the other side of the trade.
        val docs = (if (factor == 1) docsBase
          else (0 until factor).map(i => docsBase.select(
            (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            col("text"))).reduce(_ unionByName _))
          .select(to_date(lit("2024-01-01")).as("date"), col("doc_id"),
            col("text"))
        val nDocs = docs.count()
        def fresh(tag: String): String = {
          val dir = new java.io.File(sys.props("java.io.tmpdir"),
            s"graft_scale_ng_${tag}_${factor}x")
          org.apache.commons.io.FileUtils.deleteDirectory(dir)
          s"$dir/t"
        }
        val plain = fresh("plain")
        val (_, plainSec) = timed(TxTable.append(spark, docs, plain))
        record(factor, "ngram_append_plain", plainSec, nDocs)
        val indexed = fresh("indexed")
        TxTable.createTable(spark, indexed,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("date",
              org.apache.spark.sql.types.DateType),
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))),
          Seq("graft.ngramBloomBy" -> "text"))
        val (_, idxSec) = timed(TxTable.append(spark, docs, indexed))
        record(factor, "ngram_append_indexed", idxSec, nDocs)
        Seq(plain, indexed).foreach(t =>
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(t).getParentFile))
      }

      if (enabled("decayed")) {
        // The windowed exponentialTimeDecayed* scale claim: the frame
        // fold's per-row cost tracks DISTINCT TIMESTAMPS in the
        // partition (the pre-aggregated rollup series, ≤ 601 here),
        // never raw rows — so wall time should grow with the linear
        // rollup aggregation while the window stage stays flat as the
        // raw side scales.
        graft.sql.Compat.registerClickHouseFunctions(spark)
        val ev = scaledEvents(factor)
        val n = ev.count()
        ev.createOrReplaceTempView("sb_decayed_ev")
        val df = graft.sql.Compat.chSql(spark, """
          WITH srs AS (
            SELECT user_id, CAST(event_id % 601 AS DOUBLE) AS t,
              SUM(CAST(event_id % 89 AS DOUBLE)) AS sv
            FROM sb_decayed_ev GROUP BY user_id, event_id % 601)
          SELECT user_id, t,
            exponentialTimeDecayedSum(60.0)(sv, t) OVER w AS dsum,
            exponentialTimeDecayedAvg(60.0)(sv, t) OVER w AS davg
          FROM srs
          WINDOW w AS (PARTITION BY user_id ORDER BY t
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
        val (outRows, decSec) = timed {
          noop(df)
          df.count()
        }
        record(factor, "decayed_window", decSec, n,
          "out_rows" -> outRows.toString)
      }

      if (enabled("aggpayoff")) {
        // The AggregatingMergeTree payoff: answering the dashboard
        // aggregate from MERGED STATE ROWS vs re-scanning the raw
        // events. State rows are O(distinct keys) however large the
        // ingest, so the state-read latency should stay ~FLAT as the
        // raw side grows linearly.
        graft.sql.Compat.registerClickHouseFunctions(spark)
        val ev = (if (factor == 1) baseEvents
          else (0 until factor).map(i => baseEvents.select(
            (col("event_id") + lit(i * 10000000L)).as("event_id"),
            col("ts"), col("user_id"), col("event_type"), col("value")))
            .reduce(_ unionByName _))
        val n = ev.count()
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scale_ap_${factor}x")
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
        val raw = s"$dir/raw"
        TxTable.append(spark, ev.select(to_date(col("ts")).as("date"),
          col("event_type"), col("user_id"),
          round(col("value") * 100, 0).cast("long").as("cents")), raw)
        val agg = s"$dir/agg"
        ev.createOrReplaceTempView("scale_ap_src")
        TxTable.append(spark, graft.sql.Compat.chSql(spark, """
          SELECT toDate(ts) AS date, event_type,
            sumState(toInt64(round(value * 100, 0))) AS cents_s,
            countState() AS n_s
          FROM scale_ap_src GROUP BY toDate(ts), event_type"""), agg)
        def noopDf(df: DataFrame): Unit = noop(df)
        val (_, rawSec) = timed(noopDf(
          TxFileIndex.readV2(spark, raw).groupBy("event_type")
            .agg(sum("cents"), count(lit(1)))))
        record(factor, "agg_read_raw", rawSec, n)
        TxFileIndex.readV2(spark, agg)
          .createOrReplaceTempView("scale_ap_tbl")
        val (_, stSec) = timed(noopDf(graft.sql.Compat.chSql(spark, """
          SELECT event_type, sumMerge(cents_s) AS cents,
            countMerge(n_s) AS n
          FROM scale_ap_tbl GROUP BY event_type""")))
        record(factor, "agg_read_state", stSec, n)
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
      }

      if (enabled("nptest")) {
        // The nonparametric-test rewrite's scale claim: CH buffers
        // every sample value per group and ranks at finalization (a
        // single-node sort per group); the window formulation keeps
        // ranking distributed — ONE shuffle on the group keys serves
        // the rank windows, the ECDF windows, and the final
        // aggregates. Under measurement: shuffle bytes linear in
        // rows, per-row cost ~flat across factors.
        graft.sql.Compat.registerClickHouseFunctions(spark)
        val ev = scaledEvents(factor)
        val n = ev.count()
        ev.createOrReplaceTempView("scale_np_src")
        val (_, sec) = timed(noop(graft.sql.Compat.chSql(spark, """
          SELECT user_id,
            tupleElement(mannWhitneyUTest(v, i), 1) AS u,
            tupleElement(mannWhitneyUTest(v, i), 2) AS pu,
            tupleElement(kolmogorovSmirnovTest(v, i), 1) AS d,
            tupleElement(kolmogorovSmirnovTest(v, i), 2) AS pd
          FROM (SELECT user_id,
              CAST(event_id % 97 AS DOUBLE)
                + CAST(event_id % 2 AS DOUBLE) * 3.5 AS v,
              event_id % 2 AS i
            FROM scale_np_src) t
          GROUP BY user_id""")))
        record(factor, "nptest_mwu_ks", sec, n)
      }

      if (enabled("mlreg")) {
        // The Gram-state regression's scale claim: the fit state is
        // O(d^2) doubles independent of row count — d(d+3)/2 numbers
        // per partition cross the exchange however many rows feed the
        // fit. Under measurement: shuffle bytes ~FLAT across factors
        // (only per-partition states move), wall linear in the scan.
        graft.sql.Compat.registerClickHouseFunctions(spark)
        val ev = scaledEvents(factor)
        val n = ev.count()
        ev.createOrReplaceTempView("scale_ml_src")
        val (_, sec) = timed(noop(graft.sql.Compat.chSql(spark, """
          SELECT user_id,
            evalMLMethod(
              stochasticLinearRegression(0.1, 0.0, 32, 'SGD')(y, a, b),
              10, 20) AS pred
          FROM (SELECT user_id,
              CAST(event_id % 97 AS DOUBLE) AS a,
              CAST(event_id % 11 AS DOUBLE) AS b,
              CAST(3 * (event_id % 97) + 2 * (event_id % 11)
                + event_id % 7 AS DOUBLE) AS y
            FROM scale_ml_src) t
          GROUP BY user_id""")))
        record(factor, "mlreg_fit", sec, n)
      }

      if (enabled("bucketjoin")) {
        // Bucketed vs plain tx tables under the SAME fact-fact
        // equi-join (1:1 on event_id). Claims under measurement: the
        // bucketed join's shuffle bytes are ~zero at every factor
        // (the exchange was paid once at write time) while the plain
        // join's shuffle grows linearly with the data; and the
        // one-time write premium is bounded.
        import org.apache.spark.sql.types.{DateType, LongType,
          StringType, StructField, StructType}
        val ev = (if (factor == 1) baseEvents
          else (0 until factor).map(i => baseEvents.select(
            (col("event_id") + lit(i * 10000000L)).as("event_id"),
            col("user_id"), col("event_type"), col("value")))
            .reduce(_ unionByName _))
          .select(to_date(lit("2024-01-01")).as("date"), col("event_id"),
            col("user_id"), col("event_type"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val nRows = ev.count()
        def fresh(tag: String): String = {
          val dir = new java.io.File(sys.props("java.io.tmpdir"),
            s"graft_scale_bj_${tag}_${factor}x")
          org.apache.commons.io.FileUtils.deleteDirectory(dir)
          s"$dir/t"
        }
        val leftSchema = StructType(Seq(StructField("date", DateType),
          StructField("event_id", LongType), StructField("cents", LongType)))
        val rightSchema = StructType(Seq(StructField("date", DateType),
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType)))
        val leftDf = ev.select(col("date"), col("event_id"), col("cents"))
        val rightDf = ev.select(col("date"), col("event_id"),
          col("user_id"), col("event_type"))

        // plain tables: the join shuffles both sides on every query
        val (pl, pr) = (fresh("plain_l"), fresh("plain_r"))
        TxTable.append(spark, leftDf, pl)
        TxTable.append(spark, rightDf, pr)
        def join(l: String, r: String) =
          TxFileIndex.readV2(spark, l).hint("merge")
            .join(TxFileIndex.readV2(spark, r)
              .withColumnRenamed("date", "d2"), Seq("event_id"))
            .select("event_id", "cents", "user_id")
        val (_, plainSec) = timed(noop(join(pl, pr)))
        record(factor, "join_plain", plainSec, nRows)

        // bucketed tables: the write pays the exchange once
        val bprops = Seq("graft.bucketBy" -> "event_id",
          "graft.buckets" -> "32")
        val (bl, br) = (fresh("buck_l"), fresh("buck_r"))
        TxTable.createTable(spark, bl, leftSchema, bprops)
        TxTable.createTable(spark, br, rightSchema, bprops)
        val (_, wlSec) = timed(TxTable.append(spark, leftDf, bl))
        record(factor, "join_bucketed_write", wlSec, nRows)
        TxTable.append(spark, rightDf, br)
        val bj = join(bl, br)
        require(!bj.queryExecution.executedPlan.toString
          .contains("Exchange"), "bucketed join must plan exchange-free")
        val (_, buckSec) = timed(noop(bj))
        record(factor, "join_bucketed", buckSec, nRows)
        Seq(pl, pr, bl, br).foreach(t =>
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(t).getParentFile))
      }
    }

    factors.foreach { factor =>
      if (enabled("sortproj")) {
        // SORT-ORDER PROJECTION payoff under measurement. The base is
        // time-clustered (its dim envelopes are full-width, so a dim
        // filter reads every byte); the projection is range-clustered
        // on (proto_name, direction), so the same filter reads
        // ~1/|live combos| of the bytes via log-stats skipping. Claims:
        // routed input_mb collapses vs the base scan at every factor;
        // the initial refresh is one range-shuffle of the corpus; the
        // incremental refresh costs O(new data), not O(table).
        def factsOf(e: DataFrame): DataFrame = e.select(
          to_date(lit("2024-03-01")).as("date"),
          timestamp_micros(lit(1709251200000000L) +
            pmod(col("event_id"), lit(86400L)) * 1000000L)
            .as("interval_start"),
          concat(lit("d"), pmod(col("user_id"), lit(8)).cast("string"))
            .as("direction"),
          concat(lit("p"), pmod(col("event_id") * 7, lit(4)).cast("string"))
            .as("proto_name"),
          pmod(col("event_id"), lit(1000L)).as("bytes"))
        val facts = factsOf(scaledEvents(factor))
        val dir0 = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scale_sp_${factor}x")
        org.apache.commons.io.FileUtils.deleteDirectory(dir0)
        val (baseT, projT) = (s"$dir0/base", s"$dir0/proj")
        val keys = Seq("proto_name", "direction")
        val nRows = facts.count()
        TxTable.append(spark, facts, baseT)
        def q() = TxFileIndex.readV2(spark, baseT)
          .filter(col("proto_name") === "p1" && col("direction") === "d3")
          .groupBy("proto_name", "direction")
          .agg(sum("bytes").as("b"), count(lit(1)).as("n"))
        val (hitBase, baseSec) = timed(q().collect())
        record(factor, "sortproj_scan_base", baseSec,
          hitBase.head.getLong(3))
        val (_, refSec) = timed(require(graft.sink.SortProjection
          .refresh(spark, baseT, projT, keys) >= 0))
        record(factor, "sortproj_refresh_full", refSec, nRows)
        graft.plans.SortProjections.register(spark, baseT, projT, keys)
        val (hitProj, projSec) = timed(q().collect())
        record(factor, "sortproj_scan_routed", projSec,
          hitProj.head.getLong(3))
        require(hitProj.head.getLong(2) == hitBase.head.getLong(2) &&
          hitProj.head.getLong(3) == hitBase.head.getLong(3),
          "the projection route must not change the answer")
        // incremental maintenance: a FIXED 1x slice lands on the base
        // (ids shifted past every scaled copy so the append is real
        // new data), then one refresh folds it in — its cost must
        // track the slice, not the table
        val slice = factsOf(baseEvents.select(
          (col("event_id") + lit(factor * 10000000L)).as("event_id"),
          col("user_id")))
        val nSlice = slice.count()
        TxTable.append(spark, slice, baseT)
        val (_, incSec) = timed(require(graft.sink.SortProjection
          .refresh(spark, baseT, projT, keys) >= 0))
        record(factor, "sortproj_refresh_incr", incSec, nSlice)
        graft.plans.SortProjections.deregister(spark, baseT)
        org.apache.commons.io.FileUtils.deleteDirectory(dir0)
      }
    }

    factors.foreach { factor =>
      if (enabled("spill")) {
        // MEMORY-PRESSURE arm: launched with a capped heap (e.g.
        // SPARK_DRIVER_MEM=2g SPARK_GRAFT_SCALE_ONLY=spill, factor 30)
        // this drives the agg/sort/tx-write paths into Tungsten spill
        // and records memoryBytesSpilled/diskBytesSpilled per step.
        // The claim under test is NOT speed — it is that every
        // operator COMPLETES under execution-memory pressure by
        // degrading to disk instead of OOMing, and the artifact shows
        // the spill actually happened (spill_disk_mb > 0 on the
        // capped run; ~0 on an uncapped host, which is fine — the
        // capped row is the one SCALE.md cites). Shuffle parallelism
        // is pinned LOW (4) so per-task working sets exceed their
        // execution-memory share the way a 100 TB partition that
        // outgrew its planned size would.
        val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
        val events = scaledEvents(factor)
        val nEvents = events.count()
        val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          // 1. the full pipeline's hash aggregate under pressure
          val summed = FlowPipeline.run(SyntheticFlows.flowsFromEvents(events),
            pods, nodes, prefixes, FlowConfig())
          val (_, aggSec) = timed(noop(summed))
          record(factor, "spill_pipeline", aggSec, nEvents,
            "heap_mb" -> heapMb.toString)
          // 2. a global sort of the raw events (range partition + per-
          //    partition external sort — the canonical spill path)
          val (_, sortSec) = timed(
            noop(events.orderBy("user_id", "ts", "event_id")))
          record(factor, "spill_sort", sortSec, nEvents,
            "heap_mb" -> heapMb.toString)
          // 3. the transactional sorted append (stage + footer stats +
          //    sidecar jobs) — the write path must survive pressure too
          val scratch = new java.io.File(sys.props("java.io.tmpdir"),
            s"graft_scale_spill_${factor}x")
          org.apache.commons.io.FileUtils.deleteDirectory(scratch)
          val (_, wSec) = timed(
            TxTable.append(spark, summed, s"$scratch/t"))
          record(factor, "spill_tx_append", wSec, nEvents,
            "heap_mb" -> heapMb.toString)
          org.apache.commons.io.FileUtils.deleteDirectory(scratch)
        } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    }

    if (enabled("commitlatency")) {
      // Commit-path latency sensitivity, measured: N tiny appends
      // through ObjectStoreLogStore with injected per-PUT latency.
      // The per-commit wall delta vs the 0 ms arm ÷ latency = the
      // number of conditional PUTs on the commit critical path (the
      // protocol claims ~1 + amortized checkpoint), which is what a
      // real object store's RTT multiplies. LIST/read RTTs are not
      // injected (they go through the Hadoop fs, not the LogStore) —
      // this arm isolates the PUT count.
      // first arm is an untimed warmup (absorbs codegen/committer
      // startup so the 0 ms arm isn't penalized by running first)
      Seq(-1L, 0L, 20L, 100L).foreach { lat =>
        val dir = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scale_lat$lat")
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
        val t = s"$dir/t"
        val store =
          new graft.sink.ObjectStoreLogStore(latencyMs = math.max(0L, lat))
        TxTable.registerLogStore("file", store)
        try {
          val one = spark.range(1).select(
            expr("DATE '2024-05-01'").as("date"),
            col("id").cast("string").as("k"), col("id").as("v"))
          val n = 20
          val (_, sec) = timed {
            (0 until n).foreach(_ => TxTable.append(spark, one, t))
          }
          if (lat >= 0)
            record(1, "commit_latency", sec, n.toLong,
              "latency_ms" -> lat.toString,
              "puts" -> store.puts.get().toString,
              "sec_per_commit" -> f"${sec / n}%.4f")
        } finally TxTable.unregisterLogStore("file")
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
      }
    }

    // MERGE into the existing artifact: a SPARK_GRAFT_SCALE_ONLY run
    // measures one section and must not clobber the others' recorded
    // curves. Entries for the (step, factor) pairs this run measured
    // replace their previous records; everything else is preserved.
    val path = java.nio.file.Paths.get("SCALE_RESULTS.json")
    // whitespace-tolerant: artifact rows hand-repaired with pretty
    // JSON ("step": "x") must key identically to tool-written rows
    // ("step":"x") or a scoped merge silently duplicates them
    def keyOf(j: String): String = {
      def field(k: String): String =
        ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[^,}]*)").r
          .findFirstMatchIn(j).map(_.group(1).trim).getOrElse("")
      field("step") + "@" + field("factor")
    }
    val measured = out.map(keyOf).toSet
    val kept =
      if (!java.nio.file.Files.exists(path)) Seq.empty[String]
      else new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
        .stripPrefix("[").stripSuffix("\n").stripSuffix("]")
        .split(",\n").toSeq.map(_.trim).filter(_.nonEmpty)
        .filterNot(j => measured.contains(keyOf(j)))
    java.nio.file.Files.write(path,
      ("[" + (kept ++ out).mkString(",\n") + "]\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
