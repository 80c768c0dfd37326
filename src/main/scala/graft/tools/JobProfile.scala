package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Measurement-only tool (guide §1): runs named gates from
  * `graft.SparkEntry.queries` with a SparkListener attached and prints a
  * per-JOB wall-time breakdown keyed by job description (the phase that
  * ran it, e.g. `TxTable.stage write`; the call site when there is
  * none), plus per-stage shuffle
  * byte totals — the local[n] substitute for the Spark UI's job/stage
  * pages (the UI is disabled in this sandbox). No product code path
  * changes; the output feeds OPTIMIZATION_r16.md's "what we measured".
  *
  *   java ... graft.tools.JobProfile qtx_merge qmv_retract
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the bench's session, so profiles see the stage shapes it times
    val spark = graft.Bench.session(cpus.toInt, "graft-jobprofile")
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRec(id: Int, start: Long, var end: Long = -1L,
        site: String = "", desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageShuffle = new java.util.concurrent.atomic.AtomicLong()
    val stageInput = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, Long, Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage's name carries the call site ("parquet at
        // TxTable.scala:886") — the attribution handle the disabled UI
        // would have shown
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, e.time, site = site, desc = desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          stageShuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          stageInput.addAndGet(m.inputMetrics.bytesRead)
          val wall = (for {
            a <- e.stageInfo.completionTime
            b <- e.stageInfo.submissionTime
          } yield a - b).getOrElse(-1L)
          stages.add((e.stageInfo.name, e.stageInfo.numTasks,
            wall, m.executorRunTime, m.executorDeserializeTime))
        }
      }
    }

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warmup, untimed
    try run(graft.SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }

    // driver-gap attribution: sample the MAIN thread's stack while the
    // query runs; frames are histogrammed by the innermost graft frame
    // (falling back to the innermost spark frame) — a poor man's
    // async-profiler for the single-threaded driver sections
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val execSamples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    def short(f: StackTraceElement) =
      s"${f.getClassName.split('.').last}.${f.getMethodName}"
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val graftF = st.find(f => f.getClassName.startsWith("graft."))
          val inner = st.headOption.map(short).getOrElse("?")
          val frame = graftF match {
            case Some(g) => s"${short(g)}  [$inner]"
            case None => st.find(f =>
                f.getClassName.startsWith("org.apache.spark"))
              .map(f => s"${short(f)}  [$inner]").getOrElse(inner)
          }
          samples.merge(frame, 1, (a, b) => a + b)
          import scala.jdk.CollectionConverters._
          // micro-batch attribution: the stream execution thread does
          // the per-batch planning/codegen/commit work the main-thread
          // histogram can't see (runStream just parks on it)
          Thread.getAllStackTraces.asScala.foreach { case (t, est) =>
            if (t.getName.contains("stream execution thread") &&
                est.nonEmpty) {
              val g = est.find(f => f.getClassName.startsWith("graft."))
              val sp = est.find { f =>
                val c = f.getClassName
                (c.startsWith("org.apache.spark") &&
                  !c.contains("MicroBatchExecution") &&
                  !c.contains("StreamExecution") &&
                  !c.contains("ProgressReporter")) ||
                  c.startsWith("org.apache.hadoop")
              }
              val frame = g.orElse(sp).map(short)
                .getOrElse(short(est.head))
              samples.merge(s"STREAM: $frame  [${short(est.head)}]",
                1, (a, b) => a + b)
            }
          }
          // executor-side view: all task-launch worker threads, keyed by
          // the innermost "interesting" frame pair (the disabled UI's
          // executor thread dump, histogrammed)
          Thread.getAllStackTraces.asScala.foreach { case (t, est) =>
            if (t.getName.startsWith("Executor task launch") &&
                t.getState == Thread.State.RUNNABLE && est.nonEmpty) {
              val interesting = est.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") ||
                  c.startsWith("org.apache.parquet") ||
                  c.startsWith("org.apache.spark.sql.execution") ||
                  c.startsWith("org.apache.spark.sql.catalyst") ||
                  c.contains("compress") || c.contains("codegen")
              }.map(short).getOrElse(short(est.last))
              execSamples.merge(s"$interesting  [${short(est.head)}]",
                1, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query: $name")
        case Some(fn) =>
          graft.ops.CacheRegistry.releaseAll()
          jobs.clear(); stageShuffle.set(0L); stageInput.set(0L)
          stages.clear(); samples.clear(); execSamples.clear()
          spark.sparkContext.addSparkListener(listener)
          sampling = true
          val t0 = System.nanoTime()
          try run(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[profile] $name failed: ${e.getMessage}") }
          val wall = (System.nanoTime() - t0) / 1e9
          sampling = false
          spark.sparkContext.removeSparkListener(listener)
          Thread.sleep(300) // let trailing listener events drain
          import scala.jdk.CollectionConverters._
          val recs = jobs.values.asScala.toSeq.filter(_.end > 0)
          val byKey = recs.groupBy(r =>
              if (r.desc.nonEmpty) r.desc else r.site)
            .map { case (k, rs) =>
              (k, rs.size, rs.map(r => r.end - r.start).sum / 1e3) }
            .toSeq.sortBy(-_._3)
          val jobSum = byKey.map(_._3).sum
          println(f"\n=== $name wall=$wall%.2fs jobs=${recs.size} " +
            f"jobTimeSum=$jobSum%.2fs driverGap=${wall - jobSum}%.2fs " +
            f"shuffleWrite=${stageShuffle.get / 1048576.0}%.1fMB " +
            f"input=${stageInput.get / 1048576.0}%.1fMB ===")
          byKey.take(40).foreach { case (k, n, s) =>
            println(f"  $s%8.2fs  n=$n%-4d $k")
          }
          println("  -- stages by wall (name, tasks, wallMs, execMs, deserMs) --")
          stages.asScala.toSeq.groupBy(_._1).map { case (n, ss) =>
            (n, ss.map(_._2).sum, ss.map(_._3).sum, ss.map(_._4).sum,
              ss.map(_._5).sum, ss.size)
          }.toSeq.sortBy(-_._3).take(15).foreach {
            case (n, t, w, ex, de, cnt) =>
              println(f"  ${w / 1e3}%8.2fs  n=$cnt%-3d tasks=$t%-5d " +
                f"exec=${ex / 1e3}%.2fs deser=${de / 1e3}%.2fs  $n")
          }
          println("  -- main-thread samples (20ms each) --")
          samples.asScala.toSeq.sortBy(-_._2.intValue).take(25)
            .foreach { case (f, n) =>
              println(f"  ${n.intValue * 0.02}%8.2fs  $f")
            }
          println("  -- executor-thread samples (20ms each, all workers) --")
          execSamples.asScala.toSeq.sortBy(-_._2.intValue).take(30)
            .foreach { case (f, n) =>
              println(f"  ${n.intValue * 0.02}%8.2fs  $f")
            }
      }
    }
    graft.ops.CacheRegistry.releaseAll()
    spark.stop()
  }
}
