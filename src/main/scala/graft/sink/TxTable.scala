package graft.sink

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal log-structured commit protocol for the summing table: the
  * Spark-native replacement for ClickHouse's `network_flows_0`
  * SummingMergeTree (reference test/network_flows_0.sql:1-44),
  * and the one table both the batch backfill and the streaming flow job
  * ([[graft.streaming.StreamingFlows.start]]) commit to. Directory
  * renames are not atomic on S3-style stores, so nothing here relies on
  * one; the reference sidesteps the problem because ClickHouse owns its
  * storage, and a 100 TB Spark deployment needs what Delta/Iceberg
  * provide: data files are immutable and unreferenced-until-committed,
  * and the only mutation is an atomic publish of one small log file.
  *
  * Writers append per-batch PARTIAL SUMS (additive deltas); [[compact]]
  * is the background merge that collapses them, and readers that need
  * merged rows before it runs re-sum with [[resum]] — ClickHouse's
  * SummingMergeTree read contract.
  *
  * Layout:
  * {{{
  *   <table>/_txlog/00000000000000000007.txn   one commit per version
  *   <table>/d-<uuid>/date=<d>/part-*.parquet  immutable data files
  * }}}
  *
  * A commit file holds tab-separated action lines over table-relative
  * paths — `A <date> <bytes> <relpath> [stats]` adds a file (recording
  * its date partition value, size, AND per-file min/max column stats
  * folded by the write tasks, so readers plan pruning, splits, data
  * skipping, and TTL from log METADATA, never a 100 TB directory
  * listing or a million getFileStatus calls), `R <relpath>` removes
  * one — and a
  * terminal `C <n>` marker line whose count must match, so a truncated
  * half-written commit is detected instead of silently replayed. Table
  * state at version V = replay of all commits ≤ V.
  *
  * Writers stage parquet under a fresh `d-<uuid>` dir (invisible: no
  * reader follows unreferenced paths), then publish with a SINGLE
  * create-if-absent of the next version file. That create is the
  * store's put-if-absent primitive: atomic on HDFS; on S3 it maps to a
  * conditional PUT (If-None-Match) — this object is the one seam a
  * store-specific LogStore would plug into, exactly Delta's split. A
  * crash anywhere before the publish leaves only unreferenced files for
  * [[vacuum]]; a crash after it changed nothing half-way.
  *
  * Concurrency is optimistic: the loser of a version-number race
  * re-reads the log and retries. Blind appends always win eventually;
  * read-modify-write commits ([[compact]], [[retention]],
  * [[overwrite]]) re-validate on retry that every file they remove is
  * still live and abort on true conflict rather than resurrecting or
  * double-removing data.
  */
object TxTable {

  /** [[changeFeed]]'s TYPED failure: the requested range cannot be
    * reproduced (commits swept by [[expireLog]], or pre-image files
    * reclaimed by [[vacuum]]). Typed so consumers that have an
    * always-correct fallback (the MV's full rebuild) can catch exactly
    * this condition without masking genuine argument bugs — every
    * other `require` in the engine still throws a plain
    * IllegalArgumentException that PROPAGATES.
    */
  final class ChangeFeedUnavailableException(msg: String)
    extends IllegalArgumentException(msg)
  private val LogDirName = "_txlog"
  private val measures = Set("bytes", "packets", "n_obs")

  /** Sort prefix mirroring the reference ORDER BY head exactly
    * (network_flows_0.sql:41-42; date is implicit in partitioning):
    * intervalStartTime, direction, proto, localApp, remoteApp,
    * localPod, remotePod.
    */
  val sortKey: Seq[String] = Seq(
    "interval_start", "direction", "proto_name", "local_app",
    "remote_app", "local_pod", "remote_pod")

  /** The Summing merge over a frame of partial sums: rows that share
    * every non-measure column collapse into one, measures summed. What
    * [[compact]] writes, and how a reader merges uncompacted appends.
    */
  def resum(df: DataFrame): DataFrame =
    df.groupBy(df.columns.filterNot(measures).map(col): _*)
      .agg(sum("bytes").as("bytes"), sum("packets").as("packets"),
        sum("n_obs").as("n_obs"))

  /** Columns whose per-file min/max land in the commit log. The head of
    * the table's sort key is the natural choice: [[prep]]'s
    * repartitionByRange clusters files along it, so time-range
    * predicates skip most files entirely (the ClickHouse primary-index
    * analog — reference ORDER BY head intervalStartTime,
    * test/network_flows_0.sql:41). The later keys are only locally
    * clustered but equality predicates still benefit.
    */
  private[sink] val statsColumns: Seq[String] =
    Seq("interval_start", "direction", "proto_name")

  /** Columns that get a per-file BLOOM filter in the commit log (the
    * ClickHouse `INDEX ... TYPE bloom_filter` skip-index analog, see
    * [[Bloom]]): high-cardinality equality-lookup columns OUTSIDE the
    * sort key, where min/max envelopes can never skip because every
    * file spans most of the domain ("all flows for pod X / remote IP
    * Y" — the reference's operator debugging query shape). Disjoint
    * from [[statsColumns]] by construction: a column's single stats
    * slot is either a range or a filter.
    */
  private[sink] val bloomColumns: Seq[String] = Seq("local_pod", "remote_ip")

  /** String columns that get a per-file TOKEN Bloom filter (ClickHouse
    * `tokenbf_v1`): indexed by whitespace token, probed by the
    * [[graft.functions.HasToken]] predicate at planning time. Logged
    * under the `<col>#tok` stats key so a value filter and a token
    * filter on the same column can coexist.
    */
  private[sink] val tokenBloomColumns: Seq[String] = Seq("text")

  /** Per-file column stats: 'l' = signed long (INT32/INT64 physical,
    * covers timestamps as epoch micros and dates as epoch days), 's' =
    * UTF8 string. min/max are decimal or raw-string renderings.
    */
  private[graft] case class ColStats(typ: Char, min: String, max: String)

  private[graft] case class FileMeta(date: String, bytes: Long,
      stats: Map[String, ColStats])

  private[sink] def fsFor(spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def logDir(root: Path) = new Path(root, LogDirName)
  private def versionFile(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.txn")
  private def checkpointFile(root: Path, v: Long) =
    new Path(logDir(root), f"$v%020d.ckpt")

  /** Write a checkpoint every N winning commits: a reader then replays
    * ONE checkpoint + at most N-1 tail commits instead of the whole
    * history — a year of 5s micro-batches is ~6M commits, and a full
    * replay per read would make the log the bottleneck it exists to
    * avoid (Delta's checkpoint.parquet plays exactly this role).
    */
  private val CheckpointEvery = 10L

  /** add = Some(meta) for `A` lines, None for `R` lines. */
  private case class Action(rel: String, add: Option[FileMeta])

  /** Replayed log state: live files, per-app writer high-water marks,
    * and the latest table DATA schema (the Delta metadata-action
    * analog — the schema files are WRITTEN with, `date` excluded since
    * partitionBy strips it from the files). None only for pre-evolution
    * logs, where readers fall back to sampling one live file's footer.
    */
  private case class LogState(files: Map[String, FileMeta],
      txns: Map[String, Long], schema: Option[StructType],
      props: Map[String, String])

  // Stats ride the A line as a 5th tab field `col=t:min:max;...`.
  // Values are percent-encoded so the tab/semicolon/colon framing can
  // never be broken by data (a proto_name is trusted nowhere).
  private def enc(s: String): String = s.flatMap {
    case c if c == '%' || c == ';' || c == ':' || c == '=' ||
      c == '\t' || c == '\n' || c == '\r' => f"%%${c.toInt}%02x"
    case c => c.toString
  }
  private def dec(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
  private def renderStats(stats: Map[String, ColStats]): String =
    stats.toSeq.sortBy(_._1).map { case (c, st) =>
      s"${enc(c)}=${st.typ}:${enc(st.min)}:${enc(st.max)}"
    }.mkString(";")
  private def parseStats(s: String): Map[String, ColStats] =
    if (s.isEmpty) Map.empty
    else s.split(";", -1).map { item =>
      val Array(c, tmm) = item.split("=", 2)
      val Array(t, mn, mx) = tmm.split(":", 3)
      dec(c) -> ColStats(t.head, dec(mn), dec(mx))
    }.toMap

  /** Map a physical file path back to its commit-log key: the
    * table-relative path for files under the root, the QUALIFIED
    * absolute string for foreign files a shallow clone / attached
    * partition references (relativize leaves those absolute; `new
    * Path(...).toString` normalizes scheme spelling on both sides).
    */
  private[sink] def logKeyOf(qroot: Path, p: Path): String = {
    val rel = qroot.toUri.relativize(p.toUri)
    if (rel.isAbsolute || rel.getPath.startsWith("/"))
      new Path(p.toUri).toString
    else rel.getPath
  }

  /** Latest committed version, or -1 for an empty/new table. */
  def currentVersion(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsFor(spark, table)
    listVersions(fs, root).lastOption.getOrElse(-1L)
  }

  private def listBySuffix(fs: FileSystem, root: Path,
      suffix: String): Seq[Long] = {
    val log = logDir(root)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong).sorted
  }
  private def listVersions(fs: FileSystem, root: Path): Seq[Long] =
    listBySuffix(fs, root, ".txn")
  private def listCheckpoints(fs: FileSystem, root: Path): Seq[Long] =
    listBySuffix(fs, root, ".ckpt")

  /** One parsed log file: file actions, writer (appId, version) marks,
    * schema metadata, and the commit's operation tag (`O` line —
    * absent on checkpoints and pre-tag logs).
    */
  private case class ParsedLog(acts: Seq[Action], txns: Seq[(String, Long)],
      schema: Option[StructType], op: Option[String],
      propsSet: Seq[(String, String)], propsRemove: Seq[String])

  /** Parse one log file (commit or checkpoint — same line format).
    * The terminal `C <n>` marker must count every action line or the
    * file is rejected as torn.
    */
  private def parseLog(fs: FileSystem, p: Path, what: String): ParsedLog = {
    val in = fs.open(p)
    val raw = try org.apache.commons.io.IOUtils.toString(in, StandardCharsets.UTF_8)
      finally in.close()
    val lines = raw.split("\n").toSeq.filter(_.nonEmpty)
    require(lines.nonEmpty && lines.last.startsWith("C\t") &&
      lines.last.stripPrefix("C\t").toLong == lines.length - 1,
      s"truncated or corrupt $what at $p")
    val acts = scala.collection.mutable.ArrayBuffer.empty[Action]
    val txns = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var schema: Option[StructType] = None
    var op: Option[String] = None
    val pset = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val prem = scala.collection.mutable.ArrayBuffer.empty[String]
    lines.init.foreach { l =>
      l.split("\t", -1) match {
        case Array("A", d, len, rel) =>
          acts += Action(rel, Some(FileMeta(d, len.toLong, Map.empty)))
        case Array("A", d, len, rel, st) =>
          acts += Action(rel, Some(FileMeta(d, len.toLong, parseStats(st))))
        case Array("R", rel)    => acts += Action(rel, None)
        case Array("T", a, v)   => txns += (dec(a) -> v.toLong)
        case Array("M", sj)     =>
          schema = Some(DataType.fromJson(dec(sj)).asInstanceOf[StructType])
        case Array("O", o)      => op = Some(dec(o))
        case Array("P", k, v)   => pset += (dec(k) -> dec(v))
        case Array("P", k)      => prem += dec(k)
        case _ => throw new IllegalStateException(s"bad action in $what $p: $l")
      }
    }
    ParsedLog(acts.toSeq, txns.toSeq, schema, op, pset.toSeq, prem.toSeq)
  }

  private def readCommit(fs: FileSystem, root: Path, v: Long): Seq[Action] =
    parseLog(fs, versionFile(root, v), s"commit $v").acts

  /** Table state at `asOf` (default: latest): live files + the per-app
    * writer high-water marks. Replay starts from the newest READABLE
    * checkpoint ≤ asOf (one file) and folds only the tail commits after
    * it — O(CheckpointEvery) log reads regardless of table age. A torn
    * or corrupt checkpoint (e.g. a reader racing its non-atomic legacy
    * publish, or bit rot) is SKIPPED in favor of the next-older one —
    * checkpoints are pure derived state, so falling back to an older
    * base (or full commit replay) is always correct, just slower;
    * commits themselves still fail loudly on corruption. Time travel to
    * versions older than the oldest retained commit requires a
    * checkpoint at or before them (see [[expireLog]]).
    */
  private def replayState(fs: FileSystem, root: Path,
      asOf: Option[Long]): LogState = {
    val versions = listVersions(fs, root).filter(v => asOf.forall(v <= _))
    val candidates = listCheckpoints(fs, root)
      .filter(c => asOf.forall(c <= _)).reverse
    val parsed = candidates.iterator.map { c =>
      try Some((c, parseLog(fs, checkpointFile(root, c), s"checkpoint $c")))
      catch { case scala.util.control.NonFatal(_) => None }
    }.collectFirst { case Some(x) => x }
    val ckpt = parsed.map(_._1)
    val base = parsed match {
      case Some((_, pl)) =>
        LogState(pl.acts.collect { case Action(rel, Some(m)) => rel -> m }.toMap,
          mergeMarks(Map.empty, pl.txns), pl.schema,
          pl.propsSet.toMap -- pl.propsRemove)
      case None => LogState(Map.empty, Map.empty, None, Map.empty)
    }
    versions.filter(v => ckpt.forall(v > _))
      .foldLeft(base) { case (st, v) =>
        val pl = parseLog(fs, versionFile(root, v), s"commit $v")
        val next = pl.acts.foldLeft(st.files) { (m, a) =>
          a.add match {
            case Some(meta) => m + (a.rel -> meta)
            case None       => m - a.rel
          }
        }
        LogState(next, mergeMarks(st.txns, pl.txns),
          pl.schema.orElse(st.schema),
          st.props ++ pl.propsSet -- pl.propsRemove)
      }
  }

  private def mergeMarks(acc: Map[String, Long],
      ts: Seq[(String, Long)]): Map[String, Long] =
    ts.foldLeft(acc) { case (m, (a, v)) =>
      m + (a -> math.max(v, m.getOrElse(a, Long.MinValue)))
    }

  /** Per-writer-app monotone high-water marks (`T` lines) — Delta's
    * (appId, version) txn action: ONE entry per writer app regardless of
    * how many batches it ever committed, so checkpoints stay
    * constant-size under unbounded batch counts, and [[appendTxn]] stays
    * retry-idempotent because replayed batch versions are ≤ the mark.
    */
  private[sink] def txnHighWater(fs: FileSystem, root: Path): Map[String, Long] =
    replayState(fs, root, None).txns


  /** Live relpath -> FileMeta at `asOf` (default: latest). */
  private[sink] def snapshotFiles(fs: FileSystem, root: Path,
      asOf: Option[Long] = None): Map[String, FileMeta] =
    replayState(fs, root, asOf).files

  /** The logged table data schema at `asOf` (None on pre-evolution
    * logs — callers fall back to sampling a live file's footer).
    */
  private[sink] def logSchema(fs: FileSystem, root: Path,
      asOf: Option[Long] = None): Option[StructType] =
    replayState(fs, root, asOf).schema

  /** Materialize the state at version `v` (default: latest) as a
    * checkpoint file — idempotent (create-if-absent; every writer would
    * render identical content for a fixed v). Called automatically every
    * [[CheckpointEvery]] commits; callable explicitly for ops.
    */
  def checkpoint(spark: SparkSession, table: String,
      version: Option[Long] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    val committed = listVersions(fs, root)
    val v = version.getOrElse(committed.lastOption.getOrElse(
      throw new IllegalArgumentException(s"no commits to checkpoint in $table")))
    // a checkpoint at a version that never committed would become the
    // replay BASE and silently hide every commit between the real head
    // and the phantom version from all subsequent reads — refuse
    require(committed.contains(v),
      s"cannot checkpoint $table at version $v: not a committed version " +
        s"(log has ${committed.headOption.getOrElse(-1L)}.." +
        s"${committed.lastOption.getOrElse(-1L)})")
    checkpointAt(fs, root, v)
    v
  }

  private def checkpointAt(fs: FileSystem, root: Path, v: Long): Unit = {
    val st = replayState(fs, root, Some(v))
    val lines = st.files.toSeq.sortBy(_._1).map { case (rel, m) =>
      if (m.stats.isEmpty) s"A\t${m.date}\t${m.bytes}\t$rel"
      else s"A\t${m.date}\t${m.bytes}\t$rel\t${renderStats(m.stats)}"
    } ++ st.txns.toSeq.sortBy(_._1).map { case (a, ver) => s"T\t${enc(a)}\t$ver" } ++
      st.schema.map(s => s"M\t${enc(s.json)}").toSeq ++
      st.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"P\t${enc(k)}\t${enc(v)}" }
    val payload = ((lines :+ s"C\t${lines.length}").mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8)
    // atomic publish, same discipline as commits: a reader listing the
    // newest .ckpt mid-write would otherwise see torn content and fail
    // every read until the write finishes (replayState now also falls
    // back, but the torn window shouldn't exist in the first place).
    // Idempotent: every writer renders identical content for a fixed v,
    // so losing the put-if-absent race needs no handling.
    putIfAbsent(fs, checkpointFile(root, v), payload)
    ()
  }

  /** Delete commit (and older checkpoint) files strictly below the
    * newest checkpoint — the metadata-retention sweep that keeps the
    * log dir bounded. Time travel to expired versions becomes
    * unavailable (exactly Delta's logRetentionDuration contract); the
    * newest checkpoint plus the tail commits reproduce every retained
    * version.
    */
  def expireLog(spark: SparkSession, table: String): Seq[Long] = {
    val (fs, root) = fsFor(spark, table)
    listCheckpoints(fs, root).lastOption.toSeq.flatMap { c =>
      val droppedCommits = listVersions(fs, root).filter(_ < c)
      droppedCommits.foreach(v => fs.delete(versionFile(root, v), false))
      listCheckpoints(fs, root).filter(_ < c)
        .foreach(v => fs.delete(checkpointFile(root, v), false))
      droppedCommits
    }
  }

  /** One attempt to claim version `v` with `payload`; false = lost the
    * race.
    */
  private def tryCommit(fs: FileSystem, root: Path, v: Long,
      payload: Array[Byte]): Boolean =
    putIfAbsent(fs, versionFile(root, v), payload)

  /** Store-specific [[LogStore]]s keyed by filesystem scheme;
    * [[HadoopLogStore]] serves any scheme without a registration.
    */
  private val logStores =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()

  /** Register the [[LogStore]] that owns atomic put-if-absent for a
    * filesystem scheme — the deployment hook an object store needs
    * (e.g. `registerLogStore("s3a", new S3ConditionalPutStore(...))`);
    * without one, schemes fall back to [[HadoopLogStore]], which is
    * only safe where `create(overwrite=false)` is atomic.
    */
  def registerLogStore(scheme: String, store: LogStore): Unit =
    logStores.put(scheme, store)

  private[graft] def unregisterLogStore(scheme: String): Unit =
    logStores.remove(scheme)

  /** Atomic put-if-absent of one complete log file (commit or
    * checkpoint) through the scheme's registered [[LogStore]].
    *
    * Object-store hardening: a conditional PUT can fail AMBIGUOUSLY —
    * the object landed but the response was lost (timeout, dropped
    * connection). Treating that as a plain lost race would make the
    * writer retry its payload at the NEXT version and double-commit
    * its own batch. So on a store exception: read the target back —
    * our exact bytes there means OUR put won (success); different
    * bytes means a genuine lost race; absent means the request never
    * landed (transient — bounded retry, then rethrow). Byte-equal
    * payloads from two writers are indistinguishable, and
    * indistinguishable here means interchangeable: the log holds that
    * payload exactly once either way.
    */
  private def putIfAbsent(fs: FileSystem, f: Path,
      payload: Array[Byte]): Boolean = {
    val store =
      Option(logStores.get(fs.getScheme)).getOrElse(HadoopLogStore)
    def ownBytesLanded(): Boolean = {
      val in = fs.open(f)
      val got = try org.apache.commons.io.IOUtils.toByteArray(in)
        finally in.close()
      java.util.Arrays.equals(got, payload)
    }
    var attempt = 0
    var ambiguous = false
    while (true) {
      try {
        val won = store.putIfAbsent(fs, f, payload)
        // After ANY ambiguous failure in this call, a later plain
        // `false` may be our own FIRST request landing late (delayed
        // visibility: the retry ran while the object was still
        // invisible, then the original PUT materialized). Concluding
        // "lost race" without looking would re-commit the batch at the
        // next version — read back and byte-compare first.
        return won || (ambiguous && ownBytesLanded())
      } catch {
        case e: java.io.IOException =>
          ambiguous = true
          if (fs.exists(f)) return ownBytesLanded()
          attempt += 1
          if (attempt > 3) throw e
      }
    }
    false // unreachable
  }

  /** Operation tags whose remove+add commits are CONTENT-PRESERVING
    * layout rewrites (same rows in, same rows out): the only rewrite
    * class a materialized view may ignore for freshness. Everything
    * else that removes files (merge, delete, compact, retention,
    * rollup, overwrite, restore) changes the table's row multiset, so
    * an MV that predates it is stale until rebuilt.
    *
    * `purge` qualifies because reads ALWAYS subtract deletion vectors:
    * a file-with-DV before [[purgeDeletes]] and its physical rewrite
    * after yield the identical row multiset — only the representation
    * of the pending deletes moves (vector → rewritten file).
    */
  private[sink] val LayoutOps: Set[String] = Set("optimize", "zorder", "purge")

  private def render(adds: Seq[(String, FileMeta)],
      removes: Seq[String], txn: Option[(String, Long)] = None,
      schema: Option[StructType] = None,
      op: Option[String] = None,
      propsSet: Seq[(String, String)] = Seq.empty,
      propsRemove: Seq[String] = Seq.empty): Array[Byte] = {
    // removes BEFORE adds: replay folds a commit's actions in file
    // order, and a deletion-vector commit re-adds the SAME rel it
    // removes (meta update) — R-then-A nets to the new meta, A-then-R
    // would net to a dropped file. Disjoint-rel rewrites are
    // order-insensitive.
    val lines = removes.map(r => s"R\t$r") ++
      adds.map { case (rel, m) =>
        if (m.stats.isEmpty) s"A\t${m.date}\t${m.bytes}\t$rel"
        else s"A\t${m.date}\t${m.bytes}\t$rel\t${renderStats(m.stats)}"
      } ++
      txn.map { case (a, ver) => s"T\t${enc(a)}\t$ver" }.toSeq ++
      schema.map(s => s"M\t${enc(s.json)}").toSeq ++
      op.map(o => s"O\t${enc(o)}").toSeq ++
      propsSet.map { case (k, v) => s"P\t${enc(k)}\t${enc(v)}" } ++
      propsRemove.map(k => s"P\t${enc(k)}")
    val all = lines :+ s"C\t${lines.length}"
    (all.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** Whether the table state AT `v` is still reproducible from the
    * log: a checkpoint at or below `v` plus every commit in between,
    * or (no checkpoint yet) every commit from 0. After [[expireLog]]
    * sweeps commits below the newest checkpoint, older versions
    * silently replay to an EMPTY state — callers that would read that
    * as "no files" (a truncated snapshot) must check this first and
    * fail loudly instead.
    */
  private[sink] def versionReproducible(fs: FileSystem, root: Path,
      v: Long): Boolean = {
    if (v < 0) return false
    val vs = listVersions(fs, root).toSet
    listCheckpoints(fs, root).filter(_ <= v).lastOption match {
      case Some(c) => ((c + 1) to v).forall(vs.contains)
      case None    => (0L to v).forall(vs.contains)
    }
  }

  /** ONE metadata pass over the commit range (from, to]: the
    * completeness/destructiveness classification of [[rangeSummary]]
    * AND the pure-append file delta, parsing each
    * commit file once — the per-trigger streaming-read path would
    * otherwise read every commit in range twice per micro-batch.
    */
  private[sink] def rangeDelta(fs: FileSystem, root: Path,
      fromExclusive: Long, toInclusive: Long)
      : (Boolean, Boolean, Seq[(String, FileMeta)]) = {
    val vs = listVersions(fs, root)
      .filter(v => v > fromExclusive && v <= toInclusive)
    val complete = vs.size == (toInclusive - fromExclusive)
    var destructive = false
    val files = Seq.newBuilder[(String, FileMeta)]
    vs.foreach { v =>
      val pl = parseLog(fs, versionFile(root, v), s"commit $v")
      val hasRemoves = pl.acts.exists(_.add.isEmpty)
      if (hasRemoves) {
        if (!pl.op.exists(LayoutOps.contains)) destructive = true
      } else files ++= pl.acts.collect { case Action(rel, Some(m)) => rel -> m }
    }
    (complete, destructive, files.result())
  }

  /** Classify the commit range (from, to] for MV freshness and refresh
    * routing: `complete` = every version in the range is still readable
    * (false after [[expireLog]] swept part of it — callers must then
    * assume the worst); `newData` = a pure-append commit added rows;
    * `destructive` = a commit removed files WITHOUT a [[LayoutOps]] tag
    * (merge/delete/compact/retention/... — or an untagged legacy
    * rewrite, conservatively). Layout rewrites and marks set neither.
    */
  private[sink] def rangeSummary(fs: FileSystem, root: Path,
      fromExclusive: Long, toInclusive: Long): (Boolean, Boolean, Boolean) = {
    val vs = listVersions(fs, root)
      .filter(v => v > fromExclusive && v <= toInclusive)
    val complete = vs.size == (toInclusive - fromExclusive)
    var newData = false
    var destructive = false
    vs.foreach { v =>
      val pl = parseLog(fs, versionFile(root, v), s"commit $v")
      val hasRemoves = pl.acts.exists(_.add.isEmpty)
      val hasAdds = pl.acts.exists(_.add.isDefined)
      if (hasRemoves && !pl.op.exists(LayoutOps.contains)) destructive = true
      else if (hasAdds && !hasRemoves) newData = true
    }
    (complete, newData, destructive)
  }

  /** Publish a commit, retrying past lost version races. Commits that
    * remove files re-validate their removals against the fresh snapshot
    * each attempt and abort on conflict (the file was already removed —
    * retrying would double-remove or resurrect).
    *
    * `expectMark` turns the txn-mark advance into a COMPARE-AND-SET:
    * the commit only lands while the app's current high-water mark
    * still equals the value the caller READ when it computed its work
    * (-1 for "no mark yet"). Incremental consumers need this — two MV
    * refreshers that both read mark=3 but observe base heads 5 and 6
    * would otherwise BOTH apply deltas starting at 4 (the ≥-dup check
    * alone admits the second, higher-version commit, double-counting
    * the overlap). With CAS, exactly one advance from a given mark
    * wins; the loser returns -1 and its staged files fall to vacuum.
    */
  private def commitRetry(fs: FileSystem, root: Path,
      adds: Seq[(String, FileMeta)], removes: Seq[String],
      txn: Option[(String, Long)] = None,
      schema: Option[StructType] = None,
      op: Option[String] = None,
      expectMark: Option[Long] = None,
      propsSet: Seq[(String, String)] = Seq.empty,
      propsRemove: Seq[String] = Seq.empty,
      expectDv: Map[String, Option[String]] = Map.empty): Long = {
    fs.mkdirs(logDir(root))
    val payload = render(adds, removes, txn, schema, op, propsSet,
      propsRemove)
    var v = listVersions(fs, root).lastOption.getOrElse(-1L) + 1
    while (true) {
      // a CREATE commit is valid ONLY at version 0: two racing creators
      // both observe "no table", but only the v0 winner creates — the
      // loser must NOT silently re-land its schema/properties at v1
      // over the winner's (TOCTOU double-create)
      if (op.contains("create") && v > 0)
        throw new IllegalStateException(
          s"table at $root already exists (concurrent CREATE lost the " +
            "race at version 0)")
      if (removes.nonEmpty || expectDv.nonEmpty) {
        val live = snapshotFiles(fs, root)
        val gone = removes.filterNot(live.contains)
        require(gone.isEmpty,
          s"commit conflict: concurrently removed ${gone.take(3).mkString(",")}")
        // deletion-vector CAS: a read-modify-write of a file's DV is
        // valid only while the pointer still equals what the caller
        // read — a concurrent merge-on-read delete's vector would
        // otherwise be silently overwritten (its rows resurrected)
        expectDv.foreach { case (rel, expected) =>
          val cur = live.get(rel).flatMap(m => DvStore.pointerOf(m.stats))
          require(cur == expected,
            s"commit conflict: deletion vector on $rel changed " +
              "concurrently (expected " +
              s"${expected.getOrElse("none")}, found ${cur.getOrElse("none")})")
        }
      }
      // a lost race may have been THIS batch from a concurrent duplicate
      // of the same writer (task retry, zombie executor): re-check the
      // app's high-water mark under each attempt so a dup never lands
      // twice
      if (txn.exists { case (a, ver) =>
        txnHighWater(fs, root).get(a).exists(_ >= ver) }) return -1L
      // CAS loser: someone advanced the mark since the caller read it —
      // its delta basis is stale, committing would double-apply
      if (expectMark.exists { expected =>
        txn.exists { case (a, _) =>
          txnHighWater(fs, root).getOrElse(a, -1L) != expected }
      }) return -1L
      if (tryCommit(fs, root, v, payload)) {
        // amortized reader cost: materialize a checkpoint every N
        // commits. Best-effort — a crash here only defers the next one
        if (v > 0 && v % CheckpointEvery == 0)
          try checkpointAt(fs, root, v) catch { case _: Exception => () }
        return v
      }
      v = listVersions(fs, root).lastOption.getOrElse(-1L) + 1
    }
    -1L // unreachable
  }

  /** Ops/test seam: publish a raw action commit (what a store-specific
    * LogStore would wrap) and inspect the live file set.
    */
  private[graft] def commitActions(spark: SparkSession, table: String,
      adds: Seq[(String, String, Long)], removes: Seq[String]): Long = {
    val (fs, root) = fsFor(spark, table)
    commitRetry(fs, root,
      adds.map { case (rel, d, len) => rel -> FileMeta(d, len, Map.empty) },
      removes)
  }

  private[graft] def liveFiles(spark: SparkSession,
      table: String): Map[String, (String, Long)] = {
    val (fs, root) = fsFor(spark, table)
    snapshotFiles(fs, root).map { case (rel, m) => rel -> (m.date, m.bytes) }
  }

  private[graft] def liveStats(spark: SparkSession,
      table: String): Map[String, FileMeta] = {
    val (fs, root) = fsFor(spark, table)
    snapshotFiles(fs, root)
  }

  /** [[liveStats]] with pointer-form Bloom entries resolved to their
    * sidecar payloads — the view a probe site sees (test/ops seam).
    */
  private[graft] def liveStatsResolved(spark: SparkSession,
      table: String): Map[String, FileMeta] = {
    val (fs, root) = fsFor(spark, table)
    snapshotFiles(fs, root).map { case (rel, m) =>
      rel -> m.copy(stats = BloomStore.resolveStats(fs, root, rel, m.stats))
    }
  }

  /** Per-file min/max for [[statsColumns]], read from the parquet FOOTER
    * (row-group metadata the writer already produced) — O(files)
    * metadata reads, never a second pass over the data. A column whose
    * stats are absent/empty in any row group is dropped for that file:
    * absence of stats must read as "cannot skip", never as a range.
    */
  private[graft] def footerStats(fs: FileSystem, file: Path): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = HadoopInputFile.fromPath(file, fs.getConf)
    val rdr = ParquetFileReader.open(in)
    try {
      val wanted = statsColumns.toSet
      val acc = scala.collection.mutable.Map.empty[String, Option[ColStats]]
      // exact per-file row count, free from the same footer — rides the
      // log as the `#rows` pseudo-column (same reserved-prefix family
      // as `#dv`) so estimateStatistics can report an exact table
      // rowCount to the CBO without touching a data file
      var nRows = 0L
      // exact per-column null counts (footer-free too): `<col>#nulls`,
      // additive across files, for the stats + bloom columns. A column
      // whose footer omits the null count in ANY block is dropped —
      // a partial sum would be a lowball the optimizer trusts.
      val nullWanted = wanted ++ bloomColumns
      val nulls = scala.collection.mutable.Map.empty[String, Option[Long]]
      rdr.getFooter.getBlocks.forEach { block =>
        nRows += block.getRowCount
        block.getColumns.forEach { cc =>
          val nname = cc.getPath.toDotString
          if (nullWanted(nname)) {
            val nst = cc.getStatistics
            nulls.updateWith(nname) {
              case Some(None) => Some(None)
              case prev =>
                if (nst == null || nst.isEmpty || !nst.isNumNullsSet) Some(None)
                else Some(Some(prev.flatten.getOrElse(0L) + nst.getNumNulls))
            }
          }
        }
        block.getColumns.forEach { cc =>
          val name = cc.getPath.toDotString
          if (wanted(name)) {
            val st = cc.getStatistics
            val cur: Option[ColStats] =
              if (st == null || st.isEmpty || !st.hasNonNullValue) None
              else cc.getPrimitiveType.getPrimitiveTypeName match {
                case INT64 | INT32 => Some(ColStats('l',
                  st.genericGetMin.asInstanceOf[Number].longValue.toString,
                  st.genericGetMax.asInstanceOf[Number].longValue.toString))
                case BINARY => Some(ColStats('s',
                  st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
                case _ => None
              }
            acc.updateWith(name) {
              case Some(Some(prev)) => Some(cur.map { c =>
                if (c.typ == 'l') ColStats('l',
                  math.min(prev.min.toLong, c.min.toLong).toString,
                  math.max(prev.max.toLong, c.max.toLong).toString)
                else ColStats('s',
                  if (prev.min <= c.min) prev.min else c.min,
                  if (prev.max >= c.max) prev.max else c.max)
              })
              case Some(None) => Some(None) // one statless block poisons
              case None       => Some(cur)
            }
          }
        }
      }
      acc.collect { case (c, Some(st)) => c -> st }.toMap ++
        nulls.collect { case (c, Some(n)) =>
          s"$c$NullsSuffix" -> ColStats('l', n.toString, n.toString) } +
        (RowsKey -> ColStats('l', nRows.toString, nRows.toString))
    } finally rdr.close()
  }

  /** Stats key of the exact per-file row count (footer-derived);
    * summed (minus DV cardinalities) by [[TxFileIndex.exactRowCount]].
    */
  private[graft] val RowsKey = "#rows"

  /** Per-column count-stats key suffixes (reserved `#` family, so the
    * `parts` surfaces and the skip-index prober never mistake them for
    * data columns): `<col>#nulls` = exact footer null count (additive
    * across files); `<col>#ndv` = per-file approximate distinct count
    * from the same distributed pass that builds the value Blooms.
    * Σ per-file NDV is an UPPER bound on table NDV (duplicates across
    * files collapse), which is the safe direction for the CBO's
    * aggregate-output estimate: min(rowCount, Π ndv) can only
    * overestimate group counts, never starve a hash aggregate.
    */
  private[graft] val NullsSuffix = "#nulls"
  private[graft] val NdvSuffix = "#ndv"

  /** Serializes the set-conf → write → restore-conf window below: the
    * parquet writer reads `outputTimestampType` from the SESSION conf at
    * job-planning time (Spark 4.1 has no per-write option for it), so
    * two concurrent [[stage]] calls in one session could otherwise
    * unset/restore the key while the other's job is planned — producing
    * INT96 files whose interval_start stats are unusable (data skipping
    * silently lost) or leaking TIMESTAMP_MICROS into the session.
    * Per-session granularity; cross-JVM writers each own their session
    * conf, so only same-JVM concurrency (appendTxn duplicates, parallel
    * compact) needs the lock — the commit race itself stays lock-free.
    */
  private val stageLocks =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  /** Declared bucketing of a table, from its log-carried properties:
    * `graft.bucketBy` (comma-separated key columns) + `graft.buckets`
    * (count). Declared at CREATE (data-less commit), consulted by
    * every data write — [[stage]] is the single choke point, so
    * appends, SQL INSERTs, compactions, DELETE rewrites and rollups
    * all preserve the layout without per-operator logic.
    */
  /** Columns with a declared ngram Bloom index
    * (`graft.ngramBloomBy`, comma-separated).
    */
  private[sink] def bucketNgramCols(props: Map[String, String]): Seq[String] =
    props.get("graft.ngramBloomBy").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  private[graft] def bucketSpecOf(
      props: Map[String, String]): Option[(Seq[String], Int)] =
    props.get("graft.bucketBy").map { ks =>
      val keys = ks.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val n = props.getOrElse("graft.buckets",
        throw new IllegalArgumentException(
          "graft.bucketBy needs graft.buckets")).trim.toInt
      require(keys.nonEmpty && n > 0,
        s"invalid bucketing: keys=$ks buckets=$n")
      (keys, n)
    }

  /** Recursive file listing via plain `listStatus`, NOT
    * `fs.listFiles(_, true)`: the latter materializes every entry as a
    * `LocatedFileStatus`, whose constructor reads the permission field —
    * and on a local filesystem without the Hadoop native library that
    * lazily-loaded field SHELLS OUT (`ls -ld`, one fork+exec per file:
    * measured 4.5 ms/file vs 0.04 ms/file, 123×). Plain `FileStatus`
    * keeps permissions lazy and this walk never touches them. Block
    * locations are irrelevant here (metadata walks, not scan planning),
    * and an object-store deployment fronts listing with a [[LogStore]]
    * anyway.
    */
  private def listFilesNoPerm(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath) else out += st
      }
    walk(dir)
    out.toSeq
  }

  /** Move `date=<d>/__gb=<b>/part-X[.ext]` up to
    * `date=<d>/part-X_<b%05d>[.ext]` — the exact filename contract
    * Spark's `BucketingUtils.getBucketId` parses (`.*_(\d+)(?:\..*)?$`),
    * so the scan-side `HadoopFsRelation(bucketSpec)` groups the files
    * into hash-aligned RDD partitions. Metadata-only renames on the
    * still-unpublished staged dir.
    */
  private def promoteBucketDirs(fs: FileSystem, dir: Path): Unit = {
    val moves = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    listFilesNoPerm(fs, dir).foreach { st =>
      val f = st.getPath
      val parent = f.getParent
      if (parent.getName.startsWith("__gb=") &&
          f.getName.startsWith("part-")) {
        val b = parent.getName.stripPrefix("__gb=").toInt
        moves += ((f, new Path(parent.getParent, bucketFileName(f.getName, b))))
      }
    }
    moves.foreach { case (src, dst) =>
      require(fs.rename(src, dst), s"bucket promote failed: $src -> $dst")
    }
    fs.listStatus(dir).foreach { dateSt =>
      if (dateSt.isDirectory)
        fs.listStatus(dateSt.getPath).foreach { st =>
          if (st.isDirectory && st.getPath.getName.startsWith("__gb="))
            fs.delete(st.getPath, true)
        }
    }
  }

  private def bucketFileName(base: String, b: Int): String = {
    val dot = base.indexOf('.')
    if (dot < 0) f"${base}_$b%05d"
    else f"${base.substring(0, dot)}_$b%05d${base.substring(dot)}"
  }

  /** A folded-stats key (`date=<d>/__gb=<b>/<name>`) after
    * [[promoteBucketDirs]] moved its file. */
  private def promotedKey(key: String): String =
    key.split('/') match {
      case Array(d, gb, name) if gb.startsWith("__gb=") =>
        s"$d/${bucketFileName(name, gb.stripPrefix("__gb=").toInt)}"
      case _ => key
    }

  /** Stage `df` (which must carry a `date` column) as immutable parquet
    * under a fresh uuid dir and return the (relpath -> meta) adds, with
    * the stats and filters its write tasks folded. Nothing is visible
    * until these are committed.
    */
  private def stage(df0: DataFrame, fs: FileSystem,
      root: Path): Seq[(String, FileMeta)] = {
    // ONE log replay per stage serves both property consumers
    // (constraints + bucketing)
    val props = replayState(fs, root, None).props
    // every data write — append, merge rewrite, overwrite, maintenance
    // — passes the table's CHECK constraints, enforced inside this job
    val df = enforceConstraints(df0, props)
    val dataDir = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    val bucketing = bucketSpecOf(props)
    val (toWrite, partCols) = bucketing match {
      case Some((keys, n)) =>
        // bucket id = Spark's own bucketing hash (Murmur3 pmod n),
        // so the scan's HashPartitioning claim is exactly what the
        // files contain. The callers' range-repartition collapses
        // into this exchange (CollapseRepartition) — a bucketed
        // write costs ONE shuffle, like any other.
        keys.foreach(k => require(df.columns.contains(k),
          s"bucketed table: every write needs key column $k"))
        require(!df.columns.contains("__gb"), "__gb is reserved")
        (df.withColumn("__gb", pmod(hash(keys.map(col): _*), lit(n)))
          .repartition(n, col("__gb")), Seq("date", "__gb"))
      case None => (df, Seq("date"))
    }
    // INT96 (Spark's compatibility default) carries no usable min/max
    // stats in parquet — pin INT64 micros so row-group pushdown and the
    // footer fallback see interval_start ranges. Session-conf scoped to
    // the write, under the per-session stage lock (see [[stageLocks]]).
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val sess = df.sparkSession
    val (folded, summed) =
      stageLocks.computeIfAbsent(sess, _ => new Object).synchronized {
        val prevTs = sess.conf.getOption(tsKey)
        sess.conf.set(tsKey, "TIMESTAMP_MICROS")
        try graft.Graft.describing(sess, "TxTable.stage write")(
          writeFiles(toWrite, new Path(root, dataDir), partCols,
            bucketNgramCols(props)))
        finally prevTs match {
          case Some(v) => sess.conf.set(tsKey, v)
          case None    => sess.conf.unset(tsKey)
        }
      }
    val stats =
      if (bucketing.isEmpty) folded
      else {
        promoteBucketDirs(fs, new Path(root, dataDir))
        folded.map { case (k, st) => promotedKey(k) -> st }
      }
    val tag = if (summed) Map(SummedKey -> ColStats('l', "1", "1")) else Map.empty
    stagedMetas(fs, root, dataDir, stats.map { case (k, st) => k -> (st ++ tag) })
  }

  /** Write `df` as parquet under `dir`, partitioned by `partCols`,
    * through Spark's file writer with a [[FileStatsTracker]]: the write
    * tasks fold every file's stats and filters as they produce it. Also
    * reports whether the rows are provably unique on the non-measure
    * columns: a Catalyst distinct-key set of the plan (a GROUP BY key,
    * kept through projections, filters, repartitions and sorts) lies
    * within them. The plan is optimized once, for both answers.
    */
  private def writeFiles(df: DataFrame, dir: Path, partCols: Seq[String],
      ngramCols: Seq[String]): (Map[String, Map[String, ColStats]], Boolean) = {
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // planned as `DataFrameWriter.partitionBy` plans a write (Spark's
    // V1Writes): a local sort on the partition columns over the query.
    // The optimizer would drop any within-partition sort below it
    // (EliminateSorts), so the callers' exchange alone sets the layout:
    // range-clustered, rows in the range exchange's order.
    val qe = df.sortWithinPartitions(partCols.map(col): _*).queryExecution
    val plan = qe.optimizedPlan
    val output = plan.output
    val parts = partCols.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"a tx table write needs a `$c` column")))
    val dataCols = output.filterNot(parts.contains)
    val tracker = new FileStatsTracker(new FileStatsFold(
      StructType(dataCols.map(a => StructField(a.name, a.dataType, a.nullable))),
      ngramCols))
    val options = Map("compression" -> "zstd")
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, dir.toString)
    SQLExecution.withNewExecutionId(qe, Some(s"tx stage $dir")) {
      FileFormatWriter.write(spark, qe.executedPlan, new ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(dir.toString, Map.empty, output),
        spark.sessionState.newHadoopConfWithOptions(options), parts, None,
        Seq(tracker), options)
    }
    val keys = AttributeSet(output.filterNot(a => measures(a.name)))
    val summed = plan.distinctKeys.exists(_.forall(e =>
      e.deterministic && e.references.subsetOf(keys)))
    (tracker.collected, summed)
  }

  /** Stats key of the per-file "already summed" tag: the commit that
    * wrote the file proved its rows unique on every non-measure column
    * (one row per key, as a SummingMergeTree part is after its insert).
    * [[compact]] skips a date whose live files all carry it from one
    * commit.
    */
  private[graft] val SummedKey = "#summed"

  /** The staged data dir of a logged file: its path up to `/date=`.
    * One stage is one commit, so files of one dir came in together. */
  private def stagedDirOf(rel: String): String =
    rel.substring(0, math.max(0, rel.lastIndexOf("/date=")))

  /** The (relpath -> meta) adds for the files of a staged dir: each
    * file's folded stats (keyed `date=<d>/<name>`), its Bloom payloads
    * moved to the dir's `_filters.tsv` sidecar (see [[BloomStore]]). A
    * file with no folded stats — written by an older writer, say —
    * falls back to its footer. `onlyFiles` (table-relative) restricts
    * the adds to a committed subset: aborted or speculative task
    * attempts may have left extra files in the dir, which stay
    * unreferenced and fall to vacuum.
    */
  private[sink] def stagedMetas(fs: FileSystem, root: Path, dataDir: String,
      folded: Map[String, Map[String, ColStats]],
      onlyFiles: Option[Set[String]] = None): Seq[(String, FileMeta)] = {
    val files = listFilesNoPerm(fs, new Path(root, dataDir)).flatMap { st =>
      val f = st.getPath
      val date = f.getParent.getName.stripPrefix("date=")
      val key = s"date=$date/${f.getName}"
      if (f.getName.startsWith("part-") &&
          onlyFiles.forall(_.contains(s"$dataDir/$key")))
        Some((key, date, st.getLen,
          folded.getOrElse(key, footerStats(fs, f))))
      else None
    }
    val stats = writeFilters(fs, root, dataDir,
      files.map { case (key, _, _, st) => key -> st }.toMap)
    files.map { case (key, date, len, _) =>
      s"$dataDir/$key" -> FileMeta(date, len, stats(key))
    }
  }

  /** Move the 'b' bitset payloads of a staged dir's files to ONE
    * immutable sidecar (`<dataDir>/_filters.tsv`, line format in
    * [[BloomStore]]); the log carries a pointer per (file, column)
    * instead of ~27 KB of base64 replicated into every checkpoint. The
    * small scalar count stats (`#ndv`) stay inline in the log line.
    */
  private def writeFilters(fs: FileSystem, root: Path, dataDir: String,
      inline: Map[String, Map[String, ColStats]])
      : Map[String, Map[String, ColStats]] = {
    val lines = inline.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
      cols.toSeq.sortBy(_._1).collect {
        case (c, st) if st.typ == 'b' => s"$f\t$c\t${st.max}\t${st.min}"
      }
    }
    if (lines.isEmpty) return inline
    val sidecarRel = s"$dataDir/_filters.tsv"
    val out = fs.create(new Path(root, sidecarRel), true)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    inline.map { case (f, cols) =>
      f -> cols.map {
        case (c, st) if st.typ == 'b' =>
          c -> ColStats('b', s"${BloomStore.Ptr}$sidecarRel", st.max)
        case other => other
      }
    }
  }

  /** The data schema `df` will write (`partitionBy` strips `date` from
    * the files, so the logged schema excludes it too). Logged with every
    * field NULLABLE: an appended table's columns are nullable by nature
    * (pre-evolution files hold NULL for later columns, and the
    * vectorized parquet reader refuses to null-fill a missing column
    * the requested schema declares non-null) — the same default Delta
    * applies.
    */
  private def dataSchema(df: DataFrame): StructType =
    StructType(df.schema.filterNot(_.name == "date")
      .map(f => f.copy(nullable = true)))

  /** Schema metadata to attach to a write commit: Some(schema) on the
    * first commit or on ADDITIVE evolution — every existing column keeps
    * its name and type, new columns append, and old files read the new
    * columns as NULL (standard parquet missing-column semantics under an
    * explicit read schema); None when unchanged. Dropping or retyping a
    * column is REFUSED: old files would become unreadable under the new
    * schema (Delta calls that a breaking change requiring `overwrite`,
    * which replaces the file set and may change schema freely).
    */
  /** Deep nullability relaxation for schema comparison: a writer whose
    * derived NESTED nullability is tighter than the declared schema
    * (collect_set yields containsNull=false, count a NOT-NULL struct
    * field) is writing the SAME type — non-null data always fits a
    * nullable container. Without this, the first aggregate-state
    * insert into a declared `ARRAY<BIGINT>` column would read as
    * non-additive evolution and refuse.
    */
  private def relaxNulls(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxNulls(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = relaxNulls(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = relaxNulls(m.keyType),
        valueType = relaxNulls(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def schemaUpdate(fs: FileSystem, root: Path,
      df: DataFrame): Option[StructType] =
    schemaUpdate(fs, root, dataSchema(df))

  private def schemaUpdate(fs: FileSystem, root: Path,
      next: StructType): Option[StructType] =
    logSchema(fs, root) match {
      case None                     => Some(next)
      case Some(cur) if cur == next => None
      // nullability-only drift: same type — the DECLARED schema wins
      // (no M action; the logged contract is already the loose one)
      case Some(cur) if cur.map(f => f.name -> relaxNulls(f.dataType)) ==
          next.map(f => f.name -> relaxNulls(f.dataType)) => None
      case Some(cur) =>
        val nextTypes = next.map(f => f.name -> relaxNulls(f.dataType)).toMap
        val broken = cur.filterNot(f =>
          nextTypes.get(f.name).contains(relaxNulls(f.dataType)))
        require(broken.isEmpty,
          s"non-additive schema change (${broken.map(_.name).mkString(",")}): " +
            "append may only ADD columns; use overwrite to replace the schema")
        // keep the DECLARED types for existing columns (a tighter
        // writer-derived nullability must not narrow the contract);
        // genuinely new columns append at the end
        val curNames = cur.fieldNames.toSet
        Some(StructType(cur ++ next.filterNot(f => curNames(f.name))))
    }

  /** Transactional append: new files become visible in one commit,
    * with each file's stats and filters folded by the write tasks.
    * When the plan of `df` proves its rows unique on the non-measure
    * columns (a GROUP BY over them, as `FlowPipeline.run` ends with),
    * every file carries the [[SummedKey]] tag and a later [[compact]]
    * leaves the commit's dates alone while no other commit feeds them.
    * Returns the commit version.
    */
  def append(spark: SparkSession, df: DataFrame, table: String): Long = {
    val (fs, root) = fsFor(spark, table)
    commitRetry(fs, root, stage(prep(df), fs, root), Seq.empty, None,
      schemaUpdate(fs, root, df), op = Some("append"))
  }

  /** EXACTLY-ONCE append: the commit carries a writer (appId, version)
    * mark (Delta's `txn` action) and is skipped — returning -1 — if the
    * app's committed high-water mark already covers `version`. This is
    * the streaming ingest seam:
    * `foreachBatch((df, id) => appendTxn(spark, df, path, "my-app", id))`
    * survives micro-batch replays after checkpoint recovery, task
    * retries, and zombie duplicate writers without double-counting —
    * the reference's insert-dedup-token contract (S5/W8) carried onto
    * the object-store table. A skipped duplicate's already-staged files
    * stay unreferenced and fall to [[vacuum]].
    *
    * The mark is ONE (appId, maxVersion) entry per writer app in any
    * checkpoint — constant-size under unbounded batch counts (the
    * committed-id SET it replaced grew with every batch and rode every
    * checkpoint; TxTableSpec proves the constant-size property across
    * 100 batches). The contract this buys REQUIRES the app's versions
    * to be monotone — exactly what Structured Streaming's batchId is;
    * dedup survives [[expireLog]] because checkpoints carry the marks.
    *
    * Stats, filters and the [[SummedKey]] tag come as in [[append]], so
    * a date fed by one micro-batch commit is already summed for
    * [[compact]].
    */
  def appendTxn(spark: SparkSession, df: DataFrame, table: String,
      appId: String, version: Long,
      expectMark: Option[Long] = None,
      propsSet: Seq[(String, String)] = Seq.empty): Long = {
    val (fs, root) = fsFor(spark, table)
    if (txnHighWater(fs, root).get(appId).exists(_ >= version))
      return -1L // pre-stage check: don't even write the parquet
    commitRetry(fs, root, stage(prep(df), fs, root), Seq.empty,
      Some(appId -> version), schemaUpdate(fs, root, df),
      op = Some("append"), expectMark = expectMark, propsSet = propsSet)
  }

  /** ANALYZE: backfill footer-derived stats (`#rows`, `#nulls`, and
    * the min/max ranges for [[statsColumns]]) onto live files whose
    * log entries predate them — how a PRE-UPGRADE table gains an exact
    * rowCount for the optimizer without rewriting a byte of data.
    * Pure metadata: footer reads on the bounded driver pool + ONE
    * R-then-A meta-update commit (the deletion-vector pattern), with
    * the files themselves untouched. Existing stats entries win on
    * conflict (bloom pointers, `#dv`, already-present ranges), the
    * removal guard refuses if compaction dropped a file concurrently,
    * and the DV CAS refuses if a vector landed meanwhile. NDV stats
    * are NOT backfilled (they need a value pass — they arrive with the
    * next rewrite); rowCount alone is what unlocks the CBO. Returns
    * the number of files updated, -1 when nothing was missing.
    */
  def analyzeTable(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsFor(spark, table)
    val missing = snapshotFiles(fs, root).filter {
      case (_, m) => !m.stats.contains(RowsKey)
    }.toSeq
    if (missing.isEmpty) return -1L
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, missing.size))
    val updated =
      try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(missing) { case (rel, m) =>
          Future(rel -> m.copy(stats =
            footerStats(fs, new Path(root, rel)) ++ m.stats))
        }, Duration.Inf)
      } finally pool.shutdown()
    commitRetry(fs, root, updated, updated.map(_._1),
      op = Some("analyze"),
      expectDv = updated.map { case (rel, m) =>
        rel -> DvStore.pointerOf(m.stats)
      }.toMap)
    updated.size.toLong
  }

  /** ANALYZE FULL (the opt-in VALUE pass): per-file approximate NDV
    * (`<col>#ndv`, HyperLogLog++), exact null counts (`<col>#nulls`)
    * and min/max ranges (bare `<col>`, the statsColumns encoding:
    * 'l' covers integrals plus timestamps-as-micros/dates-as-days,
    * 's' UTF8) for the NAMED columns — the stats a column WITHOUT a
    * Bloom index (whose NDV otherwise rides the bloom bitset for
    * free) can only get from reading values. Cost: ONE column-pruned
    * distributed scan grouped by `_metadata.file_path` — the shuffle
    * is #files × #cols sketch rows, never data-sized — then the
    * analyzeTable R-then-A metadata commit. Deletion vectors are
    * subtracted by the scan, so the stats describe LIVE rows.
    * Re-running REFRESHES estimates (new values win). The ranges feed
    * both the file skipper and the CBO's filter-selectivity estimate
    * ([[graft.catalog.GraftCatalogTable.statsCatalogTable]]).
    * Returns the number of files updated.
    */
  def analyzeColumnsFull(spark: SparkSession, table: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "analyze full needs at least one column")
    val (fs, root) = fsFor(spark, table)
    val state = replayState(fs, root, None)
    val live = state.files.toSeq
    if (live.isEmpty) return -1L
    val df = readFileSet(spark, root, live, state.schema)
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"analyze full: no such column(s) ${missing.mkString(", ")} in " +
        s"$table (have: ${df.columns.mkString(", ")})")
    import org.apache.spark.sql.types._
    val types: Map[String, DataType] =
      cols.map(c => c -> df.schema(c).dataType).toMap
    val aggs = cols.flatMap { c =>
      Seq(approx_count_distinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    }
    val perFile = df.withColumn("__file", col("_metadata.file_path"))
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
      .collect() // metadata-scale: #files rows of sketch outputs
    val absToRel = live.map { case (rel, _) =>
      fs.makeQualified(new Path(root, rel)).toString -> rel }.toMap
    val byRel = live.toMap
    // range encoding mirrors footerStats: one stats vocabulary for
    // skipper and CBO alike
    def range(dt: DataType, mn: Any, mx: Any): Option[ColStats] = dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(ColStats('l',
          mn.asInstanceOf[Number].longValue.toString,
          mx.asInstanceOf[Number].longValue.toString))
      case DateType => Some(ColStats('l',
        mn.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toString,
        mx.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toString))
      case TimestampType =>
        def micros(v: Any): Long = {
          val t = v.asInstanceOf[java.sql.Timestamp]
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        }
        Some(ColStats('l', micros(mn).toString, micros(mx).toString))
      case StringType =>
        Some(ColStats('s', mn.toString, mx.toString))
      case _ => None // no range vocabulary for the type: NDV/nulls only
    }
    val updated = perFile.toSeq.flatMap { r =>
      val rel = absToRel.getOrElse(r.getString(0),
        throw new IllegalStateException(
          s"analyze full: scanned file outside the snapshot: " +
            r.getString(0)))
      val m = byRel(rel)
      val fresh = cols.flatMap { c =>
        val ndv = r.getAs[Long](s"${c}__ndv")
        val nulls = r.getAs[Long](s"${c}__nulls")
        Seq(
          s"$c$NdvSuffix" -> ColStats('l', ndv.toString, ndv.toString),
          s"$c$NullsSuffix" ->
            ColStats('l', nulls.toString, nulls.toString)) ++
          (if (r.isNullAt(r.fieldIndex(s"${c}__min"))) Nil
           else range(types(c), r.getAs[Any](s"${c}__min"),
             r.getAs[Any](s"${c}__max")).map(c -> _).toSeq)
      }
      Some(rel -> m.copy(stats = m.stats ++ fresh))
    }
    // table-level EQUI-HEIGHT histograms for the numeric targets —
    // the skew instrument min/max cannot be (a uniform-density range
    // estimate is arbitrarily wrong on a 99%-one-value column). The
    // percentile bounds + Spark's own per-interval NDV sketch ride as
    // a table PROPERTY in the same commit (they are table-level, not
    // per-file); duplicate percentile endpoints are the point — they
    // become point bins, which is exactly how equi-height encodes
    // skew. Serialized `height|lo,hi,ndv;...` under
    // `graft.stats.hist.<col>`.
    val numBins = HistogramBins
    val histCols = cols.filter(c => types(c) match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType => true
      case _ => false
    })
    val histProps: Seq[(String, String)] =
      if (histCols.isEmpty) Nil
      else {
        val pcts = (0 to numBins).map(_.toDouble / numBins)
        val aggsH = histCols.flatMap { c =>
          Seq(expr(s"percentile_approx(CAST(`$c` AS DOUBLE), " +
            s"array(${pcts.mkString(",")}), 10000)").as(s"${c}__p"),
            count(col(c)).as(s"${c}__n"))
        }
        val pr = df.agg(aggsH.head, aggsH.tail: _*).collect().head
        histCols.flatMap { c =>
          val pi = pr.fieldIndex(s"${c}__p")
          val nn = pr.getAs[Long](s"${c}__n")
          if (pr.isNullAt(pi) || nn == 0L) None
          else {
            val ends = pr.getSeq[Double](pi)
            import org.apache.spark.sql.catalyst.expressions.{
              CreateArray, Literal => CLit}
            val ndvE = org.apache.spark.sql.catalyst.expressions.aggregate
              .ApproxCountDistinctForIntervals(
                org.apache.spark.sql.GraftSqlBridge.expression(
                  df.col(c).cast("double")),
                CreateArray(ends.map(d => CLit(d))))
            val ndvs = df.agg(org.apache.spark.sql.GraftSqlBridge
                .column(ndvE.toAggregateExpression()).as("x"))
              .collect().head.getSeq[Long](0)
            val height = nn.toDouble / numBins
            val bins = (0 until numBins).map(i =>
              s"${ends(i)},${ends(i + 1)},${ndvs(i)}").mkString(";")
            Some(s"$HistPropPrefix$c" -> s"$height|$bins")
          }
        }
      }
    commitRetry(fs, root, updated, updated.map(_._1),
      op = Some("analyze"),
      expectDv = updated.map { case (rel, m) =>
        rel -> DvStore.pointerOf(m.stats)
      }.toMap,
      propsSet = histProps)
    updated.size.toLong
  }

  /** Equi-height histogram bin count for the ANALYZE full arm. */
  private[graft] val HistogramBins = 32

  /** Table-property prefix carrying per-column equi-height histograms
    * (`graft.stats.hist.<col>` -> `height|lo,hi,ndv;...`). */
  private[graft] val HistPropPrefix = "graft.stats.hist."

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: record property changes in
    * one data-less commit (replayed like files/schema; checkpoints
    * preserve them). */
  def setTableProperties(spark: SparkSession, table: String,
      set: Seq[(String, String)] = Seq.empty,
      remove: Seq[String] = Seq.empty): Long = {
    require(set.nonEmpty || remove.nonEmpty, "nothing to change")
    val (fs, root) = fsFor(spark, table)
    // bucketing is a physical-layout contract: declaring it over
    // EXISTING unbucketed files would make the relation's downgrade
    // path permanent — refuse with the remedy instead
    if (set.exists(_._1 == "graft.bucketBy")) {
      val unbucketed = snapshotFiles(fs, root).keys.filterNot { rel =>
        org.apache.spark.sql.execution.datasources.BucketingUtils
          .getBucketId(new Path(root, rel).getName).isDefined
      }
      require(unbucketed.isEmpty,
        s"cannot declare bucketing over ${unbucketed.size} existing " +
          "unbucketed file(s): declare graft.bucketBy/graft.buckets at " +
          "CREATE TABLE, or overwrite the table after setting them")
    }
    commitRetry(fs, root, Seq.empty, Seq.empty, op = Some("setprops"),
      propsSet = set, propsRemove = remove)
  }

  /** CREATE TABLE: one data-less v0 commit carrying the declared
    * schema (and any table properties) — the DDL primitive behind the
    * SQL catalog ([[graft.catalog.GraftCatalog]]). The table exists
    * from this commit on: reads return zero rows under the declared
    * schema, appends must conform to it (additive evolution only),
    * and the schema survives checkpoints/expiry like any M action.
    * `date` must be declared (graft tables are date-partitioned); it
    * is stripped from the logged data schema exactly as a first
    * append's would be.
    */
  def createTable(spark: SparkSession, table: String, schema: StructType,
      props: Seq[(String, String)] = Seq.empty): Long = {
    require(schema.fields.exists(f =>
      f.name == "date" && f.dataType == org.apache.spark.sql.types.DateType),
      "graft tables are date-partitioned: declare a `date DATE` column")
    val (fs, root) = fsFor(spark, table)
    require(currentVersion(spark, table) < 0,
      s"graft table $table already exists")
    val logged = StructType(schema.filterNot(_.name == "date")
      .map(f => f.copy(nullable = true)))
    require(logged.nonEmpty, "a graft table needs at least one data " +
      "column besides the `date` partition column")
    commitRetry(fs, root, Seq.empty, Seq.empty, None, Some(logged),
      op = Some("create"), propsSet = props)
  }

  /** ALTER TABLE ADD COLUMNS: additive schema evolution as one
    * data-less commit — existing files read the new columns as NULL
    * (the same M-action replay an evolving append records; see
    * [[schemaUpdate]]). Names must be new; columns append at the end
    * of the data schema. `propsSet`/`propsRemove` ride the SAME commit
    * so one ALTER statement carrying both column adds and
    * SET/UNSET TBLPROPERTIES applies atomically — a crash can never
    * leave the statement half-applied.
    */
  def addColumns(spark: SparkSession, table: String,
      cols: Seq[StructField],
      propsSet: Seq[(String, String)] = Seq.empty,
      propsRemove: Seq[String] = Seq.empty): Long = {
    require(cols.nonEmpty, "no columns to add")
    val (fs, root) = fsFor(spark, table)
    val cur = logSchema(fs, root).getOrElse(throw new IllegalStateException(
      s"tx table $table has no logged schema (pre-evolution log): " +
        "run one append on current code before ALTER TABLE"))
    val clash = cols.map(_.name).filter(n =>
      n == "date" || cur.fieldNames.contains(n))
    require(clash.isEmpty,
      s"column(s) already exist: ${clash.mkString(",")}")
    commitRetry(fs, root, Seq.empty, Seq.empty, None,
      Some(StructType(cur ++ cols.map(_.copy(nullable = true)))),
      op = Some("addcols"), propsSet = propsSet, propsRemove = propsRemove)
  }

  /** TRUNCATE TABLE: drop every live file in one metadata-only commit
    * (no data rewrite — the removed files fall to [[vacuum]]); the
    * schema and properties survive.
    */
  def truncate(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsFor(spark, table)
    commitRetry(fs, root, Seq.empty, snapshotFiles(fs, root).keys.toSeq,
      op = Some("truncate"))
  }

  /** Stage `df`'s files under the table root WITHOUT committing —
    * the first half of an atomic CTAS/RTAS ([[publishStaged]] is the
    * second). Staged-but-never-published files are invisible to every
    * reader and fall to [[vacuum]], so an abort needs no cleanup
    * beyond best-effort deletion.
    */
  private[graft] def stageOnly(spark: SparkSession, df: DataFrame,
      table: String): Seq[(String, FileMeta)] = {
    val (fs, root) = fsFor(spark, table)
    stage(prep(df), fs, root)
  }

  /** Publish previously-staged files as ONE commit — the atomic
    * CTAS / RTAS tail. `create = true` stamps the commit with the
    * create tag, which [[commitRetry]] only admits at version 0 (a
    * racing creator fails instead of silently replacing the winner);
    * `create = false` replaces the whole current file set (RTAS).
    * `schema` is the logged DATA schema (date already stripped).
    */
  private[graft] def publishStaged(spark: SparkSession, table: String,
      adds: Seq[(String, FileMeta)], schema: StructType,
      props: Seq[(String, String)], create: Boolean): Long = {
    val (fs, root) = fsFor(spark, table)
    val removes =
      if (create) Seq.empty[String] else snapshotFiles(fs, root).keys.toSeq
    commitRetry(fs, root, adds, removes, None, Some(schema),
      op = Some(if (create) "create" else "overwrite"), propsSet = props)
  }

  /** Best-effort deletion of staged-but-unpublished files (CTAS
    * abort); anything missed falls to [[vacuum]].
    */
  private[graft] def discardStaged(spark: SparkSession, table: String,
      adds: Seq[(String, FileMeta)]): Unit = {
    val (fs, root) = fsFor(spark, table)
    adds.foreach { case (rel, _) =>
      try fs.delete(new Path(root, rel), false)
      catch { case _: Exception => () }
    }
  }

  /** The logged DATA schema (date excluded) at `asOf` — None on
    * pre-evolution logs (callers fall back to a live file's footer).
    */
  def tableSchema(spark: SparkSession, table: String,
      asOf: Option[Long] = None): Option[StructType] = {
    val (fs, root) = fsFor(spark, table)
    logSchema(fs, root, asOf)
  }

  /** Ops/test seam: commit ONLY an (appId, version) mark — what a
    * non-appending writer (e.g. a stream that produced an empty batch)
    * records so its version still advances. Returns -1 if already
    * covered.
    */
  private[graft] def commitTxnMark(spark: SparkSession, table: String,
      appId: String, version: Long,
      expectMark: Option[Long] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    commitRetry(fs, root, Seq.empty, Seq.empty, Some(appId -> version),
      op = Some("mark"), expectMark = expectMark)
  }

  /** Publish one DSv2 streaming EPOCH: the executors already wrote the
    * parquet themselves ([[GraftParquetDataWriter]]) and folded each
    * file's stats and filters (`folded`, keyed `date=<d>/<name>`); this
    * is the driver-side half — take exactly the files the epoch's
    * committed tasks reported (`onlyFiles`; files from
    * aborted/speculative attempts in the same dir stay unreferenced and
    * fall to [[vacuum]]), then land them in ONE commit carrying the
    * `(writerId, epochId)` mark, so a replayed epoch after checkpoint
    * recovery lands ZERO times — the same exactly-once contract as
    * [[appendTxn]], with the pre-index high-water check keeping the
    * replay path metadata-only. `replace = true` (Complete mode)
    * swaps the whole live file set in the same commit. An epoch whose
    * tasks all wrote nothing still advances the mark (data-less
    * commit), so recovery never re-runs it.
    */
  private[graft] def commitStreamingEpoch(spark: SparkSession,
      table: String, dataDir: String, onlyFiles: Set[String],
      appId: String, epochId: Long, writeSchema: StructType,
      replace: Boolean = false,
      folded: Map[String, Map[String, ColStats]] = Map.empty): Long = {
    val (fs, root) = fsFor(spark, table)
    if (txnHighWater(fs, root).get(appId).exists(_ >= epochId))
      return -1L // replayed epoch: don't even list the staged dir
    val props = replayState(fs, root, None).props
    require(bucketSpecOf(props).isEmpty,
      "graft-v2 streaming write cannot target a BUCKETED table: its " +
        "executors write rows where they stand (no bucket placement); " +
        "stream through format(\"graft\") instead, whose per-batch " +
        "write job buckets like any other append")
    val adds =
      if (onlyFiles.isEmpty) Seq.empty
      else stagedMetas(fs, root, dataDir, folded, Some(onlyFiles))
    val next = StructType(writeSchema.filterNot(_.name == "date")
      .map(f => f.copy(nullable = true)))
    // a replace owns the whole file set, so it takes the new schema as
    // overwrite does; an append evolves it additively
    val schemaAction = if (replace) Some(next) else schemaUpdate(fs, root, next)
    val removes =
      if (replace) snapshotFiles(fs, root).keys.toSeq else Seq.empty
    commitRetry(fs, root, adds, removes, Some(appId -> epochId),
      schemaAction,
      op = Some(if (replace) "overwrite"
                else if (adds.isEmpty) "mark" else "append"))
  }

  /** Full replace carrying a writer (appId, version) mark in the SAME
    * commit — the materialized-view REBUILD primitive: the new file set
    * and the "applied through base version V" high-water mark publish
    * atomically, and a duplicate rebuild of an already-covered version
    * no-ops with -1 exactly like [[appendTxn]].
    */
  private[graft] def overwriteTxn(spark: SparkSession, df: DataFrame,
      table: String, appId: String, version: Long,
      expectMark: Option[Long] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    if (txnHighWater(fs, root).get(appId).exists(_ >= version))
      return -1L
    val adds = stage(prep(df), fs, root)
    commitRetry(fs, root, adds, snapshotFiles(fs, root).keys.toSeq,
      Some(appId -> version), Some(dataSchema(df)), op = Some("overwrite"),
      expectMark = expectMark)
  }

  /** Transactional full replace (one commit swaps the entire file set —
    * the reader never observes the table half-old half-new).
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
      propsRemove: Seq[String] = Seq.empty): Long = {
    val (fs, root) = fsFor(spark, table)
    val adds = stage(prep(df), fs, root)
    // a full replace owns the whole file set, so the schema may change
    // freely — no additive constraint (Delta's overwriteSchema).
    // `propsRemove` rides the SAME commit so a state change the replace
    // makes obsolete (e.g. the MV tombstone mark) clears atomically
    // with it — no window where a racing writer's mark is lost.
    commitRetry(fs, root, adds, snapshotFiles(fs, root).keys.toSeq, None,
      Some(dataSchema(df)), op = Some("overwrite"),
      propsRemove = propsRemove)
  }

  /** Range-cluster `df` on an ALTERNATE key instead of the table sort
    * key — the write layout behind [[SortProjection]]: each shuffled
    * file then spans a narrow slice of the PROJECTION's key domain, so
    * its logged min/max envelopes are tight where the base table's
    * (clustered on its own sort key) are full-width. Clusters on the
    * keys ALONE for the same reason [[zorder]] does: the write's
    * partitionBy(date) already splits per-date files, and leading with
    * date would hand low partition counts full-domain envelopes back.
    */
  private def clusterByKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    val ks = keys.filter(df.columns.contains).map(col)
    if (ks.isEmpty) df
    else df.repartitionByRange(ks: _*)
  }

  /** [[appendTxn]] with [[clusterByKeys]] layout — the incremental
    * sort-projection maintenance write. Same (appId, version)
    * exactly-once CAS contract.
    */
  private[sink] def appendTxnClustered(spark: SparkSession, df: DataFrame,
      table: String, appId: String, version: Long, keys: Seq[String],
      expectMark: Option[Long] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    if (txnHighWater(fs, root).get(appId).exists(_ >= version))
      return -1L
    commitRetry(fs, root, stage(clusterByKeys(df, keys), fs, root),
      Seq.empty, Some(appId -> version), schemaUpdate(fs, root, df),
      op = Some("append"), expectMark = expectMark)
  }

  /** [[overwriteTxn]] with [[clusterByKeys]] layout — the
    * sort-projection REBUILD write (atomic full replace + high-water
    * mark, duplicate rebuilds no-op with -1).
    */
  private[sink] def overwriteTxnClustered(spark: SparkSession,
      df: DataFrame, table: String, appId: String, version: Long,
      keys: Seq[String], expectMark: Option[Long] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    if (txnHighWater(fs, root).get(appId).exists(_ >= version))
      return -1L
    val adds = stage(clusterByKeys(df, keys), fs, root)
    commitRetry(fs, root, adds, snapshotFiles(fs, root).keys.toSeq,
      Some(appId -> version), Some(dataSchema(df)), op = Some("overwrite"),
      expectMark = expectMark)
  }

  /** MERGE (upsert): every source row REPLACES the target row sharing
    * its `keys` tuple, or is INSERTED when none matches — and the commit
    * rewrites ONLY the files that actually contain a matched key. This
    * is the "re-state corrected data" mutation ClickHouse serves with
    * ALTER TABLE UPDATE / ReplacingMergeTree collapse on the reference's
    * summing table (test/network_flows_0.sql:39-44); on immutable
    * object-store files it takes Delta's MERGE shape: copy-on-write of
    * the touched files, published as one atomic remove+add commit, with
    * [[commitRetry]]'s remove re-validation aborting on a concurrent
    * conflicting rewrite.
    *
    * Scale shape (100 TB): candidate files are pruned from LOG STATS
    * first — the source's per-key-column bounds against each file's
    * logged min/max, plus exact date-partition membership — with zero
    * data I/O. The exact touched set is then discovered with ONE
    * distributed semi-join of the candidates' scan against the distinct
    * source keys, keyed by the shuffle-safe `_metadata.file_path` column
    * (not `input_file_name`, which goes blank after an exchange). Only
    * touched files are read a second time for the rewrite; untouched
    * files are never opened and keep their stats. Driver-side state is
    * the touched file-path list — file-count bounded, same as Delta.
    *
    * Contract: `keys` must be unique in BOTH source and target (for the
    * summing table: the full dim tuple, its MergeTree ORDER BY). Rows
    * whose key tuple contains NULL never match (SQL equality) and so
    * always insert. The source is persisted for the duration: the
    * discovery join and the rewrite MUST see the same key set, even if
    * the source plan is nondeterministic.
    */
  /** Source-side distinct-value ceiling for merge's bloom-key pruning:
    * above this the per-value probe set is not worth shipping and the
    * collect would be a driver hazard — min/max + discovery handle it.
    */
  private val BloomPruneMaxValues = 10000

  /** Candidate-count observability for the last [[merge]] on this JVM
    * (test/debug only — production introspection goes through
    * [[history]]/[[parts]]).
    */
  @volatile private[graft] var lastMergeCandidates: Int = -1

  /** Metadata-only candidate test for [[merge]]: date-partition set,
    * per-key min/max bounds, and per-bloom-key source hash sets. A
    * file missing any stat is conservatively kept.
    */
  private[graft] def mayMatchMeta(m: FileMeta, dateSet: Option[Set[String]],
      bounds: Map[String, (String, String)],
      bloomHashes: Map[String, Seq[Long]]): Boolean =
    dateSet.forall(_.contains(m.date)) &&
      bounds.forall { case (k, (lo, hi)) =>
        // a file missing stats for k can never be skipped on k
        m.stats.get(k).forall { st =>
          if (st.typ == 'l')
            !(hi.toLong < st.min.toLong || lo.toLong > st.max.toLong)
          else if (st.typ == 'b') true // ranges never probe a filter
          else !(hi < st.min || lo > st.max)
        }
      } &&
      bloomHashes.forall { case (k, hs) =>
        m.stats.get(k) match {
          case Some(st) if st.typ == 'b' =>
            hs.exists(h => Bloom.mayContain(st.min, st.max, h))
          case _ => true
        }
      }

  def merge(spark: SparkSession, source: DataFrame, table: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    if (live.isEmpty) return append(spark, source, table)
    val src = source.persist()
    def tdbg[A](label: String)(f: => A): A =
      if (!sys.env.contains("GRAFT_MERGE_DEBUG")) f
      else { val t0 = System.nanoTime(); val r = f
        println(f"[merge] $label%-22s ${(System.nanoTime()-t0)/1e9}%6.2f s"); r }
    try {
      // 1. metadata-only candidate pruning from the commit log. The
      //    source's distinct-date set and per-stat-key bounds come from
      //    ONE aggregation job (the date set is bounded by calendar
      //    days, so collect_set stays driver-small even on a 100 TB
      //    source).
      val statKeys = keys.filter(statsColumns.contains)
      val dateAgg: Option[Column] =
        if (!keys.contains("date")) None
        else Some(collect_set(date_format(col("date"), "yyyy-MM-dd"))
          .as("__dates"))
      val boundAggs = statKeys.flatMap { k =>
        val c = src.schema(k).dataType.typeName match {
          case "timestamp" => unix_micros(col(k)).cast("string")
          case "date" => datediff(col(k), lit("1970-01-01")).cast("string")
          case "string" => col(k)
          case _ => col(k).cast("long").cast("string")
        }
        Seq(min(c).as(s"mn_$k"), max(c).as(s"mx_$k"))
      }
      // the bloom-prune gate's approx-NDV probes ride the SAME
      // aggregation job as the bounds (one source pass, not two):
      // every agg here is partial-aggregating, so the combined job's
      // shuffle is still one row. (Round 17 measured the obvious next
      // step — a capped exact-distinct-hash aggregate delivering the
      // probe values in this same job, deleting the conditional
      // second pass below — and REVERTED it: a TypedImperativeAggregate
      // in the agg list forces the whole job from codegen'd
      // HashAggregate into interpreted ObjectHashAggregate, +1.6 s on
      // this job at sf0.1 and strictly worse at 100 TB, where the
      // HLL gate already skips the second pass exactly when the
      // source is huge. One interpreted pass loses to one codegen'd
      // pass plus a conditional small-source pass.)
      val bloomKeys0 = keys.filter(bloomColumns.contains)
      val adcAggs = bloomKeys0.map(k =>
        approx_count_distinct(col(k)).as(s"adc_$k"))
      val allAggs = dateAgg.toSeq ++ boundAggs ++ adcAggs
      val row = if (allAggs.isEmpty) None
        else Some(tdbg("prune agg") {
          src.agg(allAggs.head, allAggs.tail: _*).collect().head })
      val dateSet: Option[Set[String]] = dateAgg.flatMap(_ => row).map(
        _.getAs[scala.collection.Seq[String]]("__dates").toSet)
      val bounds: Map[String, (String, String)] = row match {
        case None => Map.empty
        case Some(r) => statKeys.map { k =>
          k -> (r.getAs[String](s"mn_$k"), r.getAs[String](s"mx_$k"))
        }.toMap
      }
      val srcEmpty = bounds.values.exists(_._1 == null) ||
        dateSet.exists(_.isEmpty)
      // bloom-key pruning: when a merge key carries a per-file Bloom
      // filter AND the source's distinct key values are driver-small
      // (cheap approx probe first — a 100 TB source with millions of
      // pods skips this, unbounded collects are how drivers die), a
      // candidate file whose filter rejects EVERY source value can
      // hold no matching key. This is what shrinks the discovery scan
      // for targeted corrections ("re-state pod X's day") from
      // all-dates-overlapping to the handful of files that pod touches.
      val bloomKeys = bloomKeys0
      val bloomHashes: Map[String, Seq[Long]] =
        if (bloomKeys.isEmpty || srcEmpty) Map.empty
        else tdbg("bloom prune") {
          val adcs = row.get
          bloomKeys.filter(k =>
            adcs.getAs[Long](s"adc_$k") <= BloomPruneMaxValues).flatMap { k =>
            val hs = src.select(xxhash64(col(k)).as("h"))
              .filter(col(k).isNotNull).distinct()
              .limit(BloomPruneMaxValues + 1)
              .collect().map(_.getLong(0)).toSeq
            // the approx estimate lied low → stay conservative
            if (hs.size > BloomPruneMaxValues) None else Some(k -> hs)
          }.toMap
        }
      val candidates =
        if (srcEmpty) Map.empty[String, FileMeta]
        else live.filter { case (rel, m) =>
          // pointer-form filters resolve from their sidecar only when
          // the prune actually probes them
          val meta = if (bloomHashes.isEmpty) m
            else m.copy(stats =
              BloomStore.resolveStats(fs, root, rel, m.stats))
          mayMatchMeta(meta, dateSet, bounds, bloomHashes)
        }
      lastMergeCandidates = candidates.size

      // 2. touched-file discovery: one semi-join over the candidates,
      //    file identity captured at scan time. The join key is the
      //    xxhash64 of the key tuple, not the ~30-column tuple itself:
      //    a collision only admits a file into the touched SUPERSET
      //    (it gets rewritten with zero matching rows — wasted work,
      //    never wrong data; step 3's anti-join is exact). The hash
      //    side is one long per distinct source key, so AQE broadcasts
      //    it and the candidate scan never shuffles at all.
      val qroot = fs.makeQualified(root)
      val keyHash = xxhash64(keys.map(col): _*).as("__kh")
      val srcKeys = src.select(keys.map(col): _*).distinct()
      def scanFiles(rels: Seq[String]): DataFrame =
        scanLive(spark, root, rels.map(r => r -> live(r)),
          logSchema(fs, root))
      val touched: Seq[String] = tdbg("discovery") {
        if (candidates.isEmpty) Seq.empty
        else scanFiles(candidates.keys.toSeq).withColumn("__kh", keyHash)
          .join(srcKeys.select(keyHash).distinct(), Seq("__kh"), "left_semi")
          .select("__file").distinct().collect()
          .map(r => logKeyOf(qroot, new Path(r.getString(0)))).toSeq }

      // 3. copy-on-write rewrite of the touched files only. The exact
      //    anti-join leads with the key-tuple hash as its FIRST equi
      //    key: a sort-merge join sorts by join keys in order, so
      //    almost every row comparison resolves on one 8-byte long
      //    instead of walking a ~30-column tuple of strings (profiled:
      //    the wide-key SMJ sort/compare was the hot path of the
      //    rewrite phase). The full tuple still follows the hash in
      //    the key list, so a hash collision changes nothing — only
      //    exactly-equal tuples match, NULL keys never match (kept),
      //    exactly as before.
      val adds = tdbg("rewrite+stage") {
        if (touched.isEmpty) stage(prep(src), fs, root)
        else {
          val kh = xxhash64(keys.map(col): _*)
          val kept = scanFiles(touched).withColumn("__akh", kh)
            .join(srcKeys.withColumn("__akh", kh),
              "__akh" +: keys, "left_anti")
            .drop("__file", "__akh")
          stage(prep(kept.unionByName(src.select(kept.columns.map(col): _*))),
            fs, root)
        }
      }
      tdbg("commit") { commitRetry(fs, root, adds, touched, None,
        schemaUpdate(fs, root, src), op = Some("merge")) }
    } finally src.unpersist()
  }

  /** Cluster a write along (date, table sort key): range partitioning
    * gives each file a tight stats envelope for data skipping. Tables
    * whose schema is not the flow summing schema (e.g. a materialized
    * view's group-keys + partial-states rows) keep whatever sort-key
    * columns they share — at minimum `date`, which every tx table
    * carries as its partition column. Range partitioning on (date,
    * sort key…), not `repartition(date)`: that maps each calendar day
    * to ONE write task, while this splits a day across many.
    */
  private[graft] def prep(df: DataFrame): DataFrame =
    df.repartitionByRange(("date" +: sortKey.filter(df.columns.contains)).map(col): _*)

  /** Snapshot read at the latest version — or, with `asOfVersion`, TIME
    * TRAVEL to any still-vacuum-retained historical version (immutable
    * data files + the truncated log replay make this free; [[vacuum]]
    * is what eventually invalidates old versions by reclaiming their
    * superseded files — same contract as Delta's VACUUM). The file list
    * (and its date pruning, via `dates`) comes from the log, not a
    * directory listing; partitionBy dropped the `date` column from the
    * files, so it is re-attached per date group from the log metadata.
    */
  def read(spark: SparkSession, table: String,
      dates: Option[Seq[String]] = None,
      asOfVersion: Option[Long] = None): DataFrame = {
    val (fs, root) = fsFor(spark, table)
    val state = replayState(fs, root, asOfVersion)
    val live = state.files.toSeq
      .filter { case (_, m) => dates.forall(_.contains(m.date)) }
    if (live.isEmpty) {
      // zero live files is a VALID state when the log declares a
      // schema (a created-but-empty or truncated table): read as zero
      // rows under the declared schema, same as the catalog's
      // empty-table relation. Only a schema-less empty log (nothing
      // was ever written OR declared) is unreadable.
      val sch = state.schema.getOrElse(throw new IllegalArgumentException(
        s"tx table $table has no live files" +
          dates.map(ds => s" for dates ${ds.mkString(",")}").getOrElse("")))
      import org.apache.spark.sql.types.{DateType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(StructField("date", DateType, nullable = true) +:
          sch.fields.toSeq))
    }
    readFileSet(spark, root, live, state.schema)
  }

  /** Scan an explicit file set of this table (live snapshot or a log
    * delta), re-attaching the `date` partition column from log metadata.
    * The LOGGED schema (as of the read version) governs the scan: files
    * written before an additive evolution read the new columns as NULL;
    * time travel to a pre-evolution version reads with that era's
    * schema. Pre-evolution logs (no M action) keep the footer-sampled
    * behavior.
    */
  private[sink] def readFileSet(spark: SparkSession, root: Path,
      files: Seq[(String, FileMeta)],
      schema: Option[StructType]): DataFrame = {
    // ONE scan relation for the whole set — the same log-driven
    // TxFileIndex the full-table read plans through, restricted to
    // this file subset. The `date` partition column is a per-FILE
    // constant the index hands the scan (the layout's `date=` segment
    // sits below per-commit staging dirs, so Spark's native basePath
    // discovery cannot parse it); the previous
    // `regexp_extract(_metadata.file_path, ...)` route evaluated a
    // regexp per ROW — measured at ~40% of full-width
    // streaming-backfill wall (StreamPathBench, SCALE.md).
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // normalize SYNTHETIC metas (the change feed reads pre-image rels
    // with empty metas): the index needs the real date for the
    // partition value and the real length for split planning
    val metas = files.map {
      case ok @ (_, m) if m.date.nonEmpty && m.bytes > 0 => ok
      case (rel, m) =>
        val d =
          if (m.date.nonEmpty) m.date
          else rel.split('/').find(_.startsWith("date="))
            .map(_.substring(5)).getOrElse(throw new IllegalStateException(
              s"tx file outside a date= directory: $rel"))
        val b =
          if (m.bytes > 0) m.bytes
          else fs.getFileStatus(new Path(root, rel)).getLen
        (rel, m.copy(date = d, bytes = b))
    }
    val df = spark.baseRelationToDataFrame(
      TxFileIndex.fileSetRelation(spark, root, metas, schema))
    // relation output is dataSchema ++ partition column; callers'
    // contract leads with date
    df.select(col("date") +: df.columns.filterNot(_ == "date").map(col): _*)
  }

  /** One planner-owned scan over an explicit live-file subset with a
    * `__file` identity column — the shared discovery/rewrite scan of
    * [[merge]], [[delete]]/[[update]]/[[replaceWhere]] and
    * [[deleteMergeOnRead]]. Uses the same log-driven relation as
    * [[readFileSet]], so deletion vectors are subtracted (a rewrite
    * must never resurrect previously deleted rows) and the `date`
    * partition column is a per-file constant instead of a per-row
    * regexp. Output: data columns, `date`, `__file`.
    */
  private def scanLive(spark: SparkSession, root: Path,
      files: Seq[(String, FileMeta)],
      schema: Option[StructType]): DataFrame =
    spark.baseRelationToDataFrame(
      TxFileIndex.fileSetRelation(spark, root, files, schema))
      .withColumn("__file", col("_metadata.file_path"))

  /** SummingMergeTree background-merge analog on the tx path: re-sum the
    * target dates into fresh files and atomically swap them in. Old
    * files stay on disk (time travel / reader isolation) until
    * [[vacuum]]; a crash mid-compaction leaves the old version live.
    *
    * A date with nothing to merge is left out, as ClickHouse merges
    * only a partition that holds two or more parts: every live file of
    * the date carries the [[SummedKey]] tag from ONE commit and no
    * deletion vector, so its rows are already one per key. Returns the
    * commit version, or -1 when no target date is left (no commit at
    * all, as for a replayed [[appendTxn]]).
    */
  def compact(spark: SparkSession, table: String,
      dates: Option[Seq[String]] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    val state = replayState(fs, root, None)
    val live = state.files
    def summed(files: Iterable[(String, FileMeta)]): Boolean =
      files.forall { case (_, m) =>
        m.stats.contains(SummedKey) && DvStore.pointerOf(m.stats).isEmpty
      } && files.map { case (rel, _) => stagedDirOf(rel) }.toSet.size == 1
    val targetDates = live.groupBy(_._2.date).toSeq
      .collect { case (d, files) if dates.forall(_.contains(d)) && !summed(files) => d }
      .sorted
    if (targetDates.isEmpty) return -1L
    // one snapshot for what is read and what is removed
    val targets = live.toSeq.filter { case (_, m) => targetDates.contains(m.date) }
    val compacted = resum(readFileSet(spark, root, targets, state.schema))
    val adds = graft.Graft.describing(spark, "TxTable.compact re-sum")(
      stage(prep(compacted), fs, root))
    val removes = targets.map(_._1)
    // normally a no-op; on a pre-evolution log this upgrades it with an
    // M action for the (unchanged) schema
    commitRetry(fs, root, adds, removes, None,
      schemaUpdate(fs, root, compacted), op = Some("compact"))
  }

  /** ReplacingMergeTree background-merge analog: per key tuple, keep
    * ONLY the row with the greatest `versionCol` and atomically swap
    * the re-written dates in — ClickHouse's upsert-by-merge table
    * engine (the reference's summing engine is the sibling; Replacing
    * is what ClickHouse users reach for when re-stated rows should
    * REPLACE, not add). Semantics mirrored from ClickHouse:
    * deduplication is scoped WITHIN a date partition (`date` joins the
    * key implicitly — rows on different dates never collapse, exactly
    * as parts of different partitions never merge), and ties on the
    * version are broken deterministically by the lexicographic order
    * of the remaining columns (ClickHouse keeps "the last in the
    * selection", which is insertion-order-dependent; a distributed
    * engine needs a stable rule).
    *
    * One hash exchange on the key; the winning row is selected with a
    * version-led struct MAX, so the partial aggregate collapses
    * map-side and the shuffle carries one candidate row per (file,
    * key), never the duplicate multiplicity.
    */
  def compactReplacing(spark: SparkSession, table: String,
      keys: Seq[String], versionCol: String,
      dates: Option[Seq[String]] = None): Long = {
    require(keys.nonEmpty, "replacing compact needs a key")
    val (fs, root) = fsFor(spark, table)
    val targetDates = snapshotFiles(fs, root).values.map(_.date).toSet.toSeq
      .sorted.filter(d => dates.forall(_.contains(d)))
    val df = read(spark, table, Some(targetDates))
    val restored = latestPerKey(df, keys, versionCol)
    val adds = stage(prep(restored), fs, root)
    val removes = snapshotFiles(fs, root)
      .collect { case (rel, m) if targetDates.contains(m.date) => rel }.toSeq
    commitRetry(fs, root, adds, removes, None,
      schemaUpdate(fs, root, restored), op = Some("replacing"))
  }

  /** CollapsingMergeTree background-merge analog: rows carry a
    * `signCol` of +1 (state) or −1 (cancel), and the merge collapses
    * each key to its NET state — ClickHouse's delete-by-cancel
    * engine. Semantics, made deterministic for a distributed engine
    * (CH's own collapse is insertion-order-dependent and its docs
    * call the mid-merge states out as approximate):
    *  - per (date, key): net = Σ sign; net > 0 keeps ONE +1 row
    *    (the version-maximal one — pass the version column CH's
    *    VersionedCollapsingMergeTree uses; ties break by the
    *    lexicographic rule shared with [[compactReplacing]]);
    *    net <= 0 keeps NOTHING (the cancelled-out or over-cancelled
    *    key disappears, CH's steady-state outcome);
    *  - partition-scoped like every CH merge (date joins the key).
    * One hash exchange on (date, keys): the net sign is a map-side
    * partial SUM and the surviving row a version-led struct MAX, so
    * the shuffle carries one candidate + one counter per key.
    */
  def compactCollapsing(spark: SparkSession, table: String,
      keys: Seq[String], signCol: String, versionCol: String,
      dates: Option[Seq[String]] = None): Long = {
    require(keys.nonEmpty, "collapsing compact needs a key")
    val (fs, root) = fsFor(spark, table)
    val targetDates = snapshotFiles(fs, root).values.map(_.date).toSet.toSeq
      .sorted.filter(d => dates.forall(_.contains(d)))
    val df = read(spark, table, Some(targetDates))
    val fullKeys = ("date" +: keys).distinct
    val net = df.groupBy(fullKeys.map(col): _*)
      .agg(sum(col(signCol)).as("__net"))
      .filter(col("__net") > 0)
      .drop("__net")
    val winners = latestPerKey(
      df.filter(col(signCol) > 0), keys, versionCol)
    val restored = winners.join(net, fullKeys, "left_semi")
    val adds = stage(prep(restored), fs, root)
    val removes = snapshotFiles(fs, root)
      .collect { case (rel, m) if targetDates.contains(m.date) => rel }.toSeq
    commitRetry(fs, root, adds, removes, None,
      schemaUpdate(fs, root, restored), op = Some("collapsing"))
  }

  /** AggregatingMergeTree background-merge analog: rows carry
    * MERGEABLE partial-aggregate STATES (what the CH `-State`
    * combinators produce — see the `sumState`/`avgState`/
    * `uniqExactState`/`uniqState` registrations in
    * [[graft.sql.Compat.clickHouseFunctions]]); this merge
    * collapses equal-key rows by re-merging their states and swaps the
    * re-written dates in atomically, so a query-time `-Merge` read
    * touches one row per key however many inserts produced it.
    * Partition-scoped like every CH merge (date joins the key). State
    * kinds, by column:
    *  - `sum` / `count` / `min` / `max`: the state is the value,
    *    merge is the same reduction;
    *  - `avg`: struct(sum, cnt), merged field-wise;
    *  - `uniqExact`: the sorted exact distinct set, merged by
    *    flatten + distinct (sorted for deterministic file bytes);
    *  - `hll`: Apache DataSketches HLL binary, merged by sketch union.
    * Everything stays inside native partial aggregation — one hash
    * exchange on (date, keys), states collapse map-side.
    */
  def compactAggregating(spark: SparkSession, table: String,
      keys: Seq[String], states: Map[String, String],
      dates: Option[Seq[String]] = None): Long = {
    require(keys.nonEmpty, "aggregating compact needs a key")
    require(states.nonEmpty, "aggregating compact needs state columns")
    val (fs, root) = fsFor(spark, table)
    val targetDates = snapshotFiles(fs, root).values.map(_.date).toSet.toSeq
      .sorted.filter(d => dates.forall(_.contains(d)))
    val df = read(spark, table, Some(targetDates))
    val keyCols = ("date" +: keys.filterNot(_ == "date")).distinct
    states.keys.foreach(c => require(df.columns.contains(c),
      s"no state column $c"))
    require(states.keys.forall(c => !keyCols.contains(c)),
      "a state column cannot be a key")
    val leftover = df.columns.toSet -- keyCols -- states.keySet
    require(leftover.isEmpty,
      s"columns with no declared state kind: ${leftover.mkString(",")}")
    val aggs = states.toSeq.map { case (c, kind) =>
      (kind.toLowerCase match {
        case "sum" | "count" => sum(col(c))
        case "min"           => min(col(c))
        case "max"           => max(col(c))
        case "avg"           =>
          // field nullability must MATCH the stored struct exactly
          // (count states are NOT NULL; a merged sum re-derives
          // nullable) or the commit would read as schema evolution
          val st = df.schema(c).dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType]
          def fld(n: String) = {
            val base = sum(col(c).getField(n))
            (if (st(n).nullable) base else coalesce(base, lit(0L))).as(n)
          }
          struct(fld("sum"), fld("cnt"))
        case "uniqexact"     =>
          array_sort(array_distinct(flatten(collect_list(col(c)))))
        case "hll"           => hll_union_agg(col(c))
        case other => throw new IllegalArgumentException(
          s"unknown state kind `$other` for column $c " +
            "(sum|count|min|max|avg|uniqExact|hll)")
      }).as(c)
    }
    val merged = df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
    val adds = stage(prep(merged), fs, root)
    val removes = snapshotFiles(fs, root)
      .collect { case (rel, m) if targetDates.contains(m.date) => rel }.toSeq
    commitRetry(fs, root, adds, removes, None,
      schemaUpdate(fs, root, merged), op = Some("aggregating"))
  }

  /** DELETE WHERE — copy-on-write row deletion (Delta's DELETE): files
    * that provably hold no matching row are pruned from consideration
    * by the SAME planning-time machinery a query scan uses (partition
    * pruning + min/max + Bloom/token filters, via [[TxFileIndex]]'s
    * listing); the exact touched set is then discovered by one
    * candidate scan, only those files are rewritten without their
    * matching rows, and one atomic remove+add commit swaps them.
    * SQL NULL semantics: rows where the predicate is NULL are KEPT
    * (DELETE removes rows where the predicate is TRUE). Returns the
    * commit version, or -1 when nothing matched (no commit at all —
    * a no-op delete must not churn the log).
    */
  /** The copy-on-write surgery [[delete]], [[update]] and
    * [[replaceWhere]] share: the files that actually CONTAIN
    * predicate-matching rows (log-pruned — date conjuncts prune
    * partitions, data conjuncts probe per-file stats and Bloom
    * filters — then verified by one scan of the candidates), plus a
    * frame of ALL those files' rows for the caller to filter or
    * transform. None = no matching row anywhere (untouched files keep
    * their identity; there is nothing to rewrite).
    */
  /** Footer-only row count of one data file — O(1) metadata read,
    * used to spot files whose deletion vector would cover EVERY row
    * (those are dropped outright instead of carrying a full vector).
    */
  private def parquetRowCount(fs: FileSystem, root: Path,
      rel: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(root, rel), fs.getConf))
    try rdr.getRecordCount finally rdr.close()
  }

  /** Planning-time candidate pruning shared by every predicate-scoped
    * mutation: the live files that MAY hold a matching row, by the
    * same machinery a query scan uses — date conjuncts prune
    * partitions, data conjuncts probe per-file min/max and Bloom/token
    * filters through [[TxFileIndex.listFiles]].
    */
  private def candidateFiles(spark: SparkSession, table: String,
      predicate: Column): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd}
    val (fs, root) = fsFor(spark, table)
    val df = TxFileIndex.readV2(spark, table)
    // resolve the predicate against the table schema, split conjuncts,
    // and hand them to the index's listing
    val cond = df.filter(predicate).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.head
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val (partF, dataF) = conjuncts(cond)
      .partition(c => c.references.nonEmpty &&
        c.references.forall(_.name == "date"))
    val idx = new TxFileIndex(spark, table)
    val qroot = fs.makeQualified(root)
    idx.listFiles(partF, dataF)
      .flatMap(_.files.map(st => logKeyOf(qroot, st.getPath)))
  }

  private def touchedRewrite(spark: SparkSession, table: String,
      predicate: Column): Option[(Seq[String], DataFrame)] = {
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    if (live.isEmpty) return None
    val candidates = candidateFiles(spark, table, predicate)
    if (candidates.isEmpty) return None
    val qroot = fs.makeQualified(root)
    def scanFiles(rels: Seq[String]): DataFrame =
      scanLive(spark, root, rels.map(r => r -> live(r)),
        logSchema(fs, root))
    val touched: Seq[String] = scanFiles(candidates)
      .filter(predicate).select("__file").distinct().collect()
      .map(r => logKeyOf(qroot, new Path(r.getString(0)))).toSeq
    if (touched.isEmpty) return None
    Some((touched, scanFiles(touched).drop("__file")))
  }

  def delete(spark: SparkSession, table: String,
      predicate: Column): Long = {
    val (fs, root) = fsFor(spark, table)
    touchedRewrite(spark, table, predicate) match {
      case None => -1L
      case Some((touched, all)) =>
        val kept = all.filter(!coalesce(predicate, lit(false)))
        val adds = stage(prep(kept), fs, root)
        commitRetry(fs, root, adds, touched, None, None,
          op = Some("delete"))
    }
  }

  /** MERGE-ON-READ DELETE WHERE (Delta's deletion-vector DELETE,
    * ClickHouse's lightweight `DELETE FROM`): instead of rewriting
    * every touched file ([[delete]]'s copy-on-write — O(touched
    * BYTES)), record the matching rows' file positions in a deletion
    * vector sidecar and publish ONE metadata commit — O(matched ROWS)
    * of write I/O. Scans subtract the vectors at read time
    * ([[DvParquetFileFormat]]); data files are untouched, so at 100 TB
    * a point delete ("these 40 rows across a thousand 1 GB files")
    * costs kilobytes instead of a terabyte of rewrite.
    *
    * Semantics match [[delete]] exactly: candidates are log-pruned by
    * the same planning machinery, NULL predicates keep their rows, a
    * no-match delete commits nothing (-1). A second delete on an
    * already-vectored file UNIONS positions (one pointer per file,
    * CAS-protected against concurrent vector writers); a file whose
    * every remaining row matches is simply REMOVED (no vector needed).
    * The trade: reads of vectored files drop out of whole-stage batch
    * mode until [[purgeDeletes]] materializes the vectors away —
    * merge-on-read is for sparse deletes, copy-on-write for bulk.
    */
  def deleteMergeOnRead(spark: SparkSession, table: String,
      predicate: Column): Long = {
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    if (live.isEmpty) return -1L
    val candidates = candidateFiles(spark, table, predicate)
    if (candidates.isEmpty) return -1L
    val qroot = fs.makeQualified(root)
    // one scan of the candidates (existing vectors applied — an
    // already-deleted row can never re-match): matching positions per
    // file, collected as sorted arrays. Driver volume is O(matched
    // rows) — the merge-on-read contract.
    val scan = scanLive(spark, root,
      candidates.map(r => r -> live(r)), logSchema(fs, root))
    val matched: Array[(String, Array[Long])] = scan
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(coalesce(predicate, lit(false)))
      .groupBy("__file")
      .agg(sort_array(collect_list(col("__pos"))).as("pos"))
      .collect()
      .map { r =>
        val rel = logKeyOf(qroot, new Path(r.getString(0)))
        rel -> r.getAs[scala.collection.Seq[Long]]("pos").toArray
      }
    if (matched.isEmpty) return -1L
    // fold new positions into any existing vector; a file left with
    // zero live rows is dropped outright instead of carrying a
    // full-file vector
    val merged: Seq[(String, Array[Long], FileMeta)] = matched.toSeq
      .map { case (rel, newPos) =>
        val m = live(rel)
        val old = DvStore.positions(fs, root, rel, m.stats)
          .getOrElse(Array.empty[Long])
        (rel, DvStore.union(old, newPos), m)
      }
    val (emptied, vectored) = merged.partition { case (rel, pos, _) =>
      pos.length >= parquetRowCount(fs, root, rel)
    }
    val sidecarRel =
      if (vectored.isEmpty) ""
      else DvStore.writeSidecar(fs, root,
        vectored.map { case (rel, pos, _) => rel -> pos }.toMap)
    val adds = vectored.map { case (rel, pos, m) =>
      rel -> m.copy(stats =
        m.stats + DvStore.pointerEntry(sidecarRel, pos.length.toLong))
    }
    val removes = merged.map(_._1)
    commitRetry(fs, root, adds, removes, None, None,
      op = Some("delete-mor"),
      expectDv = merged.map { case (rel, _, m) =>
        rel -> DvStore.pointerOf(m.stats)
      }.toMap)
  }

  /** MERGE-ON-READ UPDATE: ONE commit vectors out the matched rows of
    * every touched file (pre-images) and appends fresh files holding
    * their updated form (post-images) — write I/O is O(matched rows),
    * never the touched files' bytes, the same trade
    * [[deleteMergeOnRead]] makes for DELETE. Readers flip atomically
    * from old rows to updated rows at the commit; the change feed
    * derives delete(pre)+insert(post) from the era-correct diff with
    * no special casing. Same refusals as [[update]] (no `date`
    * reassignment), -1 on no match, CAS-protected vectors.
    */
  def updateMergeOnRead(spark: SparkSession, table: String,
      predicate: Column, set: Seq[(String, Column)]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    require(!set.exists(_._1 == "date"),
      "cannot UPDATE the `date` partition column: rows may not move " +
        "partitions (delete + insert instead)")
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    if (live.isEmpty) return -1L
    val candidates = candidateFiles(spark, table, predicate)
    if (candidates.isEmpty) return -1L
    val qroot = fs.makeQualified(root)
    val scan = scanLive(spark, root,
      candidates.map(r => r -> live(r)), logSchema(fs, root))
    val matchedRows = scan
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(coalesce(predicate, lit(false)))
      .persist()
    try {
      val matched: Array[(String, Array[Long])] = matchedRows
        .groupBy("__file")
        .agg(sort_array(collect_list(col("__pos"))).as("pos"))
        .collect()
        .map { r =>
          val rel = logKeyOf(qroot, new Path(r.getString(0)))
          rel -> r.getAs[scala.collection.Seq[Long]]("pos").toArray
        }
      if (matched.isEmpty) return -1L
      val cols = set.toMap
      val updated = matchedRows.select(
        scan.columns.filterNot(_ == "__file").toSeq.map { c =>
          cols.get(c).map(_.as(c)).getOrElse(col(c))
        }: _*)
      val newFiles = stage(prep(updated), fs, root)
      val merged = matched.toSeq.map { case (rel, newPos) =>
        val m = live(rel)
        val old = DvStore.positions(fs, root, rel, m.stats)
          .getOrElse(Array.empty[Long])
        (rel, DvStore.union(old, newPos), m)
      }
      val (emptied, vectored) = merged.partition { case (rel, pos, _) =>
        pos.length >= parquetRowCount(fs, root, rel)
      }
      val sidecarRel =
        if (vectored.isEmpty) ""
        else DvStore.writeSidecar(fs, root,
          vectored.map { case (rel, pos, _) => rel -> pos }.toMap)
      val dvAdds = vectored.map { case (rel, pos, m) =>
        rel -> m.copy(stats =
          m.stats + DvStore.pointerEntry(sidecarRel, pos.length.toLong))
      }
      commitRetry(fs, root, dvAdds ++ newFiles, merged.map(_._1), None,
        schemaUpdate(fs, root, updated), op = Some("update-mor"),
        expectDv = merged.map { case (rel, _, m) =>
          rel -> DvStore.pointerOf(m.stats)
        }.toMap)
    } finally { matchedRows.unpersist(); () }
  }

  /** Test seam for the deletion-vector CAS: commit a vector for `rel`
    * while EXPECTING `expectPtr` as its current pointer — the exact
    * commit a concurrent [[deleteMergeOnRead]] writer that read the
    * `expectPtr` era would publish.
    */
  private[graft] def commitDvForTest(spark: SparkSession, table: String,
      rel: String, positions: Array[Long],
      expectPtr: Option[String]): Long = {
    val (fs, root) = fsFor(spark, table)
    val m = snapshotFiles(fs, root)(rel)
    val sidecarRel = DvStore.writeSidecar(fs, root, Map(rel -> positions))
    commitRetry(fs, root,
      Seq(rel -> m.copy(stats = m.stats +
        DvStore.pointerEntry(sidecarRel, positions.length.toLong))),
      Seq(rel), None, None, op = Some("delete-mor"),
      expectDv = Map(rel -> expectPtr))
  }

  /** Materialize pending deletion vectors away (Delta's
    * `REORG TABLE ... APPLY (PURGE)`): every vectored file is
    * physically rewritten without its deleted rows and the vectors are
    * dropped, restoring full vectorized batch reads. CONTENT-PRESERVING
    * by construction — reads always subtract vectors, so the row
    * multiset before and after is identical; the commit is tagged with
    * the [[LayoutOps]] `purge` op, which keeps materialized views
    * fresh, streams transparent, and the change feed silent, exactly
    * like `optimize`. CAS-protected per file: a merge-on-read delete
    * landing mid-purge aborts the purge (retry re-reads), never loses
    * its vector. Returns -1 when no file carries a vector.
    */
  def purgeDeletes(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    val dvd = live.filter(_._2.stats.contains(DvStore.Key)).toSeq
      .sortBy(_._1)
    if (dvd.isEmpty) return -1L
    val rows = readFileSet(spark, root, dvd, logSchema(fs, root))
    val adds = stage(prep(rows), fs, root)
    commitRetry(fs, root, adds, dvd.map(_._1), None, None,
      op = Some("purge"),
      expectDv = dvd.map { case (rel, m) =>
        rel -> DvStore.pointerOf(m.stats)
      }.toMap)
  }

  /** SQL UPDATE (ClickHouse's `ALTER TABLE ... UPDATE` mutation) as
    * one copy-on-write commit: only the files that actually CONTAIN
    * matching rows are rewritten — matching rows take the `set`
    * expressions (which may reference other columns, `v = v + 1`),
    * non-matching rows of the same files carry over byte-identical in
    * value. Updating the `date` partition column is refused (a row
    * may not silently move partitions — ClickHouse's own restriction
    * on key columns). Returns -1 when nothing matches.
    */
  def update(spark: SparkSession, table: String, predicate: Column,
      set: Seq[(String, Column)]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    require(!set.exists(_._1 == "date"),
      "cannot UPDATE the `date` partition column: rows may not move " +
        "partitions (delete + insert instead)")
    val (fs, root) = fsFor(spark, table)
    touchedRewrite(spark, table, predicate) match {
      case None => -1L
      case Some((touched, all)) =>
        val cols = set.toMap
        val updated = all.select(all.columns.toSeq.map { c =>
          cols.get(c) match {
            case Some(e) =>
              when(coalesce(predicate, lit(false)), e)
                .otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        val adds = stage(prep(updated), fs, root)
        commitRetry(fs, root, adds, touched, None, None,
          op = Some("update"))
    }
  }

  /** Atomic REPLACE WHERE (Delta's `replaceWhere`, and the engine
    * behind SQL `INSERT OVERWRITE ... PARTITION (date=...)`): ONE
    * commit removes every row matching `predicate` and adds `df` —
    * readers never observe the deleted-but-not-yet-inserted
    * intermediate, and a crash leaves the table wholly before or
    * wholly after. Every incoming row must itself satisfy the
    * predicate (Delta's constraint — a replace is a region swap,
    * never a sneak append into other regions). Pruning mirrors
    * [[delete]]: only files that actually contain matching rows are
    * rewritten; untouched files keep their identity. On a region
    * with no existing rows this degrades to a plain (but still
    * predicate-validated) append.
    */
  def replaceWhere(spark: SparkSession, df: DataFrame, table: String,
      predicate: Column): Long = {
    val (fs, root) = fsFor(spark, table)
    val offending =
      df.filter(!coalesce(predicate, lit(false))).limit(1).count()
    require(offending == 0L,
      s"replaceWhere: incoming rows must satisfy the replace " +
        s"predicate ($predicate) — found rows outside the region")
    val addsNew = stage(prep(df), fs, root)
    val (removes, keptAdds) =
      touchedRewrite(spark, table, predicate) match {
        case None => (Seq.empty[String],
          Seq.empty[(String, FileMeta)])
        case Some((touched, all)) =>
          val kept = all.filter(!coalesce(predicate, lit(false)))
          (touched, stage(prep(kept), fs, root))
      }
    commitRetry(fs, root, addsNew ++ keptAdds, removes, None,
      schemaUpdate(fs, root, df), op = Some("replacewhere"))
  }

  /** Delta-style OPTIMIZE (bin-packing): rewrite the dates whose file
    * count exceeds their byte budget into right-sized files, CONTENT
    * UNCHANGED — the fix for the small-file problem every streaming
    * ingest creates (a 5 s micro-batch cadence is ~17k files/day/date;
    * scans then pay per-file open cost and the log grows per file).
    * Unlike [[compact]] (SummingMergeTree semantics: re-aggregates
    * duplicate keys) this is purely a layout operation, safe on ANY
    * schema, including Replacing tables whose duplicates must survive
    * until their versioned merge.
    *
    * A date is rewritten only when it holds more than
    * `ceil(bytes / targetFileBytes) + slack` files — already-packed
    * dates keep their exact files, so repeated OPTIMIZE runs are
    * no-ops, not rewrite storms. One atomic commit swaps all rewritten
    * dates; old files stay for time travel until [[vacuum]]. Returns
    * the rewritten dates.
    */
  def optimize(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      slack: Int = 1): Seq[String] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    val byDate = live.groupBy(_._2.date)
    val needy = byDate.filter { case (_, files) =>
      val bytes = files.values.map(_.bytes).sum
      val ideal = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      files.size > ideal + slack
    }
    if (needy.isEmpty) return Seq.empty
    val dates = needy.keys.toSeq.sorted
    val df = read(spark, table, Some(dates))
    val bytes = needy.values.flatMap(_.values.map(_.bytes)).sum
    val nFiles = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // cluster on the sort key at the right width — packing also
    // restores the stats envelopes micro-batch writes fragment
    val packed = df.repartitionByRange(nFiles,
      ("date" +: sortKey.filter(df.columns.contains)).distinct.map(col): _*)
    val adds = stage(packed, fs, root)
    val removes = needy.values.flatMap(_.keys).toSeq
    commitRetry(fs, root, adds, removes, None, schemaUpdate(fs, root, df),
      op = Some("optimize"))
    dates
  }

  /** Multi-column clustering rewrite — Delta's OPTIMIZE ZORDER BY. The
    * default layout ([[prep]]) range-clusters on the sort-key HEAD, so a
    * predicate on a later dim (direction, proto_name) intersects nearly
    * every file's stats envelope and skips nothing. Z-ordering
    * interleaves the bits of each column's RANK bucket into one
    * space-filling-curve key and range-clusters on that, giving every
    * clustered column a tight per-file min/max simultaneously — the
    * multi-dimensional answer to a one-dimensional sort, served entirely
    * through the existing log-stats skipping ([[TxFileIndex]] needs no
    * change).
    *
    * Rank buckets, not linear scaling: numeric/time columns bucket by
    * `approxQuantile` boundaries (equal-population — a skewed column
    * still spreads across the curve; driver state is cols × `buckets`
    * doubles), low-cardinality strings by their sorted distinct rank,
    * and high-cardinality strings degrade to a hash bucket (grouping
    * equal values together for equality skipping, though without range
    * locality). The rewrite is layout-only — same rows, same schema —
    * published as one atomic remove+add commit with the usual conflict
    * re-validation; old files remain for time travel until [[vacuum]].
    */
  def zorder(spark: SparkSession, table: String, cols: Seq[String],
      buckets: Int = 256, partitions: Option[Int] = None): Long = {
    require(cols.size >= 2, "z-order needs at least two columns " +
      "(one column is just a sort)")
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      "buckets must be a power of two")
    val (fs, root) = fsFor(spark, table)
    val df = read(spark, table)
    cols.foreach(c => require(df.columns.contains(c), s"no column $c"))
    val bits = Integer.numberOfTrailingZeros(buckets)
    val bucketCols = zBuckets(df, cols, buckets)
    val k = cols.size
    val z = (0 until bits).flatMap { bit =>
      bucketCols.zipWithIndex.map { case (bc, i) =>
        shiftleft(shiftright(bc.cast("long"), bit).bitwiseAND(lit(1L)),
          bit * k + i)
      }
    }.reduce(_ bitwiseOR _)
    // range-cluster on the curve key ALONE: the write's partitionBy(date)
    // already splits every shuffle partition into per-date files, and
    // leading with date would hand any date that falls inside one
    // partition the full z span (no skipping at all at low partition
    // counts). `partitions` sizes the clustering granularity — at scale,
    // target bytes-per-file; defaults to the session's shuffle width.
    val nParts = partitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val clustered = df.withColumn("__z", z)
      .repartitionByRange(nParts, col("__z"))
      .drop("__z")
    val adds = stage(clustered, fs, root)
    commitRetry(fs, root, adds, snapshotFiles(fs, root).keys.toSeq, None,
      schemaUpdate(fs, root, df), op = Some("zorder"))
  }

  /** Rank-bucket ids in [0, buckets) for the z-order columns — TWO scans
    * of the table total, however many columns are clustered (boundary
    * discovery is the rewrite's only pre-pass, so its job count is what
    * a 100 TB OPTIMIZE pays before the shuffle): one aggregation job
    * computes every numeric column's equal-population quantile ladder
    * (`percentile_approx`) AND every string column's approximate
    * cardinality; one union-of-distincts job then collects the sorted
    * value sets of just the low-cardinality strings. High-cardinality
    * strings cost nothing further — they degrade to a hash bucket.
    */
  private def zBuckets(df: DataFrame, cols: Seq[String],
      buckets: Int): Seq[Column] = {
    val numExpr: Map[String, Option[Column]] = cols.map { c =>
      c -> (df.schema(c).dataType.typeName match {
        case "timestamp" => Some(unix_micros(col(c)).cast("double"))
        case "date"      => Some(datediff(col(c), lit("1970-01-01")).cast("double"))
        case "string"    => None
        case _           => Some(col(c).cast("double"))
      })
    }.toMap
    val strCols = cols.filter(numExpr(_).isEmpty)
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val aggs = cols.flatMap { c =>
      numExpr(c) match {
        case Some(nc) => Some(percentile_approx(nc,
          lit(probs.toArray), lit(10000)).as(s"__q_$c"))
        case None => Some(approx_count_distinct(col(c)).as(s"__n_$c"))
      }
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val lowCard = strCols.filter { c =>
      row.getAs[Long](s"__n_$c") <= 4096 * 105 / 100 // rsd headroom
    }
    // ONE job for every low-cardinality string column's distinct set
    val strVals: Map[String, Array[String]] =
      if (lowCard.isEmpty) Map.empty
      else lowCard.map(c => df.select(lit(c).as("__zc"), col(c).as("__zv"))
          .na.drop())
        .reduce(_ unionByName _).distinct().collect()
        .groupBy(_.getString(0))
        .map { case (c, rs) => c -> rs.map(_.getString(1)).sorted }
    cols.map { c =>
      numExpr(c) match {
        case Some(nc) =>
          val qs = row.getAs[scala.collection.Seq[Double]](s"__q_$c")
          val bs = Option(qs).map(_.toArray.distinct.sorted)
            .getOrElse(Array.empty[Double])
          bucketRank(nc, bs.map(lit))
        case None => strVals.get(c) match {
          case Some(vs) =>
            // stride-sample to at most buckets-1 boundaries (rank quantiles)
            val step = math.max(1, math.ceil(vs.length.toDouble / buckets).toInt)
            val bs = vs.indices.collect { case i if i % step == step - 1 => vs(i) }
            bucketRank(col(c), bs.map(lit).toArray)
          case None => pmod(hash(col(c)), lit(buckets))
        }
      }
    }
  }

  /** Count of sorted boundaries <= value as a BINARY-SEARCH CASE tree —
    * log2(buckets) codegen'd comparisons per row. The previous spelling,
    * `size(filter(lit(boundaries), b -> b <= v))`, looked cheap but
    * Spark's higher-order functions are CodegenFallback: 255 interpreted
    * comparisons plus a filtered-array allocation PER ROW PER COLUMN —
    * profiling the zorder rewrite showed ArrayFilter.nullSafeEval and
    * GenericArrayData hot in the executor samples (guide §4: eliminate
    * non-codegen expressions from the hot path). NULL ranks 0, matching
    * the old coalesce(..., 0).
    */
  private def bucketRank(v: org.apache.spark.sql.Column,
      bs: Array[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    // upper-bound binary search: first index whose boundary is > v
    def ub(lo: Int, hi: Int): org.apache.spark.sql.Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(bs(mid) > v, ub(lo, mid)).otherwise(ub(mid + 1, hi))
      }
    if (bs.isEmpty) lit(0)
    else when(v.isNull, lit(0)).otherwise(ub(0, bs.length))
  }

  /** `system.parts` analog: the table's live file inventory as a
    * DataFrame, straight from the commit log — ClickHouse operators
    * live in `SELECT ... FROM system.parts WHERE table = ...` and this
    * is that surface for the tx table (partition, path, bytes, and the
    * logged skipping metadata per file). Zero data I/O and zero
    * filesystem listing: it is a projection of replayed log state, so
    * it also answers "how many files/bytes will query X touch" style
    * capacity questions offline.
    */
  def parts(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val rows = liveStats(spark, table).toSeq.map { case (rel, m) =>
      val (ranges, blooms) = m.stats.partition(_._2.typ != 'b')
      (m.date, rel, m.bytes,
        ranges.map { case (c, st) => (c, st.min, st.max) }.toSeq
          .sortBy(_._1),
        blooms.keys.toSeq.sorted)
    }
    rows.toDF("date", "path", "bytes", "column_ranges", "bloom_columns")
      .select(to_date(col("date")).as("date"), col("path"), col("bytes"),
        col("column_ranges").cast(
          "array<struct<column:string,min:string,max:string>>"),
        col("bloom_columns"))
      .orderBy("date", "path")
  }

  /** DESCRIBE HISTORY analog (Delta's spelling of ClickHouse's
    * `system.part_log`): one row per commit version with the operation
    * class inferred from its action shape — `append` (adds only),
    * `rewrite` (adds+removes: compact / merge / z-order / rollup /
    * overwrite), `retention` (removes only), `mark` (txn high-water
    * only) — plus add/remove/byte counts and the commit file's mtime.
    * Versions already swept by [[expireLog]] are absent, exactly as
    * their commits are. Pure log metadata; no data I/O.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, table)
    val rows = listVersions(fs, root).sorted.map { v =>
      val pl = parseLog(fs, versionFile(root, v), s"commit $v")
      val acts = pl.acts
      val adds = acts.count(_.add.isDefined)
      val removes = acts.size - adds
      // the RECORDED operation tag when present; shape inference only
      // for pre-tag commits
      val op = pl.op.getOrElse {
        if (adds > 0 && removes > 0) "rewrite"
        else if (adds > 0) "append"
        else if (removes > 0) "retention"
        else "mark"
      }
      val bytes = acts.flatMap(_.add).map(_.bytes).sum
      val ts = fs.getFileStatus(versionFile(root, v)).getModificationTime
      (v, op, adds.toLong, removes.toLong, bytes,
        new java.sql.Timestamp(ts))
    }
    rows.toDF("version", "operation", "n_added", "n_removed",
      "bytes_added", "commit_time")
  }

  /** CHANGE DATA FEED over the commit log — Delta CDF's read surface
    * (`table_changes(t, from, to)`), DERIVED from the log + immutable
    * files rather than writer-recorded change files: for every commit
    * in (fromExclusive, toInclusive], emit the rows it changed, tagged
    * `_change_type` ('insert' | 'delete') and `_commit_version`.
    *
    *  - pure-append commit → its added files' rows as inserts
    *    (O(delta) read, the same feed refresh/streaming use);
    *  - layout-only rewrite (optimize / z-order) → nothing
    *    (content-preserving by the [[LayoutOps]] contract);
    *  - data-changing rewrite (merge / delete / compact / retention /
    *    rollup / overwrite) → the MULTISET difference: adds∖removes as
    *    inserts, removes∖adds as deletes. An updated row surfaces as
    *    delete(pre-image) + insert(post-image); rows a copy-on-write
    *    rewrite carried over unchanged cancel out of both sides. Cost
    *    is bounded by the commit's touched files, each read once.
    *
    * Requirements are checked loudly, never silently partial: every
    * commit in range must still exist ([[expireLog]]), and a rewrite's
    * REMOVED files must still be on disk ([[vacuum]] retention) — the
    * pre-images live only there. Old files read under the range-head
    * schema (additive evolution backfills NULLs, both directions of
    * the diff seeing identical columns).
    */
  def changeFeed(spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long): DataFrame =
    changeFeed(spark, table, fromExclusive, toInclusive, Seq.empty)

  /** [[changeFeed]] with keyed UPDATE pairing (Delta's
    * `update_preimage` / `update_postimage`): within one rewrite
    * commit, a `pairKeys` tuple present on BOTH sides of the diff is
    * an UPDATE — its old row tagged `update_preimage`, its new row
    * `update_postimage` — while one-sided tuples stay plain
    * insert/delete. Correct for Replacing-style tables whose key is
    * unique per side of a commit (the [[compactReplacing]]/[[merge]]
    * contract); a key repeated WITHIN one side pairs all its rows,
    * exactly like Delta CDF on a non-unique merge condition. The
    * streaming feed (`readChangeFeed`) emits the UNPAIRED form — same
    * divergence Delta had before CDC batch/stream parity; see
    * COVERAGE.md.
    */
  def changeFeed(spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long,
      pairKeys: Seq[String]): DataFrame = {
    val (fs, root) = fsFor(spark, table)
    val vs = listVersions(fs, root)
      .filter(v => v > fromExclusive && v <= toInclusive).sorted
    if (vs.size != toInclusive - fromExclusive)
      throw new ChangeFeedUnavailableException(
        s"change feed ($fromExclusive, $toInclusive] on $table: part of " +
          "the range was swept by expireLog and cannot be reproduced — " +
          "widen the log retention or start the feed from a newer version")
    val sch = logSchema(fs, root, Some(toInclusive))
    def readRels(relMetas: Seq[(String, FileMeta)]): DataFrame = {
      val missing = relMetas.collect {
        case (r, _) if !fs.exists(new Path(root, r)) => r
      }
      if (missing.nonEmpty)
        throw new ChangeFeedUnavailableException(
          s"change feed ($fromExclusive, $toInclusive] on $table: " +
            s"${missing.size} pre-image file(s) already reclaimed by " +
            s"vacuum (first: ${missing.headOption.getOrElse("")}) — " +
            "raise the vacuum retention to cover the feed's lag")
      readFileSet(spark, root, relMetas, sch)
    }
    // a removed file must read with its PRE-COMMIT meta: stats carry
    // the deletion-vector pointer of that era, so a file deleted-from
    // twice diffs new-vector against old-vector (emitting only the
    // newly deleted rows), and a rewrite of a DV'd file never
    // re-announces rows an earlier vector already removed. Commits
    // before the previous version's state is reproducible (expireLog
    // swept it below the nearest checkpoint) fall back to bare metas —
    // sound for DV-free histories, refused loudly for DV'd ones.
    def preMetas(v: Long, pl: ParsedLog,
        removes: Seq[String]): Seq[(String, FileMeta)] =
      if (versionReproducible(fs, root, v - 1)) {
        val prev = snapshotFiles(fs, root, Some(v - 1))
        removes.map(r => r -> prev.getOrElse(r, FileMeta("", 0L, Map.empty)))
      } else {
        // pre-state swept: bare metas are sound only when no deletion
        // vector could have been attached to a removed file — a DV
        // commit in this position cannot reproduce which rows were
        // ALREADY deleted, so fail loudly rather than re-announce them
        val dvInvolved = pl.op.contains("delete-mor") ||
          pl.acts.exists(_.add.exists(_.stats.contains(DvStore.Key)))
        if (dvInvolved)
          throw new ChangeFeedUnavailableException(
            s"change feed ($fromExclusive, $toInclusive] on $table: " +
              s"commit $v touches deletion vectors but version ${v - 1} " +
              "was swept by expireLog — the pre-images' vectors cannot " +
              "be reproduced; widen the log retention")
        removes.map(_ -> FileMeta("", 0L, Map.empty))
      }
    def tag(df: DataFrame, v: Long, ct: String): DataFrame =
      df.withColumn("_commit_version", lit(v))
        .withColumn("_change_type", lit(ct))
    val parts = vs.flatMap { v =>
      val pl = parseLog(fs, versionFile(root, v), s"commit $v")
      val adds = pl.acts.collect { case a @ Action(_, Some(_)) => a }
        .map(a => a.rel -> a.add.get)
      val removes = pl.acts.collect { case Action(rel, None) => rel }
      if ((adds.isEmpty && removes.isEmpty) ||
          pl.op.exists(LayoutOps.contains)) None
      else if (removes.isEmpty) Some(tag(readRels(adds), v, "insert"))
      else {
        val pre = readRels(preMetas(v, pl, removes))
        val post = if (adds.isEmpty) pre.limit(0) else readRels(adds)
        val ins = post.exceptAll(pre)
        val del = pre.exceptAll(post)
        if (pairKeys.isEmpty)
          Some(tag(ins, v, "insert").unionByName(tag(del, v, "delete")))
        else {
          // pair on key presence across the two diff sides — one
          // window over the commit's OWN changed rows (O(delta)),
          // never a join back against the table
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(pairKeys.map(col): _*)
          val both = ins.withColumn("_side", lit("i"))
            .unionByName(del.withColumn("_side", lit("d")))
            .withColumn("_nsides",
              size(collect_set(col("_side")).over(w)))
          val ct = when(col("_nsides") === 2,
            when(col("_side") === "i", lit("update_postimage"))
              .otherwise(lit("update_preimage")))
            .otherwise(when(col("_side") === "i", lit("insert"))
              .otherwise(lit("delete")))
          Some(both.withColumn("_commit_version", lit(v))
            .withColumn("_change_type", ct)
            .drop("_side", "_nsides"))
        }
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse(
      tag(read(spark, table).limit(0), -1L, ""))
  }

  /** ClickHouse `SELECT ... FINAL` on a Replacing-style table: the
    * keep-latest-version collapse of [[compactReplacing]] applied at
    * READ time, without rewriting anything — correct results over a
    * table whose background merge hasn't caught up. Same key scoping
    * (per date partition) and same deterministic version-led
    * tie-break, so `readFinal` before a merge ≡ `read` after it.
    */
  def readFinal(spark: SparkSession, table: String, keys: Seq[String],
      versionCol: String): DataFrame =
    latestPerKey(read(spark, table), keys, versionCol)

  /** The Replacing collapse shared by [[compactReplacing]] (write
    * time) and [[readFinal]] (read time): max-version row per
    * (date, keys), version-led struct MAX (one candidate per partial
    * aggregate on the wire), deterministic payload tie-break, original
    * column order restored.
    */
  private[graft] def latestPerKey(df: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame = {
    require(keys.nonEmpty, "replacing collapse needs a key")
    (keys :+ versionCol).foreach(c =>
      require(df.columns.contains(c), s"no column $c"))
    require(!keys.contains(versionCol), "version column cannot be a key")
    val keyCols = ("date" +: keys.filterNot(_ == "date")).distinct
    val payload = versionCol +: df.columns
      .filterNot(c => keyCols.contains(c) || c == versionCol).toSeq
    val latest = df.groupBy(keyCols.map(col): _*)
      .agg(max(struct(payload.map(col): _*)).as("__w"))
    latest.select(df.columns.toSeq.map { c =>
      if (keyCols.contains(c)) col(c) else col("__w").getField(c).as(c)
    }: _*)
  }

  /** ClickHouse `TTL ... GROUP BY ... SET x = sum(x)` — rollup AGING:
    * partitions older than `cutoff` are re-aggregated to a coarser
    * grain instead of deleted, so old data keeps answering dashboard
    * aggregates at a fraction of the bytes (the classic ops-metrics
    * retention policy: raw minutes for a month, per-day rollups
    * forever). Scoped per date partition like every other maintenance
    * op: rows group by (date ∪ groupKeys), `sumCols` sum, and every
    * remaining column takes its per-group MIN — ClickHouse keeps "any
    * value" there, a distributed engine needs the deterministic pick.
    * Schema is unchanged (sums must already be long/double — a rollup
    * that retypes columns would break old readers), recent partitions
    * are untouched, and the swap is one atomic remove+add commit; old
    * files stay for time travel until [[vacuum]]. Returns the rolled
    * dates.
    */
  def retentionRollup(spark: SparkSession, table: String,
      cutoff: java.time.LocalDate, groupKeys: Seq[String],
      sumCols: Seq[String]): Seq[String] = {
    require(sumCols.nonEmpty, "rollup needs at least one SET x = sum(x)")
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    // ISO date strings order lexicographically
    val expired = live.values.map(_.date).toSet.filter(_ < cutoff.toString)
    if (expired.isEmpty) return Seq.empty
    val df = read(spark, table, Some(expired.toSeq.sorted))
    val keyCols = ("date" +: groupKeys.filterNot(_ == "date")).distinct
    (groupKeys ++ sumCols).foreach(c =>
      require(df.columns.contains(c), s"no column $c"))
    sumCols.foreach { c =>
      val t = df.schema(c).dataType.typeName
      require(t == "long" || t == "double",
        s"sum column $c must be long/double to keep the schema ($t)")
      require(!keyCols.contains(c), s"sum column $c cannot be a key")
    }
    val others = df.columns
      .filterNot(c => keyCols.contains(c) || sumCols.contains(c)).toSeq
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
      others.map(c => min(col(c)).as(c))
    val rolled = df.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col).toSeq: _*)
    val adds = stage(prep(rolled), fs, root)
    val removes = live.collect {
      case (rel, m) if expired(m.date) => rel
    }.toSeq
    commitRetry(fs, root, adds, removes, None, schemaUpdate(fs, root, rolled),
      op = Some("rollup"))
    expired.toSeq.sorted
  }

  /** W7 TTL on the tx path: one metadata-only commit removes every file
    * of every expired date — no data I/O at all at commit time; bytes
    * are reclaimed later by [[vacuum]]. Returns the dropped dates.
    */
  def retention(spark: SparkSession, table: String,
      cutoff: java.time.LocalDate): Seq[String] = {
    val (fs, root) = fsFor(spark, table)
    val live = snapshotFiles(fs, root)
    val expired = live.filter { case (_, m) =>
      try java.time.LocalDate.parse(m.date).isBefore(cutoff)
      catch { case _: Exception => false }
    }
    if (expired.nonEmpty) commitRetry(fs, root, Seq.empty, expired.keys.toSeq,
      op = Some("retention"))
    expired.values.map(_.date).toSet.toSeq.sorted
  }

  /** Constraint property prefix in the table's log-carried properties
    * (the Delta spelling is `delta.constraints.<name>`).
    */
  private val ConstraintPrefix = "constraint."

  /** The table's log-carried properties (replayed like files/schema;
    * checkpoints preserve them).
    */
  def tableProperties(spark: SparkSession, table: String): Map[String, String] = {
    val (fs, root) = fsFor(spark, table)
    replayState(fs, root, None).props
  }

  /** [[tableProperties]] at a pinned version, from an already-resolved
    * (fs, root) — the [[TxFileIndex.tableProps]] seam. */
  private[sink] def tablePropsAt(fs: FileSystem, root: Path,
      asOf: Option[Long]): Map[String, String] =
    replayState(fs, root, asOf).props

  /** ClickHouse `merge('dir', '^regex$')` — read every tx table under
    * `baseDir` whose NAME matches the regex as one union, each branch
    * through its own log-driven planner relation (pruning and skip
    * indexes intact per table), schemas harmonized additively
    * (unionByName with missing columns as NULL — the same contract as
    * the engine's own schema evolution) and the source table name
    * riding along as the `_table` virtual column, exactly CH's.
    */
  def readMerge(spark: SparkSession, baseDir: String,
      nameRegex: String): DataFrame = {
    val root = new Path(baseDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val re = nameRegex.r
    val tables = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        re.findFirstIn(st.getPath.getName).isDefined &&
        fs.exists(new Path(st.getPath, "_txlog")))
      .map(_.getPath).sortBy(_.getName)
    require(tables.nonEmpty,
      s"merge('$baseDir', '$nameRegex') matches no tx table")
    tables.map { p =>
      TxFileIndex.readV2(spark, p.toString)
        .withColumn("_table", lit(p.getName))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** CLONE TABLE (Delta's public CLONE semantics): `dst` springs into
    * existence as a snapshot of `src` at `asOf` (default: head).
    *
    * SHALLOW: one metadata-only commit whose adds REFERENCE the
    * source's files by absolute qualified path — zero data I/O
    * regardless of table size (the training-snapshot-reproducibility
    * primitive: pin a 100 TB corpus state in milliseconds). Skip-index
    * sidecar pointers are absolutized with the files, so pruning works
    * unchanged on the clone. The clone owns its own log from v0:
    * appends/deletes/compactions on either side never affect the
    * other. The one shared-fate caveat is Delta's own: VACUUM on the
    * SOURCE can reclaim files a shallow clone still references — pin
    * source retention accordingly. The clone's own vacuum never
    * touches foreign files (it only walks its own root). Sources with
    * live deletion vectors are refused (run purge_deletes first): a
    * DV pointer's position-subtraction contract is not portable
    * across roots.
    *
    * DEEP: the snapshot is materialized through the normal write path
    * (one job) — independent bytes, and any DVs are applied in the
    * copy.
    */
  def cloneTable(spark: SparkSession, src: String, dst: String,
      shallow: Boolean = true, asOf: Option[Long] = None): Long = {
    val (sfs, sroot) = fsFor(spark, src)
    val (dfs, droot) = fsFor(spark, dst)
    require(currentVersion(spark, dst) < 0,
      s"clone target $dst already exists")
    val state = replayState(sfs, sroot, asOf)
    require(state.files.nonEmpty || state.schema.isDefined,
      s"clone source $src has no content or schema" +
        asOf.map(v => s" at version $v").getOrElse(""))
    if (!shallow) {
      val df = read(spark, src, asOfVersion = asOf)
      return commitRetry(dfs, droot, stage(prep(df), dfs, droot),
        Seq.empty, None,
        state.schema.orElse(Some(dataSchema(df))),
        op = Some("clone"), propsSet = state.props.toSeq)
    }
    val dv = state.files.collect {
      case (rel, m) if DvStore.pointerOf(m.stats).isDefined => rel
    }
    require(dv.isEmpty,
      s"shallow clone of $src refused: ${dv.size} file(s) carry live " +
        "deletion vectors (position subtraction is not portable " +
        "across table roots) — run purgeDeletes/CALL " +
        "gcat.sys.purge_deletes first, or clone deep")
    val qsrc = sfs.makeQualified(sroot)
    val adds = state.files.toSeq.map { case (rel, m) =>
      val abs = new Path(qsrc, rel).toString
      val stats2 = m.stats.map {
        case (c, st) if st.typ == 'b' && BloomStore.isPtr(st.min) =>
          c -> st.copy(min =
            s"${BloomStore.Ptr}${new Path(qsrc, st.min.substring(1))}")
        case other => other
      }
      abs -> m.copy(stats = stats2)
    }
    commitRetry(dfs, droot, adds, Seq.empty, None, state.schema,
      op = Some("clone"), propsSet = state.props.toSeq)
  }

  /** ClickHouse `ALTER TABLE dst ATTACH PARTITION date FROM src`: one
    * date partition's live files become part of `dst` BY REFERENCE —
    * one metadata commit, zero data I/O (the partition-scoped sibling
    * of a shallow [[cloneTable]]; same absolute-path mechanics, same
    * source-vacuum caveat, same DV refusal). The source keeps its
    * files (CH semantics: ATTACH FROM copies, REPLACE replaces).
    * Schemas must agree additively (the attached files may lack
    * columns `dst` declares — they read as NULL). `replace = true` is
    * CH's `REPLACE PARTITION FROM`: the target's existing files for
    * that date leave in the SAME commit, so readers flip between the
    * two partition states atomically (the removed files fall to the
    * target's vacuum).
    */
  def attachPartitionFrom(spark: SparkSession, src: String, dst: String,
      date: String, replace: Boolean = false): Long = {
    val (sfs, sroot) = fsFor(spark, src)
    val (dfs, droot) = fsFor(spark, dst)
    val state = replayState(sfs, sroot, None)
    val part = state.files.filter(_._2.date == date)
    require(part.nonEmpty, s"$src has no live files for date $date")
    part.collect { case (rel, m)
        if DvStore.pointerOf(m.stats).isDefined =>
      throw new IllegalArgumentException(
        s"attach of $date refused: $rel carries a live deletion vector" +
          " — purge the source first")
    }
    // bucketing layouts must agree: attached files come in BY REFERENCE
    // with their bucket-id filenames intact, so a bucketed dst would
    // claim Spark's bucketSpec over rows hashed with the WRONG keys or
    // count — exchange-free joins would silently return wrong results.
    // An unbucketed dst is always safe (plain scan, ids ignored).
    val dstProps = replayState(dfs, droot, None).props
    bucketSpecOf(dstProps).foreach { db =>
      val sb = bucketSpecOf(state.props)
      require(sb.contains(db),
        s"attach refused: $dst is bucketed ${db._1.mkString(",")}×${db._2}" +
          s" but $src is ${sb.map(b => b._1.mkString(",") + "×" + b._2)
            .getOrElse("unbucketed")} — hash placement would not match")
    }
    // additive compatibility against dst's declared schema
    val srcSchema = state.schema.getOrElse(StructType(Nil))
    val dstSchema = logSchema(dfs, droot)
    dstSchema.foreach { cur =>
      val curTypes = cur.map(f => f.name -> relaxNulls(f.dataType)).toMap
      val broken = srcSchema.filterNot(f =>
        curTypes.get(f.name).forall(_ == relaxNulls(f.dataType)))
      require(broken.isEmpty,
        s"attach refused: column(s) ${broken.map(_.name).mkString(",")} " +
          s"of $src conflict with $dst's schema")
    }
    val qsrc = sfs.makeQualified(sroot)
    val adds = part.toSeq.map { case (rel, m) =>
      val stats2 = m.stats.map {
        case (c, st) if st.typ == 'b' && BloomStore.isPtr(st.min) =>
          c -> st.copy(min =
            s"${BloomStore.Ptr}${new Path(qsrc, st.min.substring(1))}")
        case other => other
      }
      new Path(qsrc, rel).toString -> m.copy(stats = stats2)
    }
    val removes =
      if (!replace) Seq.empty
      else snapshotFiles(dfs, droot).collect {
        case (rel, m) if m.date == date => rel
      }.toSeq
    commitRetry(dfs, droot, adds, removes, None,
      // a first attach to an empty-log dst records the source schema
      if (dstSchema.isEmpty) Some(srcSchema) else None,
      op = Some(if (replace) "replacepart" else "attach"))
  }

  /** ClickHouse `OPTIMIZE TABLE ... DEDUPLICATE`: fully-identical rows
    * collapse to one, scoped per date partition like every CH merge
    * (duplicates on different dates never meet), behind one atomic
    * remove+add swap. `columns` restricts the identity to a subset
    * (CH's `DEDUPLICATE BY col...`; the kept row is the ONE source row
    * whose non-key struct is minimal — deterministic where CH keeps
    * "any", and never a per-column mix of different rows).
    * One hash exchange on the identity; partial aggregation collapses
    * duplicate multiplicity map-side.
    */
  def optimizeDeduplicate(spark: SparkSession, table: String,
      columns: Seq[String] = Seq.empty,
      dates: Option[Seq[String]] = None): Long = {
    val (fs, root) = fsFor(spark, table)
    val targetDates = snapshotFiles(fs, root).values.map(_.date).toSet.toSeq
      .sorted.filter(d => dates.forall(_.contains(d)))
    val df = read(spark, table, Some(targetDates))
    columns.foreach(c => require(df.columns.contains(c),
      s"no column $c"))
    val deduped =
      if (columns.isEmpty) df.distinct()
      else {
        val keys = ("date" +: columns.filterNot(_ == "date")).distinct
        val others = df.columns.filterNot(keys.contains).toSeq
        if (others.isEmpty) df.distinct()
        else {
          // ONE surviving source row per group (CH keeps "any"; we keep
          // the struct-min of the non-key columns — deterministic, and
          // crucially a row that actually existed, never a per-column
          // mix of different rows).
          val packed = df.groupBy(keys.map(col): _*)
            .agg(min(struct(others.map(col): _*)).as("__rest"))
          packed.select(df.columns.toSeq.map(c =>
            if (keys.contains(c)) col(c) else col(s"__rest.$c").as(c)): _*)
        }
      }
    val adds = stage(prep(deduped), fs, root)
    val removes = snapshotFiles(fs, root)
      .collect { case (rel, m) if targetDates.contains(m.date) => rel }.toSeq
    commitRetry(fs, root, adds, removes, None,
      schemaUpdate(fs, root, deduped), op = Some("dedup"))
  }

  /** ClickHouse `ALTER TABLE ... DROP PARTITION`: every live file of
    * one date leaves in ONE metadata commit — no data I/O, instant at
    * any size (the removed files stay for time travel until
    * [[vacuum]]). The direct partition-ops sibling of the TTL sweep,
    * for the operator who knows exactly which day must go. Returns -1
    * when the date has no live files (no commit churn).
    */
  def dropPartition(spark: SparkSession, table: String,
      date: String): Long = {
    val (fs, root) = fsFor(spark, table)
    val removes = snapshotFiles(fs, root).collect {
      case (rel, m) if m.date == date => rel
    }.toSeq
    if (removes.isEmpty) -1L
    else commitRetry(fs, root, Seq.empty, removes, op = Some("droppart"))
  }

  /** Era-correct property view for time travel (the bucketing claim,
    * constraints, etc. must be the ones in force AT the version).
    */
  private[sink] def tablePropertiesAt(spark: SparkSession, table: String,
      asOf: Option[Long]): Map[String, String] = {
    val (fs, root) = fsFor(spark, table)
    replayState(fs, root, asOf).props
  }

  /** The table's CHECK constraints: name -> boolean SQL expression. */
  def checkConstraints(spark: SparkSession,
      table: String): Map[String, String] =
    tableProperties(spark, table).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr) — Delta's CHECK
    * constraints on the log table: the expression is VALIDATED against
    * all existing rows first (one scan — a constraint that is already
    * false somewhere must not be recordable), then recorded as a
    * `constraint.<name>` property in one metadata commit. From then on
    * every write enforces it INSIDE the write pass (a codegen'd
    * per-row assertion fused into the staging job — no second scan):
    * a violating row aborts the job before anything commits. SQL CHECK
    * semantics: NULL passes, only FALSE violates.
    */
  def addCheckConstraint(spark: SparkSession, table: String,
      name: String, exprSql: String): Long = {
    require(name.nonEmpty && !name.contains('\t'), s"bad constraint name")
    val (fs, root) = fsFor(spark, table)
    // refuse to record a constraint existing data already violates
    if (snapshotFiles(fs, root).nonEmpty) {
      val violating = read(spark, table)
        .filter(!coalesce(org.apache.spark.sql.functions.expr(exprSql),
          lit(true)))
        .limit(1).count()
      require(violating == 0L,
        s"cannot add CHECK constraint '$name' ($exprSql): existing rows " +
          "violate it")
    }
    commitRetry(fs, root, Seq.empty, Seq.empty, None, None,
      op = Some("constraint"),
      propsSet = Seq(s"$ConstraintPrefix$name" -> exprSql))
  }

  /** ALTER TABLE ... DROP CONSTRAINT — one metadata commit. */
  def dropCheckConstraint(spark: SparkSession, table: String,
      name: String): Long = {
    val (fs, root) = fsFor(spark, table)
    require(
      replayState(fs, root, None).props.contains(s"$ConstraintPrefix$name"),
      s"no CHECK constraint '$name' on $table")
    commitRetry(fs, root, Seq.empty, Seq.empty, None, None,
      op = Some("constraint"),
      propsRemove = Seq(s"$ConstraintPrefix$name"))
  }

  /** Fuse the table's CHECK constraints into a write plan as per-row
    * assertions: `assert_true` inside a filter condition cannot be
    * pruned, evaluates during the staging job's own pass, and aborts
    * the job on the first FALSE row — nothing half-commits and no
    * extra scan is paid.
    */
  private def enforceConstraints(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val cons = props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }
    cons.foldLeft(df) { case (d, (name, sql)) =>
      d.filter(org.apache.spark.sql.functions.assert_true(
        coalesce(org.apache.spark.sql.functions.expr(sql), lit(true)),
        lit(s"CHECK constraint '$name' violated: $sql")).isNull)
    }
  }

  /** TIMESTAMP AS OF resolution (Delta's second time-travel spelling):
    * the newest version whose commit file was PUBLISHED at or before
    * `ts` — commit mtime is the publish instant, the same clock
    * [[history]] reports. Refused before the first commit's time (no
    * table existed to read) and when every commit at or before `ts`
    * has been swept by [[expireLog]] (the state is not reproducible).
    * Callers compose: `read(spark, t, asOfVersion =
    * Some(versionAt(spark, t, ts)))`, and the `graft` data source
    * exposes it as `.option("timestampAsOf", "2024-03-05 12:00:00")`.
    */
  def versionAt(spark: SparkSession, table: String,
      ts: java.time.Instant): Long = {
    val (fs, root) = fsFor(spark, table)
    val versions = listVersions(fs, root)
    require(versions.nonEmpty, s"tx table $table has no commits")
    val at = versions.filter(v =>
      fs.getFileStatus(versionFile(root, v)).getModificationTime <=
        ts.toEpochMilli)
    require(at.nonEmpty,
      s"no committed version of $table at or before $ts " +
        s"(earliest retained commit is " +
        s"${new java.sql.Timestamp(fs.getFileStatus(
          versionFile(root, versions.head)).getModificationTime)})")
    at.max
  }

  /** RESTORE TABLE ... TO VERSION AS OF — rewind the table's LIVE
    * state to what version `v` saw, as a NEW commit (Delta's RESTORE):
    * files the head dropped since `v` are re-added with their logged
    * metadata (stats and Bloom filters included — no footer re-reads),
    * files added since are removed, and the era's schema is re-logged.
    * History is preserved — restore is one more commit, itself
    * restorable — and the data I/O is ZERO: immutable files make
    * rewind a pure metadata operation. Refused when any required file
    * was already reclaimed by [[vacuum]] (the same boundary Delta
    * draws: RESTORE reaches exactly as far back as VACUUM hasn't).
    * Returns the new commit version, or -1 when the head already
    * equals `v`'s state.
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val (fs, root) = fsFor(spark, table)
    val committed = listVersions(fs, root)
    require(committed.contains(version),
      s"cannot restore $table to version $version: not a committed " +
        s"version (log has ${committed.headOption.getOrElse(-1L)}.." +
        s"${committed.lastOption.getOrElse(-1L)}; older versions may " +
        "have been expired — see expireLog)")
    val target = replayState(fs, root, Some(version))
    val cur = replayState(fs, root, None)
    val readds = (target.files -- cur.files.keySet).toSeq
    val removes = (cur.files -- target.files.keySet).keys.toSeq
    if (readds.isEmpty && removes.isEmpty) return -1L
    val missing = readds.collect {
      case (rel, _) if !fs.exists(new Path(root, rel)) => rel
    }
    require(missing.isEmpty,
      s"cannot restore $table to version $version: " +
        s"${missing.size} required data file(s) already vacuumed " +
        s"(first: ${missing.headOption.getOrElse("")})")
    // CHECK constraints live in the HEAD's properties and are NOT
    // rewound by restore — so a restore to a pre-constraint version
    // could silently re-add rows that violate a still-recorded
    // constraint, breaking addCheckConstraint's invariant that a
    // recorded constraint holds over all live rows. Validate the
    // re-added files (the only rows entering the live set) against
    // every live constraint, with head-era read semantics (columns the
    // old files lack read NULL, which passes — same as a normal read).
    val liveCons = cur.props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }
    if (liveCons.nonEmpty) {
      // restore re-logs the TARGET era's schema, but constraints live
      // at head and are NOT rewound — a constraint referencing a
      // column the rewound schema lacks would make every subsequent
      // write fail at analysis (enforceConstraints can't resolve it).
      // Refuse up front with the remedy instead of committing an
      // unwritable table.
      val postSchema = target.schema.orElse(cur.schema)
      postSchema.foreach { sch =>
        val fields = sch.fieldNames.map(_.toLowerCase) :+ "date"
        liveCons.foreach { case (name, sql) =>
          val missing = spark.sessionState.sqlParser.parseExpression(sql)
            .collect {
              case ua: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => ua.name
            }
            .filterNot(a => fields.contains(a.toLowerCase))
          require(missing.isEmpty,
            s"cannot restore $table to version $version: CHECK " +
              s"constraint '$name' ($sql) references column(s) " +
              s"${missing.mkString(",")} absent from that version's " +
              "schema — every later write would fail; drop the " +
              "constraint first")
        }
      }
      if (readds.nonEmpty) {
        val readdDf =
          readFileSet(spark, root, readds, cur.schema.orElse(target.schema))
        liveCons.foreach { case (name, sql) =>
          val violating = readdDf
            .filter(!coalesce(org.apache.spark.sql.functions.expr(sql),
              lit(true)))
            .limit(1).count()
          require(violating == 0L,
            s"cannot restore $table to version $version: re-added rows " +
              s"violate CHECK constraint '$name' ($sql); drop the " +
              "constraint first or restore to a version satisfying it")
        }
      }
    }
    commitRetry(fs, root, readds, removes, None,
      target.schema.filter(s => !cur.schema.contains(s)),
      op = Some("restore"))
  }

  /** VACUUM DRY RUN: the unreferenced files [[vacuum]] WOULD reclaim
    * at this retention, with their sizes — the "how much space and
    * which history am I about to destroy" report, with zero deletes.
    */
  def vacuumDryRun(spark: SparkSession, table: String,
      minAgeMs: Long = DefaultVacuumRetentionMs): Seq[(String, Long)] =
    vacuumWalk(spark, table, minAgeMs, delete = false)

  /** Default vacuum retention: 7 days, Delta's own default. Anything
    * shorter risks (a) deleting a LIVE concurrent writer's staged but
    * not-yet-committed files and (b) destroying every time-travel
    * version the moment it is superseded.
    */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Delete data files no commit references (compacted-away, TTL'd, or
    * orphaned by a crashed writer) and prune empty uuid dirs, KEEPING
    * anything younger than `minAgeMs`. The default (7 days) protects a
    * LIVE writer's not-yet-committed staging files and the recent
    * history time travel replays — like Delta, reclaiming younger files
    * requires an explicit override (`minAgeMs = 0L`), which is only
    * safe when no writer can be mid-stage and no reader needs history.
    */
  def vacuum(spark: SparkSession, table: String,
      minAgeMs: Long = DefaultVacuumRetentionMs): Seq[String] =
    vacuumWalk(spark, table, minAgeMs, delete = true).map(_._1)

  /** The shared walk behind [[vacuum]] and [[vacuumDryRun]]: every
    * data file under a `d-` staging dir that no commit references and
    * that is older than `minAgeMs`. `delete = true` reclaims as it
    * goes and prunes emptied dirs; `false` only reports.
    */
  private def vacuumWalk(spark: SparkSession, table: String,
      minAgeMs: Long, delete: Boolean): Seq[(String, Long)] = {
    val (fs, root) = fsFor(spark, table)
    val qroot = fs.makeQualified(root)
    val snapshot = snapshotFiles(fs, root)
    val live = snapshot.keySet
    // filter sidecars referenced by any LIVE file's pointer stats are
    // part of the live state (they hold its skip indexes) even though
    // no commit adds them as data files — never reclaim those
    val liveSidecars =
      BloomStore.referencedSidecars(snapshot.values.map(_.stats)) ++
        DvStore.referencedSidecars(snapshot.values.map(_.stats))
    val now = System.currentTimeMillis()
    val hits = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("d-")).foreach { dir =>
      listFilesNoPerm(fs, dir.getPath).foreach { f =>
        val rel = qroot.toUri.relativize(f.getPath.toUri).getPath
        if (!live.contains(rel) && !liveSidecars.contains(rel) &&
            now - f.getModificationTime >= minAgeMs) {
          if (delete) fs.delete(f.getPath, false)
          hits += ((rel, f.getLen))
        }
      }
      if (delete && listFilesNoPerm(fs, dir.getPath).isEmpty)
        fs.delete(dir.getPath, true)
    }
    hits.toSeq
  }
}
