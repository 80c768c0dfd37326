package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Driver gates for the SQL catalog ([[graft.catalog.GraftCatalog]]):
  * plain SQL owns the whole table lifecycle — CREATE NAMESPACE / CREATE
  * TABLE / positional + by-name INSERT / DELETE WHERE / ALTER TABLE ADD
  * COLUMNS / SET TBLPROPERTIES / VERSION AS OF / INSERT OVERWRITE /
  * TRUNCATE / RENAME / DROP — and the final SELECTs must hash-match
  * DuckDB replaying the same mutations from the raw events table.
  *
  * Reference anchor: the reference's query surface is SQL-first
  * (README.md:180-184 — users interact with the warehouse through SQL
  * DDL/DML, not library calls); this module proves the same posture on
  * the Spark engine.
  *
  * Every gate runs in a [[graft.Graft.session]], so its SQL reads
  * plan through the extensions' relation swap
  * ([[graft.catalog.GraftCatalogRelations]]: the vectorized
  * `HadoopFsRelation`) and its UPDATE / MERGE statements through
  * [[graft.catalog.GraftDmlRewrite]]; the lifecycle gate requires the
  * swap to have fired. The `V1Scan` row bridge that a session without
  * the extensions reads through is pinned by GraftCatalogSpec.
  */
object CatalogQueries {

  /** Register the catalog in the session (idempotent — same values
    * every call) and hand back a clean warehouse root for this gate.
    */
  private def freshWarehouse(s: SparkSession, tag: String,
      d: String): String = {
    val base = sys.props("java.io.tmpdir") +
      s"/graft_${tag}_${math.abs(d.hashCode)}"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    s.conf.set("spark.sql.catalog.gcat", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.gcat.warehouse",
      sys.props("java.io.tmpdir") + "/graft_gcat_warehouse")
    // namespace the gate's tables by warehouse-relative dir: the
    // catalog instance is CACHED by the session after first use, so
    // its warehouse root must be one fixed path — each gate isolates
    // under its own namespace instead
    base
  }

  private def ev(s: SparkSession, d: String): DataFrame =
    graft.Tables.events(s, d).select(
      to_date(col("ts")).as("date"), col("event_id"), col("event_type"),
      round(col("value") * 100, 0).cast("long").as("cents"))

  /** Drop and recreate the gate's namespace so a re-run (bench samples
    * the gate twice in one session) replays from scratch.
    */
  private def resetNamespace(s: SparkSession, ns: String): Unit = {
    s.sql(s"DROP NAMESPACE IF EXISTS gcat.$ns CASCADE")
    s.sql(s"CREATE NAMESPACE gcat.$ns")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The SQL LIFECYCLE gate: create → positional insert → by-name
    // insert → DELETE WHERE → ALTER TABLE ADD COLUMNS → SET
    // TBLPROPERTIES → insert into the evolved schema → read back in
    // THREE arms: the final state ('final'), the SAME query again
    // ('fast' — its plan must hold the vectorized HadoopFsRelation the
    // extensions' relation swap puts in), and time travel to the
    // pre-delete state ('asof2'). Any mis-ordered positional insert,
    // lost half of the ALTER, delete over-reach, or old-file read of
    // the new column not surfacing NULL moves a hash.
    "qcat_lifecycle" -> ((s, d) => {
      freshWarehouse(s, "cat_life", d)
      resetNamespace(s, "life")
      ev(s, d).createOrReplaceTempView("qcat_ev")
      s.sql("CREATE TABLE gcat.life.flows (date DATE, event_type STRING," +
        " cents BIGINT) PARTITIONED BY (date)")
      // v1: POSITIONAL insert — the file-source convention moves the
      // `date` partition column to the END of the schema
      s.sql("INSERT INTO gcat.life.flows SELECT event_type, cents, date" +
        " FROM qcat_ev WHERE event_id % 2 = 0")
      // v2: BY-NAME insert — order-independent
      s.sql("INSERT INTO gcat.life.flows (date, event_type, cents)" +
        " SELECT date, event_type, cents FROM qcat_ev WHERE event_id % 2 = 1")
      // v3: DELETE WHERE pushes through SupportsDelete -> TxTable.delete
      s.sql("DELETE FROM gcat.life.flows WHERE event_type = 'click'")
      // v4 + v5: schema evolution + properties (separate SQL statements;
      // the combined-TableChange single-commit path is spec'd directly)
      s.sql("ALTER TABLE gcat.life.flows ADD COLUMNS (weight DOUBLE)")
      s.sql("ALTER TABLE gcat.life.flows SET TBLPROPERTIES" +
        " ('graft.owner' = 'gate')")
      require(s.sql("SHOW TBLPROPERTIES gcat.life.flows").collect()
        .exists(r => r.getString(0) == "graft.owner" &&
          r.getString(1) == "gate"),
        "SET TBLPROPERTIES must round-trip through SHOW TBLPROPERTIES")
      // v6: insert into the EVOLVED schema (click rows deliberately
      // included — the delete happened before this insert)
      // weight values stay INTEGRAL doubles: a double sum of integers
      // below 2^53 is exact in any order, so the gate hash is immune
      // to aggregation-order float noise
      s.sql("INSERT INTO gcat.life.flows SELECT event_type, cents," +
        " CAST(cents % 1000 AS DOUBLE), date FROM qcat_ev" +
        " WHERE event_id % 10 = 3")
      val finalSel = "SELECT event_type, count(*) AS n," +
        " sum(cents) AS cents, sum(weight) AS w FROM gcat.life.flows" +
        " GROUP BY event_type"
      val fin = s.sql(s"SELECT 'final' AS phase, * FROM ($finalSel)")
      val fast = s.sql(s"SELECT 'fast' AS phase, * FROM ($finalSel)")
      require(fast.queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l }.isDefined,
        "GraftCatalogRelations must swap the catalog scan for the " +
          "vectorized HadoopFsRelation")
      val asof = s.sql("SELECT 'asof2' AS phase, event_type," +
        " count(*) AS n, sum(cents) AS cents, CAST(NULL AS DOUBLE) AS w" +
        " FROM gcat.life.flows VERSION AS OF 2 GROUP BY event_type")
      fin.unionByName(fast).unionByName(asof)
        .orderBy("phase", "event_type")
    }),

    // Atomic REPLACE surfaces: INSERT OVERWRITE (one commit swaps the
    // whole file set), TRUNCATE (metadata-only drop; schema survives),
    // RENAME (same table state under the new identifier), DROP (gone
    // for real). The surviving rows are exactly the post-truncate
    // insert, read back under the RENAMED identifier.
    "qcat_replace" -> ((s, d) => {
      freshWarehouse(s, "cat_repl", d)
      resetNamespace(s, "repl")
      ev(s, d).createOrReplaceTempView("qcat_rev")
      s.sql("CREATE TABLE gcat.repl.t (date DATE, event_type STRING," +
        " cents BIGINT)")
      s.sql("INSERT INTO gcat.repl.t SELECT event_type, cents, date" +
        " FROM qcat_rev WHERE event_id % 4 = 0")
      // one commit replaces everything — no truncated intermediate
      s.sql("INSERT OVERWRITE gcat.repl.t SELECT event_type, cents, date" +
        " FROM qcat_rev WHERE event_id % 4 = 1")
      val afterOw = s.sql("SELECT count(*) FROM gcat.repl.t")
        .head.getLong(0)
      s.sql("TRUNCATE TABLE gcat.repl.t")
      require(s.sql("SELECT count(*) FROM gcat.repl.t").head.getLong(0)
        == 0L, "TRUNCATE must empty the table")
      require(s.table("gcat.repl.t").schema.fieldNames.toSet ==
        Set("date", "event_type", "cents"),
        "the declared schema must survive TRUNCATE")
      s.sql("INSERT INTO gcat.repl.t SELECT event_type, cents, date" +
        " FROM qcat_rev WHERE event_id % 4 = 2")
      s.sql("ALTER TABLE gcat.repl.t RENAME TO repl.t2")
      require(!s.catalog.tableExists("gcat.repl.t"),
        "the old identifier must be gone after RENAME")
      val out = s.sql("SELECT event_type, count(*) AS n," +
        s" sum(cents) AS cents, CAST($afterOw AS BIGINT) AS" +
        " n_after_overwrite" +
        " FROM gcat.repl.t2 GROUP BY event_type ORDER BY event_type")
      val rows = out.collect() // materialize before DROP
      s.sql("DROP TABLE gcat.repl.t2")
      require(!s.catalog.tableExists("gcat.repl.t2"),
        "DROP TABLE must remove the table")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // Atomic CTAS + RTAS through the staging catalog: CREATE TABLE AS
    // SELECT publishes data + schema as ONE v0 commit; REPLACE TABLE
    // AS SELECT swaps the whole table (new schema included) as ONE v1
    // commit. A two-commit implementation (create-then-write,
    // drop-then-create) fails the version requires.
    "qcat_ctas" -> ((s, d) => {
      freshWarehouse(s, "cat_ctas", d)
      resetNamespace(s, "ctas")
      ev(s, d).createOrReplaceTempView("qcat_cev")
      val path = s.conf.get("spark.sql.catalog.gcat.warehouse") + "/ctas/t"
      s.sql("CREATE TABLE gcat.ctas.t AS SELECT date, event_type, cents" +
        " FROM qcat_cev WHERE event_id % 2 = 0")
      require(graft.sink.TxTable.currentVersion(s, path) == 0L,
        "CTAS must be ONE commit at v0")
      s.sql("REPLACE TABLE gcat.ctas.t AS SELECT date, event_type," +
        " cents * 2 AS cents FROM qcat_cev WHERE event_id % 2 = 1")
      require(graft.sink.TxTable.currentVersion(s, path) == 1L,
        "RTAS must be ONE commit")
      s.sql("SELECT event_type, count(*) AS n, sum(cents) AS cents" +
        " FROM gcat.ctas.t GROUP BY event_type ORDER BY event_type")
    }),

    // SQL PARTITION overwrite: `INSERT OVERWRITE t PARTITION (date=d)`
    // routes through SupportsOverwrite -> TxTable.replaceWhere — ONE
    // commit swaps exactly the min-date partition (re-priced ×10,
    // errors dropped) while every other date's rows ride untouched.
    // The oracle recomputes the same min date independently.
    "qcat_partition_ow" -> ((s, d) => {
      freshWarehouse(s, "cat_pow", d)
      resetNamespace(s, "pow")
      ev(s, d).createOrReplaceTempView("qcat_pev")
      s.sql("CREATE TABLE gcat.pow.t (date DATE, event_type STRING," +
        " cents BIGINT) PARTITIONED BY (date)")
      s.sql("INSERT INTO gcat.pow.t SELECT event_type, cents, date" +
        " FROM qcat_pev")
      val minDate = s.sql("SELECT CAST(MIN(date) AS STRING) FROM qcat_pev")
        .head.getString(0)
      val vBefore = graft.sink.TxTable.currentVersion(s,
        s.conf.get("spark.sql.catalog.gcat.warehouse") + "/pow/t")
      s.sql(s"INSERT OVERWRITE gcat.pow.t PARTITION (date = '$minDate')" +
        s" SELECT event_type, cents * 10 FROM qcat_pev" +
        s" WHERE date = DATE'$minDate' AND event_type <> 'error'")
      require(graft.sink.TxTable.currentVersion(s,
        s.conf.get("spark.sql.catalog.gcat.warehouse") + "/pow/t")
        == vBefore + 1, "a partition overwrite must be ONE commit")
      s.sql(s"SELECT (date = DATE'$minDate') AS replaced, event_type," +
        " count(*) AS n, sum(cents) AS cents FROM gcat.pow.t" +
        " GROUP BY 1, 2 ORDER BY 1, 2")
    }),

    // Maintenance through SQL procedures (CALL gcat.sys.*): optimize
    // compacts the 3 small commits, zorder re-clusters, vacuum
    // reclaims the superseded files — and the data must hash
    // IDENTICALLY to never having run any of it (content-preserving
    // layout maintenance, end to end through plain SQL).
    "qcat_maintenance" -> ((s, d) => {
      freshWarehouse(s, "cat_mnt", d)
      resetNamespace(s, "mnt")
      ev(s, d).createOrReplaceTempView("qcat_nev")
      s.sql("CREATE TABLE gcat.mnt.t (date DATE, event_type STRING," +
        " cents BIGINT) PARTITIONED BY (date)")
      (0 until 3).foreach(i =>
        s.sql("INSERT INTO gcat.mnt.t SELECT event_type, cents, date" +
          s" FROM qcat_nev WHERE event_id % 3 = $i"))
      require(s.sql("CALL gcat.sys.optimize(table => 'mnt.t')")
        .head.getLong(0) >= 1, "3 small commits per date must compact")
      require(s.sql("CALL gcat.sys.zorder(table => 'mnt.t'," +
        " columns => 'event_type,cents')").head.getLong(0) > 0)
      require(s.sql("CALL gcat.sys.vacuum(table => 'mnt.t'," +
        " min_age_ms => 0)").head.getLong(0) > 0,
        "superseded files must reclaim")
      require(s.sql("CALL gcat.sys.history(table => 'mnt.t')")
        .collect().map(_.getString(1)).contains("zorder"))
      s.sql("SELECT event_type, count(*) AS n, sum(cents) AS cents" +
        " FROM gcat.mnt.t GROUP BY event_type ORDER BY event_type")
    }),

    // SQL UPDATE via the DML rewrite (ClickHouse's ALTER TABLE UPDATE
    // mutation): one copy-on-write commit transforms exactly the
    // matching rows; the expression references another column
    // (planned by the extensions' GraftDmlRewrite).
    "qcat_update" -> ((s, d) => {
      freshWarehouse(s, "cat_upd", d)
      resetNamespace(s, "upd")
      ev(s, d).createOrReplaceTempView("qcat_uev")
      s.sql("CREATE TABLE gcat.upd.t AS SELECT date, event_type, cents" +
        " FROM qcat_uev")
      val path = s.conf.get("spark.sql.catalog.gcat.warehouse") + "/upd/t"
      s.sql("UPDATE gcat.upd.t SET cents = cents * 3 + 1" +
        " WHERE event_type = 'view'")
      require(graft.sink.TxTable.currentVersion(s, path) == 1L,
        "UPDATE must be ONE commit after the CTAS")
      s.sql("SELECT event_type, count(*) AS n, sum(cents) AS cents" +
        " FROM gcat.upd.t GROUP BY event_type ORDER BY event_type")
    }),

    // SQL upsert-MERGE via the DML rewrite (the ReplacingMergeTree
    // re-statement): matched (date, event_id) rows replaced by the
    // re-priced source, unmatched source rows inserted, one commit.
    "qcat_merge" -> ((s, d) => {
      freshWarehouse(s, "cat_mrg", d)
      resetNamespace(s, "mrg")
      val e = ev(s, d)
      e.createOrReplaceTempView("qcat_mev")
      s.sql("CREATE TABLE gcat.mrg.t AS SELECT date, event_id," +
        " event_type, cents FROM qcat_mev WHERE event_id % 2 = 0")
      e.filter(col("event_id") % 3 === 0)
        .withColumn("cents", col("cents") * 2)
        .createOrReplaceTempView("qcat_msrc")
      val path = s.conf.get("spark.sql.catalog.gcat.warehouse") + "/mrg/t"
      s.sql("MERGE INTO gcat.mrg.t t USING qcat_msrc s" +
        " ON t.date = s.date AND t.event_id = s.event_id" +
        " WHEN MATCHED THEN UPDATE SET *" +
        " WHEN NOT MATCHED THEN INSERT *")
      require(graft.sink.TxTable.currentVersion(s, path) == 1L,
        "MERGE must be ONE commit after the CTAS")
      s.sql("SELECT event_type, count(*) AS n, sum(cents) AS cents" +
        " FROM gcat.mrg.t GROUP BY event_type ORDER BY event_type")
    }),

    // STREAMING reads through the catalog identifier
    // (`readStream.table`, the GraftMicroBatchStream path): the stream
    // backfills the pre-stream commit, is STOPPED while a commit lands
    // (the restart must deliver exactly that commit — nothing
    // re-delivered, nothing lost: the checkpoint offset is the proof),
    // then consumes a live commit. The union of delivered micro-batches
    // must equal DuckDB over the whole corpus.
    "qcat_stream" -> ((s, d) => {
      val base = freshWarehouse(s, "cat_stream", d)
      resetNamespace(s, "stream")
      ev(s, d).createOrReplaceTempView("qcat_sev")
      s.sql("CREATE TABLE gcat.stream.ev (date DATE, event_type STRING," +
        " cents BIGINT)")
      s.sql("INSERT INTO gcat.stream.ev SELECT event_type, cents, date" +
        " FROM qcat_sev WHERE event_id % 3 = 0")
      val out = s"$base/out"
      def startStream() = s.readStream
        .option("maxVersionsPerTrigger", "1")
        .table("gcat.stream.ev")
        .writeStream.option("checkpointLocation", s"$out/ckpt")
        .foreachBatch { (df: DataFrame, id: Long) =>
          if (!df.isEmpty)
            df.write.mode("overwrite").parquet(s"$out/data/batch=$id")
          ()
        }.start()
      val q1 = startStream()
      try q1.processAllAvailable() finally q1.stop()
      // lands while the stream is DOWN — the restart's checkpoint
      // recovery must deliver exactly this commit
      s.sql("INSERT INTO gcat.stream.ev SELECT event_type, cents, date" +
        " FROM qcat_sev WHERE event_id % 3 = 1")
      val q2 = startStream()
      try {
        q2.processAllAvailable()
        s.sql("INSERT INTO gcat.stream.ev SELECT event_type, cents, date" +
          " FROM qcat_sev WHERE event_id % 3 = 2")
        q2.processAllAvailable()
      } finally q2.stop()
      s.read.parquet(s"$out/data").drop("batch")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("event_type")
    }))

  def oracle: Map[String, String] = Map(
    "qcat_lifecycle" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, event_id, event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |t_final AS (
        |  SELECT event_type, cents, CAST(NULL AS DOUBLE) AS weight
        |  FROM e WHERE event_id % 2 = 0 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, cents, CAST(NULL AS DOUBLE)
        |  FROM e WHERE event_id % 2 = 1 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, cents, CAST(cents % 1000 AS DOUBLE)
        |  FROM e WHERE event_id % 10 = 3),
        |agg_final AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS cents,
        |    CAST(SUM(weight) AS DOUBLE) AS w
        |  FROM t_final GROUP BY event_type)
        |SELECT 'final' AS phase, * FROM agg_final
        |UNION ALL
        |SELECT 'fast' AS phase, * FROM agg_final
        |UNION ALL
        |SELECT 'asof2' AS phase, event_type, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(cents) AS BIGINT), CAST(NULL AS DOUBLE)
        |FROM e GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "qcat_replace" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, event_id, event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE event_id % 4 = 1)
        |    AS n_after_overwrite
        |FROM e WHERE event_id % 4 = 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qcat_ctas" ->
      """WITH e AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents, event_id
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents * 2) AS BIGINT) AS cents
        |FROM e WHERE event_id % 2 = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qcat_maintenance" ->
      """WITH e AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qcat_update" ->
      """WITH e AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |t AS (
        |  SELECT event_type, cents FROM e WHERE event_type <> 'view'
        |  UNION ALL
        |  SELECT event_type, cents * 3 + 1 FROM e
        |  WHERE event_type = 'view')
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qcat_merge" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |t AS (
        |  SELECT event_type, cents FROM e
        |  WHERE event_id % 2 = 0 AND event_id % 3 <> 0
        |  UNION ALL
        |  SELECT event_type, cents * 2 FROM e WHERE event_id % 3 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,
    "qcat_partition_ow" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS date, event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |m AS (SELECT MIN(date) AS d FROM e),
        |t AS (
        |  SELECT date, event_type, cents FROM e
        |  WHERE date <> (SELECT d FROM m)
        |  UNION ALL
        |  SELECT date, event_type, cents * 10 FROM e
        |  WHERE date = (SELECT d FROM m) AND event_type <> 'error')
        |SELECT (date = (SELECT d FROM m)) AS replaced, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "qcat_stream" ->
      """WITH e AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS cents
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)
}
