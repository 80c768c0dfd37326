package graft

import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftCatalog, GraftCatalogRelations}
import graft.sink.TxTable

/** The SQL catalog ([[graft.catalog.GraftCatalog]]): identifiers map to
  * warehouse paths, the commit log IS the table state, and every DDL /
  * DML statement lands as tx-table commits. Covers the doc-comment
  * lifecycle in BOTH read postures (the extensions' relation-swap rule
  * the shared session plans through, and the V1Scan fallback a session
  * without the extensions reads through, driven at the scan), the
  * combined ALTER single-commit contract, create-race safety, and
  * path-API-writer / SQL-reader agreement.
  */
class GraftCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcat.warehouse",
      sys.props("java.io.tmpdir") + "/graft_gcat_warehouse")
  }

  private def freshNs(ns: String): Unit = {
    ensureCatalog()
    spark.sql(s"DROP NAMESPACE IF EXISTS gcat.$ns CASCADE")
    spark.sql(s"CREATE NAMESPACE gcat.$ns")
  }

  test("deletion vectors through SQL: the graft.deletionVectors " +
    "property opts DELETE and UPDATE into merge-on-read, and " +
    "CALL gcat.sys.purge_deletes materializes the vectors away") {
    freshNs("dv")
    spark.sql("CREATE TABLE gcat.dv.t (date DATE, k STRING, v BIGINT)" +
      " PARTITIONED BY (date)" +
      " TBLPROPERTIES ('graft.deletionVectors' = 'true')")
    spark.sql("INSERT INTO gcat.dv.t SELECT 'k' || id, id," +
      " DATE'2024-01-01' FROM range(0, 100)")
    val loc = spark.sql("DESCRIBE TABLE EXTENDED gcat.dv.t")
      .filter(col("col_name") === "Location").head.getString(1)
    def live() = graft.sink.TxTable.liveStats(spark, loc)
      .map { case (r, m) => r -> m.bytes }
    val before = live()
    spark.sql("DELETE FROM gcat.dv.t WHERE v < 10")
    assert(live() == before,
      "property-gated SQL DELETE must be merge-on-read: files untouched")
    assert(spark.sql("SELECT count(*) FROM gcat.dv.t").head.getLong(0)
      == 90)
    spark.sql("UPDATE gcat.dv.t SET v = v + 1000 WHERE v >= 90")
    assert(before.keySet.subsetOf(live().keySet),
      "property-gated SQL UPDATE keeps the original file identities")
    assert(spark.sql(
      "SELECT count(*) FROM gcat.dv.t WHERE v >= 1000").head.getLong(0)
      == 10)
    assert(spark.sql("SELECT sum(v) FROM gcat.dv.t").head.getLong(0) ==
      ((10L until 90L) ++ (90L until 100L).map(_ + 1000L)).sum)
    // a NON-TRANSLATABLE predicate (modulo) — refused by the DSv2
    // SupportsDelete path — runs through the DML rewrite instead
    spark.sql("DELETE FROM gcat.dv.t WHERE v % 10 = 5")
    // survivors: {10..89} minus its eight x5 values, {1090..1099}
    // minus 1095 — nine rows gone
    assert(spark.sql("SELECT count(*) FROM gcat.dv.t").head.getLong(0)
      == 81, "modulo DELETE must run through the rewrite")
    assert(before.keySet.subsetOf(live().keySet),
      "rewrite DELETE is merge-on-read too under the property")
    // purge through the procedure surface; content preserved
    val sums = spark.sql("SELECT sum(v), count(*) FROM gcat.dv.t").head
    spark.sql("CALL gcat.sys.purge_deletes(table => 'dv.t')")
    assert(graft.sink.TxTable.liveStats(spark, loc).values
      .forall(!_.stats.contains(graft.sink.DvStore.Key)),
      "no vector survives the purge procedure")
    assert(spark.sql("SELECT sum(v), count(*) FROM gcat.dv.t").head
      == sums)
  }

  test("SQL lifecycle: create / inserts / delete / alter / time travel") {
    freshNs("spec")
    spark.sql("CREATE TABLE gcat.spec.t (date DATE, k STRING, v BIGINT)" +
      " PARTITIONED BY (date)")
    assert(spark.table("gcat.spec.t").count() == 0,
      "a created table reads empty under the declared schema")
    assert(spark.table("gcat.spec.t").schema.fieldNames.toSeq ==
      Seq("k", "v", "date"), "date moves LAST (file-source convention)")
    // positional insert follows (k, v, date)
    spark.sql("INSERT INTO gcat.spec.t VALUES" +
      " ('a', 1, DATE'2024-01-01'), ('b', 2, DATE'2024-01-01')")
    // by-name insert is order-independent
    spark.sql("INSERT INTO gcat.spec.t (date, v, k) VALUES" +
      " (DATE'2024-01-02', 3, 'a'), (DATE'2024-01-02', 4, 'c')")
    assert(spark.sql("SELECT sum(v) FROM gcat.spec.t").head.getLong(0) == 10)
    spark.sql("DELETE FROM gcat.spec.t WHERE k = 'b'")
    assert(spark.sql("SELECT sum(v) FROM gcat.spec.t").head.getLong(0) == 8)
    spark.sql("ALTER TABLE gcat.spec.t ADD COLUMNS (w DOUBLE)")
    spark.sql("INSERT INTO gcat.spec.t VALUES" +
      " ('d', 5, 2.5, DATE'2024-01-03')")
    val rows = spark.sql("SELECT k, v, w FROM gcat.spec.t ORDER BY v")
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "a", "c", "d"))
    assert(rows.take(3).forall(_.isNullAt(2)),
      "pre-evolution rows read the new column as NULL")
    assert(rows.last.getDouble(2) == 2.5)
    // time travel: v0 create, v1 insert, v2 insert, v3 delete, ...
    assert(spark.sql("SELECT count(*) FROM gcat.spec.t VERSION AS OF 2")
      .head.getLong(0) == 4, "pre-delete state via VERSION AS OF")
    assert(spark.sql("SELECT count(*) FROM gcat.spec.t VERSION AS OF 1")
      .head.getLong(0) == 2)
    // TIMESTAMP AS OF far future resolves to the newest commit
    assert(spark.sql("SELECT count(*) FROM gcat.spec.t" +
      " TIMESTAMP AS OF '2999-01-01'").head.getLong(0) == 4)
    // a pinned table refuses writes
    val e = intercept[Exception](spark.sql(
      "INSERT INTO gcat.spec.t VERSION AS OF 1 VALUES" +
        " ('x', 9, 0.0, DATE'2024-01-01')"))
    assert(e.getMessage != null)
  }

  /** The `V1Scan` a session WITHOUT the extensions would read through:
    * negotiated at the table's v2 ScanBuilder, then bridged by
    * `toV1TableScan` — the shared session's own SQL never reaches it.
    */
  private def fallbackScan(ns: String, table: String,
      pushed: Array[org.apache.spark.sql.sources.Filter],
      columns: Seq[String]): graft.catalog.GraftCatalogScan = {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead}
    import org.apache.spark.sql.connector.read.{SupportsPushDownFilters,
      SupportsPushDownRequiredColumns}
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
    val sb = cat.loadTable(Identifier.of(Array(ns), table))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty())
    val rest = sb.asInstanceOf[SupportsPushDownFilters].pushFilters(pushed)
    assert(rest.isEmpty, "every filter must be accepted as pushed")
    sb.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(StructType(spark.table(s"gcat.$ns.$table").schema
        .filter(f => columns.contains(f.name))))
    sb.build().asInstanceOf[graft.catalog.GraftCatalogScan]
  }

  private def fallbackRows(scan: graft.catalog.GraftCatalogScan) =
    scan.toV1TableScan[org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](spark.sqlContext)
      .buildScan().collect().toSeq

  test("both read postures agree and the fast path is the vectorized " +
    "relation") {
    freshNs("posture")
    spark.sql("CREATE TABLE gcat.posture.t (date DATE, k STRING, v BIGINT)")
    spark.sql("INSERT INTO gcat.posture.t VALUES" +
      " ('a', 1, DATE'2024-01-01'), ('b', 2, DATE'2024-01-02')," +
      " ('a', 3, DATE'2024-01-02')")
    // the session's extensions swap in the vectorized HadoopFsRelation
    val fast = spark.sql("SELECT k, v, date FROM gcat.posture.t")
    assert(fast.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }.isDefined,
      "the extensions rule must swap in the HadoopFsRelation")
    val fastPlan = fast.queryExecution.executedPlan.toString
    assert(fastPlan.contains("FileScan parquet"), fastPlan.take(800))
    assert(!fastPlan.contains("GraftCatalogV1Relation"), fastPlan.take(800))
    // the V1Scan fallback returns the same rows
    val v1 = fallbackRows(fallbackScan("posture", "t", Array.empty,
      Seq("k", "v", "date")))
    def key(r: org.apache.spark.sql.Row) = (r.getAs[String]("k"),
      r.getAs[Long]("v"), r.getAs[java.sql.Date]("date").toString)
    assert(v1.size == 3)
    assert(v1.map(key).sorted == fast.collect().toSeq.map(key).sorted)
    // write targets keep their v2 relation (the rule must NOT swap a
    // DELETE's target out from under the row-level contract)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
    val ident = Identifier.of(Array("posture"), "t")
    val target = DataSourceV2Relation.create(cat.loadTable(ident),
      Some(cat), Some(ident))
    val swappedDel = GraftCatalogRelations(
      DeleteFromTable(target, Literal(false)))
    assert(swappedDel.collectFirst { case l: LogicalRelation => l }.isEmpty,
      "command targets stay v2")
  }

  test("V1Scan fallback negotiates pruning and filter pushdown") {
    freshNs("prune")
    spark.sql("CREATE TABLE gcat.prune.t (date DATE, k STRING, v BIGINT," +
      " pad STRING)")
    spark.sql("INSERT INTO gcat.prune.t SELECT concat('k', id)," +
      " id, repeat('x', 10), DATE'2024-01-01' FROM range(100)")
    // the pushdown CONTRACT at the v2 ScanBuilder: both filters are
    // accepted, `pad` is pruned out of the read schema, and the V1
    // bridge applies the pushed filters inside buildScan
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val scan = fallbackScan("prune", "t",
      Array(EqualTo("k", "k7"), GreaterThan("v", 5L)), Seq("v"))
    assert(scan.readSchema().fieldNames.toSeq == Seq("v"))
    assert(scan.description().contains("EqualTo(k,k7)"), scan.description())
    assert(fallbackRows(scan).map(_.getLong(0)) == Seq(7L))
    // the same query through the session's swapped relation agrees
    assert(spark.sql("SELECT v FROM gcat.prune.t WHERE k = 'k7' AND v > 5")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("one ALTER statement carrying ADD COLUMNS + SET TBLPROPERTIES " +
    "lands as ONE commit") {
    freshNs("alter")
    spark.sql("CREATE TABLE gcat.alter.t (date DATE, k STRING, v BIGINT)")
    val path = sys.props("java.io.tmpdir") +
      "/graft_gcat_warehouse/alter/t"
    val before = TxTable.currentVersion(spark, path)
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    cat.alterTable(Identifier.of(Array("alter"), "t"),
      TableChange.addColumn(Array("w"), DoubleType),
      TableChange.setProperty("a.b", "c"),
      TableChange.removeProperty("never.set"))
    assert(TxTable.currentVersion(spark, path) == before + 1,
      "the combined change batch must be ONE commit")
    assert(TxTable.tableSchema(spark, path).get.fieldNames.toSeq ==
      Seq("k", "v", "w"))
    assert(TxTable.tableProperties(spark, path) == Map("a.b" -> "c"))
    // half-supported batches are REJECTED whole (no partial apply)
    intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array("alter"), "t"),
        TableChange.addColumn(Array("z"), LongType),
        TableChange.renameColumn(Array("k"), "k2"))
    }
    assert(TxTable.tableSchema(spark, path).get.fieldNames.toSeq ==
      Seq("k", "v", "w"), "rejected batch must not half-apply")
  }

  test("path-API writer and SQL reader agree (path-is-truth posture)") {
    freshNs("shared")
    import spark.implicits._
    val path = sys.props("java.io.tmpdir") +
      "/graft_gcat_warehouse/shared/t"
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    TxTable.append(spark, df, path)
    // no CREATE TABLE ever ran — the log under the warehouse path IS
    // the catalog entry
    assert(spark.sql("SELECT sum(v) FROM gcat.shared.t").head.getLong(0)
      == 3)
    assert(spark.sql("SHOW TABLES IN gcat.shared").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("INSERT INTO gcat.shared.t VALUES ('c', 4, DATE'2024-01-02')")
    assert(TxTable.read(spark, path).agg(sum("v")).head.getLong(0) == 7,
      "SQL writes are visible to the path API")
  }

  test("create race: the version-0 loser fails instead of silently " +
    "replacing the winner's schema") {
    freshNs("race")
    val path = sys.props("java.io.tmpdir") +
      "/graft_gcat_warehouse/race/t"
    import org.apache.spark.sql.types.{DateType, StringType, StructType}
    val schemaA = StructType(Seq(StructField("date", DateType),
      StructField("a", LongType)))
    val schemaB = StructType(Seq(StructField("date", DateType),
      StructField("b", StringType)))
    assert(TxTable.createTable(spark, path, schemaA) == 0L)
    // a second creator that already passed its existence check (TOCTOU)
    // must NOT land its create at v1 — simulate by calling the
    // primitive directly against the now-existing log
    intercept[IllegalArgumentException] {
      TxTable.createTable(spark, path, schemaB)
    }
    assert(TxTable.tableSchema(spark, path).get.fieldNames.toSeq ==
      Seq("a"), "winner's schema survives")
    // and SQL-level create on an existing table fails loudly too
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.race.t (date DATE, zz BIGINT)")
    }
  }

  test("namespaces: list/exists/drop semantics over plain directories") {
    freshNs("nsa")
    spark.sql("CREATE TABLE gcat.nsa.t1 (date DATE, v BIGINT)")
    val tables = spark.sql("SHOW TABLES IN gcat.nsa").collect()
      .map(_.getString(1)).toSet
    assert(tables == Set("t1"))
    val nss = spark.sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).toSet
    assert(nss.contains("nsa"))
    intercept[Exception] {
      spark.sql("DROP NAMESPACE gcat.nsa") // not empty, no cascade
    }
    spark.sql("DROP NAMESPACE gcat.nsa CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).contains("nsa"))
  }

  test("atomic CTAS / RTAS / CREATE OR REPLACE through the staging " +
      "catalog: data + schema publish as ONE commit, races fail loudly") {
    freshNs("ctas")
    val path = sys.props("java.io.tmpdir") + "/graft_gcat_warehouse/ctas/t"
    spark.sql("CREATE TABLE gcat.ctas.t AS SELECT concat('k', id) AS k," +
      " id AS v, DATE'2024-01-01' AS date FROM range(10)")
    assert(TxTable.currentVersion(spark, path) == 0L,
      "CTAS is ONE commit at version 0 (data + schema together)")
    assert(spark.sql("SELECT sum(v) FROM gcat.ctas.t").head.getLong(0)
      == 45)
    intercept[Exception] {
      spark.sql("CREATE TABLE gcat.ctas.t AS SELECT 'x' AS k," +
        " CAST(0 AS BIGINT) AS v, DATE'2024-01-01' AS date")
    }
    // RTAS: schema may change, the whole file set swaps in ONE commit
    spark.sql("REPLACE TABLE gcat.ctas.t AS SELECT concat('r', id) AS k," +
      " id * 2 AS v, cast(id AS DOUBLE) AS w, DATE'2024-01-02' AS date" +
      " FROM range(5)")
    assert(TxTable.currentVersion(spark, path) == 1L,
      "RTAS is ONE commit")
    val after = spark.table("gcat.ctas.t")
    assert(after.count() == 5)
    assert(after.schema.fieldNames.toSet == Set("k", "v", "w", "date"))
    // CREATE OR REPLACE: replaces when present, creates when absent
    spark.sql("CREATE OR REPLACE TABLE gcat.ctas.t AS SELECT 'x' AS k," +
      " CAST(7 AS BIGINT) AS v, DATE'2024-01-03' AS date")
    assert(spark.table("gcat.ctas.t").count() == 1)
    spark.sql("CREATE OR REPLACE TABLE gcat.ctas.t2 AS SELECT 'y' AS k," +
      " CAST(9 AS BIGINT) AS v, DATE'2024-01-03' AS date")
    assert(spark.sql("SELECT v FROM gcat.ctas.t2").head.getLong(0) == 9)
    // REPLACE of a nonexistent table is refused at stage time
    intercept[Exception] {
      spark.sql("REPLACE TABLE gcat.ctas.nope AS SELECT 'z' AS k," +
        " CAST(1 AS BIGINT) AS v, DATE'2024-01-01' AS date")
    }
    // a SELECT without a date column is refused with the remedy
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gcat.ctas.bad AS SELECT 1 AS v")
    }
    assert(e.getMessage.contains("date"))
  }

  test("INSERT OVERWRITE PARTITION swaps exactly that partition in " +
      "one commit (replaceWhere), other partitions untouched") {
    freshNs("pow")
    spark.sql("CREATE TABLE gcat.pow.t (date DATE, k STRING, v BIGINT)" +
      " PARTITIONED BY (date)")
    spark.sql("INSERT INTO gcat.pow.t VALUES" +
      " ('a', 1, DATE'2024-01-01'), ('b', 2, DATE'2024-01-01')," +
      " ('c', 3, DATE'2024-01-02')")
    val path = sys.props("java.io.tmpdir") + "/graft_gcat_warehouse/pow/t"
    val vBefore = TxTable.currentVersion(spark, path)
    spark.sql("INSERT OVERWRITE gcat.pow.t PARTITION (date='2024-01-01')" +
      " SELECT 'z', 99")
    assert(TxTable.currentVersion(spark, path) == vBefore + 1,
      "partition overwrite must be ONE commit")
    val got = spark.sql("SELECT k, v FROM gcat.pow.t ORDER BY v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("c", 3L), ("z", 99L)),
      "2024-01-01 replaced wholesale; 2024-01-02 untouched")
  }

  test("SQL UPDATE and upsert-MERGE rewrite to the atomic tx " +
      "commands; unsupported shapes stay unrewritten") {
    freshNs("dml")
    val path = sys.props("java.io.tmpdir") + "/graft_gcat_warehouse/dml/t"
    spark.sql("CREATE TABLE gcat.dml.t (date DATE, k STRING, v BIGINT)")
    spark.sql("INSERT INTO gcat.dml.t VALUES" +
      " ('a', 1, DATE'2024-01-01'), ('b', 2, DATE'2024-01-01')," +
      " ('c', 3, DATE'2024-01-02')")
    def analyze(sql: String) = spark.sessionState.analyzer.execute(
      spark.sessionState.sqlParser.parsePlan(sql))
    // the session's analyzer carries GraftDmlRewrite
    def dml(sql: String): Unit = {
      val rewritten = analyze(sql)
      assert(rewritten.isInstanceOf[
        org.apache.spark.sql.execution.command.LeafRunnableCommand],
        s"rule must rewrite:\n$rewritten")
      spark.sql(sql)
      ()
    }
    // UPDATE: one commit, expression may reference other columns
    val v0 = TxTable.currentVersion(spark, path)
    dml("UPDATE gcat.dml.t SET v = v + 10 WHERE k <> 'c'")
    assert(TxTable.currentVersion(spark, path) == v0 + 1,
      "UPDATE is ONE commit")
    assert(spark.sql("SELECT sum(v) FROM gcat.dml.t").head.getLong(0)
      == 11 + 12 + 3)
    // MERGE upsert: matched 'b' replaced, new 'd' inserted
    import spark.implicits._
    Seq(("b", 100L, "2024-01-01"), ("d", 4L, "2024-01-03"))
      .toDF("k", "v", "ds")
      .select(col("k"), col("v"), to_date(col("ds")).as("date"))
      .createOrReplaceTempView("gcat_dml_src")
    val v1 = TxTable.currentVersion(spark, path)
    dml("MERGE INTO gcat.dml.t t USING gcat_dml_src s" +
      " ON t.k = s.k WHEN MATCHED THEN UPDATE SET *" +
      " WHEN NOT MATCHED THEN INSERT *")
    assert(TxTable.currentVersion(spark, path) == v1 + 1,
      "MERGE is ONE commit")
    val got = spark.sql("SELECT k, v FROM gcat.dml.t ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 11L), ("b", 100L), ("c", 3L), ("d", 4L)))
    // shapes the primitives can't honor are LEFT for Spark's error:
    // a conditional matched action...
    val cond = analyze(
      "MERGE INTO gcat.dml.t t USING gcat_dml_src s ON t.k = s.k" +
        " WHEN MATCHED AND s.v > 0 THEN UPDATE SET *" +
        " WHEN NOT MATCHED THEN INSERT *")
    assert(cond.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable])
    // ...a DELETE action...
    val del = analyze(
      "MERGE INTO gcat.dml.t t USING gcat_dml_src s ON t.k = s.k" +
        " WHEN MATCHED THEN DELETE")
    assert(del.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable])
    // ...and an UPDATE of the partition column
    val dateUpd = analyze(
      "UPDATE gcat.dml.t SET date = DATE'2024-02-01' WHERE k = 'a'")
    assert(dateUpd.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.UpdateTable])
  }

  test("catalog scan reports log-derived statistics and a small " +
      "catalog table broadcasts") {
    freshNs("stats")
    spark.sql("CREATE TABLE gcat.stats.dim (date DATE, k STRING," +
      " name STRING)")
    spark.sql("INSERT INTO gcat.stats.dim SELECT concat('k', id)," +
      " concat('n', id), DATE'2024-01-01' FROM range(50)")
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
    val scan = cat.loadTable(Identifier.of(Array("stats"), "dim"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsReportStatistics]
    val size = scan.estimateStatistics().sizeInBytes()
    assert(size.isPresent && size.getAsLong > 0 &&
      size.getAsLong < 10L * 1024 * 1024,
      s"log-derived size must be small and present: $size")
    // a fact×dim join must BROADCAST the small catalog table instead
    // of shuffling both sides
    import spark.implicits._
    spark.range(100000).map(i => s"k${i % 50}").toDF("k")
      .createOrReplaceTempView("gcat_fact")
    val joined = spark.sql("SELECT f.k, d.name FROM gcat_fact f" +
      " JOIN gcat.stats.dim d ON f.k = d.k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("maintenance procedures: CALL gcat.sys.{optimize,zorder," +
      "vacuum,expire_log,history} run the tx primitives and return " +
      "result rows") {
    freshNs("proc")
    val path = sys.props("java.io.tmpdir") + "/graft_gcat_warehouse/proc/t"
    spark.sql("CREATE TABLE gcat.proc.t (date DATE, k STRING, v BIGINT)")
    // several small commits so optimize has something to compact
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO gcat.proc.t SELECT concat('k', id)," +
        s" id + ${i * 100}, DATE'2024-01-01' FROM range(50)")
    }
    val hist = spark.sql("CALL gcat.sys.history(table => 'proc.t')")
    assert(hist.columns.contains("operation"))
    assert(hist.count() == 5) // create + 4 appends
    val opt = spark.sql("CALL gcat.sys.optimize(table => 'proc.t')")
      .head.getLong(0)
    assert(opt >= 1, "4 tiny files of one date must compact")
    assert(spark.sql("SELECT count(*) FROM gcat.proc.t").head.getLong(0)
      == 200, "optimize is content-preserving")
    val zv = spark.sql("CALL gcat.sys.zorder(table => 'proc.t'," +
      " columns => 'k,v')").head.getLong(0)
    assert(zv > 0)
    // optimize + zorder left superseded files for vacuum
    val reclaimed = spark.sql("CALL gcat.sys.vacuum(table => 'proc.t'," +
      " min_age_ms => 0)").head.getLong(0)
    assert(reclaimed >= 4)
    assert(spark.sql("SELECT count(*) FROM gcat.proc.t").head.getLong(0)
      == 200, "vacuum reclaims only unreferenced files")
    // expire_log prunes commits below the newest checkpoint (none yet
    // at this commit count — returns 0, still a valid result set)
    val expired = spark.sql("CALL gcat.sys.expire_log(table => 'proc.t')")
      .head.getLong(0)
    assert(expired >= 0)
    // unknown procedure fails loudly (the engine wraps our message as
    // FAILED_TO_LOAD_ROUTINE; the cause carries the available list)
    val e = intercept[Exception] {
      spark.sql("CALL gcat.sys.nope(table => 'proc.t')")
    }
    assert(e.getMessage.contains("nope") ||
      Option(e.getCause).exists(_.getMessage.contains("vacuum")))
  }

  test("streaming read via the catalog identifier is exactly-once " +
    "across a restart") {
    freshNs("strm")
    import spark.implicits._
    spark.sql("CREATE TABLE gcat.strm.ev (date DATE, k STRING, v BIGINT)")
    spark.sql("INSERT INTO gcat.strm.ev VALUES ('a', 1, DATE'2024-01-01')")
    val out = java.nio.file.Files
      .createTempDirectory("graft_cat_strm").toString
    def start() = spark.readStream.table("gcat.strm.ev")
      .writeStream.option("checkpointLocation", s"$out/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!df.isEmpty)
          df.write.mode("overwrite").parquet(s"$out/data/batch=$id")
        ()
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    spark.sql("INSERT INTO gcat.strm.ev VALUES ('b', 2, DATE'2024-01-02')")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$out/data")
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L), ("b", 2L)),
      "restart delivers exactly the missed commit — nothing doubled")
  }
}
