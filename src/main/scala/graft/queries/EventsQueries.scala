package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Behavioral-analytics operator family over the `events` stream table —
  * the ClickHouse product-analytics function surface (`windowFunnel`,
  * `retention`, `sequenceMatch`/`sequenceCount`, `argMin`/`argMax`,
  * `WITH FILL` gap-filling) re-expressed as declarative Spark plans.
  * The reference's ecosystem leans on exactly these for flow dashboards
  * (ClickHouse docs: parametric-functions windowFunnel/retention;
  * ORDER BY ... WITH FILL), so a user switching engines needs them.
  *
  * Determinism rules (oracle hash-parity, same as CoreQueries):
  *  - event timestamps are unique in the corpus, but every ordered
  *    reduction still tie-breaks on `event_id` so the plan stays
  *    deterministic on ANY input;
  *  - money is exact integer cents; all outputs end in a total ORDER BY.
  *
  * Scale notes (100 TB): every query here is a single hash exchange on
  * `user_id` (funnel / retention / sequence) or on the time-dim grid
  * (gap-fill). The funnel and sequence operators deliberately avoid the
  * k-shuffle "chained min per stage" formulation: they collect each
  * user's events once and run the stage machine / pattern match inside
  * the aggregation, so cost is one shuffle of (user, ts, type) triples
  * regardless of funnel depth. Per-user state is bounded by per-user
  * activity; a production deployment bounds it further with a time
  * horizon filter before the groupBy (the same contract ClickHouse's
  * windowFunnel has: it only sees events inside the queried range).
  */
object EventsQueries {

  private def cents(c: Column) = round(c * 100, 0).cast("long")

  /** 7-day funnel window, microseconds. */
  private val FunnelWindowUs: Long = 7L * 86400L * 1000000L

  /** Per-user funnel stage machine: signup -> view -> click -> purchase
    * within [[FunnelWindowUs]] of the FIRST signup, strictly increasing
    * timestamps (the first-match chain). One exchange: fold the
    * per-user time-sorted event array through a 4-slot stage machine
    * (Catalyst `aggregate` HOF — codegen'd, no UDF).
    *
    * Input: (user_id, ts timestamp, event_type); output:
    * (user_id, stage int) with stage = deepest slot filled, 0..4.
    */
  def funnelStages(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    val nullTs = lit(null).cast("long")
    e.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("us"), col("event_type"))))
        .as("evs"))
      .withColumn("st", aggregate(
        col("evs"),
        struct(nullTs.as("s1"), nullTs.as("s2"),
          nullTs.as("s3"), nullTs.as("s4")),
        (acc, x) => {
          val ts = x("us")
          val ty = x("event_type")
          val deadline = acc("s1") + FunnelWindowUs
          struct(
            when(acc("s1").isNull && ty === "signup", ts)
              .otherwise(acc("s1")).as("s1"),
            when(acc("s1").isNotNull && acc("s2").isNull &&
              ty === "view" && ts > acc("s1") && ts <= deadline, ts)
              .otherwise(acc("s2")).as("s2"),
            when(acc("s2").isNotNull && acc("s3").isNull &&
              ty === "click" && ts > acc("s2") && ts <= deadline, ts)
              .otherwise(acc("s3")).as("s3"),
            when(acc("s3").isNotNull && acc("s4").isNull &&
              ty === "purchase" && ts > acc("s3") && ts <= deadline, ts)
              .otherwise(acc("s4")).as("s4"))
        }))
      .select(col("user_id"),
        when(col("st.s4").isNotNull, 4)
          .when(col("st.s3").isNotNull, 3)
          .when(col("st.s2").isNotNull, 2)
          .when(col("st.s1").isNotNull, 1)
          .otherwise(0).cast("int").as("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // INTERVAL-OVERLAP JOIN as a batch operator: per-(user-bucket, day)
    // activity spans × busy hourly windows per event type, matched on
    // overlap. The non-equi time predicate is decomposed into an HOUR-
    // BUCKET equi-join (each span explodes into ≤24 covered hours; each
    // 1h window IS its bucket, so no pair dedup is even needed) with
    // the overlap inequality as a residual — a broadcastable hash join
    // instead of the nested-loop every naive interval join plans.
    "qj_interval_overlap" -> ((s, d) => {
      val ev = graft.Tables.events(s, d)
      val a = ev.groupBy((col("user_id") % 50).as("u"),
          to_date(col("ts")).as("adate"))
        .agg(min("ts").as("a_start"), max("ts").as("a_end"))
      // busy = at least half the busiest hour's volume — scale-free,
      // so the window set is non-empty at every sf
      val b0 = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("b_start"))
        .agg(count(lit(1)).as("n"))
      val b = b0
        .withColumn("mx", max("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .filter(col("n") * 2 >= col("mx"))
        .select(col("event_type"), col("b_start"),
          (col("b_start") + expr("INTERVAL 1 HOUR")).as("b_end"))
      val ab = a.withColumn("hb", explode(sequence(
        date_trunc("hour", col("a_start")),
        date_trunc("hour", col("a_end")), expr("INTERVAL 1 HOUR"))))
      ab.join(b, col("hb") === col("b_start") &&
          col("a_start") < col("b_end") && col("b_start") < col("a_end"))
        .select(col("u"), col("adate"), col("event_type"), col("b_start"),
          (unix_micros(least(col("a_end"), col("b_end"))) -
            unix_micros(greatest(col("a_start"), col("b_start"))))
            .as("overlap_us"))
        .orderBy("u", "adate", "event_type", "b_start")
    }),

    // fixed-bin histogram (the deterministic sibling of ClickHouse's
    // adaptive histogram()): 10 equal-width bins over the corpus
    // [min, max], per event type — bin edges computed once driver-side
    // and re-derived identically in the oracle, bin membership by the
    // same IEEE expression on both engines
    "q_histogram" -> ((s, d) => {
      val ev = graft.Tables.events(s, d)
      val b = ev.agg(min("value").as("lo"), max("value").as("hi"))
        .collect().head
      val (lo, hi) = (b.getDouble(0), b.getDouble(1))
      ev.withColumn("bin", least(lit(9),
          floor((col("value") - lit(lo)) / lit(hi - lo) * 10).cast("int")))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),
    // windowFunnel analog — see [[funnelStages]]; the gate aggregates
    // stage depth over the whole population.
    "q_funnel" -> ((s, d) => {
      funnelStages(Tables.events(s, d))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),

    // retention analog: cohort day = each user's first signup day;
    // day_offset N counts users active (any event) on cohort day + N.
    // (user, day) distinct collapses map-side before the cohort join.
    "q_retention" -> ((s, d) => {
      val e = Tables.events(s, d)
      val coh = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(to_date(min(col("ts"))).as("d0"))
      val act = e.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      act.join(coh, "user_id")
        .select(datediff(col("day"), col("d0")).cast("int")
          .as("day_offset"))
        .filter(col("day_offset").between(0, 7))
        .groupBy("day_offset").agg(count(lit(1)).as("n_users"))
        .orderBy("day_offset")
    }),

    // ORDER BY ... WITH FILL analog: densify the (hour x event_type)
    // grid over the observed span, zero-fill counts, and carry the last
    // observed hourly cents forward across gaps (LOCF interpolation).
    // The grid is GENERATED (sequence() on a 1-row span aggregate x the
    // distinct dim), never scanned from facts — at 100 TB the grid is
    // time x dims, orders of magnitude smaller than the fact table.
    "q_gapfill" -> ((s, d) => {
      val b = Tables.events(s, d).select(
        date_trunc("hour", col("ts")).as("hr"),
        col("event_type"), cents(col("value")).as("c"))
      val agg = b.groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("cents"))
      val span = b.agg(min("hr").as("lo"), max("hr").as("hi"))
      val grid = span
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("hr"))
        .crossJoin(b.select("event_type").distinct())
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(agg, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(last(col("cents"), ignoreNulls = true).over(w), lit(0L))
            .as("cents_locf"))
        .orderBy("event_type", "hr")
    }),

    // sequenceMatch / sequenceCount analog: per user, the time-ordered
    // event-initial string is matched against CONTIGUOUS patterns
    // (gapped '(?1).*(?2)' patterns are degenerate at ~67 events/user —
    // every user matches). Same one-exchange shape as the funnel; the
    // regex scan over the per-user string is the NFA ClickHouse runs.
    "q_seq_match" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      e.groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("us"), col("event_id"),
            col("c")))),
          x => x("c")), "").as("seq"))
        .select(col("user_id"),
          col("seq").rlike("vpe").as("m_vpe"),
          col("seq").rlike("eee").as("m_eee"),
          regexp_count(col("seq"), lit("vpe")).cast("int").as("n_vpe"))
        .orderBy("user_id")
    }),

    // time-sanity canary (hash-gated): the corpus's ts envelope. A
    // loader that misreads the physical timestamp unit (the r5 failure:
    // micros read as nanos → everything lands in 1970) shifts min/max
    // and fails this gate loudly instead of corrupting downstream
    // windows silently. TsCanarySpec asserts the same bounds in-repo.
    "q_ts_bounds" -> ((s, d) => {
      Tables.events(s, d).agg(
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        count(lit(1)).as("n"))
    }),

    // Inter-arrival cadence profiling — the beaconing/regularity
    // analysis a network-analytics stack runs on flow streams (periodic
    // C2-style traffic has low gap jitter; organic traffic doesn't),
    // here over the per-(user, event_type) event streams: consecutive
    // gaps via ONE lag window, then integer gap stats and a spread
    // ratio 100·(max−min)÷avg with a steadiness decision. One hash
    // exchange on the group key; the lag window and the aggregation
    // share the same partitioning so the sort is reused, and all math
    // is integer seconds (oracle hash-parity).
    "q_interarrival" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("us"), col("event_id"))
      e.withColumn("prev", lag(col("us"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("(us - prev) DIV 1000000").as("ds"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_gaps"),
          expr("sum(ds) DIV count(1)").as("avg_gap_s"),
          min("ds").as("min_gap_s"), max("ds").as("max_gap_s"))
        .filter(col("n_gaps") >= 4)
        .withColumn("spread_pct",
          expr("100 * (max_gap_s - min_gap_s) DIV avg_gap_s"))
        .withColumn("steady", col("spread_pct") <= 250)
        .orderBy("user_id", "event_type")
    }),

    // argMin/argMax analog: the value carried by the earliest/latest
    // event per type (min_by/max_by — single partial-agg'd exchange).
    // Keyed on (ts, event_id) so the reduction is total even on ts ties.
    "q_argmax" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_type"),
        struct(unix_micros(col("ts")).as("us"), col("event_id")).as("k"),
        cents(col("value")).as("c"))
      e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        min_by(col("c"), col("k")).as("first_cents"),
        max_by(col("c"), col("k")).as("last_cents"))
        .orderBy("event_type")
    }))

  val oracle: Map[String, String] = Map(
    // the overlap join stated directly as the inequality it is —
    // DuckDB's optimizer can afford the naive plan at oracle scale
    "qj_interval_overlap" ->
      """WITH e AS (SELECT ts, user_id % 50 AS u, CAST(ts AS DATE) AS adate,
        |    event_type, date_trunc('hour', ts) AS h FROM events),
        |a AS (SELECT u, adate, MIN(ts) AS a_start, MAX(ts) AS a_end
        |  FROM e GROUP BY u, adate),
        |c AS (SELECT event_type, h, COUNT(*) AS n FROM e
        |      GROUP BY event_type, h),
        |b AS (SELECT event_type, h AS b_start, h + INTERVAL 1 HOUR AS b_end
        |  FROM c WHERE n * 2 >= (SELECT MAX(n) FROM c))
        |SELECT u, adate, event_type, b_start,
        |  epoch_us(least(a_end, b_end)) -
        |    epoch_us(greatest(a_start, b_start)) AS overlap_us
        |FROM a JOIN b ON a_start < b_end AND b_start < a_end
        |ORDER BY u, adate, event_type, b_start""".stripMargin,
    // identical IEEE bin expression, edges re-derived from the corpus
    "q_histogram" ->
      """WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
        |SELECT event_type,
        |  LEAST(9, CAST(FLOOR((value - lo) / (hi - lo) * 10) AS INTEGER))
        |    AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events, b
        |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,
    // chained-min formulation — provably equal to the stage-machine fold
    // when timestamps are strictly ordered per comparison (both sides
    // use strict `>` between stages, so equal-ts events can't satisfy
    // the next stage on either engine)
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |f1 AS (SELECT user_id, MIN(us) AS s1 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |f2 AS (SELECT e.user_id, MIN(us) AS s2 FROM e
        |  JOIN f1 USING (user_id)
        |  WHERE event_type = 'view' AND us > s1
        |    AND us <= s1 + ${FunnelWindowUs} GROUP BY e.user_id),
        |f3 AS (SELECT e.user_id, MIN(us) AS s3 FROM e
        |  JOIN f2 USING (user_id) JOIN f1 USING (user_id)
        |  WHERE event_type = 'click' AND us > s2
        |    AND us <= s1 + ${FunnelWindowUs} GROUP BY e.user_id),
        |f4 AS (SELECT e.user_id, MIN(us) AS s4 FROM e
        |  JOIN f3 USING (user_id) JOIN f1 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > s3
        |    AND us <= s1 + ${FunnelWindowUs} GROUP BY e.user_id),
        |pu AS (SELECT u.user_id,
        |  CASE WHEN s4 IS NOT NULL THEN 4 WHEN s3 IS NOT NULL THEN 3
        |       WHEN s2 IS NOT NULL THEN 2 WHEN s1 IS NOT NULL THEN 1
        |       ELSE 0 END AS stage
        |  FROM u LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id)
        |         LEFT JOIN f3 USING (user_id) LEFT JOIN f4 USING (user_id))
        |SELECT CAST(stage AS INTEGER) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM pu GROUP BY stage ORDER BY stage""".stripMargin,

    "q_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS mts,
        |  event_type FROM events),
        |coh AS (SELECT user_id, CAST(MIN(mts) AS DATE) AS d0 FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(mts AS DATE) AS day FROM e)
        |SELECT CAST(datediff('day', d0, day) AS INTEGER) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act JOIN coh USING (user_id)
        |WHERE datediff('day', d0, day) BETWEEN 0 AND 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_gapfill" ->
      """WITH b AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |  event_type, CAST(ROUND(value*100, 0) AS BIGINT) AS c FROM events),
        |agg AS (SELECT hr, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(c) AS cents FROM b GROUP BY hr, event_type),
        |span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM b),
        |grid AS (SELECT g.hr, t.event_type FROM
        |  (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        |   FROM span) g
        |  CROSS JOIN (SELECT DISTINCT event_type FROM b) t)
        |SELECT grid.hr, grid.event_type,
        |  CAST(COALESCE(agg.n, 0) AS BIGINT) AS n,
        |  CAST(COALESCE(last_value(agg.cents IGNORE NULLS) OVER (
        |    PARTITION BY grid.event_type ORDER BY grid.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS cents_locf
        |FROM grid LEFT JOIN agg
        |  ON grid.hr = agg.hr AND grid.event_type = agg.event_type
        |ORDER BY grid.event_type, grid.hr""".stripMargin,

    "q_seq_match" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  event_id, substr(event_type, 1, 1) AS c FROM events),
        |s AS (SELECT user_id,
        |  string_agg(c, '' ORDER BY us, event_id) AS seq
        |  FROM e GROUP BY user_id)
        |SELECT user_id, regexp_matches(seq, 'vpe') AS m_vpe,
        |  regexp_matches(seq, 'eee') AS m_eee,
        |  CAST(len(regexp_extract_all(seq, 'vpe')) AS INTEGER) AS n_vpe
        |FROM s ORDER BY user_id""".stripMargin,

    "q_ts_bounds" ->
      """SELECT MIN(CAST(ts AS TIMESTAMP)) AS ts_min,
        |  MAX(CAST(ts AS TIMESTAMP)) AS ts_max,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM events""".stripMargin,

    "q_interarrival" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
        |d AS (SELECT user_id, event_type,
        |  us - LAG(us) OVER (PARTITION BY user_id, event_type
        |    ORDER BY us, event_id) AS du
        |  FROM e),
        |g AS (SELECT user_id, event_type, du // 1000000 AS ds
        |  FROM d WHERE du IS NOT NULL),
        |a AS (SELECT user_id, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  SUM(ds) // COUNT(*) AS avg_gap_s,
        |  MIN(ds) AS min_gap_s, MAX(ds) AS max_gap_s
        |  FROM g GROUP BY user_id, event_type HAVING COUNT(*) >= 4)
        |SELECT user_id, event_type, n_gaps,
        |  CAST(avg_gap_s AS BIGINT) AS avg_gap_s,
        |  CAST(min_gap_s AS BIGINT) AS min_gap_s,
        |  CAST(max_gap_s AS BIGINT) AS max_gap_s,
        |  CAST(100 * (max_gap_s - min_gap_s) // avg_gap_s AS BIGINT)
        |    AS spread_pct,
        |  (100 * (max_gap_s - min_gap_s) // avg_gap_s) <= 250 AS steady
        |FROM a ORDER BY user_id, event_type""".stripMargin,

    "q_argmax" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(arg_min(value, epoch_us(CAST(ts AS TIMESTAMP)))*100, 0)
        |    AS BIGINT) AS first_cents,
        |  CAST(ROUND(arg_max(value, epoch_us(CAST(ts AS TIMESTAMP)))*100, 0)
        |    AS BIGINT) AS last_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
