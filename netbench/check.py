"""Correctness of one run, recomputed in DuckDB from the same inputs.

- sums: a tx table's per (date, connection_class, direction) sums of
  bytes, packets and n_obs must equal the `FlowSql` recomputation over
  the raw observations that went into it (the JVM hands over
  `FlowSql.summedCte`, the pipeline's DuckDB mirror).
- query: each dashboard shape's result must equal the same query in
  DuckDB over the parquet files of the table snapshot it read.

Returns a list of failure messages; empty means correct.
"""

QUERIES = {
    "top_pods": """
      SELECT local_pod, connection_class, CAST(sum(bytes) AS BIGINT)
      FROM t WHERE direction = $direction
      GROUP BY ALL ORDER BY 3 DESC, 1, 2 LIMIT 20""",
    "last_10m": """
      SELECT connection_class, direction, count(*), CAST(sum(bytes) AS BIGINT),
        CAST(sum(packets) AS BIGINT)
      FROM t WHERE interval_start >= CAST($from AS TIMESTAMP)
        AND interval_start < CAST($to AS TIMESTAMP)
      GROUP BY ALL ORDER BY 1, 2""",
    "pod_flows": """
      SELECT remote_pod,
        concat_ws('.', (remote_ip >> 24) & 255, (remote_ip >> 16) & 255,
          (remote_ip >> 8) & 255, remote_ip & 255) AS ip,
        CAST(sum(bytes) AS BIGINT) AS b, CAST(sum(packets) AS BIGINT)
      FROM t WHERE local_pod = $pod
      GROUP BY ALL ORDER BY b DESC, remote_pod, ip LIMIT 50""",
    "class_daily": """
      SELECT connection_class, direction,
        CAST(epoch(date_trunc('hour', interval_start)) AS BIGINT) AS h,
        CAST(sum(bytes) AS BIGINT), CAST(sum(packets) AS BIGINT)
      FROM t WHERE CAST(date AS VARCHAR) = $date
      GROUP BY ALL ORDER BY 1, 2, 3""",
}
# columns of the Spark result compared (top_pods also returns a
# formatReadableSize string, which has no DuckDB spelling)
WIDTH = {"top_pods": 3}


def connect(dims):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4; SET TimeZone = 'UTC'")
    for name in ("customer", "supplier", "part"):
        con.execute(f"CREATE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{dims}/{name}.parquet/*.parquet')")
    return con


# FlowSql keeps the longest prefix per flow_id, which assumes one
# observation per flow id; here a connection id recurs in every dump it
# lives through, so the top-1 is taken per observation (flow id, dump).
LPM_KEY = "PARTITION BY l.flow_id"


def per_observation(flow_sql):
    if flow_sql.count(LPM_KEY) != 1:
        raise ValueError("FlowSql no longer has exactly one LPM top-1 key")
    return flow_sql.replace(LPM_KEY, LPM_KEY + ", l.ts")


def check_sums(con, flow_sql, c):
    files = ", ".join(f"'{g}'" for g in c["events"])
    con.execute("CREATE OR REPLACE VIEW events AS SELECT event_id, user_id,"
                f" CAST(ts AS TIMESTAMP) AS ts FROM read_parquet([{files}],"
                " hive_partitioning = false)")
    want = con.execute(
        f"{per_observation(flow_sql)} SELECT CAST(date AS VARCHAR), connection_class, direction,"
        " CAST(sum(bytes) AS BIGINT), CAST(sum(packets) AS BIGINT),"
        " CAST(sum(n_obs) AS BIGINT) FROM summed GROUP BY ALL ORDER BY ALL"
    ).fetchall()
    got = [tuple(r) for r in c["sums"]]
    if got != [tuple(r) for r in want]:
        return [f"{c['table']} table sums differ from DuckDB: "
                f"got {got[:3]}..., want {want[:3]}..."]
    return []


def check_query(con, c):
    files = ", ".join("'" + f.removeprefix("file:") + "'" for f in c["files"])
    con.execute("CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet("
                f"[{files}], hive_partitioning = true)")
    want = con.execute(QUERIES[c["shape"]], c["params"]).fetchall()
    w = WIDTH.get(c["shape"])
    got = [tuple(r[:w]) for r in c["rows"]]
    want = [tuple("" if v is None else str(v) for v in r) for r in want]
    if got != want:
        return [f"query {c['shape']} {c['params']} differs from DuckDB: "
                f"got {got[:2]}..., want {want[:2]}..."]
    return []


def run_checks(dims, flow_sql, checks):
    """Failure messages over every recorded check, plus one for each
    query shape never checked."""
    con = connect(dims)
    failures = []
    for c in checks:
        try:
            failures += (check_sums(con, flow_sql, c) if c["kind"] == "sums"
                         else check_query(con, c))
        except Exception as e:  # a check that cannot run is a failure
            failures.append(f"{c['kind']} check error: {e}")
    shapes = {c["shape"] for c in checks if c["kind"] == "query"}
    failures += [f"query {s} never checked" for s in QUERIES if s not in shapes]
    con.close()
    return failures
