"""Seeded inputs for one benchmark run, written as parquet with DuckDB.

Conntrack traffic: every node agent dumps its connection table every
DUMP_SECONDS; a connection is observed in every dump while it lives, and
lifetimes are heavy-tailed (Pareto, capped), so one connection recurs
across dumps and the minute-grain summing collapses observations as it
does on a real cluster. Observations are (event_id = connection id,
user_id = agent, ts = dump instant) rows, the input that
`SyntheticFlows.flowsFromEvents` derives flow tuples from and that
`FlowSql` mirrors in DuckDB. Random draws are hashes of (seed, connection
index), so the same seed always gives the same files.

Where the parameters come from:
- DUMP_SECONDS = 5 is the reference agent's default collection interval
  (`collectionInterval`, SURVEY.md section 6).
- AGENTS = 19 follows from the generator: `flowsFromEvents` puts an
  agent's pods on node-(user_id % 20), and node-0 is not in the node
  snapshot.
- ALPHA, MAX_LIFE_DUMPS and the arrivals per dump (run.py) are not taken
  from a measurement. They are assumptions: a heavy tail that makes
  connections recur across dumps, and sizes that fit the run budget.
"""
import os

AGENTS = 19
DUMP_SECONDS = 5
ALPHA = 1.2
MAX_LIFE_DUMPS = 240
EPOCH_SECONDS = 1767225600  # 2026-01-01T00:00:00Z, dump 0
U40 = 1 << 40


def id_base(seed):
    # flowsFromEvents multiplies ids by 32-bit constants: keep ids < 2^30
    return 1_000_000 + (seed * 7919) % 500_000_000


def observations_sql(seed, arrivals, first, until):
    """Observations of dumps [first, until) at `arrivals` new connections
    per dump (cluster-wide); connections that started up to
    MAX_LIFE_DUMPS before `first` are included, so the first dump already
    sees the steady-state population. Column k is the dump index."""
    lo = (first - MAX_LIFE_DUMPS) * arrivals
    hi = until * arrivals
    base = id_base(seed) + MAX_LIFE_DUMPS * arrivals
    return f"""
      WITH c AS (
        SELECT i,
          CAST(floor(i / {arrivals}.0) AS BIGINT) AS start,
          CAST(least({MAX_LIFE_DUMPS}, floor(pow(
            (hash(i, {seed}, 1) % {U40} + 1) / {float(U40)}, -1.0 / {ALPHA})))
            AS BIGINT) AS life,
          CAST(1 + hash(i, {seed}, 2) % {AGENTS} AS BIGINT) AS agent
        FROM range({lo}, {hi}) t(i)
      ), live AS (
        SELECT i, agent, greatest(start, {first}) AS a,
          least(start + life, {until}) AS b
        FROM c WHERE least(start + life, {until}) > greatest(start, {first})
      )
      SELECT {base} + i AS event_id, agent AS user_id,
        unnest(range(a, b)) AS k
      FROM live"""


def ts_of(k):
    return f"to_timestamp({EPOCH_SECONDS} + {k} * {DUMP_SECONDS})"


def write(con, path, sql):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def write_dims(con, seed, d):
    """Informer snapshots as the customer/supplier/part tables that
    SyntheticFlows.pods/nodes/prefixes read: 15,000 pods, 1,000 nodes,
    20,000 fine prefixes (plus 500 coarse ones)."""
    segs = "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
    write(con, f"{d}/customer.parquet/part-0.parquet",
          f"SELECT i AS c_custkey, {segs}[CAST(hash(i, {seed}, 3) % 5 AS INT) + 1]"
          f" AS c_mktsegment FROM range(1, 15001) t(i)")
    write(con, f"{d}/supplier.parquet/part-0.parquet",
          "SELECT i AS s_suppkey FROM range(1, 1001) t(i)")
    write(con, f"{d}/part.parquet/part-0.parquet",
          "SELECT i AS p_partkey FROM range(1, 20001) t(i)")


def write_corpus(con, path, seed, arrivals, dumps, slices):
    """Observations of dumps [0, dumps), one parquet directory per append
    slice; returns their number."""
    con.execute("CREATE OR REPLACE TABLE corpus AS " + observations_sql(
        seed, arrivals, 0, dumps))
    per = -(-dumps // slices)
    for s in range(slices):
        write(con, f"{path}/slice={s}/part-0.parquet",
              f"SELECT event_id, user_id, {ts_of('k')} AS ts FROM corpus"
              f" WHERE k >= {s * per} AND k < {(s + 1) * per}")
    return con.execute("SELECT count(*) FROM corpus").fetchone()[0]


def write_stream(con, d, seed, w):
    """One file per (tick, agent) for the live stream, which continues
    the corpus's timeline: staging/tick-T/dump-T-A.parquet."""
    dumps = w["corpus_dumps"]
    ticks = w["warm_ticks"] + w["ticks"]
    con.execute("CREATE TABLE live AS " + observations_sql(
        seed + 1, w["stream_arrivals"], dumps, dumps + ticks))
    staging = f"{d}/staging"
    os.makedirs(d, exist_ok=True)
    con.execute(
        f"COPY (SELECT event_id, user_id, {ts_of('k')} AS ts, k - {dumps} AS tick,"
        f" user_id AS agent FROM live) TO '{staging}'"
        f" (FORMAT PARQUET, PARTITION_BY (tick, agent))")
    for t in range(ticks):
        os.makedirs(f"{staging}/tick-{t:05d}")
        for a in range(1, AGENTS + 1):
            part = f"{staging}/tick={t}/agent={a}"
            name = f"{staging}/tick-{t:05d}/dump-{t:05d}-{a:02d}.parquet"
            if os.path.isdir(part):
                (f,) = os.listdir(part)
                os.rename(f"{part}/{f}", name)
            else:  # an agent that saw no connection still dumps
                write(con, name, f"SELECT event_id, user_id, {ts_of('k')} AS ts"
                                 " FROM live WHERE false")


def write_all(work, seed, w):
    """Dims, the backfill corpus, its first `warm_dumps` dumps as the
    warm-up corpus and, in traced runs, the live stream's dumps. Returns the number of raw observations in the corpus."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4; SET TimeZone = 'UTC'")
    write_dims(con, seed, f"{work}/dims")
    dumps, slices = w["corpus_dumps"], w["appends"]
    write_corpus(con, f"{work}/ingest/warm_corpus", seed, w["corpus_arrivals"],
                 w["warm_dumps"], slices)
    raw = write_corpus(con, f"{work}/ingest/corpus", seed, w["corpus_arrivals"],
                       dumps, slices)
    if int(w["trace"]):  # the stream runs in traced runs only
        write_stream(con, f"{work}/stream", seed, w)
    con.close()
    return raw
