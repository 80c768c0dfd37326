#!/usr/bin/env python3
"""kubenetmon benchmark: one run of one workload.

    python3 netbench/run.py --workload backfill --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the library and the benchmark from
source into .bench_build/ (cached by source hash), writes the seeded
inputs with DuckDB while the JVM starts, runs the backfill, stream and
dashboard (see README.md), checks the outputs against DuckDB, prints one
self-describing record line and, last, the result line. --trace 1 reports per-layer
metrics instead of end-to-end ones. Exits non-zero when an operation
failed, a check failed or a percentile lacks samples.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402

CORES = 2
XMX = "3g"
DEADLINE_S = 170

# Every phase runs in every workload (so every run reports every
# end-to-end metric); the workload sets how much work the backfill and
# the dashboard get. BENCHMARK.json says why each workload exists.
COMMON = dict(corpus_dumps=24, warm_dumps=3, appends=1, passes=2,
              stream_arrivals=150, warm_ticks=1, ticks=3, tick_ms=6000)
WORKLOADS = {
    "backfill": dict(corpus_arrivals=500, queries=40),
    "dashboard": dict(corpus_arrivals=300, queries=40),
}
# the class-data-sharing run: every phase at toy sizes
CDS_RUN = dict(corpus_arrivals=100, passes=1, queries=8, ticks=2, tick_ms=200)
# one garbage-collector thread and the fewest JIT compiler threads:
# fewer threads that spin for CPU while the hypervisor runs other guests
GC_JIT = ["-XX:+UseSerialGC", "-XX:CICompilerCount=2"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("netbench: set SPARK_HOME to a Spark install")
    return os.path.join(home, "jars")


def sources(root):
    main = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return main, bench


def build(root):
    """Compile the library and the benchmark with the Scala compiler that
    ships in Spark's jars, into one jar, and record a class-data-sharing
    archive from a short run so that every measured JVM starts with those
    classes already parsed. Cached under .bench_build by source hash."""
    main, bench = sources(root)
    if not main:
        sys.exit("netbench: no src/main/scala here; run from the repository root")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = f"{root}/.bench_build/netbench-{h.hexdigest()[:16]}"
    if os.path.exists(f"{out}/ok"):
        return out, h.hexdigest()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/classes")
    subprocess.run(["java", "-Xmx3g", "-Xss16m", "-cp", f"{spark_jars()}/*",
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                    "-d", f"{out}/classes"] + main + bench,
                   check=True, stdout=sys.stderr)
    res = f"{root}/src/main/resources"
    if os.path.isdir(res):
        shutil.copytree(res, f"{out}/classes", dirs_exist_ok=True)
    # class-data sharing needs jars on the class path, not directories
    with zipfile.ZipFile(f"{out}/netbench.jar", "w") as z:
        for d, _, files in os.walk(f"{out}/classes"):
            for f in files:
                z.write(f"{d}/{f}", os.path.relpath(f"{d}/{f}", f"{out}/classes"))
    shutil.rmtree(f"{out}/classes")
    work = f"{root}/.bench_work/cds-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = dict(COMMON, **CDS_RUN, workload="cds", seed=0, seconds=1, trace=0,
                    work=work, out=f"{work}/result.json", cores=CORES,
                    launch_ms=int(time.time() * 1000))
        code, _ = run_jvm(out, work, conf, time.time(),
                          [f"-XX:ArchiveClassesAtExit={out}/classes.jsa"])
        if code != 0:
            sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
            sys.exit(f"netbench: class-data-sharing run exited with {code}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    open(f"{out}/ok", "w").close()
    return out, h.hexdigest()


def git_sha(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(build_dir, work, conf, launch_s, jvm_flags):
    """Start the JVM, write the inputs meanwhile, wait for the JVM."""
    args = ["java"] + [x for p in JVM_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    args += jvm_flags + GC_JIT + [
        f"-Xmx{XMX}", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", f"{build_dir}/netbench.jar:{spark_jars()}/*", "netbench.Main"]
    args += [f"{k}={v}" for k, v in conf.items()]
    os.makedirs(f"{work}/tmp")
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(args, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            t = time.time()
            raw = inputs.write_all(work, int(conf["seed"]), conf)
            inputs_s = time.time() - t
            with open(f"{work}/raw_rows", "w") as f:
                f.write(str(raw))
            open(f"{work}/inputs.ready", "w").close()
            p.wait(timeout=max(1, DEADLINE_S - (time.time() - launch_s)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return p.returncode, inputs_s


def cpu_times():
    """The machine's (busy, steal) CPU jiffies from /proc/stat: the steal
    share of a run says how much of it the hypervisor gave to other
    guests. None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4], steal


def steal_share(start, end):
    if start is None or end is None or end[0] == start[0]:
        return None
    return (end[1] - start[1]) / (end[0] - start[0])


def layer_metrics(res, spans, inputs_s):
    """The 36 per-layer metrics of a traced run, and the backfill layer
    check."""
    s, sc = res["samples"], res["scalars"]
    by = {}
    for x in spans:
        by.setdefault(x["name"], []).append(x)
    dur = lambda x: (x["end_ns"] - x["start_ns"]) / 1e9  # noqa: E731

    # the layer split is taken for the last timed pass (op 0 is the
    # untimed warm-up pass)
    last = max(x["op"] for x in by["ingest.pass"])

    def total(name):
        return sum(dur(x) for x in by.get(name, []) if x["op"] == last)

    pre = {k: total(f"flow.prefix_{k}")
           for k in ("filter", "enrich", "classify", "full")}
    raw = sc["ingest.raw_rows"]
    out = {
        "flow.filter_s": pre["filter"],
        "flow.enrich_s": pre["enrich"] - pre["filter"],
        "flow.classify_s": pre["classify"] - pre["enrich"],
        "flow.fanout_agg_s": pre["full"] - pre["classify"],
        "flow.trie_build_s": stats.median([dur(x) for x in by["flow.trie_build"]])[0],
        "flow.shuffle_bytes_per_flow": sum(s["flow.shuffle_bytes"]) / raw,
        "flow.labeled_ratio": sc["flow.labeled_ratio"],
        "flow.collapse_ratio": sc["flow.collapse_ratio"],
        "dims.load_s": stats.median([dur(x) for x in by["dims.load"]])[0],
        "sink.write_s": total("sink.append") - pre["full"],
        "sink.compact_s": total("sink.compact"),
        "sink.files_added_per_commit": sc["sink.files_added_per_commit"],
        "sink.append_txn_s": stats.median([dur(x) for x in by["sink.append_txn"]])[0],
        "sink.log_versions": s["sink.log_versions"][0],
        "sink.files_read_p50": stats.percentile(s["sink.files_read"], 50)[0],
        "sink.files_pruned_ratio": stats.median(s["sink.files_pruned"])[0],
        "sink.live_files_max": max(s["sink.live_files"]),
        "streaming.trigger_s": stats.median(s["streaming.trigger_s"])[0],
        "streaming.add_batch_s": stats.median(s["streaming.add_batch_s"])[0],
        "streaming.planning_s": stats.median(s["streaming.planning_s"])[0],
        "streaming.offsets_s": stats.median(s["streaming.offsets_s"])[0],
        "streaming.wal_s": stats.median(s["streaming.wal_s"])[0],
        # per dump, grouped by the commit that made it visible; a layer
        # metric, as its run-to-run spread here exceeds any usable bound
        "streaming.freshness_p50_s": stats.grouped_percentile(
            s["freshness_s"], s["freshness_batch"], 50)["value"],
        "streaming.dumps_per_batch": stats.median(s["stream.dumps_per_batch"])[0],
        "streaming.busy_ratio": s["stream.busy_ratio"][0],
        "streaming.backlog_max": s["stream.backlog_max"][0],
        "streaming.generator_lag_s_max": s["stream.generator_lag_s"][0],
        "setup.session_s": sc["setup.session_s"],
        "setup.inputs_s": inputs_s,
    }
    # timed queries only: their spans' children
    ids = {x["id"] for x in by.get("sql.query", [])}
    out["sink.read_plan_s_p50"] = stats.percentile(
        [dur(x) for x in by["sink.read_plan"] if x["parent"] in ids], 50)[0]
    for name in ("translate", "plan", "exec"):
        out[f"sql.{name}_s_p50"] = stats.percentile(
            [dur(x) for x in by[f"sql.{name}"] if x["parent"] in ids], 50)[0]
    # a run has a few dozen queries of each shape: a median, not a p50 claim
    for shape in check.QUERIES:
        out[f"sql.{shape}_s"] = stats.median(s[f"sql.{shape}_s"])[0]
    # The backfill layer check. With sink.write_s = append - run-to-noop,
    # flow + sink self times add up to the pass by construction, so that
    # sum checks nothing. The check instead adds independently timed
    # parts: the full pipeline run to noop, the append of its
    # materialized output, and the compact, over the pass wall time.
    pass_wall = total("ingest.pass")
    independent = (pre["full"] + total("sink.write_materialized")
                   + out["sink.compact_s"])
    check_ = {
        "backfill_pass_wall_s": pass_wall,
        "backfill_write_materialized_s": total("sink.write_materialized"),
        "backfill_independent_layer_share": independent / pass_wall,
        "backfill_identity_layer_share": (pre["full"] + out["sink.write_s"]
                                          + out["sink.compact_s"]) / pass_wall,
        "backfill_write_s_sane": 0 <= out["sink.write_s"] <= pass_wall,
    }
    return out, check_


def stream_load(res):
    """How loaded the stream was, and its freshness; recorded in every
    run."""
    s = res["samples"]
    if "stream.busy_ratio" not in s:
        return None
    try:
        fresh = stats.grouped_percentile(s["freshness_s"], s["freshness_batch"], 50)
    except stats.PercentileRefused as e:
        fresh = {"refused": str(e)}
    return {
        "freshness_p50_s": fresh,
        "busy_ratio": s["stream.busy_ratio"][0],
        "dumps_per_batch_p50": stats.median(s["stream.dumps_per_batch"])[0],
        "batches": len(s["stream.dumps_per_batch"]),
        "backlog_max": s["stream.backlog_max"][0],
        "generator_lag_s_max": s["stream.generator_lag_s"][0],
    }


def end_to_end(res):
    """The end-to-end metrics: CPU time of the JVM, which leaves out the
    time the hypervisor gives other guests (see README.md)."""
    s = res["samples"]
    ing, n_pass = stats.median(s["ingest_flows_per_cpu_s"])
    # The p50 is guarded (p75 >= p50) and recorded but not a metric: the
    # four shapes cost two levels, two cheap and two dear, and with equal
    # counts of each the p50 falls on the gap between them, so it jumps
    # between the levels from run to run. The mean weighs every query.
    qc = s["query_cpu_s"]
    _, q75 = stats.tail_pair(qc, 50, 75)
    return {
        "setup_s": {"value": s["setup_s"][0], "n": 1},
        "ingest_flows_per_cpu_s": {"value": ing, "n": n_pass},
        "table_bytes_per_row": {"value": s["table_bytes_per_row"][0], "n": 1},
        "query_cpu_mean_s": {"value": sum(qc) / len(qc), "n": len(qc)},
        "query_cpu_p75_s": q75,
    }


def wall_times(res):
    """The same measurements in wall time, for the record: on a shared
    host they carry the other guests' load."""
    s = res["samples"]
    q = s["query_s"]
    q50, q75 = stats.tail_pair(q, 50, 75)
    return {
        "ingest_flows_per_s": dict(zip(("value", "n"),
                                       stats.median(s["ingest_flows_per_s"]))),
        "query_mean_s": {"value": sum(q) / len(q), "n": len(q)},
        "query_p50_s": q50, "query_p75_s": q75,
    }


def guarded(f, res):
    try:
        return f(res)
    except stats.PercentileRefused as e:
        return {"refused": str(e)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(f"{root}/BENCHMARK.json") as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    load_start = os.getloadavg()
    build_dir, src_sha = build(root)
    launch_s = time.time()  # a first run also builds; set-up starts here
    cpu_start = cpu_times()
    work = f"{root}/.bench_work/{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = dict(COMMON, **WORKLOADS[a.workload])
    conf.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                trace=a.trace, work=work, out=f"{work}/result.json",
                cores=CORES, launch_ms=int(launch_s * 1000))
    try:
        code, inputs_s = run_jvm(build_dir, work, conf, launch_s,
                                 [f"-XX:SharedArchiveFile={build_dir}/classes.jsa"])
        if code != 0 or not os.path.exists(conf["out"]):
            os.makedirs(f"{root}/.bench_out", exist_ok=True)
            shutil.copy(f"{work}/jvm.log", f"{root}/.bench_out/last-failed-jvm.log")
            with open(f"{work}/jvm.log") as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"netbench: JVM exited with {code}")
        with open(conf["out"]) as f:
            res = json.load(f)
        failures = list(res["errors"])
        failures += check.run_checks(f"{work}/dims", res["flow_sql"], res["checks"])
        try:
            if a.trace:
                metrics, trace_extra = layer_metrics(res, res["spans"], inputs_s)
                metrics = {k: {"value": v} for k, v in metrics.items()}
            else:
                metrics, trace_extra = end_to_end(res), {}
        except stats.PercentileRefused as e:
            failures.append(f"percentile refused: {e}")
            metrics, trace_extra = {}, {}
        load_end = os.getloadavg()
        cpu_end = cpu_times()
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "git_sha": git_sha(root),
            "source_sha256": src_sha, "nproc": os.cpu_count(),
            "master": res["meta"]["master"], "xmx": XMX,
            "spark_version": res["meta"]["spark_version"],
            "load_avg_start": load_start, "load_avg_end": load_end,
            "steal_share": steal_share(cpu_start, cpu_end),
            "attempted": res["attempted"], "failed": res["failed"],
            "failures": failures, "metrics": metrics,
            "phases_s": {k[6:]: v for k, v in res["scalars"].items()
                         if k.startswith("phase.")},
            "stream_load": stream_load(res),
            "wall": guarded(wall_times, res),
            "traced_end_to_end": guarded(end_to_end, res) if a.trace else None,
            **trace_extra,
            "wall_s": time.time() - launch_s,
        }
        out_dir = f"{root}/.bench_out"
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{a.workload}-{a.seed}-{a.trace}"
        with open(f"{out_dir}/{tag}.json", "w") as f:
            json.dump(record, f, indent=1)
        shutil.copy(conf["out"], f"{out_dir}/{tag}.result.json")
        if a.trace:
            with open(f"{out_dir}/{tag}.spans.json", "w") as f:
                json.dump(res["spans"], f)
        print(json.dumps({"record": record}))
        correct = not failures
        print(json.dumps({
            "correct": correct, "attempted": res["attempted"],
            "failed": res["failed"] + (0 if correct or res["failed"] else 1),
            "metrics": {k: {"value": v["value"], "unit": units[k]}
                        for k, v in metrics.items()}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
