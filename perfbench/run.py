#!/usr/bin/env python3
"""graft's benchmark: one workload on one seed, end to end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch --seed 42 --seconds 8 --trace 0

Workloads and their jobs are in perfbench/config.json. The script

1. builds graft and the harness with sbt (once per source state; the
   classpath is cached under perfbench/target),
2. writes the seeded inputs: every base table's rows in a seeded order
   and with seeded row-group sizes, so content stays fixed while the
   file layout changes,
3. runs the harness JVM (perfbench/src) on them in a fresh run
   directory,
4. checks every output: oracle-paired jobs against DuckDB through
   tools/check.py's normalisation and hash, the rest on rows and
   schema, stream heads against their batch twins (in the harness),
5. prints one human line per metric, then the result as one JSON line.

With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer ones. Every run is also appended to
perfbench/.work/results.jsonl, which perfbench/ab.py compares.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
DEADLINE_S = 175.0
BUILD_DEADLINE_S = 850.0
# timed passes of a batch run: a fixed count, so pass_s is always the
# median of as many. Three take about 20 s on a 4-core machine; five
# read the same spread across seeds there, which comes from run to run,
# not from pass to pass
BATCH_PASSES = 3


def load_json(path):
    if not os.path.exists(path):
        die(f"{os.path.relpath(path, ROOT)} is missing")
    with open(path) as f:
        return json.load(f)


def metric_names(bench, kind):
    """(name, unit) of every `end_to_end` or `per_layer` metric in
    BENCHMARK.json, the one list of the metrics a run reports."""
    return [(m["name"], m["unit"]) for m in bench[kind]]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(deadline):
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]:
        if not os.path.exists(p):
            die(f"no graft sources next to the benchmark ({p} is missing)")
    stamp = source_stamp()
    launch = os.path.join(TARGET, "launch.txt")
    stamp_file = os.path.join(TARGET, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return read_launch(launch)
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    rc = run_bounded(cmd, BENCH, deadline - time.time(), sys.stderr)
    if rc != 0 or not os.path.exists(launch):
        die(f"build failed (sbt exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f]
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def run_bounded(cmd, cwd, timeout, out, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    if timeout <= 0:
        return -1
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, env=env)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        return -1


# ---------------------------------------------------------------- inputs

def generate(cfg, seed):
    """Seeded copy of the base tables; returns (dir, fingerprint, seconds)."""
    import numpy as np
    import pyarrow.parquet as pq

    t0 = time.time()
    base = os.path.join(BENCH, cfg["base_data"])
    out = os.path.join(WORK, "inputs", str(seed))
    marker = os.path.join(out, "FINGERPRINT")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, f.read().strip(), time.time() - t0
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    h = hashlib.sha256()
    for i, name in enumerate(sorted(os.listdir(base))):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(base, name))
        rng = np.random.default_rng([seed, i])
        n = table.num_rows
        table = table.take(rng.permutation(n))
        group = int(rng.integers(max(1, n // 8), n + 1)) if n > 1 else 1
        dst = os.path.join(tmp, name)
        pq.write_table(table, dst, row_group_size=group)
        with open(dst, "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    fp = h.hexdigest()
    with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
        f.write(fp + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, fp, time.time() - t0


# ---------------------------------------------------------------- checks

def check_outputs(cfg, report, data, seed, fingerprint):
    """Wrong outputs as [(job, reason)]."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave tools/ as checked out
    import check as oracle  # tools/check.py: the correctness gate's normalisation and hash
    import duckdb

    cache_path = os.path.join(WORK, "oracle_cache.json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(data, t)}')")
    wrong = []
    expected = cfg.get("expected_rows_schema", {})
    for c in report.get("checks", []):
        job, kind, path = c["job"], c["check"], c["path"]
        if not os.path.isdir(path):
            wrong.append((job, "no output"))
            continue
        got = oracle.table_hash(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        if kind.startswith("oracle:"):
            sql = report["oracle_sql"][kind.split(":", 1)[1]]
            key = hashlib.sha256(f"{seed}|{fingerprint}|{sql}".encode()).hexdigest()
            if key not in cache:
                n, cols, digest = oracle.table_hash(con, sql)
                cache[key] = [n, cols, digest]
            want = tuple(cache[key][0:1]) + (list(cache[key][1]), cache[key][2])
            if (got[0], list(got[1]), got[2]) != want:
                wrong.append((job, f"oracle mismatch: rows {got[0]}/{want[0]}, "
                                   f"schema {list(got[1]) == want[1]}, hash {got[2] == want[2]}"))
        else:
            want = expected.get(job)
            if want is None:
                wrong.append((job, f"no expected rows/schema (got rows={got[0]} cols={list(got[1])})"))
            elif [got[0], list(got[1])] != [want["rows"], want["columns"]]:
                wrong.append((job, f"rows/schema {got[0]} {list(got[1])} != {want}"))
    tmp = cache_path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_path)
    return wrong


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """The q-quantile of xs; None when xs is empty."""
    xs = sorted(xs)
    if len(xs) <= 1:
        return xs[0] if xs else None
    return statistics.quantiles(xs, n=100, method="inclusive")[int(round(q * 100)) - 1]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def end_to_end(report):
    """(metrics, sample counts) from the harness report.

    A batch pass runs every job once; pass_s is the median pass. A
    stream pass drains every head's fixed backlog once; pass_s sums the
    heads' median drains. The same lines also give request latencies,
    which are printed but not gated: a request is one batch job (its
    median over the passes; the tail is the slowest job) or one offered
    stream row (the tail is the 90th percentile: rows of one micro-batch
    share its end, so the few dozen batches support no higher one). On
    a shared 4-core machine their spread across seeds reached 0.25 of
    the median, the widest bound the benchmark may set.

    A metric with no sample (a head that failed before draining, a
    workload whose every job failed) is None: the run is then not
    correct, and the result says so rather than giving a number."""
    m, n = {}, {}
    m["setup_s"], n["setup_s"] = report["setup_s"], 1
    if report["workload"] == "stream_ingest":
        heads = report["heads"]
        lat = [x for h in heads for x in h["latencies_ms"]]
        drains = [median(h["drain_s"]) for h in heads]
        m["pass_s"] = None if None in drains else sum(drains)
        n["pass_s"] = sum(len(h["drain_s"]) for h in heads)
        m["stream_rps"] = sum(h["drain_rows"] for h in heads) / m["pass_s"] if m["pass_s"] else None
        m["tail_ms"] = quantile(lat, 0.9)
        heap = [report["heap_after_gc_mib"]]
    else:
        passes = [p for p in report["passes"] if not p["traced"]]
        m["pass_s"], n["pass_s"] = median(p["pass_s"] for p in passes), len(passes)
        per_job = {}
        for p in passes:
            for j in p["jobs"]:
                if j["ok"]:
                    per_job.setdefault(j["name"], []).append(1e3 * (j["build_s"] + j["execute_s"]))
        lat = [statistics.median(v) for v in per_job.values()]
        m["tail_ms"] = max(lat) if lat else None
        heap = [p["heap_after_gc_mib"] for p in passes]
    m["p50_ms"] = quantile(lat, 0.5)
    n["p50_ms"] = n["tail_ms"] = len(lat)
    m["mem_peak_mib"], n["mem_peak_mib"] = (max(heap) if heap else None), len(heap)
    return m, n


def per_layer(names, report):
    """Per-layer values for `names`; a layer this workload does not
    touch reads 0. Warns of a metric the trace gives that BENCHMARK.json
    does not list, so the list cannot drift from the harness."""
    m = {k: 0.0 for k, _ in names}
    layers = dict(report.get("layers", {}))
    layers["session.build_s"] = report["session_build_s"]
    layers["warm.pass_s"] = report["warm_pass_s"]
    # op.<module>_s: the time of the jobs each module contributes
    module = {j["name"]: j["module"] for j in report.get("jobs", [])}
    for job, mod in module.items():
        op = f"op.{mod}_s"
        layers[op] = layers.get(op, 0.0) + (layers.get(f"job.{job}_s") or 0.0)
    unlisted = sorted(k for k in layers if k not in m)
    if unlisted:
        print(f"perfbench: traced metrics missing from BENCHMARK.json: {', '.join(unlisted)}",
              file=sys.stderr)
    for k in m:
        if k in layers:
            m[k] = layers[k]
    heads = report.get("heads", [])
    if heads:
        def mean(key):
            xs = [x for h in heads for x in h[key]]
            return statistics.fmean(xs) if xs else 0.0
        m["stream.batches"] = sum(h["batches"] for h in heads)
        m["stream.add_batch_ms"] = mean("add_batch_ms")
        m["stream.plan_ms"] = mean("plan_ms")
        m["stream.wal_ms"] = mean("wal_ms")
        m["stream.state_commit_ms"] = mean("state_commit_ms")
        m["stream.state_rows"] = sum(h["state_rows"] for h in heads)
        m["stream.state_mib"] = sum(h["state_bytes"] for h in heads) / 1048576.0
        m["stream.backlog_rows"] = sum(h["drain_rows"] for h in heads)
        late = report["loadgen_late_ms"]
        m["loadgen.late_ms"] = quantile(late, 0.99) if late else 0.0
        lat = [x for h in heads for x in h["latencies_ms"]]
        m["stream.p50_ms"], m["stream.p90_ms"] = quantile(lat, 0.5), quantile(lat, 0.9)
    return m


# ---------------------------------------------------------------- main

def main():
    # a terminated run must still stop the JVM and sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    cfg = load_json(os.path.join(BENCH, "config.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if a.workload not in cfg["workloads"]:
        die(f"unknown workload {a.workload}; known: {', '.join(cfg['workloads'])}")
    w = cfg["workloads"][a.workload]
    first = not os.path.exists(os.path.join(TARGET, "launch.txt"))
    cp, jvm_opts = build(t_start + (BUILD_DEADLINE_S if first else DEADLINE_S))
    t_built = time.time()
    data, fingerprint, gen_s = generate(cfg, a.seed)

    nproc = len(os.sched_getaffinity(0))
    stream = a.workload == "stream_ingest"
    cores = max(1, nproc - 1) if stream else nproc
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    props = dict(cfg["session"]["overrides"])
    # a fresh warehouse: co-order layouts and banding verdicts written by
    # an earlier run are never read by this one
    props["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    props["spark.local.dir"] = os.path.join(run_dir, "local")
    cmd = [java, f"-Xmx{cfg['heap']}", f"-Xms{cfg['heap']}"] + jvm_opts
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--data", data, "--out", run_dir,
            "--trace", str(a.trace), "--cores", str(cores)]
    # --seconds sets the heads' offered phases; a batch run makes
    # BATCH_PASSES passes
    if stream:
        cmd += ["--heads", ",".join(f"{h['name']}:{h['rate_rps']}:{h['backlog_rows']}:{h['chunk_rows']}"
                                    for h in w["heads"]),
                "--offered_s", str(w["offered_share"] * a.seconds / len(w["heads"])),
                "--drains", str(w["drains"]), "--warm_offered_s", str(w["warm_offered_s"])]
    else:
        cmd += ["--jobs", ",".join(w["jobs"]),
                "--passes", str(BATCH_PASSES)]
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        rc = run_bounded(cmd, ROOT, t_built + DEADLINE_S - 10 - time.time(), log)
    report_path = os.path.join(run_dir, "harness.json")
    if rc != 0 or not os.path.exists(report_path):
        with open(log_path) as f:
            tail = f.readlines()[-20:]
        sys.stderr.write("".join(tail))
        die(f"harness exited with {rc}", 4)
    with open(report_path) as f:
        report = json.load(f)

    wrong = check_outputs(cfg, report, data, a.seed, fingerprint)
    failures = report["failures"]
    attempted = int(report["attempted"]) + len(report.get("checks", []))
    failed = len(failures) + len(wrong)
    for f_ in failures:
        print(f"FAILED {f_['job']} ({f_['phase']}): {f_['error']}")
    for job, why in wrong:
        print(f"WRONG {job}: {why}")

    if a.trace:
        names = metric_names(bench, "per_layer")
        values = per_layer(names, report)
        counts = {}
    else:
        names = metric_names(bench, "end_to_end")
        values, counts = end_to_end(report)
    missing = [k for k, _ in names if values.get(k) is None]
    for k in missing:
        print(f"NO VALUE {k}: no sample was measured")
    metrics = {k: {"value": values.get(k), "unit": u} for k, u in names}
    box0, box1 = report["box_start"], report["box_end"]
    idle = 0 <= box0["load1"] < 0.25 * box0["nproc"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={cores} inputs={gen_s:.2f}s "
          f"load1={box0['load1']:.2f}->{box1['load1']:.2f} mem_available={box0['mem_available_mib']}MiB "
          f"nproc={box0['nproc']} idle={idle} error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    shown = [(k, u) for k, u in names if not a.trace or values[k]]
    # request latencies and the drain rate are shown for reading, not gated
    shown += [(k, u) for k, u in [("p50_ms", "ms"), ("tail_ms", "ms"), ("stream_rps", "1/s")]
              if k in values]
    for k, u in shown:
        extra = f"  n={counts[k]}" if k in counts else ""
        v = "none" if values[k] is None else f"{values[k]:.4f}"
        print(f"#   {k:<40} {v:>14} {u}{extra}")
    result = {"correct": failed == 0 and not missing, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "box": {"start": box0, "end": box1, "idle": idle},
                            "samples": counts, **result}) + "\n")
    # keep the report, the span tree and the log; drop the bulky rest
    for d in ["local", "results"] + [x for x in os.listdir(run_dir)
                                                    if x.startswith(("warehouse", "stream_"))]:
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
