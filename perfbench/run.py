#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload batch|stream --seed N \\
      --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt, which compiles graft's main
sources through the root build) when its sources changed, runs one JVM at
local[nproc] over the sf0.01 corpus in perfbench/data, checks every result,
and prints one line per metric followed by one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (listeners registered). The full report of each run, with
the pass curve, the environment, tracing overhead and the counter census,
is written to <build dir>/perfbench/results/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.01"
# A byte-for-byte copy of the repository's sf0.01 test corpus (TESTDATA.md).
DATA_DIR = os.path.join(HERE, "data", f"sf{SCALE}")
JVM_TIMEOUT_S = 165
HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = [
    ("setup_s", "s"), ("first_pass_s", "s"), ("warm_pass_s", "s"),
    ("op_p50_ms", "ms"), ("op_tail_ms", "ms"), ("peak_rss_mb", "MB"),
]


def declared():
    """The metric names BENCHMARK.json declares, end-to-end and per-layer;
    None for either list when the file is absent (print every metric)."""
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(p):
        return None, None
    b = json.load(open(p))
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT if not os.path.isabs(d) else "", d, "perfbench")


def tree_hash(patterns):
    h = hashlib.sha256()
    for pat in patterns:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


SOURCES = ["build.sbt", "project/build.properties", "src/main/**/*",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/**/*"]


def build(out):
    """Compiles the harness and graft when their sources changed; returns
    the runtime classpath."""
    stamp = tree_hash(SOURCES)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=840)
    lf_tail = r.stdout.strip().splitlines()
    with open(log, "a") as lf:
        lf.write(r.stdout)
    if r.returncode != 0 or not lf_tail:
        fail(f"build failed (see {log})")
    cp = lf_tail[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it
    (never below the median), its value and the sample count. Pass and
    chunk counts are fixed per workload, so the percentile is too."""
    n = len(xs)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n else 50
    return pct, quantile(xs, pct / 100), n


def oracle_check(data_dir, check_dir, names):
    """Each query's check-pass output against its DuckDB oracle SQL:
    column names, row count, and the multiset of rows with floats
    rounded to 1e-6, normalised as tools/diffcheck.py does. Returns
    {query: None or the mismatch}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from diffcheck import norm_rows
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    out = {}
    for name in names:
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:  # an unreadable output or oracle error is a failure
            out[name] = f"error: {e}"[:300]
            continue
        if sorted(gcols) != sorted(ecols):
            out[name] = f"columns {sorted(gcols)} != {sorted(ecols)}"
        elif len(grows) != len(erows):
            out[name] = f"rows {len(grows)} != {len(erows)}"
        elif norm_rows(gcols, grows) != norm_rows(ecols, erows):
            out[name] = "row values differ"
        else:
            out[name] = None
    return out


def end_to_end(res):
    body = res["body"]
    m = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"]}
    passes = body["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    first = next(p for p in passes if p["kind"] == "first")
    m["first_pass_s"] = first["total_s"]
    # A steady pass: each query's (or op's) median over the timed passes,
    # summed, so one slow sample of one query cannot move it.
    items = "legs" if res["workload"] == "stream" else "queries"
    name = "op" if res["workload"] == "stream" else "query"
    value = "seconds" if res["workload"] == "stream" else "s"
    per, cls = {}, {}
    for p in timed:
        for x in p[items]:
            cls[x[name]] = x.get("class")
            if x["error"] is None:
                per.setdefault(x[name], []).append(x[value])
    m["warm_pass_s"] = sum(statistics.median(v) for v in per.values())
    extra = {"pass_curve_s": [[p["kind"], p["total_s"]] for p in passes]}
    if res["workload"] == "stream":
        legs = [leg for p in timed for leg in p["legs"] if leg["error"] is None]
        opened = [leg for p in passes if p["kind"] == "open" for leg in p["legs"]]
        lat = [x for leg in opened for x in leg["latency_ms"]]
        rates = {}
        for leg in legs:
            rates.setdefault(leg["op"], []).append(leg["rows_per_s"])
        cap = {op: statistics.median(v) for op, v in rates.items()}
        extra["stream_rows_per_s"] = math.exp(
            statistics.fmean(math.log(v) for v in cap.values())) if cap else float("nan")
        extra["stream_rows_per_s_by_op"] = cap
        pct, val, n = tail(lat)
        extra["event_latency_p50_ms"] = statistics.median(lat) if lat else float("nan")
        extra["event_latency_tail_ms"] = val
        extra["offered_rows_per_s"] = body["offered_rows_per_s"]
        m["op_p50_ms"] = extra["event_latency_p50_ms"]
    else:
        lat = [q["s"] * 1000 for p in timed for q in p["queries"] if q["error"] is None]
        pct, val, n = tail(lat)
        extra["query_p50_s"] = statistics.median(lat) / 1000 if lat else float("nan")
        extra["class_warm_pass_s"] = {
            c: sum(statistics.median(v) for q, v in per.items() if cls[q] == c)
            for c in sorted(set(cls.values()))}
        extra["query_tail_s"] = val / 1000
        m["op_p50_ms"] = statistics.median(lat) if lat else float("nan")
    m["op_tail_ms"] = val
    extra["tail_percentile"] = pct
    extra["tail_samples"] = n
    return m, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"{ROOT} holds no graft sources to benchmark")

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp = build(out)
    data_dir = DATA_DIR
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data_dir, "--out", run_dir,
            "--cores", str(cores)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log})")
    result_file = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        fail(f"JVM exited with {proc.returncode}")
    res = json.load(open(result_file))

    attempted, errors = res["attempted"], list(res["errors"])
    body = res["body"]
    checks = {}
    if a.workload != "stream":
        checks = oracle_check(data_dir, body["check_dir"], body["checked"])
        attempted += len(checks)
        errors += [f"check {q}: {e}" for q, e in checks.items() if e]
    failed = len(errors)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": dict(res["env"], sf_dir=os.path.relpath(DATA_DIR, ROOT),
                    commit=source_commit(), source_hash=tree_hash(SOURCES)[:16]),
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "errors": errors[:50], "oracle_checks": checks,
        "stream_checks": res["stream_checks"],
        "claim": None,
    }
    e2e, extra = end_to_end(res)
    report["end_to_end"] = e2e
    report.update(extra)
    report["body"] = body

    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{a.workload}-seed{a.seed}"
    e2e_names, per_layer_names = declared()
    if a.trace:
        layers = res["layers"]
        metrics = dict(layers["median"])
        metrics.update(stream_layers(body) if a.workload == "stream" else
                       {"streaming.backlog_chunks": 0.0, "streaming.generator_lag_ms": 0.0})
        report["per_layer"] = metrics
        report["layers"] = {k: v for k, v in layers.items() if k != "median"}
        report["tracing_overhead"] = overhead(results, a.workload, a.seed, cores, e2e)
        report["census_across_runs"] = census(results, key, cores, layers["census"])
        spans = layers["spans"]
        report["span_checks"] = {k: spans[k] for k in
                                 ("self_nonnegative", "self_sum_within_wall",
                                  "self_sum_ms", "concurrent_ms", "workload_wall_ms",
                                  "children_outside_parent", "outside_parent_ms")}
        shutil.copy(spans["file"], os.path.join(results, f"{key}-spans.json"))
        unit = lambda k: ("ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes")
                          else "MB" if k.endswith("_mb") else "ratio"
                          if k.endswith(("_ratio", "_util")) else "count")
        printed = {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())
                   if per_layer_names is None or k in per_layer_names}
    else:
        printed = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END
                   if e2e_names is None or k in e2e_names}
    with open(os.path.join(results, f"{key}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    for k in ("error_rate",):
        print(f"{k} {report[k]:.4f} ratio ({failed}/{attempted})")
    for k, u in END_TO_END:
        print(f"{k} {e2e[k]:.4f} {u}")
    for k in ("query_p50_s", "query_tail_s", "stream_rows_per_s",
              "event_latency_p50_ms", "event_latency_tail_ms"):
        if k in report:
            print(f"{k} {report[k]:.4f} " + ("rows/s" if k.endswith("_per_s") else
                                             "s" if k.endswith("_s") else "ms"))
    print(f"tail = p{report['tail_percentile']} over {report['tail_samples']} samples; "
          f"passes (s): " + ", ".join(f"{k}={v:.2f}" for k, v in report["pass_curve_s"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": printed}))


def stream_layers(body):
    """The generator's side of the open-loop segments."""
    legs = [leg for p in body["passes"] if p["kind"] == "open" for leg in p["legs"]]
    lags = [x for leg in legs for x in leg["generator_lag_ms"]]
    return {"streaming.backlog_chunks": float(max((leg["backlog_chunks"] for leg in legs),
                                                  default=0)),
            "streaming.generator_lag_ms": statistics.median(lags) if lags else 0.0}


def source_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def overhead(results, workload, seed, cores, traced):
    """Traced minus untraced, per end-to-end metric, against the latest
    untraced run of this workload on the same core count (same seed when
    there is one)."""
    cands = [json.load(open(p)) for p in glob.glob(os.path.join(results, f"{workload}-seed*-trace0.json"))]
    cands = [c for c in cands if c["env"]["cores"] == cores]
    if not cands:
        return {"baseline": None, "note": "no untraced run of this workload on this core count yet"}
    same = [c for c in cands if c["seed"] == seed]
    base = (same or cands)[0]
    return {"baseline_seed": base["seed"],
            "delta": {k: traced[k] - base["end_to_end"][k] for k, _ in END_TO_END},
            "ratio": {k: traced[k] / base["end_to_end"][k] for k, _ in END_TO_END
                      if base["end_to_end"][k]}}


def census(results, key, cores, in_run):
    """Which per-layer counts repeat exactly: across the timed passes of
    this run, and against the previous traced run of the same workload and
    seed (refused across core counts)."""
    prev_file = os.path.join(results, f"{key}-trace1.json")
    prev = json.load(open(prev_file)) if os.path.exists(prev_file) else None
    out = {}
    for k, v in in_run.items():
        row = {"exact_across_passes": v["exact"]}
        if prev and prev["env"]["cores"] == cores:
            pv = prev.get("layers", {}).get("census", {}).get(k, {}).get("values")
            row["exact_across_runs"] = pv == v["values"] if pv is not None else None
        out[k] = row
    if prev and prev["env"]["cores"] != cores:
        out["_note"] = f"previous traced run used {prev['env']['cores']} cores; not compared"
    return out


if __name__ == "__main__":
    main()
