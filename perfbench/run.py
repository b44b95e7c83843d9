#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <automl_ts|curation>
        --seed <n> --seconds <s> --trace <0|1> [--keep]

Run from the repository root. It builds the engine and the harness
from source (once; see build.py), generates the workload's inputs from
the seed (gen.py, outside every timed window), runs the harness JVM in
its own working directory under `.bench_build/runs/` (removed at the
end unless `--keep`; it holds `result.json` with every sample and
span), checks the outputs, and prints every metric by name with its
unit. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, from a run whose passes alternate traced
and untraced. Exit code 0 only when every output check passed.
"""
import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("automl_ts", "curation")
LAYERS = ("api", "clean", "stats", "ts", "ml", "scaleops", "operators",
          "sources", "streaming", "queries")
# Input sizes per workload (see BENCHMARK.json for why each was chosen).
SIZES = {
    "automl_ts": dict(engines=12, test_engines=4, min_life=128, max_life=282),
    "curation": dict(n_docs=600, n_emb=2500, dup_frac=0.08, n_index=500,
                     n_queries=50, n_append=100),
}
# Untimed warm-up passes before the timed window.
WARM_PASSES = 1
# JIT flags per workload. automl_ts runs C1 only: under the default
# tiered compiler its pass kept speeding up over three passes (27.9,
# 16.0, 13.5 s), so it needed two warm-up passes and still timed a pass
# on the slope; under C1 the second pass is at its steady time (17.09,
# 16.82 s). curation keeps the default compiler: with one warm-up pass
# its timed pass repeated as closely (11.4-12.5 s over 5 seeds) and ran
# 4 s faster than under C1, which its run-time budget needs.
JIT = {"automl_ts": ["-XX:TieredStopAtLevel=1"], "curation": []}
JVM_DEADLINE_S = 165
MB = 1048576.0


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def generate(workload, seed, data):
    import gen
    s = SIZES[workload]
    if workload == "automl_ts":
        gen.cmapss(data, seed, **s)
    else:
        gen.corpus(data, seed, **s)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(cp, work, workload):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # pinned, pre-touched heap as in the engine's own sbt runs; no
    # hsperfdata file outside the working directory
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] + JIT[workload]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "graftbench.Main"]
    return cmd


# ---------------------------------------------------------------- checks

def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _isnull(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _same(a, b):
    return a == b or (_isnull(a) and _isnull(b))


def oracle_checks(data, checks, oracle):
    """Compare each registered row's output with its DuckDB oracle SQL on
    the same tables (columns sorted by name, rows sorted by all columns,
    values compared exactly). Returns {row: failure message}."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    bad = {}
    for name in sorted(oracle):
        d = os.path.join(checks, name)
        if not os.path.isdir(d) or not any(f.endswith(".parquet")
                                           for f in os.listdir(d)):
            bad[name] = "no output"
            continue
        got = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
        if not oracle[name]:
            if len(got) == 0:
                bad[name] = "empty output and no oracle"
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            bad[name] = f"oracle SQL error: {e}"
            continue
        g, e = _norm(got), _norm(exp)
        if list(g.columns) != list(e.columns):
            bad[name] = f"columns {list(g.columns)} != {list(e.columns)}"
        elif len(g) != len(e):
            bad[name] = f"rows {len(g)} != {len(e)}"
        else:
            for c in g.columns:
                for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist())):
                    if not _same(x, y):
                        bad[name] = f"column {c} row {i}: {x!r} != {y!r}"
                        break
                if name in bad:
                    break
    return bad


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def union_len(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_metrics(res, errors, ncores):
    tr = res["trace"]
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    n = max(1, len(traced))
    kids = {}
    for s in tr["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    # jobs of the benchmark's own output checks run outside every span
    jobs = [j for j in tr["jobs"] if j["end"] > 0 and j["span"] >= 0]
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    for layer in LAYERS:
        ls = [s for s in tr["spans"] if s["layer"] == layer]
        self_ns = sum((s["end"] - s["start"]) -
                      union_len([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
                      for s in ls)
        lj = [j for s in ls for j in by_span.get(s["id"], [])]
        put(f"{layer}.calls", len(ls) / n, "count")
        put(f"{layer}.self_s", self_ns / 1e9 / n, "s")
        put(f"{layer}.job_s", sum(j["end"] - j["start"] for j in lj) / 1e9 / n, "s")
        put(f"{layer}.jobs", len(lj) / n, "count")
        put(f"{layer}.tasks", sum(j["tasks"] for j in lj) / n, "count")
        put(f"{layer}.failed", sum(s["failed"] for s in ls) / n, "count")

    busy_ns = union_len([(j["start"], j["end"]) for j in jobs])
    stage_tasks = [t for j in jobs for t in j["stage_tasks"]]
    put("spark.calls", tr["sql_calls"] / n, "count")
    put("spark.self_s", busy_ns / 1e9 / n, "s")
    put("spark.job_s", sum(j["end"] - j["start"] for j in jobs) / 1e9 / n, "s")
    put("spark.jobs", len(jobs) / n, "count")
    put("spark.tasks", sum(j["tasks"] for j in jobs) / n, "count")
    put("spark.failed", sum(not j["ok"] for j in jobs) / n, "count")
    put("spark.stages", len(stage_tasks) / n, "count")
    put("spark.stage_tasks_p50", median(stage_tasks) if stage_tasks else 0.0, "count")
    run_s = sum(j["run_ms"] for j in jobs) / 1e3
    put("spark.busy_frac", run_s / (busy_ns / 1e9 * ncores) if busy_ns else 0.0, "ratio")
    put("spark.sched_delay_s", sum(j["sched_ms"] for j in jobs) / 1e3 / n, "s")
    put("spark.plan_s", tr["plan_s"] / n, "s")
    put("spark.input_mb", sum(j["input_b"] for j in jobs) / MB / n, "MB")
    put("spark.shuffle_read_mb", sum(j["shuffle_read_b"] for j in jobs) / MB / n, "MB")
    put("spark.shuffle_write_mb", sum(j["shuffle_write_b"] for j in jobs) / MB / n, "MB")
    put("spark.spill_mb", sum(j["spill_b"] for j in jobs) / MB / n, "MB")
    put("spark.error_logs", errors, "count")
    put("jvm.gc_s", res["gc_s"] / max(1, len(res["passes"])), "s")
    put("jvm.jit_s", res["jit_s"], "s")

    src = [j for s in tr["spans"] if s["layer"] == "sources"
           for j in by_span.get(s["id"], [])]
    written = sum(j["out_b"] for j in src)
    art = res["counters"].get("sources.artifact_bytes", 0.0)
    put("sources.bytes_written_mb", written / MB / n, "MB")
    put("sources.files_written", sum(j["out_tasks"] for j in src) / n, "count")
    put("sources.write_amp", written / art if art else 0.0, "ratio")

    fits = tr["fits"]
    ml_jobs = m["ml.jobs"][0] * n
    put("ml.fits", fits / n, "count")
    put("ml.jobs_per_fit", ml_jobs / fits if fits else 0.0, "count")
    rmse = res["quality"].get("model_rmse", [])
    put("ml.model_rmse", median(rmse) if rmse else 0.0, "RUL")

    c = res["counters"]
    cands = c.get("scaleops.candidates", 0.0)
    put("scaleops.candidates", cands / n, "count")
    results = c.get("scaleops.results", 0.0)
    put("scaleops.candidates_per_result", cands / results if results else 0.0, "ratio")
    for r in ("brute", "lsh", "ivf", "ivf_pq"):
        put(f"scaleops.route.{r}", c.get(f"scaleops.route.{r}", 0.0) / n, "count")
    for q in ("dup_recall", "knn_recall"):
        v = res["quality"].get(q, [])
        put(f"scaleops.{q}", median(v) if v else 0.0, "ratio")

    bms = tr["batch_ms"]
    put("streaming.batches", len(bms) / n, "count")
    put("streaming.batch_p50_s", median(bms) / 1e3 if bms else 0.0, "s")
    put("streaming.rows_per_batch", tr["batch_rows"] / len(bms) if bms else 0.0, "rows")

    tw = median([p["wall_s"] for p in traced])
    uw = median([p["wall_s"] for p in untraced])
    put("trace.overhead_s", tw - uw if traced and untraced else 0.0, "s")
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's working directory")
    a = ap.parse_args()
    t_begin = time.time()

    import build
    cp = build.build()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    t0 = time.time()
    generate(a.workload, a.seed, data)
    log(f"inputs generated in {time.time() - t0:.1f}s: {SIZES[a.workload]}")

    ncores = cores()
    out = os.path.join(work, "result.json")
    env = dict(os.environ, GRAFT_REPO_DIR=work, SPARK_GRAFT_CPUS=str(ncores))
    errf = os.path.join(work, "jvm.log")
    budget = JVM_DEADLINE_S - (time.time() - t_begin)
    with open(errf, "w") as err:
        proc = subprocess.Popen(
            jvm_cmd(cp, work, a.workload) + [a.workload, data, str(a.seed), str(a.seconds),
                                 str(a.trace), str(ncores),
                                 str(WARM_PASSES), out],
            cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    jvm_log = open(errf, errors="replace").read()
    if rc != 0 or not os.path.exists(out):
        log(jvm_log[-6000:])
        log(f"harness JVM failed: {rc}")
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)
    res = json.load(open(out))
    errors = sum(1 for line in jvm_log.splitlines() if re.search(r"\bERROR\b", line))

    # output checks that need DuckDB; a failed check fails its operation
    bad = oracle_checks(data, os.path.join(work, "checks"), res["oracles"])
    samples = res["samples"]
    for s in samples:
        if s[1] in bad and s[4]:
            s[4], s[5], s[6] = False, "check", bad[s[1]]
    failed = [s for s in samples if not s[4]]
    for name, msg in sorted({(s[1], s[6]) for s in failed}):
        log(f"FAILED {name}: {msg}")
    for name, msg in res["warm_failures"].items():
        log(f"FAILED in warm-up {name}: {msg}")
    bad_passes = {s[0] for s in failed}
    ok_lat = [s[3] for s in samples if s[4]]
    walls = [p["wall_s"] for p in res["passes"] if p["pass"] not in bad_passes]
    correct = (not failed and not res["warm_failures"] and not bad and
               bool(walls) and bool(ok_lat))

    log(f"canary (ungated host context): {res['canary']}")
    log(f"setup reps {['%.2f' % x for x in res['setup_reps_s']]} s, "
        f"warm-up passes {['%.2f' % x for x in res['warm_s']]} s")
    for k, v in res["quality"].items():
        log(f"quality {k}: median {median(v):.6g} over {len(v)} passes")

    if a.trace:
        metrics = layer_metrics(res, errors, ncores)
        log(f"per-layer values are per traced pass "
            f"({sum(p['traced'] for p in res['passes'])} traced, "
            f"{sum(not p['traced'] for p in res['passes'])} untraced)")
    else:
        metrics = {
            "setup_s": (res["setup_s"], "s", len(res["setup_reps_s"])),
            "wall_s": (median(walls), "s", len(walls)),
            "heap_peak_mb": (res["heap_peak_mb"], "MB", 1),
        }
    for name, v in metrics.items():
        extra = f"  (n={v[2]})" if len(v) > 2 else ""
        log(f"{a.workload} {name} = {v[0]:.6g} {v[1]}{extra}")

    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": (v[0] if v[0] == v[0] else None), "unit": v[1]}
                    for k, v in metrics.items()},
    }), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
