#!/usr/bin/env python3
"""Steadiness and determinism checks for the benchmark.

    python3 perfbench/steady.py spread --workload W --seeds 1-10 [--sets 2]
    python3 perfbench/steady.py trace --workload W --seed N

`spread` runs the benchmark once per seed (per set), and prints for
each end-to-end metric its median and the distance between the first
and third quartile as a share of the median, next to a third of the
metric's bound in BENCHMARK.json. With two sets it also prints how far
the second set's median moved from the first's, against the bound. It
exits non-zero when a spread (setup_s excepted) or a median shift is
over its limit.

`trace` runs the traced benchmark twice on one seed and checks that
the counted per-layer values repeat exactly.

Run from the repository root.
"""
import argparse
import json
import statistics
import subprocess
import sys

COUNTED = ("spark.jobs", "ml.fits", "scaleops.candidates",
           "sources.bytes_written_mb")


def run(workload, seed, trace, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect output")
    return {k: v["value"] for k, v in res["metrics"].items()}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(a, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for i in range(a.sets):
        vals = {}
        for s in seeds(a.seeds):
            for k, v in run(a.workload, s, 0, bench["run_seconds"]).items():
                vals.setdefault(k, []).append(v)
            print(f"set {i + 1} seed {s} done", file=sys.stderr, flush=True)
        sets.append(vals)
    ok = True
    for name, bound in bounds.items():
        meds = []
        for i, vals in enumerate(sets):
            v = vals[name]
            q1, med, q3 = statistics.quantiles(v, n=4)
            rel = (q3 - q1) / med
            meds.append(statistics.median(v))
            over = rel > bound / 3 and name != "setup_s"
            ok &= not over
            print(f"{a.workload} set {i + 1} {name}: median {statistics.median(v):.4g} "
                  f"IQR/median {rel:.3f} (limit {bound / 3:.3f}){' OVER' if over else ''}")
        if len(meds) == 2:
            shift = (meds[1] - meds[0]) / meds[0]
            over = abs(shift) > bound
            ok &= not over
            print(f"{a.workload} {name}: second median moved {shift:+.3f} "
                  f"(bound {bound}){' OVER' if over else ''}")
    return ok


def trace(a, bench):
    first = run(a.workload, a.seed, 1, bench["run_seconds"])
    second = run(a.workload, a.seed, 1, bench["run_seconds"])
    ok = True
    for k in COUNTED:
        same = first[k] == second[k]
        ok &= same
        print(f"{a.workload} {k}: {first[k]} / {second[k]}{'' if same else ' DIFFER'}")
    print(f"{a.workload} trace.overhead_s: {first['trace.overhead_s']:.3f} / "
          f"{second['trace.overhead_s']:.3f}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "trace"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    ok = spread(a, bench) if a.mode == "spread" else trace(a, bench)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
