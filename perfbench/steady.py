"""Steadiness check: sets of benchmark runs of unchanged code, compared
metric by metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 5 --sets 2 --trace-runs 1

Run from the root of a checkout. Every run uses its own seed. For each
workload and end-to-end metric it reports the median, the highest
percentile the run count supports (the maximum), the spread (distance
between the first and third quartile over all runs, as a share of the
median) and, between consecutive sets, how far the later median moved
against the metric's direction, as a share of the first. A metric is
steady when its spread stays under a third of its bound (``setup_s``
excepted) and no set's median is worse than the first's by more than
the bound; ``within_bound`` is the same test with the spread held to
the bound itself. The exit code follows ``steady``. Traced runs add
the per-layer medians and the tracing overhead (traced minus untraced
``job_s``). The summary is printed as JSON and written under
``.perfbench_work/steady/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first: float, later: float, better: str) -> float:
    return (later - first) / first if better == "lower" else (
        (first - later) / first)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    summary, steady = {}, True
    for wl in workloads:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.seed0 + s * args.runs + i
                r = run_once(wl, seed, bench["run_seconds"], 0)
                print(f"{wl} set {s} seed {seed}: wall {r['wall_s']:.1f} s "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
                runs.append(r)
            sets.append(runs)
        all_runs = [r for runs in sets for r in runs]
        rep = {
            "runs": len(all_runs),
            "failed": sum(r["failed"] for r in all_runs),
            "attempted": sum(r["attempted"] for r in all_runs),
            "max_wall_s": max(r["wall_s"] for r in all_runs),
            "metrics": {},
        }
        steady &= rep["failed"] == 0
        for name, m in e2e.items():
            vals = [r["metrics"][name]["value"] for r in all_runs]
            medians = [statistics.median(
                [r["metrics"][name]["value"] for r in runs]) for runs in sets]
            drift = max((worse_by(medians[0], x, m["better"])
                         for x in medians[1:]), default=0.0)
            sp = spread(vals)
            exempt = name == "setup_s"
            ok = drift <= m["bound"] and (exempt or sp <= m["bound"] / 3)
            steady &= ok
            rep["metrics"][name] = {
                "median": statistics.median(vals), "max": max(vals),
                "spread": sp, "set_medians": medians, "drift": drift,
                "bound": m["bound"], "steady": ok,
                "within_bound": drift <= m["bound"] and (
                    exempt or sp <= m["bound"]),
            }
        if args.trace_runs:
            traced = [run_once(wl, args.seed0 + 1000 + i,
                               bench["run_seconds"], 1)
                      for i in range(args.trace_runs)]
            layers = {k: statistics.median(
                r["metrics"][k]["value"] for r in traced)
                for k in traced[0]["metrics"]}
            rep["per_layer_median"] = layers
            rep["trace_failed"] = sum(r["failed"] for r in traced)
            rep["tracing_overhead_s"] = (
                layers["trace.job_s"] - rep["metrics"]["job_s"]["median"])
        summary[wl] = rep
    summary["steady"] = steady
    out_dir = os.path.join(ROOT, ".perfbench_work", "steady")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{int(time.time())}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary, indent=1))
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
