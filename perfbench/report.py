#!/usr/bin/env python3
"""One command for the whole benchmark: every workload untraced on several
seeds, then once traced, with a readable report.

    python3 perfbench/report.py [--seeds 1,2,3] [--workloads build_pads,ingest_resume]

Run from the repository root. Each run is `perfbench/run.py` in its own
process (one Spark driver per run, as the benchmark contract runs it); the
report reads the JSON result and the `[perfbench] record` line of each run.

Printed per workload:
- the end-to-end metrics: median and quartile spread over the seeds;
- the figures behind them: triples/s (wall and CPU), ingest and resume
  seconds, lookup latency p50 (p90 once 100 lookups are pooled) and per
  template, analytics seconds, error rate = failed / attempted operations;
- machine state per run: 1-minute load, steal and busy jiffies, CPU-seconds;
- tracing: the traced run's operation wall against the untraced median, and
  the share of traced wall covered by layer spans.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
from run import END_TO_END, WORKLOADS  # noqa: E402

LOOKUP_TEMPLATES = 6


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record = next(
        json.loads(line.split("record ", 1)[1])
        for line in proc.stderr.splitlines()
        if line.startswith("[perfbench] record ")
    )
    return {"result": result, "record": record}


def spread(values: list) -> str:
    med = statistics.median(values)
    if len(values) < 2:
        return f"{med:.4g}"
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return f"{med:.4g}  (IQR/median {(q3 - q1) / med:.3f}, n={len(values)})"


def figures(workload: str, runs: list) -> dict:
    """The issue's named figures, pooled over the untraced runs (lookups of
    the warm-up rounds left out, as in read_s)."""
    warm = WORKLOADS[workload].warmup * LOOKUP_TEMPLATES
    ops = []
    for r in runs:
        run_ops = r["record"]["ops"]
        lookups = [i for i, o in enumerate(run_ops) if o["op"] == "lookup"][:warm]
        ops += [o for i, o in enumerate(run_ops) if i not in lookups]
    out = {}
    for kind in ("build", "ingest", "resume"):
        walls = [o["wall_s"] for o in ops if o["op"] == kind]
        if walls:
            out[f"{kind}_s"] = spread(walls)
            per_s = [o["triples"] / o["wall_s"] for o in ops if o["op"] == kind]
            per_cpu = [o["triples"] / o["cpu_s"] for o in ops if o["op"] == kind]
            out[f"{kind}.triples_per_s"] = spread(per_s)
            out[f"{kind}.triples_per_cpu_s"] = spread(per_cpu)
    lookups = [o for o in ops if o["op"] == "lookup"]
    if lookups:
        ms = [o["wall_s"] * 1000 for o in lookups]
        out["lookup_p50_ms"] = f"{statistics.median(ms):.4g} (n={len(ms)})"
        try:
            out["lookup_p90_ms"] = f"{checks.percentile(ms, 90):.4g}"
        except ValueError as e:
            out["lookup_p90_ms"] = f"n/a: {e}"
        for name in sorted({o["template"] for o in lookups}):
            out[f"lookup.{name}_ms"] = spread(
                [o["wall_s"] * 1000 for o in lookups if o["template"] == name]
            )
    analytics = [o["wall_s"] for o in ops if o["op"] == "analytics"]
    if analytics:
        out["analytics_s"] = spread(analytics)
    attempted = sum(r["result"]["attempted"] for r in runs)
    failed = sum(r["result"]["failed"] for r in runs)
    out["error_rate"] = f"{failed / attempted:.4g} ({failed}/{attempted})"
    return out


def machine_line(run: dict) -> str:
    rec = run["record"]
    m0, m1 = rec["machine_start"], rec["machine_end"]
    cpu = sum(o["cpu_s"] for o in rec["ops"])
    return (f"seed {rec['seed']}: load1 {m0['load1']:.2f}->{m1['load1']:.2f}, "
            f"steal {m1['steal_jiffies'] - m0['steal_jiffies']} jiffies, "
            f"busy {m1['busy_jiffies'] - m0['busy_jiffies']} jiffies, "
            f"ops {sum(o['wall_s'] for o in rec['ops']):.1f} s wall / {cpu:.1f} CPU-s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seconds", type=float, default=20.0)
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]

    for workload in args.workloads.split(","):
        runs = [one_run(workload, s, args.seconds, 0) for s in seeds]
        traced = one_run(workload, seeds[0], args.seconds, 1)
        print(f"== {workload}: {WORKLOADS[workload]}")
        print("end-to-end (local[4]):")
        for name, unit in END_TO_END.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            print(f"  {name} [{unit}]: {spread(vals)}")
        print("figures:")
        for name, text in figures(workload, runs).items():
            print(f"  {name}: {text}")
        print("machine state per run:")
        for r in runs + [traced]:
            print(f"  {machine_line(r)}{' (traced)' if r is traced else ''}")
        layers = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        untraced_wall = statistics.median(
            sum(o["wall_s"] for o in r["record"]["ops"]) for r in runs
        )
        print("tracing:")
        print(f"  traced ops wall {layers['trace.wall_s']:.2f} s vs untraced median "
              f"{untraced_wall:.2f} s (x{layers['trace.wall_s'] / untraced_wall:.2f}); "
              f"layer spans cover {layers['trace.coverage']:.1%} of traced wall")
        print("per layer (traced, seed %d):" % seeds[0])
        for name, value in layers.items():
            if value and not name.startswith("trace."):
                print(f"  {name}: {value:.6g}")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
