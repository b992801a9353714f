"""Steadiness check: two sets of runs of one commit, compared.

    python3 perfbench/steadiness.py

Reads BENCHMARK.json from the checkout root, runs every workload RUNS times
per set (set A with seeds 1..RUNS, set B with seeds RUNS+1..2*RUNS,
interleaved A, B, A, B, ...), and prints per workload and end-to-end metric:
each set's median and quartiles, the spread over all runs (interquartile
range as a share of the median, the number the bound caps), and whether the
set medians agree within the metric's bound, in either direction.  Then one
traced run per workload prints its per-layer metrics plus the tracing
overhead (traced p50 op latency minus the untraced median p50).

Exit code 0 when every metric's set medians agree within its bound and
every spread stays within it.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: runs per set and workload
RUNS = 5


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed} incorrect: {res}")
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / statistics.median(xs)


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first``."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(RUNS):
            for k, name in enumerate(sets):
                seed = 1 + i + k * RUNS
                res = run_once(spec, wl, seed, 0)
                sets[name].append(res)
                print(f"# {wl} set {name} seed {seed}: {res['wall_s']:.0f} s wall, attempted {res['attempted']} "
                      + " ".join(f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                      flush=True)
        print(f"\n{wl}: {RUNS} runs per set, {spec['run_seconds']} s each")
        print(f"{'metric':24} {'set':3} {'q1':>9} {'median':>9} {'q3':>9}  spread(all)  bound  verdict")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = {s: [r["metrics"][name]["value"] for r in runs] for s, runs in sets.items()}
            both = vals["A"] + vals["B"]
            drift = worse_by(statistics.median(vals["A"]), statistics.median(vals["B"]), m["better"])
            sp = spread(both)
            good = abs(drift) <= bound and sp <= bound
            ok &= good
            for s in sets:
                q1, q2, q3 = quartiles(vals[s])
                tail = (f"  {sp:10.3f}  {bound:5.2f}  B worse by {drift:+.3f}: "
                        f"{'agree' if good else 'DISAGREE'}") if s == "B" else ""
                print(f"{name:24} {s:3} {q1:9.4g} {q2:9.4g} {q3:9.4g}{tail}")
        res = run_once(spec, wl, 1, 1)
        print(f"\n{wl} traced run (seed 1): {res['wall_s']:.0f} s wall")
        p50 = statistics.median(r["metrics"]["latency_p50_s"]["value"] for r in sets["A"] + sets["B"])
        for k, v in res["metrics"].items():
            print(f"  {k:28} {v['value']:.4g} {v['unit']}")
        print(f"  tracing overhead (traced p50 - untraced median p50): "
              f"{res['metrics']['trace.op_p50_s']['value'] - p50:+.4f} s")
        print()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
