"""Run the benchmark on several seeds and summarise how steady it is.

    python3 perfbench/steadiness.py --seeds 1-10 --sets 2 --out steadiness.json

For every workload in BENCHMARK.json (or ``--workloads a,b``) it runs
``perfbench/run.py`` once per seed with tracing off, then ``--trace-seeds``
runs with tracing on, and reports per end-to-end metric the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the quartile spread as
a share of the median, next to the metric's bound. It also checks that
every per-layer count repeats exactly on a repeated seed, and reports the
tracing overhead. With ``--sets 2`` it repeats the untraced runs on the
next seeds and reports how far each metric's second median is worse than
the first, as a share of the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",") if x]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return {"seed": seed, "wall_s": round(time.monotonic() - t0, 1),
            "result": json.loads(lines[-1]), "info": json.loads(lines[-2])}


def summarise(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else 0.0
    out = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
           "values": values}
    if bound is not None:
        out["bound"] = bound
        out["spread_within_third_of_bound"] = spread < bound / 3
    return out


def _worse(first: float, second: float, better: str) -> float:
    return (first - second) / first if better == "higher" else (second - first) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace-seeds", default="1,1")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    seeds = _seeds(args.seeds)
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in workloads:
        sets = []
        for k in range(args.sets):
            runs = [run_once(wl, s + k * len(seeds), bench["run_seconds"], 0)
                    for s in seeds]
            metrics = {
                name: summarise(
                    [r["result"]["metrics"][name]["value"] for r in runs],
                    m["bound"])
                for name, m in e2e.items()
            }
            sets.append({
                "seeds": [r["seed"] for r in runs],
                "end_to_end": metrics,
                "all_correct": all(r["result"]["correct"] for r in runs),
                "run_wall_s": [r["wall_s"] for r in runs],
                "op_walls_s": [r["info"].get("op_walls_s") for r in runs],
                "op_cpu_s": [r["info"].get("op_cpu_s") for r in runs],
                "setup_samples_s": [r["info"].get("setup_samples_s") for r in runs],
                "regime": [r["info"]["regime"] for r in runs],
            })
            for name, m in metrics.items():
                print(f"{wl} set {k + 1} {name}: median {m['median']:.5g} IQR "
                      f"[{m['q1']:.5g}, {m['q3']:.5g}] spread {m['spread']:.3f} "
                      f"bound {m['bound']}", flush=True)
        traced = [run_once(wl, s, bench["run_seconds"], 1)
                  for s in _seeds(args.trace_seeds)]
        counts = {}
        for name, unit in units.items():
            if unit in ("count", "B"):
                vals: dict[int, set] = {}
                for r in traced:
                    vals.setdefault(r["seed"], set()).add(
                        r["result"]["metrics"][name]["value"])
                counts[name] = all(len(v) == 1 for v in vals.values())
        key = {"scan_tagged_nodes": "e2e.nodes.cpu_s_per_mrow",
               "scan_ways_relations": "e2e.ways_relations.cpu_s_per_mrow",
               "write_tagged_nodes": "e2e.write.cpu_s_per_mrow"}[wl]
        entry = {
            "sets": sets,
            "traced": {
                "seeds": [r["seed"] for r in traced],
                "all_correct": all(r["result"]["correct"] for r in traced),
                "run_wall_s": [r["wall_s"] for r in traced],
                "counts_repeat_exactly": counts,
                "metrics": [r["result"]["metrics"] for r in traced],
            },
        }
        if traced:
            entry["tracing_overhead"] = {
                "in_process_frac": [
                    r["result"]["metrics"]["trace.overhead_frac"]["value"]
                    for r in traced],
                "traced_run_cpu_s_per_mrow": [
                    r["result"]["metrics"][key]["value"] for r in traced],
                "untraced_cpu_s_per_mrow_median":
                    sets[0]["end_to_end"]["cpu_s_per_mrow"]["median"],
            }
        if len(sets) > 1:
            entry["second_median_worse_by"] = {
                name: round(_worse(sets[0]["end_to_end"][name]["median"],
                                   sets[1]["end_to_end"][name]["median"],
                                   m["better"]), 4)
                for name, m in e2e.items()
            }
            print(f"{wl} second median worse by {entry['second_median_worse_by']}",
                  flush=True)
        report["workloads"][wl] = entry
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
