#!/usr/bin/env python3
"""Steadiness evidence: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median and the interquartile spread as a
share of the median (``statistics.quantiles(values, n=4)``); with two sets
of runs, also the change of the median from the first set to the second.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/evidence/<name>.json

Run from the root of a checkout, with nothing else running on the host.
Seeds of set k are 1000*k + 1 .. 1000*k + runs.
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.splitlines()
    rec = json.loads(lines[-2]) if len(lines) >= 2 else {}
    return {
        "seed": seed,
        "rc": p.returncode,
        "run_s": round(time.time() - t, 2),
        "result": json.loads(lines[-1]) if lines else None,
        "wall_s_samples": rec.get("wall_s_samples"),
        "setup_s_parts": rec.get("setup_s_parts"),
        "peak_rss_parts_mb": rec.get("peak_rss_parts_mb"),
        "steal_share": rec.get("runtime.steal_share"),
        "commit": rec.get("commit"),
    }


def spread(values: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=None, help="comma list (default: BENCHMARK.json)")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "runs": a.runs, "workloads": {}}
    sets: dict[str, list] = {w: [] for w in names}
    for k in range(1, a.sets + 1):  # each set covers every workload in turn
        for w in names:
            runs = [one_run(w, 1000 * k + i, spec["run_seconds"]) for i in range(1, a.runs + 1)]
            summary = {}
            for m in bounds:
                vals = [r["result"]["metrics"][m]["value"] for r in runs if r["rc"] == 0 and r["result"]]
                med, sp = spread(vals)
                summary[m] = {"median": med, "iqr_share": sp, "bound": bounds[m], "values": vals}
            summary["failed"] = sum(r["result"]["failed"] for r in runs if r["result"])
            summary["attempted"] = sum(r["result"]["attempted"] for r in runs if r["result"])
            sets[w].append({"summary": summary, "runs": runs})
            print(w, k, {m: (round(v["median"], 4), round(v["iqr_share"], 4))
                         for m, v in summary.items() if m in bounds}, flush=True)
            report["workloads"][w] = {"sets": sets[w]}
            if len(sets[w]) >= 2:
                report["workloads"][w]["median_change"] = {
                    m: sets[w][1]["summary"][m]["median"] / sets[w][0]["summary"][m]["median"] - 1
                    for m in bounds
                }
                print(w, "median change", {m: round(v, 4) for m, v in report["workloads"][w]["median_change"].items()}, flush=True)
            with open(a.out, "w") as f:
                json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
