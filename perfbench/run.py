#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  A run builds a local[n <= 4] session in
this process, generates the workload's seeded input, warms up, then runs
checked passes back to back for ``--seconds`` and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (see perfbench/layers.json) with ``--trace 1``.  The run
record (versions, commit, configuration, switch sides, sample counts,
throughput) goes to stdout before it.  Everything the run writes lives
under ``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import traceback
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETTLE = 1       # checked, untimed passes after set-up, before timing
MIN_PASSES = 3   # timed passes even when --seconds runs out first
TRACE_PAIRS = 2  # untraced/traced pass pairs in the traced mode
REPLAY = 160     # heavy-route turns replayed eagerly in the traced mode


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rapidocr_spark")):
        print(f"no rapidocr_spark package beside {HERE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import env

    env.prepare_workdir()
    try:
        return bench(args, env)
    finally:
        shutil.rmtree(env.WORK, ignore_errors=True)


def bench(args, env) -> int:
    import tracing
    from workloads import CFG, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload](args.seed, args.scale)
    ops = {"attempted": 0, "failed": 0}
    problems: list[str] = []

    def record(errs: list[str]) -> None:
        ops["attempted"] += 1
        if errs:
            ops["failed"] += 1
            problems.extend(errs)
            env.log("CHECK FAILED: " + "; ".join(errs[:3]))

    def checked_pass(spark, tag, fn, meter=None):
        """Run one pass under job group ``tag`` (metered when ``meter`` is
        given) and check it under another; returns its wall seconds, or
        None when it raised."""
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        if meter:
            meter.start()
        t = env.now()
        try:
            res = fn(spark, tag)
        except Exception as exc:  # noqa: BLE001 — a failed operation
            if meter:
                meter.stop()
            env.log(traceback.format_exc())
            sc.setJobGroup("check", "check")
            record([f"{tag} raised {type(exc).__name__}: {exc}"[:500]])
            w.reset()
            return None
        dt = env.now() - t
        if meter:
            meter.stop()
        sc.setJobGroup("check", "check")
        record(w.check(spark, w.corrupt(res) if args.corrupt else res))
        w.reset()
        return dt

    # ---- set-up: input generation, session start (the JVM launch
    # included), preparation and the first pass; the Python workers boot in
    # one of the last two.  The
    # checks' reference results, the first pass's check and its reset are
    # left out of setup_s.  The pool is forked before the JVM or any thread
    # exists.
    with ProcessPoolExecutor(env.parallelism(), mp_context=multiprocessing.get_context("fork")) as pool:
        t = env.now()
        w.generate(pool)
        gen = env.now() - t
        w.reference(pool)
    t = env.now()
    spark = env.start_session(bool(args.trace))
    spark.sparkContext.setJobGroup("prepare", "prepare")
    w.prepare(spark)
    setup_parts = {"generate": gen, "session": env.now() - t}
    setup_parts["first_pass"] = checked_pass(spark, "first", w.run_pass) or 0.0
    setup = sum(setup_parts.values())
    env.log(f"setup: {setup:.2f}s")
    for k in range(SETTLE):
        checked_pass(spark, f"settle{k}", w.run_pass)
    w.observe(spark)

    # ---- timed passes
    meter = env.Meter(env.jvm_pid(spark))
    walls, parts, traced = [], [], []
    steal0 = env.cpu_times()
    start = env.now()
    n = 0
    try:
        while n < MIN_PASSES or env.now() - start < args.seconds:
            is_traced = bool(args.trace) and n % 2 == 1
            if is_traced:
                spark.sparkContext.setJobGroup("probe", "probe")
                w.probe(spark)
                dt = checked_pass(spark, f"traced{n}", w.traced_pass, meter)
            else:
                dt = checked_pass(spark, f"pass{n}", w.run_pass, meter)
            if dt is not None:
                (traced if is_traced else walls).append(dt)
                if is_traced:
                    parts.append(meter.cpu)
            n += 1
            if args.trace and n >= 2 * TRACE_PAIRS:
                break
        steal1 = env.cpu_times()
        record(w.final_checks(spark))
    finally:
        meter.close()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    info = env.run_record(spark, CFG, {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "input_units": f"{w.units()} {w.unit}",
        "switches": w.switches,
        "setup_s_parts": {k: round(v, 4) for k, v in setup_parts.items()},
        "wall_s_samples": [round(x, 4) for x in walls],
        "throughput": f"{w.units() / statistics.median(walls):.1f} {w.unit}/s" if walls else None,
        "runtime.steal_share": round(steal, 5),
        "peak_rss_parts_mb": {k: round(v / 2**20, 1) for k, v in meter.peak_part.items()},
    })
    env.stop_session(spark)
    log_dir = os.path.join(env.WORK, "events")

    if args.trace:
        metrics = layer_metrics(w, tracing, log_dir, traced, walls, parts, meter, steal, CFG)
        mism = metrics.pop("_replay_mismatches")
        record([f"kernel replay differs from extract_turn on {mism} turn(s)"] if mism else [])
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["metrics"]
        out = {k: {"value": metrics[k], "unit": v["unit"]} for k, v in layers.items()}
    else:
        out = {
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "setup_s": {"value": setup, "unit": "s"},
            "peak_rss_mb": {"value": meter.peak_total / 2**20, "unit": "MB"},
        }
    info["problems"] = problems[:20]
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": ops["failed"] == 0,
        "attempted": ops["attempted"],
        "failed": ops["failed"],
        "metrics": out,
    }))
    return 0


def layer_metrics(w, tracing, log_dir, traced, walls, parts, meter, steal, cfg) -> dict:
    ev = tracing.EventLog(log_dir)
    summ = [ev.summary([g]) for g in ev.groups("traced")]
    # workers boot when the session first runs Python, in set-up
    boot = ev.summary(ev.groups(""))

    def med(key):
        return statistics.median(s[key] for s in summ)

    m: dict[str, float] = {}
    extract_side = w.name != "corpus_dedup"
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "task_skew", "python_sent_mb", "python_recv_mb",
              "python_total_s", "python_init_s"):
        m[f"extract.{k}"] = med(k) if extract_side else 0
    m["extract.python_boot_s"] = boot["python_boot_s"] if extract_side else 0
    km, mism = tracing.kernel_replay(w.replay_sample(REPLAY), cfg)
    m.update(km)
    m["_replay_mismatches"] = mism
    m.update(w.layer_spans())
    if not extract_side:
        m["dedup.exchanges"] = w.exchanges
        m["dedup.shuffle_write_mb"] = med("shuffle_write_mb")
        m["dedup.spill_mb"] = med("spill_mb")
        m["dedup.python_total_s"] = med("python_total_s")
    for part in ("jvm", "worker", "driver"):
        m[f"runtime.{part}_cpu_s"] = statistics.median(p[part] for p in parts)
        m[f"runtime.{part}_rss_mb"] = meter.peak_part[part] / 2**20
    m["runtime.steal_share"] = steal
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(walls)
    return m


if __name__ == "__main__":
    sys.exit(main())
