"""Per-layer readings for the traced mode.

- ``EventLog``: Spark's own event log (task metrics and the
  ``MapInPandas``/``MapInArrow`` SQL metrics), attributed to passes by job
  group.
- ``replay``: an eager, span-timed replay of one turn through the kernel
  layer's public functions, mirroring ``kernels.oracle.extract_turn``
  step for step; its result must equal ``extract_turn``'s.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

MB = 1 << 20

# names of PythonSQLMetrics accumulators (sql/execution/python)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_NAMES = (PY_SENT, PY_RECV, PY_TOTAL, PY_BOOT, PY_INIT)


class EventLog:
    """Stage and task totals per job group, read after the session stops
    (stopping flushes and closes the log)."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        self.group_of_stage: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in e.get("Stage IDs", []):
                    self.group_of_stage[sid] = group
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = self.group_of_stage.get(sid)
            if group is None:
                return
            m = e.get("Task Metrics") or {}
            acc = {}
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in PY_NAMES:
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks[group].append(
                {
                    "stage": (sid, e.get("Stage Attempt ID", 0)),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                    "py": acc,
                }
            )

    def groups(self, prefix: str) -> list[str]:
        return sorted(g for g in self.tasks if g.startswith(prefix))

    def summary(self, groups: list[str]) -> dict[str, float]:
        ts = [t for g in groups for t in self.tasks.get(g, [])]
        py = defaultdict(int)
        by_stage: dict[tuple, list[dict]] = defaultdict(list)
        for t in ts:
            by_stage[t["stage"]].append(t)
            for k, v in t["py"].items():
                py[k] += v
        # the fused stage: the stage with the most Python-worker time
        fused = max(
            by_stage.values(),
            key=lambda s: sum(t["py"].get(PY_TOTAL, 0) for t in s),
            default=[],
        )
        runs = [t["run_ms"] for t in fused] or [0]
        med = statistics.median(runs)
        return {
            "stages": len(by_stage),
            "tasks": len(ts),
            "executor_run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "task_skew": (max(runs) / med) if med > 0 else 1.0,
            "python_sent_mb": py[PY_SENT] / MB,
            "python_recv_mb": py[PY_RECV] / MB,
            # the Python timing metrics are in milliseconds
            "python_total_s": py[PY_TOTAL] / 1e3,
            "python_boot_s": py[PY_BOOT] / 1e3,
            "python_init_s": py[PY_INIT] / 1e3,
        }


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle or broadcast) in the executed plan of ``df``,
    skipping the "Initial Plan" branches adaptive execution prints beside
    its final plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n, skip = 0, None
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        indent = len(line) - len(body)
        if skip is not None and indent >= skip:
            continue
        skip = None
        if body.startswith("== Initial Plan =="):
            skip = indent
        elif body.startswith(("Exchange", "BroadcastExchange")):
            n += 1
    return n


# ---------------------------------------------------------------------------
# kernel replay


class Spans:
    def __init__(self):
        self.s = defaultdict(float)
        self.n = defaultdict(int)

    def time(self, name: str, fn, *a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self.s[name] += time.perf_counter() - t


def replay(payload, cfg, sp: Spans) -> dict:
    """``extract_turn(payload, cfg)`` rebuilt from the kernels' public
    functions, with a span around each call."""
    from rapidocr_spark.kernels import cls as cls_kernel
    from rapidocr_spark.kernels import rec as rec_kernel
    from rapidocr_spark.kernels.codec import (
        LoadImageError, decode_bitmap, decode_image_payload, payload_kind,
    )
    from rapidocr_spark.kernels.crop import crop_quad, whole_image_box
    from rapidocr_spark.kernels.det import detect, sorted_boxes
    from rapidocr_spark.kernels.html_extract import extract_main_content
    from rapidocr_spark.kernels.oracle import _result, extract_plain
    from rapidocr_spark.kernels.pdf_extract import extract_pdf_layout

    sp.n["turns"] += 1
    kind = payload_kind(payload)
    if kind == "invalid":
        sp.n["errors"] += 1
        return _result(None, None, error="LoadImageError: unrecognised payload")
    if kind == "plain":
        return _result([], extract_plain(payload[len("plain:"):]))
    if kind == "html":
        return _result([], sp.time("html", extract_main_content, payload[len("html:"):]))
    if kind == "pdf":
        return _result([], sp.time("pdf", extract_pdf_layout, payload[len("pdf:"):]))
    try:
        img = sp.time("decode", decode_image_payload if kind == "image" else decode_bitmap, payload)
    except LoadImageError as exc:
        sp.n["errors"] += 1
        return _result(None, None, error=f"LoadImageError: {exc}")
    h, w = img.shape[:2]
    ratio = cfg.width_height_ratio != -1 and w / h > cfg.width_height_ratio
    if not cfg.use_det or h <= cfg.min_height or ratio:
        sp.n["skip_det"] += 1
        dt_boxes = whole_image_box(img)[np.newaxis, ...]
        crops = [img]
    else:
        pad = max(0, int(cfg.det_padding))
        det_img = np.pad(img, pad, mode="constant") if pad else img
        dt_boxes = sp.time("det", detect, det_img, cfg)
        if dt_boxes.shape[0] < 1:
            return _result(None, None)
        dt_boxes = sp.time("det", sorted_boxes, dt_boxes)
        crops = sp.time("crop", lambda: [crop_quad(det_img, b) for b in dt_boxes])
        if pad:
            dt_boxes = dt_boxes - float(pad)
    sp.n["boxes"] += len(dt_boxes)
    if cfg.use_cls:
        crops, _ = sp.time("cls", cls_kernel.classify_and_rotate, crops, cfg)
    rec_res = (
        sp.time("rec", rec_kernel.recognize, crops, cfg) if cfg.use_rec else [("", 0.0)] * len(crops)
    )
    spans = [
        {
            "box": [[float(x), float(y)] for x, y in box.tolist()],
            "text": r[0],
            "score": float(r[1]),
            "char_scores": list(r[2]) if len(r) > 2 else None,
        }
        for box, r in zip(dt_boxes, rec_res)
        if r[1] >= cfg.text_score
    ]
    sp.n["spans"] += len(spans)
    if not spans:
        return _result(None, None)
    return _result(spans, "\n".join(s["text"] for s in spans))


def kernel_replay(payloads: list[str], cfg) -> tuple[dict[str, float], int]:
    """Replay ``payloads`` with spans; returns the kernel metrics and the
    number of turns whose replay differs from ``extract_turn``."""
    from rapidocr_spark.kernels.oracle import extract_turn

    sp = Spans()
    mismatches = 0
    for p in payloads:
        got = replay(p, cfg, sp)
        sp.n["chars"] += got["n_chars"]
        if got != extract_turn(p, cfg):
            mismatches += 1
    m = {f"kernels.{k}_s": sp.s[k] for k in ("decode", "det", "crop", "cls", "rec", "html", "pdf")}
    for k in ("turns", "boxes", "chars", "errors", "skip_det"):
        m[f"kernels.{k}"] = sp.n[k]
    m["kernels.span_yield"] = sp.n["spans"] / sp.n["boxes"] if sp.n["boxes"] else 0.0
    return m, mismatches
