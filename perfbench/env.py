"""Process-level plumbing for the benchmark: the work directory inside the
checkout, the Spark session, /proc sampling of the process tree, and the
run record printed at the start of every invocation."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CLK_TCK = os.sysconf("SC_CLK_TCK")

# the CLI's session settings (scripts/run_extraction.py), plus what the
# benchmark pins for steadiness: a fixed-size driver heap (-Xms = -Xmx, so
# its resident size follows the pages the program touches, not the
# heap-growth policy) and local dirs inside the checkout
HEAP = "512m"
ARROW_BATCH = 1024


def parallelism() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def prepare_workdir() -> None:
    """Fresh scratch area inside the checkout; also the temp dir of this
    process, the JVM and every Python worker it starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # few malloc arenas: steadier native memory in the JVM and the workers
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # no JVM (the launcher's included) keeps its perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # Python workers import the package from the checkout, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_settings(trace: bool) -> dict[str, str]:
    n = parallelism()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "rapidocr-spark-perfbench",
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "events")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(trace: bool):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_settings(trace).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    sc = spark.sparkContext
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# ---------------------------------------------------------------------------
# /proc readings


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu(pid: int) -> float:
    """CPU seconds of one process, reaped children included."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read()
    except OSError:
        return 0.0
    v = s[s.rindex(b")") + 2 :].split()
    # fields 14-17 (utime stime cutime cstime), 1-based
    return (int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])) / CLK_TCK


def _pss(pid: int) -> int:
    """Proportional resident bytes of one process: pages shared with other
    processes (the Python workers are forked from one daemon) are split
    between them, so a sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class Tree:
    """The benchmark's process tree split as driver (this process), JVM
    and Python workers (every descendant of the JVM)."""

    def __init__(self, jvm: int | None):
        self.driver = os.getpid()
        self.jvm = jvm

    def sample(self, cpu: bool = True, mem: bool = True) -> dict[str, tuple[float, int]]:
        """(cpu seconds, resident bytes) per part."""
        kids = _children()
        parts = {"driver": [self.driver], "jvm": [], "worker": []}
        if self.jvm is not None:
            parts["jvm"] = [self.jvm]
            parts["worker"] = descendants(self.jvm, kids)
        return {
            name: (
                sum(_cpu(p) for p in pids) if cpu else 0.0,
                sum(_pss(p) for p in pids) if mem else 0,
            )
            for name, pids in parts.items()
        }


class Meter:
    """Meters the passes: CPU seconds per part over each metered interval
    (``cpu``, set by ``stop``) and, from a background thread sampling every
    ``period`` seconds while metering, the peak resident memory of the tree
    and of each part."""

    def __init__(self, jvm: int | None, period: float = 0.1):
        self.tree, self.period = Tree(jvm), period
        self.armed = False
        self.cpu: dict[str, float] = {}
        self.peak_total = 0
        self.peak_part = {"driver": 0, "jvm": 0, "worker": 0}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def start(self) -> None:
        self._c0 = self.tree.sample(mem=False)
        self.armed = True

    def stop(self) -> None:
        self.armed = False
        c1 = self.tree.sample(mem=False)
        self.cpu = {k: c1[k][0] - self._c0[k][0] for k in c1}

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if not self.armed:
                continue
            s = self.tree.sample(cpu=False)
            self.peak_total = max(self.peak_total, sum(v[1] for v in s.values()))
            for k, v in s.items():
                self.peak_part[k] = max(self.peak_part[k], v[1])

    def close(self) -> None:
        self._stop.set()
        self._t.join()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


# ---------------------------------------------------------------------------
# run record


def git_commit() -> str:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown (not a git checkout)"


def run_record(spark, cfg, extra: dict) -> dict:
    import dataclasses

    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "parallelism": parallelism(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": git_commit(),
        "pipeline_config": dataclasses.asdict(cfg),
        "session": {k: spark.conf.get(k) for k in session_settings(False)},
        **extra,
    }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def now() -> float:
    return time.perf_counter()
