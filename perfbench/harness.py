"""Shared plumbing: checkout-local environment, Spark session start, memory
sampling, summary statistics and the result line.

Everything the benchmark and the Spark session write goes under the
checkout: ``.perfbench_work/`` (scratch, removed at exit) and
``.perfbench_traces/`` (traced-run spans).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TRACES = os.path.join(ROOT, ".perfbench_traces")
CORES = 4

# the queries workload's mix (registry names) and the session artifacts it
# builds; run.py names per-layer metrics after both
QUERY_MIX = (
    "w5_sessionize_events",
    "text_quality_score",
    "dedup_minhash_lsh",
    "setsim_prefix_join",
    "sim_ivf_topk",
    "graph_random_walks",
)
ARTIFACTS = ("shingles", "shingles_cut", "minhash_sigs", "ivf_assign", "custsupp")


def prepare_env() -> None:
    """Point every temp/scratch location at the checkout and let Python
    workers import the package from the checkout root."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVMs keep no perf-data files in /tmp (spark-class's launcher JVM
    # reads SPARK_LAUNCHER_OPTS; the driver JVM gets the flag in start_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def data_dir(*parts: str) -> str:
    return os.path.join(WORK, "data", *parts)


def start_session(cores: int):
    """A fresh ``get_spark(cores)`` session → (spark, seconds to start)."""
    from pdf_craft_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "tmp"),
        },
    )
    # Workers already import the package through PYTHONPATH; marking it
    # shipped keeps ensure_package_shipped from zipping it into /tmp.
    spark.sparkContext._pdf_craft_spark_shipped = True
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it: the JVM exits when the
    pipe to its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def timed(fn, *args, **kwargs) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# --- memory ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of this process and its descendants: the driver's and
    the JVM's own peak resident sizes (VmHWM, kept by the kernel), plus the
    largest sum of the Python workers' resident sizes seen by a sampler
    that runs every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.hwm_kb: dict[int, int] = {}  # driver and JVM
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        kids = _children()
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    def sample(self) -> None:
        workers = 0
        for pid in self._tree():
            if pid == os.getpid() or pid in self.hwm_kb or _is_java(pid):
                self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), _rss_kb(pid, "VmHWM"))
            else:
                workers += _rss_kb(pid, "VmRSS")
        self.workers_kb = max(self.workers_kb, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        return (sum(self.hwm_kb.values()) + self.workers_kb) / 1024.0

    def parts_mb(self) -> str:
        driver = self.hwm_kb.get(os.getpid(), 0)
        jvm = sum(self.hwm_kb.values()) - driver
        return f"driver {driver / 1024:.0f} + JVM {jvm / 1024:.0f} + workers {self.workers_kb / 1024:.0f}"


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return os.path.basename(f.read().split(b"\0", 1)[0]) == b"java"
    except OSError:
        return False


# --- statistics ------------------------------------------------------------

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float, bool]:
    """(value, percentile, has ten beyond): the highest percentile of the
    ladder with at least ten samples beyond it.  With fewer than 20 samples
    none qualifies; then the 90th percentile (linear interpolation) is
    reported, flagged as having fewer than ten samples beyond it."""
    n = len(values)
    if n < 2:
        return values[0], 100.0, False
    cuts = statistics.quantiles(values, n=1000, method="inclusive")
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= 10:
            return cuts[int(pct * 10) - 1], pct, True
    return cuts[899], 90.0, False


# --- result ----------------------------------------------------------------

class Report:
    """Collects metrics and failures, prints one human line per metric
    (name, value, unit, sample count, note) and then the JSON result."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str, int, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def put(self, name: str, value: float, unit: str, n: int = 1, note: str = "") -> None:
        self.metrics[name] = (float(value), unit, n, note)

    def fail(self, problem: str) -> None:
        self.problems.append(problem)

    def emit(self, names: list[str]) -> dict:
        for p in self.problems[:20]:
            print(f"# FAIL {p}")
        frac = self.failed / self.attempted if self.attempted else 1.0
        print(f"# failed_frac = {frac:.6g} ({self.failed}/{self.attempted} attempted)")
        for name in sorted(self.metrics):
            value, unit, n, note = self.metrics[name]
            shown = "" if name in names else "   [info]"
            print(f"# {name} = {value:.6g} {unit} (n={n}){' ' + note if note else ''}{shown}")
        out = {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": self.metrics[name][0], "unit": self.metrics[name][1]}
                for name in names
            },
        }
        return out


def write_json(path: str, obj) -> None:
    """JSON files written by the benchmark always end with a newline."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
