"""Shared pieces of the medallion benchmark: per-run isolation, the span
tracer, the progress-event collector, the session start and small
statistics helpers.

Nothing here changes the engine: every layer is measured from outside,
by timing calls into the package's public functions and by reading the
progress events Spark itself emits.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# Every file a run writes lives under these checkout-local directories
# (both are listed in the root .gitignore).
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(REPO_ROOT, ".perfbench_out")


def import_engine():
    """Put the checkout root on sys.path and import the engine package.
    Raises ImportError when the benchmark runs without the program."""
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    import databricks_end_to_end_streaming_spark as engine

    return engine


class RunDir:
    """A fresh working directory for one run: tables, checkpoints and
    Spark's local scratch all live under it, and it is removed when the
    run ends, so no file listing or state store carries over between
    runs."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")

    def __enter__(self) -> "RunDir":
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only succeeds once no run is using it
        except OSError:
            pass


# A fixed driver heap: the engine's default (70% of RAM, up to 12g) grows
# with the host, and with 10g on a 15 GiB host the run-to-run spread of
# drain times was 0.26 (IQR/median over 5 runs) against 0.15 at 3g.
DRIVER_HEAP = "3g"


def configure_env(run_dir: RunDir) -> None:
    """Per-run process environment, set before the JVM starts:
    ``SPARK_GRAFT_CPUS`` from the CPUs this process may use (what
    ``nproc`` reports), the driver heap, and ``SPARK_LOCAL_DIRS`` and
    ``TMPDIR`` inside the run dir."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    local = run_dir.sub("spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # temporary files (the gateway handshake, native libraries the JVM
    # unpacks) stay inside the run dir too
    tmp = run_dir.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(run_dir: RunDir):
    """Start the engine's session (``session.get_spark``) with its
    warehouse inside the run dir; returns ``(spark, seconds)``."""
    from databricks_end_to_end_streaming_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
            "spark.local.dir": run_dir.sub("spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir.sub('tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # one trivial job so the timed start includes executor start-up
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc status")


class Tracer:
    """In-memory spans: name, start, end, parent; all spans of one run
    share ``run_id``. Disabled tracers record nothing. Written out once,
    when the run ends."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "run": self.run_id, "name": name, "parent": parent,
                 "start": start, "end": end}
            )

    def span_cost_s(self, n: int = 20_000) -> float:
        """What recording this run's spans cost: the spans recorded times
        the measured cost of one span around an empty body. It leaves out
        everything else a traced run does differently; README.md reports
        traced minus untraced runs for that."""
        probe = Tracer(True, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return len(self.spans) * (time.perf_counter() - t0) / n

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the ``name`` spans recorded after the first ``since``."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def write(self, path: str) -> None:
        """Write the spans, each with its self time: its duration minus
        the time its direct children cover (children of one span never
        overlap, the traced code being sequential)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = [
            dict(s, self=s["end"] - s["start"] - child.get(s["id"], 0.0))
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


def make_progress_collector():
    """A StreamingQueryListener that keeps every progress event of every
    query, as plain dicts, grouped by query name."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.events: dict[str, list[dict]] = {}

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            d = json.loads(event.progress.json)
            with self._lock:
                self.events.setdefault(d.get("name") or "?", []).append(d)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def clear(self) -> None:
            with self._lock:
                self.events.clear()

        def take(self, name: str) -> list[dict]:
            """Remove and return the events of query ``name``."""
            with self._lock:
                return self.events.pop(name, [])

    return ProgressCollector()


DURATION_KEYS = (
    "latestOffset",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


def progress_summary(events: list[dict]) -> dict:
    """Rows, batches, per-phase p50 durations and state-store figures of
    one query's progress events (idle progress without a batch skipped)."""
    batches = [e for e in events if e.get("numInputRows", 0) > 0]
    out = {
        "rows": sum(e["numInputRows"] for e in batches),
        "batches": len(batches),
    }
    for k in DURATION_KEYS:
        vals = [e["durationMs"][k] for e in batches if k in (e.get("durationMs") or {})]
        out[f"{k}_ms"] = median(vals)
    last_state = None
    commit_ms = []
    for e in batches:
        for s in e.get("stateOperators") or []:
            last_state = s
            commit_ms.append(s.get("commitTimeMs", 0))
    if last_state is not None:
        out["state_rows"] = last_state.get("numRowsTotal", 0)
        out["state_mem_bytes"] = last_state.get("memoryUsedBytes", 0)
        out["state_commit_ms"] = median(commit_ms)
    return out


def table_files(path: str) -> tuple[int, int]:
    """(data files, total rows) of a parquet table directory, committed
    or not; rows come from the footers."""
    import pyarrow.parquet as pq

    n_files = n_rows = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                n_files += 1
                n_rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n_files, n_rows


def median(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def wall() -> float:
    return time.perf_counter()
