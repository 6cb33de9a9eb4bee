"""SparkSession factory for the engine.

The reference pipeline inherits its session from the Databricks runtime
(see /root/reference/notebooks/medallion/bronze.py:14 — `spark` is ambient).
Here we own session construction, tuned for both local testing and a large
cluster:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting) —
  essential at 100 TB where static partition counts are always wrong.
* RocksDB state store for streaming state (dedup / agg state at scale;
  the reference's unbounded `dropDuplicates` state would OOM the default
  HDFS-backed in-memory store).
* UTC session timezone so TIMESTAMP semantics match the DuckDB oracle.
* `nanosAsLong` so an `events.parquet` that carries TIMESTAMP(NANOS),
  which Spark has no native type for, stays readable; `tables.py`
  re-types that column to TIMESTAMP_NTZ at microsecond precision. The
  sf0.001/0.01/0.1 files store TIMESTAMP(MICROS) and read as
  TIMESTAMP_NTZ without it.
* Local masters run Python workers under ``worker_daemon`` instead of
  ``pyspark.daemon``. Every Python task calls
  ``importlib.invalidate_caches()``, which on CPython 3.11 re-reads the
  ``pyspark.zip`` directory once per zipimporter — most of a small
  task's wall. The daemon re-reads an archive only when it changed.
  Non-local masters keep Spark's daemon: their executors may not carry
  this package when the daemon starts. The package's parent directory
  is prepended to ``spark.executorEnv.PYTHONPATH`` so the daemon module
  imports from any working directory; without it a driver started
  outside the checkout cannot launch a single Python task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DAEMON_MODULE = "databricks_end_to_end_streaming_spark.worker_daemon"
# the directory that holds the package, for the daemon's PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Driver-heap default sized from the machine instead of a flat 24g:
    min(12g, ~70% of physical RAM, floor 2g). Two reasons for the cap:
    a 24g heap on a 16 GiB laptop fails to launch or swaps, and the r4
    bench regression root-cause (README bench history) showed G1 with a
    very large heap taxes the scan-agg hot path ~25-30% (tpch_q1 1.43 s
    at 4-8g vs 1.8-2.2 s at 24g, monotonic in heap size) — more heap is
    strictly worse once the workload fits. SPARK_GRAFT_DRIVER_MEM
    overrides; bench.py pins its own measured sweet spot."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
        return f"{max(2, min(12, int(total_gib * 0.7)))}g"
    except (ValueError, OSError, AttributeError):
        return "4g"


def get_spark(
    app_name: str = "databricks-end-to-end-streaming-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = {
        # Local mode launches the driver JVM with Spark's 1g default
        # heap unless told otherwise — far too small for a 32-thread
        # "cluster" whose executors, shuffle blocks, broadcast vars and
        # localCheckpoint storage all share it (observed: heap OOM in a
        # long bench session). Honored only at JVM launch; a session
        # that already exists keeps its heap. Sized from physical RAM
        # (min(12g, 70%)) so small hosts still launch and G1 stays out
        # of the scan-agg hot path (see _default_driver_mem).
        "spark.driver.memory": _default_driver_mem(),
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.session.timeZone": "UTC",
        # AQE: coalesce post-shuffle partitions, split skewed joins.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Streaming state at scale: RocksDB spills to local disk instead of
        # holding all keyed state on-heap.
        # (Runtime bloom-filter join pruning is already ON by default in
        # Spark 4 — spark.sql.optimizer.runtime.bloomFilter.enabled —
        # verified, so it is not re-set here.)
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        # Arrow for pandas-UDF boundaries (the only place rows leave the JVM).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Keeps TIMESTAMP(NANOS) parquet readable (as epoch-nanos longs);
        # the shipped events.ts files are TIMESTAMP(MICROS).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Local runs: don't spin up the UI.
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
    }
    if extra_conf:
        conf.update(extra_conf)
    if (master or os.environ.get("SPARK_MASTER", "")).startswith("local"):
        conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
