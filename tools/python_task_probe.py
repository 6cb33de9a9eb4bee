"""Per-task cost of crossing into Python: median walls of three tiny jobs
on ``get_spark``'s session, each on one partition so the wall is one
task's fixed cost rather than its work.

    python tools/python_task_probe.py [REPEATS]     # default 15

* ``jvm_only``     — ``spark.range(1000).count()``: no Python worker.
* ``map_in_arrow`` — identity ``mapInArrow`` over the same range.
* ``rdd_map``      — ``parallelize([1], 1).map(lambda x: x).collect()``.

Each job runs once untimed (worker start-up) before the timed repeats.
The two Python walls minus ``jvm_only`` are the price of a Python task.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from databricks_end_to_end_streaming_spark import get_spark


def _median_wall(fn, repeats: int) -> float:
    fn()
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 15
    spark = get_spark(
        "python-task-probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = spark.range(0, 1000, numPartitions=1)
    jobs = {
        "jvm_only": lambda: rng.count(),
        "map_in_arrow": lambda: rng.mapInArrow(lambda it: it, rng.schema)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "rdd_map": lambda: spark.sparkContext.parallelize([1], 1)
        .map(lambda x: x)
        .collect(),
    }
    try:
        out = {f"{k}_s": round(_median_wall(fn, repeats), 4) for k, fn in jobs.items()}
        out["daemon_module"] = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
