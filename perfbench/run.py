"""Streaming medallion benchmark: one command, two workloads.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  backlog_drain      ingest -> bronze -> silver -> gold drains of a
                     pre-written backlog (availableNow job DAG)
  query_mix          the headline batch queries over seeded lakehouse
                     tables, closed loop, one client

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. Progress
and the workload's own named figures go to stderr. The exit code is 0
only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import common  # noqa: E402

WORKLOADS = ("backlog_drain", "query_mix")


class Context:
    """What a workload needs: the session, its run dir, the seed and
    measuring time, the tracer, the counting registry and the progress
    listener."""

    def __init__(self, spark, run_dir, seed, seconds, tracer, collector):
        import medallion_io

        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.collector = collector
        self.registry = medallion_io.CountingRegistry()

    def wait_progress(self, query_name: str, timeout: float = 10.0) -> list[dict]:
        """The progress events of a finished query. Listener delivery is
        asynchronous, so wait until the query's events stop arriving."""
        deadline = time.monotonic() + timeout
        seen = -1
        while time.monotonic() < deadline:
            n = len(self.collector.events.get(query_name, []))
            if n and n == seen:
                break
            seen = n
            time.sleep(0.1)
        return self.collector.take(query_name)


def _load_contract() -> dict:
    with open(os.path.join(common.REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _metrics(contract: dict, result: dict, setup_s: float, trace: bool) -> dict:
    ops = result["ops"]
    values = {"op_median_s": common.median(ops), "setup_s": setup_s}
    if trace:
        # per-layer metrics a workload does not exercise read 0
        layers = result.get("layers", {})
        return {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in contract["per_layer"]
        }
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in contract["end_to_end"]
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    contract = _load_contract()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = common.Tracer(bool(args.trace), run_id)
    with common.RunDir(args.workload, args.seed) as run_dir:
        # the engine reads SPARK_GRAFT_CPUS when it is imported
        common.configure_env(run_dir)
        common.import_engine()  # fails here when the program is absent
        import drain
        import querymix

        module = {"backlog_drain": drain, "query_mix": querymix}[args.workload]
        spark, start_s = common.start_session(run_dir)
        try:
            collector = common.make_progress_collector()
            spark.streams.addListener(collector)
            ctx = Context(spark, run_dir, args.seed, args.seconds, tracer, collector)
            result = module.run(ctx)
            rss_mb = common.jvm_peak_rss_mb(spark)
            spark.streams.removeListener(collector)
        finally:
            common.stop_session(spark)
    setup = result["setup"]
    setup_s = start_s + sum(setup.values())
    if args.trace:
        result.setdefault("layers", {}).update(
            {
                "session.start_s": start_s,
                "sources.generate_s": setup.get("generate_s", 0.0),
                "jvm.peak_rss_mb": rss_mb,
                "trace.span_cost_s": tracer.span_cost_s(),
            }
        )
        tracer.write(os.path.join(common.OUT_ROOT, f"trace-{run_id}.json"))
    named = dict(result["named"])
    named["setup_s"] = (setup_s, "s")
    named["jvm_peak_rss_mb"] = (rss_mb, "MiB")
    named["ops_attempted"] = (result["attempted"], "count")
    named["ops_failed_ratio"] = (result["failed"] / result["attempted"], "ratio")
    print(
        json.dumps({"workload": args.workload, "seed": args.seed,
                    "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                    "setup": setup, "problems": result["problems"],
                    "layers": result.get("layers", {})}),
        file=sys.stderr,
    )
    correct = not result["problems"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": _metrics(contract, result, setup_s, bool(args.trace)),
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
