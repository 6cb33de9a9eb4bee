"""backlog_drain: a pre-written backlog of wire records drained by the
reference's job DAG, ingest -> bronze -> silver -> gold, each stage an
availableNow query, into a fresh workdir per drain.

Each stage takes the whole backlog in one micro-batch. At this size
the drain is a mix, not a decode benchmark: ingest is about 37% of a
warm drain (about half of it the pure-Python Avro decode, the only
per-record Python code on the path) and the four stages' per-query
fixed costs (planning, WAL and state commits, gold's rewrite) most of
the rest. The backlog is ~22k records, not ~100k, so that a run of
warm-up plus timed drains fits the benchmark's time budget. One
operation is one full drain; drains repeat until the run's measuring
time is used up.
"""

from __future__ import annotations

import shutil

from databricks_end_to_end_streaming_spark.sources import file_stream
from databricks_end_to_end_streaming_spark.streaming.ingest import ingest_avro_stream
from databricks_end_to_end_streaming_spark.streaming.medallion import (
    bronze_stage,
    gold_stage,
    silver_stage,
)
from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

import checker
import medallion_io as io
import probes
from common import DURATION_KEYS, median, progress_summary, table_files, wall

BACKLOG_EVENTS = 20_000  # before duplicates; ~22k wire records
WARMUP_DRAINS = 2
MIN_DRAINS = 3
TOPIC_FILES = 4
QUERY_NAMES = {
    "ingest": "ingest_raw",
    "bronze": "bronze_layer",
    "silver": "silver_layer",
    "gold": "gold_layer",
}


def _drain(ctx, topic: str, workdir: str) -> dict:
    """One full DAG drain; returns the four tables."""
    spark, span = ctx.spark, ctx.tracer.span
    raw = ParquetTable(f"{workdir}/raw")
    bronze = ParquetTable(f"{workdir}/bronze", partition_by=["type"])
    silver = ParquetTable(f"{workdir}/silver", partition_by=["type"])
    gold = ParquetTable(f"{workdir}/gold")
    with span("drain"):
        with span("ingest"):
            ingest_avro_stream(
                file_stream(spark, topic), ctx.registry, raw, f"{workdir}/cp/ingest"
            )
        with span("bronze"):
            bronze_stage(spark, raw, bronze, f"{workdir}/cp/bronze")
        with span("silver"):
            silver_stage(spark, bronze, silver, f"{workdir}/cp/silver")
        with span("gold"):
            gold_stage(spark, silver, gold, f"{workdir}/cp/gold", "2024-01-01 00:00:00")
    return {"raw": raw, "bronze": bronze, "silver": silver, "gold": gold}


def _check(spark, tables: dict, events: list[dict]) -> list[str]:
    return (
        checker.check_raw(io.raw_rows(spark, tables["raw"].path), events)
        + checker.check_silver(io.silver_ids(spark, tables["silver"].path), events)
        + checker.check_gold(io.gold_rows(spark, tables["gold"].path), events)
    )


def run(ctx) -> dict:
    spark = ctx.spark
    topic = ctx.run_dir.sub("topic")
    t0 = wall()
    events, records = io.make_events(BACKLOG_EVENTS, ctx.seed)
    io.write_topic(records, topic, TOPIC_FILES)
    gen_s = wall() - t0

    # warm-up: the first drain loads classes and starts the Python
    # workers (~4x a warm drain); every stage then keeps speeding up as
    # the JIT compiles, the second drain still ~1.5x the later ones
    t0 = wall()
    for k in range(WARMUP_DRAINS):
        _drain(ctx, topic, ctx.run_dir.sub(f"warm-{k}"))
        shutil.rmtree(ctx.run_dir.sub(f"warm-{k}"))
    warmup_s = wall() - t0
    ctx.collector.clear()
    ctx.registry.lookups = 0
    warm_spans = len(ctx.tracer.spans)

    drain_s, problems = [], []
    progress = {k: [] for k in QUERY_NAMES}
    files: dict[str, tuple[int, int]] = {}
    failed = 0
    i = 0
    # the measuring time counts drains only, not the checks between them
    while i < MIN_DRAINS or sum(drain_s) < ctx.seconds:
        workdir = ctx.run_dir.sub(f"drain-{i}")
        t0 = wall()
        tables = _drain(ctx, topic, workdir)
        drain_s.append(wall() - t0)
        bad = _check(spark, tables, events)
        if bad:
            failed += 1
            problems.extend(bad[:5])
        for stage, qname in QUERY_NAMES.items():
            progress[stage].append(progress_summary(ctx.wait_progress(qname)))
        if i == 0:
            for name in ("raw", "bronze", "silver"):
                files[name] = table_files(tables[name].path)
            first = tables
        if not (ctx.tracer.enabled and i == 0):
            shutil.rmtree(workdir)
        i += 1

    n_wire = len(records)
    result = {
        "ops": drain_s,
        "attempted": len(drain_s),
        "failed": failed,
        "problems": problems,
        "setup": {"generate_s": gen_s, "warmup_s": warmup_s},
        "named": {
            "drain_s": (median(drain_s), "s"),
            "drain_records": (n_wire, "count"),
            "drains": (len(drain_s), "count"),
            "drain_walls": (drain_s, "s"),
        },
    }
    if ctx.tracer.enabled:
        result["layers"] = _layers(ctx, progress, files, warm_spans)
        # the probes reuse the first drain's tables, kept for them
        result["layers"].update(
            probes.layer_probes(ctx, topic, first["raw"].path, first["gold"].path)
        )
        shutil.rmtree(ctx.run_dir.sub("drain-0"))
    return result


def _layers(ctx, progress, files, warm_spans: int) -> dict:
    def wall_s(stage: str) -> float:
        return median(ctx.tracer.durations(stage, since=warm_spans))

    ing = progress["ingest"]
    sil = progress["silver"]
    bronze_rows = median(p["rows"] for p in progress["silver"])
    silver_rows = median(p["rows"] for p in progress["gold"])
    out = {
        "ingest.wall_s": wall_s("ingest"),
        "ingest.rows": median(p["rows"] for p in ing),
        "ingest.batches": median(p["batches"] for p in ing),
        "bronze.wall_s": wall_s("bronze"),
        "silver.wall_s": wall_s("silver"),
        "gold.wall_s": wall_s("gold"),
        "silver.dedup_ratio": silver_rows / bronze_rows if bronze_rows else 0.0,
        "silver.state_rows": median(p.get("state_rows", 0) for p in sil),
        "silver.state_mem_bytes": median(p.get("state_mem_bytes", 0) for p in sil),
        "silver.state_commit_ms": median(p.get("state_commit_ms", 0) for p in sil),
        "registry.lookups": ctx.registry.lookups,
    }
    for stage in ("ingest", "bronze", "silver", "gold"):
        s = progress[stage]
        for k in DURATION_KEYS:
            out[f"trigger.{stage}.{k}_ms"] = median(p[f"{k}_ms"] for p in s)
        out[f"trigger.{stage}.batches"] = median(p["batches"] for p in s)
    for name, (n_files, n_rows) in files.items():
        out[f"sinks.{name}.files"] = n_files
        out[f"sinks.{name}.rows_per_file"] = n_rows / n_files if n_files else 0.0
    return out
