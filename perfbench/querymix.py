"""query_mix: one closed-loop client runs the headline batch queries
(the same 14 names as bench.py's headline set) over seeded lakehouse
tables, each query's result handed whole to the noop sink. The seed
sets the order within each pass.

It covers the queries/operators layers, the bulk of the code, which
the streaming workloads never touch, and it reads tables the engine's
sink wrote. One operation is one pass over all 14 queries. Results are
checked once per run, on the warm-up pass before the timed ones,
against each query's DuckDB oracle.
"""

from __future__ import annotations

import importlib.util
import os
import random

import duckdb

from databricks_end_to_end_streaming_spark.queries import all_oracles, all_queries

import lakehouse
from common import REPO_ROOT, median, wall

QUERIES = [
    "medallion_end_to_end",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_forecast",
    "window_top3_orders_per_segment",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "text_quality_score",
    "sessionize_events",
    "asof_last_event_value",
    "session_window_events",
    "llm_clean_corpus",
]
MIN_PASSES = 2
WARMUP_PASSES = 2


def _oracle_check_module():
    """tools/oracle_check.py, whose normalize/compare the check reuses."""
    path = os.path.join(REPO_ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pass(ctx, qs, lake: str, order: list[str], per_query: dict) -> float:
    t_pass = wall()
    with ctx.tracer.span("pass"):
        for name in order:
            with ctx.tracer.span(f"query.{name}"):
                t0 = wall()
                qs[name](ctx.spark, lake).write.format("noop").mode("overwrite").save()
                per_query.setdefault(name, []).append(wall() - t0)
    return wall() - t_pass


def _checked_pass(ctx, qs, lake: str, tables: list[str]) -> tuple[float, list[str]]:
    """The warm-up pass: every query collected to pandas and compared
    with its DuckDB oracle (``tools/oracle_check.py``'s compare).
    Returns the seconds spent in the engine and the problems found."""
    oc = _oracle_check_module()
    oracles = all_oracles()
    con = duckdb.connect()
    engine_s = 0.0
    try:
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{lake}/{name}.parquet/*.parquet')"
            )
        problems = []
        for name in QUERIES:
            t0 = wall()
            got = qs[name](ctx.spark, lake).toPandas()
            engine_s += wall() - t0
            want = con.execute(oracles[name]).df()
            problems += [f"{name}: {p}" for p in oc.compare(got, want)]
            if len(got) == 0:
                problems.append(f"{name}: empty result")
        return engine_s, problems
    finally:
        con.close()


def run(ctx) -> dict:
    spark = ctx.spark
    qs = all_queries()
    lake = ctx.run_dir.sub("lake")
    t0 = wall()
    tables = lakehouse.generate(ctx.seed)
    gen_s = wall() - t0
    t0 = wall()
    with ctx.tracer.span("sinks.land"):
        lakehouse.land(spark, tables, lake, ctx.run_dir.sub("staging"))
    land_s = wall() - t0

    # warm-up: the first pass loads classes and compiles code, and
    # doubles as the correctness check (timed without the oracle side);
    # the second pass still runs ~40% slower than the ones after it
    warmup_s, problems = _checked_pass(ctx, qs, lake, list(tables))
    for _ in range(WARMUP_PASSES - 1):
        warmup_s += _pass(ctx, qs, lake, QUERIES, per_query={})

    rng = random.Random(ctx.seed)
    passes = []
    per_query: dict[str, list[float]] = {}
    t_end = wall() + ctx.seconds
    i = 0
    while i < MIN_PASSES or wall() < t_end:
        order = list(QUERIES)
        rng.shuffle(order)
        passes.append(_pass(ctx, qs, lake, order, per_query))
        i += 1

    bad_queries = {p.split(":")[0] for p in problems}
    result = {
        "ops": passes,
        "attempted": len(passes) * len(QUERIES),
        "failed": len(passes) * len(bad_queries),
        "problems": problems,
        "setup": {"generate_s": gen_s, "land_s": land_s, "warmup_s": warmup_s},
        "named": {
            "mix_pass_s": (median(passes), "s"),
            "passes": (len(passes), "count"),
            "pass_walls": (passes, "s"),
            "lineitem_rows": (tables["lineitem"].num_rows, "count"),
        },
    }
    if ctx.tracer.enabled:
        layers = {f"query.{n}_s": median(v) for n, v in per_query.items()}
        layers["sinks.append_s"] = land_s
        result["layers"] = layers
    return result
