"""Incremental KMV distinct sketch — the streaming twin of
``queries/kmv.py::kmv_distinct_users_per_type``.

The KMV bottom-k is an IDEMPOTENT monoid (union-then-truncate:
commutative, associative, and re-merging the same sketch is a no-op —
operators/kmv.py), which makes it the best-behaved statistic in the
streaming family: the fold is insensitive to batch slicing, to merge
order, AND — unlike the sum-monoid stats (moments/BM25/DSIR) — even a
hypothetical double-append could not corrupt it. The replay-token layer
still guards it (uniform protocol), but correctness does not depend on
it.

Per micro-batch the stage appends the batch's OWN bottom-k partial
(<= k rows per group — bounded state regardless of batch size); the
read side distincts the log and re-truncates, then reports through the
same ``kmv_group_report`` core the batch query uses, so a drained stream
reproduces the batch estimates bit-for-bit
(tests/test_kmv.py::test_drained_stream_equals_batch).

100 TB shape: continuous distinct-cardinality tracking writes k rows
per group per batch, never rescans history, and any as-of-batch-N
prequential view is one filter on the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.kmv import bottom_k, kmv_sketch
from ..queries.kmv import K_USERS, kmv_group_report
from .medallion import drain_foreach
from .sinks import ParquetTable


def kmv_stage(
    sketch_table: ParquetTable,
    k: int = K_USERS,
    key: str = "user_id",
    group_cols: list[str] | None = None,
):
    """foreachBatch body factory: append this batch's bottom-k partial
    sketch of distinct ``key`` hashes per group (default: users per
    event type). With ``group_cols=["day"]`` over day-deriving input
    this IS the persisted-daily-sketch pipeline the weekly rollup query
    (queries/kmv.py::kmv_weekly_users_rollup) assumes upstream —
    tests/test_kmv.py drives that composition end-to-end."""
    groups = group_cols if group_cols is not None else ["event_type"]

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = kmv_sketch(batch_df, key, groups, k)
        sketch_table.append_log(partial, batch_id, "kmv")

    return stage


def kmv_report_from_log(
    spark: SparkSession,
    sketch_table: ParquetTable,
    k: int = K_USERS,
    up_to_batch: int | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fold the partial-sketch log (distinct + re-truncate = the monoid
    merge over every appended partial) and report through the shared
    batch core. ``up_to_batch`` gives the prequential as-of view."""
    groups = group_cols if group_cols is not None else ["event_type"]
    log = sketch_table.read_log(spark, up_to_batch)
    hashes = log.select(*groups, "h").distinct()
    return kmv_group_report(bottom_k(hashes, groups, k), groups, k)


def kmv_sketch_stage(
    source: DataFrame,
    sketch_table: ParquetTable,
    checkpoint: str,
    query_name: str = "kmv_sketch_incremental",
) -> None:
    """Streaming wrapper: drain available event batches into the
    incremental sketch log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, kmv_stage(sketch_table), checkpoint, query_name)
