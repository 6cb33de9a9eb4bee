"""Incremental view maintenance (IVM) under retractions — keeping a
grouped aggregate view exact while a CDC stream inserts AND deletes.

The append-only streaming twins (moments, BM25, KMV, web accounting)
fold pure monoids; a CDC stream breaks that: deletes have no inverse
for MIN/MAX, and naive +/- counters corrupt on replay. The textbook
answer (counting algorithm — Gupta, Mumick & Subrahmanian, SIGMOD 1993;
the same multiset-multiplicity idea behind DBSP/materialize-style
engines — public literature) is to maintain the view at
(key, value) grain with a NET MULTIPLICITY: each micro-batch appends
one partial row per touched (key, value) holding sum(+1/-1), and the
reader folds multiplicities by addition. Every aggregate then derives
exactly from the surviving multiset:

  count = sum(net)            sum = sum(net * value)
  max   = max(value) over net > 0      (deletes handled EXACTLY —
  min   = min(value) over net > 0       no re-scan of history)

State is bounded by DISTINCT (key, value) pairs, not by stream length;
partials collapse map-side before the shuffle; replay tokens make
re-delivered batches overwrite their own partials (the uniform
streaming-stage protocol). A delete for a row that was never inserted
leaves net < 0 for that pair — surfaced by ``ivm_consistency_check``
rather than silently clamped.

tests/test_ivm.py proves drained == batch-over-surviving-rows
bit-for-bit, including delete-reinsert churn and max-restoring deletes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .medallion import drain_foreach
from .sinks import ParquetTable

OP_COL = "op"  # 'I' insert | 'D' delete


def ivm_delta_partial(batch_df: DataFrame, key: str, value: str) -> DataFrame:
    """Collapse one CDC micro-batch to (key, value, net) — the only
    thing the stage persists. sum() plants a map-side partial, so the
    shuffle carries at most the batch's distinct (key, value) pairs."""
    sign = F.when(F.col(OP_COL) == "D", F.lit(-1)).otherwise(F.lit(1))
    return (
        batch_df.select(
            F.col(key).alias("k"), F.col(value).alias("v"), sign.alias("s")
        )
        .groupBy("k", "v")
        .agg(F.sum("s").cast("long").alias("net"))
    )


def ivm_stage(delta_table: ParquetTable, key: str, value: str):
    """foreachBatch body factory: append this batch's (k, v, net)
    partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        delta_table.append_log(
            ivm_delta_partial(batch_df, key, value), batch_id, "ivm"
        )

    return stage


def ivm_multiplicities(
    spark: SparkSession,
    delta_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Fold the partial log to surviving net multiplicities per
    (k, v). ``up_to_batch`` gives the prequential as-of view."""
    log = delta_table.read_log(spark, up_to_batch)
    return (
        log.groupBy("k", "v")
        .agg(F.sum("net").cast("long").alias("net"))
        .where(F.col("net") != 0)
    )


def ivm_view(
    spark: SparkSession,
    delta_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """The maintained grouped-aggregate view over surviving rows:
    (k, n_rows, sum_v, min_v, max_v, avg_v) — every measure exact under
    retraction because it derives from the multiplicity relation, never
    from incremental +/- on the aggregate itself."""
    m = ivm_multiplicities(spark, delta_table, up_to_batch).where(
        F.col("net") > 0
    )
    agg = m.groupBy(F.col("k")).agg(
        F.sum("net").alias("n_rows"),
        F.sum(F.col("net") * F.col("v")).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    return agg.select(
        "k",
        "n_rows",
        "sum_v",
        "min_v",
        "max_v",
        (F.col("sum_v").cast("double") / F.col("n_rows").cast("double")).alias(
            "avg_v"
        ),
    )


def ivm_consistency_check(
    spark: SparkSession, delta_table: ParquetTable
) -> DataFrame:
    """(k, v, net) rows with net < 0 — deletes that never matched an
    insert. Empty on a well-formed CDC feed; non-empty means the
    upstream extractor dropped inserts (surface it, don't clamp it)."""
    return ivm_multiplicities(spark, delta_table).where(F.col("net") < 0)


def ivm_maintenance_stage(
    source: DataFrame,
    delta_table: ParquetTable,
    checkpoint: str,
    key: str,
    value: str,
    query_name: str = "ivm_incremental",
) -> None:
    """Streaming wrapper: drain available CDC batches into the
    multiplicity log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, ivm_stage(delta_table, key, value), checkpoint, query_name)
