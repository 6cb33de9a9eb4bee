"""Incremental histogram-quantile summaries — the streaming twin of
``queries/analytics.py::histogram_quantile_rollup``.

The per-batch partial is the batch's own (day, hour, bin, cnt) counts —
a SUM monoid (associative + commutative), so the fold is insensitive to
batch slicing and merge order; replay safety comes from the uniform
token'd ``idempotent_append`` protocol (one partial per batch id, a
replayed batch overwrites its own directory instead of double-counting).
The read side merges the log through the SAME report core the batch
query uses (``hist_quantile_report``), so a drained stream reproduces
the batch p50/p90/p99 bit-for-bit.

100 TB shape: continuous quantile tracking appends <=24h x ~100 bin
rows per batch, never rescans history, and any as-of-batch-N
prequential view is one filter on the log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..queries.analytics import hist_hourly_bins, hist_quantile_report
from .medallion import drain_foreach
from .sinks import ParquetTable


def histogram_stage(bins_table: ParquetTable):
    """foreachBatch body factory: append this batch's hourly bin
    partials (bounded rows regardless of batch size)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = hist_hourly_bins(batch_df)
        bins_table.append_log(partial, batch_id, "hist")

    return stage


def histogram_report_from_log(
    spark: SparkSession,
    bins_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Fold the bin-partial log (sum-merge per (day, bin) happens inside
    the shared report core) into the daily quantile report.
    ``up_to_batch`` gives the prequential as-of view."""
    log = bins_table.read_log(spark, up_to_batch)
    return hist_quantile_report(log.select("day", "bin", "cnt"))


def histogram_sketch_stage(
    source: DataFrame,
    bins_table: ParquetTable,
    checkpoint: str,
    query_name: str = "histogram_incremental",
) -> None:
    """Streaming wrapper: drain available event batches into the
    incremental bin log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, histogram_stage(bins_table), checkpoint, query_name)
