"""Streaming distribution-drift monitor — the incremental twin of
``queries/analytics.py::chi2_value_drift_per_type``.

A contingency table is cell-addable (the counts of a union are the sums
of the counts), so each micro-batch appends one tiny partial
(key, bin, o) relation under its replay token — the same mergeable-
monoid protocol as moments/heavy-hitters/anomaly. Finalizing folds the
log and scores it through ``chi2_over_contingency``, the EXACT
expression core the batch query uses, so a drained stream reproduces
the batch chi-square bit-for-bit (the per-key term sum is a sorted
fold, deterministic regardless of how batches sliced the data —
tests/test_drift_stream.py asserts equality against the registered
query).

The prequential view (``up_to_batch``) gives a per-batch drift
trajectory: score after each batch to watch a key's chi-square rise as
its distribution diverges — the production monitoring loop. Replays are
deterministic for the same reason as the anomaly stage: batch N's
score reads only ``_batch_id <= N`` partials.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from ..pin import pin

from .sinks import ParquetTable


def contingency_stage(table: ParquetTable, key: str, bin_expr: Column):
    """foreachBatch body factory: append this batch's partial
    (key, bin_lo, o) contingency counts under the replay token. Wire as
    ``drain_foreach(stream, contingency_stage(...), ...)``."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                F.col(key).alias("key"), bin_expr.alias("bin_lo")
            )
            .groupBy("key", "bin_lo")
            .agg(F.count("*").alias("o"))
        )
        table.append_log(partials, batch_id, "contingency")

    return stage


def summed_contingency(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Merge the partial log to one (key, bin_lo, o) per cell; with
    ``up_to_batch``, only batches <= that id contribute."""
    log = table.read_log(spark, up_to_batch)
    return log.groupBy("key", "bin_lo").agg(F.sum("o").alias("o"))


def chi2_drift(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """(key, n_events, chi2, n_bins) from the accumulated contingency
    log — identical arithmetic to the batch query (shared core), so
    drained == batch bit-for-bit. The fold result is tiny; the
    localCheckpoint pins it so the scoring branches don't re-read the
    log."""
    from ..queries.analytics import chi2_over_contingency

    obs = summed_contingency(spark, table, up_to_batch).transform(pin)
    return chi2_over_contingency(obs).orderBy("key")


def psi_drift(
    spark: SparkSession,
    table: ParquetTable,
    reference_batch: int,
    up_to_batch: int | None = None,
) -> DataFrame:
    """PSI of the post-reference window against the reference window,
    from the SAME accumulated contingency log the chi-square monitor
    reads: base = cells from batches <= ``reference_batch``, actual =
    cells from later batches (<= ``up_to_batch`` if given). Scoring is
    ``psi_from_counts``, the batch query's exact expression core, so a
    stream drained in the batch query's period split reproduces its
    output bit-for-bit (tests/test_drift_stream.py). The production
    loop: freeze the reference at deployment, score each trigger's
    as-of view, alarm on the drift_class column."""
    from ..queries.analytics import psi_from_counts

    log = table.read_log(spark, up_to_batch)
    base = (
        log.where(F.col("_batch_id") <= reference_batch)
        .groupBy("key", "bin_lo")
        .agg(F.sum("o").alias("c"))
    )
    actual = (
        log.where(F.col("_batch_id") > reference_batch)
        .groupBy("key", "bin_lo")
        .agg(F.sum("o").alias("c"))
    )
    return psi_from_counts(pin(base), pin(actual)).orderBy("key")
