"""Incremental covariance / PCA refresh — the streaming twin of
``operators/pca.covariance_stats``.

The PCA preprocessing statistics (fixed-point second-moment cells +
mean sums + row count) are exact int64 sums, i.e. a mergeable monoid
like the moment/contingency/CMS stages: each micro-batch appends its
partial cell relation (built by the SAME ``covariance_cells`` the batch
operator uses) under the (batch, role) replay token, and the
accumulated fold IS the full-corpus statistic bit-for-bit — so the
principal components can be refreshed from the log at any time without
rescanning history (tests/test_gram_stream.py asserts the drained fold
equals the one-shot ``covariance_stats`` exactly, eigenvectors
included, and that replays never double-add).

Per-batch work mirrors the batch operator: the d^2 upper-triangle
explode collapses map-side to <= d(d+1)/2 cells before one tiny
shuffle; the log grows with batches x cells (compact when batch count
gets large — the fold result is unchanged).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.pca import covariance_cells, finalize_covariance, pca_components
from .sinks import ParquetTable


def gram_stage(table: ParquetTable, col: str = "embedding"):
    """foreachBatch body factory: append this batch's partial covariance
    cells under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials = covariance_cells(batch_df, col)
        table.append_log(partials, batch_id, "gram")

    return stage


def covariance_from_log(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> tuple[np.ndarray, np.ndarray, int]:
    """(cov, mean, n) from the accumulated cell log — exact int64 merge,
    then the identical float finalization as the batch operator, so
    drained == one-shot bit-for-bit."""
    log = table.read_log(spark, up_to_batch)
    cells = (
        log.groupBy("i", "j")
        .agg(
            F.sum("dot_q").alias("dot_q"),
            F.sum("sum_q").alias("sum_q"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    return finalize_covariance(cells)


def pca_from_log(
    spark: SparkSession, table: ParquetTable, k: int, up_to_batch: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(components, mean) refreshed from the accumulated log — feed into
    ``operators/pca.project_embeddings`` for the map-only projection."""
    cov, mean, _n = covariance_from_log(spark, table, up_to_batch)
    return pca_components(cov, k), mean


def drift_between_logs(
    spark: SparkSession,
    table_a: ParquetTable,
    table_b: ParquetTable,
    topk: int = 20,
) -> DataFrame:
    """Incremental form of ``queries/similarity.py::
    embedding_snapshot_drift``: compare two accumulated cell logs (e.g.
    last week's corpus vs this week's, each fed by its own
    ``gram_stage``) without touching raw embeddings — the folds are the
    exact Gram cells, so the drift ranking matches the batch monitor
    bit-for-bit (tests/test_gram_stream.py proves it on parity-half
    logs). Integer cross-multiplication |dot_a*n_b - dot_b*n_a| in
    DECIMAL(38,0) ranks cells; the scoring is the SHARED ``rank_drift``
    tail (queries/similarity.py), so the bit-for-bit contract with the
    batch monitor cannot drift."""
    from ..queries.similarity import rank_drift

    def fold(table: ParquetTable, dot_alias: str, n_alias: str) -> DataFrame:
        log = table.read(spark)
        return log.groupBy("i", "j").agg(
            F.sum("dot_q").alias(dot_alias),
            # every cell of one batch carries that batch's row count:
            # summing any fixed cell's n across the log = total rows
            F.sum("n").alias(n_alias),
        )

    a = fold(table_a, "dot_a", "na_cell")
    b = fold(table_b, "dot_b", "nb_cell")
    joined = a.join(b, ["i", "j"], "outer").fillna(
        0, subset=["dot_a", "dot_b", "na_cell", "nb_cell"]
    )
    n = joined.agg(
        F.max("na_cell").alias("n_a"), F.max("nb_cell").alias("n_b")
    )
    cells = joined.drop("na_cell", "nb_cell")
    return rank_drift(cells, n, topk)
