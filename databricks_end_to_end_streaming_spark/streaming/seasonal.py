"""Prequential seasonal forecast monitor — the streaming twin of
``queries/analytics.py::seasonal_naive_backtest``.

The backtest's training state per (event_type, hour-of-day) cell is a
pure SUM monoid — (m, s) = (row count, int64-cents sum) — so the stage
appends one map-side-collapsed cell partial per micro-batch under the
replay token (the moments/BM25/KMV protocol), and any as-of profile is
an addition-fold of the log. Scoring is STRICTLY prequential: a batch
is scored against the profile of strictly OLDER batches only (the
forecast exists before the data it predicts arrives — one notch purer
than the z-score gate's up-to-and-including fold, and replay-safe by
the same strictly-older argument as the dedup/fuzzy index probes).

Everything stays in exact int64 cents: per-row scaled absolute error
|a*m - s| (= m*|a - s/m|), per-cell MAE one IEEE division at report
time — so tests/test_seasonal_stream.py asserts the drained profile
scores the holdout BIT-FOR-BIT like the batch backtest's seasonal
columns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .medallion import drain_foreach
from .sinks import ParquetTable


def seasonal_cells(df: DataFrame) -> DataFrame:
    """(event_type, hr, m, s) training partials of one batch — int64
    cents, map-side partial aggregation."""
    return (
        df.select(
            "event_type",
            F.hour("ts").cast("int").alias("hr"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count("*").alias("m"), F.sum("cents").alias("s"))
    )


def seasonal_stage(profile_table: ParquetTable):
    """foreachBatch body factory: append this batch's cell partials."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        profile_table.append_log(seasonal_cells(batch_df), batch_id, "seasonal")

    return stage


def profile_from_log(
    spark: SparkSession,
    profile_table: ParquetTable,
    before_batch: int | None = None,
) -> DataFrame:
    """Fold the cell log by addition. ``before_batch`` keeps strictly
    older batches only (the prequential view a scorer must use)."""
    log = profile_table.read_log(
        spark, None if before_batch is None else before_batch - 1
    )
    return log.groupBy("event_type", "hr").agg(
        F.sum("m").alias("m"), F.sum("s").alias("s")
    )


def score_against_profile(batch_df: DataFrame, profile: DataFrame) -> DataFrame:
    """Per-cell prequential report of this batch against a folded
    profile: (event_type, hr, n_train, n_scored, forecast_cents,
    mae_cents) — the EXACT expression core of the batch backtest, so
    drained-profile scoring reproduces it bit-for-bit. Cells the
    profile has never seen are dropped (no forecast exists); the inner
    join makes that explicit."""
    scored = (
        batch_df.select(
            "event_type",
            F.hour("ts").cast("int").alias("hr"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .join(profile, ["event_type", "hr"])
        .select(
            "event_type",
            "hr",
            "m",
            "s",
            F.abs(F.col("cents") * F.col("m") - F.col("s")).alias("e1"),
        )
    )
    return scored.groupBy("event_type", "hr").agg(
        F.min("m").alias("n_train"),
        F.count("*").alias("n_scored"),
        (F.min("s").cast("double") / F.min("m")).alias("forecast_cents"),
        (F.sum("e1").cast("double") / (F.min("m") * F.count("*"))).alias(
            "mae_cents"
        ),
    )


def seasonal_monitor_stage(
    source: DataFrame,
    profile_table: ParquetTable,
    report_table: ParquetTable,
    checkpoint: str,
    query_name: str = "seasonal_monitor_incremental",
) -> None:
    """Streaming wrapper: score each batch against the strictly-older
    profile, persist the per-batch report, then fold the batch into the
    profile (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            if profile_table.exists():
                prof = profile_from_log(spark, profile_table, batch_id)
                report = score_against_profile(batch_df, prof)
                report_table.append_log(report, batch_id, "report")
            seasonal_stage(profile_table)(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    drain_foreach(source, process, checkpoint, query_name)
