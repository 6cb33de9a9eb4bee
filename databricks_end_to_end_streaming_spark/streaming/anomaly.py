"""Streaming z-score anomaly gate — the incremental twin of
``queries/analytics.py::zscore_event_anomalies``.

Same monoid design as ``moments.py``: per-key scalar moments (n, sx,
sxx) are cell-addable, so each micro-batch appends one tiny partial row
per key under its replay token, and the accumulated fold is the exact
full-corpus moment vector. Scoring is prequential (the standard online-
anomaly evaluation protocol): each batch's rows are z-scored against
the moments accumulated UP TO AND INCLUDING that batch — early batches
see less history, exactly like a production detector. Replays are
deterministic because scoring reads only ``_batch_id <= batch_id``
moment rows: a replay of batch N sees the same history it saw the
first time even if N+1 already landed, and both of its writes overwrite
their own (batch, role) tokens instead of double-appending (T7).

Once the stream has drained, ``score_zscore`` against
``summed_scalar_moments`` reproduces the batch query bit-for-bit: the
moments are exact int64 sums, and the scoring expression
z = (x*n - sx) / sqrt(n*sxx - sx^2) is the same single IEEE division +
sqrt in both paths (tests/test_anomaly.py asserts equality against the
registered ``zscore_event_anomalies`` query).

Shape at 100 TB: the per-batch partial is a map-side aggregate (rows =
distinct keys, not events); scoring joins the tiny per-key moment
relation back by broadcast, so flagging is map-side — the same
zero-corpus-shuffle shape as the batch query. The moment log grows with
batches x keys; compact the table when batch count gets large.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .sinks import ParquetTable

SCALAR_MOMENT_COLS = ["n", "sx", "sxx"]


def partial_scalar_moments(df: DataFrame, key: str, x: F.Column) -> DataFrame:
    """Per-key (n, sx, sxx) of this DataFrame. ``x`` must be an exact
    integer expression (e.g. the corpus-standard DECIMAL-cast cents) so
    sums are order-independent and the accumulated fold is exact."""
    return (
        df.select(F.col(key).alias("key"), x.alias("x"))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )


def summed_scalar_moments(
    spark: SparkSession, table: ParquetTable, up_to_batch: int | None = None
) -> DataFrame:
    """Merge the partial log to one (n, sx, sxx) per key; with
    ``up_to_batch``, only batches <= that id contribute (the replay-
    deterministic prequential view)."""
    log = table.read_log(spark, up_to_batch)
    return log.groupBy("key").agg(
        *[F.sum(c).alias(c) for c in SCALAR_MOMENT_COLS]
    )


def score_zscore(
    df: DataFrame,
    moments: DataFrame,
    key: str,
    x: F.Column,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows of ``df`` whose |z| >= threshold against ``moments``, with a
    ``zscore`` column appended. Identical float discipline to the batch
    query: z = (x*n - sx)/sqrt(n*sxx - sx^2) — exact int64 algebra until
    one IEEE division and one sqrt. The moment relation is per-key and
    broadcast, so scoring never shuffles the data side. Zero-variance
    keys are filtered BEFORE the division (a constant stream has no
    outliers) — under ANSI mode 0/0 would otherwise throw."""
    m = moments.withColumnRenamed("key", key)
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    j = df.withColumn("_x", x).join(F.broadcast(m), key).where(var_num > 0)
    num = (F.col("_x") * F.col("n") - F.col("sx")).cast("double")
    den = F.sqrt(var_num.cast("double"))
    z = num / den
    return (
        j.withColumn("zscore", z)
        .where(F.abs(F.col("zscore")) >= threshold)
        .drop("_x", *SCALAR_MOMENT_COLS)
    )


def anomaly_stage(
    moment_table: ParquetTable,
    flagged_table: ParquetTable,
    key: str,
    x: F.Column,
    threshold: float = 3.0,
):
    """foreachBatch body factory: accumulate this batch's scalar moments
    and append its prequentially-flagged rows. Wire as
    ``drain_foreach(stream, anomaly_stage(...), ...)``."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            partials = partial_scalar_moments(batch_df, key, x)
            moment_table.append_log(partials, batch_id, "moments")
            moments = summed_scalar_moments(
                batch_df.sparkSession, moment_table, up_to_batch=batch_id
            )
            flagged = score_zscore(batch_df, moments, key, x, threshold)
            flagged_table.append_log(flagged, batch_id, "flagged")
        finally:
            batch_df.unpersist()

    return stage
