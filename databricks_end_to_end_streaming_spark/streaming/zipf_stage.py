"""Incremental Zipf's-law monitoring — the streaming twin of
``queries/text.py::zipf_fit_per_lang``.

Token frequencies are a sum monoid (the KN-trigram-log shape at unigram
granularity): each micro-batch appends its partial (lang, w, c) counts
under the replay token; the read side folds the log and feeds the SAME
OLS fit the batch query uses (``zipf_fit_from_freq``), so a drained
stream reproduces the batch coefficients bit-for-bit — the production
loop watches the slope per language drift as new data arrives (a burst
of template spam moves it sharply; the prequential ``up_to_batch``
view gives the trajectory).

100 TB shape: per-batch partials are vocabulary-sized after the
map-side partial agg; the log grows with batches x vocab (compactable —
the fold is unchanged); the fit itself runs on vocab-sized groups only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.text import zipf_fit_from_freq
from .medallion import drain_foreach
from .sinks import ParquetTable


def token_count_stage(table: ParquetTable):
    """foreachBatch body factory: append this batch's partial
    (lang, w, c) token counts under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                "lang", F.explode(F.split(F.trim("text"), " +")).alias("w")
            )
            .groupBy("lang", "w")
            .agg(F.count("*").alias("c"))
        )
        table.append_log(partials, batch_id, "tokens")

    return stage


def zipf_from_log(
    spark: SparkSession,
    table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Batch-identical Zipf fit over the folded token-count log
    (prequential with ``up_to_batch``)."""
    log = table.read_log(spark, up_to_batch)
    freq = log.groupBy("lang", "w").agg(F.sum("c").alias("f"))
    return zipf_fit_from_freq(freq)


def zipf_index_stage(
    source: DataFrame,
    table: ParquetTable,
    checkpoint: str,
    query_name: str = "zipf_incremental",
) -> None:
    """Streaming wrapper: drain available batches into the count log
    (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, token_count_stage(table), checkpoint, query_name)
