"""Incremental budget apportionment — the streaming twin of
``queries/dq.py::apportion_budget_largest_remainder``.

Language counts are the COUNT monoid; the Hamilton arithmetic is a
pure function of the folded (lang, n_docs) relation, so the live
allocation recomputes exactly from the lang-sized ledger: each
micro-batch appends its own lang-count partial under its replay token,
and finalizing folds by addition then scores through
``apportion_over_counts`` — the batch query's exact core. Drained ==
batch bit-for-bit; replays overwrite their own token.

Production loop at 100 TB: the training-mix plan ("sample exactly B
docs proportionally") stays current as ingestion proceeds for the cost
of a lang-sized ledger fold — the corpus is never recounted.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..pin import pin
from ..queries.dq import apportion_over_counts
from .sinks import ParquetTable


def lang_count_stage(table: ParquetTable):
    """foreachBatch body: append this batch's (lang, n_docs) partial
    under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.groupBy("lang")
            .agg(F.count("*").alias("n_docs"))
        )
        table.append_log(partial, batch_id, "langcount")

    return stage


def apportionment_from_log(
    spark: SparkSession,
    table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """The batch query's exact apportionment, folded from the
    lang-count log (the as-of view at ``up_to_batch`` is the mix plan
    as it stood after that batch)."""
    log = table.read_log(spark, up_to_batch)
    g = log.groupBy("lang").agg(F.sum("n_docs").alias("n_docs"))
    return apportion_over_counts(pin(g))
