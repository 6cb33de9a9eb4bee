"""Incremental boilerplate monitor — the streaming twin of
``queries/text.py::boilerplate_prefix_detection``.

The per-(source, prefix) document counts are a SUM monoid, so each
micro-batch appends one collapsed partial under its replay token (the
moments/drift/DSIR/BM25 protocol); finalizing folds the log by addition
and elects winners through ``boilerplate_elect`` — the EXACT core the
batch query uses, so a drained stream reproduces the batch report
bit-for-bit regardless of batch slicing.

Production shape: a crawl that ingests continuously watches each
source's boilerplate share drift (a jump means the source started
injecting a banner); the state is prefix-count rows — vocabulary-of-
prefixes-sized, not corpus-sized — and the prequential ``up_to_batch``
view gives the share trajectory per source.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.text import boilerplate_elect, boilerplate_prefix_counts
from .medallion import drain_foreach
from .sinks import ParquetTable


def boilerplate_stage(counts_table: ParquetTable):
    """foreachBatch body factory: append this batch's collapsed
    (source, prefix) count partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        counts_table.append_log(
            boilerplate_prefix_counts(batch_df), batch_id, "prefixes"
        )

    return stage


def boilerplate_from_log(
    spark: SparkSession,
    counts_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Per-source boilerplate report from the accumulated partials —
    shared election core, so drained == batch bit-for-bit. With
    ``up_to_batch`` only batches <= that id contribute (the drift
    trajectory view)."""
    log = counts_table.read_log(spark, up_to_batch)
    folded = log.groupBy("source", "prefix").agg(
        F.sum("n_docs_with_prefix").alias("n_docs_with_prefix")
    )
    return boilerplate_elect(folded)


def boilerplate_monitor_stage(
    source: DataFrame,
    counts_table: ParquetTable,
    checkpoint: str,
    query_name: str = "boilerplate_incremental",
) -> None:
    """Streaming wrapper: drain available document batches into the
    prefix-count log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, boilerplate_stage(counts_table), checkpoint, query_name)
