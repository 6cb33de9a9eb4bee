"""Incremental reshard-movement ledger — the streaming twin of
``queries/pipeline.py::reshard_movement_rendezvous``.

Rendezvous assignment is a pure per-document function, so per-shard
movement counts are SUM monoids over an append-only corpus: each
micro-batch assigns ITS OWN documents (map-only HOF md5 work) and
appends a shard-sized partial under its replay token; finalizing folds
the log by addition. Drained == batch bit-for-bit; replays overwrite
their own token.

Production loop at 100 TB: the topology-change copy-job estimate stays
CURRENT as the corpus grows — every ingest batch updates the
shard-sized ledger, and reading the plan costs a ledger scan, never a
corpus re-hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.pipeline import reshard_partials
from .sinks import ParquetTable


def reshard_stage(table: ParquetTable):
    """foreachBatch body: append this batch's per-shard
    (n_docs, n_incoming) partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = reshard_partials(batch_df.select("doc_id"))
        table.append_log(partial, batch_id, "reshard")

    return stage


def reshard_report_from_log(
    spark: SparkSession,
    table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(shard, n_docs, n_incoming) — the batch query's exact output,
    folded from the partial log."""
    log = table.read_log(spark, up_to_batch)
    return (
        log.groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_incoming").alias("n_incoming"),
        )
        .orderBy("shard")
    )
