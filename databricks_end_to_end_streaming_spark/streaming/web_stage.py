"""Incremental per-domain web-corpus accounting — the streaming twin of
``queries/web.py::url_domain_accounting``.

A crawl ingests continuously; curation wants the per-domain doc/token/
tracking tallies to stay current without rescanning the corpus. At the
(domain, lang) grain every measure is a SUM monoid, so each micro-batch
appends ONE collapsed partial under its replay token (the moments/
drift/DSIR/BM25/boilerplate log protocol); finalizing folds the log by
addition and runs the SAME ``domain_accounting_rollup`` the batch query
uses — a drained stream reproduces the batch report bit-for-bit
regardless of batch slicing, and replays never double-count.

State size is (domains x langs) rows — vocabulary-sized, never
corpus-sized — and the prequential ``up_to_batch`` view gives each
domain's growth trajectory (a mirror/aggregator host shows up as a
domain whose doc count grows faster than its distinct-content share;
pair with ``domain_duplicate_share`` for the full signal).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.web import domain_accounting_rollup, domain_lang_partials
from .medallion import drain_foreach
from .sinks import ParquetTable


def domain_accounting_stage(partials_table: ParquetTable):
    """foreachBatch body factory: append this batch's collapsed
    (domain, lang) accounting partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partials_table.append_log(domain_lang_partials(batch_df), batch_id, "domains")

    return stage


def domain_accounting_from_log(
    spark: SparkSession,
    partials_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Domain accounting report from the accumulated partials — shared
    rollup core, so drained == batch bit-for-bit. With ``up_to_batch``
    only batches <= that id contribute (the growth trajectory view)."""
    log = partials_table.read_log(spark, up_to_batch)
    folded = log.groupBy("domain", "lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_tracking").alias("n_tracking"),
    )
    return domain_accounting_rollup(folded)


def domain_monitor_stage(
    source: DataFrame,
    partials_table: ParquetTable,
    checkpoint: str,
    query_name: str = "domain_accounting_incremental",
) -> None:
    """Streaming wrapper: drain available document batches into the
    (domain, lang) partial log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(
        source,
        domain_accounting_stage(partials_table),
        checkpoint,
        query_name,
    )
