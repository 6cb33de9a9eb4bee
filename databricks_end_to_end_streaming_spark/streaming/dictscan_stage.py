"""Incremental dictionary-term audit — the streaming twin of
``queries/text.py::dictionary_term_scan``.

Per-term doc counts and non-overlapping hit counts are COUNT MONOIDS
over an append-only corpus (each document arrives in exactly one
micro-batch, so per-batch doc counts sum to the batch query's
countDistinct — the same exactly-once-append contract every other
corpus twin rides): each micro-batch runs ONE Aho-Corasick pass over
its own documents (operators/dictscan.py — the same automaton the
batch query uses) and appends a term-sized partial under its replay
token; finalizing folds the log by addition and right-joins the
broadcast term dim so zero-hit terms still report 0. Drained == batch
bit-for-bit is pure fold algebra; replays overwrite their own token,
so a re-delivered batch cannot double-count.

Production loop at 100 TB: every ingest batch pays one dictionary-
size-independent automaton pass over ITS OWN documents only; the live
audit (or the as-of view at any ``up_to_batch``) reads the dictionary-
sized log, never the corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dictscan import DICT_TERMS, dictionary_hits
from .sinks import ParquetTable


def dictscan_stage(table: ParquetTable, terms: tuple[str, ...] = DICT_TERMS):
    """foreachBatch body: append this batch's per-term (n_docs, n_hits)
    partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            dictionary_hits(batch_df, terms)
            .groupBy("term")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("hits").alias("n_hits"),
            )
        )
        table.append_log(partial, batch_id, "dictscan")

    return stage


def dictscan_report_from_log(
    spark: SparkSession,
    table: ParquetTable,
    terms: tuple[str, ...] = DICT_TERMS,
    up_to_batch: int | None = None,
) -> DataFrame:
    """(term, n_docs, n_hits) — the batch query's exact output, folded
    from the partial log with zero-hit terms restored from the term
    dim."""
    log = table.read_log(spark, up_to_batch)
    agg = log.groupBy("term").agg(
        F.sum("n_docs").alias("n_docs"), F.sum("n_hits").alias("n_hits")
    )
    dim = spark.createDataFrame([(t,) for t in terms], "term string")
    return (
        F.broadcast(agg)
        .join(dim, "term", "right")
        .select(
            "term",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
        .orderBy("term")
    )
