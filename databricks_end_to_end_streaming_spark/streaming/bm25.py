"""Incremental BM25 retrieval index — the streaming twin of
``queries/text.py::bm25_keyword_search``.

Both relations BM25 needs are mergeable monoids: the per-document
feature rows (doc_id, doclen, tf per term) are immutable facts appended
once, and the 1-row corpus statistics (n_docs, total_len, per-term df)
are sums — so each micro-batch appends one feature partial and one stats
partial under its replay token (the moments/drift/gram/DSIR protocol).
Finalizing folds the stats log by addition and scores the accumulated
features through ``bm25_score_from`` — the EXACT expression core the
batch query uses — so a drained stream reproduces the batch top-k
bit-for-bit regardless of how batches sliced the corpus
(tests/test_bm25_stream.py asserts equality against the registered
query).

This is the production shape for a 100 TB lexical index that ingests
continuously: new documents update df/N/avg-length by ADDITION (no
history rescan), and any query scores against the freshest statistics;
the feature log is the (tiny, per-term) posting data, written once per
document. The prequential ``up_to_batch`` view answers "what would this
query have returned as of batch N" for relevance drift monitoring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.text import (
    BM25_TOP_K,
    bm25_corpus_stats,
    bm25_doc_features,
    bm25_score_from,
)
from .medallion import drain_foreach
from .sinks import ParquetTable


def bm25_stage(features_table: ParquetTable, stats_table: ParquetTable):
    """foreachBatch body factory: project this batch's BM25 features ONCE
    (map-only — no pin needed, both appends derive from one narrow
    relation Spark evaluates per sink) and append the feature rows plus
    the 1-row stats partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        base = bm25_doc_features(batch_df)
        features_table.append_log(base, batch_id, "features")
        stats_table.append_log(bm25_corpus_stats(base), batch_id, "stats")

    return stage


def bm25_topk_from_log(
    spark: SparkSession,
    features_table: ParquetTable,
    stats_table: ParquetTable,
    up_to_batch: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Top-k BM25 results from the accumulated logs — shared scoring
    core, so drained == batch bit-for-bit. With ``up_to_batch`` only
    batches <= that id contribute (prequential view); ``top_k`` widens
    the cut for downstream consumers (the hybrid-RRF lexical leg served
    from this log)."""
    feats = features_table.read_log(spark, up_to_batch)
    stats_log = stats_table.read_log(spark, up_to_batch)
    # fold only the monoid columns: _-prefixed bookkeeping and the
    # token-dir partition columns (batchid/role, parquet mode only) are
    # not statistics
    sum_cols = [
        c
        for c in stats_log.columns
        if not c.startswith("_") and c not in ("batchid", "role")
    ]
    stats = stats_log.groupBy().agg(*[F.sum(c).alias(c) for c in sum_cols])
    base = feats.select(
        *[c for c in feats.columns if not c.startswith("_") and c not in ("batchid", "role")]
    )
    if top_k is None:
        top_k = BM25_TOP_K
    return bm25_score_from(base, stats, top_k=top_k)


def bm25_index_stage(
    source: DataFrame,
    features_table: ParquetTable,
    stats_table: ParquetTable,
    checkpoint: str,
    query_name: str = "bm25_index_incremental",
) -> None:
    """Streaming wrapper: drain available document batches into the
    incremental BM25 index (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(
        source,
        bm25_stage(features_table, stats_table),
        checkpoint,
        query_name,
    )
