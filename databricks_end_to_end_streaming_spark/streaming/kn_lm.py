"""Incremental Kneser-Ney trigram LM — the streaming twin of
``queries/text.py::lm_kneser_ney_score``.

Both relations the KN model needs are mergeable monoids, exactly the
BM25-index shape (streaming/bm25.py): the positioned trigram instance
rows (doc_id, pos, w1, w2, w3) are immutable per-document facts appended
once, and the trigram TYPE counts are sums — so each micro-batch appends
one instance partial and one count partial under its replay token.
Finalizing folds the count log by addition into the corpus trigram type
table and scores the accumulated instances through ``kn_scores_from`` —
the EXACT expression core the batch query uses — so a drained stream
reproduces the batch scores bit-for-bit regardless of how batches sliced
the corpus: every continuation statistic (N1+, T) is a deterministic
function of the folded exact-int64 type table
(tests/test_kn_stream.py asserts equality against the registered query).

This is the production shape for a continuously-retrained corpus LM at
100 TB: new documents update the model by ADDITION (count partials are
vocabulary-typed, never corpus-sized; no history rescan), and any new
document scores against the freshest model by joining only ITS OWN
instances. The prequential ``up_to_batch`` view answers "how fluent did
this doc look under the model as of batch N" for drift monitoring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.text import kn_instances, kn_scores_from
from .medallion import drain_foreach
from .sinks import ParquetTable


def kn_lm_stage(inst_table: ParquetTable, counts_table: ParquetTable):
    """foreachBatch body factory: project this batch's trigram instances
    ONCE (map-only explode — both appends derive from one narrow
    relation) and append the instance rows plus the per-type count
    partial under the replay token."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        inst = kn_instances(batch_df)
        inst_table.append_log(inst, batch_id, "inst")
        counts_table.append_log(
            inst.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3")),
            batch_id,
            "counts",
        )

    return stage


def kn_scores_from_log(
    spark: SparkSession,
    inst_table: ParquetTable,
    counts_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Per-doc KN scores from the accumulated logs — shared scoring
    core, so drained == batch bit-for-bit. With ``up_to_batch`` only
    batches <= that id contribute (prequential view)."""
    inst = inst_table.read_log(spark, up_to_batch)
    counts = counts_table.read_log(spark, up_to_batch)
    tri = counts.groupBy("w1", "w2", "w3").agg(
        F.sum("c3").cast("long").alias("c3")
    )
    base = inst.select("doc_id", "pos", "w1", "w2", "w3")
    return kn_scores_from(base, tri)


def kn_lm_index_stage(
    source: DataFrame,
    inst_table: ParquetTable,
    counts_table: ParquetTable,
    checkpoint: str,
    query_name: str = "kn_lm_incremental",
) -> None:
    """Streaming wrapper: drain available document batches into the
    incremental KN model (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, kn_lm_stage(inst_table, counts_table), checkpoint, query_name)


def ccnet_buckets_from_log(
    spark: SparkSession,
    inst_table: ParquetTable,
    counts_table: ParquetTable,
    langs: DataFrame,
    up_to_batch: int | None = None,
) -> DataFrame:
    """CCNet head/middle/tail buckets over the accumulated KN log — the
    incremental twin of queries/text.py::ccnet_perplexity_buckets.
    ``langs`` is the (doc_id, lang) dimension (in a live pipeline, a
    column carried by the ingested documents). Shares both expression
    cores (kn_scores_from + ccnet_buckets_from), so a drained log
    buckets bit-for-bit like the batch query; ``up_to_batch`` gives the
    prequential "buckets as of batch N" view for corpus-quality drift
    monitoring."""
    from ..queries.text import ccnet_buckets_from

    scores = kn_scores_from_log(
        spark, inst_table, counts_table, up_to_batch=up_to_batch
    )
    return ccnet_buckets_from(scores, langs)
