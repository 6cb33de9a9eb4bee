"""Incremental winnowing overlap — the streaming twin of
``queries/dedup.py::winnowing_overlap_pairs``.

The per-batch partial is the batch's own winnowed fingerprint rows
(doc_id, fp): fingerprint selection is a pure per-document function of
the text (window minima of k-gram hashes), so the fingerprint LOG is
slicing- and order-insensitive by construction and replay safety comes
from the token'd ``idempotent_append``. The read side runs the SAME
pairing definition the batch query uses (``winnow_overlap_from_fps``)
over the folded log, so a drained stream reproduces the batch pair list
bit-for-bit; ``winnow_pairs_with_batch`` is the incremental serving
shape — only the new batch's fingerprints probe the accumulated index.

One honest deviation in the probe shape, shared with every
accumulated-index twin here: the document-frequency cap is evaluated
against the log AS OF the probed batch, so a fingerprint that later
crosses the boilerplate cap may have produced pairs in earlier probes —
the prequential view, exactly how a production frontier behaves.

100 TB shape: a batch appends ~2/(w+1) fingerprints per gram (text is
dropped at the hash); full-log pairing is the df-cap-bounded bucket
join (never O(n^2)); the per-batch probe joins |batch| fingerprint rows
against the log's rare-fingerprint buckets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.dedup import (
    WINNOW_DF_CAP,
    WINNOW_MIN_SHARED,
    winnow_fingerprints,
    winnow_overlap_from_fps,
    winnow_score_pairs,
)
from .medallion import drain_foreach
from .sinks import ParquetTable


def winnow_stage(fp_table: ParquetTable):
    """foreachBatch body factory: winnow this batch's documents and
    append the fingerprint rows."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        fp_table.append_log(winnow_fingerprints(batch_df), batch_id, "winnow")

    return stage


def _folded(
    spark: SparkSession, fp_table: ParquetTable, up_to_batch: int | None
) -> DataFrame:
    log = fp_table.read_log(spark, up_to_batch)
    return log.select("doc_id", "fp").dropDuplicates(["doc_id", "fp"])


def winnow_pairs_from_log(
    spark: SparkSession,
    fp_table: ParquetTable,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Batch-identical pairing over the folded fingerprint log
    (``up_to_batch`` gives the prequential as-of view)."""
    return winnow_overlap_from_fps(_folded(spark, fp_table, up_to_batch))


def winnow_pairs_with_batch(
    spark: SparkSession, fp_table: ParquetTable, batch_id: int
) -> DataFrame:
    """Incremental serving shape: pairs involving at least one document
    from ``batch_id`` — new content probed against everything seen so
    far. The batch's fingerprints join DIRECTLY against the log's
    rare-fingerprint buckets; history-vs-history candidates are never
    generated."""
    log = _folded(spark, fp_table, batch_id)
    batch_docs = (
        fp_table.read(spark)
        .where(F.col("_batch_id") == batch_id)
        .select("doc_id")
        .distinct()
    )
    batch_fps = log.join(F.broadcast(batch_docs), "doc_id", "leftsemi")

    df_counts = log.groupBy("fp").agg(F.count("*").alias("df"))
    rare = df_counts.where(
        (F.col("df") >= 2) & (F.col("df") <= WINNOW_DF_CAP)
    ).select("fp")
    sizes = log.groupBy("doc_id").agg(F.count("*").alias("n_fp"))

    p = batch_fps.join(rare, "fp", "leftsemi").alias("p")
    x = log.join(rare, "fp", "leftsemi").alias("x")
    shared = (
        p.join(
            x,
            (F.col("p.fp") == F.col("x.fp"))
            & (F.col("p.doc_id") != F.col("x.doc_id")),
        )
        .select(
            F.least("p.doc_id", "x.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "x.doc_id").alias("doc_b"),
            F.col("p.fp").alias("fp"),
        )
        # both endpoints in the batch -> the pair arises twice (p<->x
        # swapped); fp-level distinct collapses it before counting
        .distinct()
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    return winnow_score_pairs(shared, sizes)


def winnow_index_stage(
    source: DataFrame,
    fp_table: ParquetTable,
    checkpoint: str,
    query_name: str = "winnow_incremental",
) -> None:
    """Streaming wrapper: drain available batches into the fingerprint
    log (Trigger-Once semantics, SURVEY T1)."""
    drain_foreach(source, winnow_stage(fp_table), checkpoint, query_name)
