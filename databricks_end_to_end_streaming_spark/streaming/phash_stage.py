"""Incremental perceptual image near-dup — the streaming twin of
``queries/extensions.py::image_phash_neardup``.

The per-batch partial is the batch's own (media_id, ahash, dhash)
signature rows — hashing is a pure per-row function of the payload, so
the signature LOG is slicing- and order-insensitive by construction and
replay safety comes from the token'd ``idempotent_append`` protocol.
The read side runs the SAME banded Hamming pairing the batch query uses
over the folded log, so a drained stream reproduces the batch pair list
bit-for-bit; ``pairs_with_batch`` gives the incremental serving shape —
only the new batch's signatures probe the accumulated index, the
standard new-content-vs-corpus dedup question.

100 TB shape: a batch appends 2 longs per image (payload dropped at the
hash, never logged); the full-log pairing is the banded self-join
(never O(n^2)); the per-batch probe joins |batch| rows against the
log's chunk index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.phash import PHASH_BITS, perceptual_hashes
from ..operators.simhash import hamming_neardup_pairs, hamming_pairs_probe_index
from .sinks import ParquetTable


def phash_stage(sig_table: ParquetTable):
    """foreachBatch body factory: hash this batch's media rows and
    append the signatures (2 longs per image)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        sig_table.append_log(perceptual_hashes(batch_df), batch_id, "phash")

    return stage


def phash_pairs_from_log(
    spark: SparkSession,
    sig_table: ParquetTable,
    sig: str = "dhash",
    max_hamming: int = 3,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Banded Hamming pairing over the folded signature log — the batch
    query's exact semantics (``up_to_batch`` gives the prequential
    as-of view)."""
    log = sig_table.read_log(spark, up_to_batch)
    return (
        hamming_neardup_pairs(
            log.select("media_id", sig).dropDuplicates(["media_id"]),
            id_col="media_id",
            sig_col=sig,
            bits=PHASH_BITS,
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )


def pairs_with_batch(
    spark: SparkSession,
    sig_table: ParquetTable,
    batch_id: int,
    sig: str = "dhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental serving shape: pairs involving at least one signature
    from ``batch_id`` — new content probed against everything seen so
    far. The batch's band rows join DIRECTLY against the log's chunk
    index (batch-side build, log-side probe), so candidate generation
    is |batch-bands| x matching log bands; history-vs-history candidates
    are never generated, let alone Hamming-verified."""
    log = (
        sig_table.read_log(spark, batch_id)
        .select("media_id", sig)
        .dropDuplicates(["media_id"])
    )
    batch_sigs = log.join(
        F.broadcast(
            sig_table.read(spark)
            .where(F.col("_batch_id") == batch_id)
            .select("media_id")
            .distinct()
        ),
        "media_id",
        "leftsemi",
    )
    return (
        hamming_pairs_probe_index(
            batch_sigs,
            log,
            id_col="media_id",
            sig_col=sig,
            bits=PHASH_BITS,
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )
