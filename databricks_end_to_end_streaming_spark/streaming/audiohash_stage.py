"""Incremental audio near-dup — the streaming twin of
``queries/extensions.py::audio_energy_neardup``, generalizing the
signature-log pattern of ``streaming/phash_stage.py`` to the
energy-delta fingerprint (operators/audiohash.py).

The per-batch partial is the batch's own (media_id, audiohash) rows —
hashing is a pure per-row function of the payload, so the signature LOG
is slicing- and order-insensitive by construction and replay safety
comes from the token'd ``idempotent_append`` protocol. The read side
runs the SAME banded Hamming pairing the batch query uses over the
folded log, so a drained stream reproduces the batch pair list
bit-for-bit; ``audio_pairs_with_batch`` probes only the new batch's
band rows against the log's chunk index (batch-side build, log-side
probe — history never re-pairs against itself).

100 TB shape: a batch appends 1 long per clip (payload dropped at the
hash, never logged); the full-log pairing is the banded self-join
(never O(n^2)); the per-batch probe joins |batch| band rows against the
log's chunk index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.audiohash import AUDIO_BITS, audio_hashes
from ..operators.simhash import hamming_neardup_pairs, hamming_pairs_probe_index
from .sinks import ParquetTable


def audiohash_stage(sig_table: ParquetTable):
    """foreachBatch body factory: hash this batch's audio rows and
    append the signatures (1 long per clip)."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        sig_table.append_log(audio_hashes(batch_df), batch_id, "audiohash")

    return stage


def audio_pairs_from_log(
    spark: SparkSession,
    sig_table: ParquetTable,
    max_hamming: int = 3,
    up_to_batch: int | None = None,
) -> DataFrame:
    """Banded Hamming pairing over the folded signature log — the batch
    query's exact semantics (``up_to_batch`` gives the prequential
    as-of view)."""
    log = sig_table.read_log(spark, up_to_batch)
    return (
        hamming_neardup_pairs(
            log.select("media_id", "audiohash").dropDuplicates(["media_id"]),
            id_col="media_id",
            sig_col="audiohash",
            bits=AUDIO_BITS,
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )


def audio_pairs_with_batch(
    spark: SparkSession,
    sig_table: ParquetTable,
    batch_id: int,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental serving shape: pairs involving at least one clip from
    ``batch_id`` — the batch's band rows join directly against the log's
    chunk index, so history-vs-history candidates are never generated."""
    log = (
        sig_table.read_log(spark, batch_id)
        .select("media_id", "audiohash")
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
            sig_col="audiohash",
            bits=AUDIO_BITS,
            n_chunks=4,
            max_hamming=max_hamming,
        )
        .withColumnRenamed("media_id_a", "media_a")
        .withColumnRenamed("media_id_b", "media_b")
    )
