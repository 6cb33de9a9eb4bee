"""Streaming EWMA — the incremental twin of
``queries/analytics.py::ewma_event_value_per_user``.

EWMA is a non-associative left fold (s_i = a*x_i + (1-a)*s_{i-1}), so
unlike moments it is NOT a mergeable monoid: cross-batch continuation
needs the previous state as the fold's initial accumulator. The state
store here is the same append-only versioned log the other stages use —
one (key, ewma, n_events, _batch_id) row per key per batch it appears
in, written under the (batch, role) replay token:

* exactly-once under foreachBatch replays — batch N reads its prior
  state as "latest row per key with _batch_id < N", so a replay sees
  the SAME prior state it saw the first time (its own earlier write is
  excluded by the strict inequality and simply overwritten), and
  re-folding yields identical values instead of double-applying;
* bit-exactness — within a batch the fold runs over sort_array'd
  (order cols, value) structs with the stored ewma as init, the exact
  operand order of the batch query, so feeding time-ordered batches
  reproduces the one-shot batch fold bit-for-bit
  (tests/test_ewma_stream.py asserts this against the registered
  query's arithmetic);
* distribution — per-batch work is one groupBy(key) shuffle of the
  batch plus a key-sized state join; nothing corpus-sized recomputes.

Ordering contract (inherent to EWMA, documented not hidden): batches
must partition event time per key in non-decreasing order — i.e. every
event in batch N+1 is no older than batch N's events for that key
(true for replayed file streams and watermark-ordered sources). Late
data violating this folds in arrival order, exactly like any online
EWMA. The state log grows with batches x active keys; compact the
table when batch count gets large — ``current_ewma`` only ever needs
the latest row per key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .sinks import ParquetTable


def current_ewma(
    spark: SparkSession, state_table: ParquetTable, before_batch: int | None = None
) -> DataFrame:
    """Latest (key, ewma, n_events) per key; with ``before_batch``,
    latest STRICTLY BEFORE that batch id (the replay-safe prior-state
    view batch N folds from)."""
    log = state_table.read_log(
        spark, None if before_batch is None else before_batch - 1
    )
    w = Window.partitionBy("key").orderBy(F.desc("_batch_id"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("key", "ewma", "n_events")
    )


def ewma_stage(
    state_table: ParquetTable,
    key: str,
    value: str,
    order: tuple[str, ...] = ("ts",),
    alpha: float = 0.5,
):
    """foreachBatch body factory: continue each key's EWMA fold across
    micro-batches. Wire as
    ``drain_foreach(stream, ewma_stage(...), ...)``.

    ``order`` must form a TOTAL order per key within a batch (add a
    unique tiebreaker — e.g. ``("ts", "event_id")``, the batch query's
    convention): ties would otherwise sort by the value field of the
    gathered struct, silently changing the fold order."""

    a = F.lit(float(alpha))

    def fold(acc: F.Column, x: F.Column) -> F.Column:
        return a * x + (F.lit(1.0) - a) * acc

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        seq = batch_df.groupBy(F.col(key).alias("key")).agg(
            F.sort_array(
                F.collect_list(F.struct(*order, value))
            ).alias("_seq"),
            F.count("*").alias("_batch_n"),
        )
        if state_table.exists():
            prior = current_ewma(spark, state_table, before_batch=batch_id)
            prior = prior.select(
                "key",
                F.col("ewma").alias("_prior_ewma"),
                F.col("n_events").alias("_prior_n"),
            )
            joined = seq.join(prior, "key", "left")
        else:
            joined = seq.withColumn(
                "_prior_ewma", F.lit(None).cast("double")
            ).withColumn("_prior_n", F.lit(None).cast("long"))
        vals = F.transform("_seq", lambda s: s[value])
        # existing key: fold ALL batch values from the stored state;
        # new key: s_0 = first value, fold the rest (the batch query's
        # init convention, so one-batch streaming == batch exactly)
        cont = F.aggregate(vals, F.col("_prior_ewma"), fold)
        fresh = F.aggregate(
            F.slice(vals, F.lit(2), F.size(vals) - 1),
            F.element_at(vals, 1),
            fold,
        )
        out = joined.select(
            "key",
            F.when(F.col("_prior_ewma").isNotNull(), cont)
            .otherwise(fresh)
            .alias("ewma"),
            (F.coalesce(F.col("_prior_n"), F.lit(0)) + F.col("_batch_n")).alias(
                "n_events"
            ),
        )
        state_table.append_log(out, batch_id, "ewma")

    return stage
