"""Incremental fuzzy entity resolution — the streaming twin of
``queries/fuzzy.py::fuzzy_part_name_matches``.

A catalog that ingests continuously can't re-run blocked levenshtein
over the full name dictionary per batch. This stage keeps the TOKEN
BLOCK INDEX as accumulated state (one tiny (name, tok) row per token of
each distinct name — the same role the band index plays in
streaming/dedup_stage.py): each micro-batch extracts its NEW distinct
names, finds candidates new-vs-new (within the batch) and new-vs-seen
(probe the accumulated index, strictly older batches only — replay-
safe), verifies levenshtein on candidates only, and appends
name-dictionary rows, token-index rows, and verified matches under
idempotent (batch, role) tokens.

Name counts are a sum monoid (how many fact rows carry each name), so
the dictionary log folds by addition; matches are immutable facts keyed
by the unordered name pair. Work per trigger is O(batch-names x
matching blocks), never O(dictionary^2); a replayed batch cannot match
its own half-written index rows (strictly-older filter) and overwrites
its own outputs (token overwrite semantics / Delta txn dedup).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..queries.fuzzy import FUZZY_MAX_DIST
from ..pin import pin
from .medallion import drain_foreach
from .sinks import ParquetTable


def _verified(cand: DataFrame, max_dist: int) -> DataFrame:
    return (
        cand.withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .where(F.col("edit_dist") <= max_dist)
        .select("name_a", "name_b", "edit_dist")
    )


def fuzzy_batch(
    batch_df: DataFrame,
    names_table: ParquetTable,
    index_table: ParquetTable,
    matches_table: ParquetTable,
    batch_id: int,
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
) -> None:
    """One micro-batch of rows carrying ``name_col`` through the
    incremental ER: collapse to distinct names + counts, probe the token
    index, verify candidates, persist dictionary/index/matches. Callable
    directly so pytest can drive replays without a streaming query."""
    spark = batch_df.sparkSession
    batch_names = (
        batch_df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count("*").alias("n_rows"))
        .transform(pin)  # consumed by index build, two joins, and a sink
    )
    # split on space runs and drop empties: arbitrary input with
    # leading/double spaces must not share a degenerate "" block, which
    # would make the self-join quadratic in the count of such names
    new_tok = batch_names.select(
        "name", F.explode(
            F.filter(F.split("name", " +"), lambda t: t != "")
        ).alias("tok")
    )

    # new-vs-new candidates inside the batch
    cand = (
        new_tok.alias("a")
        .join(
            new_tok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
    )
    # new-vs-seen candidates against the accumulated token index. The
    # BATCH side broadcasts (it is the small relation); strictly-older
    # rows only, so a replayed batch can't match its own index rows. A
    # seen name re-arriving in this batch is NOT new (the dictionary is
    # append-by-count), so pairs where the "seen" name equals a batch
    # name are harmless duplicates the distinct() collapses.
    if index_table.exists():
        seen = index_table.read_log(spark, batch_id - 1)
        cross = (
            F.broadcast(new_tok.alias("n"))
            .join(
                seen.alias("s"),
                (F.col("n.tok") == F.col("s.tok"))
                & (F.col("n.name") != F.col("s.name")),
            )
            .select(
                F.least("n.name", "s.name").alias("name_a"),
                F.greatest("n.name", "s.name").alias("name_b"),
            )
        )
        cand = cand.union(cross)
    cand = cand.distinct().transform(pin)

    matches = _verified(cand, max_dist)
    matches_table.append_log(matches, batch_id, "matches")
    index_table.append_log(new_tok, batch_id, "tok")
    names_table.append_log(batch_names, batch_id, "names")


def fuzzy_matches_from_log(
    spark: SparkSession,
    names_table: ParquetTable,
    matches_table: ParquetTable,
) -> DataFrame:
    """(name_a, name_b, edit_dist, n_rows_a, n_rows_b): the accumulated
    match table with dictionary counts folded by addition — the same
    shape as the batch fuzzy_part_name_matches output (new arrivals of a
    seen name only bump its count; the pair itself was matched when the
    name first appeared)."""
    counts = (
        names_table.read(spark)
        .groupBy("name")
        .agg(F.sum("n_rows").alias("n_rows"))
    )
    pairs = (
        matches_table.read(spark)
        .select("name_a", "name_b", "edit_dist")
        .distinct()
    )
    return (
        pairs.join(
            counts.select(
                F.col("name").alias("name_a"), F.col("n_rows").alias("n_rows_a")
            ),
            "name_a",
        )
        .join(
            counts.select(
                F.col("name").alias("name_b"), F.col("n_rows").alias("n_rows_b")
            ),
            "name_b",
        )
        .select("name_a", "name_b", "edit_dist", "n_rows_a", "n_rows_b")
        .orderBy("name_a", "name_b")
    )


def golden_records_from_log(
    spark: SparkSession,
    names_table: ParquetTable,
    matches_table: ParquetTable,
) -> DataFrame:
    """Golden records over everything ingested so far: fold the name
    dictionary by addition, take the accumulated match pairs as edges,
    and run the SAME survivorship core as the batch er_golden_records
    (CC + heaviest-canonical election) — so drained == batch by
    construction (tests/test_fuzzy_stream.py). The fold runs on the
    dictionary-sized relations only; the expensive pair DISCOVERY
    stayed incremental."""
    from ..queries.fuzzy import golden_records_from

    counts = (
        names_table.read(spark)
        .groupBy(F.col("name").alias("p_name"))
        .agg(F.sum("n_rows").alias("n_parts"))
    )
    pairs = (
        matches_table.read(spark).select("name_a", "name_b").distinct()
    )
    return golden_records_from(counts, pairs)


def fuzzy_er_stage(
    source: DataFrame,
    names_table: ParquetTable,
    index_table: ParquetTable,
    matches_table: ParquetTable,
    checkpoint: str,
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
    query_name: str = "fuzzy_er_incremental",
) -> None:
    """Streaming wrapper: drain available batches through the incremental
    entity resolution (Trigger-Once semantics, SURVEY T1)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fuzzy_batch(
            batch_df,
            names_table,
            index_table,
            matches_table,
            batch_id,
            name_col,
            max_dist,
        )

    drain_foreach(source, process, checkpoint, query_name)
