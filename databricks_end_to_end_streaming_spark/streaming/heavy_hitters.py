"""Streaming heavy hitters: mergeable count-min grids + candidate logs.

The streaming twin of ``cms_token_heavy_hitters`` (queries/extensions.py),
built on the same monoid pattern as ``moments.py``: a count-min grid is
CELL-ADDABLE (Cormode & Muthukrishnan 2005 — grids from different
micro-batches sum), so each batch appends

* its own d x w partial grid (at most depth*width tiny rows), and
* a bounded candidate log: the batch's top ``m`` items by exact
  in-batch count (ties broken by item for determinism),

both under the (batch, role) replay token, so foreachBatch replays
overwrite themselves (T7 protocol). Finalize = cell-wise sum of the grid
log + CMS point queries for the union of logged candidates.

Guarantees: estimates are one-sided (never undercount; overcount <=
eps*N with prob 1-delta — the CMS bound). Candidate recall is the
standard bounded-memory streaming-top-k heuristic: an item in the global
top-k must rank in the top-m of at least one batch to be reported. Any
item with count >= N/m in some batch is logged, so uniformly-hot items
are always caught; an adversary spreading an item thinly below every
batch's top-m can hide it — raise ``m_per_batch`` (log size is
O(batches * m), still batch-count-bounded, not data-bounded) to tighten.

State lives in two append-only parquet logs, not the state store — the
same operational shape as ``moments.py``: compact the tables when batch
count grows; the fold result is unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.cms import DEFAULT_DEPTH, DEFAULT_WIDTH, cms_build, cms_estimate
from .sinks import ParquetTable


def heavy_hitters_stage(
    grid_table: ParquetTable,
    candidate_table: ParquetTable,
    item_col: str = "item",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    m_per_batch: int = 32,
):
    """foreachBatch body factory. The input batch must already be one
    item occurrence per row (explode tokens upstream). Wire as
    ``drain_foreach(stream, heavy_hitters_stage(...), ...)``."""

    def stage(batch_df: DataFrame, batch_id: int) -> None:
        items = batch_df.select(F.col(item_col).alias("item"))
        grid = cms_build(items, "item", depth, width)
        grid_table.append_log(grid, batch_id, "cmsgrid")
        cands = (
            items.groupBy("item")
            .agg(F.count("*").alias("batch_count"))
            .orderBy(F.desc("batch_count"), "item")
            .limit(m_per_batch)
        )
        candidate_table.append_log(cands, batch_id, "candidates")

    return stage


def merged_grid(spark: SparkSession, grid_table: ParquetTable) -> DataFrame:
    """Fold the grid log to one d x w grid — cell-wise sum (cms_merge
    over every logged batch). At most depth*width result rows."""
    return (
        grid_table.read(spark)
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def estimate_heavy_hitters(
    spark: SparkSession,
    grid_table: ParquetTable,
    candidate_table: ParquetTable,
    k: int = 20,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Top-k candidates by CMS estimate over the merged grid, ordered
    (est_count desc, item) for a deterministic result set."""
    cands = candidate_table.read(spark).select("item").distinct()
    est = cms_estimate(
        merged_grid(spark, grid_table), cands, "item", depth, width
    )
    return est.orderBy(F.desc("est_count"), "item").limit(k)
