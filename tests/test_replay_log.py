"""The replay-log protocol ParquetTable owns (streaming/sinks.py):
``idempotent_append`` / ``append_log`` / ``read_log``, the ``_swap_in``
directory swap, and a source guard that keeps the protocol's layout and
the availableNow foreachBatch drain in one module each."""

from __future__ import annotations

import os
import re

import databricks_end_to_end_streaming_spark as pkg
from databricks_end_to_end_streaming_spark.streaming.sinks import (
    ParquetTable,
    _swap_in,
)

PKG_DIR = os.path.dirname(pkg.__file__)


def _ids(df) -> set[int]:
    return {r["id"] for r in df.select("id").collect()}


def test_idempotent_append_replay_overwrites_its_own_dir(spark, workdir):
    def ids(*xs):
        return spark.createDataFrame([(x,) for x in xs], "id int")

    t = ParquetTable(f"{workdir}/log")
    t.idempotent_append(ids(1, 2), 7, "schemaid=2")
    t.idempotent_append(ids(9), 7, "schemaid=1")
    # the replay of (7, schemaid=2) carries different rows: they replace
    # the first attempt's, and the sibling part is untouched
    t.idempotent_append(ids(3), 7, "schemaid=2")
    part_dir = os.path.join(t.path, "batchid=7", "schemaid=2")
    assert os.path.isdir(part_dir)
    assert _ids(spark.read.parquet(part_dir)) == {3}
    got = t.read(spark)
    assert _ids(got) == {3, 9}
    parts = {(r["batchid"], r["schemaid"]) for r in got.collect()}
    assert parts == {(7, 2), (7, 1)}


def test_append_log_and_read_log_as_of(spark, workdir):
    t = ParquetTable(f"{workdir}/log")
    for b in range(4):
        t.append_log(
            spark.createDataFrame([(10 * b,), (10 * b + 1,)], "id int"), b, "r"
        )
    t.append_log(spark.createDataFrame([(21,)], "id int"), 2, "r")  # replay
    log = t.read_log(spark)
    assert set(log.columns) == {"id", "_batch_id", "batchid", "role"}
    assert {r["role"] for r in log.collect()} == {"r"}
    by_batch = {0: {0, 1}, 1: {10, 11}, 2: {21}, 3: {30, 31}}
    for k in range(-1, 4):
        want = set().union(*(v for b, v in by_batch.items() if b <= k))
        assert _ids(t.read_log(spark, k)) == want, k
    assert _ids(t.read_log(spark, None)) == set().union(*by_batch.values())


def _mkdir_with(path: str, name: str) -> None:
    os.makedirs(path)
    open(os.path.join(path, name), "w").close()


def test_swap_in_replaces_live_and_handles_missing_sides(workdir):
    """The one staged swap behind every rewrite. The crash windows it
    leaves are healed by ``_recover_swap`` (tests/test_upsert.py,
    tests/test_compact.py); here: a stale aside copy from a crash after
    rename-in is cleared by the next swap, a missing live dir is a first
    write, and a missing staging dir drops the table."""
    live, staging = f"{workdir}/t", f"{workdir}/t._staging"
    _mkdir_with(live, "old")
    _mkdir_with(live + "._old", "stale")
    _mkdir_with(staging, "new")
    _swap_in(staging, live)
    assert os.listdir(live) == ["new"]
    assert sorted(os.listdir(workdir)) == ["t"]

    first = f"{workdir}/first"
    _mkdir_with(first + "._staging", "new")
    _swap_in(first + "._staging", first)
    assert os.listdir(first) == ["new"]

    _swap_in(f"{workdir}/nothing._staging", live)
    assert not os.path.exists(live) and not os.path.exists(live + "._old")


def _sources():
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG_DIR), fh.read()


def test_replay_layout_and_drain_live_in_one_module_each():
    """The ``batchid=`` directory layout is spelled only in
    streaming/sinks.py, and the availableNow foreachBatch drain is built
    only in streaming/medallion.py: stages call ``append_log`` /
    ``read_log`` / ``drain_foreach`` instead of copying them."""
    layout, drains = [], []
    for rel, src in _sources():
        if "batchid=" in src and rel != os.path.join("streaming", "sinks.py"):
            layout.append(rel)
        if (
            re.search(r"\.foreachBatch\(", src)
            and re.search(r"trigger\(\s*availableNow\s*=\s*True\s*\)", src)
            and rel != os.path.join("streaming", "medallion.py")
        ):
            drains.append(rel)
    assert not layout, f"replay-log layout spelled outside sinks.py: {layout}"
    assert not drains, f"availableNow foreachBatch drain outside medallion.py: {drains}"
