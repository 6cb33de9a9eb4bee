"""SCD1 upsert (Delta-MERGE analog) on ParquetTable: matched rows
replaced, unmatched kept, new keys inserted, schema evolution both ways,
replay idempotence; plus the foreachBatch streaming upsert_stage with
last-write-wins batch collapse."""

from __future__ import annotations

import pyspark.sql.functions as F

from databricks_end_to_end_streaming_spark.streaming import ParquetTable
from databricks_end_to_end_streaming_spark.streaming.medallion import upsert_stage


def rows_by_key(spark, table):
    return {
        r["k"]: r.asDict() for r in table.read(spark).collect()
    }


def test_upsert_batch_merge(spark, workdir):
    t = ParquetTable(f"{workdir}/tbl")
    t.append(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    ))

    updates = spark.createDataFrame(
        [(2, "B", 21), (4, "d", 40)], "k int, name string, v int"
    )
    t.upsert(spark, updates, ["k"])

    got = rows_by_key(spark, t)
    assert set(got) == {1, 2, 3, 4}
    assert got[2] == {"k": 2, "name": "B", "v": 21}   # matched -> replaced
    assert got[1]["v"] == 10 and got[3]["v"] == 30    # unmatched -> kept
    assert got[4]["name"] == "d"                      # new key -> inserted

    # Replay the same merge: naturally idempotent, same table state.
    t.upsert(spark, updates, ["k"])
    assert rows_by_key(spark, t) == got


def test_upsert_schema_evolution_both_ways(spark, workdir):
    t = ParquetTable(f"{workdir}/tbl")
    t.append(spark.createDataFrame([(1, "a")], "k int, name string"))

    # Update side carries a NEW column: old rows must widen to NULL.
    t.upsert(
        spark,
        spark.createDataFrame([(2, "b", "blue")], "k int, name string, color string"),
        ["k"],
    )
    got = rows_by_key(spark, t)
    assert got[1]["color"] is None and got[2]["color"] == "blue"

    # Update side MISSING a column: inserted rows get NULL there.
    t.upsert(spark, spark.createDataFrame([(3, "c")], "k int, name string"), ["k"])
    got = rows_by_key(spark, t)
    assert got[3]["color"] is None and got[2]["color"] == "blue"


def test_upsert_first_write_creates_table(spark, workdir):
    t = ParquetTable(f"{workdir}/tbl")
    t.upsert(spark, spark.createDataFrame([(1, "a")], "k int, name string"), ["k"])
    assert rows_by_key(spark, t)[1]["name"] == "a"


def test_streaming_upsert_stage_last_write_wins(spark, workdir):
    # Source stream: two versions of key 1 in one batch + a fresh key.
    src_dir = f"{workdir}/src"
    spark.createDataFrame(
        [(1, "stale", 100), (1, "fresh", 200), (2, "b", 150)],
        "k int, name string, seq int",
    ).write.parquet(src_dir)

    target = ParquetTable(f"{workdir}/tgt")
    target.append(spark.createDataFrame([(1, "orig", 0)], "k int, name string, seq int"))

    source = (
        spark.readStream.schema("k int, name string, seq int").parquet(src_dir)
    )
    upsert_stage(source, target, ["k"], f"{workdir}/cp", order_by="seq")

    got = rows_by_key(spark, target)
    assert set(got) == {1, 2}
    assert got[1]["name"] == "fresh" and got[1]["seq"] == 200
    assert got[2]["name"] == "b"

    # Drain again with no new files: no-op, state unchanged.
    source = (
        spark.readStream.schema("k int, name string, seq int").parquet(src_dir)
    )
    upsert_stage(source, target, ["k"], f"{workdir}/cp", order_by="seq")
    assert rows_by_key(spark, target) == got


def test_gold_incremental_merge_two_drains(spark, workdir):
    """Update-mode windowed gold merged via upsert: after each drain the
    target equals a batch recompute over everything ingested so far, with
    exactly one row per group — including v1 groups whose color/size keys
    are NULL (null-safe merge), which a plain equi-join merge would
    duplicate on the second drain."""
    from databricks_end_to_end_streaming_spark.sources import generate_events
    from databricks_end_to_end_streaming_spark.streaming.medallion import (
        bronze_stage,
        gold_incremental_stage,
        silver_stage,
    )
    from tests.test_medallion import build_raw

    DAY = 86400
    BASE = 1704067200  # 2024-01-01T00:00:00Z

    def drain(events):
        raw = build_raw(spark, workdir, events)
        bronze = ParquetTable(f"{workdir}/bronze", partition_by=["type"])
        silver = ParquetTable(f"{workdir}/silver", partition_by=["type"])
        bronze_stage(spark, raw, bronze, f"{workdir}/cp/bronze")
        silver_stage(spark, bronze, silver, f"{workdir}/cp/silver")
        gold = ParquetTable(f"{workdir}/gold_inc")
        gold_incremental_stage(spark, silver, gold, f"{workdir}/cp/goldinc")
        return silver, gold

    def check(silver, gold):
        expected = {
            (r["d"], r["type"], r["color"], r["size"]): r["n"]
            for r in silver.read(spark)
            .groupBy(
                F.date_trunc("day", "event_time").alias("d"),
                "type",
                "color",
                "size",
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        rows = gold.read(spark).collect()
        got = {
            (r["day_start"], r["type"], r["color"], r["size"]): r["count_type"]
            for r in rows
        }
        assert len(rows) == len(got), "duplicate group rows after merge"
        assert got == expected

    # Drain 1: day-1 and day-2 events, half v1 (NULL color/size groups).
    ev1 = generate_events(30, seed=7, v1_ratio=0.5, base_ts=BASE)
    ev1 += generate_events(30, seed=8, v1_ratio=0.5, base_ts=BASE + DAY)
    silver, gold = drain(ev1)
    check(silver, gold)

    # Drain 2: more day-2 events touching the same groups (v1 included):
    # merged totals must replace, not duplicate.
    ev2 = ev1 + generate_events(40, seed=9, v1_ratio=0.5, base_ts=BASE + DAY + 3600)
    silver, gold = drain(ev2)
    check(silver, gold)


def test_dq_split_stage_routes_and_replays(spark, workdir):
    """Rows failing the DQ predicate land in quarantine (including rows
    where the predicate is NULL — a null price must not vanish), passing
    rows land in good, and a second drain with no new data changes
    nothing (idempotent-replay appends)."""
    from databricks_end_to_end_streaming_spark.streaming.medallion import (
        dq_split_stage,
    )

    src_dir = f"{workdir}/src"
    spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 99.0)], "id int, price double"
    ).write.parquet(src_dir)

    good = ParquetTable(f"{workdir}/good")
    quarantine = ParquetTable(f"{workdir}/quarantine")

    def drain():
        dq_split_stage(
            spark.readStream.schema("id int, price double").parquet(src_dir),
            good,
            quarantine,
            F.col("price") >= 0,
            f"{workdir}/cp",
        )

    drain()
    good_ids = {r["id"] for r in good.read(spark).collect()}
    quar = {r["id"]: r for r in quarantine.read(spark).collect()}
    assert good_ids == {1, 4}
    assert set(quar) == {2, 3}          # negative AND null both quarantined
    assert quar[2]["_dq_batch_id"] == 0

    drain()                              # replay: no double-append
    assert {r["id"] for r in good.read(spark).collect()} == {1, 4}
    assert {r["id"] for r in quarantine.read(spark).collect()} == {2, 3}


def test_upsert_swap_leaves_no_debris(spark, workdir):
    """The rename-aside swap must end clean: no ._staging or ._old
    sibling directories survive a successful upsert, and the table stays
    readable with the merged content."""
    import os

    t = ParquetTable(f"{workdir}/swap_clean")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(spark, spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), ["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    parent = os.path.dirname(t.path.rstrip("/"))
    debris = [d for d in os.listdir(parent) if "._old" in d or "._staging" in d]
    assert debris == []


def test_upsert_crash_window_recovers_old_table(spark, workdir):
    """Crash between the two swap renames leaves only path._old; the
    next access must heal it instead of silently starting fresh."""
    import os

    t = ParquetTable(f"{workdir}/swap_crash")
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    os.rename(t.path, t.path + "._old")  # simulate the crash state
    assert t.exists()  # recovery happened
    assert {r["k"] for r in t.read(spark).collect()} == {1}
    # and a subsequent upsert merges instead of replacing
    t.upsert(spark, spark.createDataFrame([(2, "b")], "k long, v string"), ["k"])
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}


def test_writer_entry_points_heal_crash_window(spark, workdir):
    """A crash inside upsert's swap window followed by a WRITE (not a
    read) must still recover the old table: append/overwrite would
    otherwise recreate the live dir and strand the pre-crash data in
    ._old forever."""
    import os

    t = ParquetTable(f"{workdir}/swap_then_append")
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    os.rename(t.path, t.path + "._old")  # crash state
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}

    t2 = ParquetTable(f"{workdir}/swap_then_idem")
    t2.idempotent_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), 0, "role=t"
    )
    os.rename(t2.path, t2.path + "._old")
    t2.idempotent_append(
        spark.createDataFrame([(2, "b")], "k long, v string"), 1, "role=t"
    )
    assert {r["k"] for r in t2.read(spark).collect()} == {1, 2}


def test_mixed_int_widths_fail_fast_and_migrate(spark, workdir):
    """Raw tables written before the be_int_from_bytes int->long change
    hold int32 valueSchemaId; a mixed table must fail with the migration
    instruction (not an opaque merge error), and rewrite_columns must
    heal it in place preserving the token-directory layout."""
    import os

    import pytest

    t = ParquetTable(f"{workdir}/raw_mixed")
    t.idempotent_append(
        spark.createDataFrame([(1, "x")], "valueSchemaId int, payload string"),
        0,
        "schemaid=1",
    )
    t.idempotent_append(
        spark.createDataFrame([(2, "y")], "valueSchemaId long, payload string"),
        1,
        "schemaid=2",
    )
    with pytest.raises(RuntimeError, match="rewrite_columns"):
        t.read(spark)

    t.rewrite_columns(spark, {"valueSchemaId": "bigint"})
    df = t.read(spark)
    assert dict(df.dtypes)["valueSchemaId"] == "bigint"
    got = {(r["valueSchemaId"], r["batchid"]) for r in df.collect()}
    assert got == {(1, 0), (2, 1)}  # partition dirs survived the rewrite
    assert not os.path.isdir(t.path + "._rewrite")


def test_vacuum_removes_crash_leftovers_only(spark, workdir):
    """vacuum drops ._staging/._rewrite/_temporary leftovers but never
    the live table, and composes with _recover_swap (._old heals, not
    deleted blindly)."""
    import os

    t = ParquetTable(f"{workdir}/vac")
    t.append(spark.createDataFrame([(1,)], "id int"))
    # simulate crash leftovers
    os.makedirs(f"{workdir}/vac._staging/x", exist_ok=True)
    os.makedirs(f"{workdir}/vac._rewrite", exist_ok=True)
    os.makedirs(f"{workdir}/vac/_temporary/0", exist_ok=True)
    res = t.vacuum()
    assert len(res["removed"]) == 3
    assert not os.path.exists(f"{workdir}/vac._staging")
    assert not os.path.exists(f"{workdir}/vac/_temporary")
    assert t.read(spark).count() == 1

    # crash window: live dir renamed aside, then vacuum is called —
    # it must heal the swap first, not strand the table
    os.rename(f"{workdir}/vac", f"{workdir}/vac._old")
    t.vacuum()
    assert t.read(spark).count() == 1
