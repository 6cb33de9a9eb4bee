"""The reference checker must accept the exact reference and reject any
drift in it. Run with ``python -m pytest perfbench/test_checker.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checker import check_gold, check_raw, check_silver, reference_gold  # noqa: E402

BASE = 1704067200
EVENTS = [
    {"productId": "p", "eventId": "a", "type": "shirt", "timestamp": BASE + 5,
     "size": "m", "color": "red", "_version": 2},
    {"productId": "p", "eventId": "b", "type": "shirt", "timestamp": BASE + 9,
     "size": "m", "color": "red", "_version": 2},
    {"productId": "p", "eventId": "c", "type": "pants", "timestamp": BASE + 7,
     "_version": 1},
    {"productId": "p", "eventId": "c", "type": "pants", "timestamp": BASE + 7,
     "_version": 1},
    {"productId": "p", "eventId": "d", "type": "shoes", "timestamp": BASE - 1,
     "_version": 1},
]


def _gold_rows():
    return [
        {"type": t, "color": c, "size": s, "count_type": v[0],
         "count_color": v[1], "count_size": v[2], "last": v[3]}
        for (t, c, s), v in reference_gold(EVENTS).items()
    ]


def test_reference_gold_counts_distinct_events_after_cutoff():
    assert reference_gold(EVENTS) == {
        ("shirt", "red", "m"): (2, 2, 2, BASE + 9),
        ("pants", None, None): (1, 0, 0, BASE + 7),
    }


def test_gold_check_accepts_the_reference():
    assert check_gold(_gold_rows(), EVENTS) == []


def test_gold_check_rejects_one_count_off():
    rows = _gold_rows()
    rows[0]["count_color"] += 1
    problems = check_gold(rows, EVENTS)
    assert len(problems) == 1 and "gold" in problems[0]


def test_gold_check_rejects_missing_and_extra_groups():
    rows = _gold_rows()
    extra = dict(rows[0], type="hat")
    assert len(check_gold(rows[1:] + [extra], EVENTS)) == 2


def test_silver_check_rejects_a_surviving_duplicate():
    assert check_silver(["a", "b", "c", "d"], EVENTS) == []
    assert check_silver(["a", "b", "c", "c", "d"], EVENTS)


def test_raw_check_matches_rows_to_wire_offsets():
    rows = [
        dict({f: ev.get(f) for f in ev if f != "_version"},
             offset=i, valueSchemaId=ev["_version"])
        for i, ev in enumerate(EVENTS)
    ]
    assert check_raw(rows, EVENTS) == []
    rows[2]["type"] = "shoes"
    assert check_raw(rows, EVENTS) == ["raw: 1 rows differ from their wire record"]
