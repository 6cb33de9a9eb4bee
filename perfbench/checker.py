"""Reference results for the medallion tables, computed in plain Python
from the generated events, and the comparisons the benchmark runs
against what the engine wrote.

* raw: one row per wire record, decoded back to the generated event;
* silver: exactly the distinct eventIds;
* gold: ``groupBy(type, color, size)`` of the distinct events at or
  after the cutoff, with the three non-null counts and the latest event
  time (epoch seconds).

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

FIELDS = ("productId", "eventId", "type", "timestamp", "size", "color")
GOLD_CUTOFF_EPOCH = 1704067200  # "2024-01-01 00:00:00" UTC, the pipeline default


def distinct_events(events: list[dict]) -> list[dict]:
    """First occurrence of each eventId (duplicates are exact copies)."""
    seen: set[str] = set()
    out = []
    for ev in events:
        if ev["eventId"] not in seen:
            seen.add(ev["eventId"])
            out.append(ev)
    return out


def reference_gold(events: list[dict], cutoff: int = GOLD_CUTOFF_EPOCH) -> dict:
    """{(type, color, size): (count_type, count_color, count_size, last)}."""
    groups: dict[tuple, list] = {}
    for ev in distinct_events(events):
        if ev["timestamp"] < cutoff:
            continue
        key = (ev.get("type"), ev.get("color"), ev.get("size"))
        g = groups.setdefault(key, [0, 0, 0, None])
        g[0] += ev.get("type") is not None
        g[1] += ev.get("color") is not None
        g[2] += ev.get("size") is not None
        g[3] = ev["timestamp"] if g[3] is None else max(g[3], ev["timestamp"])
    return {k: tuple(v) for k, v in groups.items()}


def check_gold(rows: list[dict], events: list[dict]) -> list[str]:
    """``rows``: gold rows with type/color/size, count_type/count_color/
    count_size and ``last`` as epoch seconds."""
    got: dict[tuple, tuple] = {}
    problems = []
    for r in rows:
        key = (r["type"], r["color"], r["size"])
        if key in got:
            problems.append(f"gold: group {key} appears twice")
        got[key] = (r["count_type"], r["count_color"], r["count_size"], r["last"])
    want = reference_gold(events)
    for key in sorted(set(got) | set(want), key=repr):
        if got.get(key) != want.get(key):
            problems.append(f"gold: group {key} engine={got.get(key)} reference={want.get(key)}")
    return problems


def check_silver(event_ids: list[str], events: list[dict]) -> list[str]:
    want = sorted(ev["eventId"] for ev in distinct_events(events))
    got = sorted(event_ids)
    if got == want:
        return []
    return [
        f"silver: {len(got)} rows ({len(set(got))} distinct eventIds), "
        f"reference has {len(want)} distinct eventIds"
    ]


def check_raw(rows: list[dict], events: list[dict]) -> list[str]:
    """``rows``: raw rows flattened to offset, valueSchemaId and the
    decoded fields; ``events[i]`` was written at wire offset ``i``."""
    if len(rows) != len(events):
        return [f"raw: {len(rows)} rows, {len(events)} wire records written"]
    bad = 0
    for r in sorted(rows, key=lambda r: r["offset"]):
        ev = events[r["offset"]] if 0 <= r["offset"] < len(events) else None
        if ev is None or r["valueSchemaId"] != ev["_version"] or any(
            r.get(f) != ev.get(f) for f in FIELDS
        ):
            bad += 1
    return [f"raw: {bad} rows differ from their wire record"] if bad else []
