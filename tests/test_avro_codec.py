"""Unit tests for the pure-Python Avro binary codec (SURVEY §5: operator
unit tests; wire format per the public Avro spec)."""

from __future__ import annotations

import json

import pytest

from databricks_end_to_end_streaming_spark.avro.codec import (
    _read_varint,
    _write_varint,
    decode,
    encode,
    reader_for,
)
from databricks_end_to_end_streaming_spark.avro.schema import (
    parse_schema,
    record_to_struct,
    union_struct,
)
from databricks_end_to_end_streaming_spark.schemas import (
    PRODUCT_V1,
    PRODUCT_V2,
)


def roundtrip(value, schema):
    return decode(encode(value, schema), schema)


@pytest.mark.parametrize("n", [0, 1, -1, 63, 64, -64, -65, 2**31, -(2**31), 2**62, -(2**62)])
def test_varint_zigzag_roundtrip(n):
    out = bytearray()
    _write_varint(n, out)
    got, pos = _read_varint(bytes(out), 0)
    assert got == n and pos == len(out)


def test_known_zigzag_bytes():
    # spec examples: 0->00, -1->01, 1->02, -2->03, 2->04
    for n, expected in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"), (2, b"\x04")]:
        out = bytearray()
        _write_varint(n, out)
        assert bytes(out) == expected


def test_record_roundtrip_v1():
    ev = {
        "productId": "prod-a1",
        "eventId": "e-1",
        "type": "shirt",
        "timestamp": 1704067200,
    }
    assert roundtrip(ev, PRODUCT_V1) == ev


def test_record_roundtrip_v2():
    ev = {
        "productId": "prod-a1",
        "eventId": "e-2",
        "type": "pants",
        "timestamp": 1704067200,
        "size": "xl",
        "color": "red",
    }
    assert roundtrip(ev, PRODUCT_V2) == ev


def test_complex_types_roundtrip():
    schema = {
        "type": "record",
        "name": "kitchen",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "raw", "type": "bytes"},
            {"name": "opt", "type": ["null", "string"]},
            {"name": "nums", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
            {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["A", "B"]}},
        ],
    }
    v = {
        "b": True,
        "f": 1.5,
        "d": -2.25,
        "raw": b"\x00\x01",
        "opt": None,
        "nums": [1, -2, 3],
        "m": {"x": 1, "y": -5},
        "e": "B",
    }
    assert roundtrip(v, schema) == v
    v2 = dict(v, opt="present")
    assert roundtrip(v2, schema) == v2


def test_trailing_bytes_rejected():
    payload = encode({"productId": "p", "eventId": "e", "type": "t", "timestamp": 1}, PRODUCT_V1)
    with pytest.raises(ValueError, match="trailing"):
        decode(payload + b"\x00", PRODUCT_V1)


def test_truncated_payload_rejected():
    payload = encode({"productId": "p", "eventId": "e", "type": "t", "timestamp": 1}, PRODUCT_V1)
    with pytest.raises(Exception):
        decode(payload[:3], PRODUCT_V1)


def test_schema_resolution_v1_payload_v2_reader_defaults():
    """Avro schema resolution: v2 reader over a v1 payload fills the
    declared defaults (size/color = 'none') — SURVEY §1.4."""
    v1 = parse_schema(PRODUCT_V1)
    v2 = parse_schema(PRODUCT_V2)
    payload = encode(
        {"productId": "p", "eventId": "e", "type": "t", "timestamp": 1}, PRODUCT_V1
    )
    read = reader_for(v1, v2)
    rec = read(payload)
    assert rec["size"] == "none" and rec["color"] == "none"
    assert rec["productId"] == "p"


def test_union_struct_widens_in_first_seen_order():
    v1 = parse_schema(PRODUCT_V1)
    v2 = parse_schema(PRODUCT_V2)
    merged = union_struct(v1, v2)
    assert [f.name for f in merged.fields] == [
        "productId",
        "eventId",
        "type",
        "timestamp",
        "size",
        "color",
    ]
    assert record_to_struct(v2).fieldNames() == merged.fieldNames()


def test_multi_branch_union_rejected_at_encoder_build():
    """Unions beyond the nullable-field pattern must fail loudly at
    build time, not deep inside varint encoding with the wrong branch."""
    import pytest

    from databricks_end_to_end_streaming_spark.avro.codec import encode

    schema = {
        "type": "record",
        "name": "bad",
        "fields": [{"name": "x", "type": ["null", "int", "string"]}],
    }
    with pytest.raises(ValueError, match="union"):
        encode({"x": "boom"}, schema)


INT_LONG = json.dumps(
    {
        "type": "record",
        "name": "il",
        "fields": [{"name": "i", "type": "int"}, {"name": "l", "type": "long"}],
    }
)


def _varint(n: int) -> bytes:
    out = bytearray()
    _write_varint(n, out)
    return bytes(out)


@pytest.mark.parametrize(
    "raw, why",
    [
        (b"\xff" * 10 + b"\x7f", "longer than 10 bytes"),
        (b"\x80" * 10 + b"\x00", "longer than 10 bytes"),  # padded zero
        (b"\xff" * 9 + b"\x7f", "outside int64"),  # 10 bytes, 70 bits
    ],
)
def test_long_varint_out_of_range_rejected(raw, why):
    with pytest.raises(ValueError, match=why):
        _read_varint(raw, 0)
    with pytest.raises(ValueError, match=why):
        decode(_varint(0) + raw, INT_LONG)


@pytest.mark.parametrize(
    "raw, why",
    [
        (_varint(2**31), "outside int32"),
        (_varint(-(2**31) - 1), "outside int32"),
        (_varint(-(2**34)), "outside int32"),  # 5 bytes, -17179869184
        (_varint(2**35), "longer than 5 bytes"),
    ],
)
def test_int_varint_out_of_range_rejected(raw, why):
    with pytest.raises(ValueError, match=why):
        decode(raw + _varint(0), INT_LONG)


def test_int_and_long_extremes_still_decode():
    for i, l in [(2**31 - 1, 2**63 - 1), (-(2**31), -(2**63)), (0, 0)]:
        assert decode(encode({"i": i, "l": l}, INT_LONG), INT_LONG) == {"i": i, "l": l}
