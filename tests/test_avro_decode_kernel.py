"""decode_avro's mapInArrow kernel: values and Spark types across the
supported Avro type lattice, reader-schema resolution, passthrough
columns, and the PERMISSIVE/FAILFAST contract on out-of-range varints."""

from __future__ import annotations

import json

import pytest

from databricks_end_to_end_streaming_spark.avro.codec import encode
from databricks_end_to_end_streaming_spark.avro.functions import decode_avro
from databricks_end_to_end_streaming_spark.avro.schema import (
    parse_schema,
    record_to_struct,
)
from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1, PRODUCT_V2

RICH = json.dumps(
    {
        "type": "record",
        "name": "rich",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "ns", "type": ["null", "string"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "int"}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "col", "symbols": ["R", "G", "B"]},
            },
            {"name": "fx", "type": {"type": "fixed", "name": "f2", "size": 2}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "long"}],
                },
            },
        ],
    }
)

RECORDS = [
    {
        "b": True, "i": -(2**31), "l": 2**63 - 1, "f": 1.5, "d": -0.25,
        "s": "héllo", "by": b"\x00\xff", "ns": None, "arr": [1, -2, 3],
        "m": {"k": 7}, "e": "G", "fx": b"ab", "nested": {"x": -9},
    },
    {
        "b": False, "i": 2**31 - 1, "l": -(2**63), "f": 0.0, "d": 1e300,
        "s": "", "by": b"", "ns": "x", "arr": [], "m": {},
        "e": "B", "fx": b"\x01\x02", "nested": {"x": 0},
    },
]


def _payloads(spark, payloads):
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "k int, payload binary"
    )


def test_kernel_decodes_every_type_at_the_declared_spark_type(spark):
    df = _payloads(spark, [encode(r, RICH) for r in RECORDS] + [None])
    out = decode_avro(df, "payload", RICH)
    assert out.schema["parsedValue"].dataType == record_to_struct(parse_schema(RICH))
    rows = {r.k: r for r in out.collect()}
    for k, rec in enumerate(RECORDS):
        assert rows[k].payload == encode(rec, RICH)  # passthrough untouched
        got = rows[k].parsedValue.asDict(recursive=True)
        got["by"], got["fx"] = bytes(got["by"]), bytes(got["fx"])
        assert got == rec
    # NULL payload: PERMISSIVE all-null struct, not a NULL struct
    null_struct = rows[len(RECORDS)].parsedValue
    assert null_struct is not None and set(null_struct.asDict().values()) == {None}


def test_kernel_reader_resolution_fills_defaults(spark):
    ev = {"productId": "p", "eventId": "e", "type": "t", "timestamp": 1}
    df = _payloads(spark, [encode(ev, PRODUCT_V1)])
    out = decode_avro(df, "payload", PRODUCT_V1, reader_schema_json=PRODUCT_V2)
    (row,) = out.collect()
    assert row.parsedValue.asDict() == ev | {"size": "none", "color": "none"}


def test_kernel_empty_input(spark):
    df = _payloads(spark, [encode(RECORDS[0], RICH)]).where("k < 0")
    assert decode_avro(df, "payload", RICH).collect() == []


INT_LONG = json.dumps(
    {
        "type": "record",
        "name": "il",
        "fields": [{"name": "i", "type": "int"}, {"name": "l", "type": "long"}],
    }
)
GOOD = encode({"i": 1, "l": 2}, INT_LONG)
BAD_LONG = b"\x02" + b"\xff" * 10 + b"\x7f"
BAD_INT = b"\xff\xff\xff\xff\x7f" + b"\x00"  # int field = -17179869184


def test_out_of_range_varint_permissive_nulls_only_that_record(spark):
    df = _payloads(spark, [GOOD, BAD_LONG, BAD_INT, GOOD])
    rows = {r.k: r.parsedValue for r in decode_avro(df, "payload", INT_LONG).collect()}
    assert rows[0].asDict() == rows[3].asDict() == {"i": 1, "l": 2}
    assert rows[1].asDict() == rows[2].asDict() == {"i": None, "l": None}


@pytest.mark.parametrize("bad", [BAD_LONG, BAD_INT])
def test_out_of_range_varint_failfast_fails(spark, bad):
    df = _payloads(spark, [GOOD, bad])
    with pytest.raises(Exception, match="varint"):
        decode_avro(df, "payload", INT_LONG, mode="FAILFAST").collect()
