"""Inputs and outputs of the streaming workloads: seeded product events
written as Confluent-framed wire records in a parquet topic directory,
a schema registry that counts its lookups, and the reads of the raw,
silver and gold tables the reference checker compares.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_end_to_end_streaming_spark.registry import InMemorySchemaRegistry
from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V1_JSON, PRODUCT_V2_JSON
from databricks_end_to_end_streaming_spark.sources import events_to_wire, generate_events

V1_RATIO = 0.3
DUPLICATE_RATIO = 0.1

WIRE_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


class CountingRegistry(InMemorySchemaRegistry):
    """The v1/v2 product registry, counting schema lookups (one per
    schema id per micro-batch in the ingest demux)."""

    def __init__(self):
        super().__init__({1: PRODUCT_V1_JSON, 2: PRODUCT_V2_JSON})
        self.lookups = 0

    def get_schema_json(self, schema_id):
        self.lookups += 1
        return super().get_schema_json(schema_id)


def make_events(n: int, seed: int) -> tuple[list[dict], list]:
    """``n`` seeded events (30% schema v1) plus ~10% exact duplicates,
    and their wire records; record ``i`` carries offset ``i``."""
    events = generate_events(
        n, seed=seed, v1_ratio=V1_RATIO, duplicate_ratio=DUPLICATE_RATIO
    )
    return events, events_to_wire(events, seed=seed)


def wire_table(records) -> pa.Table:
    return pa.table(
        {
            "key": [r.key for r in records],
            "value": [r.value for r in records],
            "topic": [r.topic for r in records],
            "partition": [r.partition for r in records],
            "offset": [r.offset for r in records],
            "timestamp": [r.timestamp for r in records],
            "timestampType": [r.timestampType for r in records],
        },
        schema=WIRE_ARROW_SCHEMA,
    )


def write_topic(records, path: str, n_files: int) -> None:
    """Write ``records`` as ``n_files`` parquet files of the topic dir."""
    os.makedirs(path, exist_ok=True)
    table = wire_table(records)
    step = -(-len(records) // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def raw_rows(spark, path: str) -> list[dict]:
    """Raw table rows flattened for ``checker.check_raw``."""
    from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

    df = ParquetTable(path).read(spark).select("offset", "valueSchemaId", "parsedValue.*")
    return df.toPandas().to_dict("records")


def silver_ids(spark, path: str) -> list[str]:
    from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

    return [r[0] for r in ParquetTable(path).read(spark).select("eventId").collect()]


def gold_rows(spark, path: str) -> list[dict]:
    """Gold rows for ``checker.check_gold`` (``last`` in epoch seconds)."""
    import pyspark.sql.functions as F

    from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

    df = ParquetTable(path).read(spark).withColumn("last", F.col("last").cast("long"))
    return [r.asDict() for r in df.collect()]
