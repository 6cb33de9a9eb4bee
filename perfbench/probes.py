"""Traced-run layer probes: one public layer function timed on an input
that is already persisted, so the time is that layer's own work and
not the lazily evaluated plan upstream of it."""

from __future__ import annotations

import statistics

from databricks_end_to_end_streaming_spark.avro.functions import decode_avro
from databricks_end_to_end_streaming_spark.functions.binary import (
    confluent_payload,
    confluent_schema_id,
)
from databricks_end_to_end_streaming_spark.schemas import PRODUCT_V2_JSON
from databricks_end_to_end_streaming_spark.sources.files import WIRE_SCHEMA
from databricks_end_to_end_streaming_spark.streaming.ingest import (
    confluent_framing,
    demux_decode_batch,
)
from databricks_end_to_end_streaming_spark.streaming.sinks import ParquetTable

from common import wall

REWRITE_REPEATS = 3


def _timed(ctx, name: str, fn) -> float:
    with ctx.tracer.span(name):
        t0 = wall()
        fn()
        return wall() - t0


def layer_probes(ctx, topic: str, raw_path: str, gold_path: str) -> dict:
    spark = ctx.spark
    scratch = ctx.run_dir.sub("probes")
    batch = spark.read.schema(WIRE_SCHEMA).parquet(topic).persist()
    payloads = (
        batch.where(confluent_schema_id("value") == 2)
        .select(confluent_payload("value").alias("payload"))
        .persist()
    )
    decoded = ParquetTable(raw_path).read(spark).persist()
    gold = ParquetTable(gold_path).read(spark).persist()
    try:
        batch.count()
        n_payloads = payloads.count()
        decoded.count()
        gold.count()
        demux_s = _timed(
            ctx,
            "probe.demux",
            lambda: demux_decode_batch(
                batch, ctx.registry, confluent_framing(),
                ParquetTable(f"{scratch}/demux"), batch_id=0,
            ),
        )
        decode_s = _timed(
            ctx,
            "probe.decode",
            lambda: decode_avro(payloads, "payload", PRODUCT_V2_JSON)
            .write.format("noop").mode("overwrite").save(),
        )
        append_s = _timed(
            ctx, "probe.append", lambda: ParquetTable(f"{scratch}/append").append(decoded)
        )
        rewrite_s = statistics.median(
            _timed(
                ctx,
                "probe.gold_rewrite",
                lambda: ParquetTable(f"{scratch}/gold").overwrite_atomic(gold),
            )
            for _ in range(REWRITE_REPEATS)
        )
    finally:
        for df in (batch, payloads, decoded, gold):
            df.unpersist()
    return {
        "ingest.demux_s": demux_s,
        "avro.decode_s": decode_s,
        "avro.decode_rows_per_s": n_payloads / decode_s,
        "sinks.append_s": append_s,
        "sinks.gold_rewrite_s": rewrite_s,
    }

