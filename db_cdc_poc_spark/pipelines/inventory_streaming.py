"""Streaming POS ingestion — the reference's DLT pipeline (notebooks/
03_Data_Ingestion.py) as OSS Structured Streaming over file-based
topic stand-ins (see pipelines/replay.py; swap sources/kafka.py readers
in when a broker exists).

    event topic files  ─► parse envelope ─► watermark ─► dedup ─► silver parquet
    cdc topic files    ─► parse Debezium ─► foreachBatch CDC apply ─► keyed state
    silver + dims      ─► gold recompute (pipelines/inventory.py shape)

Watermark default is 14 hours, NOT the reference's 1 hour: the BOPIS
duplicate pairs arrive 2-13.7 h apart in event time (SURVEY §2.9 T1),
so a 1-hour watermark lets streaming dedup state expire before the
second copy arrives. The reference leans on the gold query's BOPIS
filter as a backstop; we keep that filter AND make the dedup reach the
documented lag. Callers can pass '1 hour' for strict reference parity.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.envelopes import (
    parse_cdc_envelope,
    parse_transaction_events,
)
from db_cdc_poc_spark.streaming.cdc import CdcTarget

#: See module docstring — covers the verified 13.7 h max BOPIS lag.
DEFAULT_DEDUP_WATERMARK = "14 hours"


def read_topic_files(
    spark: SparkSession,
    path: str,
    with_key: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Streaming read of a JSON-lines topic directory into the Kafka
    (key, value) string shape."""
    schema = "key string, value string" if with_key else "value string"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def inventory_change_stream(
    spark: SparkSession,
    events_path: str,
    watermark: str = DEFAULT_DEDUP_WATERMARK,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming silver inventory_change: parse -> watermark -> stateful
    dedup (reference 03:201-221)."""
    raw = read_topic_files(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    return (
        parse_transaction_events(raw)
        .withWatermark("date_time", watermark)
        .dropDuplicates(["trans_id", "item_id"])
    )


def run_ingestion(
    spark: SparkSession,
    events_path: str,
    cdc_path: str,
    out_root: str | None = None,
    watermark: str = DEFAULT_DEDUP_WATERMARK,
    max_files_per_trigger: int | None = None,
) -> dict[str, DataFrame]:
    """Drain both topics with availableNow triggers and return the
    resulting silver tables as batch DataFrames:
    inventory_change (parquet sink) and inventory_snapshot (CDC-applied
    keyed state, reference 03:318-326).
    """
    root = out_root or tempfile.mkdtemp(prefix="pos_stream_")

    change_sink = f"{root}/inventory_change"
    changes = inventory_change_stream(
        spark, events_path, watermark, max_files_per_trigger
    )
    q1 = (
        changes.writeStream.format("parquet")
        .option("path", change_sink)
        .option("checkpointLocation", f"{root}/ckpt_change")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

    target = CdcTarget(
        f"{root}/inventory_snapshot_state",
        keys=["item_id", "store_id"],
        sequence_by="ts_ms",
        apply_as_deletes="op = 'd'",
        except_columns=["op", "ts_ms", "date_time"],
    )
    cdc_raw = read_topic_files(
        spark, cdc_path, with_key=True, max_files_per_trigger=max_files_per_trigger
    )
    q2 = (
        parse_cdc_envelope(cdc_raw)
        .writeStream.foreachBatch(lambda batch, epoch: target.upsert_batch(batch, epoch))
        .option("checkpointLocation", f"{root}/ckpt_cdc")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()
    q2.awaitTermination()

    return {
        # the sink's schema is the stream's: declared, not footer-inferred
        "inventory_change": spark.read.schema(changes.schema).parquet(change_sink),
        "inventory_snapshot": target.current(spark),
    }
