"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

The testdata is pandas-written parquet with nanosecond TIMESTAMP
columns, which Spark has no type for: with
``spark.sql.legacy.parquet.nanosAsLong`` (set in session.RUNTIME_CONFS)
they scan as LongType nanoseconds. ``load_table`` restores proper
TimestampType via floor-division to micros — the same truncation DuckDB
applies when it reads the file, so oracle comparisons see identical
values.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Names of timestamp[ns] columns in a parquet file's footer."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema if pt.is_timestamp(f.type) and f.type.unit == "ns"
    )


#: Tables whose downstream operators are expression-heavy per row
#: (shingling, norms) and benefit from splitting a one-row-group file,
#: mapped to their id column: the spread hash-partitions on the id so
#: any downstream join/agg keyed on it reuses the partitioning
#: (HashPartitioning satisfies ClusteredDistribution — no second
#: Exchange), while paths that shuffle on other keys (shingle, band)
#: pay the same one shuffle they would under a round-robin spread.
#: name -> (id column, spread bytes-per-task). The quota encodes
#: per-row fan-out work measured at sf0.1: embeddings rows cost ~10-100x
#: a document row per byte (x-nlist interpreted cosine folds vs shingle
#: explodes), so they reach full parallelism on far less input — scaling
#: them down to 7 tasks at sf0.1 cost q24 2.4x / q34 1.6x in the A/B,
#: while documents at ~10 tasks won on q155/q158 and stayed flat
#: elsewhere.
_EXPRESSION_HEAVY = {
    "documents": ("doc_id", 64 << 10),
    "embeddings": ("vec_id", 16 << 10),
}


#: Built-DataFrame cache keyed on (session, path, file stat). A
#: DataFrame is an immutable PLAN — nothing here persists data or
#: results: every action on a cached frame recomputes from the parquet
#: files. What the cache skips is the per-call driver work of
#: ``spark.read.parquet`` (file listing + footer schema inference — a
#: visible ~50 ms "parquet at ..." job at the head of every query) and
#: the expression rebuild, which the bench pays once per measured pass
#: per table otherwise. Keyed on mtime+size so a regenerated file
#: invalidates.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = None
    try:
        st = os.stat(path)
        # id(spark) so spark.newSession() clones (same applicationId,
        # possibly different session confs) never share a cached frame
        # whose spread decision was derived under the other session's
        # confs (ADVICE r13)
        key = (
            spark.sparkContext.applicationId,
            id(spark),
            path,
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        pass
    if key is not None and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    df = spark.read.parquet(path)
    for col in _nanos_columns(path):
        # ns -> µs truncation (floor), matching DuckDB's conversion.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if name in _EXPRESSION_HEAVY:
        # A single-row-group parquet file scans as ONE task, so every
        # per-row HOF chain (8-gram shingles, vector norms) serializes
        # on one core. Spread it — measured ~2x on the doc-heavy
        # headline queries at sf0.1. Gated on the narrow-scan case
        # only: at real scale inputs arrive pre-split and an
        # unconditional repartition would be a full-corpus shuffle.
        # Width comes from the LOGICAL plan (file sizes vs
        # maxPartitionBytes, partitioning.estimated_scan_width) — the
        # previous ``df.rdd.getNumPartitions()`` probe forced full
        # physical planning on EVERY load of these tables, a fixed
        # driver cost paid once per query call (ADVICE r11 flagged the
        # same probe in spread_scan; this was the remaining site).
        # The WIDTH is size-scaled (scaled_spread_target), not pinned
        # to core count: a sub-MB table fanned out to 32 tasks pays
        # more in task launch + exchange than the fan-out work costs —
        # the measured cause of the r13 8-core-beats-32-core inversion
        # (round-13 scaling ratios 0.56-0.81 on every spread-heavy
        # query). At sf1+ the tables exceed cores * 128 KB and the
        # target is full parallelism, unchanged from before.
        from db_cdc_poc_spark.partitioning import (
            estimated_scan_width,
            scaled_spread_target,
        )

        id_col, per_task = _EXPRESSION_HEAVY[name]
        width = estimated_scan_width(df)
        if width is not None and width == 1:
            target = scaled_spread_target(
                spark, st.st_size if key else None, per_task
            )
            if target > 1:
                df = df.repartition(target, F.col(id_col))
    if key is not None:
        _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
