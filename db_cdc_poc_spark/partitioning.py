"""Scan-width repair for heavy fan-out stages.

The engine's hottest operators multiply per-row work by a large factor
inside the SAME stage as the scan that feeds them — a shingle explode
turns 73 MB of documents into gigabytes of (id, gram) rows, a
broadcast-codebook pass evaluates nlist cosines per vector. Spark
sizes that stage's parallelism from the SCAN (file splits, bounded by
parquet row groups), not from the work: at sf10 the documents table is
one 73 MB file with 3 row groups, so the entire corpus tokenization
runs on <= 3 of 32 cores — the measured dominant cost of the sf10
text-pipeline profile (SCALING.md round-11 entry; the same defect cost
q147 12x on the vector side).

``spread_scan`` repartitions a DataFrame up to the session's default
parallelism when its SCAN looks narrower than the core count. The
round-robin exchange moves only the INPUT bytes (trivial next to the
fan-out's output) and is a no-op on a real cluster whose scans already
exceed core count — which is exactly the 100 TB posture: files there
split into thousands of tasks, and this guard never fires.

Width is estimated WITHOUT compiling a physical plan (the round-11
version called ``df.rdd.getNumPartitions()``, which forces full
analysis + non-AQE physical planning per call — ADVICE round 11):
``df.inputFiles()`` walks the *logical* plan for file relations, and
each file contributes ``ceil(size / spark.sql.files.maxPartitionBytes)``
estimated tasks (local ``file:`` sizes read directly; remote files
count 1 each, which still never under-fires on the many-files layouts
real clusters have). Frames with no file relation (in-memory,
post-shuffle, streaming) are returned UNCHANGED — this helper is for
scan-rooted frames only; callers that need a spread on a non-scan
frame pass ``force=True``.

Apply it where a stage's work-per-row is large (explodes, broadcast
fan-outs), NOT as a blanket scan wrapper — a plain filter/projection
scan is better off with Spark's own split sizing.
"""

from __future__ import annotations

import math
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

_SIZE_SUFFIX = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}

_DEFAULT_MAX_PARTITION_BYTES = 128 << 20  # Spark's maxPartitionBytes default


def _parse_bytes(v: str, default: int = _DEFAULT_MAX_PARTITION_BYTES) -> int:
    """Parse Spark byte-size conf strings ('134217728b', '128m', '1t').

    Covers every suffix Spark's own ``JavaUtils.byteStringAs`` accepts
    (b/k/m/g/t/p, with optional 'b'); an unparseable value falls back
    to ``default`` instead of raising — a width ESTIMATE must never
    turn a legal session conf into an operator crash (ADVICE r12)."""
    s = str(v).strip().lower()
    try:
        for suf in ("kb", "mb", "gb", "tb", "pb", "k", "m", "g", "t", "p", "b"):
            if s.endswith(suf):
                return int(float(s[: -len(suf)]) * _SIZE_SUFFIX[suf])
        return int(s)
    except ValueError:
        return default


def _local_size(uri: str) -> int | None:
    """Size of a file:-scheme (or bare-path) input file; None if remote
    or unreadable — remote stores (hdfs/s3) can't be stat'd from here."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    path = parsed.path or uri
    try:
        return os.path.getsize(path)
    except OSError:
        return None


# Logical node names that ARE a deliberate repartition of the frame.
_REPARTITION_NODES = frozenset(
    {"Repartition", "RepartitionByExpression", "RebalancePartitions"}
)
# Unary nodes that PRESERVE their child's output distribution — the
# walk looks through these for an upstream repartition that still
# governs the frame's distribution. Anything else (Join, Aggregate,
# Window, Sort, leaf relations, ...) either sets its own distribution
# via a fresh exchange or is the scan itself, so the walk stops there.
_DISTRIBUTION_PRESERVING = frozenset(
    {"Project", "Filter", "SubqueryAlias", "Generate", "ResolvedHint", "View"}
)


def _already_repartitioned(df: DataFrame) -> bool:
    """True when the frame's output distribution is still governed by a
    deliberate upstream repartition/rebalance — someone (e.g.
    ``sources/testdata.load_table``'s keyed spread of compact
    document/embedding scans) has widened it, and a second spread
    would STOMP the keyed exchange with a round-robin one — measured
    +24% on q26 at sf0.1, because round-robin adds the
    sortBeforeRepartition local sort over full rows and loses the
    id-clustered distribution downstream joins reuse.

    Structural, not textual (ADVICE r12 / VERDICT r12 #2): the
    round-12 version substring-matched "Repartition" against the plan
    STRING, so a column literally named ``rebalance_flag`` — or a
    repartition buried in an unrelated join branch whose exchange the
    root frame does not inherit — would silently disable the spread.
    This walks the analyzed logical tree from the root through
    distribution-preserving unary nodes only, and answers for the
    frame's OWN lineage scope. The analyzed plan already exists (no
    physical planning is triggered)."""
    try:
        node = df._jdf.queryExecution().analyzed()
    except Exception:
        return False
    while True:
        name = node.nodeName()
        if name in _REPARTITION_NODES:
            return True
        if name in _DISTRIBUTION_PRESERVING and node.children().size() == 1:
            node = node.children().apply(0)
            continue
        return False


# Unary logical nodes that preserve their child's ROW COUNT exactly.
# (Project renames/computes columns; repartitions move rows; hints and
# aliases are metadata.) Filter/Generate/Join/Aggregate/Sample/Limit all
# change cardinality, so the metadata-count walk stops there.
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "SubqueryAlias",
        "ResolvedHint",
        "View",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Sort",
    }
)


def _footer_row_count(path: str) -> int | None:
    try:
        import pyarrow.parquet as pq

        return int(pq.ParquetFile(path).metadata.num_rows)
    except Exception:
        return None


def metadata_row_count(df: DataFrame) -> int | None:
    """Exact row count of ``df`` from parquet footers — zero Spark jobs.

    Valid only when the frame is a chain of row-preserving unary nodes
    (projections, repartitions, sorts, aliases) over ONE local parquet
    relation; anything else returns None and the caller falls back to
    ``df.count()``. Used for cost-based dispatch decisions (e.g. the
    naive-vs-prefix pair-join mode pick), where the previous
    ``df.count()`` cost one scan job per QUERY CONSTRUCTION — a fixed
    per-trigger driver cost at any scale, and footers are already local
    metadata."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while node.nodeName() in _ROW_PRESERVING and node.children().size() == 1:
            node = node.children().apply(0)
        if node.nodeName() != "LogicalRelation":
            return None
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return None
        n = _footer_row_count(parsed.path or f)
        if n is None:
            return None
        total += n
    return total


def estimated_scan_width(df: DataFrame) -> int | None:
    """Estimated task count of ``df``'s file scan, from the logical plan
    only (no physical planning). None when the frame has no file
    relation (in-memory / post-shuffle / streaming)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_bytes = _parse_bytes(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )
    )
    width = 0
    for f in files:
        size = _local_size(f)
        width += 1 if size is None else max(1, math.ceil(size / max_bytes))
    return width


#: Default input bytes per task for the fan-out spread. Fan-out stages
#: multiply per-row work 10-100x (shingle explodes, x-nlist cosine
#: passes), so a spread task earns its scheduling overhead on far less
#: input than Spark's 128 MB scan split — but NOT on arbitrarily little:
#: at sf0.1 a 580 KB documents table round-tripped through 32 tasks
#: spends more wall on task launch + GC-amplification than on work, and
#: the 8-core bench beat the 32-core one on every spread-heavy query
#: (round-13 scaling ratios 0.56-0.81). 128 KB/task ~= 3-12 MB of
#: generated fan-out rows per task; at sf1+ every spread table already
#: exceeds cores * 128 KB, so the cluster-scale behavior (spread to full
#: parallelism) is unchanged.
_SPREAD_TASK_BYTES_ENV = "SPARK_GRAFT_SPREAD_TASK_BYTES"
_DEFAULT_SPREAD_TASK_BYTES = 128 << 10


def spread_task_bytes() -> int:
    return int(
        os.environ.get(_SPREAD_TASK_BYTES_ENV, _DEFAULT_SPREAD_TASK_BYTES)
    )


def scaled_spread_target(
    spark, input_bytes: int | None, per_task_bytes: int | None = None
) -> int:
    """Partition target for a fan-out spread: one task per
    ``per_task_bytes`` of input, clamped to [1, defaultParallelism].
    Unknown size -> full parallelism (never under-spread a frame we
    cannot measure; remote-store files fall back the same way)."""
    target = spark.sparkContext.defaultParallelism
    if input_bytes is None:
        return target
    per = per_task_bytes or spread_task_bytes()
    return max(1, min(target, math.ceil(input_bytes / max(1, per))))


def _local_input_bytes(df: DataFrame) -> int | None:
    """Total stat-able size of the frame's input files; None when any
    file is remote/unreadable or the frame has no file relation."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        size = _local_size(f)
        if size is None:
            return None
        total += size
    return total


def spread_scan(
    df: DataFrame,
    *,
    force: bool = False,
    per_task_bytes: int | None = None,
) -> DataFrame:
    """Repartition ``df`` for a fan-out stage iff its scan is estimated
    narrower than the size-scaled target (``scaled_spread_target``):
    full parallelism once the input carries ~128 KB/core, proportionally
    fewer tasks below that so tiny inputs don't pay 32-way task +
    exchange overhead for microseconds of work per task.
    Result-identical: every consumer downstream is key-based
    (joins/aggregations) or order-normalized.

    ``force=True`` spreads unconditionally to full parallelism (for
    callers that know the frame is narrow but scan-width can't see it,
    e.g. an in-memory frame built on the driver)."""
    spark = df.sparkSession
    if force:
        return df.repartition(spark.sparkContext.defaultParallelism)
    if _already_repartitioned(df):
        return df
    width = estimated_scan_width(df)
    if width is None:
        return df
    target = scaled_spread_target(spark, _local_input_bytes(df), per_task_bytes)
    if width >= target:
        return df
    return df.repartition(target)
