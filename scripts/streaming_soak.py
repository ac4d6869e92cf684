"""Streaming soak at sf1 (VERDICT r9 ask #8): drive the two PERSISTED
streaming state paths — the LSH dedup index and the CDC upsert target
— over many triggers of the file replay source together, and assert
the state store actually stabilizes:

1. **Dedup index soak** (``streaming/dedup_index.py``): 20 triggers of
   documents; the second 10 are a RE-SEND of the first 10 under fresh
   doc_ids (the re-crawl shape). Per trigger: wall, live index rows,
   on-disk bytes, live version-dir count. Asserts
   (a) live rows == bands x docs-with-signatures indexed — exactly
       linear accounting, no leak;
   (b) per-trigger wall stays FLAT as the index grows (probes read
       only touched buckets — the index being 20x bigger at trigger 20
       must not make trigger 20 slower);
   (c) version pruning bounds disk: live version dirs <=
       num_buckets x keep_versions, and bytes/live-row stays flat;
   (d) the re-sent half is recognized: >= 99% of re-sent docs judged
       duplicates (the stragglers are docs too short to shingle).

2. **CDC target soak** (``streaming/cdc.CdcTarget``): 30 daily event
   files upserted one per trigger, keyed by user_id. Per trigger:
   target rows, expected cumulative distinct keys, bytes, versions.
   Asserts rows == cumulative distinct keys EVERY trigger (then flat
   at saturation — upserts stop growing state when the keyspace is
   seen), and version pruning bounds bytes while ~1M rows flow
   through a ~15k-row state.

Writes STREAMING_SOAK_sf1.txt.

Usage: SPARK_GRAFT_SOAK_DIR=.benchdata/sf1.0 python scripts/streaming_soak.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from db_cdc_poc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SOAK_DIR", ".benchdata/sf1.0")
OUT = Path("STREAMING_SOAK_sf1.txt")
BANDS = 16


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, live_version_dirs) under a BucketedStateTable path."""
    total = sum(
        f.stat().st_size for f in path.rglob("*") if f.is_file()
    )
    versions = len([d for d in path.rglob("v_*") if d.is_dir()])
    return total, versions


def dedup_soak(spark, lines: list[str]) -> bool:
    from db_cdc_poc_spark.operators.text import whitespace_token_count
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    # docs too short to shingle never enter the index or match anything
    n_shingled = docs.filter(whitespace_token_count("text") >= 3).count()

    # 10 id-ordered chunks, then the same 10 re-sent under offset ids
    staged = Path(tempfile.mkdtemp(prefix="soak_docs_")) / "stream"
    chunk = (n_docs // 10) + 1
    base = docs.withColumn("__c", F.floor(F.col("doc_id") / chunk))
    for c in range(10):
        base.filter(F.col("__c") == c).drop("__c").coalesce(1).write.mode(
            "append"
        ).parquet(str(staged))
    resend = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    resent_base = resend.withColumn(
        "__c", F.floor((F.col("doc_id") - 10_000_000) / chunk)
    )
    for c in range(10):
        resent_base.filter(F.col("__c") == c).drop("__c").coalesce(1).write.mode(
            "append"
        ).parquet(str(staged))

    idx_path = tempfile.mkdtemp(prefix="soak_idx_") + "/index"
    idx = StreamingDedupIndex(idx_path, num_buckets=32)
    decisions: list = []
    walls: list[float] = []
    rows_seen: list[int] = []
    per_trigger: list[str] = []

    fn = idx.foreach_batch(sink=decisions, max_rows=200_000)

    def timed_fn(batch_df, epoch_id):
        t0 = time.monotonic()
        fn(batch_df, epoch_id)
        walls.append(time.monotonic() - t0)
        live = idx.state.state_for(spark)
        n_live = live.count() if live is not None else 0
        rows_seen.append(n_live)
        b1, v1 = dir_stats(Path(idx_path))
        b2, v2 = dir_stats(Path(f"{idx_path}_sigs"))
        b, v = b1 + b2, v1 + v2
        per_trigger.append(
            f"  trigger {len(walls):>2}: wall={walls[-1]:5.1f}s "
            f"index_rows={n_live:>8} bytes={b:>11} versions={v:>3}"
        )

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staged))
        .writeStream.foreachBatch(timed_fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="soak_ck_"))
        .start()
    )
    q.awaitTermination()

    lines.append("")
    lines.append(
        f"## 1. dedup-index soak: {len(walls)} triggers, {n_docs} docs + "
        f"{n_docs} re-sent ({n_shingled} shingle-able each)"
    )
    lines.extend(per_trigger)
    ok = True

    expected_rows = 2 * n_shingled * BANDS
    lines.append(
        f"final index rows={rows_seen[-1]} expected={expected_rows} "
        f"(2 x {n_shingled} docs x {BANDS} bands)"
    )
    if rows_seen[-1] != expected_rows:
        ok = False
        lines.append("ASSERT FAIL: index row accounting leaked")

    early = sorted(walls[2:6])[len(walls[2:6]) // 2]
    late = sorted(walls[-4:])[len(walls[-4:]) // 2]
    lines.append(f"median wall early(3-6)={early:.1f}s late(last 4)={late:.1f}s")
    if late > 2.0 * early:
        ok = False
        lines.append("ASSERT FAIL: per-trigger wall grew with index size")

    # LSM appends accumulate one DELTA dir per (bucket, trigger); the
    # compaction call folds both tables back to one version per bucket
    # with content intact — the same maintenance loop as parquet
    # small-file compaction
    pre_rows = rows_seen[-1]
    res = idx.compact(spark)
    post = idx.state.state_for(spark).count()
    # the post-compaction invariant is READ FAN-IN: every bucket's
    # live chain is one directory again (pre-snapshot delta dirs
    # remain on disk as retained history until the NEXT compaction
    # cycle prunes past them — the same keep_versions vacuum tradeoff
    # as full snapshots, documented in BucketedStateTable._prune)
    fan_in = max(
        len(idx.state.chain_dirs_for([b])) for b in range(idx.state.num_buckets)
    )
    lines.append(
        f"compact(): {res} rows {pre_rows} -> {post} "
        f"max read fan-in per bucket: {fan_in} dir(s)"
    )
    if post != pre_rows or fan_in != 1:
        ok = False
        lines.append("ASSERT FAIL: compaction changed content or left chains")

    resent = [r for r in decisions if r.id >= 10_000_000]
    dup = sum(1 for r in resent if not r.is_novel)
    rate = dup / max(len(resent), 1)
    lines.append(
        f"re-sent docs judged duplicate: {dup}/{len(resent)} ({rate:.4f})"
    )
    if rate < 0.99:
        ok = False
        lines.append("ASSERT FAIL: re-sent corpus not recognized as dup")
    lines.append("PASS" if ok else "FAIL")
    return ok


def cdc_soak(spark, lines: list[str]) -> bool:
    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    staged = Path(tempfile.mkdtemp(prefix="soak_ev_")) / "stream"
    days = [
        r.day
        for r in ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .distinct()
        .orderBy("day")
        .collect()
    ]
    cum_expected = []
    seen = set()
    for d in days:
        for r in ev.filter(F.date_format("ts", "yyyy-MM-dd") == d).select(
            "user_id"
        ).distinct().collect():
            seen.add(r.user_id)
        cum_expected.append(len(seen))
        ev.filter(F.date_format("ts", "yyyy-MM-dd") == d).coalesce(1).write.mode(
            "append"
        ).parquet(str(staged))

    tgt = CdcTarget(
        tempfile.mkdtemp(prefix="soak_cdc_") + "/target",
        keys="user_id",
        sequence_by=("ts", "event_id"),
        num_buckets=32,
    )
    per_trigger: list[str] = []
    got_rows: list[int] = []

    def fn(batch_df, epoch_id):
        t0 = time.monotonic()
        tgt.upsert_batch(batch_df, epoch_id)
        n = tgt.current(spark).count()
        got_rows.append(n)
        b, v = dir_stats(Path(tgt.path))
        per_trigger.append(
            f"  trigger {len(got_rows):>2}: wall={time.monotonic() - t0:5.1f}s "
            f"target_rows={n:>6} bytes={b:>10} versions={v:>3}"
        )

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staged))
        .writeStream.foreachBatch(fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="soak_ck2_"))
        .start()
    )
    q.awaitTermination()

    lines.append("")
    lines.append(
        f"## 2. CDC-target soak: {len(got_rows)} daily triggers, "
        f"{ev.count()} events -> {cum_expected[-1]} keys"
    )
    lines.extend(per_trigger)
    ok = True
    if got_rows != cum_expected:
        ok = False
        mism = [
            (i, g, e)
            for i, (g, e) in enumerate(zip(got_rows, cum_expected))
            if g != e
        ][:5]
        lines.append(f"ASSERT FAIL: rows != cumulative distinct keys {mism}")
    else:
        lines.append(
            "state rows == cumulative distinct keys at EVERY trigger; "
            f"flat at {cum_expected[-1]} once the keyspace saturates"
        )
    b, v = dir_stats(Path(tgt.path))
    cap = tgt.state.num_buckets * tgt.state.keep_versions
    lines.append(f"live version dirs={v} cap={cap} bytes={b}")
    if v > cap:
        ok = False
        lines.append("ASSERT FAIL: version pruning is not bounding disk")
    lines.append("PASS" if ok else "FAIL")
    return ok


def main() -> None:
    spark = get_spark(app_name="streaming-soak", cpus=16)
    lines = [f"# streaming soak @ {SF_DIR}"]
    ok = dedup_soak(spark, lines)
    ok = cdc_soak(spark, lines) and ok
    lines.append("")
    lines.append("ALL PASS" if ok else "FAILURES PRESENT")
    OUT.write_text("\n".join(lines) + "\n")
    print("\n".join(lines))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
