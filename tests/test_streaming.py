"""Streaming-vs-batch parity (SURVEY §5.4): the availableNow streams
must produce exactly the batch operators' results, including when the
input is split across multiple micro-batches."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.cdc import apply_changes
from db_cdc_poc_spark.sources.testdata import load_table
from db_cdc_poc_spark.streaming.cdc import CdcTarget, stream_apply_changes
from db_cdc_poc_spark.streaming.jobs import (
    stream_dedup_keys,
    stream_dedup_keys_within_watermark,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark):
    """events table staged as 4 parquet files (micros timestamps)."""
    out = tempfile.mkdtemp(prefix="events_multi_") + "/events"
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(out)
    return out


def test_stream_dedup_keys_equals_distinct(spark, events_dir):
    got = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys(spark, events_dir, ["user_id", "event_type"]).collect()
    )
    want = sorted(
        (r.user_id, r.event_type)
        for r in spark.read.parquet(events_dir)
        .select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_stream_dedup_within_watermark_equals_distinct(spark, events_dir):
    # the bounded-state variant: with a delay wider than the data span,
    # dropDuplicatesWithinWatermark's key set == batch DISTINCT
    got = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys_within_watermark(
            spark, events_dir, ["user_id", "event_type"]
        ).collect()
    )
    want = sorted(
        (r.user_id, r.event_type)
        for r in spark.read.parquet(events_dir)
        .select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_stream_cdc_apply_single_batch_parity(spark, events_dir):
    batch = apply_changes(
        spark.read.parquet(events_dir),
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    streamed = stream_apply_changes(
        spark, events_dir,
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_stream_cdc_apply_multi_batch_parity(spark, events_dir):
    # maxFilesPerTrigger=1 forces 4 micro-batches; the incremental merge
    # must be associative: final state == batch apply over everything,
    # regardless of which rows arrived in which batch
    batch = apply_changes(
        spark.read.parquet(events_dir),
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
    )
    streamed = stream_apply_changes(
        spark, events_dir,
        keys="user_id", sequence_by="ts",
        apply_as_deletes="event_type = 'error'",
        except_columns=["props"], tie_breakers="event_id",
        max_files_per_trigger=1,
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, streamed.collect()))


def test_cdc_target_delete_then_reinsert_across_batches(spark):
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_t_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"],
    )
    b1 = spark.createDataFrame([(1, "a", "u", 10), (2, "b", "u", 10)],
                               "k long, v string, op string, seq long")
    b2 = spark.createDataFrame([(1, "x", "d", 20)],
                               "k long, v string, op string, seq long")
    b3 = spark.createDataFrame([(1, "c", "u", 30)],
                               "k long, v string, op string, seq long")
    target.upsert_batch(b1)
    target.upsert_batch(b2)
    mid = {(r.k, r.v) for r in target.current(spark).collect()}
    assert mid == {(2, "b")}  # key 1 deleted
    target.upsert_batch(b3)
    end = {(r.k, r.v) for r in target.current(spark).collect()}
    assert end == {(1, "c"), (2, "b")}  # reinsert after delete survives


def test_cdc_target_stale_update_across_batches_ignored(spark):
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_t2_"),
        keys="k", sequence_by="seq", except_columns=["seq"],
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "new", 200)], "k long, v string, seq long")
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "old", 100)], "k long, v string, seq long")
    )
    [r] = target.current(spark).collect()
    assert r.v == "new"


def test_cdc_target_untouched_buckets_not_rewritten(spark):
    # scale contract: a micro-batch must rewrite ONLY the bucket chains
    # its keys hash into — every other bucket's files stay byte-identical
    import hashlib
    from pathlib import Path

    root = tempfile.mkdtemp(prefix="cdc_bkt_")
    target = CdcTarget(root, keys="k", sequence_by="seq", num_buckets=8)
    b1 = spark.createDataFrame(
        [(i, f"v{i}", 10) for i in range(50)], "k long, v string, seq long"
    )
    target.upsert_batch(b1)
    bucket_of = {
        r.k: r.b for r in b1.select("k", target.bucket_expr().alias("b")).collect()
    }
    touched_bucket = bucket_of[0]
    untouched = sorted(set(bucket_of.values()) - {touched_bucket})
    assert untouched, "need at least one bucket the second batch won't touch"

    def snapshot(b):
        d = Path(root) / f"bucket_{b:04d}"
        return {
            str(p.relative_to(d)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(d.rglob("*"))
            if p.is_file()
        }

    before = {b: snapshot(b) for b in untouched}
    target.upsert_batch(
        spark.createDataFrame([(0, "upd", 20)], "k long, v string, seq long")
    )
    assert {b: snapshot(b) for b in untouched} == before
    # the touched chain advanced one version
    assert len(list((Path(root) / f"bucket_{touched_bucket:04d}").glob("v_*"))) == 2
    got = {(r.k, r.v) for r in target.current(spark).collect()}
    assert got == {(i, f"v{i}") for i in range(1, 50)} | {(0, "upd")}


def test_stream_stream_join_equals_batch_time_bounded_join(spark):
    from pyspark.sql import functions as F

    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.jobs import stream_stream_join

    src = _staged_events_dir(spark, SF_DIR)
    streamed = sorted(
        map(
            tuple,
            stream_stream_join(
                spark, src, left_type="click", right_type="purchase"
            ).collect(),
        )
    )
    ev = spark.read.parquet(src)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
    )
    batch = sorted(
        map(
            tuple,
            c.join(
                p,
                F.expr(
                    "l_key = r_key AND r_ts >= l_ts "
                    "AND r_ts <= l_ts + interval 30 minutes"
                ),
            )
            .select("l_id", "r_id", F.col("l_key").alias("user_id"), "l_ts", "r_ts")
            .collect(),
        )
    )
    assert streamed == batch and len(streamed) > 0


def test_stream_cdc_apply_restart_is_exactly_once(spark, tmp_path):
    """Stop/restart contract: a second run with the SAME checkpoint +
    state processes only files added since the first run — re-running
    with nothing new changes nothing, and the final table equals one
    batch apply over everything (no double application)."""
    import shutil

    from pyspark.sql import functions as F

    from db_cdc_poc_spark.operators.cdc import apply_changes
    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.cdc import stream_apply_changes

    staged = _staged_events_dir(spark, SF_DIR)
    files = sorted(
        f for f in __import__("os").listdir(staged) if f.endswith(".parquet")
    )
    assert len(files) >= 3
    src = str(tmp_path / "src")
    __import__("os").makedirs(src)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return stream_apply_changes(
            spark,
            src,
            keys="user_id",
            sequence_by="ts",
            tie_breakers="event_id",
            state_path=state,
            checkpoint_path=ckpt,
        )

    # run 1: first file only
    shutil.copy(f"{staged}/{files[0]}", f"{src}/{files[0]}")
    run()
    # run 2: same checkpoint, nothing new -> state unchanged
    before = sorted(map(tuple, run().collect()))
    assert before == sorted(map(tuple, run().collect()))
    # run 3: add the rest, resume -> equals one batch apply over all
    for f in files[1:]:
        shutil.copy(f"{staged}/{f}", f"{src}/{f}")
    final = sorted(map(tuple, run().select("user_id", "ts", "event_id").collect()))
    batch = sorted(
        map(
            tuple,
            apply_changes(
                spark.read.parquet(src),
                keys="user_id",
                sequence_by="ts",
                tie_breakers="event_id",
            ).select("user_id", "ts", "event_id").collect(),
        )
    )
    assert final == batch and len(final) > 0


def test_cdc_schema_evolution_additive_column(spark, tmp_path):
    """A micro-batch carrying a NEW column widens the CDC state: old
    rows read NULL for it, later batches keep updating, and buckets
    untouched by the evolved batch still read correctly (mergeSchema
    across per-bucket chains)."""
    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, seq long, v string"
        )
    )
    # evolved batch: new column 'extra'; touches only k=1's bucket
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 2, "a2", "X")], "k long, seq long, v string, extra string"
        )
    )
    cur = {r.k: (r.v, r.extra) for r in t.current(spark).collect()}
    assert cur[1] == ("a2", "X")
    assert cur[2] == ("b", None) and cur[3] == ("c", None)
    # a later NON-evolved batch still merges into the widened state
    t.upsert_batch(
        spark.createDataFrame([(2, 2, "b2")], "k long, seq long, v string")
    )
    cur2 = {r.k: (r.v, r.extra) for r in t.current(spark).collect()}
    assert cur2[2] == ("b2", None) and cur2[1] == ("a2", "X")


def test_cdc_schema_evolution_type_widening(spark, tmp_path):
    """A micro-batch whose column widened upstream (int->long,
    float->double) merges: the touched bucket is rewritten with the
    wider type, buckets still holding the narrow type up-cast on read,
    and the full state reads under one widened schema."""
    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 1, 10, 1.5), (2, 1, 20, 2.5), (3, 1, 30, 3.5)],
            "k long, seq long, qty int, score float",
        )
    )
    # widened batch: qty arrives as long (a value beyond int range),
    # score as double; touches only k=1's bucket
    t.upsert_batch(
        spark.createDataFrame(
            [(1, 2, 2**40, 0.125)], "k long, seq long, qty long, score double"
        )
    )
    cur = t.current(spark)
    dtypes = dict(cur.dtypes)
    assert dtypes["qty"] == "bigint" and dtypes["score"] == "double"
    rows = {r.k: (r.qty, r.score) for r in cur.collect()}
    assert rows[1] == (2**40, 0.125)
    assert rows[2] == (20, 2.5) and rows[3] == (30, 3.5)
    # a later narrow batch still merges into the widened state
    t.upsert_batch(
        spark.createDataFrame([(2, 2, 21, 2.75)], "k long, seq long, qty int, score float")
    )
    rows2 = {r.k: (r.qty, r.score) for r in t.current(spark).collect()}
    assert rows2[2] == (21, 2.75) and rows2[1] == (2**40, 0.125)


def test_cdc_schema_evolution_cross_family_change_raises(spark, tmp_path):
    """Non-widenable type changes (int -> string) must stay hard
    errors — silent coercion corrupts CDC state."""
    import pytest

    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    t = CdcTarget(str(tmp_path / "st"), keys="k", sequence_by="seq", num_buckets=4)
    t.upsert_batch(
        spark.createDataFrame([(1, 1, 10)], "k long, seq long, qty int")
    )
    with pytest.raises(TypeError, match="widening"):
        t.upsert_batch(
            spark.createDataFrame([(1, 2, "ten")], "k long, seq long, qty string")
        )


def test_streaming_state_on_rocksdb_matches_default_store(spark, events_dir):
    # the production state backend for large keyspaces: RocksDB spills
    # state to local disk instead of keeping it JVM-heap-resident.
    # Same query, same results, different provider — proving the
    # operators don't depend on the default HDFS-backed store.
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    default = sorted(
        (r.user_id, r.event_type)
        for r in stream_dedup_keys(spark, events_dir, ["user_id", "event_type"]).collect()
    )
    spark.conf.set(provider_conf, rocksdb)
    try:
        rocks = sorted(
            (r.user_id, r.event_type)
            for r in stream_dedup_keys(
                spark, events_dir, ["user_id", "event_type"]
            ).collect()
        )
    finally:
        spark.conf.unset(provider_conf)
    assert rocks == default


def test_stream_fanout_writes_identical_sinks_across_batches(spark, events_dir):
    import tempfile as _tf

    from db_cdc_poc_spark.streaming.jobs import stream_fanout

    base = _tf.mkdtemp(prefix="fanout_t_")
    sinks = [f"{base}/a", f"{base}/b"]
    # 1 file per trigger -> 4 micro-batches, each fanned to both sinks
    stream_fanout(spark, events_dir, sinks, max_files_per_trigger=1)
    src = sorted(
        map(tuple, spark.read.parquet(events_dir).select("event_id", "value").collect())
    )
    a = spark.read.parquet(sinks[0])
    b = spark.read.parquet(sinks[1])
    assert sorted(map(tuple, a.select("event_id", "value").collect())) == src
    assert sorted(map(tuple, b.select("event_id", "value").collect())) == src
    # multi-batch really happened, and batch dirs are the idempotence unit
    assert a.select("batch_id").distinct().count() == 4


def test_state_table_time_travel_reconstructs_each_commit(spark):
    # every merge_batch records a table-wide commit snapshot; state_at
    # must reproduce the table exactly as it stood after each batch
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_tt_"),
        keys="k", sequence_by="seq", num_buckets=4, keep_versions=100,
    )
    snapshots = []
    for i, batch in enumerate([
        [(1, "a", 10), (2, "b", 10)],
        [(1, "a2", 20), (3, "c", 20)],
        [(2, "b3", 30)],
    ]):
        target.upsert_batch(
            spark.createDataFrame(batch, "k long, v string, seq long")
        )
        snapshots.append({(r.k, r.v) for r in target.current(spark).collect()})
    commits = target.state.commits()
    assert len(commits) == 3
    for commit, want in zip(commits, snapshots):
        got = {(r.k, r.v) for r in target.current_at(spark, commit).collect()}
        assert got == want, f"commit {commit}"


def test_state_table_time_travel_vacuumed_version_raises(spark):
    from db_cdc_poc_spark.streaming.state import StateVersionVacuumedError

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_vac_"),
        keys="k", sequence_by="seq", num_buckets=1, keep_versions=1,
    )
    first = None
    for seq in (10, 20, 30):
        target.upsert_batch(
            spark.createDataFrame([(1, f"v{seq}", seq)], "k long, v string, seq long")
        )
        if first is None:
            first = target.state.commits()[-1]
    with pytest.raises(StateVersionVacuumedError):
        target.state.state_at(spark, first)
    # the latest commit stays readable
    latest = target.state.commits()[-1]
    [r] = target.current_at(spark, latest).collect()
    assert r.v == "v30"


def test_state_diff_classifies_changes_between_commits(spark):
    import tempfile

    from db_cdc_poc_spark.streaming.cdc import CdcTarget, state_diff

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_diff_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"], keep_versions=6,
    )
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", "u", 10), (2, "b", "u", 10), (3, "c", "u", 10)],
        "k long, v string, op string, seq long",
    ))
    target.upsert_batch(spark.createDataFrame(
        [(2, "b2", "u", 20), (1, "a", "d", 20), (4, "d", "u", 20)],
        "k long, v string, op string, seq long",
    ))
    c1, c2 = target.state.commits()
    diff = {r.k: r.change_kind for r in state_diff(target, spark, c1, c2).collect()}
    # 1 deleted, 2 updated, 4 inserted, 3 untouched (absent from diff)
    assert diff == {1: "removed", 2: "changed", 4: "added"}
    # self-diff is empty
    assert state_diff(target, spark, c2, c2).count() == 0
    # reversed direction flips added/removed
    rev = {r.k: r.change_kind for r in state_diff(target, spark, c2, c1).collect()}
    assert rev == {1: "added", 2: "changed", 4: "removed"}


def test_stream_session_window_equals_batch(spark):
    from pyspark.sql import functions as F

    from db_cdc_poc_spark.queries import _staged_events_dir
    from db_cdc_poc_spark.streaming.jobs import stream_session_counts

    src = _staged_events_dir(spark, SF_DIR)
    streamed = sorted(
        map(tuple, stream_session_counts(spark, src, gap="10 minutes").collect())
    )
    batch = sorted(
        map(
            tuple,
            spark.read.parquet(src)
            .groupBy("user_id", F.session_window(F.col("ts"), "10 minutes").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("total_cents"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total_cents",
            )
            .collect(),
        )
    )
    # sessions merged across micro-batches in state == batch sessions
    assert streamed == batch
    assert len(streamed) > 0


def test_state_diff_sees_changes_in_evolved_columns(spark):
    import tempfile

    from db_cdc_poc_spark.streaming.cdc import CdcTarget, state_diff

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_diff_evo_"),
        keys="k", sequence_by="seq", except_columns=["seq"], keep_versions=6,
    )
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, seq long"
    ))
    # commit 2 adds column extra; key 1's ONLY change is in that column
    target.upsert_batch(spark.createDataFrame(
        [(1, "a", 20, "new")], "k long, v string, seq long, extra string"
    ))
    c1, c2 = target.state.commits()
    diff = {r.k: r.change_kind for r in state_diff(target, spark, c1, c2).collect()}
    # the evolved column must participate in the comparison
    assert diff == {1: "changed"}


def test_state_table_append_batch_equals_union_merge(spark):
    """append_batch (LSM delta versions, O(batch) writes) must be
    READ-identical to merge_batch with a union-all merge — same rows,
    same time travel — while writing only the batch per trigger."""
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    appended = BucketedStateTable(
        tempfile.mkdtemp(prefix="st_app_"), keys=["k"], num_buckets=4
    )
    merged = BucketedStateTable(
        tempfile.mkdtemp(prefix="st_mrg_"), keys=["k"], num_buckets=4
    )
    batches = [
        [(i, f"v{i}") for i in range(0, 40)],
        [(i, f"v{i}") for i in range(40, 55)],
        [(i, f"w{i}") for i in range(0, 10)],  # duplicate keys stay (append semantics)
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, "k long, v string")
        appended.append_batch(b)
        merged.merge_batch(
            b, lambda s, bb: bb if s is None else s.unionByName(bb)
        )
        got = sorted(map(tuple, appended.state_for(spark).collect()))
        want = sorted(map(tuple, merged.state_for(spark).collect()))
        assert got == want
    # delta chains: appends never rewrote a full bucket
    assert any(
        p.name.endswith(".d")
        for b in range(4)
        for p in appended._versions(b)
    )
    # time travel reads the chain up to each commit
    commits = appended.commits()
    assert len(commits) == 3
    n_after = [40, 55, 65]
    for c, n in zip(commits, n_after):
        assert appended.state_at(spark, c).count() == n
    # snapshot compacts chains; content and history contract unchanged
    assert appended.snapshot(spark) == 4
    assert sorted(map(tuple, appended.state_for(spark).collect())) == want
    assert appended.snapshot(spark) == 0  # idempotent
    # post-snapshot: exactly one live dir per bucket matters for reads
    for b in range(4):
        assert len(appended.chain_dirs_for([b])) == 1


def test_state_table_append_then_merge_interleave(spark):
    """A merge_batch AFTER appends must see the full delta chain as
    its state input (the CDC-on-top-of-appends composition)."""
    from db_cdc_poc_spark.operators.cdc import latest_by_key
    from db_cdc_poc_spark.streaming.state import BucketedStateTable

    t = BucketedStateTable(
        tempfile.mkdtemp(prefix="st_mix_"), keys=["k"], num_buckets=2
    )
    t.append_batch(spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k long, v string, seq long"))
    t.append_batch(spark.createDataFrame([(1, "a2", 20)], "k long, v string, seq long"))
    # merge: collapse to latest per key. merge_batch only touches the
    # BATCH's buckets, so include a stale k=1 row — its bucket's merge
    # must see BOTH earlier deltas and keep seq=20's value
    t.merge_batch(
        spark.createDataFrame(
            [(3, "c", 30), (1, "stale", 5)], "k long, v string, seq long"
        ),
        lambda s, b: latest_by_key(
            b if s is None else s.unionByName(b), "k", "seq"
        ),
    )
    got = sorted((r.k, r.v) for r in t.state_for(spark).collect())
    # k=2's bucket may be untouched (then its single delta row is the
    # state) — either way exactly one row per key with the right value
    assert got == [(1, "a2"), (2, "b"), (3, "c")]


def test_cdc_changes_since_classifies_c_u_d(spark):
    """changes_since(commit) is the applied-state delta: creates,
    payload updates, applied deletes; unchanged keys yield NO row."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"], keep_versions=4,
    )
    b1 = spark.createDataFrame(
        [(1, "a", "u", 10), (2, "b", "u", 10), (3, "c", "u", 10)],
        "k long, v string, op string, seq long",
    )
    target.upsert_batch(b1)
    wm = target.state.commits()[-1]
    # all-'c' bootstrap form
    boot = {(r.k, r.op) for r in target.changes_since(spark, None).collect()}
    assert boot == {(1, "c"), (2, "c"), (3, "c")}
    b2 = spark.createDataFrame(
        [(2, "B", "u", 20), (3, "c", "d", 20), (4, "d", "u", 20)],
        "k long, v string, op string, seq long",
    )
    target.upsert_batch(b2)
    got = {
        (r.k, r.op, r.before.v if r.before else None, r.after.v if r.after else None)
        for r in target.changes_since(spark, wm).collect()
    }
    # key 1 unchanged -> absent; 2 updated; 3 deleted; 4 created
    assert got == {
        (2, "u", "b", "B"),
        (3, "d", "c", None),
        (4, "c", None, "d"),
    }


def test_cdc_changes_since_replay_yields_empty_delta(spark):
    """A re-fired trigger re-upserting the same rows must produce an
    EMPTY delta against the post-commit watermark — the exactly-once
    property the crash soak's gold fold relies on."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_r_"),
        keys="k", sequence_by="seq", keep_versions=4,
    )
    b = spark.createDataFrame([(1, "a", 10), (2, "b", 10)],
                              "k long, v string, seq long")
    target.upsert_batch(b)
    wm = target.state.commits()[-1]
    target.upsert_batch(b)  # the replay
    assert target.changes_since(spark, wm).count() == 0


def test_cdc_changes_since_keys_filter_prunes(spark):
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_k_"),
        keys="k", sequence_by="seq", keep_versions=4,
    )
    target.upsert_batch(
        spark.createDataFrame([(1, "a", 10), (2, "b", 10)],
                              "k long, v string, seq long")
    )
    wm = target.state.commits()[-1]
    target.upsert_batch(
        spark.createDataFrame([(1, "A", 20), (2, "B", 20)],
                              "k long, v string, seq long")
    )
    keys = spark.createDataFrame([(1,)], "k long")
    got = {(r.k, r.op) for r in target.changes_since(spark, wm, keys).collect()}
    assert got == {(1, "u")}


# -- schema sidecars and bucket-version pruning -----------------------------


def _spark_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs. Job events reach the
    status tracker through one in-order listener queue, so once a
    marker job run afterwards is visible, every job ``fn`` launched is
    too."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    probe, marker = f"probe-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(probe, "job count probe")
    try:
        fn()
        sc.setJobGroup(marker, "job count marker")
        spark.range(4).repartition(2).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(probe))


def _buckets_of(spark, target, keys) -> dict[int, int]:
    """key -> the bucket ``target`` routes it to."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    return dict(df.select("k", target.bucket_expr()).collect())


def _strip_sidecars(path, keep=lambda d: False) -> int:
    """Delete the sidecar of every version dir that ``keep`` rejects,
    leaving it as state written before sidecars existed; returns how
    many were deleted."""
    from pathlib import Path

    from db_cdc_poc_spark.streaming.state import SCHEMA_SIDECAR

    n = 0
    for f in sorted(Path(path).glob(f"bucket_*/v_*/{SCHEMA_SIDECAR}")):
        if not keep(f.parent):
            f.unlink()
            n += 1
    return n


def test_state_reads_launch_no_spark_job(spark):
    """Sidecar-pinned reads plan without footer inference: building
    ``current``, ``state_for`` and an empty ``changes_since`` (no commit
    since the watermark) launch zero Spark jobs; a real scan does."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_jobs_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op"], num_buckets=4, keep_versions=4,
    )
    target.upsert_batch(spark.createDataFrame(
        [(k, 1, "u", 10 * k) for k in range(20)], "k long, seq long, op string, v long"
    ))
    wm = target.state.commits()[-1]
    assert _spark_jobs(spark, lambda: target.current(spark)) == 0
    assert _spark_jobs(spark, lambda: target.state.state_for(spark)) == 0
    rows = []
    assert _spark_jobs(
        spark, lambda: rows.extend(target.changes_since(spark, wm).collect())
    ) == 0
    assert rows == []
    # the probe sees the scan itself
    assert _spark_jobs(spark, lambda: target.current(spark).count()) >= 1


def test_every_version_dir_carries_its_schema(spark):
    """merge_batch, append_batch and snapshot each commit dirs whose
    sidecar equals the schema footer inference reports for the dir."""
    from db_cdc_poc_spark.streaming.state import (
        SCHEMA_SIDECAR,
        BucketedStateTable,
        _read_sidecar,
    )

    t = BucketedStateTable(tempfile.mkdtemp(prefix="st_sc_"), keys=["k"], num_buckets=4)
    # non-nullable nested fields: files read back all-nullable
    rows = spark.createDataFrame(
        [(k, f"v{k}") for k in range(12)], "k long, v string"
    ).select("*", F.array(F.lit(1)).alias("a"), F.struct(F.lit(2).alias("x")).alias("s"))
    t.merge_batch(rows, lambda s, b: b if s is None else s.unionByName(b))
    t.append_batch(rows.limit(5))
    assert t.snapshot(spark) > 0
    dirs = sorted(t.path.glob("bucket_*/v_*"))
    assert any(d.name.endswith(".d") for d in dirs)
    for d in dirs:
        assert (d / SCHEMA_SIDECAR).is_file(), d
        assert _read_sidecar(d) == spark.read.parquet(str(d)).schema, d


@pytest.mark.parametrize("legacy", ["all", "half"])
def test_state_without_sidecars_reads_diffs_and_merges(spark, legacy):
    """State written before sidecars existed (every dir, or a mix of
    old and new dirs) still reads, diffs and merges through footer
    inference — type widening across buckets included — and the dirs
    later commits create carry sidecars."""
    from db_cdc_poc_spark.streaming.cdc import state_diff
    from db_cdc_poc_spark.streaming.state import SCHEMA_SIDECAR

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_legacy_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op"], num_buckets=4, keep_versions=6,
    )
    target.upsert_batch(spark.createDataFrame(
        [(k, 1, "u", 10 * k) for k in range(1, 9)], "k long, seq long, op string, qty int"
    ))
    c1 = target.state.commits()[-1]
    # k=1's bucket widens qty to bigint; the other buckets stay int
    target.upsert_batch(spark.createDataFrame(
        [(1, 2, "u", 2**40)], "k long, seq long, op string, qty long"
    ))
    c2 = target.state.commits()[-1]

    def keep(d):  # "half": even buckets keep their sidecars, odd ones lose them
        return legacy == "half" and int(d.parent.name.split("_")[1]) % 2 == 0

    assert _strip_sidecars(target.path, keep) > 0
    if legacy == "all":
        assert _spark_jobs(spark, lambda: target.current(spark)) >= 1

    cur = target.current(spark)
    assert dict(cur.dtypes)["qty"] == "bigint"
    want = {k: 10 * k for k in range(2, 9)} | {1: 2**40}
    assert {r.k: r.qty for r in cur.collect()} == want
    assert {(r.k, r.op) for r in target.changes_since(spark, c1).collect()} == {(1, "u")}
    assert {r.k: r.change_kind for r in state_diff(target, spark, c1, c2).collect()} == {
        1: "changed"
    }

    target.upsert_batch(spark.createDataFrame(
        [(2, 3, "u", 21), (3, 3, "d", 0), (9, 3, "u", 90)],
        "k long, seq long, op string, qty int",
    ))
    want |= {2: 21, 9: 90}
    del want[3]
    assert {r.k: r.qty for r in target.current(spark).collect()} == want
    delta = {(r.k, r.op) for r in target.changes_since(spark, c2).collect()}
    assert delta == {(2, "u"), (3, "d"), (9, "c")}
    touched = set(_buckets_of(spark, target, (2, 3, 9)).values())
    for b in touched:
        tip = target.state._versions(b)[-1]
        assert (tip / SCHEMA_SIDECAR).is_file()


def test_changes_since_payload_keeps_columns_of_unchanged_buckets(spark):
    """Pruning reads only the changed buckets, but the before/after
    structs still carry every column of the table: a column that only
    an unchanged bucket holds appears NULL, so the output schema does
    not depend on which buckets a trigger touched."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_schema_"),
        keys="k", sequence_by="seq", num_buckets=4, keep_versions=4,
    )
    target.upsert_batch(spark.createDataFrame(
        [(k, 1, 10 * k) for k in range(12)], "k long, seq long, v long"
    ))
    buckets = _buckets_of(spark, target, range(12))
    by_bucket = {}
    for k in range(12):
        by_bucket.setdefault(buckets[k], k)
    (ka, kb, *_) = by_bucket.values()
    target.upsert_batch(spark.createDataFrame(
        [(ka, 2, 1, "x")], "k long, seq long, v long, extra string"
    ))
    wm = target.state.commits()[-1]
    target.upsert_batch(spark.createDataFrame([(kb, 3, 7)], "k long, seq long, v long"))
    assert target.state.changed_buckets(wm) == [buckets[kb]]
    delta = target.changes_since(spark, wm)
    assert delta.schema["after"].dataType.fieldNames() == ["seq", "v", "extra"]
    [r] = delta.collect()
    assert (r.k, r.op, r.before.v, r.after.v, r.after.extra) == (kb, "u", 10 * kb, 7, None)
    # nothing changed since the latest commit: same columns, no rows
    empty = target.changes_since(spark, target.state.commits()[-1])
    assert empty.schema.simpleString() == delta.schema.simpleString()
    assert empty.collect() == []


def test_state_diff_reads_only_changed_buckets(spark):
    """state_diff prunes to the buckets whose recorded version differs
    between the two commits — one changed bucket, then one bucket
    first written after the earlier commit — and equals the brute-force
    diff of the two whole-table snapshots in both directions."""
    from db_cdc_poc_spark.streaming.cdc import state_diff

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_diff_prune_"),
        keys="k", sequence_by="seq", apply_as_deletes="op = 'd'",
        except_columns=["op", "seq"], num_buckets=8, keep_versions=8,
    )
    schema = "k long, v string, op string, seq long"
    buckets = _buckets_of(spark, target, range(40))
    filled = sorted(set(buckets.values()))[:-1]  # leave one bucket empty
    first = [k for k in range(40) if buckets[k] in filled]
    target.upsert_batch(spark.createDataFrame([(k, "a", "u", 1) for k in first], schema))
    one = filled[0]
    in_one = [k for k in first if buckets[k] == one]
    assert len(in_one) >= 2
    target.upsert_batch(spark.createDataFrame(
        [(in_one[0], "b", "u", 2), (in_one[1], "a", "d", 2)], schema
    ))
    late = [k for k in range(40) if buckets[k] not in filled]
    target.upsert_batch(spark.createDataFrame([(k, "c", "u", 3) for k in late], schema))
    c1, c2, c3 = target.state.commits()
    assert target.state.changed_buckets(c1, c2) == [one]
    assert target.state.changed_buckets(c2, c3) == [buckets[late[0]]]

    def snapshot(c):
        return {r.k: r.v for r in target.current_at(spark, c).collect()}

    def brute(a, b):
        sa, sb = snapshot(a), snapshot(b)
        out = {k: "added" for k in sb.keys() - sa.keys()}
        out |= {k: "removed" for k in sa.keys() - sb.keys()}
        out |= {k: "changed" for k in sa.keys() & sb.keys() if sa[k] != sb[k]}
        return out

    for a, b in [(c1, c2), (c2, c1), (c2, c3), (c3, c2), (c1, c3), (c3, c3)]:
        got = {r.k: r.change_kind for r in state_diff(target, spark, a, b).collect()}
        assert got == brute(a, b), (a, b)


def test_unify_schemas_merges_nested_fields_and_keeps_metadata(spark):
    """Struct columns merge field by field at every depth (inside
    arrays too), numerics widen, the first metadata seen for a field
    wins, and a nested non-widenable conflict names its path."""
    from pyspark.sql import types as T

    from db_cdc_poc_spark.streaming.state import unify_schemas

    def parse(ddl):
        return T._parse_datatype_string(ddl)

    a = parse("k long, s struct<a:int>, xs array<struct<p:int>>")
    a = T.StructType([
        T.StructField("k", T.LongType(), False, {"comment": "key"}), *a.fields[1:]
    ])
    b = parse("k long, s struct<a:bigint,b:string>, xs array<struct<p:int,q:double>>, v int")
    got = unify_schemas([a, b])
    want = parse(
        "k long, s struct<a:bigint,b:string>, xs array<struct<p:int,q:double>>, v int"
    )
    assert got.simpleString() == want.simpleString()
    assert got["k"].metadata == {"comment": "key"}
    assert all(f.nullable for f in got.fields)
    with pytest.raises(TypeError, match="'s.a'"):
        unify_schemas([a, parse("k long, s struct<a:string>")])


def test_nested_struct_drift_across_buckets(spark):
    """A bucket first written after a struct column gained a field
    holds the wider struct while older buckets hold the narrower one.
    Whole-table reads, merges touching both shapes, and pruned diffs
    that read only a narrow bucket all see the merged struct."""
    from db_cdc_poc_spark.streaming.cdc import state_diff

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_nested_"),
        keys="k", sequence_by="seq", num_buckets=4, keep_versions=8,
    )
    buckets = _buckets_of(spark, target, range(40))
    ka = 0
    kb = next(k for k in range(40) if buckets[k] != buckets[ka])
    narrow, wide = "k long, seq long, s struct<a:int>", "k long, seq long, s struct<a:int,b:string>"
    target.upsert_batch(spark.createDataFrame([(ka, 1, (1,))], narrow))
    c1 = target.state.commits()[-1]
    target.upsert_batch(spark.createDataFrame([(kb, 1, (2, "x"))], wide))
    c2 = target.state.commits()[-1]

    def rows(df):
        return {r.k: r.s.asDict() for r in df.collect()}

    cur = target.current(spark)
    assert cur.schema["s"].dataType.fieldNames() == ["a", "b"]
    assert rows(cur) == {ka: {"a": 1, "b": None}, kb: {"a": 2, "b": "x"}}

    # only the narrow bucket changes: the pruned diff reads it alone
    target.upsert_batch(spark.createDataFrame([(ka, 2, (5,))], narrow))
    c3 = target.state.commits()[-1]
    assert target.state.changed_buckets(c2) == [buckets[ka]]
    [r] = target.changes_since(spark, c2).collect()
    assert (r.k, r.op) == (ka, "u")
    assert (r.before.s.asDict(), r.after.s.asDict()) == (
        {"a": 1, "b": None}, {"a": 5, "b": None}
    )
    assert {r.k: r.change_kind for r in state_diff(target, spark, c2, c3).collect()} == {
        ka: "changed"
    }

    # one batch touching both shapes
    target.upsert_batch(spark.createDataFrame([(ka, 3, (7, "z")), (kb, 3, (8, "w"))], wide))
    c4 = target.state.commits()[-1]
    assert rows(target.current(spark)) == {ka: {"a": 7, "b": "z"}, kb: {"a": 8, "b": "w"}}
    assert {r.k: r.change_kind for r in state_diff(target, spark, c1, c4).collect()} == {
        ka: "changed", kb: "added"
    }
    assert {(r.k, r.op) for r in target.changes_since(spark, c3).collect()} == {
        (ka, "u"), (kb, "u")
    }


def test_state_reads_keep_column_metadata(spark):
    """Column metadata the writer's schema carries survives sidecar
    reads, as it did footer-inferred ones."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_meta_"),
        keys="k", sequence_by="seq", num_buckets=4,
    )
    batch = spark.createDataFrame(
        [(k, 1, k) for k in range(8)], "k long, seq long, v long"
    ).withMetadata("v", {"comment": "on hand"})
    target.upsert_batch(batch)
    assert target.current(spark).schema["v"].metadata == {"comment": "on hand"}
