"""The latest commit record is a state table's only "now".

Each test drives the commit protocol of ``streaming/state.py`` through
an injected interleave point (a reader inside a rename, a crash inside
``_record_commit``, an upsert inside a fold's diff), in the monkeypatch
style of ``test_dedup_index_isolation.py``:

* a reader opened between two bucket renames of one upsert sees the
  whole pre-commit table, never a mix of new and old buckets;
* a crash after the renames but before the record leaves the last
  recorded commit readable (pruning waits for the record) and its
  renamed dirs invisible; the re-fired write deletes them and applies
  the batch exactly once;
* ``_commits/`` is bounded by retention;
* a fold advances its watermark to the commit it diffed up to.
"""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.streaming.cdc import CdcTarget
from db_cdc_poc_spark.streaming.gold import ChangelogFoldedAggregate
from db_cdc_poc_spark.streaming.state import (
    BucketedStateTable,
    StateVersionVacuumedError,
)

SCHEMA = "k long, v string, seq long"


class InjectedCrash(RuntimeError):
    pass


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _target(path: str, **kw) -> CdcTarget:
    return CdcTarget(path, keys="k", sequence_by="seq", num_buckets=4, **kw)


def _batch(spark, v: str, seq: int, keys=range(20)):
    return spark.createDataFrame([(k, v, seq) for k in keys], SCHEMA)


def _crash_record(monkeypatch, table: BucketedStateTable) -> None:
    def crash(*args):
        raise InjectedCrash("renamed, not recorded")

    monkeypatch.setattr(table, "_record_commit", crash)


def _dirs_above_recorded_tips(path: str) -> list[str]:
    """Version dirs on disk above their bucket's tip in the latest
    record (read straight from the on-disk format)."""
    root = Path(path)
    latest = max(root.glob("_commits/commit_*.json"))
    tips = json.loads(latest.read_text())["versions"]
    return [
        str(d.relative_to(root))
        for d in root.glob("bucket_*/v_*")
        if d.name > f"v_{tips.get(str(int(d.parent.name.split('_')[1])), '')}"
    ]


def test_reader_between_bucket_renames_sees_pre_commit_view(spark, monkeypatch):
    """A second handle reading ``current()`` right after the FIRST
    bucket rename of a 4-bucket upsert sees the table as the last
    record left it: all 20 keys old, none new."""
    path = tempfile.mkdtemp(prefix="st_torn_")
    writer = _target(path)
    writer.upsert_batch(_batch(spark, "old", 1))
    reader = _target(path)
    pre = _rows(reader.current(spark))
    assert len(pre) == 20

    seen = []
    real_rename = Path.rename

    def rename_then_read(self, dst):
        out = real_rename(self, dst)
        if Path(dst).name.startswith("v_") and not seen:
            seen.append(_rows(reader.current(spark)))
        return out

    monkeypatch.setattr(Path, "rename", rename_then_read)
    writer.upsert_batch(_batch(spark, "new", 2))
    monkeypatch.undo()

    assert seen == [pre]
    assert {r.v for r in reader.current(spark).collect()} == {"new"}


def test_crash_before_record_keeps_last_commit_readable(spark, monkeypatch):
    """keep_versions=1: a crash in ``_record_commit`` must not have
    vacuumed the last recorded commit's dirs (so a fold watermarked
    there can still advance), and the renamed dirs stay invisible.
    The re-fired upsert lands once and leaves no dir above a recorded
    tip."""
    path = tempfile.mkdtemp(prefix="st_wedge_")
    target = _target(path, keep_versions=1)
    target.upsert_batch(_batch(spark, "a", 1))
    c1 = target.state.commits()[-1]
    pre = _rows(target.current(spark))

    _crash_record(monkeypatch, target.state)
    with pytest.raises(InjectedCrash):
        target.upsert_batch(_batch(spark, "b", 2))
    monkeypatch.undo()

    assert _dirs_above_recorded_tips(path)  # the crash left renamed dirs
    assert _rows(target.current(spark)) == pre
    assert _rows(target.current_at(spark, c1)) == pre
    assert target.changes_since(spark, c1).collect() == []

    target.upsert_batch(_batch(spark, "b", 2))
    assert target.state.commits()[-1] == c1 + 1
    assert {(r.k, r.v) for r in target.current(spark).collect()} == {
        (k, "b") for k in range(20)
    }
    assert _dirs_above_recorded_tips(path) == []


def test_refire_after_crash_before_record_merges_once(spark, monkeypatch):
    """A non-idempotent merge (union all) re-fired after a crash before
    the record reads the recorded state, not the crashed attempt's
    renamed dirs, so the batch lands exactly once."""
    t = BucketedStateTable(
        tempfile.mkdtemp(prefix="st_once_"), keys=["k"], num_buckets=4, keep_versions=1
    )

    def union(s, b):
        return b if s is None else s.unionByName(b)

    t.merge_batch(_batch(spark, "a", 1), union)
    _crash_record(monkeypatch, t)
    with pytest.raises(InjectedCrash):
        t.merge_batch(_batch(spark, "b", 2), union)
    monkeypatch.undo()
    t.merge_batch(_batch(spark, "b", 2), union)
    got = t.state_for(spark).groupBy("v").count().collect()
    assert {(r.v, r["count"]) for r in got} == {("a", 20), ("b", 20)}


def test_crashed_append_orphans_invisible_then_vacuumed(spark, monkeypatch):
    """Dirs a crashed ``append_batch`` renamed but never recorded are
    invisible to ``state_for`` and ``chain_dirs_for``; the next append
    to those buckets deletes them before taking their place."""
    path = tempfile.mkdtemp(prefix="st_orphan_")
    t = BucketedStateTable(path, keys=["k"], num_buckets=4)
    t.append_batch(_batch(spark, "a", 1))
    chain = set(t.chain_dirs_for())

    _crash_record(monkeypatch, t)
    with pytest.raises(InjectedCrash):
        t.append_batch(_batch(spark, "orphan", 2))
    monkeypatch.undo()

    orphans = set(Path(path).glob("bucket_*/v_*")) - chain
    assert orphans and all(d.name.endswith(".d") for d in orphans)
    assert set(t.chain_dirs_for()) == chain
    assert {r.v for r in t.state_for(spark).collect()} == {"a"}

    t.append_batch(_batch(spark, "c", 3))
    assert _dirs_above_recorded_tips(path) == []
    assert set(Path(path).glob("bucket_*/v_*")) == set(t.chain_dirs_for())
    got = t.state_for(spark).groupBy("v").count().collect()
    assert {(r.v, r["count"]) for r in got} == {("a", 20), ("c", 20)}


def test_commit_records_bounded_by_retention(spark):
    """20 upserts with keep_versions=2 — the first over every bucket,
    the rest over one key — leave a small constant number of records,
    each readable; older ids raise ``StateVersionVacuumedError``,
    later ones ``KeyError``."""
    path = tempfile.mkdtemp(prefix="st_records_")
    target = _target(path, keep_versions=2)
    target.upsert_batch(_batch(spark, "v0", 0))
    first = target.state.commits()[-1]
    for i in range(1, 20):
        target.upsert_batch(_batch(spark, f"v{i}", i, keys=[0]))

    records = sorted(Path(path).glob("_commits/*"))
    assert len(records) <= 2, records
    commits = target.state.commits()
    assert commits[-1] == first + 19
    for c in commits:
        assert target.state.state_at(spark, c).count() == 20
    with pytest.raises(StateVersionVacuumedError):
        target.state.state_at(spark, first)
    with pytest.raises(KeyError):
        target.state.state_at(spark, commits[-1] + 1)


def test_fold_trigger_folds_an_upsert_that_lands_mid_fold(spark, monkeypatch):
    """An upsert committed while ``fold_trigger`` diffs stays above the
    new watermark: the next fold picks it up."""
    target = CdcTarget(
        tempfile.mkdtemp(prefix="st_fold_"), keys="k", sequence_by="seq",
        keep_versions=4,
    )
    fold = ChangelogFoldedAggregate(target, group_keys=["g"], measures=["v"])
    schema = "k long, seq long, g string, v long"
    target.upsert_batch(spark.createDataFrame([(1, 0, "a", 10), (2, 0, "b", 20)], schema))
    fold.fold_trigger(spark)

    real_changes_since = target.changes_since

    def diff_then_upsert(*args, **kw):
        delta = real_changes_since(*args, **kw)
        target.upsert_batch(spark.createDataFrame([(3, 1, "a", 7)], schema))
        return delta

    target.upsert_batch(spark.createDataFrame([(1, 1, "a", 15)], schema))
    monkeypatch.setattr(target, "changes_since", diff_then_upsert)
    fold.fold_trigger(spark)
    monkeypatch.undo()
    fold.fold_trigger(spark)

    want = {
        (r.g, r.n, r.v)
        for r in target.current(spark)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v"))
        .collect()
    }
    assert want == {("a", 2, 22), ("b", 1, 20)}
    assert {(r.g, r.n, r.v) for r in fold.current(spark).collect()} == want
