"""Property-based check: apply_changes against a pure-Python model of
DLT apply_changes semantics over randomized changelogs (out-of-order
sequences, duplicate sequence numbers, interleaved deletes)."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from db_cdc_poc_spark.operators.cdc import apply_changes

ROW = st.tuples(
    st.integers(min_value=0, max_value=4),      # key
    st.integers(min_value=0, max_value=20),     # seq
    st.sampled_from(["u", "u", "u", "d"]),      # op (deletes rarer)
    st.integers(min_value=0, max_value=99),     # payload
)


def _model(rows):
    """latest row per key by the engine's TOTAL order — (sequence_by,
    tie_breakers, remaining columns in DataFrame order): here
    (seq, val, op). Drop keys whose latest row is a delete. The total
    order matters: the round-10 sweep found an upsert and a delete
    tied on (seq, val), where any partial order flips the key's
    survival run-to-run."""
    latest = {}
    for key, seq, op, val in rows:
        cur = latest.get(key)
        if cur is None or (seq, val, op) > cur[:3]:
            latest[key] = (seq, val, op)
    return {
        key: (seq, val)
        for key, (seq, val, op) in latest.items()
        if op != "d"
    }


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(ROW, min_size=0, max_size=40))
def test_apply_changes_matches_model(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "key long, seq long, op string, val long")
    got = {
        r.key: (r.seq, r.val)
        for r in apply_changes(
            df,
            keys="key",
            sequence_by="seq",
            apply_as_deletes="op = 'd'",
            except_columns=["op"],
            tie_breakers="val",
        ).collect()
    }
    assert got == _model(rows)


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(ROW, min_size=1, max_size=40),
    cut=st.integers(min_value=0, max_value=40),
)
def test_changes_since_matches_applied_view_diff(spark, rows, cut):
    """changes_since(wm) over a randomized two-upsert split must equal
    the diff of the pure-Python applied views at the split and at the
    end — including 'd' rows for keys whose corpus-wide latest is a
    delete marker, and NO row for keys whose second-batch rows lose
    the sequence race (late arrivals must stay silent)."""
    import tempfile

    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    cut = min(cut, len(rows))
    b1, b2 = rows[:cut], rows[cut:]
    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_prop_"),
        keys="key",
        sequence_by="seq",
        apply_as_deletes="op = 'd'",
        except_columns=["op"],
        tie_breakers="val",
        keep_versions=4,
    )
    schema = "key long, seq long, op string, val long"
    wm = None
    if b1:
        target.upsert_batch(spark.createDataFrame(b1, schema))
        wm = target.state.commits()[-1]
    if b2:
        target.upsert_batch(spark.createDataFrame(b2, schema))
    if not b1 and not b2:
        return
    if wm is None:
        # no watermark yet: bootstrap form, everything is a create
        got = {
            r.key: (r.op, None, (r.after.seq, r.after.val))
            for r in target.changes_since(spark, None).collect()
        }
    else:
        got = {
            r.key: (
                r.op,
                (r.before.seq, r.before.val) if r.before else None,
                (r.after.seq, r.after.val) if r.after else None,
            )
            for r in target.changes_since(spark, wm).collect()
        }
    old = _model(b1)
    new = _model(rows)
    want = {}
    for k in set(old) | set(new):
        o, n = old.get(k), new.get(k)
        if o == n:
            continue
        op = "c" if o is None else ("d" if n is None else "u")
        want[k] = (op, o, n)
    assert got == want


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=11),  # key
                st.integers(min_value=0, max_value=20),  # seq
                st.sampled_from(["u", "u", "u", "d"]),   # op
                st.integers(min_value=0, max_value=99),  # payload
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    ),
    wm_pick=st.integers(min_value=0, max_value=3),
)
def test_changes_since_pruned_by_bucket_matches_applied_view_diff(
    spark, batches, wm_pick
):
    """changes_since reads only the buckets whose version moved since
    the watermark. Small batches over 4 buckets touch only some of
    them, and a watermark at the last commit (``wm_pick`` past the
    end clamps to it) has no later commit at all; either way the
    result must equal the brute-force diff of the pure-Python applied
    views at the watermark and at the end."""
    import tempfile

    from db_cdc_poc_spark.streaming.cdc import CdcTarget

    target = CdcTarget(
        tempfile.mkdtemp(prefix="cdc_cs_prune_prop_"),
        keys="key",
        sequence_by="seq",
        apply_as_deletes="op = 'd'",
        except_columns=["op"],
        tie_breakers="val",
        num_buckets=4,
        keep_versions=4,
    )
    schema = "key long, seq long, op string, val long"
    for b in batches:
        target.upsert_batch(spark.createDataFrame(b, schema))
    commits = target.state.commits()
    i = min(wm_pick, len(commits) - 1)
    got = {
        r.key: (
            r.op,
            (r.before.seq, r.before.val) if r.before else None,
            (r.after.seq, r.after.val) if r.after else None,
        )
        for r in target.changes_since(spark, commits[i]).collect()
    }
    old = _model([r for b in batches[: i + 1] for r in b])
    new = _model([r for b in batches for r in b])
    want = {}
    for k in set(old) | set(new):
        o, n = old.get(k), new.get(k)
        if o == n:
            continue
        op = "c" if o is None else ("d" if n is None else "u")
        want[k] = (op, o, n)
    assert got == want
