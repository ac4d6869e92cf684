"""Crash-injection soak over the COMPOSED pipeline (round 10).

The round-10 durability fixes each hardened one crash window in
isolation (sigs-before-bands append ordering, commit-record ordering,
torn-journal recovery, recluster append-before-overwrite — unit tests
in test_round10_fixes.py / test_dedup_index.py). This soak injects
crashes into those windows WHILE the composed pipeline is running —
replay source -> streaming LSH dedup -> CDC apply -> incremental gold
under ``PipelineRunner`` — and asserts the PIPELINE contracts survive
the documented recovery action (re-fire the trigger / next compaction
cadence):

  trigger 2  CRASH between the dedup index's sig append and band
             append (the window the sigs-first ordering exists for).
             Recovery: re-fire the trigger. Contract: orphan sig rows
             are harmless; decisions converge; re-sent duplicates are
             still recognized.
  trigger 3  CRASH after the CDC state's version renames but before
             the commit record. Recovery: re-fire. Contract: the
             upsert is idempotent (latest_by_key is associative and
             totally ordered), silver content unchanged — AND gold
             still counts every row the crashed attempt committed.
             The second half is only achievable if gold's changelog
             is derived from the STATE DELTA (state now vs
             state_at(last folded commit), key-pruned to the
             trigger's keys), NOT from the trigger's own novel rows:
             the re-fired dedup legitimately re-decides against an
             index that already saw the batch (within-batch pairs
             flag BOTH endpoints on the second pass), so a
             batch-derived changelog would silently miss the
             survivors attempt 1 upserted. This soak's gold leg uses
             the watermark pattern for exactly that reason.
  trigger 5  CRASH mid-compaction of the dedup index (bands table
             folded, sigs table not). With the round-10 reordering
             (compaction runs at the START of process_batch, before
             the batch probes or appends anything) this window is
             provably lossless: recovery is just re-fire; readers
             union snapshot+deltas per table independently and the
             next cadence completes the fold. Contract: probe results
             identical, nothing of the trigger's work existed yet.
  trigger 6  CRASH after the band append, before the decisions reach
             the caller — the RESIDUAL unrecoverable window. The
             re-fired probe matches the batch against its own indexed
             copy, so within-batch near-dup SURVIVORS are dropped on
             replay. The contract is bounded, duplicate-leak-free
             loss in the safe direction for dedup: every doc missing
             from silver must have a near-dup partner (checked
             against an independent batch-level LSH pass over
             everything ingested so far), and no duplicate may leak.
             Exact-once survivor ingest needs checkpoint_dir +
             resume-from-decisions (see process_batch docstring).

At EVERY trigger (crashed ones after recovery) the soak asserts the
same invariants as scripts/pipeline_soak.py: injected re-crawl
duplicates never reach silver, silver == one-shot batch apply over
all deduped batches, delta-maintained gold == full recompute, LSM
version dirs within the structural bound.

Writes CRASH_SOAK.txt.

Usage: SPARK_GRAFT_SOAK_DIR=.benchdata/sf1.0 python scripts/crash_soak.py
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
OUT = Path("CRASH_SOAK.txt")
N_TRIGGERS = 8


class InjectedCrash(RuntimeError):
    """Stands in for the process dying inside a crash window."""


def main() -> None:
    from db_cdc_poc_spark.operators.cdc import apply_changes
    from db_cdc_poc_spark.operators.ivm import delta_aggregate
    from db_cdc_poc_spark.operators.text import whitespace_token_count
    from db_cdc_poc_spark.plans.registry import TableRegistry
    from db_cdc_poc_spark.plans.runner import PipelineRunner
    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

    spark = get_spark(app_name="crash-soak")
    lines = [f"crash-injection composed soak over {SF_DIR}, {N_TRIGGERS} triggers"]

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "source", "n_chars")
        .filter(whitespace_token_count("text") >= 3)
    )
    n_docs = docs.count()
    chunk = (n_docs // N_TRIGGERS) + 1
    lines.append(f"docs={n_docs} chunk~{chunk}")

    work = Path(tempfile.mkdtemp(prefix="crash_soak_"))
    idx = StreamingDedupIndex(
        str(work / "lsh"), threshold=0.5, num_buckets=16, compact_every=3
    )
    # keep_versions=4: gold reads before-images at its fold watermark
    # (the previous trigger's commit), and a crash-inflated chain can
    # hold an extra uncommitted version per bucket — retention must
    # cover watermark lag + crash slack (an operational rule worth the
    # soak documenting: the default 2 is tuned for sinks nobody
    # time-travels).
    target = CdcTarget(
        str(work / "silver"),
        keys="doc_id",
        sequence_by="seq",
        num_buckets=16,
        keep_versions=4,
    )

    # -- crash injectors ---------------------------------------------------
    # Each plants ONE exception inside the documented window, then
    # removes itself (the "process restarted with fixed code" shape).
    armed: dict[str, bool] = {}

    band_append = idx.state.append_batch

    def band_append_crash(batch):
        if armed.pop("band_append", False):
            raise InjectedCrash("crash window: sigs appended, bands not")
        created = band_append(batch)
        if armed.pop("post_band_append", False):
            # the residual append-to-sink window: the index has the
            # batch, the decisions never reach the caller
            raise InjectedCrash("crash window: bands appended, decisions lost")
        return created

    idx.state.append_batch = band_append_crash

    record_commit = target.state._record_commit

    def record_commit_crash(*args):
        if armed.pop("cdc_commit", False):
            raise InjectedCrash("crash window: versions renamed, commit not recorded")
        return record_commit(*args)

    target.state._record_commit = record_commit_crash

    sig_snapshot = idx.sigs.snapshot

    def sig_snapshot_crash(sp):
        if armed.pop("compact_sigs", False):
            raise InjectedCrash("crash window: bands compacted, sigs not")
        return sig_snapshot(sp)

    idx.sigs.snapshot = sig_snapshot_crash

    # -- pipeline graph (same shape as pipeline_soak) ----------------------
    reg = TableRegistry(spark)
    state = {"cycle": -1, "gold": None}
    base_chunks = docs.withColumn("__c", F.floor(F.col("doc_id") / chunk))

    @reg.table(tier="bronze", trigger="continuous")
    def bronze():
        t = state["cycle"]
        cur = base_chunks.filter(F.col("__c") == t).drop("__c")
        cur = cur.withColumn("seq", F.lit(t).cast("long"))
        if t >= 1:  # re-crawl: same text under fresh ids — must be dropped
            dup = (
                base_chunks.filter(
                    (F.col("__c") == t - 1) & (F.col("doc_id") % 7 == 0)
                )
                .drop("__c")
                .withColumn("doc_id", F.col("doc_id") + 50_000_000)
                .withColumn("seq", F.lit(t).cast("long"))
            )
            cur = cur.unionByName(dup)
        return cur

    @reg.table(tier="silver", trigger="continuous")
    def dedup_novel():
        b = reg.read("bronze")
        decisions = idx.process_batch(b.select(F.col("doc_id"), "text")).select(
            F.col("id").alias("doc_id"), "is_novel"
        )
        return b.join(decisions, "doc_id").filter("is_novel").drop("is_novel")

    @reg.table(tier="silver", trigger="continuous")
    def silver():
        novel = reg.read("dedup_novel")
        target.upsert_batch(novel)
        return target.current(spark)

    @reg.table(tier="gold", trigger="continuous")
    def gold():
        # Exactly-once incremental gold across the re-fire recovery:
        # fold CdcTarget.changes_since(fold watermark) — the applied-
        # state delta, key-pruned to the trigger's keys. Batch-derived
        # changelogs break here: the re-fired trigger's dedup decisions
        # legitimately differ once the index has seen the batch, so
        # rows the crashed attempt upserted would never appear in any
        # batch's novel set again; and a replayed identical upsert
        # yields an EMPTY delta, so the fold never double-applies.
        reg.read("silver")  # ordering: the upsert has happened
        batch_keys = reg.read("bronze").select("doc_id").distinct()
        wm = state.get("gold_watermark")
        delta = target.changes_since(spark, wm, keys_filter=batch_keys)
        dims = lambda side: F.struct(  # noqa: E731 - tiny local reshape
            F.col(f"{side}.source").alias("source"),
            F.col(f"{side}.n_chars").cast("long").alias("n_chars"),
        )
        changes = delta.select(
            "op",
            F.when(F.col("before").isNotNull(), dims("before")).alias("before"),
            F.when(F.col("after").isNotNull(), dims("after")).alias("after"),
        )
        base = state["gold"]
        if base is None:
            base = spark.createDataFrame([], "source string, n long, n_chars long")
        new_gold = delta_aggregate(base, changes, keys=["source"], measures=["n_chars"])
        new_gold = spark.createDataFrame(
            new_gold.collect(), "source string, n long, n_chars long"
        )
        state["gold"] = new_gold
        state["gold_watermark"] = target.state.commits()[-1]
        return new_gold

    runner = PipelineRunner(reg, root=str(work / "tables"))

    # trigger -> injector key (cadence note: compact_every=3 with the
    # round-10 compact-at-START ordering means the armed sigs-snapshot
    # crash fires at the head of trigger 5's process_batch, before any
    # of trigger 5's own work — the window the reordering created on
    # purpose, because it is the provably-lossless one)
    plan = {
        2: "band_append",
        3: "cdc_commit",
        5: "compact_sigs",
        6: "post_band_append",
    }

    seen_dirs: list[str] = []
    all_pass = True
    for t in range(N_TRIGGERS):
        state["cycle"] = t
        crashed = ""
        if t in plan:
            armed[plan[t]] = True
            if plan[t] == "compact_sigs":
                # make the cadence due NOW so the armed compaction
                # fires at this trigger's process_batch head (the
                # disk-derived cadence otherwise picks its own moment)
                idx._batches_since_compact = idx.compact_every
        t0 = time.monotonic()
        try:
            runner.run_cycle()
        except InjectedCrash as e:
            crashed = f"CRASHED({e}) -> re-fired"
            # If the crash hit AFTER dedup_novel materialized (the CDC
            # window), attempt 1's decisions are this trigger's real
            # survivors — the re-fired attempt legitimately re-decides
            # against an index that already saw the batch, so the
            # batch-recompute leg must see BOTH attempts' outputs.
            if plan[t] == "cdc_commit":
                a = work / f"deduped_{t:02d}a"
                spark.read.parquet(str(work / "tables" / "dedup_novel")).write.mode(
                    "overwrite"
                ).parquet(str(a))
                seen_dirs.append(str(a))
            # recovery action: the restarted pipeline re-fires the
            # trigger (gold's fold watermark hasn't advanced — the
            # crash happened before gold ran — so the re-fire's
            # state-delta fold covers the whole trigger exactly once)
            runner.run_cycle()
        wall = time.monotonic() - t0

        d = work / f"deduped_{t:02d}"
        spark.read.parquet(str(work / "tables" / "dedup_novel")).write.mode(
            "overwrite"
        ).parquet(str(d))
        seen_dirs.append(str(d))

        checks = []
        leaked = (
            spark.read.parquet(str(d)).filter(F.col("doc_id") >= 50_000_000).count()
        )
        checks.append(("dup_leak_0", leaked == 0, f"leaked={leaked}"))

        full = spark.read.parquet(*seen_dirs)
        cols = ["doc_id", "text", "source", "n_chars", "seq"]
        want_silver = apply_changes(
            full, keys="doc_id", sequence_by="seq", tie_breakers="n_chars"
        ).select(*cols)
        got_silver = target.current(spark).select(*cols)
        n_want = want_silver.count()
        diff = (
            want_silver.exceptAll(got_silver).count()
            + got_silver.exceptAll(want_silver).count()
        )
        checks.append(("silver_eq_batch", diff == 0, f"rows={n_want} diff={diff}"))

        want_gold = got_silver.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        got_gold = state["gold"].select("source", "n", "n_chars")
        gdiff = (
            want_gold.exceptAll(got_gold).count()
            + got_gold.exceptAll(want_gold).count()
        )
        checks.append(("gold_eq_batch", gdiff == 0, f"diff={gdiff}"))

        if t in plan and plan[t] == "post_band_append":
            # bounded-loss contract for the residual window: every doc
            # of this trigger's chunk missing from silver must have a
            # near-dup partner somewhere in what has been ingested so
            # far (independent batch-level LSH pass, same parameters
            # as the index: 64 hashes / 16 bands / 3-shingles / 0.5
            # estimated-Jaccard) — loss must be explainable as dedup,
            # never arbitrary
            from db_cdc_poc_spark.operators.dedup import minhash_lsh_pairs

            cur_ids = {
                r.doc_id
                for r in base_chunks.filter(F.col("__c") == t)
                .select("doc_id")
                .collect()
            }
            state_ids = {r.doc_id for r in got_silver.select("doc_id").collect()}
            lost = cur_ids - state_ids
            hist = base_chunks.filter(F.col("__c") <= t).drop("__c")
            pairs = minhash_lsh_pairs(
                hist, "doc_id", "text", 64, 16, 3, 0.5, verify_exact=False
            ).collect()
            partnered = {r.id_a for r in pairs} | {r.id_b for r in pairs}
            unexplained = lost - partnered
            checks.append(
                (
                    "replay_loss_bounded",
                    not unexplained,
                    f"lost={len(lost)} unexplained={len(unexplained)}",
                )
            )

        cap = idx.state.num_buckets * (idx.state.keep_versions + 3 * idx.compact_every)
        nv = {
            name: len([p for p in Path(tbl).rglob("v_*") if p.is_dir()])
            for name, tbl in (
                ("lsh", idx.state.path),
                ("sigs", idx.sigs.path),
                ("silver", target.path),
            )
        }
        bounded = all(v <= cap for v in nv.values())
        checks.append(
            ("state_bounded", bounded,
             f"cap={cap} " + " ".join(f"{k}={v}dirs" for k, v in nv.items()))
        )

        ok = all(c[1] for c in checks)
        all_pass &= ok
        line = (
            f"trigger {t:02d}: wall={wall:6.1f}s {crashed:48s} "
            + " ".join(f"{n}={'PASS' if p else 'FAIL'}({m})" for n, p, m in checks)
        )
        lines.append(line)
        print(line, flush=True)

    # the armed dict must be drained: every planted crash actually fired
    if armed:
        lines.append(f"FAIL: unfired injections {sorted(armed)}")
        all_pass = False

    lines.append("ALL PASS" if all_pass else "FAILURES PRESENT")
    OUT.write_text("\n".join(lines) + "\n")
    print(lines[-1])
    sys.exit(0 if all_pass else 1)


if __name__ == "__main__":
    main()
