"""``pos_inventory_stream``: the reference product as an open loop.

Transactions and snapshot bursts arrive on the generator's schedule
(``gen_pos``) whatever the program does. The trigger loop runs back to
back: it writes every message that has come due into the topic
directories, ingests them (``inventory_streaming.run_ingestion``),
rebuilds gold (``inventory.gold_current_inventory_sql``) and then
issues four reads: gold for one store, the lowest-stock items,
``CdcTarget.current`` for one item range and ``CdcTarget.changes_since``
the previous commit.

Freshness of a transaction runs from its scheduled arrival to the end
of the gold refresh that includes it, so a stalled trigger delays every
transaction queued behind it. Arrivals stop after ``seconds``; the loop
then drains the rest, so no transaction of the window goes unmeasured.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import numpy as np

import gen_pos
import oracles
from tracing import Tracer, dir_stats, version_set

#: Items per ``CdcTarget.current`` range read.
RANGE_ITEMS = 100
#: Rows returned by the lowest-stock read.
LOWSTOCK_ROWS = 20


class PosPipeline:
    """Program state of one pos run, rooted at ``root``."""

    def __init__(self, spark, root: Path, inputs: gen_pos.PosInputs, tracer: Tracer,
                 group) -> None:
        from db_cdc_poc_spark.pipelines import inventory
        from db_cdc_poc_spark.streaming.cdc import CdcTarget

        self.spark = spark
        self.root = root
        self.inputs = inputs
        self.tracer = tracer
        self.group = group
        self.events_dir = root / "topics" / "events"
        self.cdc_dir = root / "topics" / "cdc"
        self.out_root = root / "pipeline"
        self.gold_dir = root / "gold"
        dims_dir = root / "dims"
        for d in (self.events_dir, self.cdc_dir, dims_dir):
            d.mkdir(parents=True, exist_ok=True)
        for name, text in inputs.dims.items():
            (dims_dir / name).write_text(text)
        dims = inventory.build_inventory_pipeline(spark, str(dims_dir), dataset_suffix="")
        self.store = dims.build("store").cache()
        self.change_type = dims.build("inventory_change_type").cache()
        # a reader over the CDC state run_ingestion maintains
        self.target = CdcTarget(
            str(self.out_root / "inventory_snapshot_state"),
            keys=["item_id", "store_id"],
            sequence_by="ts_ms",
            apply_as_deletes="op = 'd'",
            except_columns=["op", "ts_ms", "date_time"],
        )
        self.n_files = 0
        self.silver = None
        self.expected: oracles.CdcExpectation | None = None
        self.n_warm = 0

    def write_topic(self, directory: Path, lines: list[str]) -> None:
        """Publish lines as one topic file (hidden name, then rename, so
        the file source never sees a partial file)."""
        tmp = directory / f".part-{self.n_files:06d}.tmp"
        tmp.write_text("\n".join(lines) + "\n")
        os.rename(tmp, directory / f"part-{self.n_files:06d}.json")
        self.n_files += 1

    def ingest(self) -> None:
        from db_cdc_poc_spark.pipelines import inventory_streaming

        with self.group("ingest"):
            self.silver = inventory_streaming.run_ingestion(
                self.spark, str(self.events_dir), str(self.cdc_dir),
                out_root=str(self.out_root),
            )

    def refresh_gold(self) -> None:
        from db_cdc_poc_spark.pipelines import inventory
        from db_cdc_poc_spark.plans.registry import TableRegistry

        with self.group("gold"), self.tracer.span("gold.refresh"):
            reg = TableRegistry(self.spark)
            tables = {
                "store": self.store,
                "inventory_change_type": self.change_type,
                "inventory_change": self.silver["inventory_change"],
                "inventory_snapshot": self.silver["inventory_snapshot"].select(
                    "item_id", "store_id", "quantity", "date_time_ts"),
            }
            for name, df in tables.items():
                reg.table(name=name)(lambda df=df: df)
            inventory.gold_current_inventory_sql(reg).write.mode("overwrite").parquet(
                str(self.gold_dir))

    def reads(self, store: int, item_lo: int, commit: int | None) -> dict:
        """The four reads; returns their latencies and results."""
        from pyspark.sql import functions as F

        out = {}
        with self.group("read"):
            t = time.perf_counter()
            with self.tracer.span("read.gold_store"):
                rows = (self.spark.read.parquet(str(self.gold_dir))
                        .filter(F.col("store_id") == store).collect())
            out["gold_store"] = (time.perf_counter() - t, rows)
            t = time.perf_counter()
            with self.tracer.span("read.gold_lowstock"):
                rows = (self.spark.read.parquet(str(self.gold_dir))
                        .orderBy("current_inventory", "store_id", "item_id")
                        .limit(LOWSTOCK_ROWS).collect())
            out["gold_lowstock"] = (time.perf_counter() - t, rows)
            t = time.perf_counter()
            with self.tracer.span("read.cdc_current"):
                rows = (self.target.current(self.spark)
                        .filter(F.col("item_id").between(item_lo, item_lo + RANGE_ITEMS - 1))
                        .collect())
            out["cdc_current"] = (time.perf_counter() - t, rows)
            t = time.perf_counter()
            with self.tracer.span("read.cdc_changes_since"):
                rows = self.target.changes_since(self.spark, commit).collect()
            out["cdc_changes_since"] = (time.perf_counter() - t, rows)
        return out


def _setup(spark, seed, config, root, tracer, group):
    """Generate inputs, create the program state and run one warm-up
    trigger over the initial snapshot. Returns the pipeline, the
    expected-state tracker and the phase timings."""
    t0 = time.perf_counter()
    inputs = gen_pos.generate(seed, config)
    t1 = time.perf_counter()
    with tracer.span("setup"), group("setup"):
        pipe = PosPipeline(spark, root, inputs, tracer, group)
        expected = pipe.expected = oracles.CdcExpectation(inputs)
        pipe.write_topic(pipe.cdc_dir, inputs.initial_cdc_lines)
        expected.apply_burst(-1)
        pipe.n_warm = int(np.searchsorted(inputs.event_due_s, 0.0))
        pipe.write_topic(pipe.events_dir, inputs.event_lines[:pipe.n_warm])
        pipe.ingest()
        pipe.refresh_gold()
        commits = pipe.target.state.commits()
        res = pipe.reads(0, gen_pos.FIRST_ITEM_ID, commits[-1])
    t2 = time.perf_counter()
    problems = expected.check_reads(res, new_keys=None)
    return pipe, expected, {"generate_s": t1 - t0, "warmup_s": t2 - t1}, problems


def run(spark, seed: int, seconds: float, root: Path, tracer: Tracer, group,
        config: gen_pos.PosConfig | None = None) -> dict:
    """One pos run: set-up, the timed open loop, then the oracles.
    ``config`` overrides the traffic model (tests use a small one)."""
    config = config or gen_pos.PosConfig(seconds=seconds)
    t = time.perf_counter()
    pipe, expected, phase, problems = _setup(spark, seed, config, root, tracer, group)
    setup_s = time.perf_counter() - t
    for p in problems:
        print(f"read check failed at set-up: {p}", flush=True)
    inputs = pipe.inputs
    rng = np.random.default_rng([seed, 1])
    n_msgs = len(inputs.event_lines)
    msg_trigger = np.full(n_msgs, -1, np.int64)
    msg_trigger[:pipe.n_warm] = 0
    fresh = np.full(n_msgs, np.nan)
    read_lat: list[float] = []
    busy = 0.0  # seconds spent in ingest + gold refresh
    backlog, lag, timeline = [], [], []
    attempted, failed = 5, len(problems)
    next_msg, next_burst = pipe.n_warm, 0
    trigger = 0
    dirs_before = version_set(pipe.target.path)
    cdc_touched = cdc_written = 0.0

    # arrivals stop at ``seconds``; the loop then drains what is left, so
    # every transaction of the window gets a freshness value
    t0 = time.perf_counter()
    wall = 0.0
    while (time.perf_counter() - t0 < seconds or next_msg < n_msgs
           or next_burst < len(inputs.bursts)):
        now = time.perf_counter() - t0
        trigger += 1
        with tracer.span("trigger", trigger=trigger):
            hi = int(np.searchsorted(inputs.event_due_s, now, side="right"))
            if hi > next_msg:
                pipe.write_topic(pipe.events_dir, inputs.event_lines[next_msg:hi])
                msg_trigger[next_msg:hi] = trigger
                lag.append(float(np.median(now - inputs.event_due_s[next_msg:hi])))
            if now < seconds:  # the drain after the window is no backlog sample
                backlog.append(hi - next_msg)
            first_new, next_msg = next_msg, hi
            new_keys = None
            while next_burst < len(inputs.bursts) and inputs.bursts[next_burst][0] <= now:
                pipe.write_topic(pipe.cdc_dir, inputs.bursts[next_burst][1])
                new_keys = expected.apply_burst(next_burst, new_keys)
                next_burst += 1
            commits = pipe.target.state.commits()
            attempted += 1
            try:
                pipe.ingest()
                pipe.refresh_gold()
            except Exception as exc:  # a failed trigger is counted, the loop goes on
                failed += 1
                print(f"trigger {trigger} failed: {exc!r}", flush=True)
                continue
            wall = time.perf_counter() - t0
            busy += wall - now
            fresh[first_new:hi] = wall - inputs.event_due_s[first_new:hi]
            store = int(rng.integers(0, inputs.config.stores))
            item_lo = gen_pos.FIRST_ITEM_ID + int(
                rng.integers(0, inputs.config.items - RANGE_ITEMS + 1))
            attempted += 4
            try:
                res = pipe.reads(store, item_lo, commits[-1])
            except Exception as exc:
                failed += 4
                print(f"reads after trigger {trigger} failed: {exc!r}", flush=True)
                continue
            problems = expected.check_reads(res, new_keys, store=store, item_lo=item_lo)
            failed += len(problems)
            for p in problems:
                print(f"read check failed after trigger {trigger}: {p}", flush=True)
            read_lat.extend(lat for lat, _rows in res.values())
            timeline.append({"start_s": round(now, 3), "tx": hi - first_new,
                             "burst": new_keys is not None,
                             "refresh_s": round(wall - now, 3),
                             "reads_s": round(sum(lat for lat, _ in res.values()), 3)})
            if tracer.enabled:
                after = version_set(pipe.target.path)
                for b, versions in after.items():
                    new = versions - dirs_before.get(b, set())
                    cdc_touched += bool(new)
                    cdc_written += sum(
                        dir_stats(pipe.target.path / b / v)["bytes"] for v in new)
                dirs_before = after

    # -- oracles over the final state ------------------------------------
    attempted += 1
    problems = oracles.check_pos_final(spark, pipe, msg_trigger)
    for p in problems:
        print(f"final oracle: {p}", flush=True)
    failed += bool(problems)

    done = ~np.isnan(fresh)
    state = dir_stats(pipe.out_root)["bytes"] + dir_stats(pipe.gold_dir)["bytes"]
    metrics = {
        "setup_s": setup_s,
        "freshness_p50_s": _pct(fresh[done], 50),
        "freshness_p99_s": _pct(fresh[done], 99),
        "inputs_per_s": float(done.sum()) / busy if busy else float("nan"),
        "read_mean_s": float(np.mean(read_lat)) if read_lat else float("nan"),
        "state_bytes_per_input": state / max(1, int(done.sum()) + expected.rows_ingested),
    }
    cdc = dir_stats(pipe.target.path)
    # growth: the window's last backlog against its median; the first
    # trigger only holds what arrived while set-up ended
    steady = backlog[1:]
    layer = {
        "source.backlog_max_tx": float(max(backlog, default=0)),
        "source.backlog_growth": (steady[-1] / float(np.median(steady))
                                  if len(steady) >= 2 else 1.0),
        "source.batch_tx_p50": float(np.median(backlog)) if backlog else 0.0,
        "source.trigger_count": float(trigger),
        "source.generator_lag_s": float(np.median(lag)) if lag else 0.0,
        "cdc_state.buckets_touched": cdc_touched,
        "cdc_state.bytes_written": cdc_written,
        "cdc_state.version_dirs": cdc["version_dirs"],
        "cdc_state.bytes": cdc["bytes"],
        "read.max_s": max(read_lat, default=0.0),
        "gold.rows": float(expected.gold_rows),
        "gold.silver_rows_scanned": float(expected.silver_rows + expected.gold_rows),
        "setup.generate_s": phase["generate_s"],
        "setup.warmup_s": phase["warmup_s"],
        **inputs.realized,
    }
    return {
        "metrics": metrics,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "samples": {"freshness": int(done.sum()), "reads": len(read_lat),
                    "triggers": trigger, "timeline": timeline},
    }


def _pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else float("nan")
