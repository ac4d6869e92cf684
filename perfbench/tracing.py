"""Tracing for the traced benchmark pass, built only from outside the
program:

* ``Tracer`` — in-memory spans (name, start, end, parent) and counters;
  written out once, at exit, with each span's self time;
* ``install_wrappers`` — wraps public layer methods of the program
  (``CdcTarget``, ``StreamingDedupIndex``, ``BloomFront``, the ingestion
  and gold entry points) so every call records a span;
* ``ProgressListener`` — a ``StreamingQueryListener`` collecting the
  progress of the ingestion queries;
* ``spark_event_summary`` — per-layer engine counters from the Spark
  event log of the traced pass;
* ``dir_stats`` — a walk of a state directory.

An untraced pass uses ``Tracer(enabled=False)``, whose spans cost one
attribute test.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "start": time.perf_counter(), "end": None,
                 "wall": time.time(), "parent": parent, **attrs}
            )
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.perf_counter()
                # foreachBatch callbacks run on another thread while the
                # caller blocks, so spans still nest; pop by identity
                if idx in self._stack:
                    self._stack.remove(idx)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus the part of it
        covered by its children (children of one span never overlap —
        the workloads call layers sequentially)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = []
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out.append({**s, "id": i, "dur_s": dur,
                        "self_s": max(0.0, dur - child_time[i])})
        return out

    def self_time_by_name(self) -> dict[str, float]:
        agg: dict[str, float] = defaultdict(float)
        for s in self.self_times():
            agg[s["name"]] += s["self_s"]
        return dict(agg)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.self_times()
        ]
        path.write_text(json.dumps(
            {"spans": spans, "self_s_by_name": self.self_time_by_name(),
             "counters": dict(self.counters), **extra},
            indent=1, sort_keys=True,
        ))


def _wrap(owner, attr: str, tracer: Tracer, span: str, after=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(span):
            out = fn(*args, **kwargs)
        if after is not None:
            after(out)
        return out

    setattr(owner, attr, wrapped)


def install_wrappers(tracer: Tracer) -> None:
    """Record a span around each public layer method the workloads
    reach. Wraps attributes in this process only; program files are not
    touched."""
    from db_cdc_poc_spark.pipelines import inventory, inventory_streaming
    from db_cdc_poc_spark.streaming.bloom import BloomFront
    from db_cdc_poc_spark.streaming.cdc import CdcTarget
    from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

    _wrap(inventory_streaming, "run_ingestion", tracer, "ingest.run_ingestion")
    _wrap(inventory, "gold_current_inventory_sql", tracer, "gold.plan")
    upsert = CdcTarget.upsert_batch

    @functools.wraps(upsert)
    def grouped_upsert(self, batch, *args, **kwargs):
        # foreachBatch runs on a callback thread without the caller's group
        batch.sparkSession.sparkContext.setLocalProperty("spark.jobGroup.id", "ingest")
        with tracer.span("cdc_state.upsert_batch"):
            return upsert(self, batch, *args, **kwargs)

    CdcTarget.upsert_batch = grouped_upsert
    _wrap(CdcTarget, "current", tracer, "cdc.current")
    _wrap(CdcTarget, "changes_since", tracer, "cdc.changes_since")
    _wrap(StreamingDedupIndex, "process_batch", tracer, "dedup_index.process_batch")
    _wrap(StreamingDedupIndex, "compact", tracer, "dedup_index.compact",
          after=lambda _out: tracer.count("dedup_index.compactions"))

    probe = BloomFront.might_contain_any

    @functools.wraps(probe)
    def counted_probe(self, *args, **kwargs):
        hit = probe(self, *args, **kwargs)
        tracer.count("bloom.probes")
        if not hit:
            tracer.count("bloom.skips")
        return hit

    BloomFront.might_contain_any = counted_probe


def make_listener(sink: list):
    """A ``StreamingQueryListener`` appending each progress report (as a
    dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def progress_summary(progress: list[dict]) -> tuple[dict[str, float], list[tuple]]:
    """Per-query listener timings for the ingestion queries, and each
    micro-batch's (query, start epoch, seconds). The CDC query is the
    one with a foreachBatch sink; the events query carries the streaming
    dedup state operator."""
    ev = defaultdict(list)
    for p in progress:
        if p.get("numInputRows", 0) == 0 and not p.get("stateOperators"):
            continue
        q = "cdc" if "ForeachBatch" in p.get("sink", {}).get("description", "") else "events"
        d = p.get("durationMs", {})
        ev[q].append((p, d))

    def med(q, key):
        vals = [d.get(key, 0) for _p, d in ev[q] if "triggerExecution" in d]
        return float(statistics.median(vals)) if vals else 0.0

    ops = [p["stateOperators"][0] for p, _d in ev["events"] if p.get("stateOperators")]
    windows = [
        (q, _epoch(p["timestamp"]), d.get("triggerExecution", 0) / 1000.0)
        for q in ev for p, d in ev[q] if "timestamp" in p
    ]
    out = {
        "ingest.events.trigger_ms": med("events", "triggerExecution"),
        "ingest.events.planning_ms": med("events", "queryPlanning"),
        "ingest.events.add_batch_ms": med("events", "addBatch"),
        "ingest.events.wal_ms": med("events", "walCommit"),
        "ingest.cdc.trigger_ms": med("cdc", "triggerExecution"),
        "ingest.cdc.add_batch_ms": med("cdc", "addBatch"),
        "ingest.events.rows_in": float(sum(p.get("numInputRows", 0) for p, _ in ev["events"])),
        "ingest.events.rows_out": float(sum(o.get("numRowsUpdated", 0) for o in ops)),
        "ingest.cdc.rows_in": float(sum(p.get("numInputRows", 0) for p, _ in ev["cdc"])),
        "dedup_state.rows_total": float(ops[-1].get("numRowsTotal", 0)) if ops else 0.0,
        "dedup_state.rows_dropped_watermark": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
        "dedup_state.memory_bytes": float(max((o.get("memoryUsedBytes", 0) for o in ops), default=0)),
        "dedup_state.commit_ms": float(statistics.median(
            [o.get("commitTimeMs", 0) for o in ops])) if ops else 0.0,
    }
    return out, windows


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp (``2026-01-01T00:00:00.123Z``)."""
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def query_overhead(calls: list[dict], windows: list[tuple]) -> list[float]:
    """Per ``run_ingestion`` call: its wall time minus the longer of the
    two queries' summed ``triggerExecution`` inside it — the cost of
    starting and stopping the streams around the micro-batches."""
    out = []
    for c in calls:
        lo, hi = c["wall"], c["wall"] + (c["end"] - c["start"])
        busy = defaultdict(float)
        for q, ts, dur in windows:
            if lo <= ts <= hi:
                busy[q] += dur
        out.append((hi - lo) - max(busy.values(), default=0.0))
    return out


def spark_event_summary(log_dir: Path, cores: int, wall_s: float) -> dict[str, float]:
    """Engine counters from a Spark event log, totalled and per layer.

    Jobs are tagged by the job group the workload set around each layer
    call; streaming micro-batches run under their query's run id and
    count as ``ingest``."""
    files = [p for p in log_dir.rglob("events_*") if p.is_file()] + [
        p for p in log_dir.glob("*") if p.is_file() and not p.name.startswith(".")]
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    n_jobs = 0
    tasks_by_stage: dict[int, list[float]] = defaultdict(list)
    tot = defaultdict(float)
    layer_task_s: dict[str, float] = defaultdict(float)
    layer_tasks: dict[str, float] = defaultdict(float)
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if '"Event":"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if group in LAYERS:
                        layer = group
                    elif props.get("sql.streaming.queryId"):
                        layer = "ingest"
                    else:
                        layer = "other"
                    n_jobs += 1
                    job_layer[e["Job ID"]] = layer
                    for sid in e.get("Stage IDs", []):
                        stage_layer[sid] = layer
                elif '"Event":"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    sid = e.get("Stage ID")
                    run_s = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    tasks_by_stage[sid].append(run_s)
                    tot["tasks"] += 1
                    tot["task_s"] += run_s
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    layer = stage_layer.get(sid, "other")
                    layer_task_s[layer] += run_s
                    layer_tasks[layer] += 1
    skews = [
        max(ts) / max(statistics.median(ts), 1e-3)
        for ts in tasks_by_stage.values() if len(ts) >= 2
    ]
    out = {
        "spark.jobs": float(n_jobs),
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.task_skew": float(statistics.median(skews)) if skews else 1.0,
        "spark.gc_ms": tot["gc_ms"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.busy_frac": tot["task_s"] / max(wall_s * cores, 1e-9),
    }
    for layer in LAYERS:
        out[f"spark.layer.{layer}.tasks"] = layer_tasks.get(layer, 0.0)
        out[f"spark.layer.{layer}.task_s"] = layer_task_s.get(layer, 0.0)
    return out


#: Layers engine work is attributed to (job groups set by the workloads).
LAYERS = ("setup", "ingest", "gold", "read", "dedup_index", "other")


def dir_stats(path: Path) -> dict[str, float]:
    """Bytes, files and version directories (``v_*``) under ``path``."""
    n_bytes = n_files = n_versions = 0
    for dirpath, dirnames, filenames in os.walk(path):
        n_versions += sum(1 for d in dirnames if d.startswith("v_"))
        for f in filenames:
            try:
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
            except OSError:
                pass
    return {"bytes": float(n_bytes), "files": float(n_files), "version_dirs": float(n_versions)}


def version_set(path: Path) -> dict[str, set[str]]:
    """bucket dir -> its version dir names (to diff touched buckets)."""
    out: dict[str, set[str]] = {}
    if not path.is_dir():
        return out
    for b in path.iterdir():
        if b.is_dir() and b.name.startswith("bucket_"):
            out[b.name] = {v.name for v in b.iterdir() if v.name.startswith("v_")}
    return out
