"""Streaming CDC inventory benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

* ``pos_inventory_stream`` — open loop of POS transactions and Debezium
  snapshot bursts through ingestion, gold and reads (``pos_stream``);
* ``corpus_dedup_stream`` — closed loop of document batches through the
  streaming dedup index (``corpus_stream``).

``--trace 0`` measures one untraced pass and prints the end-to-end
metrics. ``--trace 1`` runs three passes, each in its own process: an
untraced one, a traced one (spans, a ``StreamingQueryListener``, the
Spark event log, state-directory walks) and a single-core baseline over
half the window (reported only; dropped if it would overrun the run's
time limit). It prints the per-layer metrics of the traced pass, the
tracing overhead (traced minus untraced, as a share of untraced) and
the single-core figures, and writes the spans with their self time to
``.perfbench_out/``.

End-to-end metrics, printed for every workload:

* ``setup_s`` — session start plus set-up (input generation and the
  warm-up trigger or batches);
* ``freshness_p50_s`` / ``freshness_p99_s`` — per input, from arrival to
  a visible result: a transaction from its scheduled arrival to the end
  of the gold refresh that includes it, a document from its batch's
  submission to its decision;
* ``inputs_per_s`` — inputs processed per second of write-path busy time
  (ingest + gold refresh; ``process_batch`` + collecting the decisions);
* ``read_mean_s`` — mean latency of the reads issued between triggers
  or batches;
* ``state_bytes_per_input`` — on-disk state per input: all of the
  pipeline's state at the end per transaction; the index bytes the
  window's batches add per document.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output matched its oracle.

The host shape is pinned before Spark starts: ``SPARK_GRAFT_CPUS`` to
the usable cores, ``SPARK_GRAFT_DRIVER_MEM`` to a heap that fits in RAM
and ``SPARK_GRAFT_EPHEMERAL_DIR`` to the run's own scratch root. All
state, checkpoints, outputs and Spark scratch live under
``.perfbench_runs/<run>/`` and are removed when the run ends. The run
adopts the processes the JVM leaves behind and waits until every
process it started has ended before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
RUNS = CHECKOUT / ".perfbench_runs"
OUT = CHECKOUT / ".perfbench_out"
WORKLOADS = ("pos_inventory_stream", "corpus_dedup_stream")
#: Spans whose summed self time is a per-layer metric (``self_s.<name>``).
SPAN_NAMES = (
    "setup", "trigger", "batch",
    "ingest.run_ingestion", "cdc_state.upsert_batch",
    "gold.refresh", "gold.plan",
    "read.gold_store", "read.gold_lowstock", "read.cdc_current", "read.cdc_changes_since",
    "cdc.current", "cdc.changes_since",
    "dedup_index.process_batch", "dedup_index.collect", "dedup_index.compact",
    "read.index_sigs", "read.index_bands",
)
#: A traced run's three passes end within this many seconds; the
#: single-core pass (half the window) is dropped if it would overrun.
TRACE_BUDGET_S = 165
#: ``prctl`` option that makes orphaned descendants this process's children.
PR_SET_CHILD_SUBREAPER = 36


def _spec() -> dict:
    return json.loads((CHECKOUT / "BENCHMARK.json").read_text())


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_mb() -> int:
    """Heap for the driver: a quarter of physical RAM, at most 4 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return int(min(4096, max(1024, total // 4 // (1 << 20))))


def pin_host(run_root: Path, cpus: int, event_log: Path | None) -> dict:
    """Fix the host shape and every scratch location before the JVM
    starts; returns the values for the output."""
    tmp = run_root / "tmp"
    local = run_root / "spark-local"
    eph = run_root / "ephemeral"
    for d in (tmp, local, eph):
        d.mkdir(parents=True, exist_ok=True)
    mem = driver_mem_mb()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem}m",
        "SPARK_GRAFT_EPHEMERAL_DIR": str(eph),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        # the JVMs' perf-data files go to /tmp whatever java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": " ".join(
            filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"))),
    })
    time.tzset()
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(run_root / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": event_log.as_uri()})
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return {"host.cpus": float(cpus), "host.driver_mem_mb": float(mem)}


def run_pass(workload: str, seed: int, seconds: float, mode: str) -> dict:
    """One measured pass in this process. ``mode``: untraced, traced or
    baseline (untraced on one core)."""
    run_root = RUNS / f"{workload}-s{seed}-{mode}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    traced = mode == "traced"
    event_log = run_root / "eventlog" if traced else None
    spark = None
    try:
        host = pin_host(run_root, 1 if mode == "baseline" else usable_cpus(), event_log)
        if str(CHECKOUT) not in sys.path:
            sys.path.insert(0, str(CHECKOUT))
        from tracing import Tracer, install_wrappers, make_listener, spark_event_summary

        tracer = Tracer(traced)
        t = time.perf_counter()
        from db_cdc_poc_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        progress: list[dict] = []
        if traced:
            install_wrappers(tracer)
            spark.streams.addListener(make_listener(progress))

        @contextmanager
        def group(layer: str):
            """Tag the jobs of a layer call (event-log attribution)."""
            if not traced:
                yield
                return
            sc = spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", layer)
            try:
                yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        if workload == "pos_inventory_stream":
            import pos_stream as wl
        else:
            import corpus_stream as wl
        t_run = time.perf_counter()
        res = wl.run(spark, seed, seconds, run_root / "work", tracer, group)
        run_wall = time.perf_counter() - t_run
        res["metrics"]["setup_s"] += session_s
        res["layer"].update(host)
        res["layer"]["setup.session_s"] = session_s
        if traced:
            time.sleep(0.5)  # listener events are delivered asynchronously
            res["layer"].update(_traced_layers(tracer, progress))
            spark.stop()
            spark = None
            res["layer"].update(spark_event_summary(
                event_log, int(host["host.cpus"]), run_wall))
            OUT.mkdir(exist_ok=True)
            tracer.write(OUT / f"trace-{workload}-s{seed}.json",
                         {"workload": workload, "seed": seed, "layer": res["layer"],
                          "metrics": res["metrics"]})
        return res
    finally:
        if spark is not None:
            spark.stop()
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            RUNS.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _become_subreaper() -> None:
    """Adopt the run's orphaned descendants. The JVM leaves children of
    its own (the launcher script's subshell, Python workers) that it
    does not wait for; once it exits they become this process's
    children, so ``_reap_all`` can wait for them instead of leaving
    them to init."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    pids: list[int] = []
    for task in Path("/proc/self/task").iterdir():
        try:
            pids += [int(p) for p in (task / "children").read_text().split()]
        except OSError:
            pass
    return pids


def _reap_all(grace_s: float = 30.0) -> None:
    """Wait until every child (adopted orphans included) has ended;
    kill what is still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                return
        time.sleep(0.05)


def _stop_jvm() -> None:
    """Stop the JVM this process launched and wait until it has exited
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _traced_layers(tracer, progress: list[dict]) -> dict:
    """Per-layer metrics from the spans, counters and listener progress
    of a traced pass."""
    from statistics import median

    from tracing import progress_summary, query_overhead

    def med(name):
        d = tracer.durations(name)
        return median(d) if d else 0.0

    out, windows = progress_summary(progress)
    calls = tracer.durations("ingest.run_ingestion")
    overhead = query_overhead(
        [s for s in tracer.spans if s["name"] == "ingest.run_ingestion"], windows)
    out.update({
        "ingest.call_s": median(calls) if calls else 0.0,
        "ingest.query_overhead_s": median(overhead) if overhead else 0.0,
        "cdc.current_s": med("cdc.current"),
        "cdc.changes_since_s": med("cdc.changes_since"),
        "gold.refresh_s": med("gold.refresh"),
        "read.gold_store_s": med("read.gold_store"),
        "read.gold_lowstock_s": med("read.gold_lowstock"),
        "read.index_s": median(tracer.durations("read.index_sigs")
                               + tracer.durations("read.index_bands") or [0.0]),
        "dedup_index.process_batch_s": med("dedup_index.process_batch"),
        "dedup_index.collect_s": med("dedup_index.collect"),
        "dedup_index.compact_s": sum(tracer.durations("dedup_index.compact")),
        "dedup_index.compactions": tracer.counters.get("dedup_index.compactions", 0.0),
        "dedup_index.matches": tracer.counters.get("dedup_index.matches", 0.0),
        "bloom.probes": tracer.counters.get("bloom.probes", 0.0),
        "bloom.skip_frac": tracer.counters.get("bloom.skips", 0.0)
        / max(1.0, tracer.counters.get("bloom.probes", 0.0)),
    })
    by_name = tracer.self_time_by_name()
    for name in SPAN_NAMES:
        out[f"self_s.{name}"] = by_name.get(name, 0.0)
    return out


def _child(workload: str, seed: int, seconds: float, mode: str,
           timeout: float) -> dict | None:
    """Run one pass in a fresh process (its own JVM) and return its
    result, or None when it did not finish within ``timeout``."""
    OUT.mkdir(exist_ok=True)
    out = OUT / f"pass-{workload}-s{seed}-{mode}-{os.getpid()}.json"
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--pass", mode,
           "--pass-out", str(out)]
    # own process group, so a timeout also stops the pass's JVM
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        # a killed pass cannot clean up after itself
        shutil.rmtree(RUNS / f"{workload}-s{seed}-{mode}-{proc.pid}", ignore_errors=True)
        print(f"perfbench: {mode} pass did not finish within {timeout:.0f} s",
              file=sys.stderr)
        return None
    try:
        if proc.returncode != 0 or not out.is_file():
            raise RuntimeError(f"{mode} pass exited with {proc.returncode}")
        return json.loads(out.read_text())
    finally:
        out.unlink(missing_ok=True)


def _metric(spec_list: list[dict], values: dict, idle: float | None = None
            ) -> tuple[dict, list[str]]:
    """The metrics named in ``spec_list`` and the names that are not a
    number. A missing metric reads ``idle`` (a layer the workload does
    not touch), or is an error when ``idle`` is None."""
    out, bad = {}, []
    for m in spec_list:
        v = values.get(m["name"], idle)
        if v is None or not math.isfinite(v):
            bad.append(m["name"])
            v = 0.0
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out, bad


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pass", dest="mode", choices=("untraced", "traced", "baseline"))
    ap.add_argument("--pass-out")
    args = ap.parse_args(argv)

    if not (CHECKOUT / "db_cdc_poc_spark" / "__init__.py").is_file():
        print("perfbench: program package db_cdc_poc_spark not found next to "
              "perfbench/; run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = _spec()
    _become_subreaper()
    try:
        return _measure(args, spec)
    finally:
        _reap_all()


def _measure(args, spec: dict) -> int:
    if args.mode is not None:  # a child pass of a traced run
        res = run_pass(args.workload, args.seed, args.seconds, args.mode)
        Path(args.pass_out).write_text(json.dumps(res))
        return 0

    if args.trace == 0:
        res = run_pass(args.workload, args.seed, args.seconds, "untraced")
        metrics, bad = _metric(spec["end_to_end"], res["metrics"])
        info = {"samples": res["samples"], "host": {k: v for k, v in res["layer"].items()
                                                    if k.startswith(("host.", "traffic."))}}
    else:
        deadline = time.monotonic() + TRACE_BUDGET_S
        passes = {}
        for mode, secs in (("untraced", args.seconds), ("traced", args.seconds),
                           ("baseline", args.seconds / 2)):
            passes[mode] = _child(args.workload, args.seed, secs, mode,
                                  deadline - time.monotonic())
            if passes[mode] is None and mode != "baseline":
                return 1
        res = passes["traced"]
        base = passes["baseline"] or {"metrics": {}, "correct": True}
        layer = dict(res["layer"])
        for m in spec["end_to_end"]:
            name = m["name"]
            ref = passes["untraced"]["metrics"][name]
            layer[f"trace_overhead.{name}"] = (res["metrics"][name] - ref) / ref if ref else 0.0
            layer[f"baseline_1cpu.{name}"] = base["metrics"].get(name, 0.0)
        metrics, bad = _metric(spec["per_layer"], layer, idle=0.0)
        info = {"samples": res["samples"], "untraced": passes["untraced"]["metrics"],
                "traced": res["metrics"], "baseline_1cpu": base["metrics"]}
        res["correct"] = all(p["correct"] for p in (res, passes["untraced"], base))
    if bad:
        print(f"perfbench: metrics missing or not finite: {bad}", file=sys.stderr)
        res["correct"] = False
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
