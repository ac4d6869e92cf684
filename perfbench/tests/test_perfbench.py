"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q

* the generators are deterministic in the seed and differ across seeds;
* on tiny inputs the oracles agree with the program, and they catch a
  corrupted output;
* every metric the workloads print is declared in ``BENCHMARK.json``,
  and every declared metric is printed by some workload.
"""

from __future__ import annotations

import json
import os
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
CHECKOUT = BENCH.parent
sys.path[:0] = [str(BENCH), str(CHECKOUT)]

import gen_corpus  # noqa: E402
import gen_pos  # noqa: E402

TINY_POS = gen_pos.PosConfig(seconds=3.0, rate=60.0, stores=3, items=300,
                             burst_every_s=1.5, first_burst_s=0.5)


def _pos_bytes(seed: int) -> list[str]:
    x = gen_pos.generate(seed, gen_pos.PosConfig(seconds=2.0))
    return [*x.dims.values(), *x.initial_cdc_lines, *x.event_lines,
            *(line for _due, lines in x.bursts for line in lines)]


def _corpus_bytes(seed: int) -> list[str]:
    s = gen_corpus.CorpusStream(seed, 200)
    out = []
    for _ in range(3):
        docs, labels = s.batch()
        out += [f"{i}\t{t}" for i, t in docs] + [str(labels.tolist())]
    return out


def test_pos_inputs_deterministic_in_seed():
    assert _pos_bytes(7) == _pos_bytes(7)
    assert _pos_bytes(7) != _pos_bytes(8)


def test_corpus_inputs_deterministic_in_seed():
    assert _corpus_bytes(7) == _corpus_bytes(7)
    assert _corpus_bytes(7) != _corpus_bytes(8)


def test_pos_traffic_dimensions():
    x = gen_pos.generate(3, gen_pos.PosConfig(seconds=10.0))
    r = x.realized
    assert r["traffic.keys"] == 100_000
    assert 360 < r["traffic.rate_per_s"] < 440
    assert 0.015 < r["traffic.dup_frac"] < 0.025
    assert 0.04 < r["traffic.late_frac"] < 0.06
    # every transaction document parses and carries an items array
    doc = json.loads(json.loads(x.event_lines[0])["value"])
    assert set(doc) == {"trans_id", "store_id", "date_time", "change_type_id", "items"}
    env = json.loads(x.initial_cdc_lines[0])
    assert set(json.loads(env["value"])) == {"before", "after", "op", "ts_ms", "transaction"}


def test_generators_do_not_import_the_program():
    for name in ("gen_pos.py", "gen_corpus.py"):
        assert "db_cdc_poc_spark" not in (BENCH / name).read_text().replace(
            "``schemas.", "")


# -- against the program, on tiny inputs ----------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = tmp_path_factory.mktemp("perfbench_spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_EPHEMERAL_DIR"] = str(root)
    from db_cdc_poc_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tracer():
    from tracing import Tracer, install_wrappers

    t = Tracer(enabled=True)
    install_wrappers(t)
    return t


@contextmanager
def _no_group(_layer):
    yield


@pytest.fixture(scope="module")
def pos_result(spark, tracer, tmp_path_factory):
    import pos_stream

    root = tmp_path_factory.mktemp("pos")
    res = pos_stream.run(spark, 5, TINY_POS.seconds, root, tracer, _no_group,
                         config=TINY_POS)
    res["root"] = root
    return res


@pytest.fixture(scope="module")
def corpus_result(spark, tracer, tmp_path_factory):
    import corpus_stream

    root = tmp_path_factory.mktemp("corpus")
    return corpus_stream.run(spark, 5, 1.0, root, tracer, _no_group,
                             batch_docs=60, max_batches=2)


def test_pos_oracles_agree_with_program(pos_result):
    assert pos_result["failed"] == 0
    assert pos_result["correct"]
    assert pos_result["samples"]["freshness"] > 0


def test_pos_oracle_catches_corrupted_gold(spark, pos_result, tmp_path):
    """Rewrite the final gold with one quantity changed: the DuckDB
    oracle must report it."""
    import numpy as np
    import pyarrow.parquet as pq

    import oracles

    root = tmp_path / "pos"
    pipe = _replay_small_pos(spark, root)
    msg_trigger = np.zeros(len(pipe.inputs.event_lines), np.int64)
    assert oracles.check_pos_final(spark, pipe, msg_trigger) == []
    files = sorted(pipe.gold_dir.glob("*.parquet"))
    table = next(pq.read_table(f) for f in files if pq.read_metadata(f).num_rows)
    victim = next(f for f in files if pq.read_metadata(f).num_rows)
    col = table.column("current_inventory").to_pylist()
    col[0] += 1
    table = table.set_column(table.schema.get_field_index("current_inventory"),
                             "current_inventory", [col])
    pq.write_table(table, victim)
    problems = oracles.check_pos_final(spark, pipe, msg_trigger)
    assert any(p.startswith("gold:") for p in problems)


def _replay_small_pos(spark, root):
    """Set-up plus one trigger that ingests every transaction."""
    import pos_stream
    from tracing import Tracer

    cfg = gen_pos.PosConfig(seconds=1.0, rate=50.0, stores=2, items=200, warmup_s=0.5)
    pipe, _expected, _phase, problems = pos_stream._setup(
        spark, 9, cfg, root, Tracer(False), _no_group)
    assert problems == []
    pipe.write_topic(pipe.events_dir, pipe.inputs.event_lines[pipe.n_warm:])
    pipe.ingest()
    pipe.refresh_gold()
    return pipe


def test_corpus_oracle_agrees_with_program(corpus_result):
    assert corpus_result["failed"] == 0
    assert corpus_result["correct"]
    assert corpus_result["layer"]["quality.dup_recall"] > 0.9


def test_corpus_oracle_rejects_wrong_decisions():
    import numpy as np

    import oracles

    labels = np.array([gen_corpus.NOVEL] * 50 + [gen_corpus.RESEND] * 30 + [gen_corpus.NEAR] * 20)
    right = labels == gen_corpus.NOVEL
    assert oracles.check_corpus(labels, right)[1] == []
    missed = right.copy()
    missed[60] = True  # a re-send judged novel
    assert oracles.check_corpus(labels, missed)[1]
    flagged = right.copy()
    flagged[:5] = False  # novel documents judged duplicates
    assert oracles.check_corpus(labels, flagged)[1]


def test_printed_metrics_match_benchmark_json(pos_result, corpus_result, tracer, tmp_path):
    import run
    from tracing import spark_event_summary

    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    printed_layer = set(spark_event_summary(tmp_path, 2, 1.0))
    printed_layer |= set(run._traced_layers(tracer, []))
    printed_layer |= {f"{p}.{n}" for p in ("trace_overhead", "baseline_1cpu") for n in e2e}
    printed_layer |= {"host.cpus", "host.driver_mem_mb", "setup.session_s"}
    for res in (pos_result, corpus_result):
        assert set(res["metrics"]) == e2e
        printed_layer |= set(res["layer"])
    assert printed_layer == layer
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(spec["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s"
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_run_refuses_a_tree_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "pos_inventory_stream", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_untraced_spans_record_nothing():
    from tracing import Tracer

    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_run_waits_for_orphaned_descendants():
    """A grandchild orphaned by its parent (as the JVM orphans its
    launcher subshell) is adopted and waited for before the run ends."""
    import subprocess

    code = (
        "import subprocess, sys, time\n"
        f"sys.path.insert(0, {str(BENCH)!r})\n"
        "import run\n"
        "run._become_subreaper()\n"
        "t = time.monotonic()\n"
        "subprocess.Popen(['bash', '-c', 'sleep 1 & exit 0']).wait()\n"
        "run._reap_all()\n"
        "print(time.monotonic() - t, run._children())\n"
    )
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       timeout=60)
    assert p.returncode == 0, p.stderr
    waited, children = p.stdout.split(maxsplit=1)
    assert float(waited) >= 0.9
    assert children.strip() == "[]"
