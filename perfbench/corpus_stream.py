"""``corpus_dedup_stream``: a closed loop of document batches into
``StreamingDedupIndex.process_batch``.

Each batch is submitted when the previous one's decisions have been
collected, so a slower program receives less load. Between batches the
loop reads the persisted index back — the signatures and the band rows
of a few earlier documents — through the state tables' public
``state_for``. Batches are generated and written as parquet during
set-up; a document's freshness is the time from its batch's submission
to its decision. The state per input is what the window's batches add
to the index on disk, per document: the compacted base set-up leaves
is the same in every run, while the number of batches in a window
varies, so a total over the whole index would jump with that count.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen_corpus
import oracles
from tracing import Tracer, dir_stats

#: Batches generated ahead for the measured window (the loop stops early
#: if a future program decides them all within the window).
MAX_BATCHES = 4
#: Documents per batch.
BATCH_DOCS = 2000
#: Batches decided during set-up; the first compiles the MinHash plans.
#: Set-up then compacts the index once: a window holds about three
#: batches, too few for a compaction cadence to land the same way in
#: every run.
WARMUP_BATCHES = 1
#: Documents looked up per read.
READ_IDS = 20
#: Reads after each batch, alternating signatures and band rows.
READS_PER_BATCH = 2


def _write_batch(path: Path, docs: list[tuple[int, str]]) -> None:
    ids, texts = zip(*docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


class CorpusRun:
    def __init__(self, spark, root: Path, seed: int, batch_docs: int, n_batches: int,
                 tracer: Tracer, group) -> None:
        from db_cdc_poc_spark.streaming.dedup_index import StreamingDedupIndex

        self.spark = spark
        self.tracer = tracer
        self.group = group
        self.batch_docs = batch_docs
        stream = gen_corpus.CorpusStream(seed, batch_docs)
        batch_dir = root / "batches"
        batch_dir.mkdir(parents=True, exist_ok=True)
        self.batches: list[Path] = []
        self.labels: list[np.ndarray] = []
        for k in range(n_batches):
            docs, labels = stream.batch()
            path = batch_dir / f"batch-{k:04d}.parquet"
            _write_batch(path, docs)
            self.batches.append(path)
            self.labels.append(labels)
        self.index_dir = root / "index"
        self.sigs_dir = Path(f"{self.index_dir}_sigs")
        # compaction is driven by set-up (see ``WARMUP_BATCHES``), not by a batch
        # counter, so every measured batch takes the same append path
        self.index = StreamingDedupIndex(str(self.index_dir), compact_every=None)

    def index_bytes(self) -> float:
        """On-disk bytes of the index: band rows and signatures."""
        return dir_stats(self.index_dir)["bytes"] + dir_stats(self.sigs_dir)["bytes"]

    def process(self, k: int) -> np.ndarray:
        """Decide batch ``k``; returns is_novel in doc-id order."""
        with self.group("dedup_index"):
            docs = self.spark.read.parquet(str(self.batches[k]))
            decisions = self.index.process_batch(docs)
            with self.tracer.span("dedup_index.collect"):
                pdf = decisions.toPandas().sort_values("id")
        if len(pdf) != self.batch_docs:
            raise RuntimeError(f"batch {k}: {len(pdf)} decisions for "
                               f"{self.batch_docs} documents")
        self.tracer.count("dedup_index.matches", float((pdf["n_matches"] > 0).sum()))
        return pdf["is_novel"].to_numpy(bool)

    def read(self, kind: str, ids: list[int]) -> list:
        from pyspark.sql import functions as F

        table = self.index.sigs if kind == "sigs" else self.index.state
        with self.group("read"), self.tracer.span(f"read.index_{kind}"):
            return table.state_for(self.spark).filter(F.col("id").isin(ids)).collect()


def run(spark, seed: int, seconds: float, root: Path, tracer: Tracer, group,
        batch_docs: int = BATCH_DOCS, max_batches: int = MAX_BATCHES) -> dict:
    """One corpus run: set-up (generation and the warm-up batches), the
    timed closed loop, then the label oracle. ``batch_docs`` and
    ``max_batches`` size the stream (tests use a small one)."""
    t0 = time.perf_counter()
    with tracer.span("setup"):
        cr = CorpusRun(spark, root, seed, batch_docs, WARMUP_BATCHES + max_batches,
                       tracer, group)
        t1 = time.perf_counter()
        decided = [cr.process(k) for k in range(WARMUP_BATCHES)]
        with group("dedup_index"):
            cr.index.compact(spark)
    setup_s = time.perf_counter() - t0
    base_bytes = cr.index_bytes()
    phase = {"generate_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
    rng = np.random.default_rng([seed, 2])
    batch_s, read_lat = [], []
    attempted, failed = WARMUP_BATCHES, 0
    docs_done = 0
    per_batch = batch_docs

    t0 = time.perf_counter()
    k = WARMUP_BATCHES
    while k < WARMUP_BATCHES + max_batches and time.perf_counter() - t0 < seconds:
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("batch", batch=k):
                decided.append(cr.process(k))
        except Exception as exc:  # counted; the loop goes on
            failed += 1
            print(f"batch {k} failed: {exc!r}", flush=True)
            decided.append(None)
            k += 1
            continue
        batch_s.append(time.perf_counter() - t)
        docs_done += per_batch
        seen = k * per_batch + per_batch
        for r in range(READS_PER_BATCH):
            kind = "sigs" if (k + r) % 2 == 0 else "bands"
            ids = sorted({int(x) for x in rng.integers(0, seen, size=READ_IDS)})
            attempted += 1
            t = time.perf_counter()
            try:
                rows = cr.read(kind, ids)
            except Exception as exc:
                failed += 1
                print(f"read after batch {k} failed: {exc!r}", flush=True)
                continue
            read_lat.append(time.perf_counter() - t)
            want = len(ids) * (1 if kind == "sigs" else cr.index.bands)
            got_ids = {r["id"] for r in rows}
            if len(rows) != want or got_ids != set(ids):
                failed += 1
                print(f"read {kind} after batch {k}: {len(rows)} rows, expected {want}",
                      flush=True)
        k += 1

    # -- oracle: decisions against the generator's labels -----------------
    ok = [i for i, d in enumerate(decided) if d is not None]
    labels = np.concatenate([cr.labels[i] for i in ok])
    novel = np.concatenate([decided[i] for i in ok])
    scores, problems = oracles.check_corpus(labels, novel)
    attempted += 1
    failed += bool(problems)
    for p in problems:
        print(f"corpus oracle: {p}", flush=True)

    index_stats = dir_stats(cr.index_dir)
    sig_stats = dir_stats(cr.sigs_dir)
    index_bytes = index_stats["bytes"] + sig_stats["bytes"]
    metrics = {
        "setup_s": setup_s,
        "freshness_p50_s": float(np.percentile(batch_s, 50)) if batch_s else float("nan"),
        "freshness_p99_s": float(np.percentile(batch_s, 99)) if batch_s else float("nan"),
        "inputs_per_s": docs_done / sum(batch_s) if batch_s else float("nan"),
        "read_mean_s": float(np.mean(read_lat)) if read_lat else float("nan"),
        "state_bytes_per_input": ((index_bytes - base_bytes) / docs_done
                                  if docs_done else float("nan")),
    }
    layer = {
        "source.batch_tx_p50": float(per_batch),
        "source.trigger_count": float(len(batch_s)),
        "read.max_s": max(read_lat, default=0.0),
        "dedup_index.version_dirs": index_stats["version_dirs"] + sig_stats["version_dirs"],
        "dedup_index.bytes": index_bytes,
        "dedup_index.novel_frac": float(novel.mean()),
        "setup.generate_s": phase["generate_s"],
        "setup.warmup_s": phase["warmup_s"],
        **scores,
        **gen_corpus.realized(batch_docs, labels),
    }
    if tracer.enabled:
        layer["dedup_index.index_rows"] = float(cr.index.state.state_for(spark).count())
    return {
        "metrics": metrics,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "correct": not problems and failed == 0,
        "samples": {"batches": len(batch_s), "reads": len(read_lat),
                    "batch_s": [round(b, 3) for b in batch_s]},
    }
