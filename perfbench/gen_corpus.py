"""Seeded document stream for the ``corpus_dedup_stream`` workload.

Self-contained: nothing here imports the program under test. Each batch
holds ``batch_docs`` documents of 120-200 words drawn from a Zipf
vocabulary, ids increasing across batches. Every document is labelled:

* ``novel`` (``NOVEL_FRAC``): fresh text;
* ``resend`` (``RESEND_FRAC``): an exact copy of an earlier document;
* ``near`` (the rest): an earlier document with ``EDIT_FRAC`` of its
  tokens replaced.

"Earlier" means a smaller id — any previous batch, or earlier in the
same batch — which is exactly the order ``StreamingDedupIndex`` decides
in, so the labels are the expected decision: a ``resend`` or ``near``
document is a duplicate, a ``novel`` one is not.
"""

from __future__ import annotations

import numpy as np


VOCAB = 20_000
ZIPF_S = 1.05
MIN_WORDS, MAX_WORDS = 120, 200
NOVEL_FRAC = 0.6
RESEND_FRAC = 0.3
EDIT_FRAC = 0.05

NOVEL, RESEND, NEAR = 0, 1, 2


class CorpusStream:
    """Generates labelled batches on demand; batch ``k`` depends only on
    the seed and the batches before it."""

    def __init__(self, seed: int, batch_docs: int) -> None:
        self.batch_docs = batch_docs
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.p = p / p.sum()
        self.words = np.array([f"w{i:05d}" for i in self.rng.permutation(VOCAB)])
        self.texts: list[np.ndarray] = []  # token ids per emitted doc
        self.next_id = 0

    def _novel(self) -> np.ndarray:
        n = int(self.rng.integers(MIN_WORDS, MAX_WORDS + 1))
        return self.rng.choice(VOCAB, size=n, p=self.p)

    def batch(self) -> tuple[list[tuple[int, str]], np.ndarray]:
        """One batch: (doc_id, text) pairs and their labels."""
        docs: list[tuple[int, str]] = []
        labels = np.empty(self.batch_docs, np.int64)
        kinds = self.rng.random(self.batch_docs)
        for k in range(self.batch_docs):
            if not self.texts or kinds[k] < NOVEL_FRAC:
                toks, label = self._novel(), NOVEL
            else:
                src = self.texts[int(self.rng.integers(0, len(self.texts)))]
                if kinds[k] < NOVEL_FRAC + RESEND_FRAC:
                    toks, label = src, RESEND
                else:
                    toks = src.copy()
                    n_edit = max(1, int(round(EDIT_FRAC * len(toks))))
                    pos = self.rng.choice(len(toks), size=n_edit, replace=False)
                    toks[pos] = self.rng.choice(VOCAB, size=n_edit, p=self.p)
                    label = NEAR
            self.texts.append(toks)
            docs.append((self.next_id, " ".join(self.words[toks].tolist())))
            labels[k] = label
            self.next_id += 1
        return docs, labels


def realized(batch_docs: int, labels: np.ndarray) -> dict[str, float]:
    n = max(1, len(labels))
    return {
        "traffic.batch_docs": float(batch_docs),
        "traffic.zipf_s": ZIPF_S,
        "traffic.vocab": float(VOCAB),
        "traffic.dup_frac": float((labels == RESEND).sum()) / n,
        "traffic.near_dup_frac": float((labels == NEAR).sum()) / n,
    }
