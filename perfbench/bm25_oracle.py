"""Independent BM25 over the generator's own token arrays.

The formulas and tie policy are those of the engine's reference oracle
(tests/oracle.py): idf = ln((N - df + 0.5) / (df + 0.5) + 1), term score
idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), query terms
from ``lower().split()`` with unknown terms dropped, AND keeps docs that
hold every distinct term, ranking by score desc then doc_id asc. Per-doc
sums are taken in sorted-term order, the order the engine sums in.
Nothing here reads the index.
"""

from __future__ import annotations

import math

import numpy as np

from corpus import VOCAB, WORDS

K1, B = 1.2, 0.75
_TERM_ID = {w: i for i, w in enumerate(WORDS)}


class Oracle:
    """Postings of the concatenated corpora, doc ``j`` carrying engine id
    ``doc_ids[j]``."""

    def __init__(self, corpora: list, doc_ids: np.ndarray):
        lens = np.concatenate([c.lens for c in corpora])
        tokens = np.concatenate([c.tokens for c in corpora]).astype(np.int64)
        doc_of_tok = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
        n = len(lens)
        keys, tf = np.unique(tokens * n + doc_of_tok, return_counts=True)
        self.post_term = keys // n
        self.post_doc = keys % n
        self.post_tf = tf.astype(np.float64)
        self.starts = np.searchsorted(self.post_term, np.arange(VOCAB + 1))
        self.df = np.diff(self.starts)
        self.dl = lens.astype(np.float64)
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.N = n
        self.avgdl = int(lens.sum()) / n

    def term_df(self, word: str) -> int:
        t = _TERM_ID.get(word)
        return 0 if t is None else int(self.df[t])

    def search(self, query: str, mode: str, topk: int, rounded: bool):
        """-> [(doc_id, score)]. ``rounded`` ranks on the 6-decimal
        rounded score (the batch path's policy) instead of the raw one
        (the interactive kernels' policy)."""
        terms = sorted({t for t in query.lower().split() if self.term_df(t) > 0})
        if not terms:
            return []
        scores = np.zeros(self.N)
        matched = np.zeros(self.N, dtype=np.int64)
        for w in terms:
            t = _TERM_ID[w]
            lo, hi = self.starts[t], self.starts[t + 1]
            docs, tf = self.post_doc[lo:hi], self.post_tf[lo:hi]
            df = hi - lo
            idf = math.log((self.N - df + 0.5) / (df + 0.5) + 1.0)
            denom = tf + K1 * (1.0 - B + B * (self.dl[docs] / self.avgdl))
            scores[docs] += 1.0 * (idf * (tf * (K1 + 1.0)) / denom)
            matched[docs] += 1
        need = len(terms) if mode.upper() == "AND" else 1
        cand = np.flatnonzero(matched >= need)
        ids = self.doc_ids[cand]
        sc = scores[cand]
        key = np.round(sc, 6) if rounded else sc
        order = np.lexsort((ids, -key))[:topk]
        return [(int(ids[i]), float(sc[i])) for i in order]


def same_results(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Equal doc ids in order, and scores equal at 6 decimals (allowing
    one unit of the last place, where a last-bit difference in a sum
    rounds the other way)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(
        abs(round(g, 6) - round(w, 6)) <= 1.000001e-6 for (_, g), (_, w) in zip(got, want)
    )
