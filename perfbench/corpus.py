"""Deterministic Zipf source-code corpus for the benchmark.

Rows have the engine's input shape, ``(repo, path, commit, lang,
content)`` (FIXTURES.md F1). Each token is one of ``VOCAB`` term ids
drawn from a Zipf distribution, written as a lowercase letters-only word
that the corpus tokenizer maps to itself; separators are characters the
tokenizer regex never joins across (no ``.``, ``-`` or ``&``). Doc
lengths are log-normal. The generator keeps its own token arrays, so the
benchmark can check the engine against an independent BM25 (oracle.py).

Doc order equals ``(repo, path)`` order, so the engine's dense rank over
that key gives generated doc ``i`` the id ``i`` in a fresh build.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

VOCAB = 100_000
ZIPF_S = 1.0
MEAN_LOG_LEN = 3.9  # log-normal doc length: median ~49 tokens, mean ~59
SIGMA_LOG_LEN = 0.6
MAX_LEN = 1500
LANGS = ["python", "java", "go", "rust", "javascript", "c"]
SEPS = np.array([" ", " ", " ", " ", "\n", "(", ")", ", ", "; ", " = ", "\t", ": "],
                dtype=object)
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70 syllables


def _vocab_words() -> np.ndarray:
    """rank -> word. Ranks map to words through a fixed permutation, so
    head terms are spread over the lexical range the way real vocabularies
    are, instead of all sorting first."""
    perm = np.random.default_rng(0).permutation(len(_SYL) ** 3)[:VOCAB]
    n = len(_SYL)
    return np.array(
        [_SYL[p // (n * n)] + _SYL[(p // n) % n] + _SYL[p % n] for p in perm],
        dtype=object,
    )


WORDS = _vocab_words()
_CDF = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S)
_CDF /= _CDF[-1]


class Corpus:
    """Docs ``first_doc .. first_doc + n_docs - 1`` of the corpus for a
    seed, with their token ids (``tokens``, concatenated) and doc
    boundaries (``offsets``, ``n_docs + 1`` entries)."""

    def __init__(self, n_docs: int, seed: int, first_doc: int = 0):
        rng = np.random.default_rng([seed, first_doc])
        lens = np.exp(rng.normal(MEAN_LOG_LEN, SIGMA_LOG_LEN, n_docs))
        self.lens = np.clip(lens.astype(np.int64), 1, MAX_LEN)
        self.offsets = np.concatenate(([0], np.cumsum(self.lens)))
        n_tok = int(self.offsets[-1])
        self.tokens = np.minimum(
            np.searchsorted(_CDF, rng.random(n_tok)), VOCAB - 1
        ).astype(np.int32)
        self._seps = rng.integers(0, len(SEPS), n_tok)
        self.n_docs = n_docs
        self.seed = seed
        self.first_doc = first_doc

    def doc_key(self, i: int) -> tuple[str, str]:
        """(repo, path) of doc ``i`` (absolute index, not offset)."""
        return f"org{i // 10_000:03d}/proj-{(i // 1000) % 10}", f"src/m{i:08d}.py"

    def pandas(self) -> pd.DataFrame:
        pieces = WORDS[self.tokens] + SEPS[self._seps]
        off = self.offsets
        contents = ["".join(pieces[off[j]:off[j + 1]]) for j in range(self.n_docs)]
        ids = range(self.first_doc, self.first_doc + self.n_docs)
        keys = [self.doc_key(i) for i in ids]
        return pd.DataFrame({
            "repo": [k[0] for k in keys],
            "path": [k[1] for k in keys],
            "commit": [
                hashlib.sha1(f"{self.seed}:{i}".encode()).hexdigest() for i in ids
            ],
            "lang": [LANGS[i % len(LANGS)] for i in ids],
            "content": contents,
        })

    def text_bytes(self) -> int:
        """UTF-8 bytes of all contents (ASCII by construction)."""
        word_len = np.array([len(w) for w in WORDS])
        sep_len = np.array([len(s) for s in SEPS])
        return int(word_len[self.tokens].sum() + sep_len[self._seps].sum())
