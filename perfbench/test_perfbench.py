"""Tests of the benchmark's own helpers. Run: python -m pytest perfbench -q"""

from __future__ import annotations

import importlib.util
import json
import os

import numpy as np
import pytest

import layers
import run
from bm25_oracle import Oracle
from corpus import WORDS, Corpus
from spans import self_times, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_is_deterministic_per_seed():
    a, b, c = Corpus(300, 5), Corpus(300, 5), Corpus(300, 6)
    assert a.pandas().equals(b.pandas())
    assert np.array_equal(a.tokens, b.tokens)
    assert not np.array_equal(a.lens, c.lens)
    assert not a.pandas()["content"].equals(c.pandas()["content"])


def test_appended_docs_continue_the_key_order():
    base, extra = Corpus(50, 1), Corpus(20, 1, first_doc=50)
    keys = [base.doc_key(i) for i in range(50)] + [extra.doc_key(50 + i) for i in range(20)]
    assert keys == sorted(keys) and len(set(keys)) == 70
    assert not np.array_equal(base.tokens[:20], extra.tokens[:20])


def test_corpus_words_tokenize_to_themselves():
    from web_search_engine_spark.functions.tokenizer import tokenize_text

    c = Corpus(200, 3)
    pdf = c.pandas()
    for j in range(c.n_docs):
        want = list(WORDS[c.tokens[c.offsets[j]:c.offsets[j + 1]]])
        assert tokenize_text(pdf["content"][j]) == want
    assert c.text_bytes() == sum(len(t.encode()) for t in pdf["content"])


@pytest.mark.parametrize("n, p, rank", [(1000, 99.0, 990), (800, 98.75, 790), (11, 100 / 11, 1)])
def test_tail_percentile_leaves_ten_samples_beyond(n, p, rank):
    values = list(np.random.default_rng(0).permutation(np.arange(1.0, n + 1)))
    got_p, got_v, got_n = tail_percentile(values)
    assert got_p == pytest.approx(p)
    assert got_v == rank  # values are 1..n, so the value is its rank
    assert got_n == n and sum(v > got_v for v in values) == 10


def test_tail_percentile_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None


def test_self_time_on_a_hand_made_tree():
    spans = [
        {"id": 1, "parent": None, "name": "root", "t0": 0.0, "t1": 10.0},
        {"id": 2, "parent": 1, "name": "a", "t0": 1.0, "t1": 4.0},
        {"id": 3, "parent": 1, "name": "b", "t0": 3.0, "t1": 6.0},  # overlaps a
        {"id": 4, "parent": 2, "name": "leaf", "t0": 2.0, "t1": 3.0},
        {"id": 5, "parent": 1, "name": "leaf", "t0": 9.0, "t1": 12.0},  # runs past root
    ]
    st = self_times(spans)
    assert st == {1: pytest.approx(4.0), 2: pytest.approx(2.0), 3: pytest.approx(3.0),
                  4: pytest.approx(1.0), 5: pytest.approx(3.0)}


def _reference_oracle():
    spec = importlib.util.spec_from_file_location(
        "reference_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_oracle_agrees_with_the_reference_oracle(mode):
    corpora = [Corpus(400, 9), Corpus(40, 9, first_doc=400)]
    ids = np.arange(440) * 3 + 5  # any doc_id mapping
    ours = Oracle(corpora, ids)
    text = [t for c in corpora for t in c.pandas()["content"]]
    ref = _reference_oracle().OracleIndex(list(zip(ids.tolist(), text)))
    assert ours.N == ref.N and ours.avgdl == ref.avgdl
    rng = np.random.default_rng(1)
    for _ in range(40):
        ranks = rng.choice(np.r_[np.arange(30), rng.integers(30, 3000, 30)], 3, replace=False)
        q = " ".join(WORDS[r] for r in ranks)
        got = ours.search(q, mode, 10, rounded=False)
        want = ref.search(q, mode, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert np.allclose([s for _, s in got], [s for _, s in want], rtol=0, atol=1e-12)


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in layers.PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_checks_apply_the_bounds():
    import summarize

    def one_set(values):
        return {"hot/trace0": {"search_p50_ms": summarize.stats(values)}}

    spec = {"end_to_end": [{"name": "search_p50_ms", "better": "lower", "bound": 0.25}]}
    sets = {"A": one_set([9.0, 10.0, 10.0, 10.0, 11.0]),
            "B": one_set([10.0, 12.0, 12.0, 12.0, 14.0])}
    got = summarize.checks(sets, spec)["hot/search_p50_ms"]
    # quantiles(n=4) of A: 9.5, 10, 10.5; of B: 11, 12, 13
    assert got["spread"] == {"A": pytest.approx(0.1), "B": pytest.approx(2 / 12)}
    assert got["spread_ok"] and not got["under_third"]
    assert got["worse_than_first"] == {"B": pytest.approx(0.2)} and got["median_ok"]
