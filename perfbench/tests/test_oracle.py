"""The numpy oracle against the engine's pure-Python BruteForceIndex."""

import math

import numpy as np
import pytest

from gen import Generator
from oracle import Oracle
from workloads import MIX, _ast
from yaii_spark.oracle import BruteForceIndex


@pytest.fixture(scope="module")
def corpus():
    g = Generator(11, vocab_size=150, doc_len=(5, 30))
    docs = g.docs(120)
    first_id = 1000  # ids need not start at 0
    texts = docs.texts(g.vocab)
    brute = BruteForceIndex({first_id + i: t for i, t in enumerate(texts)})
    oracle = Oracle(g.vocab)
    oracle.add(docs, first_id)
    stream = g.query_stream(docs, MIX)
    queries = [q for _ in range(40) for q in stream.round()]
    return oracle, brute, queries, (g, docs, first_id)


def _bm25_mode(q):
    return "and" if q.kind == "bm25_and" else "or"


def test_boolean_and_phrase(corpus):
    oracle, brute, queries, _ = corpus
    n = 0
    for q in queries:
        if q.cls in ("bool", "phrase"):
            want = np.array(sorted(brute.evaluate(_ast(q))), dtype=np.int64)
            assert np.array_equal(oracle.boolean(q), want), q
            n += 1
    assert n >= 40


def test_bm25(corpus):
    oracle, brute, queries, _ = corpus
    for q in queries:
        if q.cls in ("bm25", "bm25_pruned"):
            want = brute.bm25_topk(list(q.terms), k=10, mode=_bm25_mode(q))
            assert oracle.check_bm25(q.terms, _bm25_mode(q), want), q
            _, scores = oracle.bm25_ranked(q.terms, _bm25_mode(q))
            for (_, s), s2 in zip(want, scores):
                assert math.isclose(s, s2, rel_tol=1e-12)


def test_tombstones_mask_results_but_not_statistics(corpus):
    _, brute, queries, (g, docs, first_id) = corpus
    dead = set(range(first_id, first_id + docs.n, 3))
    masked = Oracle(g.vocab)
    masked.add(docs, first_id)
    masked.delete(dead)
    for q in queries:
        mode = _bm25_mode(q)
        if q.cls in ("bool", "phrase"):
            want = sorted(brute.evaluate(_ast(q)) - dead)
            assert masked.boolean(q).tolist() == want, q
        else:
            # statistics over every doc ever indexed; deleted docs drop out
            full = brute.bm25_topk(list(q.terms), k=10**6, mode=mode)
            want = [(d, s) for d, s in full if d not in dead][:10]
            assert masked.check_bm25(q.terms, mode, want), q


def test_check_bm25_rejects_wrong_results(corpus):
    oracle, brute, queries, _ = corpus
    q = next(q for q in queries if q.kind == "bm25_or")
    want = brute.bm25_topk(list(q.terms), k=10, mode="or")
    assert len(want) >= 2
    assert not oracle.check_bm25(q.terms, "or", want[:-1])
    assert not oracle.check_bm25(q.terms, "or", [(want[0][0], want[0][1] * 1.001)] + want[1:])
    assert not oracle.check_bm25(q.terms, "or", [(10**9, want[0][1])] + want[1:])
