import numpy as np

from gen import CLASSES, Generator
from workloads import MIX


def _draw(seed):
    g = Generator(seed, vocab_size=300)
    docs = g.docs(50)
    stream = g.query_stream(docs, MIX)
    return g, docs, [q for _ in range(6) for q in stream.round()]


def test_same_seed_same_inputs():
    g1, d1, q1 = _draw(7)
    g2, d2, q2 = _draw(7)
    assert list(g1.vocab) == list(g2.vocab)
    assert np.array_equal(d1.tokens, d2.tokens)
    assert np.array_equal(d1.offsets, d2.offsets)
    assert d1.texts(g1.vocab) == d2.texts(g2.vocab)
    assert q1 == q2


def test_other_seed_other_inputs():
    g1, d1, q1 = _draw(7)
    g2, d2, q2 = _draw(8)
    assert list(g1.vocab) != list(g2.vocab)
    assert q1 != q2


def test_texts_tokenize_to_the_token_ids():
    from yaii_spark.analyzer import tokenize

    g, docs, _ = _draw(3)
    for i, text in enumerate(docs.texts(g.vocab)):
        ids = docs.tokens[docs.offsets[i] : docs.offsets[i + 1]]
        assert tokenize(text) == [str(g.vocab[t]) for t in ids]


def test_every_round_holds_each_class_once():
    g = Generator(5, vocab_size=300)
    stream = g.query_stream(g.docs(40), MIX)
    for _ in range(5):
        assert sorted(q.cls for q in stream.round()) == sorted(CLASSES)
