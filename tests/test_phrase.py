"""Phrase / proximity queries over stored positions, plus the P8
dictionary-scan predicates (TOKEN_RANGE / TEXT_CONTAINS).

The engine result is checked against BruteForceIndex, which re-derives
matches by exhaustive scan over the same analyzer's token streams —
positions here come from decoded pos_bin, so this is the test that the
stored position bytes round-trip into correct phrase semantics.
"""

import datetime as dt

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yaii_spark.indexer import build_index
from yaii_spark.oracle import BruteForceIndex, _has_phrase
from yaii_spark.queries import ast as A
from yaii_spark.queries.executor import _eval_phrase, execute_boolean
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import PAGES_SCHEMA, render_html, EPOCH

PHRASE_DOCS = {
    0: "alpha beta gamma",
    1: "beta alpha beta gamma",
    2: "alpha gamma beta",
    3: "alpha alpha alpha",
    4: "alpha x y beta",
    5: "beta alpha",
    6: "alpha the beta",  # stopword between: adjacency differs per field
    7: "delta epsilon",
}


@pytest.fixture(scope="module")
def phrase_index(spark, work_dir):
    out = f"{work_dir}/phrase_idx"
    rows = [
        (did, f"https://x.example/{did}", EPOCH + dt.timedelta(seconds=did),
         render_html(text), text, "en", did)
        for did, text in PHRASE_DOCS.items()
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    build_index(spark, pages, out, seg_size=3)  # 3 segments
    return IndexCatalog(spark, out)


@pytest.fixture(scope="module")
def brute():
    return BruteForceIndex(PHRASE_DOCS)


def ids(df):
    return {r.doc_id for r in df.collect()}


PHRASE_CASES = [
    A.phrase(["alpha", "beta"]),
    A.phrase(["alpha", "beta"], slop=1),
    A.phrase(["alpha", "beta"], slop=2),
    A.phrase(["beta", "alpha"]),
    A.phrase(["alpha", "alpha"]),
    A.phrase(["alpha", "alpha", "alpha"]),
    A.phrase(["alpha", "beta", "gamma"]),
    A.phrase(["alpha", "beta", "gamma"], slop=1),
    A.phrase(["alpha", "zzznone"]),
    A.phrase(["alpha"]),
    A.phrase(["alpha", "the", "beta"]),      # stopwords kept in text field
    A.phrase(["alpha", "beta"], "_all"),      # filtered stream: 6 matches
    A.and_(A.phrase(["alpha", "beta"]), A.token("gamma")),
    A.or_(A.phrase(["delta", "epsilon"]), A.phrase(["beta", "gamma"])),
    A.not_(A.phrase(["alpha", "beta"])),
]


@pytest.mark.parametrize("q", PHRASE_CASES, ids=lambda q: str(q)[:60])
def test_phrase_vs_brute(phrase_index, brute, q):
    assert ids(execute_boolean(phrase_index, q)) == brute.evaluate(A.rewrite(q))


def test_phrase_expected_sets(phrase_index):
    # hand-checked anchors (don't trust two implementations to agree on
    # the wrong answer)
    assert ids(execute_boolean(phrase_index, A.phrase(["alpha", "beta"]))) == {0, 1}
    # slop=2: doc2 "alpha gamma beta" (gap 1), doc4 gap 2, doc6 gap 1
    assert ids(execute_boolean(phrase_index, A.phrase(["alpha", "beta"], slop=2))) == {0, 1, 2, 4, 6}
    assert ids(execute_boolean(phrase_index, A.phrase(["alpha", "alpha"]))) == {3}
    assert ids(execute_boolean(phrase_index, A.phrase(["alpha", "beta"], "_all"))) == {0, 1, 6}


RANGE_CASES = [
    A.token_range("text", "alpha", "beta"),                      # [alpha, beta)
    A.token_range("text", "alpha", "beta", hi_inclusive=True),
    A.token_range("text", "b", "e"),
    A.token_range("text", None, "b"),
    A.token_range("text", "g", None),
    A.token_range("text", "alpha", "alpha", hi_inclusive=True),  # point range
    A.and_(A.token_range("text", "d", "f"), A.token("epsilon")),
    A.text_contains("amm"),
    A.text_contains("lph"),
    A.text_contains("zzz"),
    A.or_(A.text_contains("eps"), A.token("gamma")),
    A.not_(A.text_contains("a")),
]


@pytest.mark.parametrize("q", RANGE_CASES, ids=lambda q: str(q)[:60])
def test_dictionary_scans_vs_brute(phrase_index, brute, q):
    assert ids(execute_boolean(phrase_index, q)) == brute.evaluate(A.rewrite(q))


# -- property: vectorized phrase eval == exhaustive scan ---------------------

_vocab = ["a", "b", "c"]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 30), min_size=1, max_size=8),
        min_size=1, max_size=5,
    ),
    st.integers(2, 4),
    st.integers(1, 4),
)
def test_slop_chain_matches_greedy_reference(doc_positions, nterms, slop):
    """The batched slop>0 verifier (_verify_slop_chain) must agree with
    the per-candidate greedy reference (_ordered_window) on every doc."""
    from yaii_spark.queries.executor import _ordered_window, _verify_slop_chain

    rng = np.random.default_rng(7)
    lists_per_term = []
    per_term = []
    for j in range(nterms):
        pls = []
        for base in doc_positions:
            # derive a distinct sorted position set per (term, doc)
            arr = np.unique((np.array(base) + rng.integers(0, 3, len(base))) % 32)
            pls.append(arr.astype(np.int64))
        lists_per_term.append(pls)
        counts = np.array([p.size for p in pls], dtype=np.int64)
        per_term.append((np.concatenate(pls), counts))
    mask = _verify_slop_chain(per_term, slop)
    for d in range(len(doc_positions)):
        qs = [lists_per_term[j][d] - j for j in range(nterms)]
        assert mask[d] == _ordered_window(qs, slop), (d, qs, slop)


def test_lazy_position_decode_skips_blocks():
    """v5 blocked positions: a selective phrase against a dense term
    decodes only the candidate docs' position blocks — the dense term's
    corpus-scale stream is never fully read (VERDICT r3 #1)."""
    from yaii_spark.codec import encode_positions_blocked
    from yaii_spark.queries.executor import (
        POS_DECODE_STATS,
        _LazyPositions,
        _eval_phrase,
        reset_pos_decode_stats,
    )

    block = 4
    n_dense = 10_000
    # dense term: every doc, positions [0, 2]; rare term: two docs with
    # position 1 → phrase (dense, rare) matches exactly those two
    dense_ids = np.arange(n_dense, dtype=np.int64)
    dense_pos = [[0, 2]] * n_dense
    rare_ids = np.array([1234, 8888], dtype=np.int64)
    rare_pos = [[1], [1]]
    dp, dp_offs = encode_positions_blocked(dense_pos, block)
    rp, rp_offs = encode_positions_blocked(rare_pos, block)
    reset_pos_decode_stats()
    pos_map = {
        ("text", "dense"): _LazyPositions(
            dense_ids, np.full(n_dense, 2, dtype=np.int64), dp, dp_offs, block
        ),
        ("text", "rare"): _LazyPositions(
            rare_ids, np.array([1, 1], dtype=np.int64), rp, rp_offs, block
        ),
    }
    got = _eval_phrase(A.Phrase(["dense", "rare"], "text", 0), pos_map)
    assert sorted(got.tolist()) == [1234, 8888]
    st_ = dict(POS_DECODE_STATS)
    # only the 2 candidate blocks of the dense stream (plus the rare
    # term's 1 block) decode — not the 2500-block dense stream
    assert st_["blocks_decoded"] <= 4, st_
    assert st_["bytes_decoded"] < st_["bytes_total"] / 100, st_
    # slop path is equally lazy
    reset_pos_decode_stats()
    pos_map2 = {
        ("text", "dense"): _LazyPositions(
            dense_ids, np.full(n_dense, 2, dtype=np.int64), dp, dp_offs, block
        ),
        ("text", "rare"): _LazyPositions(
            rare_ids, np.array([1, 1], dtype=np.int64), rp, rp_offs, block
        ),
    }
    got2 = _eval_phrase(A.Phrase(["dense", "rare"], "text", 2), pos_map2)
    assert sorted(got2.tolist()) == [1234, 8888]
    assert POS_DECODE_STATS["blocks_decoded"] <= 4


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.lists(st.sampled_from(_vocab), min_size=0, max_size=12), min_size=1, max_size=6),
    st.lists(st.sampled_from(_vocab), min_size=2, max_size=3),
    st.integers(0, 3),
)
def test_phrase_numpy_matches_exhaustive(docs, terms, slop):
    # build the per-segment pos_map the executor would decode
    pos_map = {}
    for d, toks in enumerate(docs):
        for t in set(toks):
            ids_list, plists = pos_map.setdefault(("text", t), ([], []))
            ids_list.append(d)
            plists.append(np.array([i for i, x in enumerate(toks) if x == t], dtype=np.uint64))
    pos_map = {
        k: (np.array(ids_list, dtype=np.int64), plists)
        for k, (ids_list, plists) in pos_map.items()
    }
    got = set(_eval_phrase(A.Phrase(terms, "text", slop), pos_map).tolist())
    want = {d for d, toks in enumerate(docs) if _has_phrase(toks, terms, slop)}
    assert got == want


def test_phrase_rare_next_to_dense(spark, work_dir):
    """A phrase pairing a rare term with a dense one (the dense term
    several times in every doc, so its position stream spans many
    id-blocks): exact and slop results equal the exhaustive
    expectation."""
    import datetime as dt

    from yaii_spark.synth import PAGES_SCHEMA, render_html

    rows = []
    hits = {37, 1200, 1901}
    for i in range(2000):
        text = "zzdense aa zzdense bb cc zzdense dd" + (
            " zzdense qqrare tail" if i in hits else " word"
        )
        rows.append(
            (i, f"https://x/{i}", EPOCH + dt.timedelta(seconds=i),
             render_html(text), text, "en", i)
        )
    out = f"{work_dir}/rare_dense_idx"
    build_index(spark, spark.createDataFrame(rows, PAGES_SCHEMA), out, seg_size=2048)
    cat = IndexCatalog(spark, out)
    assert ids(execute_boolean(cat, A.phrase(["zzdense", "qqrare"]))) == hits
    assert ids(execute_boolean(cat, A.phrase(["zzdense", "qqrare"], slop=2))) == hits


def test_snippets_window_and_first_match(phrase_index):
    """Highlighting: window clamps at both text edges, FIRST match
    wins when the phrase repeats, and non-matching docs are absent.
    Expected strings derived by hand from PHRASE_DOCS."""
    from yaii_spark.queries.highlight import snippets

    got = {
        r.doc_id: r.snippet
        for r in snippets(phrase_index, ["alpha", "beta"], window=1).collect()
    }
    # adjacent "alpha beta": doc 0 at pos 0, doc 1 at pos 1; the rest
    # (gap in 4, reversed in 2/5, stopword between in 6) don't match
    assert got == {0: "alpha beta gamma", 1: "beta alpha beta gamma"}
    got2 = {
        r.doc_id: r.snippet
        for r in snippets(phrase_index, ["beta"], window=1).collect()
    }
    # single-term phrase: first occurrence, ±1 token, edge-clamped
    assert got2 == {
        0: "alpha beta gamma",
        1: "beta alpha",          # match at pos 0: left edge clamps
        2: "gamma beta",          # match at end: right edge clamps
        4: "y beta",
        5: "beta alpha",
        6: "the beta",
    }
    # window larger than the doc returns the whole token stream
    got3 = {
        r.doc_id: r.snippet
        for r in snippets(phrase_index, ["epsilon"], window=50).collect()
    }
    assert got3 == {7: "delta epsilon"}


def test_prefix_successor_bounds():
    """successor(p) is the least string above every p-prefixed string:
    rightmost bump + truncate, surrogate gap skipped, all-U+10FFFF
    unbounded."""
    from yaii_spark.queries.ast import _prefix_successor as succ

    assert succ("ab") == "ac"
    assert succ("a\U0010FFFF") == "b"
    assert succ("\U0010FFFF") is None
    assert succ("x퟿") == "x"  # skip the surrogate range
    # interval classification is exact even for U+10FFFF-bearing terms
    p = "ab"
    hi = succ(p)
    for term, is_pref in [
        ("ab", True), ("abz", True), ("ab\U0010FFFF", True),
        ("a", False), ("ac", False), ("aa", False), ("b", False),
    ]:
        assert (p <= term < hi) == is_pref, term


def test_prefix_query(phrase_index, brute):
    """A.prefix = sugar over the token-range dictionary scan; engine
    results must equal brute-force startswith over the analyzer's
    token streams."""
    for p, field in [("alp", "text"), ("gam", "text"), ("be", "text"),
                     ("zz", "text"), ("alpha", "text")]:
        want = {
            d for d, toks in brute.field_tokens[field].items()
            if any(t.startswith(p) for t in toks)
        }
        got = ids(execute_boolean(phrase_index, A.prefix(p, field)))
        assert got == want, p
    with pytest.raises(ValueError):
        A.prefix("")
