"""Boolean retrieval suite — the reference query set
(/root/reference/test/system/test-index.ts:147-307 re-expressed per
FIXTURES.md §3) plus hypothesis algebra-vs-brute-force property tests.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yaii_spark.indexer import build_index
from yaii_spark.oracle import BruteForceIndex
from yaii_spark.queries import ast as A
from yaii_spark.queries.executor import _eval_numpy, execute_boolean, search
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import BOOLEAN_DOCS, gen_boolean_pages


@pytest.fixture(scope="module")
def bool_index(spark, work_dir):
    out = f"{work_dir}/bool_idx"
    pages = gen_boolean_pages(spark)
    build_index(spark, pages, out, seg_size=3)  # 2 segments: force multi-segment paths
    return IndexCatalog(spark, out)


def ids(df):
    return {r.doc_id for r in df.collect()}


# yaii system suite, row by row (expected sets from test-index.ts)
CASES = [
    (A.token("abc"), {12, 14}),                                   # :147-151
    (A.or_(A.token("abc"), A.token("efg")), {12, 13, 14}),        # :153-158
    (A.or_(A.token("abc"), A.token("bcs")), {12, 14}),            # :159-163 miss branch
    (A.and_(A.token("abc"), A.token("efg")), set()),              # :166-171
    (A.and_(A.token("abc"), A.token("bcd")), {14}),               # :172-176
    (A.number("num_attr", 2000), set()),                          # :179-181
    (A.number("num_attr", 20), {12}),                             # :183-198
    (A.number("num_attr", 30), {13}),
    (A.number("num_attr", 25), {14}),
    (A.number("num_attr", 10000000), {15}),
    (A.and_(A.or_(A.token("abc"), A.token("efg"))), {12, 13, 14}),        # :247-252
    (A.and_(A.or_(A.token("abc"), A.token("efg")), A.token("abc")), {12, 14}),  # :253-260
    (A.token("about"), {12}),   # stopwords kept on regular fields
    # catch-all field semantics (test-index.ts:299-307): stopword
    # 'about' is filtered from £_ALL, real terms are searchable there
    (A.token("about", "_all"), set()),
    (A.token("ufg", "_all"), {12}),
    (A.or_(A.token("abc", "_all"), A.token("efg", "_all")), {12, 13, 14}),
    (A.and_(A.token("abc"), A.token("abc", "_all")), {12, 14}),
    (A.not_(A.token("abc")), {13, 15}),
    (A.and_(A.token("is"), A.not_(A.token("demo"))), {15}),
    (A.has_field("lang"), {12, 13, 14, 15}),
    (A.number_range("num_attr", 20, 30), {12, 14}),               # [20,30)
    (A.number_range("num_attr", 20, 30, hi_inclusive=True), {12, 13, 14}),
    (A.number_range("num_attr", None, 26), {12, 14}),
    (A.all_docs(), {12, 13, 14, 15}),
    (A.and_(A.token("abc"), A.number_range("num_attr", 21, None)), {14}),  # mixed tree
]


@pytest.mark.parametrize("query,expected", CASES, ids=lambda x: str(x)[:60])
def test_reference_query_set(bool_index, query, expected):
    assert ids(execute_boolean(bool_index, query)) == expected


def test_boolean_token_values(spark, work_dir):
    """TokenValue = string | boolean (query-ir.ts:37-38): the reference
    folds booleans into the dictionary as sentinel terms "A"/"B";
    token(True, field) here maps onto the typed-column attribute
    predicate (the stance that retired the numeric trie), matching the
    same docs with no dictionary entry, and composes with the boolean
    algebra like any leaf."""
    from pyspark.sql import functions as F

    out = f"{work_dir}/bool_token_idx"
    pages = gen_boolean_pages(spark).withColumn(
        "flagged", F.col("doc_id") % 2 == 0
    )
    build_index(spark, pages, out, seg_size=3)
    cat = IndexCatalog(spark, out)
    assert isinstance(A.token(True, "flagged"), A.NumberEq)
    assert ids(execute_boolean(cat, A.token(True, "flagged"))) == {12, 14}
    assert ids(execute_boolean(cat, A.token(False, "flagged"))) == {13, 15}
    assert ids(
        execute_boolean(cat, A.and_(A.token("abc"), A.token(True, "flagged")))
    ) == {12, 14}
    assert ids(
        execute_boolean(cat, A.not_(A.token(True, "flagged")))
    ) == {13, 15}


def test_sorted_limit(bool_index):
    # test-index.ts:263-277 — ALL sorted by id ASC limit 2 / DESC
    rows = search(bool_index, A.all_docs(), sort=[("doc_id", "asc")], limit=2).collect()
    assert [r.doc_id for r in rows] == [12, 13]
    rows = search(bool_index, A.all_docs(), sort=[("doc_id", "desc")]).collect()
    assert [r.doc_id for r in rows] == [15, 14, 13, 12]


def test_projection(bool_index):
    rows = search(bool_index, A.token("abc"), projection=["url", "num_attr"]).collect()
    assert {r.doc_id for r in rows} == {12, 14}
    assert set(rows[0].asDict()) == {"doc_id", "url", "num_attr"}


def test_rewrite_rules():
    t = A.token("x")
    assert A.rewrite(A.and_(t, A.all_docs())) == t
    assert isinstance(A.rewrite(A.and_(t, A.none())), A.NoneNode)
    assert isinstance(A.rewrite(A.or_(t, A.all_docs())), A.All)
    assert A.rewrite(A.or_(t, A.none())) == t
    assert isinstance(A.rewrite(A.and_(t, A.not_(t))), A.NoneNode)
    assert A.rewrite(A.not_(A.not_(t))) == t
    assert A.rewrite(A.and_(A.and_(t, A.token("y")))) == A.And([t, A.token("y")])
    # absent-term pruning (mayMatch) — dictionary keyed by (field, term)
    assert isinstance(A.prune_absent_terms(A.token("zzz"), {("text", "x")}), A.NoneNode)
    assert A.prune_absent_terms(A.or_(t, A.token("zzz")), {("text", "x")}) == t


# -- property: numpy segment algebra == python set algebra -------------------

_terms = st.sampled_from(["t0", "t1", "t2", "t3"])


def _ast(depth):
    if depth == 0:
        return _terms.map(A.token)
    sub = st.deferred(lambda: _ast(depth - 1))
    return st.one_of(
        _terms.map(A.token),
        st.lists(sub, min_size=1, max_size=3).map(A.And),
        st.lists(sub, min_size=1, max_size=3).map(A.Or),
        sub.map(A.Not),
    )


@settings(max_examples=150, deadline=None)
@given(
    st.dictionaries(_terms, st.sets(st.integers(0, 29), max_size=15), max_size=4),
    _ast(3),
)
def test_numpy_algebra_matches_sets(postings, query):
    n_docs = 30
    np_post = {
        ("text", t): np.array(sorted(s), dtype=np.int64) for t, s in postings.items()
    }
    got = set(_eval_numpy(A.rewrite(query), np_post, n_docs).tolist())

    def brute(node):
        if isinstance(node, A.Token):
            return set(postings.get(node.term, set()))
        if isinstance(node, A.And):
            out = set(range(n_docs))
            for c in node.children:
                out &= brute(c)
            return out
        if isinstance(node, A.Or):
            out = set()
            for c in node.children:
                out |= brute(c)
            return out
        if isinstance(node, A.Not):
            return set(range(n_docs)) - brute(node.child)
        if isinstance(node, A.All):
            return set(range(n_docs))
        if isinstance(node, A.NoneNode):
            return set()
        raise TypeError(node)

    assert got == brute(query)


def test_scan_column_pruning_positions(bool_index, monkeypatch):
    """Column pruning is part of the format contract: a boolean token
    query's per-segment postings read must NOT request the (large)
    position stream or block metadata; a phrase query must read
    pos_bin + block_pos_offs (and still not block_impacts, which only
    BM25 pruning consumes)."""
    from yaii_spark.queries import ast as A
    from yaii_spark.queries import executor

    run = executor.run_per_segment
    reads = []

    def recording(cat, fn, schema, columns, *args, **kwargs):
        reads.append(set(columns))
        return run(cat, fn, schema, columns, *args, **kwargs)

    monkeypatch.setattr(executor, "run_per_segment", recording)

    def postings_read_schema(query):
        reads.clear()
        executor.execute_boolean(bool_index, query).collect()
        (cols,) = reads
        return cols

    tok_cols = postings_read_schema(A.token("abc"))
    assert "doc_ids_bin" in tok_cols
    assert not {"pos_bin", "tfs_bin", "block_pos_offs", "block_impacts"} & tok_cols, tok_cols

    ph_cols = postings_read_schema(A.phrase(["abc", "bcd"]))
    assert {"doc_ids_bin", "tfs_bin", "pos_bin", "block_pos_offs"} <= ph_cols
    assert "block_impacts" not in ph_cols, ph_cols


def test_token_only_queries_never_read_docs(spark, bool_index):
    """Token-only AND and phrase queries evaluate on postings and
    seg_meta alone: on a fresh catalog they never build the docs DataFrame (a
    footer-inference read plus a tombstone read). A query with an
    attribute predicate still reads docs."""
    cat = IndexCatalog(spark, bool_index.root)
    assert ids(execute_boolean(cat, A.and_(A.token("abc"), A.token("bcd")))) == {14}
    assert ids(execute_boolean(cat, A.phrase(["demo", "abc"]))) == {14}
    assert ids(execute_boolean(cat, A.phrase(["lorem", "ipsum"]))) == {12}
    assert "docs" not in cat._tables
    mixed = A.and_(A.token("abc"), A.number_range("num_attr", 21, None))
    assert ids(execute_boolean(cat, mixed)) == {14}
    assert "docs" in cat._tables
