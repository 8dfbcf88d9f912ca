"""Per-segment query execution: every boolean, phrase and BM25 query
runs as one ``applyInPandas`` task per segment (executor.
apply_per_segment), with tombstones cogrouped per segment when there
are any.

These tests pin that single plan on a 2-segment fixture:
- boolean/phrase results equal the exhaustive oracle
  (``BruteForceIndex.evaluate``) on the fresh index and, minus the
  deleted ids, after ``delete_docs``;
- every boolean and BM25 query (exact and MaxScore-pruned) gives
  identical results on the tombstoned index and on its purged
  1-segment merge (holes in ``deleted_bin`` instead of tombstones);
- on an index with fewer segments than cores, phrase and BM25 queries
  over a rare term next to a dense one compile to exactly one Python
  stage and no cross/nested-loop join.
"""

import datetime as dt
import io
import re
from contextlib import redirect_stdout

import pytest

from yaii_spark.indexer import build_index, delete_docs, merge_segments
from yaii_spark.oracle import BruteForceIndex
from yaii_spark.queries import ast as A
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.queries.executor import execute_boolean
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import EPOCH, PAGES_SCHEMA, render_html

N_DOCS, SEG = 800, 400  # 2 segments; "common" has 4 id-blocks per seg
DELETED = [0, 399, 400, 555, 777]  # both segments' edges + the rare doc


QUERIES = {
    "token": A.token("common"),
    "rare": A.token("rareterm"),
    "and": A.and_(A.token("common"), A.token("w3")),
    "or": A.or_(A.token("w1"), A.token("w2")),
    "not": A.not_(A.token("w1")),
    "and_not": A.and_(A.token("common"), A.not_(A.token("w2"))),
    "all": A.all_docs(),
    "phrase": A.phrase(["alpha", "beta"]),
    "phrase3": A.phrase(["alpha", "x", "beta"]),
    "phrase_slop": A.phrase(["alpha", "beta"], slop=1),
}


BM25_CASES = [
    (["common", "w3"], "or", False),
    (["common", "w3"], "or", True),   # density fallback → exact inside
    (["alpha", "w1"], "or", True),
    (["alpha", "w1"], "and", False),
    (["rareterm", "w5"], "or", True),
]


def _texts():
    out = {}
    for did in range(N_DOCS):
        words = ["common", f"w{did % 7}"]
        if did % 11 == 0:
            words += ["alpha", "beta"]
        if did % 13 == 0:
            words += ["alpha", "x", "beta"]
        if did % 17 == 0:
            words += ["the", "alpha", "the", "beta"]
        if did == 555:
            words += ["rareterm"]
        out[did] = " ".join(words)
    return out


def _build(spark, texts, out, seg_size):
    rows = [
        (did, f"https://x.example/{did}", EPOCH + dt.timedelta(seconds=did),
         render_html(text), text, "en", did)
        for did, text in texts.items()
    ]
    build_index(spark, spark.createDataFrame(rows, PAGES_SCHEMA), out, seg_size=seg_size)
    return out


@pytest.fixture(scope="module")
def fresh_index(spark, work_dir):
    return _build(spark, _texts(), f"{work_dir}/seg_plan_fresh", SEG)


@pytest.fixture(scope="module")
def tombstoned_index(spark, work_dir):
    out = _build(spark, _texts(), f"{work_dir}/seg_plan_tomb", SEG)
    delete_docs(spark, out, DELETED)
    return out


@pytest.fixture(scope="module")
def brute():
    return BruteForceIndex(_texts())


def _run_all(cat):
    return {
        k: sorted(row.doc_id for row in execute_boolean(cat, q).collect())
        for k, q in QUERIES.items()
    }


def _bm25_all(cat):
    out = []
    for terms, mode, prune in BM25_CASES:
        rows = bm25_topk(cat, terms, k=13, mode=mode, prune=prune).collect()
        out.append([(row.doc_id, row.score) for row in rows])
    return out


def test_boolean_matches_oracle_fresh(spark, fresh_index, brute):
    got = _run_all(IndexCatalog(spark, fresh_index))
    want = {k: sorted(brute.evaluate(A.rewrite(q))) for k, q in QUERIES.items()}
    assert got == want
    # the fixture actually exercises every shape
    assert len(got["rare"]) == 1 and len(got["phrase"]) > 0
    assert len(got["phrase_slop"]) > len(got["phrase"])
    assert len(got["all"]) == N_DOCS


def test_boolean_matches_oracle_after_delete(spark, tombstoned_index, brute):
    cat = IndexCatalog(spark, tombstoned_index)
    assert cat.tombstones() is not None  # the cogrouped plan runs
    got = _run_all(cat)
    want = {
        k: sorted(brute.evaluate(A.rewrite(q)) - set(DELETED))
        for k, q in QUERIES.items()
    }
    assert got == want
    assert got["rare"] == []  # 555 tombstoned
    assert len(got["all"]) == N_DOCS - len(DELETED)


def test_tombstoned_equals_purged_merge(spark, tombstoned_index, work_dir):
    """A purging merge turns the tombstones into deleted_bin holes in
    one segment; boolean results and BM25 (exact AND pruned) doc ids
    and scores must not change."""
    cat = IndexCatalog(spark, tombstoned_index)
    base, base_bm25 = _run_all(cat), _bm25_all(cat)
    assert any(len(r) == 13 for r in base_bm25)  # k actually binds somewhere

    merged = f"{work_dir}/seg_plan_merged"
    with pytest.warns(RuntimeWarning):  # 1 seg < defaultParallelism
        merge_segments(spark, tombstoned_index, merged, factor=2)
    mcat = IndexCatalog(spark, merged)
    assert mcat.tombstones() is None  # purged, not carried
    assert _run_all(mcat) == base
    assert _bm25_all(mcat) == base_bm25


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------

_PY_STAGE = re.compile(r"\b\w*(?:InPandas|InArrow|EvalPython)\w*\b")


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _assert_one_segment_stage(df):
    plan = _plan_of(df)
    assert "CrossJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    stages = _PY_STAGE.findall(plan)
    assert len(stages) == 1, plan
    assert stages[0] in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"), plan


def test_plan_one_python_stage_per_query(spark, work_dir):
    """Fewer segments than cores (2) and a rare term next to a dense
    one — the skewed, over-merged case — still compile to the single
    per-segment shape, with and without tombstones."""
    hits = {37, 1200, 1901}
    texts = {
        i: "zzdense aa zzdense bb cc zzdense dd"
        + (" zzdense qqrare tail" if i in hits else " word")
        for i in range(2000)
    }
    out = _build(spark, texts, f"{work_dir}/seg_plan_skewed", 1024)
    assert spark.sparkContext.defaultParallelism > 2

    queries = [
        lambda cat: execute_boolean(cat, A.phrase(["zzdense", "qqrare"])),
        lambda cat: execute_boolean(cat, A.phrase(["zzdense", "qqrare"], slop=2)),
        lambda cat: execute_boolean(
            cat, A.and_(A.token("zzdense"), A.phrase(["qqrare", "tail"]))
        ),
        lambda cat: bm25_topk(cat, ["zzdense", "qqrare"], k=5),
        lambda cat: bm25_topk(cat, ["zzdense", "qqrare"], k=5, prune=True),
    ]
    cat = IndexCatalog(spark, out)
    for q in queries:
        _assert_one_segment_stage(q(cat))
    assert {r.doc_id for r in queries[0](cat).collect()} == hits

    delete_docs(spark, out, [1200])
    cat = IndexCatalog(spark, out)
    for q in queries:
        _assert_one_segment_stage(q(cat))
    assert {r.doc_id for r in queries[0](cat).collect()} == hits - {1200}
