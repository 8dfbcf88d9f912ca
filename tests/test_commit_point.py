"""The manifest is the index's only commit point (storage.Manifest).

A failure injected just before the publish — in a bulk build, in an
append commit (after its postings write, and after its term_stats
write) and in a merge — leaves the previous version answering every
query with its own corpus stats; re-running or replaying the operation
then gives term_stats rows, corpus stats and query results identical to
an uninterrupted run, and leaves one manifest and one term_stats
version behind. A smaller first build over a crashed one's files
equals a clean build of its own docs.
"""

import os

import pytest
from pyspark.sql import functions as F

import yaii_spark.indexer as IX
from yaii_spark.indexer import build_index, merge_segments
from yaii_spark.queries import ast as A
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.queries.executor import execute_boolean
from yaii_spark.storage import IndexCatalog
from yaii_spark.streaming import make_append_committer
from yaii_spark.synth import VOCAB, gen_pages

STORED = ["url", "text", "num_attr"]
QUERIES = [
    A.token("lorem"),
    A.and_(A.token(VOCAB[0]), A.token(VOCAB[1])),
    A.not_(A.token(VOCAB[2])),
    A.phrase([VOCAB[0], VOCAB[1]]),
]


class Crash(Exception):
    pass


def _crash(*a, **k):
    raise Crash()


def _answers(spark, root):
    """Everything a reader sees of the newest published version."""
    cat = IndexCatalog(spark, root)
    return (
        cat.corpus_stats(),
        sorted(tuple(r) for r in cat.term_stats().collect()),
        [sorted(r.doc_id for r in execute_boolean(cat, q).collect()) for q in QUERIES],
        [
            [(r.doc_id, r.score) for r in bm25_topk(cat, [VOCAB[0], VOCAB[3]], k=10, prune=p).collect()]
            for p in (False, True)
        ],
    )


def _one_version_left(root):
    """Each publish deleted the manifests and term_stats versions it
    superseded, the crashed attempt's included."""
    manifests = [n for n in os.listdir(os.path.join(root, "_manifest")) if n.isdigit()]
    versions = os.listdir(os.path.join(root, "term_stats"))
    assert len(manifests) == 1 and versions == manifests, (manifests, versions)


def test_build_crash_before_publish(spark, tmp_path, monkeypatch):
    """A bulk build that dies before its publish leaves no index; the
    re-run equals an uninterrupted build."""
    pages = gen_pages(spark, 64, include_fixtures=True)
    ref, idx = str(tmp_path / "ref"), str(tmp_path / "idx")
    build_index(spark, pages, ref, seg_size=16, stored_cols=STORED)
    monkeypatch.setattr(IX, "publish_manifest", _crash)
    with pytest.raises(Crash):
        build_index(spark, pages, idx, seg_size=16, stored_cols=STORED)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(idx, "postings"))  # files, unpublished
    assert not IndexCatalog(spark, idx).exists()
    m = build_index(spark, pages, idx, seg_size=16, stored_cols=STORED)
    assert m["segments_built"] == 4
    assert _answers(spark, idx) == _answers(spark, ref)
    _one_version_left(idx)


def test_rebuild_over_crashed_larger_build(spark, tmp_path, monkeypatch):
    """A first build that dies before its publish leaves segment files
    no manifest names; a first build of fewer docs over them must keep
    those segments out of its dictionary, and equal a clean build."""
    pages = gen_pages(spark, 64, include_fixtures=True)
    half = pages.filter(F.col("doc_id") < 32)
    ref, idx = str(tmp_path / "ref"), str(tmp_path / "idx")
    build_index(spark, half, ref, seg_size=16, stored_cols=STORED)
    monkeypatch.setattr(IX, "publish_manifest", _crash)
    with pytest.raises(Crash):
        build_index(spark, pages, idx, seg_size=16, stored_cols=STORED)
    monkeypatch.undo()
    m = build_index(spark, half, idx, seg_size=16, stored_cols=STORED)
    assert m["segments_built"] == 2
    assert _answers(spark, idx) == _answers(spark, ref)


@pytest.mark.parametrize("point", ["_fold_term_stats", "publish_manifest"])
def test_append_crash_before_publish(spark, tmp_path, monkeypatch, point):
    """An append commit that dies after its postings write (in the
    term_stats fold) or after its term_stats write (at the publish):
    a fresh catalog answers from the previous version, and replaying
    the batch lands on the same segment range and equals an
    uninterrupted commit."""
    b1 = gen_pages(spark, 40, include_fixtures=True)
    b2 = gen_pages(spark, 70, include_fixtures=False).filter(F.col("doc_id") >= 40)
    ref, idx = str(tmp_path / "ref"), str(tmp_path / "idx")
    for root in (ref, idx):
        make_append_committer(root, seg_size=16, stored_cols=STORED)(b1, 0)
    before = _answers(spark, idx)
    make_append_committer(ref, seg_size=16, stored_cols=STORED)(b2, 1)

    commit = make_append_committer(idx, seg_size=16, stored_cols=STORED)
    monkeypatch.setattr(IX, point, _crash)
    with pytest.raises(Crash):
        commit(b2, 1)
    monkeypatch.undo()
    # the crashed attempt's segments are on disk, outside the manifest
    assert os.path.isdir(os.path.join(idx, "postings", "seg_id=3"))
    assert IndexCatalog(spark, idx).manifest().segments == (0, 1, 2)
    assert _answers(spark, idx) == before

    commit(b2, 1)  # the replay
    assert IndexCatalog(spark, idx).manifest().segments == (0, 1, 2, 3, 4)
    assert _answers(spark, idx) == _answers(spark, ref)
    _one_version_left(idx)
    commit(b2, 1)  # a replay of a published batch is skipped
    assert IndexCatalog(spark, idx).manifest().version == 2


def test_merge_crash_before_publish(spark, tmp_path, monkeypatch):
    """A merge that dies before its publish leaves the output without
    an index and the source untouched; the re-run equals an
    uninterrupted merge, which answers like the source."""
    src, ref, out = (str(tmp_path / n) for n in ("src", "ref", "out"))
    build_index(spark, gen_pages(spark, 64, include_fixtures=True), src,
                seg_size=16, stored_cols=STORED)
    before = _answers(spark, src)
    with pytest.warns(RuntimeWarning):
        merge_segments(spark, src, ref, factor=2)
    monkeypatch.setattr(IX, "publish_manifest", _crash)
    with pytest.raises(Crash), pytest.warns(RuntimeWarning):
        merge_segments(spark, src, out, factor=2)
    monkeypatch.undo()
    assert not IndexCatalog(spark, out).exists()
    assert _answers(spark, src) == before
    with pytest.warns(RuntimeWarning):
        merge_segments(spark, src, out, factor=2)
    got = _answers(spark, out)
    assert got == _answers(spark, ref)
    assert got[0].seg_size == 32 and got[1:] == before[1:]
    _one_version_left(out)


def test_merge_onto_published_index_raises(spark, tmp_path):
    """A merge writes its tables before it publishes, so a merge into a
    directory holding a published index (the source's own included)
    raises before any write, and both indexes answer as before."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    pages = gen_pages(spark, 64, include_fixtures=True)
    for root in (src, out):
        build_index(spark, pages, root, seg_size=16, stored_cols=STORED)
    before = _answers(spark, out)
    for dst in (out, src):
        with pytest.raises(ValueError, match="published index"):
            merge_segments(spark, src, dst, factor=2)
    assert _answers(spark, out) == before
    assert _answers(spark, src) == before
