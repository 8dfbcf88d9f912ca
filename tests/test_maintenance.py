"""Index maintenance: tombstone deletes (U4), segment merge (S7),
cached filters (P9)."""

import pytest
from pyspark.sql import functions as F

from yaii_spark.indexer import build_index, delete_docs, merge_segments
from yaii_spark.ops.aggregations import index_size
from yaii_spark.queries import ast as A
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.queries.executor import cache_filter, execute_boolean, search
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import gen_boolean_pages, gen_pages


def ids(df):
    return {r.doc_id for r in df.collect()}


@pytest.fixture(scope="module")
def del_index(spark, work_dir):
    out = f"{work_dir}/del_idx"
    build_index(spark, gen_boolean_pages(spark), out, seg_size=3)
    return IndexCatalog(spark, out)


def test_delete_then_query(spark, del_index):
    cat = del_index
    assert ids(execute_boolean(cat, A.token("abc"))) == {12, 14}
    delete_docs(spark, cat.root, [14])
    assert ids(execute_boolean(cat, A.token("abc"))) == {12}
    # NOT respects tombstones on both sides
    assert ids(execute_boolean(cat, A.not_(A.token("abc")))) == {13, 15}
    # attribute predicates too
    assert ids(execute_boolean(cat, A.number("num_attr", 25))) == set()
    # BM25 excludes deleted docs (both paths)
    assert 14 not in {r.doc_id for r in bm25_topk(cat, ["abc"], k=10).collect()}
    assert 14 not in {r.doc_id for r in bm25_topk(cat, ["abc"], k=10, prune=True).collect()}
    assert index_size(cat) == 3
    # projection path
    assert ids(search(cat, A.all_docs())) == {12, 13, 15}


def test_cached_filter(spark, del_index):
    cat = del_index
    cache_filter(cat, "f1", A.or_(A.token("abc"), A.token("efg")))
    got = ids(execute_boolean(cat, A.and_(A.cached_filter("f1"), A.token("dolor"))))
    assert got == {13}
    with pytest.raises(KeyError):
        execute_boolean(cat, A.cached_filter("nope")).collect()


def test_uncache_filter_frees_blocks(spark, del_index):
    from yaii_spark.queries.executor import uncache_filter

    cat = del_index
    df = cache_filter(cat, "tmp_f", A.token("abc"))
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert uncache_filter(cat, "tmp_f") == 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    with pytest.raises(KeyError):
        execute_boolean(cat, A.cached_filter("tmp_f")).collect()
    # clearing everything (None) drops the whole registry (including
    # filters cached by earlier tests on this shared catalog)
    cache_filter(cat, "a1", A.token("abc"))
    cache_filter(cat, "a2", A.token("efg"))
    assert uncache_filter(cat) >= 2
    assert uncache_filter(cat) == 0


def test_catalog_evicted_on_in_place_rebuild(spark, work_dir):
    """The entrypoint catalog memo must drop its cached term-dictionary
    entries (absences included) when the index is rebuilt in place —
    keyed on the commit marker's mtime (ADVICE r3)."""
    import time

    from yaii_spark.entrypoint import _catalog
    from yaii_spark.synth import gen_pages

    out = f"{work_dir}/staleness_idx"
    build_index(spark, gen_boolean_pages(spark), out, seg_size=8, resume=False)
    cat1 = _catalog(spark, out)
    # memoize an absence: 'hotterm' is not in the boolean corpus but
    # will be in the rebuilt one
    assert cat1.term_stats_for([("text", "hotterm")]) == {}
    assert _catalog(spark, out) is cat1  # stable while marker unchanged
    time.sleep(0.01)  # mtime granularity is ms
    build_index(spark, gen_pages(spark, 40, hot_fraction=1.0), out,
                seg_size=8, resume=False)
    cat2 = _catalog(spark, out)
    assert cat2 is not cat1
    assert ("text", "hotterm") in cat2.term_stats_for([("text", "hotterm")])


def test_merge_with_sparse_term_shards(spark, work_dir, monkeypatch):
    """A single-distinct-term corpus leaves most of 16 merge shards (the
    count a 2^20-doc merged segment gets) without postings rows, only
    their segment's blobs — regression for the float64-dtyped empty
    frame that Arrow could not convert to the list/binary output columns
    (first seen at a 1M-doc merge)."""
    import datetime as dt

    import yaii_spark.indexer as IX

    from yaii_spark.synth import EPOCH, PAGES_SCHEMA, render_html

    rows = [
        (i, f"https://x/{i}", EPOCH + dt.timedelta(seconds=i),
         render_html("solo"), "solo", "en", i)
        for i in range(40)
    ]
    src, dst = f"{work_dir}/sparse_idx", f"{work_dir}/sparse_idx2"
    build_index(spark, spark.createDataFrame(rows, PAGES_SCHEMA), src, seg_size=10)
    monkeypatch.setattr(IX, "_term_shards", lambda seg_size: 16)
    m = merge_segments(spark, src, dst, factor=4)
    assert m["segments_after"] == 1
    got = ids(execute_boolean(IndexCatalog(spark, dst), A.token("solo")))
    assert got == set(range(40))


def test_merge_preserves_results(spark, work_dir):
    src = f"{work_dir}/premerge_idx"
    dst = f"{work_dir}/postmerge_idx"
    pages = gen_pages(spark, 500, include_fixtures=True)
    build_index(spark, pages, src, seg_size=64)  # 8 segments
    # 2 segments < local[*] parallelism: the over-compaction guard must
    # fire (VERDICT r4 #6 — phrase/BM25 stages parallelize by segment,
    # so merging below the core count caps their task count)
    with pytest.warns(RuntimeWarning, match="caps their task count"):
        m = merge_segments(spark, src, dst, factor=4)  # → 2 segments
    assert m["segments_after"] == 2
    a, b = IndexCatalog(spark, src), IndexCatalog(spark, dst)
    assert b.corpus_stats().seg_size == 256

    queries = [
        A.token("lorem"),
        A.or_(A.token("hotterm"), A.token("the")),
        A.and_(A.token("the"), A.not_(A.token("a"))),
        A.not_(A.token("the")),
    ]
    for q in queries:
        assert ids(execute_boolean(a, q)) == ids(execute_boolean(b, q)), q
    for terms in (["the"], ["the", "a"], ["lorem", "ipsum"]):
        ra = [(r.doc_id, r.score) for r in bm25_topk(a, terms, k=10).collect()]
        rb = [(r.doc_id, r.score) for r in bm25_topk(b, terms, k=10).collect()]
        assert ra == rb, terms
        rp = [(r.doc_id, r.score) for r in bm25_topk(b, terms, k=10, prune=True).collect()]
        assert ra == rp, terms


def test_merge_many_segments_no_driver_blobs(spark, work_dir):
    """32→2 merge exercises the cogroup path (per-shard dl replication;
    nothing corpus-sized on the driver) and stays query-identical."""
    src = f"{work_dir}/many_src"
    dst = f"{work_dir}/many_dst"
    pages = gen_pages(spark, 640, include_fixtures=True)
    build_index(spark, pages, src, seg_size=20)  # 32 segments
    m = merge_segments(spark, src, dst, factor=16)
    assert m["segments_before"] == 32 and m["segments_after"] == 2
    a, b = IndexCatalog(spark, src), IndexCatalog(spark, dst)
    for q in [A.token("lorem"), A.not_(A.token("the")), A.phrase(["lorem", "ipsum"])]:
        assert ids(execute_boolean(a, q)) == ids(execute_boolean(b, q)), q
    ra = [(r.doc_id, r.score) for r in bm25_topk(a, ["the", "a"], k=10).collect()]
    rb = [(r.doc_id, r.score) for r in bm25_topk(b, ["the", "a"], k=10).collect()]
    rp = [(r.doc_id, r.score) for r in bm25_topk(b, ["the", "a"], k=10, prune=True).collect()]
    assert ra == rb == rp


def test_rebuild_resume_false_removes_stale(spark, work_dir):
    """resume=False over an existing dir must not leak stale segments
    into postings or term_stats (stale partitions survive dynamic
    overwrite; term_stats is recomputed from ALL on-disk postings)."""
    from tests.test_index_build import _postings_snapshot

    idx = f"{work_dir}/rebuild_idx"
    build_index(spark, gen_pages(spark, 200, include_fixtures=False), idx,
                seg_size=50, resume=False)  # 4 segments
    build_index(spark, gen_pages(spark, 60, include_fixtures=False), idx,
                seg_size=50, resume=False)  # 2 segments — must fully replace
    clean = f"{work_dir}/rebuild_clean"
    build_index(spark, gen_pages(spark, 60, include_fixtures=False), clean, seg_size=50)

    cat, ref = IndexCatalog(spark, idx), IndexCatalog(spark, clean)
    assert cat.corpus_stats().n_docs == 60
    assert {r.seg_id for r in cat.seg_meta().collect()} == {0, 1}
    assert _postings_snapshot(spark, idx) == _postings_snapshot(spark, clean)
    assert cat.term_stats_for([("text", "the")]) == ref.term_stats_for([("text", "the")])


def test_merge_expunges_tombstones(spark, work_dir):
    """Purge-at-merge (VERDICT r3 #5): a merge over a tombstoned index
    drops the deleted docs' postings (df_local shrinks) and docs rows,
    and its tombstones table records exactly the deleted ids under the
    merged seg_ids — while every query (NOT/ALL universes and both BM25
    paths included) stays identical pre/post."""
    src, dst = f"{work_dir}/purge_src", f"{work_dir}/purge_dst"
    pages = gen_pages(spark, 400, include_fixtures=True)
    build_index(spark, pages, src, seg_size=50)  # 8 segments
    dele = [3, 7] + list(range(100, 180)) + [399]
    delete_docs(spark, src, dele)
    a = IndexCatalog(spark, src)
    # 'url' = VOCAB[0], the Zipf-densest term in the generated corpus
    url = (F.col("field") == "text") & (F.col("term") == "url")
    pre_df = sum(r.df_local for r in a.postings().filter(url).collect())
    m = merge_segments(spark, src, dst, factor=4)
    assert m["segments_after"] == 2
    b = IndexCatalog(spark, dst)
    # postings shrank; the tombstones record the deleted ids, one row
    # each, keyed by merged segment (seg_size 200)
    post_df = sum(r.df_local for r in b.postings().filter(url).collect())
    assert post_df < pre_df
    tomb = sorted((r.seg_id, r.doc_id) for r in b.tombstones().collect())
    assert tomb == sorted((d // 200, d) for d in dele)
    # docs rows expunged
    assert b.docs().filter(F.col("doc_id").isin(dele[:10])).count() == 0
    assert index_size(b) == 400 - len(dele)
    # query identity pre/post, including universe-based NOT
    for q in [A.token("lorem"), A.not_(A.token("url")), A.all_docs(),
              A.phrase(["lorem", "ipsum"])]:
        assert ids(execute_boolean(a, q)) == ids(execute_boolean(b, q)), q
    for prune in (False, True):
        ra = [(r.doc_id, r.score)
              for r in bm25_topk(a, ["url", "wcsfc"], k=10, prune=prune).collect()]
        rb = [(r.doc_id, r.score)
              for r in bm25_topk(b, ["url", "wcsfc"], k=10, prune=prune).collect()]
        assert ra == rb
    # a second merge over the purged index carries the tombstones forward
    dst2 = f"{work_dir}/purge_dst2"
    merge_segments(spark, dst, dst2, factor=2)
    c = IndexCatalog(spark, dst2)
    assert sorted(r.doc_id for r in c.tombstones().collect()) == sorted(dele)
    assert ids(execute_boolean(c, A.not_(A.token("url")))) == ids(
        execute_boolean(a, A.not_(A.token("url")))
    )


def test_delete_after_purging_merge_adds_nothing(spark, work_dir):
    """A doc a merge purged stays deleted on the merged index: deleting
    it again adds no tombstone, and a fresh delete still adds one."""
    src, dst = f"{work_dir}/redel_src", f"{work_dir}/redel_dst"
    build_index(spark, gen_pages(spark, 64, include_fixtures=False), src, seg_size=16)
    delete_docs(spark, src, [5, 40])
    with pytest.warns(RuntimeWarning):  # 2 segments < local parallelism
        merge_segments(spark, src, dst, factor=2)
    assert delete_docs(spark, dst, [40]) == 0
    assert delete_docs(spark, dst, [40, 41]) == 1
    cat = IndexCatalog(spark, dst)
    assert sorted(r.doc_id for r in cat.tombstones().collect()) == [5, 40, 41]
    assert index_size(cat) == 61


def test_delete_docs_df_distributed(spark, work_dir):
    """DataFrame-in bulk delete (VERDICT r3 #6): tombstone 50% of the
    corpus from a predicate without a corpus-sized driver list."""
    from yaii_spark.indexer import delete_docs_df

    out = f"{work_dir}/bulkdel_idx"
    build_index(spark, gen_pages(spark, 2000, include_fixtures=False), out,
                seg_size=512)
    cat = IndexCatalog(spark, out)
    victims = cat.docs().filter(F.col("doc_id") % 2 == 0).select("doc_id")
    n = delete_docs_df(spark, out, victims)
    assert n == 1000
    assert index_size(cat) == 1000
    assert ids(execute_boolean(cat, A.all_docs())) == set(range(1, 2000, 2))


def test_format_version_gate(spark, work_dir):
    """A manifest of another on-disk format must raise 'rebuild
    required' instead of silently misdecoding postings (ADVICE r3)."""
    import json
    import os

    out = f"{work_dir}/oldfmt_idx"
    build_index(spark, gen_boolean_pages(spark), out, seg_size=8)
    m = IndexCatalog(spark, out).manifest()
    body = {"version": m.version + 1, "n_docs": 4, "sum_dl": 40, "k1": 1.2,
            "b": 0.75, "seg_size": 8, "block_size": 128, "segments": [1]}
    # forge a newer manifest of an older format, then an unversioned one
    for forged in ({**body, "format_version": 4}, body):
        with open(os.path.join(out, "_manifest", str(m.version + 1)), "w") as f:
            json.dump(forged, f)
        with pytest.raises(ValueError, match="rebuild"):
            IndexCatalog(spark, out).corpus_stats()


@pytest.mark.parametrize("version", [5, 6, 7, 8])
def test_v5_index_raises_rebuild(spark, work_dir, version):
    """An index of an older format (v5: hash-bucketed term_stats; v6:
    block bounds stored as norms under the build-time avgdl; v7: the
    corpus_stats commit marker, no manifest; v8: a manifest stamped 8,
    with a holes blob per seg_meta row) is not readable by this build:
    the catalog, an append commit and a merge all raise the rebuild
    error before touching it."""
    import json
    import os

    from yaii_spark.storage import fs_delete, local_frame, write_table
    from yaii_spark.streaming import make_append_committer

    out = f"{work_dir}/v{version}_idx"
    build_index(spark, gen_boolean_pages(spark), out, seg_size=8)
    if version == 8:
        m = IndexCatalog(spark, out).manifest()
        body = {"version": m.version + 1, "n_docs": 4, "sum_dl": 40, "k1": 1.2,
                "b": 0.75, "seg_size": 8, "block_size": 128, "segments": [1],
                "format_version": 8}
        with open(os.path.join(out, "_manifest", str(m.version + 1)), "w") as f:
            json.dump(body, f)
    else:
        fs_delete(spark, f"{out}/_manifest")
        write_table(
            local_frame(
                spark, [(4, 10.0, 1.2, 0.75, 8, 128, version)],
                "n_docs long, avgdl double, k1 double, b double, seg_size long, "
                "block_size long, format_version long",
            ),
            f"{out}/corpus_stats",
        )
    with pytest.raises(ValueError, match="rebuild"):
        IndexCatalog(spark, out).corpus_stats()
    commit = make_append_committer(out, seg_size=8)
    with pytest.raises(ValueError, match="rebuild"):
        commit(gen_boolean_pages(spark), 0)
    with pytest.raises(ValueError, match="rebuild"):
        merge_segments(spark, out, f"{work_dir}/v{version}_merged", factor=2)


def test_mass_delete_cogrouped_tombstones(spark, work_dir):
    """Tombstones at 50% of the corpus flow through the cogroup path
    (never a collected array/broadcast) and stay correct on boolean,
    NOT, and both BM25 paths."""
    out = f"{work_dir}/massdel_idx"
    pages = gen_pages(spark, 3000, include_fixtures=False)
    build_index(spark, pages, out, seg_size=1024)
    cat = IndexCatalog(spark, out)
    evens = list(range(0, 3000, 2))
    delete_docs(spark, out, evens)
    assert index_size(cat) == 1500
    live = ids(execute_boolean(cat, A.all_docs()))
    assert live == set(range(1, 3000, 2))
    # boolean + NOT respect mass tombstones
    got = ids(execute_boolean(cat, A.not_(A.token("zzznope"))))
    assert got == live
    # BM25 exact and pruned never surface a deleted doc
    for prune in (False, True):
        top = bm25_topk(cat, ["hotterm", "the", "a"], k=50, prune=prune).collect()
        assert all(r.doc_id % 2 == 1 for r in top)
