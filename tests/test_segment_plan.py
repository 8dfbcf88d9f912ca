"""Per-segment query execution: every boolean, phrase and BM25 query
runs one task body per segment (executor.run_per_segment), reading the
segment's postings, seg_meta row and tombstones by path — on the driver
for a query whose postings and files count under
executor.DRIVER_POSTINGS, else in one ``mapInPandas`` job over the
index's segments.

These tests pin both placements on a 2-segment fixture (the result
tests run under each, through the ``placement`` fixture):
- boolean/phrase results equal the exhaustive oracle
  (``BruteForceIndex.evaluate``) on the fresh index and, minus the
  deleted ids, after ``delete_docs`` — also when the deletes land
  between queries on one open catalog;
- every boolean and BM25 query (exact and MaxScore-pruned) gives
  identical results on the tombstoned index and on its purged
  1-segment merge, whose tombstones hold the same deleted ids;
- on an index with fewer segments than cores, phrase and BM25 queries
  over a rare term next to a dense one compile to exactly one Python
  stage with no Exchange, no broadcast and no cross/nested-loop join,
  with and without tombstones;
- a warm boolean, phrase, exact BM25 and pruned BM25 query each runs
  no Spark job on the driver and exactly one as a job; a query at the
  threshold (its postings and its files counted), and a token-range or
  substring scan of any size, runs one; a driver-placed BM25 with k
  above its match count returns every match in (score desc, doc_id
  asc) order;
- a table Spark lists no files for, or a path pyarrow cannot open,
  raises; segment directories outside the manifest are left out;
- tombstone files are seg_id-ranged, so a task's min/max filter skips
  other segments' files, and a doc deleted twice has one tombstone row.
"""

import datetime as dt
import io
import re
from contextlib import redirect_stdout

import pytest

from yaii_spark import storage
from yaii_spark.indexer import build_index, delete_docs, merge_segments
from yaii_spark.oracle import BruteForceIndex
from yaii_spark.queries import ast as A
from yaii_spark.queries import executor
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


def test_boolean_matches_oracle_fresh(spark, fresh_index, brute, placement):
    got = _run_all(IndexCatalog(spark, fresh_index))
    want = {k: sorted(brute.evaluate(A.rewrite(q))) for k, q in QUERIES.items()}
    assert got == want
    # the fixture actually exercises every shape
    assert len(got["rare"]) == 1 and len(got["phrase"]) > 0
    assert len(got["phrase_slop"]) > len(got["phrase"])
    assert len(got["all"]) == N_DOCS


def test_boolean_matches_oracle_after_delete(spark, tombstoned_index, brute, placement):
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


def test_tombstoned_equals_purged_merge(spark, tombstoned_index, work_dir, placement):
    """A purging merge expunges the tombstoned docs into one segment and
    keeps their ids as its tombstones; boolean results and BM25 (exact
    AND pruned) doc ids and scores must not change."""
    cat = IndexCatalog(spark, tombstoned_index)
    base, base_bm25 = _run_all(cat), _bm25_all(cat)
    assert any(len(r) == 13 for r in base_bm25)  # k actually binds somewhere

    merged = f"{work_dir}/seg_plan_merged_{placement}"
    with pytest.warns(RuntimeWarning):  # 1 seg < defaultParallelism
        merge_segments(spark, tombstoned_index, merged, factor=2)
    mcat = IndexCatalog(spark, merged)
    assert sorted(r.doc_id for r in mcat.tombstones().collect()) == sorted(DELETED)
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
    assert "BroadcastExchange" not in plan, plan
    stages = _PY_STAGE.findall(plan)
    assert len(stages) == 1, plan
    assert stages[0] in ("MapInPandas", "PythonMapInArrow"), plan
    # the Python stage reads the segment-file frame directly: nothing
    # below it is exchanged
    below = plan[plan.index(stages[0]):]
    assert "Exchange" not in below, plan


def test_plan_one_python_stage_per_query(spark, work_dir, monkeypatch):
    """Fewer segments than cores (2) and a rare term next to a dense
    one — the skewed, over-merged case — still compile to the single
    by-path shape of the job placement (one MapInPandas over the
    segment files, no Exchange or broadcast under it), with and without
    tombstones."""
    monkeypatch.setattr(executor, "DRIVER_POSTINGS", 0)
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


def _jobs_of(spark, fn) -> int:
    """How many Spark jobs fn() launched, counted from the status store
    under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"seg-plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


WARM_QUERIES = {
    "boolean": lambda cat: execute_boolean(cat, QUERIES["and"]),
    "phrase": lambda cat: execute_boolean(cat, QUERIES["phrase"]),
    "bm25": lambda cat: bm25_topk(cat, ["common", "w3"], k=13),
    "bm25_pruned": lambda cat: bm25_topk(cat, ["rareterm", "w5"], k=13, prune=True),
}


@pytest.mark.parametrize("index", ["fresh_index", "tombstoned_index"])
def test_warm_query_job_count(spark, request, index, placement):
    """Once the catalog knows the query's terms, each query class runs
    no Spark job on the driver and exactly one as a job (the by-path
    stage and the merge above it, TakeOrderedAndProject for BM25),
    tombstones or not."""
    cat = IndexCatalog(spark, request.getfixturevalue(index))
    want = 0 if placement == "driver" else 1
    for name, q in WARM_QUERIES.items():
        first = q(cat).collect()  # fills the term-dictionary cache
        jobs = _jobs_of(spark, lambda: q(cat).collect())
        assert jobs == want, (name, jobs)
        assert first, name


@pytest.mark.parametrize("index", ["fresh_index", "tombstoned_index"])
def test_query_at_threshold_runs_one_job(spark, request, index, monkeypatch):
    """The placement counts Σ df over a query's keys, df + cf for a
    phrase's keys (their positions decode), n_docs more for a NOT, and
    FILE_POSTINGS per postings, seg_meta and tombstone file: at exactly
    DRIVER_POSTINGS the query runs one job, one below it none."""
    cat = IndexCatalog(spark, request.getfixturevalue(index))
    stats = cat.term_stats_for(
        [("text", t) for t in ("common", "w3", "alpha", "beta", "w1")]
    )
    df = {t: v[0] for (_, t), v in stats.items()}
    cf = {t: v[1] for (_, t), v in stats.items()}
    assert cf["alpha"] > df["alpha"]  # the phrase count really adds cf
    n_files = len(cat.tombstone_files()) + sum(
        len(p) + len(m) for _, p, m in cat.segment_file_list()
    )
    assert n_files >= 4 + (index == "tombstoned_index")
    files = executor.FILE_POSTINGS * n_files
    cases = [
        (WARM_QUERIES["boolean"], df["common"] + df["w3"] + files),
        (WARM_QUERIES["phrase"], sum(df[t] + cf[t] for t in ("alpha", "beta")) + files),
        (WARM_QUERIES["bm25"], df["common"] + df["w3"] + files),
        (
            lambda cat: execute_boolean(cat, QUERIES["not"]),
            df["w1"] + cat.corpus_stats().n_docs + files,
        ),
    ]
    for q, size in cases:
        want = q(cat).collect()
        monkeypatch.setattr(executor, "DRIVER_POSTINGS", size)
        assert _jobs_of(spark, lambda: q(cat).collect()) == 1, size
        assert q(cat).collect() == want
        monkeypatch.setattr(executor, "DRIVER_POSTINGS", size + 1)
        assert _jobs_of(spark, lambda: q(cat).collect()) == 0, size


@pytest.mark.parametrize("limit", [0, 10**12])
def test_scan_query_runs_one_job(spark, fresh_index, brute, monkeypatch, limit):
    """A token-range or substring scan has no dictionary count, so it
    runs as one job whatever the threshold."""
    monkeypatch.setattr(executor, "DRIVER_POSTINGS", limit)
    cat = IndexCatalog(spark, fresh_index)
    for q in (A.token_range("text", "w1", "w3"), A.prefix("rare"), A.text_contains("ph")):
        rows = []
        assert _jobs_of(spark, lambda: rows.extend(execute_boolean(cat, q).collect())) == 1
        assert sorted(r.doc_id for r in rows) == sorted(brute.evaluate(A.rewrite(q))), q


def test_driver_bm25_k_above_matches(spark, tombstoned_index, brute):
    """A driver-placed BM25 whose k exceeds its match count returns
    every live match, by (score desc, doc_id asc) with tied scores in
    doc_id order, and runs no job."""
    cat = IndexCatalog(spark, tombstoned_index)
    terms = ["rareterm", "x", "alpha"]
    want = {d for t in terms for d in brute.evaluate(A.token(t))} - set(DELETED)
    bm25_topk(cat, terms, k=N_DOCS).collect()  # fills the term-dictionary cache
    rows = []
    jobs = _jobs_of(spark, lambda: rows.extend(bm25_topk(cat, terms, k=N_DOCS).collect()))
    got = [(r.doc_id, r.score) for r in rows]
    assert jobs == 0
    assert {d for d, _ in got} == want and len(got) == len(want) < N_DOCS
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))
    assert len({s for _, s in got}) < len(got)  # tied scores are ordered


def test_deletes_visible_through_one_catalog(spark, work_dir, brute, placement):
    """Deletes issued between queries show up in the next query on the
    SAME catalog: the tombstone file list is never memoized."""
    out = _build(spark, _texts(), f"{work_dir}/seg_plan_live_deletes_{placement}", SEG)
    cat = IndexCatalog(spark, out)
    queries = {k: QUERIES[k] for k in ("and", "not", "phrase")}

    def check(deleted):
        for k, q in queries.items():
            got = sorted(r.doc_id for r in execute_boolean(cat, q).collect())
            assert got == sorted(brute.evaluate(A.rewrite(q)) - deleted), k

    check(set())
    deleted = set()
    for batch in ([10, 11, 400], [3, 22, 799]):  # each hits AND, NOT and phrase
        delete_docs(spark, out, batch)
        deleted |= set(batch)
        check(deleted)


def test_unlisted_files_raise(spark, fresh_index, tombstoned_index, monkeypatch, placement):
    """Tables that Spark lists no files for (an Iceberg table's
    ``inputFiles()`` is empty) and paths pyarrow cannot open make a
    query raise, instead of answering from no data."""
    DataFrame = type(spark.range(1))  # the session's DataFrame class

    q = QUERIES["and"]
    listed = DataFrame.inputFiles
    monkeypatch.setattr(DataFrame, "inputFiles", lambda df: [])
    with pytest.raises(RuntimeError, match="term_stats: Spark lists no data files"):
        execute_boolean(IndexCatalog(spark, fresh_index), q)

    cat = IndexCatalog(spark, fresh_index)
    monkeypatch.setattr(DataFrame, "inputFiles", listed)
    cat.term_stats_for(sorted(A.collect_terms(q)))  # the dictionary read
    monkeypatch.setattr(DataFrame, "inputFiles", lambda df: [])
    with pytest.raises(RuntimeError, match="seg_meta: Spark lists no data files"):
        execute_boolean(cat, q)

    # tombstones are listed through the Hadoop FileSystem, not Spark
    monkeypatch.setattr(DataFrame, "inputFiles", listed)
    with monkeypatch.context() as m:
        m.setattr(storage, "list_data_files", lambda fs, path: [])
        with pytest.raises(RuntimeError, match="tombstones: Spark lists no data files"):
            execute_boolean(IndexCatalog(spark, tombstoned_index), q)
        s3a = ["s3a://bucket/idx/tombstones/part-0.parquet"]
        m.setattr(storage, "list_data_files", lambda fs, path: s3a)
        with pytest.raises(ValueError, match="tombstones: .* cannot open s3a://"):
            execute_boolean(IndexCatalog(spark, tombstoned_index), q)

    hadoop_only = [f"s3a://bucket/idx/seg_meta/seg_id={s}/part-0.parquet" for s in (0, 1)]
    monkeypatch.setattr(DataFrame, "inputFiles", lambda df: hadoop_only)
    with pytest.raises(ValueError, match="cannot open s3a://"):
        execute_boolean(IndexCatalog(spark, tombstoned_index), q)


def test_orphan_segment_outside_manifest_is_ignored(
    spark, fresh_index, work_dir, brute, placement
):
    """Segment directories the manifest does not name (the files of a
    commit that crashed before its publish) are left out of every query
    and every table the catalog reads."""
    import shutil

    out = f"{work_dir}/seg_plan_orphan_{placement}"
    shutil.copytree(fresh_index, out)
    for table in ("docs", "postings", "seg_meta"):
        shutil.copytree(f"{out}/{table}/seg_id=1", f"{out}/{table}/seg_id=2")
    cat = IndexCatalog(spark, out)
    assert cat.manifest().segments == (0, 1)
    for k, q in QUERIES.items():
        got = sorted(r.doc_id for r in execute_boolean(cat, q).collect())
        assert got == sorted(brute.evaluate(A.rewrite(q))), k
    assert _bm25_all(cat) == _bm25_all(IndexCatalog(spark, fresh_index))
    for table in (cat.docs(), cat.postings(), cat.seg_meta()):
        assert {r.seg_id for r in table.select("seg_id").distinct().collect()} == {0, 1}


def test_tombstone_files_are_seg_id_ranged(spark, fresh_index, work_dir, brute, placement):
    """delete_docs range-partitions tombstones by seg_id, so a query
    task's min/max filter on its segments skips other segments' files."""
    import shutil
    from urllib.parse import urlparse

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    out = f"{work_dir}/seg_plan_ranged_tombstones_{placement}"
    shutil.copytree(fresh_index, out)
    deleted = set(range(0, N_DOCS, 3))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce = spark.conf.get(key)
    spark.conf.set(key, "false")  # one file per range partition
    try:
        delete_docs(spark, out, sorted(deleted))
    finally:
        spark.conf.set(key, coalesce)
    cat = IndexCatalog(spark, out)
    files = cat.tombstone_files()
    assert len(files) > 2
    frags = list(ds.dataset([urlparse(f).path for f in files]).get_fragments())
    seg = pc.field("seg_id")
    for s in (0, 1):
        kept = [f for f in frags if f.split_by_row_group((seg >= s) & (seg <= s))]
        assert 0 < len(kept) < len(frags), s
    got = sorted(r.doc_id for r in execute_boolean(cat, QUERIES["not"]).collect())
    assert got == sorted(brute.evaluate(A.rewrite(QUERIES["not"])) - deleted)


def test_delete_skips_tombstoned_ids(spark, fresh_index, work_dir):
    """An id deleted twice is written and counted once: the table reads
    back one row per (seg_id, doc_id), each file sorted, and a 3-id
    delete onto existing tombstones runs at most 4 Spark jobs."""
    import shutil
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    out = f"{work_dir}/seg_plan_redelete"
    shutil.copytree(fresh_index, out)
    assert delete_docs(spark, out, [12, 12, 13]) == 2
    assert delete_docs(spark, out, [13]) == 0
    added = []
    jobs = _jobs_of(spark, lambda: added.append(delete_docs(spark, out, [13, 400, 401])))
    assert added == [2] and jobs <= 4, (added, jobs)

    cat = IndexCatalog(spark, out)
    rows = []
    for f in cat.tombstone_files():
        t = pq.read_table(urlparse(f).path, columns=["seg_id", "doc_id"])
        part = list(zip(t["seg_id"].to_pylist(), t["doc_id"].to_pylist()))
        assert part == sorted(part), f
        rows += part
    assert sorted(rows) == [(0, 12), (0, 13), (1, 400), (1, 401)]
    got = sorted(r.doc_id for r in execute_boolean(cat, QUERIES["all"]).collect())
    assert got == sorted(set(range(N_DOCS)) - {12, 13, 400, 401})
