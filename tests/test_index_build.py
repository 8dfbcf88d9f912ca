"""Index-build pipeline tests: the per-row extraction invariant
(north_rule), resumable builds (FIXTURES.md §6), and determinism across
parallelism levels (the sandbox evidence for the two-cluster-size rule).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import yaii_spark.indexer as IX
from yaii_spark.extract import extract_text, with_extracted_text
from yaii_spark.indexer import build_index
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import gen_pages, render_html


def test_extraction_invariant_roundtrip(spark):
    """extract(html) == text, byte-identical per url (input_hint)."""
    pages = gen_pages(spark, 200, include_fixtures=True)
    mism = (
        with_extracted_text(pages, out_col="text2")
        .filter(F.col("text2") != F.col("text"))
        .count()
    )
    assert mism == 0
    # multi-paragraph round-trip
    t = "para one\npara two\n\nthird"
    assert extract_text(render_html(t)) == t


def test_labeled_restores_caller_description(spark):
    """A labeled build step sets its own job description and restores
    the caller's on exit, instead of clearing it."""
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        assert IX._labeled(spark, "build:step", lambda: 7) == 7
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


def _postings_snapshot(spark, idx_dir):
    df = IndexCatalog(spark, idx_dir).postings().select(
        "seg_id", "term", "df_local", "cf_local",
        F.md5(F.hex("doc_ids_bin")).alias("ids_h"),
        F.md5(F.hex("tfs_bin")).alias("tfs_h"),
        F.md5(F.hex("pos_bin")).alias("pos_h"),
    )
    return sorted(tuple(r) for r in df.collect())


def _assert_postings_match_inversion(spark, idx, field, rows, fn):
    """Decode `field`'s postings and assert doc ids, tfs, positions,
    df_local and cf_local equal a pure-Python inversion of the analyzer
    `fn` over `rows` ({doc_id: [source values]}): each doc's non-null
    source values analyze and concatenate in order with sequential
    positions, and a None token takes a position but is never indexed."""
    from yaii_spark.codec import decode_positions, delta_decode_blocked, varint_decode

    cs = IndexCatalog(spark, idx).corpus_stats()
    inv = {}
    for d, vals in rows.items():
        stream = [tk for v in vals if v is not None for tk in fn(v)]
        for i, tk in enumerate(stream):
            if tk is not None:
                key = (d // cs.seg_size, tk)
                inv.setdefault(key, {}).setdefault(d, []).append(i)
    want = {
        key: (len(docs), sum(len(p) for p in docs.values()), docs)
        for key, docs in inv.items()
    }
    got = {}
    for r in (
        spark.read.parquet(f"{idx}/postings")
        .filter(F.col("field") == field)
        .collect()
    ):
        ids = delta_decode_blocked(r.doc_ids_bin, cs.block_size)
        tfs = varint_decode(r.tfs_bin)
        poss = decode_positions(r.pos_bin, tfs)
        assert [int(t) for t in tfs] == [len(p) for p in poss]
        got[(int(r.seg_id), r.term)] = (
            int(r.df_local),
            int(r.cf_local),
            {int(d): [int(x) for x in p] for d, p in zip(ids, poss)},
        )
    assert want  # the fixture indexes something in this field
    assert got == want


def test_resume_equals_clean_build(spark, work_dir):
    """A build over docs 0-199, resumed over all 400, equals a clean
    build of the 400."""
    pages = gen_pages(spark, 400, include_fixtures=False)

    clean = f"{work_dir}/clean_idx"
    build_index(spark, pages, clean, seg_size=50)  # 8 segments

    resumed = f"{work_dir}/resumed_idx"
    m1 = build_index(spark, pages.filter(F.col("doc_id") < 200), resumed, seg_size=50)
    assert m1["segments_built"] == 4
    m2 = build_index(spark, pages, resumed, seg_size=50)
    assert m2["segments_skipped"] == 4 and m2["segments_built"] == 4

    assert _postings_snapshot(spark, clean) == _postings_snapshot(spark, resumed)
    # stats identical too
    a, b = IndexCatalog(spark, clean), IndexCatalog(spark, resumed)
    assert a.corpus_stats() == b.corpus_stats()
    for t in ["term_stats", "seg_meta"]:
        rows = [sorted(map(str, getattr(c, t)().drop("dl_bin").collect())) for c in (a, b)]
        assert rows[0] == rows[1], t


def test_rerun_is_idempotent(spark, work_dir):
    pages = gen_pages(spark, 100, include_fixtures=False)
    idx = f"{work_dir}/idem_idx"
    build_index(spark, pages, idx, seg_size=40)
    snap1 = _postings_snapshot(spark, idx)
    m = build_index(spark, pages, idx, seg_size=40)  # no-op resume
    assert m["segments_built"] == 0
    assert _postings_snapshot(spark, idx) == snap1


def test_build_deterministic_across_input_partitioning(spark, work_dir):
    """Same postings bytes whether the input arrives in 2 or 16 partitions
    — segment identity depends only on doc_id, never on partition layout."""
    a_dir, b_dir = f"{work_dir}/p2_idx", f"{work_dir}/p16_idx"
    build_index(spark, gen_pages(spark, 300, partitions=2), a_dir, seg_size=64)
    build_index(spark, gen_pages(spark, 300, partitions=16), b_dir, seg_size=64)
    assert _postings_snapshot(spark, a_dir) == _postings_snapshot(spark, b_dir)

    qa = [(r.doc_id, r.score) for r in bm25_topk(IndexCatalog(spark, a_dir), ["hotterm", "the"], k=10).collect()]
    qb = [(r.doc_id, r.score) for r in bm25_topk(IndexCatalog(spark, b_dir), ["hotterm", "the"], k=10).collect()]
    assert qa == qb


def test_resume_with_other_seg_size_raises(spark, work_dir):
    """A build onto a published index with a different seg_size raises
    before writing anything: doc ids would land in two segments."""
    pages = gen_pages(spark, 100, include_fixtures=False)
    idx = f"{work_dir}/geometry_idx"
    build_index(spark, pages, idx, seg_size=50)
    m = IndexCatalog(spark, idx).manifest()
    with pytest.raises(ValueError, match="seg_size=25"):
        build_index(spark, pages, idx, seg_size=25)
    assert IndexCatalog(spark, idx).manifest() == m


def test_hot_term_skew_and_partitioning_invariance(spark, work_dir):
    """FIXTURES.md §5: a stopword-grade hot term (≈40% of docs) must not
    change results across input partitionings — segmentation bounds the
    hot term's per-group size (the skew design, indexer.py docstring)."""
    a_dir, b_dir = f"{work_dir}/skew_a", f"{work_dir}/skew_b"
    build_index(spark, gen_pages(spark, 2000, hot_fraction=0.4, partitions=2),
                a_dir, seg_size=256)
    build_index(spark, gen_pages(spark, 2000, hot_fraction=0.4, partitions=16),
                b_dir, seg_size=256)
    assert _postings_snapshot(spark, a_dir) == _postings_snapshot(spark, b_dir)
    ca, cb = IndexCatalog(spark, a_dir), IndexCatalog(spark, b_dir)
    for cat in (ca, cb):
        n_hot = cat.term_stats_for([("text", "hotterm")])[("text", "hotterm")][0]
        assert 600 < n_hot < 1000  # ≈40% of 2000 ± randomness
    qa = [(r.doc_id, r.score) for r in bm25_topk(ca, ["hotterm"], k=20).collect()]
    qb = [(r.doc_id, r.score) for r in bm25_topk(cb, ["hotterm"], k=20).collect()]
    assert qa == qb


@pytest.fixture(scope="module")
def staged_indexes(spark, tmp_path_factory):
    """One index per write path that lays out postings or term_stats:
    a bulk build, an append commit onto a copy of it (the term_stats
    fold), and a merge of the appended index. AQE partition coalescing is off while
    they are written, so the 4 shuffle partitions yield several
    term_stats files and the range checks see more than one file."""
    import shutil
    import warnings

    from yaii_spark.indexer import merge_segments
    from yaii_spark.streaming import make_append_committer

    root = tmp_path_factory.mktemp("staged")
    d = {s: str(root / s) for s in ("build", "append", "merge")}
    stored = ["url", "text", "lang", "num_attr"]
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        build_index(
            spark, gen_pages(spark, 120, include_fixtures=True), d["build"],
            seg_size=30, stored_cols=stored,
        )
        shutil.copytree(d["build"], d["append"])
        make_append_committer(d["append"], seg_size=30, stored_cols=stored)(
            gen_pages(spark, 200, include_fixtures=False, tokens_range=(40, 64))
            .filter(F.col("doc_id") >= 120),
            0,
        )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            merge_segments(spark, d["append"], d["merge"], factor=2)
    finally:
        spark.conf.set(key, prev)
    return d


def _file_keys(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["field", "term"])
    return list(zip(t.column("field").to_pylist(), t.column("term").to_pylist()))


@pytest.mark.parametrize("stage", ["build", "append", "merge"])
def test_postings_files_term_sorted(staged_indexes, stage):
    """Every postings file is (field, term)-sorted: the parquet min/max
    pruning of query-term scans relies on it. A postings write whose
    sort does not lead with seg_id gets a writer-side seg_id sort that
    scatters this order."""
    import glob

    files = glob.glob(f"{staged_indexes[stage]}/postings/seg_id=*/*.parquet")
    assert files
    for f in files:
        keys = _file_keys(f)
        assert keys == sorted(keys), f"postings file not (field, term)-sorted: {f}"


@pytest.mark.parametrize("stage", ["build", "append", "merge"])
def test_term_stats_sorted_run(spark, staged_indexes, stage):
    """term_stats is one (field, term)-sorted run in the version
    directory the manifest names (the only one left): no partition
    directories, every file sorted, the files' key ranges disjoint and
    ordered (their concatenation in file order is strictly ascending),
    the rows equal a full recompute from the postings, and a lookup
    skips the row groups whose min/max cannot hold its key and returns
    its one row."""
    import glob
    import os

    import pyarrow.dataset as ds

    from yaii_spark.storage import postings_filter

    idx = staged_indexes[stage]
    cat = IndexCatalog(spark, idx)
    m = cat.manifest()
    assert os.listdir(os.path.join(idx, "term_stats")) == [str(m.version)]
    ts_dir = os.path.join(idx, m.term_stats_table)
    assert not [e for e in os.listdir(ts_dir) if os.path.isdir(os.path.join(ts_dir, e))]
    files = sorted(glob.glob(f"{ts_dir}/*.parquet"))
    per_file = [_file_keys(f) for f in files]
    # several files (the range checks span files), at most one per
    # shuffle partition
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 < sum(1 for k in per_file if k) <= len(per_file) <= n_parts
    keys = [k for ks in per_file for k in ks]
    assert keys == sorted(set(keys))

    want = sorted(
        tuple(r)
        for r in cat.postings()
        .groupBy("field", "term")
        .agg(F.sum("df_local"), F.sum("cf_local"))
        .collect()
    )
    got = sorted(tuple(r) for r in cat.term_stats().collect())
    assert got == want

    key = ("text", "lorem")
    frags = list(ds.dataset(files).get_fragments())
    kept = [g for f in frags for g in f.split_by_row_group(postings_filter([key], None))]
    assert 0 < len(kept) < sum(f.metadata.num_row_groups for f in frags)
    found = cat.term_stats_query([key, ("text", "zzznope")])
    assert list(found) == [key] and found[key] == dict(((r[0], r[1]), r[2:]) for r in got)[key]
    assert cat.term_stats_for([key])[key][0] > 0


def test_no_giant_in_list_for_pending_segments(spark, work_dir, monkeypatch):
    """No physical plan the build executes may carry a literal
    In(seg_id, [...]) / INSET list over the pending segments (at 10^6
    pending segments an In-list would inline into the plan and evaluate
    O(n) per row). A build that covers every input segment filters
    nothing; a partial one selects through filter_segments, which
    turns a list too large to inline into a broadcast semi-join.
    Asserted on the CAPTURED PHYSICAL PLANS of every DataFrame the
    build writes, not on source text."""
    import re

    import yaii_spark.indexer as ix
    from yaii_spark.storage import filter_segments

    plans = []
    real_write = ix.write_table

    def capturing_write(df, path, **kw):
        plans.append(
            (path, df._jdf.queryExecution().executedPlan().toString())
        )
        return real_write(df, path, **kw)

    monkeypatch.setattr(ix, "write_table", capturing_write)
    idx = f"{work_dir}/inlist_idx"
    pages = gen_pages(spark, 300, include_fixtures=False)
    build_index(spark, pages, idx, seg_size=10)  # 30 segments
    assert len(plans) >= 4  # docs, seg_meta, postings, term_stats
    seg_in = re.compile(r"(?:In|INSET)\s*\(?\s*seg_id", re.IGNORECASE)
    offenders = [
        (path, m.group(0))
        for path, plan in plans
        for m in [seg_in.search(plan)]
        if m
    ]
    assert offenders == [], offenders
    # the build covered every segment: no pending filter at all
    post_plan = next(p for path, p in plans if path.endswith("postings"))
    assert "LeftSemi" not in post_plan
    # a pending list past the In-list bound selects by semi-join
    segs = spark.range(8).withColumnRenamed("id", "seg_id")
    big = filter_segments(segs, list(range(5000)))
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and not seg_in.search(plan), plan
    assert big.count() == 8


def test_null_text_pages_index_as_token_free(spark, work_dir):
    """A page with NULL (or empty) text must index as a token-free doc
    (dl 0, no postings) instead of crashing the dl-blob encoder — the
    reference's termizer on a missing field yields no terms but the doc
    still exists."""
    from pyspark.sql import types as T

    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean, search

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    rows = [(0, "alpha beta", "en"), (1, None, "en"), (2, "", "de"), (3, "beta", None)]
    idx = f"{work_dir}/nulltext_idx"
    build_index(
        spark, spark.createDataFrame(rows, schema), idx, seg_size=2,
        stored_cols=["lang"],
    )
    cat = IndexCatalog(spark, idx)
    got = lambda q: {r.doc_id for r in execute_boolean(cat, q).collect()}
    assert got(A.token("beta")) == {0, 3}
    assert got(A.all_docs()) == {0, 1, 2, 3}  # null-text docs still exist
    assert got(A.not_(A.token("alpha"))) == {1, 2, 3}
    assert got(A.has_field("lang")) == {0, 1, 2}
    # stored fields of the null-text doc are queryable
    assert [r.lang for r in search(cat, A.number_range("doc_id", 1, 2)).collect()] == ["en"]


def test_empty_input_build_raises(spark, work_dir):
    """Zero input rows (an upstream filter matched nothing) must fail
    loudly, not write a half-formed index that exists() misreports."""
    pages = gen_pages(spark, 50, include_fixtures=False).filter("doc_id < 0")
    with pytest.raises(ValueError, match="0 rows"):
        build_index(spark, pages, f"{work_dir}/empty_idx", seg_size=16)


def test_timestamp_range_predicate(spark, work_dir):
    """NumberRange over a TIMESTAMP attribute (the input_hint's warc_ts)
    — Catalyst comparisons + pushdown work on timestamps exactly like
    numerics, engine result == direct relational filter."""
    import datetime as dt

    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean

    pages = gen_pages(spark, 150, include_fixtures=False)
    idx = f"{work_dir}/ts_pred_idx"
    build_index(spark, pages, idx, seg_size=64, stored_cols=["warc_ts"])
    cat = IndexCatalog(spark, idx)

    rows = sorted(r.warc_ts for r in pages.select("warc_ts").collect())
    lo, hi = rows[30], rows[110]
    want = {
        r.doc_id
        for r in pages.filter(
            (F.col("warc_ts") >= lo) & (F.col("warc_ts") < hi)
        ).collect()
    }
    got = {
        r.doc_id
        for r in execute_boolean(cat, A.number_range("warc_ts", lo, hi)).collect()
    }
    assert got == want and len(want) >= 50
    # open-ended + inclusive upper variants
    got_hi = {
        r.doc_id
        for r in execute_boolean(
            cat, A.number_range("warc_ts", None, lo, hi_inclusive=True)
        ).collect()
    }
    want_hi = {r.doc_id for r in pages.filter(F.col("warc_ts") <= lo).collect()}
    assert got_hi == want_hi
    assert isinstance(lo, dt.datetime)


def test_custom_rule_field_indexes_and_queries(spark, work_dir):
    """X1/F4: a make_rule_tokenizer analyzer wired into build_index via
    the fields map — inverted in the same UDF as the default fields,
    postings equal a pure-Python inversion, and the field is queryable.
    A Spark UDF in the analyzer slot is refused."""
    import datetime as dt

    from yaii_spark.analyzer import make_rule_tokenizer
    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean
    from yaii_spark.synth import EPOCH, PAGES_SCHEMA, render_html

    ref_fn = make_rule_tokenizer([
        ("ref", r"[@%&][A-Za-z0-9+/=]+\.[a-z0-9]+", False),
        ("word", r"[^\s\-,;:.]+", True),
    ])
    texts = {
        0: "Order @AB12.pdf shipped",
        1: "see &Zz99.txt and @AB12.pdf",
        2: "plain words only",
    }
    rows = [
        (i, f"https://x/{i}", EPOCH + dt.timedelta(seconds=i),
         render_html(t), t, "en", i)
        for i, t in texts.items()
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    idx = f"{work_dir}/rule_idx"
    build_index(
        spark, pages, idx, seg_size=2,
        fields={
            "text": ("text", "standard"),
            "_all": ("text", "all"),
            "refs": ("text", ref_fn),
        },
    )
    _assert_postings_match_inversion(
        spark, idx, "refs", {i: [t] for i, t in texts.items()}, ref_fn
    )
    cat = IndexCatalog(spark, idx)
    # crypto refs kept whole + case-preserved in the rule field
    got = {r.doc_id for r in execute_boolean(cat, A.token("@AB12.pdf", "refs")).collect()}
    assert got == {0, 1}
    # words lowercased in the rule field
    got = {r.doc_id for r in execute_boolean(cat, A.token("order", "refs")).collect()}
    assert got == {0}
    # default fields unaffected: standard splits '@ab12' at '.'
    got = {r.doc_id for r in execute_boolean(cat, A.token("@ab12", "text")).collect()}
    assert got == {0, 1}
    with pytest.raises(ValueError, match="pure"):
        build_index(
            spark, pages, f"{work_dir}/rule_udf_idx", seg_size=2,
            fields={"refs": ("text", F.udf(lambda s: ref_fn(s), "array<string>"))},
        )


def test_icu_collated_sort_divergent_inputs(spark, work_dir):
    """F7: the reference sorts with Intl.Collator(sensitivity:'base')
    (utils.ts:41-46). UNICODE_CI_AI must produce that order on inputs
    where binary order disagrees."""
    import datetime as dt

    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import REFERENCE_COLLATION, search
    from yaii_spark.synth import EPOCH, PAGES_SCHEMA, render_html

    langs = {0: "zebra", 1: "Apple", 2: "apple", 3: "Ärger", 4: "Banana"}
    rows = [
        (i, f"https://x/{i}", EPOCH + dt.timedelta(seconds=i),
         render_html("doc"), "doc", lang, i)
        for i, lang in langs.items()
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    idx = f"{work_dir}/coll_idx"
    build_index(spark, pages, idx, seg_size=10, stored_cols=["lang"])
    cat = IndexCatalog(spark, idx)

    got = [r.lang for r in search(cat, A.all_docs(), sort=[("lang", "asc")],
                                  collation=REFERENCE_COLLATION).collect()]
    # base sensitivity: Apple==apple (doc_id tiebreak), Ä sorts with A
    assert got == ["Apple", "apple", "Ärger", "Banana", "zebra"]
    binary = [r.lang for r in search(cat, A.all_docs(), sort=[("lang", "asc")]).collect()]
    assert binary == ["Apple", "Banana", "apple", "zebra", "Ärger"]


def test_multivalue_field(spark, work_dir):
    """FieldValues (array-valued field): per-element analysis with
    concatenated token streams (reference array termizer,
    base-inverted-index.ts:186-196)."""
    import datetime as dt

    from pyspark.sql import types as T

    from yaii_spark.analyzer import make_multivalue_analyzer
    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    rows = [
        (0, "body zero", ["Red Fox", "quick"]),
        (1, "body one", ["lazy dog"]),
        (2, "body two", None),
        (3, "body three", ["red", "fox"]),
    ]
    pages = spark.createDataFrame(rows, schema)
    tag_rows = {d: [tags] for d, _, tags in rows}
    mv_fn = make_multivalue_analyzer()
    idx = f"{work_dir}/mv_idx"
    build_index(
        spark, pages, idx, seg_size=2,
        fields={
            "text": ("text", "standard"),
            "_all": ("text", "all"),
            "tags": ("tags", mv_fn),
        },
    )
    _assert_postings_match_inversion(spark, idx, "tags", tag_rows, mv_fn)
    cat = IndexCatalog(spark, idx)
    got = lambda q: {r.doc_id for r in execute_boolean(cat, q).collect()}
    assert got(A.token("fox", "tags")) == {0, 3}
    assert got(A.token("quick", "tags")) == {0}
    assert got(A.and_(A.token("red", "tags"), A.token("dog", "tags"))) == set()
    # concatenated stream: phrase across an element boundary matches
    # for doc 3 (["red", "fox"] → positions 0,1) — documented semantics
    assert got(A.phrase(["red", "fox"], "tags")) == {0, 3}

    # position_gap (Lucene positionIncrementGap analogue): the phrase
    # can no longer straddle the element boundary — doc 3's cross-
    # element match flips to no-match, doc 0's within-element match
    # stays, and in-element positions are untouched
    mv_gap = make_multivalue_analyzer(position_gap=2)
    idx2 = f"{work_dir}/mv_gap_idx"
    build_index(
        spark, pages, idx2, seg_size=2,
        fields={
            "text": ("text", "standard"),
            "_all": ("text", "all"),
            "tags": ("tags", mv_gap),
        },
    )
    _assert_postings_match_inversion(spark, idx2, "tags", tag_rows, mv_gap)
    cat2 = IndexCatalog(spark, idx2)
    got2 = lambda q: {r.doc_id for r in execute_boolean(cat2, q).collect()}
    assert got2(A.phrase(["red", "fox"], "tags")) == {0}
    assert got2(A.phrase(["red", "fox"], "tags", slop=1)) == {0}  # slop < gap
    assert got2(A.token("fox", "tags")) == {0, 3}  # tokens unaffected
    assert got2(A.phrase(["lazy", "dog"], "tags")) == {1}  # in-element intact


def test_multi_source_all_field(spark, work_dir):
    """yaii's addToAllField collects EVERY field's values into £_ALL
    (base-inverted-index.ts:141-161): a field-map source may be a LIST
    of columns whose token streams concatenate with sequential
    positions — a token query on _all matches either source."""
    from pyspark.sql import types as T

    from yaii_spark.analyzer import tokenize_all_field
    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("title", T.StringType()),
        ]
    )
    rows = [
        (0, "body alpha", "Heading Omega"),
        (1, "body beta", None),
        (2, "gamma", "the heading"),
    ]
    pages = spark.createDataFrame(rows, schema)
    idx = f"{work_dir}/multi_all_idx"
    build_index(
        spark, pages, idx, seg_size=2,
        fields={
            "text": ("text", "standard"),
            "_all": (["text", "title"], "all"),
        },
    )
    _assert_postings_match_inversion(
        spark, idx, "_all", {d: [t, ti] for d, t, ti in rows}, tokenize_all_field
    )
    cat = IndexCatalog(spark, idx)
    got = lambda q: {r.doc_id for r in execute_boolean(cat, q).collect()}
    # tokens from BOTH sources route into _all
    assert got(A.token("alpha", "_all")) == {0}
    assert got(A.token("omega", "_all")) == {0}
    assert got(A.token("heading", "_all")) == {0, 2}
    # null source contributes nothing (doc 1 still indexes its text)
    assert got(A.token("beta", "_all")) == {1}
    # the 'all' analyzer's stopword filter applies to every source
    assert got(A.token("the", "_all")) == set()
    # sequential concat positions: phrase across the source boundary
    # matches (addToAllField append semantics), in-source phrases too
    assert got(A.phrase(["alpha", "heading"], "_all")) == {0}
    assert got(A.phrase(["heading", "omega"], "_all")) == {0}
    # the single-source 'text' field is untouched by the multi-source map
    assert got(A.token("omega", "text")) == set()
    assert got(A.token("alpha", "text")) == {0}


def _frontier(pairs):
    """Brute-force Pareto frontier of (tf, dl) pairs: drop every pair
    that another pair matches or beats on both tf (higher) and dl
    (lower), then order by tf descending."""
    uniq = set(pairs)
    front = [
        (tf, dl)
        for tf, dl in uniq
        if not any(t2 >= tf and d2 <= dl and (t2, d2) != (tf, dl) for t2, d2 in uniq)
    ]
    return sorted(front, reverse=True)


def test_batched_group_encoder_matches_per_row_codec():
    """_encode_group_batched (one codec pass over a whole (seg, shard)
    group) must emit byte-identical posting rows to the straightforward
    per-row codec calls it replaced — randomized posting shapes incl.
    multi-block rows, multi-byte varints, and empty position lists.
    Each block's impacts equal a brute-force Pareto frontier of its
    (tf, dl) pairs, and the bound derived from them equals the block's
    largest BM25 norm under any avgdl."""
    import math
    import random

    import numpy as np

    from yaii_spark.codec import (
        block_offsets_from_lengths,
        delta_encode_blocked,
        varint_decode,
        varint_encode_blocked,
    )
    from yaii_spark.indexer import BLOCK_SIZE, _encode_group_batched
    from yaii_spark.queries.bm25 import _block_bounds, _tf_norm

    rng = random.Random(7)
    field_names = ["_all", "text"]
    k1, b = 1.2, 0.75
    items = []
    for r in range(40):
        n = rng.choice([1, 2, 5, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 3, 3 * BLOCK_SIZE + 17])
        ids = sorted(rng.sample(range(0, 1 << 21), n))  # multi-byte deltas
        tfs = [rng.choice([1, 2, 3, 127, 128, 300]) for _ in range(n)]
        dls = [rng.randint(1, 200) for _ in range(n)]
        poss = [bytes(rng.randrange(256) for _ in range(rng.randint(0, 6))) for _ in range(n)]
        items.append(
            ((field_names[r % 2], f"t{r:03d}"),
             (ids, tfs, dls, b"".join(poss), [len(p) for p in poss]))
        )

    got = _encode_group_batched(11, items)
    assert len(got) == len(items)
    for j, ((field, term), (ids, tfs, dls, pos, plens)) in enumerate(items):
        row = got.iloc[j]
        ids_a = np.array(ids, dtype=np.uint64)
        tfs_a = np.array(tfs, dtype=np.uint64)
        ids_bin, id_offs = delta_encode_blocked(ids_a, BLOCK_SIZE)
        tfs_bin, tf_offs = varint_encode_blocked(tfs_a, BLOCK_SIZE)
        nblocks = math.ceil(len(ids) / BLOCK_SIZE)
        assert row["seg_id"] == 11
        assert row["field"] == field
        assert row["term"] == term
        assert row["df_local"] == len(ids)
        assert row["cf_local"] == sum(tfs)
        assert bytes(row["doc_ids_bin"]) == ids_bin
        assert bytes(row["tfs_bin"]) == tfs_bin
        assert bytes(row["pos_bin"]) == pos
        assert row["block_id_offs"] == [int(x) for x in id_offs]
        assert row["block_tf_offs"] == [int(x) for x in tf_offs]
        assert row["block_first_ids"] == [int(x) for x in ids_a[::BLOCK_SIZE]]
        assert row["block_pos_offs"] == [
            int(x)
            for x in block_offsets_from_lengths(
                np.array(plens, dtype=np.int64), BLOCK_SIZE
            )
        ]
        blocks = [slice(i * BLOCK_SIZE, (i + 1) * BLOCK_SIZE) for i in range(nblocks)]
        want = []
        for s in blocks:
            front = _frontier(list(zip(tfs[s], dls[s])))
            want += [len(front)] + [v for pair in front for v in pair]
        assert varint_decode(bytes(row["block_impacts"])).tolist() == want
        for avgdl in (3.0, 37.5, 900.0):
            norms = _tf_norm(tfs_a, np.array(dls, dtype=np.int64), avgdl, k1, b)
            bounds = _block_bounds(bytes(row["block_impacts"]), nblocks, avgdl, k1, b)
            assert bounds.tolist() == [float(norms[s].max()) for s in blocks]


@pytest.mark.parametrize("mode", ["dynamic", "static"])
def test_build_keeps_session_partition_overwrite_mode(spark, tmp_path, mode):
    """build_index picks its partition overwrite mode per write: the
    session's setting stays the caller's after a fresh (resume=False)
    build and after an append commit, and the append's dynamic
    overwrite keeps the earlier segments whatever the session says."""
    from yaii_spark.streaming import make_append_committer

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, mode)
    try:
        idx = str(tmp_path / "idx")
        build_index(
            spark, gen_pages(spark, 40, include_fixtures=False), idx,
            seg_size=16, resume=False,
        )
        assert spark.conf.get(key) == mode
        make_append_committer(idx, seg_size=16)(
            gen_pages(spark, 70, include_fixtures=False).filter(F.col("doc_id") >= 40),
            0,
        )
        assert spark.conf.get(key) == mode
    finally:
        spark.conf.set(key, prev)
    cat = IndexCatalog(spark, idx)
    assert cat.corpus_stats().n_docs == 70
    segs = {r.seg_id for r in cat.postings().select("seg_id").distinct().collect()}
    assert segs == {r.seg_id for r in cat.seg_meta().collect()} == set(range(5))
