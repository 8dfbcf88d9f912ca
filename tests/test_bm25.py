"""BM25 scored-retrieval suite (FIXTURES.md §4): rank-identical top-k
(doc_id AND score, tol 1e-9) vs the pure-Python oracle, on a seeded
Zipf corpus large enough that df varies across query terms.
"""

import pytest
from pyspark.sql import functions as F

from yaii_spark.indexer import build_index
from yaii_spark.oracle import BruteForceIndex
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.storage import IndexCatalog
from yaii_spark.synth import VOCAB, gen_pages

N_DOCS = 1000


@pytest.fixture(scope="module")
def corpus(spark, work_dir):
    out = f"{work_dir}/bm25_idx"
    pages = gen_pages(spark, N_DOCS, include_fixtures=True)
    texts = {r.doc_id: r.text for r in pages.select("doc_id", "text").collect()}
    build_index(spark, pages, out, seg_size=256)  # 4 segments
    return IndexCatalog(spark, out), BruteForceIndex(texts)


def _freq_ordered_terms(oracle):
    from collections import Counter

    df = Counter()
    for toks in oracle.tokens.values():
        df.update(set(toks))
    common = [t for t, _ in df.most_common() if t in VOCAB][:20]
    rare = [t for t, _ in reversed(df.most_common()) if t in VOCAB][:20]
    return common, rare


def assert_topk_equal(got_rows, want, tol=1e-9):
    got = [(r.doc_id, r.score) for r in got_rows]
    assert [g[0] for g in got] == [w[0] for w in want], (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= tol, (gd, gs, ws)


@pytest.mark.parametrize("mode", ["or", "and"])
def test_bm25_single_and_multi_term(corpus, mode):
    cat, oracle = corpus
    common, rare = _freq_ordered_terms(oracle)
    queries = [
        [common[0]],
        [rare[0]],
        [common[0], common[5]],
        [common[0], rare[0]],
        [rare[0], rare[3]],
        [common[0], common[3], rare[1]],
    ]
    for q in queries:
        got = bm25_topk(cat, q, k=10, mode=mode).collect()
        want = oracle.bm25_topk(q, k=10, mode=mode)
        assert_topk_equal(got, want)


def test_bm25_absent_term(corpus):
    cat, oracle = corpus
    assert bm25_topk(cat, ["zzzznotaterm"], k=5).count() == 0
    # OR with one absent term: scores as if only present terms queried
    common, _ = _freq_ordered_terms(oracle)
    got = bm25_topk(cat, [common[0], "zzzznotaterm"], k=10, mode="or").collect()
    want = oracle.bm25_topk([common[0], "zzzznotaterm"], k=10, mode="or")
    assert_topk_equal(got, want)
    # AND with an absent term: empty
    assert bm25_topk(cat, [common[0], "zzzznotaterm"], k=5, mode="and").count() == 0


def test_bm25_duplicate_terms_scored_once(corpus):
    cat, oracle = corpus
    common, _ = _freq_ordered_terms(oracle)
    a = [(r.doc_id, r.score) for r in bm25_topk(cat, [common[0], common[0]], k=10).collect()]
    b = [(r.doc_id, r.score) for r in bm25_topk(cat, [common[0]], k=10).collect()]
    assert a == b


def test_bm25_deterministic_across_parallelism(corpus, spark):
    """Same floats regardless of shuffle partitioning (SURVEY.md §7.4.1)."""
    cat, _ = corpus
    common, rare = _freq_ordered_terms(BruteForceIndex({
        r.doc_id: r.text for r in cat.docs().select("doc_id", "text").collect()
    }))
    q = [common[0], rare[0]]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=10).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=10).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b


def test_bm25_pruned_with_tombstones(spark, work_dir):
    """MaxScore + deletes: tombstoning the current top docs must demote
    them in BOTH paths identically (dead-marking happens before any
    pruning decision), and pruned == exact after the delete."""
    from yaii_spark.indexer import build_index, delete_docs

    pages = gen_pages(spark, 600, include_fixtures=True)
    idx = f"{work_dir}/prune_tomb_idx"
    build_index(spark, pages, idx, seg_size=128)
    cat = IndexCatalog(spark, idx)
    oracle = BruteForceIndex(
        {r.doc_id: r.text for r in pages.select("doc_id", "text").collect()}
    )
    common, _ = _freq_ordered_terms(oracle)
    q = [common[0], common[3]]
    top_before = [r.doc_id for r in bm25_topk(cat, q, k=5, prune=True).collect()]
    delete_docs(spark, idx, top_before[:3])
    exact = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=10, prune=False).collect()]
    pruned = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=10, prune=True).collect()]
    assert exact == pruned
    got_ids = {d for d, _ in pruned}
    assert got_ids.isdisjoint(set(top_before[:3]))
    # oracle on the surviving docs agrees
    want = [
        (d, s)
        for d, s in oracle.bm25_topk(q, k=13)
        if d not in set(top_before[:3])
    ][:10]
    assert [d for d, _ in pruned] == [d for d, _ in want]


def test_lazy_block_decode_skips_blocks(spark, work_dir):
    """v4 lazy MaxScore: a rare+stopword-grade query on a skewed corpus
    must (a) return byte-identical results to the dense path and (b)
    decode strictly fewer posting blocks/bytes than exist — the hot
    term's non-candidate blocks are never touched (VERDICT r2 #5)."""
    import numpy as np

    from yaii_spark.queries import bm25 as B

    from pyspark.sql import functions as F

    # plant a df=3 rare term in three far-apart docs of a skewed corpus
    rare = "zzrareterm"
    pages = gen_pages(spark, 4000, hot_fraction=0.4, include_fixtures=False)
    pages = pages.withColumn(
        "text",
        F.when(
            F.col("doc_id").isin(10, 2000, 3999),
            F.concat(F.col("text"), F.lit(f" {rare}")),
        ).otherwise(F.col("text")),
    )
    idx = f"{work_dir}/lazy_idx"
    build_index(spark, pages, idx, seg_size=4096)  # one segment, many blocks
    cat = IndexCatalog(spark, idx)
    stats = cat.corpus_stats()
    hot_df = cat.term_stats_for([("text", "hotterm")])[("text", "hotterm")][0]
    assert hot_df > 1000  # skew is real: ~40% of 4000 docs

    # assemble the per-segment pdf exactly as the cogroup hands it over
    post = cat.postings().filter(
        (F.col("field") == "text") & F.col("term").isin(rare, "hotterm")
    ).toPandas()
    meta = cat.seg_meta().collect()[0]
    pdf = post.assign(
        n_docs=meta.n_docs, base_doc_id=meta.base_doc_id, dl_bin=meta.dl_bin
    )
    idfs = {
        t: B.idf(stats.n_docs, df)
        for (_, t), (df, _) in cat.term_stats_for(
            [("text", rare), ("text", "hotterm")]
        ).items()
    }

    B.reset_decode_stats()
    pruned = B._score_segment_pruned(
        pdf, idfs, stats.k1, stats.b, stats.avgdl, k=3, block=stats.block_size
    )
    assert B.DECODE_STATS["blocks_total"] > 10  # hot term spans many blocks
    assert B.DECODE_STATS["blocks_decoded"] < B.DECODE_STATS["blocks_total"]
    assert B.DECODE_STATS["bytes_decoded"] < B.DECODE_STATS["bytes_total"]

    exact = B._score_segment(
        pdf, {"": {("text", t): v for t, v in idfs.items()}},
        stats.k1, stats.b, stats.avgdl, k=3, mode="or", block=stats.block_size,
    )
    assert list(pruned["doc_id"]) == list(exact["doc_id"])
    assert np.allclose(pruned["score"], exact["score"], rtol=0, atol=0)


def _segment_pdf(postings, dls, base, block):
    """One segment's postings rows as the BM25 cogroup hands them over:
    term `t<i>` holds postings[i] = (local doc ids, tfs), every doc's
    length is in `dls`, and each block's impacts are computed by brute
    force (per block, the (tf, dl) pairs no other pair matches or beats
    on both, tf descending)."""
    import numpy as np
    import pandas as pd

    from yaii_spark.codec import delta_encode_blocked, varint_encode, varint_encode_blocked

    dls = np.asarray(dls, dtype=np.uint64)
    rows = {
        "field": [], "term": [], "doc_ids_bin": [], "tfs_bin": [], "block_impacts": [],
        "block_id_offs": [], "block_tf_offs": [], "block_first_ids": [],
        "df_local": [],
    }
    for t, (local, tfs) in enumerate(postings):
        local = np.asarray(local, dtype=np.int64)
        tfs = np.asarray(tfs, dtype=np.uint64)
        ids = (local + base).astype(np.uint64)
        impacts = []
        for i in range(0, ids.size, block):
            pairs = set(zip(tfs[i : i + block].tolist(), dls[local[i : i + block]].tolist()))
            front = sorted(
                (p for p in pairs
                 if not any(q != p and q[0] >= p[0] and q[1] <= p[1] for q in pairs)),
                reverse=True,
            )
            impacts += [len(front)] + [v for p in front for v in p]
        ids_bin, id_offs = delta_encode_blocked(ids, block)
        tfs_bin, tf_offs = varint_encode_blocked(tfs, block)
        rows["field"].append("text")
        rows["term"].append(f"t{t}")
        rows["doc_ids_bin"].append(ids_bin)
        rows["tfs_bin"].append(tfs_bin)
        rows["block_impacts"].append(varint_encode(np.array(impacts, dtype=np.uint64)))
        rows["block_id_offs"].append([int(x) for x in id_offs])
        rows["block_tf_offs"].append([int(x) for x in tf_offs])
        rows["block_first_ids"].append([int(x) for x in ids[::block]])
        rows["df_local"].append(int(local.size))
    return pd.DataFrame(rows).assign(
        n_docs=int(dls.size), base_doc_id=base, dl_bin=varint_encode(dls)
    )


def test_pruned_equals_dense_property():
    """Hypothesis: on random segments (tiny block size 4 → block
    boundaries everywhere), random queries, random k, and random
    tombstones, the lazy MaxScore path returns doc-for-doc,
    byte-for-byte the dense scorer's answer. The scoring avgdl is
    drawn apart from the docs' mean length, as on a segment written
    before the corpus avgdl drifted: the block bounds come from the
    (tf, dl) impacts, which hold under any avgdl. Pure driver-side —
    no Spark session."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from yaii_spark.queries import bm25 as B

    BLOCK = 4

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        n_docs = data.draw(st.integers(10, 120), label="n_docs")
        base = data.draw(st.sampled_from([0, 1024, 4096]), label="base")
        dls = np.array(
            data.draw(
                st.lists(st.integers(1, 40), min_size=n_docs, max_size=n_docs),
                label="dls",
            ),
            dtype=np.uint64,
        )
        avgdl = data.draw(st.floats(1.0, 60.0), label="avgdl")
        n_terms = data.draw(st.integers(1, 5), label="n_terms")
        postings = []
        idfs = {}
        for t in range(n_terms):
            df_t = data.draw(st.integers(1, n_docs), label=f"df{t}")
            local = np.sort(
                np.random.RandomState(df_t * 31 + t).choice(
                    n_docs, size=df_t, replace=False
                )
            ).astype(np.int64)
            tfs = np.array(
                data.draw(
                    st.lists(st.integers(1, 6), min_size=df_t, max_size=df_t),
                    label=f"tfs{t}",
                ),
                dtype=np.uint64,
            )
            postings.append((local, tfs))
            idfs[f"t{t}"] = B.idf(n_docs, df_t)
        pdf = _segment_pdf(postings, dls, base, BLOCK)
        deleted = None
        if data.draw(st.booleans(), label="with_deletes"):
            nd = data.draw(st.integers(1, max(1, n_docs // 3)), label="n_del")
            deleted = (
                np.sort(
                    np.random.RandomState(nd).choice(n_docs, size=nd, replace=False)
                ).astype(np.int64)
                + base
            )
        k = data.draw(st.sampled_from([1, 3, 10, 50]), label="k")
        dense = B._score_segment(
            pdf, {"q": {("text", t): v for t, v in idfs.items()}},
            1.2, 0.75, avgdl, k, "or", BLOCK, deleted,
        )
        pruned = B._score_segment_pruned(
            pdf, idfs, 1.2, 0.75, avgdl, k, BLOCK, deleted
        )
        assert list(dense["doc_id"]) == list(pruned["doc_id"])
        assert list(dense["score"]) == list(pruned["score"])  # byte-identical

    run()


def test_pruned_block_bound_just_above_threshold():
    """Rank-safety pinned on one fixed case: a bound below a block's true
    max norm, even by a few percent, must lose a top-k doc. k=2 over
    two terms of equal df; t0's two docs score first and set θ to the
    lower one. Doc 2 holds only t1 and scores just above θ, so t1 stays
    essential only because its block's bound reaches that score; with a
    smaller bound t1 turns non-essential and doc 2 is never decoded.
    Driver-side, no Spark session."""
    import numpy as np

    from yaii_spark.queries import bm25 as B

    n_docs, avgdl, k1, b, block, k = 8, 10.0, 1.2, 0.75, 4, 2
    dls = [10, 10, 9, 10, 10, 10, 10, 10]
    postings = [([0, 1], [5, 1]), ([2, 3], [1, 1])]  # t0, t1 as (local ids, tfs)
    pdf = _segment_pdf(postings, dls, base=0, block=block)
    idfs = {"t0": B.idf(n_docs, 2), "t1": B.idf(n_docs, 2)}

    exact = B._score_segment(
        pdf, {"q": {("text", t): v for t, v in idfs.items()}}, k1, b, avgdl, k, "or", block
    )
    assert list(exact["doc_id"]) == [0, 2]
    # doc 1 (t0, tf 1, dl 10) sets θ; doc 2 (t1, tf 1, dl 9) is t1's block max
    theta, doc2 = B._tf_norm(np.array([1.0, 1.0]), np.array([10.0, 9.0]), avgdl, k1, b)
    assert theta < doc2 < 1.05 * theta  # equal idfs: doc 2 scores just above θ

    pruned = B._score_segment_pruned(pdf, idfs, k1, b, avgdl, k, block)
    assert list(pruned["doc_id"]) == list(exact["doc_id"])
    assert list(pruned["score"]) == list(exact["score"])


def test_bm25_pruned_equals_exact(corpus):
    """MaxScore/block-max pruning is rank-safe AND byte-identical
    (winners are rescored in sorted-term order)."""
    cat, oracle = corpus
    common, rare = _freq_ordered_terms(oracle)
    queries = [
        [common[0]],
        [common[0], common[5]],
        [common[0], rare[0]],
        [common[0], common[1], common[2], rare[2]],
        [rare[0], rare[1]],
    ]
    for q in queries:
        for k in (3, 10, 50):
            exact = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=k, prune=False).collect()]
            pruned = [(r.doc_id, r.score) for r in bm25_topk(cat, q, k=k, prune=True).collect()]
            assert exact == pruned, (q, k)


def _bm25f_oracle(oracle, terms, weights, k=10, k1=1.2, b=0.75):
    """Pure-Python fielded BM25: per-field tf/df/idf, weighted
    saturation sums under the SHARED text-dl norm, summed in the
    engine's sorted-(field, term) order."""
    import math
    from collections import Counter

    uniq = sorted(set(terms))
    fields = sorted(weights)
    n = len(oracle.docs)
    dls = {d: len(t) for d, t in oracle.tokens.items()}
    avgdl = sum(dls.values()) / n
    per_field = {}
    for f in fields:
        tfs = {d: Counter(t) for d, t in oracle.field_tokens[f].items()}
        dfs = {t: sum(1 for c in tfs.values() if t in c) for t in uniq}
        per_field[f] = (tfs, dfs)
    scored = []
    for d in sorted(oracle.docs):
        s, hit = 0.0, False
        for f in fields:
            tfs, dfs = per_field[f]
            for t in uniq:
                tf = float(tfs[d][t])
                if tf == 0 or dfs[t] == 0:
                    continue
                hit = True
                idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                s += weights[f] * idf * (
                    tf / (tf + k1 * (1.0 - b + b * dls[d] / avgdl))
                )
        if hit:
            scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:k]


def test_bm25f_fielded_topk(corpus):
    """bm25f_topk == the fielded Python oracle: per-field dictionaries
    (a stopword scores through 'text' but contributes NOTHING through
    the filtered '_all'), weighted sums, shared text-dl norm."""
    from yaii_spark.analyzer import STOPWORDS
    from yaii_spark.queries.bm25 import bm25f_topk

    cat, oracle = corpus
    common, rare = _freq_ordered_terms(oracle)
    stop = next(
        (
            t
            for t in sorted(STOPWORDS - {""})
            if any(t in toks for toks in oracle.tokens.values())
        ),
        None,
    )
    assert stop is not None, "fixture corpus lost its stopwords"
    w = {"text": 1.0, "_all": 0.5}
    for q in [[common[0]], [common[0], rare[0]], [stop], [common[0], stop]]:
        got = bm25f_topk(cat, q, w, k=10).collect()
        want = _bm25f_oracle(oracle, q, w, k=10)
        assert_topk_equal(got, want)
    # absent everywhere → empty
    assert bm25f_topk(cat, ["zzzznotaterm"], w, k=5).count() == 0
    # weight 1.0 on 'text' IS bm25_topk: same ids, == on scores
    # (1.0·idf == idf, same sorted-key summation)
    for q in [[common[0]], [common[0], rare[0]], [stop, rare[1]]]:
        got1 = bm25f_topk(cat, q, {"text": 1.0}, k=10).collect()
        base = bm25_topk(cat, q, k=10).collect()
        assert [(r.doc_id, r.score) for r in got1] == [
            (r.doc_id, r.score) for r in base
        ], q
    # single-field weights degenerate to w * bm25_topk over that field
    got1 = bm25f_topk(cat, [common[0], rare[0]], {"text": 2.0}, k=10).collect()
    base = bm25_topk(cat, [common[0], rare[0]], k=10).collect()
    assert [r.doc_id for r in got1] == [r.doc_id for r in base]
    for g, bse in zip(got1, base):
        assert abs(g.score - 2.0 * bse.score) <= 1e-9


def test_more_like_this(corpus, placement):
    """MLT == Python composition: top-5 tf·idf terms of the source doc
    (tie term asc), disjunctive BM25 over them, source excluded, in
    rank order under either placement."""
    import math
    from collections import Counter

    from yaii_spark.queries.bm25 import more_like_this

    cat, oracle = corpus
    doc = 7
    n = len(oracle.docs)
    tf = Counter(oracle.tokens[doc])
    dfs = {
        t: sum(1 for toks in oracle.tokens.values() if t in toks) for t in tf
    }
    ranked = sorted(
        (
            (t, tf[t] * math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)))
            for t in tf
            if dfs[t] > 0
        ),
        key=lambda x: (-x[1], x[0]),
    )
    terms = [t for t, _ in ranked[:5]]
    want = [(d, s) for d, s in oracle.bm25_topk(terms, k=11) if d != doc][:10]
    got = more_like_this(cat, doc, top_terms=5, k=10).collect()
    assert_topk_equal(got, want)
    with pytest.raises(ValueError):
        more_like_this(cat, 10**9)


def test_bm25_batch_matches_single(corpus, placement):
    """bm25_topk_batch: one postings pass for a whole query batch —
    per-query output must be rank- AND score-identical (exact float
    equality: same sorted-term summation) to bm25_topk per query, under
    either placement (a pandas per-query top-k on the driver, a Window
    in the job); a query with only absent terms simply yields no rows."""
    from yaii_spark.queries.bm25 import bm25_topk_batch

    cat, oracle = corpus
    common, rare = _freq_ordered_terms(oracle)
    qs = {
        "a": [common[0]],
        "b": [common[0], rare[0]],
        "c": [rare[0], rare[3]],
        "miss": ["zzzznotaterm"],
    }
    by_q = {}
    for r in bm25_topk_batch(cat, qs, k=10).collect():
        by_q.setdefault(r.query_id, []).append(r)
    assert "miss" not in by_q
    for qid in ("a", "b", "c"):
        single = bm25_topk(cat, qs[qid], k=10).collect()
        got = sorted(by_q[qid], key=lambda r: (-r.score, r.doc_id))
        assert [(r.doc_id, r.score) for r in got] == [
            (r.doc_id, r.score) for r in single
        ], qid
    # conjunctive mode through the batch path
    gota = sorted(
        bm25_topk_batch(cat, {"x": [common[0], rare[0]]}, k=10, mode="and").collect(),
        key=lambda r: (-r.score, r.doc_id),
    )
    single_and = bm25_topk(cat, [common[0], rare[0]], k=10, mode="and").collect()
    assert [(r.doc_id, r.score) for r in gota] == [
        (r.doc_id, r.score) for r in single_and
    ]


def test_topk_huge_k_returns_every_match(corpus, placement):
    """A "return everything" k (10**9) must not plan the 2·k-slot
    TakeOrderedAndProject buffer that kills the driver JVM: bm25_topk
    and bm25f_topk return every matching row in full rank order, while
    a small k keeps the bounded top-k plan as a job. On the driver the
    threshold bounds the rows, and the result is a LocalTableScan."""
    from yaii_spark.queries.bm25 import bm25f_topk

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def check_plans(huge, small):
        if placement == "driver":
            assert plan(huge).startswith("LocalTableScan"), plan(huge)
            assert plan(small).startswith("LocalTableScan"), plan(small)
        else:
            assert "TakeOrderedAndProject" not in plan(huge)
            assert "TakeOrderedAndProject" in plan(small)

    cat, oracle = corpus
    common, rare = _freq_ordered_terms(oracle)
    q = [common[0], rare[0]]
    want = oracle.bm25_topk(q, k=N_DOCS)
    assert 10 < len(want) < N_DOCS
    got = bm25_topk(cat, q, k=10**9)
    check_plans(got, bm25_topk(cat, q, k=10))
    assert_topk_equal(got.collect(), want)

    weights = {"text": 1.0, "_all": 0.5}
    fielded = bm25f_topk(cat, q, weights, k=10**9)
    check_plans(fielded, bm25f_topk(cat, q, weights, k=10))
    rows = [(r.doc_id, r.score) for r in fielded.collect()]
    # _all holds a subset of each doc's text tokens: the same docs match
    assert {d for d, _ in rows} == {d for d, _ in want}
    assert rows == sorted(rows, key=lambda r: (-r[1], r[0]))
