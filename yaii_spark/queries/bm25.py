"""BM25 top-k scoring (SURVEY.md §7.1 M5; north_rule centerpiece).

Formula (Lucene form, k1=1.2, b=0.75 — the reference's stated design
base, /root/reference/readme.md:26; yaii itself has no scoring):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d,q) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))

Execution: the driver resolves term statistics (df, N, avgdl), then
executor.run_per_segment runs the one exact scorer (`_score_segment`)
per segment over its postings rows, seg_meta row (``dl_bin``) and
tombstones, read by path: the scorer decodes the query's (field, term)
postings, accumulates w·idf·norm into a dense per-segment array **in
sorted-key order** (float determinism across parallelism levels —
SURVEY.md §7.4.1) and takes a per-segment top-k; the global top-k by
(score desc, doc_id asc) merges them, the reference's per-segment
topBy + global topBy (base-inverted-index.ts:437-455). A query
whose postings and files count below executor.DRIVER_POSTINGS runs on
the driver with a numpy merge and no Spark job; a larger one is one
``mapInPandas`` job under Catalyst's TakeOrderedAndProject (a query_id
Window for a batch).

Pruning: a MaxScore/block-max pass (`prune=True`, Ding & Suel 2011)
skips non-essential term lists using per-block upper bounds derived at
query time from the stored block impacts (`block_impacts`, each
block's Pareto frontier of (tf, dl) pairs — Lucene's competitive
impacts; indexer._encode_group_batched): a block's bound is the best
norm on its frontier under the index's current (avgdl, k1, b), so it
holds on every segment however far avgdl drifted since the segment was
written (`_block_bounds`). Rank-safe: pytest asserts pruned == exact.
The per-term upper bound idf·(its best block bound) and the
cost-ascending term ordering generalize the reference's cost-sorted
conjunction (operations.ts:113-114) to scored retrieval.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from yaii_spark.codec import decode_byte_range, delta_decode_blocked, varint_decode
from yaii_spark.queries.executor import run_per_segment
from yaii_spark.storage import IndexCatalog, local_frame


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """Lucene-form BM25 tf normalization: tf / (tf + k1*(1-b+b*dl/avgdl))."""
    tf = tf.astype(np.float64, copy=False)
    return tf / (tf + k1 * (1.0 - b + b * dl.astype(np.float64, copy=False) / avgdl))


def _block_bounds(
    impacts: bytes, nblocks: int, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Each block's BM25 norm bound from its stored impacts (per block:
    frontier size, then (tf, dl) pairs): the largest norm on the
    block's frontier, which is the block's largest norm."""
    v = varint_decode(impacts)
    sizes = v.tolist()
    heads = np.empty(nblocks, dtype=np.int64)
    p = 0
    for j in range(nblocks):
        heads[j] = p
        p += 1 + 2 * sizes[p]
    pair = np.ones(v.size, dtype=bool)
    pair[heads] = False
    tf_dl = v[pair]
    counts = v[heads].astype(np.int64)
    norms = _tf_norm(tf_dl[0::2], tf_dl[1::2], avgdl, k1, b)
    return np.maximum.reduceat(norms, np.cumsum(counts) - counts)


#: the postings and seg_meta columns every exact scorer reads
_COLS = ["field", "term", "doc_ids_bin", "tfs_bin"]
_META = ["n_docs", "base_doc_id", "dl_bin"]

_EMPTY = lambda: pd.DataFrame(
    {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
)


#: decoded-bytes accounting for the lazy block decode (in-process only —
#: meaningful when the scorer is called directly, as the pruning tests
#: do; Spark workers keep their own copies)
DECODE_STATS = {"bytes_decoded": 0, "bytes_total": 0, "blocks_decoded": 0, "blocks_total": 0}


def reset_decode_stats() -> None:
    for k in DECODE_STATS:
        DECODE_STATS[k] = 0


class _LazyPostings:
    """Lazy accessor over one blocked posting row (FORMAT_VERSION 4):
    each block's doc-id deltas restart absolute and its byte offsets are
    stored, so single blocks decode independently — MaxScore's killed
    blocks are never touched (VERDICT r2 #5; the format analogue of
    Lucene skip blocks). Returns LOCAL doc ids (base subtracted)."""

    __slots__ = (
        "ids_bin", "tfs_bin", "id_offs", "tf_offs", "first_ids",
        "n", "block", "base", "_blocks", "_full",
    )

    def __init__(self, ids_bin, tfs_bin, id_offs, tf_offs, first_ids, n, block, base):
        self.ids_bin = ids_bin
        self.tfs_bin = tfs_bin
        self.id_offs = np.asarray(id_offs, dtype=np.int64)
        self.tf_offs = np.asarray(tf_offs, dtype=np.int64)
        self.first_ids = np.asarray(first_ids, dtype=np.int64) - base
        self.n = int(n)
        self.block = int(block)
        self.base = int(base)
        self._blocks: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        DECODE_STATS["bytes_total"] += len(ids_bin) + len(tfs_bin)
        DECODE_STATS["blocks_total"] += len(self.id_offs)

    def nblocks(self) -> int:
        return len(self.id_offs)

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """(local_ids, tfs) for the whole list (single-shot decode)."""
        if self._full is None:
            ids = delta_decode_blocked(self.ids_bin, self.block).astype(np.int64) - self.base
            tfs = varint_decode(self.tfs_bin).astype(np.float64)
            self._full = (ids, tfs)
            DECODE_STATS["bytes_decoded"] += len(self.ids_bin) + len(self.tfs_bin)
            DECODE_STATS["blocks_decoded"] += self.nblocks()
        return self._full

    def decode_block(self, bx: int) -> tuple[np.ndarray, np.ndarray]:
        if self._full is not None:
            s = slice(bx * self.block, (bx + 1) * self.block)
            return self._full[0][s], self._full[1][s]
        got = self._blocks.get(bx)
        if got is None:
            ib = decode_byte_range(self.ids_bin, self.id_offs, bx)
            tb = decode_byte_range(self.tfs_bin, self.tf_offs, bx)
            ids = delta_decode_blocked(ib, self.block).astype(np.int64) - self.base
            tfs = varint_decode(tb).astype(np.float64)
            got = self._blocks[bx] = (ids, tfs)
            DECODE_STATS["bytes_decoded"] += len(ib) + len(tb)
            DECODE_STATS["blocks_decoded"] += 1
        return got

    def lookup(self, sorted_local_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(hit_mask, tfs_of_hits) for the given sorted local ids —
        decodes only the blocks that can contain them, and each block
        is probed only with ITS OWN slice of the query ids (ids are
        sorted, so per-block slices are contiguous): O(|q|·log B +
        decoded blocks), never O(B·|q|). When the ids spread over most
        blocks anyway (a corpus-sized candidate set against a dense
        term) a single full decode + one searchsorted is cheaper than
        thousands of slice decodes."""
        q = sorted_local_ids
        hit = np.zeros(q.size, dtype=bool)
        tfs_out = np.empty(q.size, dtype=np.float64)
        qb = np.searchsorted(self.first_ids, q, side="right") - 1
        valid = np.flatnonzero(qb >= 0)
        if valid.size == 0:
            return hit, tfs_out
        blocks, starts = np.unique(qb[valid], return_index=True)
        if self._full is not None or blocks.size > max(32, self.nblocks() // 2):
            ids, tfs = self.decode_all()
            pos = np.searchsorted(ids, q)
            pos_c = np.clip(pos, 0, ids.size - 1)
            m = ids[pos_c] == q
            hit |= m
            tfs_out[m] = tfs[pos_c[m]]
            return hit, tfs_out
        bounds = np.append(starts, valid.size)
        for j in range(blocks.size):
            sel = valid[bounds[j] : bounds[j + 1]]
            ids_b, tfs_b = self.decode_block(int(blocks[j]))
            pos = np.searchsorted(ids_b, q[sel])
            pos_c = np.clip(pos, 0, ids_b.size - 1)
            m = ids_b[pos_c] == q[sel]
            tfs_out[sel[m]] = tfs_b[pos_c[m]]
            hit[sel[m]] = True
        return hit, tfs_out


def _score_segment_pruned(
    pdf: pd.DataFrame,
    idfs: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    block: int,
    deleted: np.ndarray | None = None,
) -> pd.DataFrame:
    """MaxScore + block-max pruned top-k (mode='or', rank-safe, LAZY).

    Term-at-a-time in descending upper-bound order. While a term is
    ESSENTIAL (Σ upper bounds of it + all later terms ≥ the running
    kth-score threshold θ — a brand-new doc could still reach the
    top-k) its list is decoded in full, and before adding it any doc
    whose accumulated score + per-posting block-max bound + remaining
    upper bounds can't reach θ is marked dead. Once the suffix bound
    drops below θ the remaining terms are NON-ESSENTIAL: no unseen doc
    can enter the top-k anymore, so only current candidates matter —
    candidates are pre-killed against θ with zero IO, and only the
    blocks that can contain surviving candidates are decoded
    (`_LazyPostings`; killed blocks' bytes are never touched).
    Survivors are then rescored exactly in sorted-term order so output
    floats are byte-identical to the exact path.
    """
    n_docs = int(pdf["n_docs"].iloc[0])
    base = int(pdf["base_doc_id"].iloc[0])
    dls = varint_decode(pdf["dl_bin"].iloc[0]).astype(np.float64)
    term_rows: dict[str, tuple[_LazyPostings, np.ndarray]] = {}
    for t, ids_b, tfs_b, imp, io_, to_, fi_, n_ in zip(
        pdf["term"], pdf["doc_ids_bin"], pdf["tfs_bin"], pdf["block_impacts"],
        pdf["block_id_offs"], pdf["block_tf_offs"], pdf["block_first_ids"],
        pdf["df_local"],
    ):
        if t in idfs:
            lp = _LazyPostings(ids_b, tfs_b, io_, to_, fi_, n_, block, base)
            term_rows[t] = (lp, _block_bounds(imp, lp.nblocks(), avgdl, k1, b))
    if not term_rows:
        return _EMPTY()
    ubs = {t: idfs[t] * float(bm.max()) for t, (_, bm) in term_rows.items()}
    order = sorted(term_rows, key=lambda t: (-ubs[t], t))
    suffix = np.concatenate(
        (np.cumsum([ubs[t] for t in order][::-1])[::-1], [0.0])
    )  # suffix[i] = Σ ub of order[i:]
    scores = np.zeros(n_docs, dtype=np.float64)
    dead = np.zeros(n_docs, dtype=bool)
    if deleted is not None:
        dead[deleted - base] = True
    touched: list[np.ndarray] = []
    theta = -np.inf
    n_seen = 0
    cand: np.ndarray | None = None  # frozen candidate set (sorted) once non-essential
    for i, t in enumerate(order):
        lp, bmax = term_rows[t]
        if cand is None and np.isfinite(theta) and suffix[i] < theta:
            # one-way switch: θ only grows and suffix only shrinks, so
            # every term from here on is non-essential — freeze the
            # candidate set (no unseen doc can reach θ anymore)
            if not touched:
                return _EMPTY()
            cand = np.unique(np.concatenate(touched))
            cand = cand[~dead[cand]]
        if cand is not None:
            # candidate-driven: pre-kill against θ with zero IO, then
            # decode only the blocks that can contain survivors
            keep = scores[cand] + suffix[i] >= theta
            dead[cand[~keep]] = True
            cand = cand[keep]
            if cand.size == 0:
                return _EMPTY()
            hit, tfv = lp.lookup(cand)
            if hit.any():
                sids = cand[hit]
                stfs = tfv[hit]
                scores[sids] += idfs[t] * _tf_norm(stfs, dls[sids], avgdl, k1, b)
                if cand.size >= k:
                    theta = np.partition(scores[cand], cand.size - k)[cand.size - k]
            continue
        ids, tfs = lp.decode_all()
        alive = ~dead[ids]
        # the kill pass can only fire if SOME posting's ceiling
        # (zero accumulated score + its block bound + remaining ubs)
        # sits below θ — on dense flat lists (stopword-grade terms,
        # near-uniform block maxes) that is provably impossible and the
        # pass would only allocate 1M-entry temporaries for nothing
        # (measured 4x overhead vs exact at 1M docs/segment)
        can_kill = (
            theta > 0.0
            and i > 0
            and idfs[t] * float(bmax.min()) + suffix[i + 1] < theta
        )
        if can_kill:
            # per-posting block-max bound for THIS term + global ubs of the rest
            post_ub = idfs[t] * bmax[np.arange(ids.size) // block]
            potential = scores[ids] + post_ub + suffix[i + 1]
            kill = alive & (potential < theta)
            dead[ids[kill]] = True
            alive &= ~kill
        sel = np.flatnonzero(alive)
        if sel.size:
            sids = ids[sel]
            stfs = tfs[sel]
            scores[sids] += idfs[t] * _tf_norm(stfs, dls[sids], avgdl, k1, b)
            touched.append(sids)
            n_seen += sel.size
            if n_seen >= k:
                c = np.unique(np.concatenate(touched))
                c = c[~dead[c]]
                if c.size >= k:
                    theta = np.partition(scores[c], c.size - k)[c.size - k]
    if cand is None:
        if not touched:
            return _EMPTY()
        cand = np.unique(np.concatenate(touched))
        cand = cand[~dead[cand]]
    if cand.size == 0:
        return _EMPTY()
    s = scores[cand]
    if cand.size > k:
        thresh = np.partition(-s, k - 1)[k - 1]
        keep = np.flatnonzero(-s <= thresh)
        cand, s = cand[keep], s[keep]
    order_ix = np.lexsort((cand, -s))[:k]
    winners = np.sort(cand[order_ix])
    # exact rescore in sorted-term order → byte-identical to dense path
    # (winner lookups decode only blocks containing winners, usually
    # already cached from the scoring passes)
    final = np.zeros(winners.size, dtype=np.float64)
    for t in sorted(term_rows):
        lp, _ = term_rows[t]
        hit, tfv = lp.lookup(winners)
        if hit.any():
            tf = tfv[hit]
            w = winners[hit]
            final[hit] += idfs[t] * _tf_norm(tf, dls[w], avgdl, k1, b)
    order2 = np.lexsort((winners, -final))
    return pd.DataFrame(
        {"doc_id": (winners[order2] + base).astype(np.int64), "score": final[order2]}
    )


def _score_segment(
    pdf: pd.DataFrame,
    queries: dict[str, dict[tuple[str, str], float]],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    mode: str,
    block: int,
    deleted: np.ndarray | None = None,
) -> pd.DataFrame:
    """The exact per-segment scorer behind every BM25 call:
    (query_id, doc_id, score), a tie-safe top-k per query.

    `queries` maps a query id to its weighted (field, term) keys, each
    carrying the coefficient w·idf. A doc's score is
    Σ (w·idf)·norm over the query's keys in sorted-key order (fixed
    order → deterministic float sums), norm = tf / (tf + k1·(1 − b +
    b·dl/avgdl)) under the index's single text dl. Each key's postings
    decode once per segment and serve every query that names it.

    mode='or': a doc matches if any key has a posting for it.
    mode='and': every key of the query must be present in the segment
    and the doc must appear in every key's postings. A tombstoned doc
    never matches."""
    n_docs = int(pdf["n_docs"].iloc[0])
    base = int(pdf["base_doc_id"].iloc[0])
    dls = varint_decode(pdf["dl_bin"].iloc[0]).astype(np.float64)
    rows = {
        (f, t): (ids_b, tfs_b)
        for f, t, ids_b, tfs_b in zip(
            pdf["field"], pdf["term"], pdf["doc_ids_bin"], pdf["tfs_bin"]
        )
    }
    decoded: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
    out_q, out_d, out_s = [], [], []
    for qid in sorted(queries):
        coefs = queries[qid]
        keys = sorted(key for key in coefs if key in rows)
        if not keys or (mode == "and" and len(keys) < len(coefs)):
            continue
        scores = np.zeros(n_docs, dtype=np.float64)
        hits = np.zeros(n_docs, dtype=np.int32)
        for key in keys:
            got = decoded.get(key)
            if got is None:
                ids_b, tfs_b = rows[key]
                ids = delta_decode_blocked(ids_b or b"", block).astype(np.int64) - base
                tfs = varint_decode(tfs_b or b"").astype(np.float64)
                got = decoded[key] = (ids, _tf_norm(tfs, dls[ids], avgdl, k1, b))
            ids, norm = got
            scores[ids] += coefs[key] * norm
            hits[ids] += 1
        if deleted is not None:
            hits[deleted - base] = 0  # tombstoned docs never match
        cand = np.flatnonzero(hits >= (len(keys) if mode == "and" else 1))
        if cand.size == 0:
            continue
        s = scores[cand]
        if cand.size > k:
            # keep everything at-or-above the kth score so boundary ties
            # can still be broken by doc_id in the exact sort below
            thresh = np.partition(-s, k - 1)[k - 1]
            keep = np.flatnonzero(-s <= thresh)
            cand, s = cand[keep], s[keep]
        order = np.lexsort((cand, -s))[:k]
        out_q.extend([qid] * order.size)
        out_d.append(cand[order] + base)
        out_s.append(s[order])
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="object"),
            "doc_id": pd.Series(
                np.concatenate(out_d) if out_d else [], dtype="int64"
            ),
            "score": pd.Series(
                np.concatenate(out_s) if out_s else [], dtype="float64"
            ),
        }
    )


def _score_one(pdf, coefs, k1, b, avgdl, k, mode, block, deleted) -> pd.DataFrame:
    """`_score_segment` for a batch of one: (doc_id, score)."""
    return _score_segment(
        pdf, {"": coefs}, k1, b, avgdl, k, mode, block, deleted
    ).drop(columns="query_id")


def bm25_topk(
    cat: IndexCatalog,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    prune: bool = False,
    field: str = "text",
) -> DataFrame:
    """Top-k (doc_id, score) for a bag of query terms.

    mode='or': any term matches (standard BM25 disjunctive top-k).
    mode='and': all terms must match (scored conjunction).
    Duplicate query terms are scored once (unique-term semantics).
    """
    spark = cat.spark
    stats = cat.corpus_stats()
    uniq = sorted(set(terms))
    tstats = cat.term_stats_for([(field, t) for t in uniq])
    idfs = {t: idf(stats.n_docs, df) for (_, t), (df, _) in tstats.items()}
    if not idfs or (mode == "and" and len(idfs) < len(uniq)):
        return local_frame(spark, [], "doc_id long, score double")

    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    # block size travels with the index (the manifest's block_size): the
    # bound is only rank-safe when it matches what the writer used
    block = stats.block_size
    use_prune = prune and mode == "or"
    if use_prune:
        # MaxScore prunes by shrinking the ESSENTIAL set below the
        # rarest terms — if even the rarest query term is dense
        # (df/N above ~30%), θ can never climb past the remaining
        # upper bounds and the pruned pass is pure bookkeeping over
        # exact (measured 2.7x slower on an all-dense pair at 1M docs).
        # Both paths return byte-identical output, so fall back.
        min_df = min(df for (df, _cf) in tstats.values())
        if min_df / max(stats.n_docs, 1) > 0.3:
            use_prune = False

    cols = _COLS + (
        ["block_impacts", "block_id_offs", "block_tf_offs", "block_first_ids", "df_local"]
        if use_prune
        else []
    )
    coefs = {(field, t): v for t, v in idfs.items()}

    def score(post: pd.DataFrame, meta: dict, deleted: np.ndarray | None) -> pd.DataFrame:
        pdf = post.assign(**meta)
        if use_prune:
            return _score_segment_pruned(pdf, idfs, k1, b, avgdl, k, block, deleted)
        return _score_one(pdf, coefs, k1, b, avgdl, k, mode, block, deleted)

    return run_per_segment(
        cat, score, "doc_id long, score double", cols, _META, sorted(coefs), top=k
    )


def bm25f_topk(
    cat: IndexCatalog,
    terms: list[str],
    weights: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """Weighted multi-field BM25 top-k — fielded retrieval, the shape
    behind 'title^2 body^1' boosting:

        score(d) = Σ_f w_f · Σ_t idf_f(t) · tf_{f,t} /
                   (tf_{f,t} + k1·(1 − b + b·dl_d/avgdl))

    Each field scores against its OWN dictionary (df, and therefore
    idf, are per-field — a term buried in one field but rare in
    another boosts accordingly); a (field, term) pair absent from that
    field's dictionary contributes zero. This is the per-field-sum
    form Lucene/ES `multi_match most_fields` computes, NOT Robertson
    BM25F proper (which blends tf across fields before saturation —
    that needs per-field length norms the index format deliberately
    doesn't store; the shared-text-dl norm is the index's defined
    semantics, see build_index docstring).

    Disjunctive, exact (no MaxScore — the combined per-(field, term)
    bounds it needs aren't materialized): a batch of one through the
    same per-segment scorer as bm25_topk, with each key's coefficient
    w_f·idf_f(t), and the same per-segment top-k + global merge. The
    combined per-segment top-k is rank-safe because each segment's
    task body sees every field's postings for its segment."""
    spark = cat.spark
    stats = cat.corpus_stats()
    uniq = sorted(set(terms))
    fields = sorted(weights)
    tstats = cat.term_stats_for([(f, t) for f in fields for t in uniq])
    coefs = {
        (f, t): float(weights[f]) * idf(stats.n_docs, df)
        for (f, t), (df, _) in tstats.items()
    }
    if not coefs:
        return local_frame(spark, [], "doc_id long, score double")
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    block = stats.block_size

    def score(post: pd.DataFrame, meta: dict, deleted: np.ndarray | None) -> pd.DataFrame:
        return _score_one(post.assign(**meta), coefs, k1, b, avgdl, k, "or", block, deleted)

    return run_per_segment(
        cat, score, "doc_id long, score double", _COLS, _META, sorted(coefs), top=k
    )


def more_like_this(
    cat: IndexCatalog,
    doc_id: int,
    top_terms: int = 5,
    k: int = 10,
    field: str = "text",
    text_col: str = "text",
) -> DataFrame:
    """More-like-this: rank the corpus by BM25 similarity to one
    document. The query is the doc's `top_terms` terms by tf·idf
    (ties broken by term asc — a total, reproducible order), extracted
    by re-analyzing the doc's STORED text (one 1-row lookup) with idfs
    from the pruned dictionary lookup (bounded by the doc's distinct
    terms, pruned by the sorted dictionary's parquet min/max); then a standard disjunctive
    bm25_topk over those terms with the source doc excluded.

    Everything driver-side is bounded by ONE document's size: the text
    collect is 1 row, the dictionary lookup ≤ |doc| terms. The scoring
    pass is bm25_topk's, on either placement of run_per_segment (the
    driver or one Spark job)."""
    from collections import Counter

    from yaii_spark.analyzer import tokenize

    rows = (
        cat.docs()
        .filter(F.col("doc_id") == int(doc_id))
        .select(text_col)
        .collect()
    )
    if not rows:
        raise ValueError(f"more_like_this: doc_id {doc_id} not found")
    tf = Counter(tokenize(rows[0][0] or ""))
    stats = cat.corpus_stats()
    ts = {  # ≤ |doc| distinct terms
        t: df for (_, t), (df, _) in cat.term_stats_for([(field, t) for t in tf]).items()
    }
    ranked = sorted(
        ((t, tf[t] * idf(stats.n_docs, ts[t])) for t in tf if t in ts),
        key=lambda x: (-x[1], x[0]),
    )
    terms = [t for t, _ in ranked[: max(1, top_terms)]]
    if not terms:
        return local_frame(cat.spark, [], "doc_id long, score double")
    # bm25_topk's rows are already in (score desc, doc_id asc) order;
    # a filter and a limit keep it, and over a driver-placed result
    # they fold into its LocalRelation (a sort there would be a job)
    out = bm25_topk(cat, terms, k=k + 1, mode="or")
    return out.filter(F.col("doc_id") != int(doc_id)).limit(k)


def bm25_topk_batch(
    cat: IndexCatalog,
    queries: dict[str, list[str]],
    k: int = 10,
    mode: str = "or",
    field: str = "text",
) -> DataFrame:
    """Score a BATCH of queries in ONE pass over the postings —
    the 100-TB workload pattern: a query log of thousands amortizes
    the postings reads, each segment's seg_meta read, and the
    scheduler overhead across the batch instead of paying one Spark
    job per query. Returns (query_id, doc_id, score), per-query top-k.

    Plan: the UNION of every query's (field, term) pairs is pushed
    into one by-path postings read per segment (same row-group-pruned
    read as a single query), the segment runs the one exact scorer over the whole
    batch — every key decodes ONCE and serves every query that names
    it — with a per-(segment, query) top-k, then ONE global merge per
    query_id (a pandas group-wise top-k on the driver, a Window in the
    job placement). Per-query output is rank- AND
    score-identical to bm25_topk (same scorer, same sorted-key
    summation; pinned in pytest)."""
    spark = cat.spark
    stats = cat.corpus_stats()
    all_terms = sorted({t for ts in queries.values() for t in ts})
    tstats = cat.term_stats_for([(field, t) for t in all_terms])
    idfs = {t: idf(stats.n_docs, df) for (_, t), (df, _) in tstats.items()}
    if not idfs:
        return local_frame(spark, [], "query_id string, doc_id long, score double")
    k1, b, avgdl = stats.k1, stats.b, stats.avgdl
    block = stats.block_size
    # a term absent from the dictionary contributes nothing to an OR
    # query and empties an AND query
    batch = {
        str(q): {(field, str(t)): idfs[t] for t in ts if t in idfs}
        for q, ts in queries.items()
        if mode != "and" or all(t in idfs for t in ts)
    }
    # captured, not an explicit broadcast: the driver placement ships
    # nothing, and in the job PySpark broadcasts a pickled function
    # larger than spark.broadcast.UDFCompressionThreshold (1 MiB) itself

    def score(post: pd.DataFrame, meta: dict, deleted: np.ndarray | None) -> pd.DataFrame:
        return _score_segment(
            post.assign(**meta), batch, k1, b, avgdl, k, mode, block, deleted
        )

    return run_per_segment(
        cat, score, "query_id string, doc_id long, score double", _COLS, _META,
        [(field, t) for t in sorted(idfs)], top=k,
    )
