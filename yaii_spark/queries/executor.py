"""Boolean query execution.

Two evaluation paths, chosen per subtree (SURVEY.md §7.1 M4):

1. **Token-only subtrees** → per-segment numpy set algebra over each
   segment's postings, seg_meta row and tombstones, read by path
   (run_per_segment; no join, no shuffle) — on the driver when the
   query's postings and files count below DRIVER_POSTINGS (a
   LocalRelation result, no Spark job), else in one ``mapInPandas``
   job: decoded posting arrays are
   intersected/unioned/differenced exactly like the reference's
   DocIdIterable algebra (conjunction leads with the smallest-cost
   list — /root/reference/src/lib/internal/datastructs/
   docid-async-iterable/operations.ts:104-164; orMany :12-100;
   andNot :184-226) but vectorized (np.intersect1d on sorted arrays is
   the same sort-merge; must/mustNot split mirrors BooleanExpression).
2. **Attribute predicates** (NumberEq/NumberRange/HasField) → native
   Catalyst filters on the docs table — predicate pushdown to parquet
   replaces the reference's numeric trie (query-ir.ts:57-120).
Mixed trees compose at the DataFrame level: AND = inner join,
OR = union+distinct, NOT = anti join vs the doc universe.

Plan-time `mayMatch` pruning: query terms are checked against the
term-stats table on the driver before any executor work
(prune_absent_terms), so a query with only absent terms never launches
a stage.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from yaii_spark.codec import delta_decode_blocked
from yaii_spark.queries import ast as A
from yaii_spark.storage import IndexCatalog, column_frame, local_frame, postings_filter


def _empty_ids(spark) -> DataFrame:
    return local_frame(spark, [], "doc_id long")


#: position-decode accounting (meaningful for driver-side direct calls,
#: as the lazy-phrase tests do; Spark workers keep their own copies —
#: same pattern as bm25.DECODE_STATS)
POS_DECODE_STATS = {
    "bytes_decoded": 0, "bytes_total": 0,
    "blocks_decoded": 0, "blocks_total": 0,
}


def reset_pos_decode_stats() -> None:
    for k in POS_DECODE_STATS:
        POS_DECODE_STATS[k] = 0


def _ragged_gather(vals: np.ndarray, offs: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate vals[offs[i] : offs[i]+lens[i]] for all i —
    vectorized (repeat/arange), no per-run Python slicing."""
    tot = int(lens.sum())
    if tot == 0:
        return np.empty(0, dtype=vals.dtype)
    out_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = np.repeat(offs - out_starts, lens) + np.arange(tot, dtype=np.int64)
    return vals[idx]


class _LazyPositions:
    """Lazy accessor over one v5 posting row's position stream: each
    doc's positions are delta-encoded independently and byte offsets
    are stored at every id-block boundary (block_pos_offs), so the
    stream decodes PER BLOCK, only for blocks holding candidate docs —
    a selective phrase over a stopword-grade term no longer decodes the
    corpus-scale position stream (VERDICT r3 #1; the position analogue
    of bm25._LazyPostings). Block decode is the vectorized flat form
    (codec.decode_positions_flat) and candidate extraction is a ragged
    gather — no per-doc Python loop even when every block is touched
    (the dense×dense phrase case, where block skipping can't help but
    loop removal is the win)."""

    __slots__ = ("ids", "tfs", "pos_bin", "offs", "block", "_cache")

    def __init__(self, ids, tfs, pos_bin, offs, block):
        self.ids = ids  # local doc ids, sorted ascending (int64)
        self.tfs = np.asarray(tfs, dtype=np.int64)
        self.pos_bin = pos_bin
        self.offs = np.asarray(offs, dtype=np.int64)
        self.block = int(block)
        self._cache: dict[int, tuple] = {}
        POS_DECODE_STATS["bytes_total"] += len(pos_bin)
        POS_DECODE_STATS["blocks_total"] += len(self.offs)

    def _decode_block(self, bx: int) -> tuple:
        """(values, starts) for block bx — flat per-block decode."""
        got = self._cache.get(bx)
        if got is None:
            from yaii_spark.codec import decode_byte_range, decode_positions_flat

            pb = decode_byte_range(self.pos_bin, self.offs, bx)
            tfs = self.tfs[bx * self.block : (bx + 1) * self.block]
            got = self._cache[bx] = decode_positions_flat(pb, tfs)
            POS_DECODE_STATS["bytes_decoded"] += len(pb)
            POS_DECODE_STATS["blocks_decoded"] += 1
        return got

    def flat_for(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(flat_positions, counts) for sorted local ids `cand` (all
        present in self.ids): flat = the candidates' position lists
        concatenated in candidate order, counts aligned to cand."""
        idxs = np.searchsorted(self.ids, cand)
        counts = self.tfs[idxs]
        bxs = idxs // self.block
        pieces = []
        for bx in np.unique(bxs):  # ascending → preserves cand order
            vals, starts = self._decode_block(int(bx))
            sel = np.flatnonzero(bxs == bx)
            k = idxs[sel] - bx * self.block
            pieces.append(_ragged_gather(vals, starts[k], counts[sel]))
        flat = np.concatenate(pieces) if pieces else np.empty(0, dtype=np.int64)
        return flat, counts


class _EagerPositions:
    """Adapter giving fully-decoded (ids, per-doc position lists) the
    same surface as _LazyPositions: the stream's per-batch segment
    (streaming._batch_ids) and unit tests hand phrases this form."""

    __slots__ = ("ids", "_plists")

    def __init__(self, ids, plists):
        self.ids = np.asarray(ids, dtype=np.int64)
        self._plists = plists

    def flat_for(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        idxs = np.searchsorted(self.ids, cand)
        pls = [np.asarray(self._plists[int(i)], dtype=np.int64) for i in idxs]
        counts = np.fromiter((p.size for p in pls), dtype=np.int64, count=len(pls))
        flat = np.concatenate(pls) if pls else np.empty(0, dtype=np.int64)
        return flat, counts


# ---------------------------------------------------------------------------
# numpy set algebra over one segment (local doc ids)
# ---------------------------------------------------------------------------

def _ordered_window(qs: list, slop: int) -> bool:
    """True if ∃ non-decreasing chain q_0 ≤ q_1 ≤ … with q_last − q_0 ≤
    slop (qs are the j-shifted position arrays, sorted ascending). The
    greedy minimal chain per start is optimal.

    Reference implementation — production slop>0 verification runs the
    batched form (_verify_slop_chain); a hypothesis property pins the
    two together (tests/test_phrase.py)."""
    if slop == 0:
        acc = qs[0]
        for q in qs[1:]:
            acc = np.intersect1d(acc, q, assume_unique=True)
            if acc.size == 0:
                return False
        return True
    for q0 in qs[0]:
        prev = q0
        for q in qs[1:]:
            i = np.searchsorted(q, prev, side="left")
            if i == q.size:
                return False
            prev = q[i]
        if prev - q0 <= slop:
            return True
    return False


def _verify_slop_chain(per_term: list, slop: int) -> np.ndarray:
    """Vectorized slop>0 verification → bool mask over candidates.

    `per_term[j]` is the (flat_positions, counts) pair for term j —
    every candidate doc's positions concatenated in candidate order
    (PositionsEntry.flat_for). The greedy minimal chain (take, per
    start position of term 0, the smallest position of each next term
    ≥ the previous pick; succeed iff span ≤ slop after the per-term −j
    shift) is batched across EVERY start of EVERY candidate at once:
    per term, candidate positions flatten into composite keys
    (doc_rank << 32) | shifted_pos, and one searchsorted per term
    advances all surviving chains simultaneously — no per-candidate
    Python loop (VERDICT r3 #2)."""
    n = len(per_term)
    m = len(per_term[0][1])
    comp = []
    for j, (flat0, counts) in enumerate(per_term):
        # shift by −j (window alignment) then +n so values stay > 0
        # inside the composite key's low 32 bits
        flat = flat0.astype(np.int64) - j + n
        ranks = np.repeat(np.arange(m, dtype=np.int64), counts)
        comp.append(((ranks << np.int64(32)) | flat, flat))
    mask = np.zeros(m, dtype=bool)
    keys0, q0 = comp[0]
    start, prev = q0, q0
    rank = keys0 >> np.int64(32)
    for j in range(1, n):
        cj, _ = comp[j]
        key = (rank << np.int64(32)) | prev
        idx = np.searchsorted(cj, key, side="left")
        ok = idx < cj.size
        idxc = np.minimum(idx, cj.size - 1)
        hit = cj[idxc]
        ok &= (hit >> np.int64(32)) == rank  # stayed within the doc
        keep = np.flatnonzero(ok)
        if keep.size == 0:
            return mask
        prev = (hit & np.int64(0xFFFFFFFF))[keep]
        start, rank = start[keep], rank[keep]
    good = (prev - start) <= slop
    mask[np.unique(rank[good])] = True
    return mask


def _eval_phrase(node: A.Phrase, pos_map: dict) -> np.ndarray:
    """Phrase/proximity over lazily-decoded positions: intersect doc
    ids (smallest list leads, like the conjunction path), fetch
    positions ONLY for surviving candidates (v5 per-block position
    offsets — a dense term's corpus-scale stream is never decoded for
    a selective phrase), then verify the in-order window condition.

    slop=0 (the common case) is fully vectorized: per term j, the
    candidate docs' positions flatten into composite keys
    (doc_rank << 32) | (pos − j); intersecting the key sets across
    terms leaves exactly the docs with an aligned adjacency window
    (VERDICT r2 #6). slop>0 runs the batched greedy chain
    (_verify_slop_chain)."""
    entries = []
    for t in node.terms:
        e = pos_map.get((node.field_name, t))
        if e is None:
            return np.empty(0, dtype=np.int64)
        if isinstance(e, tuple):  # (ids, plists) — the eager form
            e = _EagerPositions(*e)
        entries.append(e)
    cand = entries[0].ids
    for e in sorted(entries[1:], key=lambda e: e.ids.size):
        if cand.size == 0:
            return cand.astype(np.int64)
        cand = np.intersect1d(cand, e.ids, assume_unique=True)
    if cand.size == 0 or len(entries) == 1:
        return cand.astype(np.int64)
    per_term = [e.flat_for(cand) for e in entries]
    if node.slop == 0:
        acc = None
        for j, (flat, counts) in enumerate(per_term):
            ranks = np.repeat(np.arange(cand.size, dtype=np.int64), counts)
            off = flat.astype(np.int64) - j
            m = off >= 0  # pos<j can't start an aligned window
            keys = (ranks[m] << np.int64(32)) | off[m]
            acc = keys if acc is None else np.intersect1d(acc, keys, assume_unique=True)
            if acc.size == 0:
                return np.empty(0, dtype=np.int64)
        return cand[np.unique(acc >> np.int64(32))].astype(np.int64)
    return cand[_verify_slop_chain(per_term, node.slop)].astype(np.int64)


def _term_in_range(t: str, node: A.TokenRange) -> bool:
    if node.lo is not None and (t < node.lo or (t == node.lo and not node.lo_inclusive)):
        return False
    if node.hi is not None and (t > node.hi or (t == node.hi and not node.hi_inclusive)):
        return False
    return True


def _union(sets) -> np.ndarray:
    """k-way merge of sorted id arrays (orMany)."""
    sets = [s for s in sets if s.size]
    return np.unique(np.concatenate(sets)) if sets else np.empty(0, dtype=np.int64)


def _eval_numpy(node: A.Node, postings: dict, n_docs: int, pos_map: dict | None = None,
                leaf: Callable[[A.Node], np.ndarray] | None = None) -> np.ndarray:
    """Sorted local doc ids of one segment that match `node`. `leaf`
    evaluates the leaves that are not posting lists (the stream's
    attribute predicates); without it they raise TypeError."""
    if isinstance(node, A.Token):
        return postings.get((node.field_name, node.term), np.empty(0, dtype=np.int64))
    if isinstance(node, A.Phrase):
        return _eval_phrase(node, pos_map or {})
    if isinstance(node, (A.TokenRange, A.TextContains)):
        # union of every dictionary term the scan accepts (P8: the
        # postings fetch already restricted the scan, this just
        # re-applies the predicate over the fetched rows)
        in_range = isinstance(node, A.TokenRange)
        return _union(
            ids for (f, t), ids in postings.items()
            if f == node.field_name
            and (_term_in_range(t, node) if in_range else node.needle in t)
        )
    if isinstance(node, A.All):
        return np.arange(n_docs, dtype=np.int64)
    if isinstance(node, A.NoneNode):
        return np.empty(0, dtype=np.int64)
    if isinstance(node, A.And):
        # must/mustNot split (boolean-exp.ts:10-19); positives first,
        # cost-ordered ascending so the smallest list leads (J1)
        pos = [c for c in node.children if not isinstance(c, A.Not)]
        neg = [c.child for c in node.children if isinstance(c, A.Not)]
        if pos:
            sets = sorted((_eval_numpy(c, postings, n_docs, pos_map, leaf) for c in pos), key=len)
            acc = sets[0]
            for s in sets[1:]:
                if acc.size == 0:
                    return acc  # short-circuit (operations.ts:166-182)
                acc = np.intersect1d(acc, s, assume_unique=True)
        else:
            acc = np.arange(n_docs, dtype=np.int64)
        for c in neg:  # andNot (operations.ts:184-226)
            if acc.size == 0:
                return acc
            s = _eval_numpy(c, postings, n_docs, pos_map, leaf)
            if s.size:
                acc = np.setdiff1d(acc, s, assume_unique=True)
        return acc
    if isinstance(node, A.Or):
        return _union(_eval_numpy(c, postings, n_docs, pos_map, leaf) for c in node.children)
    if isinstance(node, A.Not):
        s = _eval_numpy(node.child, postings, n_docs, pos_map, leaf)
        return np.setdiff1d(np.arange(n_docs, dtype=np.int64), s, assume_unique=True)
    if leaf is not None:
        return leaf(node)
    raise TypeError(f"not a token-only node: {node!r}")


def _needs_universe(node: A.Node) -> bool:
    if isinstance(node, (A.Not, A.All)):
        return True
    if isinstance(node, (A.And, A.Or)):
        return any(_needs_universe(c) for c in node.children)
    return False


#: A query runs on the driver (run_per_segment) while its count stays
#: below DRIVER_POSTINGS: Σ df over its (field, term) keys, df + cf for
#: a phrase key (its positions decode too), n_docs more when it needs
#: the universe, and FILE_POSTINGS per file the task body opens
#: (postings, seg_meta and tombstone files: on the driver one after
#: another, in the job spread over the cores). scripts/probe_placement.py
#: on a 4-core host puts the crossover with one Spark job at
#: 131,072-262,144 postings for AND/OR, 65,536-131,072 positions for a
#: phrase (so df + cf: 131,072-262,144), and 32-64 files for a query of
#: a few hundred postings; BM25 top-10 (a 10-row result) stays cheaper
#: on the driver up to about 10**6 postings and knowingly runs as a job
#: from DRIVER_POSTINGS on. The count also bounds the driver's memory
#: for any k or limit.
DRIVER_POSTINGS = 131_072
FILE_POSTINGS = 2_048


def run_per_segment(
    cat: IndexCatalog,
    fn: Callable[[pd.DataFrame, dict, np.ndarray | None], pd.DataFrame],
    schema: str,
    columns: list[str],
    meta_columns: list[str],
    field_terms: list[tuple[str, str]],
    scans: list | None = None,
    every_segment: bool = False,
    pos_terms: set | frozenset = frozenset(),
    top: int | None = None,
) -> DataFrame:
    """Run ``fn(post, meta, deleted)`` per segment over
    ``cat.segment_file_list()`` — the single execution shape of every
    boolean, phrase and BM25 query. Per segment, `post` is its postings
    rows for `field_terms` / `scans` (`columns` only, row-group pruned);
    `meta` its seg_meta row (`meta_columns`) as a dict; `deleted` its
    tombstoned GLOBAL doc ids (int64) or None, all read by path with
    pyarrow. A segment without matching postings rows is skipped unless
    `every_segment` (NOT/ALL universes).

    The same task body has two placements. A query whose postings and
    files count below DRIVER_POSTINGS (`pos_terms` are the keys whose
    positions decode) runs it on the driver and returns one Arrow-built
    LocalRelation: collecting it runs no Spark job. A larger query, and
    any `scans` query (the dictionary has no count for it), runs it in
    one ``mapInPandas`` job, no shuffle, at most one task per core over
    a contiguous run of segments.

    `top=k` keeps the k best rows by (score desc, doc_id asc), per
    query_id when the schema has one: a numpy/pandas reduce on the
    driver; TakeOrderedAndProject (or a query_id Window) in the job."""
    flt = postings_filter(field_terms, scans)
    tomb_files = cat.tombstone_files()  # never memoized: delete_docs appends

    def task(batches):
        import pyarrow.compute as pc

        from yaii_spark.storage import read_files

        for b in batches:
            deleted = {}
            if tomb_files:
                # tombstone files are seg_id-ranged: min/max prune them
                key, segs = pc.field("seg_id"), b["seg_id"].tolist()
                mine = (key >= min(segs)) & (key <= max(segs)) & key.isin(segs)
                tomb = read_files(tomb_files, ["seg_id", "doc_id"], mine).to_pandas()
                for seg, ids in tomb.groupby("seg_id")["doc_id"]:
                    deleted[seg] = ids.to_numpy(dtype=np.int64)
            for seg, post_files, meta_files in zip(b["seg_id"], b["postings"], b["seg_meta"]):
                post = (
                    read_files(list(post_files), columns, flt).to_pandas()
                    if len(post_files)
                    else pd.DataFrame(columns=columns)
                )
                if post.empty and not every_segment:
                    continue
                (meta,) = read_files(list(meta_files), meta_columns).to_pylist()
                yield fn(post, meta, deleted.get(seg))

    seg_files = cat.segment_file_list()
    n_files = len(tomb_files) + sum(len(p) + len(m) for _, p, m in seg_files)
    size = sum(
        df + (cf if ft in pos_terms else 0)
        for ft, (df, cf) in cat.term_stats_for(field_terms).items()
    ) + (cat.corpus_stats().n_docs if every_segment else 0) + FILE_POSTINGS * n_files
    by = ["query_id"] if schema.startswith("query_id") else []
    if scans or size >= DRIVER_POSTINGS:
        out = cat.segment_files().mapInPandas(task, schema)
        if top is None:
            return out
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        if not by:
            return out.orderBy(*order).limit(top)
        rank = F.row_number().over(Window.partitionBy(*by).orderBy(*order))
        return out.withColumn("_rk", rank).filter(F.col("_rk") <= top).drop("_rk")
    segs = pd.DataFrame(seg_files, columns=["seg_id", "postings", "seg_meta"])
    parts = list(task([segs] if len(segs) else []))
    if not parts:
        return local_frame(cat.spark, [], schema)
    out = pd.concat(parts, ignore_index=True)
    if top is not None:
        asc = [True] * len(by) + [False, True]
        out = out.sort_values(by + ["score", "doc_id"], ascending=asc)
        out = out.groupby(by).head(top) if by else out.head(top)
    return column_frame(cat.spark, {c: out[c].to_numpy() for c in out.columns}, schema)


def _eval_token_tree(cat: IndexCatalog, node: A.Node) -> DataFrame:
    """Evaluate a token-only subtree → DataFrame[doc_id]: each segment's
    term-pruned postings rows evaluated by _eval_numpy
    (run_per_segment)."""
    terms = sorted(A.collect_terms(node))
    scans = [n for n in A.leaves(node) if isinstance(n, (A.TokenRange, A.TextContains))]
    universe = _needs_universe(node)  # NOT/ALL need every segment
    if not universe and not terms and not scans:
        return _empty_ids(cat.spark)
    phrases = [n for n in A.leaves(node) if isinstance(n, A.Phrase)]
    want_pos = bool(phrases)  # pos_bin/tfs_bin ship only for phrases
    phrase_terms = {(n.field_name, t) for n in phrases for t in n.terms}
    cols = ["field", "term", "doc_ids_bin"] + (
        ["tfs_bin", "pos_bin", "block_pos_offs"] if want_pos else []
    )
    block = cat.corpus_stats().block_size  # delta restarts per block (v4)

    def _eval(post: pd.DataFrame, meta: dict, deleted: np.ndarray | None) -> pd.DataFrame:
        from yaii_spark.codec import varint_decode

        base = meta["base_doc_id"]
        postings = {
            (f, t): delta_decode_blocked(b, block).astype(np.int64) - base
            for f, t, b in zip(post["field"], post["term"], post["doc_ids_bin"])
        }
        pos_map = None
        if want_pos:
            pos_map = {}
            for f, t, tb, pb, po in zip(
                post["field"], post["term"], post["tfs_bin"], post["pos_bin"],
                post["block_pos_offs"],
            ):
                if (f, t) in phrase_terms:
                    tfs = varint_decode(tb).astype(np.int64)
                    pos_map[(f, t)] = _LazyPositions(postings[(f, t)], tfs, pb, po, block)
        ids = _eval_numpy(node, postings, meta["n_docs"], pos_map)
        # tombstones, the purged docs of a merge included: they stay out
        # of NOT/ALL universes (doc ids are never renumbered)
        if deleted is not None and deleted.size:
            ids = np.setdiff1d(ids, np.sort(deleted) - base, assume_unique=False)
        return pd.DataFrame({"doc_id": ids + base})

    return run_per_segment(
        cat, _eval, "doc_id long", cols, ["n_docs", "base_doc_id"],
        terms, scans, every_segment=universe, pos_terms=phrase_terms,
    )


# ---------------------------------------------------------------------------
# hybrid DataFrame-level composition
# ---------------------------------------------------------------------------

def _attr_filter(node: A.Node):
    if isinstance(node, A.NumberEq):
        return F.col(node.field_name) == F.lit(node.value)
    if isinstance(node, A.NumberRange):
        cond = F.lit(True)
        c = F.col(node.field_name)
        if node.lo is not None:
            cond = cond & (c >= node.lo if node.lo_inclusive else c > node.lo)
        if node.hi is not None:
            cond = cond & (c <= node.hi if node.hi_inclusive else c < node.hi)
        return cond
    if isinstance(node, A.HasField):
        return F.col(node.field_name).isNotNull()
    return None


def _eval_hybrid(
    cat: IndexCatalog, node: A.Node, docs: Callable[[], DataFrame]
) -> DataFrame:
    """`docs()` returns the live docs DataFrame; it is called only
    where a subtree needs docs (All, attribute predicates, DataFrame-
    level NOT/AND), so token-only queries never read docs."""
    if isinstance(node, A.CachedFilter):
        cached = getattr(cat, "_filter_cache", {}).get(node.name)
        if cached is None:
            raise KeyError(f"no cached filter named {node.name!r}")
        # deletes issued after the filter was cached must not resurface:
        # re-clamp against the current tombstone set at resolve time
        # (the reference's removeDeletedAndAddedAfter, utils.ts:201-220)
        tomb = cat.tombstones()
        if tomb is not None:
            cached = cached.join(tomb.select("doc_id"), "doc_id", "left_anti")
        return cached
    if A.is_token_only(node):
        if isinstance(node, A.All):
            return docs().select("doc_id")
        if isinstance(node, A.NoneNode):
            return _empty_ids(cat.spark)
        return _eval_token_tree(cat, node)
    flt = _attr_filter(node)
    if flt is not None:
        return docs().filter(flt).select("doc_id")
    if isinstance(node, A.And):
        # push all attribute predicates into ONE docs scan (Catalyst
        # conjunctive pushdown), token subtrees into one segment pass
        attr = [c for c in node.children if _attr_filter(c) is not None]
        rest = [c for c in node.children if _attr_filter(c) is None]
        acc = None
        if attr:
            cond = _attr_filter(attr[0])
            for c in attr[1:]:
                cond = cond & _attr_filter(c)
            acc = docs().filter(cond).select("doc_id")
        tok = [c for c in rest if A.is_token_only(c)]
        other = [c for c in rest if not A.is_token_only(c)]
        if tok:
            t = tok[0] if len(tok) == 1 else A.And(tok)
            tdf = _eval_hybrid(cat, t, docs)
            acc = tdf if acc is None else acc.join(tdf, "doc_id", "inner")
        for c in other:
            cdf = _eval_hybrid(cat, c, docs)
            acc = cdf if acc is None else acc.join(cdf, "doc_id", "inner")
        return acc if acc is not None else docs().select("doc_id")
    if isinstance(node, A.Or):
        dfs = [_eval_hybrid(cat, c, docs) for c in node.children]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.union(d)
        return out.distinct()
    if isinstance(node, A.Not):
        child = _eval_hybrid(cat, node.child, docs)
        return docs().select("doc_id").join(child, "doc_id", "left_anti")
    raise TypeError(f"unsupported node: {node!r}")


def execute_boolean(cat: IndexCatalog, query: A.Node) -> DataFrame:
    """Evaluate a boolean query → DataFrame[doc_id] (distinct)."""
    q = A.rewrite(query)
    field_terms = A.collect_terms(q)
    if field_terms:
        present = set(cat.term_stats_for(sorted(field_terms)).keys())
        q = A.prune_absent_terms(q, present)
    if isinstance(q, A.NoneNode):
        return _empty_ids(cat.spark)
    return _eval_hybrid(cat, q, functools.cache(cat.docs_live))


def cache_filter(cat: IndexCatalog, name: str, query: A.Node) -> DataFrame:
    """Evaluate + persist a named filter for reuse via
    A.cached_filter(name) — P9 (cached-filter.ts:10-41). Backed by
    Spark's block-manager persistence instead of a per-segment bitmap
    memo."""
    ids = execute_boolean(cat, query).persist()
    ids.count()  # materialize now so later queries reuse, not recompute
    if not hasattr(cat, "_filter_cache"):
        cat._filter_cache = {}
    old = cat._filter_cache.get(name)
    if old is not None:
        old.unpersist()  # re-caching a name must not leak the old blocks
    cat._filter_cache[name] = ids
    return ids


def uncache_filter(cat: IndexCatalog, name: str | None = None) -> int:
    """Drop cached filter(s) and free their persisted blocks — the
    explicit eviction the reference's bounded LRU provided implicitly
    (lru-cache.ts:19-108; VERDICT r3 #8: an unbounded registry pins
    block-manager memory for the catalog's lifetime). `name=None`
    clears every cached filter. Returns how many were dropped."""
    cache = getattr(cat, "_filter_cache", None)
    if not cache:
        return 0
    names = list(cache) if name is None else ([name] if name in cache else [])
    for n in names:
        cache.pop(n).unpersist()
    return len(names)


def search(
    cat: IndexCatalog,
    query: A.Node,
    sort: list[tuple[str, str]] | None = None,
    limit: int | None = None,
    projection: list[str] | None = None,
    collation: str | None = None,
) -> DataFrame:
    """Boolean search with sort/limit/projection (T1-T4, P1).

    sort+limit compiles to Catalyst's TakeOrderedAndProject — the same
    per-partition-top-k + global-merge the reference hand-rolls
    (base-inverted-index.ts:430-455).

    `collation` applies to string sort keys: the reference compares
    strings with Intl.Collator(sensitivity:'base') — case- and
    accent-insensitive (utils.ts:41-46) — which is Spark's
    'UNICODE_CI_AI'; None keeps UTF8 binary order. Collation happens
    in the sort key only, JVM-side (Spark 4 collation support), so
    TakeOrderedAndProject still applies.
    """
    ids = execute_boolean(cat, query)
    docs = cat.docs_live()
    out = ids.join(docs, "doc_id", "inner")
    if projection:
        out = out.select("doc_id", *projection)
    if sort:

        def key(c: str):
            col = F.col(c)
            if collation is not None and dict(out.dtypes).get(c) == "string":
                col = F.collate(col, collation)
            return col

        out = out.orderBy(
            *[
                (key(c).desc() if d.lower().startswith("d") else key(c).asc())
                for c, d in sort
            ],
            F.col("doc_id").asc(),
        )
    if limit is not None:
        out = out.limit(limit)
    return out


#: the reference's opinionatedCompare collation (F7)
REFERENCE_COLLATION = "UNICODE_CI_AI"
