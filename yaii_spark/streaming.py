"""Continuous queries — QueryMode CURRENT / FUTURE / CURRENT_AND_FUTURE.

Reference semantics (/root/reference/src/yaii-types.ts:15-19,
base-inverted-index.ts:457-489): FUTURE subscribes to "added" batches
and re-evaluates the boolean filter on each new batch; CURRENT_AND_FUTURE
concatenates the current snapshot's results with the future stream.
Sorted FUTURE queries throw (base-inverted-index.ts:431) — we keep the
exact restriction (Spark can't global-sort an unbounded append stream
either).

Spark-first mapping: the "added event" stream is a Structured Streaming
source over the incoming pages directory. Each micro-batch is filtered
by the engine itself, in one ``mapInPandas``: every Arrow batch is
inverted into an in-memory segment by the build's own inverter and
evaluated by the engine's one boolean/phrase evaluator
(executor._eval_numpy). New docs aren't in the index yet — exactly like
yaii, which evaluates FUTURE filters on the fresh mutable segment
rather than on committed postings (yaii src/base-inverted-index.ts:457-489,
lib/internal/segments/mutable-segment.ts:20,103-122).
"""

from __future__ import annotations

from enum import Enum

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from yaii_spark.analyzer import doc_postings, unpack_postings
from yaii_spark.codec import varint_decode
from yaii_spark.indexer import ANALYZERS, DEFAULT_FIELDS
from yaii_spark.queries import ast as A
from yaii_spark.queries.executor import _eval_numpy, search


class QueryMode(Enum):
    CURRENT = "current"
    CURRENT_AND_FUTURE = "current_and_future"
    FUTURE = "future"


def _batch_ids(q: A.Node, pdf: pd.DataFrame, text_col: str) -> np.ndarray:
    """Positions of the rows of `pdf` that match `q`.

    The batch becomes an in-memory segment whose local ids are the row
    positions: the build's inverter (analyzer.doc_postings with the
    default text/_all fields), read back by the build's parser
    (analyzer.unpack_postings), gives {(field, term): sorted ids} and,
    for a phrase, each term's (ids, position lists). _eval_numpy
    evaluates it as it evaluates a committed segment. Attribute leaves
    are id arrays from the batch's columns; a null matches no leaf, so
    a row with a null attribute or text lands inside NOT (a complement
    over the batch), as in execute_boolean."""
    names = sorted(DEFAULT_FIELDS)
    specs = [(i, (0,), ANALYZERS[DEFAULT_FIELDS[f][1]]) for i, f in enumerate(names)]
    acc: dict = {}
    term_cache: dict = {}
    for i, text in enumerate(pdf[text_col]):
        _, bufs = doc_postings((text,), 1, specs, term_cache)
        if bufs:
            unpack_postings(acc, i, 0, bytes(bufs[0]))
    want_pos = any(isinstance(n, A.Phrase) for n in A.leaves(q))
    postings, pos_map = {}, {}
    for (fid, term), (ids, _tfs, _dls, poss) in acc.items():
        key = (names[fid], term.decode("utf-8"))
        postings[key] = np.asarray(ids, dtype=np.int64)
        if want_pos:  # position bytes are LEB128 deltas from 0
            pos_map[key] = (postings[key], [np.cumsum(varint_decode(p)) for p in poss])

    def leaf(node: A.Node) -> np.ndarray:
        if not isinstance(node, (A.HasField, A.NumberEq, A.NumberRange)):
            raise TypeError(f"unsupported node: {node!r}")
        c = pdf[node.field_name]
        hit = c.notna()
        if isinstance(node, A.NumberEq):
            hit &= c == node.value
        elif isinstance(node, A.NumberRange):
            if node.lo is not None:
                hit &= c >= node.lo if node.lo_inclusive else c > node.lo
            if node.hi is not None:
                hit &= c <= node.hi if node.hi_inclusive else c < node.hi
        return np.flatnonzero(hit.to_numpy(dtype=bool))

    return _eval_numpy(q, postings, len(pdf), pos_map, leaf)


def _matching_rows(df: DataFrame, query: A.Node, text_col: str) -> DataFrame:
    """The rows of `df` (a stream or a snapshot) that match `query`,
    with `df`'s schema: one mapInPandas keeps each Arrow batch's
    _batch_ids rows. A token, phrase or scan leaf on a field outside
    DEFAULT_FIELDS raises ValueError."""
    q = A.rewrite(query)
    if any(isinstance(n, A.CachedFilter) for n in A.leaves(q)):
        raise TypeError(
            "CachedFilter is snapshot-scoped and cannot apply to future "
            "batches (a new stream doc is never in a filter cached over "
            "committed postings); evaluate the underlying query instead"
        )
    token_leaves = (A.Token, A.Phrase, A.TokenRange, A.TextContains)
    for n in A.leaves(q):
        if isinstance(n, token_leaves) and n.field_name not in DEFAULT_FIELDS:
            # _batch_ids inverts only the default fields: any other
            # field would match no row
            raise ValueError(
                f"field {n.field_name!r} is not one a stream batch is "
                f"inverted into ({', '.join(sorted(DEFAULT_FIELDS))})"
            )

    def task(batches):
        for pdf in batches:
            yield pdf.iloc[_batch_ids(q, pdf, text_col)]

    return df.mapInPandas(task, df.schema)


def continuous_query(
    spark: SparkSession,
    query: A.Node,
    mode: QueryMode,
    stream_dir: str,
    schema,
    current_df: DataFrame | None = None,
    text_col: str = "text",
    sort: list | None = None,
    current_catalog=None,
):
    """Build the (stream, snapshot) pair for a continuous boolean query.

    Returns (streaming_df_or_None, current_result_df_or_None). The
    caller attaches a sink (memory/foreachBatch) and starts it —
    keeping start/stop at the edge makes the plan testable.

    The FUTURE side filters each micro-batch in one mapInPandas
    (_matching_rows): the batch is inverted into an in-memory segment
    and evaluated by the engine's _eval_numpy, not compiled to a
    Catalyst predicate, so it answers every query execute_boolean
    answers, with the same results. CachedFilter raises TypeError.

    The CURRENT side evaluates against either `current_df` (the same
    per-batch filter over the snapshot — the small/ad-hoc path) or
    `current_catalog` (an IndexCatalog: the committed-index snapshot
    via the posting-list engine — the reference's CURRENT semantics,
    base-inverted-index.ts:457-489, where the snapshot IS the committed
    segments; at scale the scan path would re-tokenize the corpus per
    subscription). With `index_append_sink` feeding the same index,
    CURRENT_AND_FUTURE composes as committed-snapshot + fresh-batch
    filters exactly like the reference's committed + mutable split."""
    if sort and mode is not QueryMode.CURRENT:
        # exact reference restriction (base-inverted-index.ts:431)
        raise ValueError("future queries cannot have sort clauses")

    stream_df = None
    if mode in (QueryMode.FUTURE, QueryMode.CURRENT_AND_FUTURE):
        src = spark.readStream.schema(schema).parquet(stream_dir)
        stream_df = _matching_rows(src, query, text_col)

    cur = None
    if mode in (QueryMode.CURRENT, QueryMode.CURRENT_AND_FUTURE):
        if current_catalog is not None:
            cur = search(current_catalog, query, sort=sort)
        elif current_df is not None:
            cur = _matching_rows(current_df, query, text_col)
            if sort:
                cur = cur.orderBy(
                    *[
                        F.col(c).asc() if d == "asc" else F.col(c).desc()
                        for c, d in sort
                    ]
                )
        else:
            raise ValueError(
                "CURRENT modes need the current snapshot (current_df or "
                "current_catalog)"
            )
    return stream_df, cur


def index_append_sink(
    spark: SparkSession,
    stream_dir: str,
    schema,
    index_dir: str,
    seg_size: int = 1 << 20,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = False,
    **build_kwargs,
):
    """Durable streaming ingest: every micro-batch of arriving pages is
    committed as NEW index segments by ``build_index`` onto the index —
    the streaming-commit half of the reference's "added" batches
    (base-inverted-index.ts:283-287 queues adds into the mutable
    segment; :511-534 commits it immutable). continuous_query covers
    the query side (fresh batches match FUTURE filters); this sink
    makes those batches durable and searchable by every later batch
    query (SURVEY §3.4).

    Each batch takes a fresh segment range starting at the next free
    segment boundary (past the newest manifest's last segment), so
    batches never share a segment, and its commit publishes the next
    manifest with the batch id. A replayed batch — Spark re-runs a
    micro-batch whose foreachBatch crashed before the stream checkpoint
    advanced — either was never published, and then lands on the same
    next free range, overwriting what the crashed attempt wrote
    (dynamic partition overwrite), or was, and is skipped. term_stats
    folds ONLY the batch's new segments' postings into a new dictionary
    version (indexer._fold_term_stats — per-batch cost is O(batch
    postings) + O(dictionary), never a re-read of the old segments'
    postings), and the manifest's corpus stats add the batch's doc
    counts and lengths.

    Returns the started StreamingQuery (caller stops it)."""
    src = spark.readStream.schema(schema).parquet(stream_dir)
    committer = make_append_committer(
        index_dir, seg_size=seg_size, **build_kwargs
    )
    w = src.writeStream.foreachBatch(committer)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def make_append_committer(index_dir: str, seg_size: int = 1 << 20, **build_kwargs):
    """The foreachBatch body of index_append_sink, exposed so replay
    semantics are directly testable: a second call with a published
    batch_id is skipped, and a call whose first attempt crashed before
    its publish re-runs on the same segment range."""
    from yaii_spark.indexer import assign_dense_ids, build_index
    from yaii_spark.storage import read_manifest

    def commit(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        m = read_manifest(sp, index_dir)
        # Spark's micro-batch ids increase, and only the last batch is
        # ever replayed: a batch id at or below the published one is
        # already in the index
        if m is not None and m.sink_batch is not None and batch_id <= m.sink_batch:
            return
        start = (max(m.segments) + 1) * seg_size if m is not None else 0
        # ONE cache of the batch serves the dense-id partition counts and
        # the build's tokenize pass — released in the finally (caches pin
        # block-manager memory until unpersisted; a sink runs thousands
        # of batches)
        batch_df = batch_df.persist()
        pages = assign_dense_ids(batch_df, start)
        try:
            build_index(
                sp, pages, index_dir, seg_size=seg_size,
                _sink_batch=int(batch_id), **build_kwargs,
            )
        finally:
            batch_df.unpersist()
            h = getattr(pages, "_dense_ids_cache", None)
            if h is not None:
                h.unpersist()

    return commit

