"""Continuous queries — QueryMode CURRENT / FUTURE / CURRENT_AND_FUTURE.

Reference semantics (/root/reference/src/yaii-types.ts:15-19,
base-inverted-index.ts:457-489): FUTURE subscribes to "added" batches
and re-evaluates the boolean filter on each new batch; CURRENT_AND_FUTURE
concatenates the current snapshot's results with the future stream.
Sorted FUTURE queries throw (base-inverted-index.ts:431) — we keep the
exact restriction (Spark can't global-sort an unbounded append stream
either).

Spark-first mapping: the "added event" stream is a Structured Streaming
source over the incoming pages directory; the boolean filter is applied
per micro-batch with the same tokenizer UDF + AST, compiled to a
relational predicate (new docs aren't in the index yet — exactly like
the reference, which scans the mutable segment's fresh batch rather
than committed postings).
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from yaii_spark.analyzer import tokenize_all_udf, tokenize_udf
from yaii_spark.queries import ast as A


class QueryMode(Enum):
    CURRENT = "current"
    CURRENT_AND_FUTURE = "current_and_future"
    FUTURE = "future"


def _phrase_match(col: Column, terms: list[str], slop: int) -> Column:
    """Relational phrase/proximity over a token-array column (pure
    Catalyst HOFs — no Python in the per-batch hot path).

    Engine semantics (executor._ordered_window): ∃ positions
    p_0 < p_1 < … matching the terms in order with p_j ≥ p_{j-1}+1 and
    p_{last} − p_0 ≤ slop + len − 1. Compiled as nested EXISTS over
    per-term position windows: term k may sit anywhere in
    (p_{k-1}, p_0 + slop + k] — the same existence condition the
    engine's greedy minimal chain decides."""
    size = F.size(col)
    n = len(terms)

    def chain(k: int, prev: Column, p0: Column) -> Column:
        if k == n:
            return F.lit(True)
        lo = prev + F.lit(1)
        hi = F.least(p0 + F.lit(slop + k), size)
        seq = F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<int>")
        )
        return F.exists(
            seq,
            lambda p: (F.element_at(col, p) == terms[k]) & chain(k + 1, p, p0),
        )

    starts = F.when(size >= 1, F.sequence(F.lit(1), size)).otherwise(
        F.array().cast("array<int>")
    )
    return F.exists(
        starts, lambda p: (F.element_at(col, p) == terms[0]) & chain(1, p, p)
    )


def compile_predicate(node: A.Node, tokens_col: str = "_tokens") -> Column:
    """Compile a boolean AST to a relational Column predicate over a
    tokenized row — the per-batch evaluation form used for streams
    (and usable as a full-scan fallback for batch). Covers the full
    batch AST except CachedFilter, whose semantics are tied to the
    indexed snapshot (a new stream doc can't be in a filter cached over
    committed postings — parity with the reference, which evaluates
    FUTURE filters on fresh batches only,
    /root/reference/src/base-inverted-index.ts:457-489)."""

    def tok_col(field_name: str) -> Column:
        return F.col("_all_tokens" if field_name == "_all" else tokens_col)

    if isinstance(node, A.Token):
        return F.array_contains(tok_col(node.field_name), node.term)
    if isinstance(node, A.Phrase):
        return _phrase_match(tok_col(node.field_name), list(node.terms), node.slop)
    if isinstance(node, A.TokenRange):
        def in_range(t: Column) -> Column:
            c = F.lit(True)
            if node.lo is not None:
                c = c & (t >= node.lo if node.lo_inclusive else t > node.lo)
            if node.hi is not None:
                c = c & (t <= node.hi if node.hi_inclusive else t < node.hi)
            return c

        return F.exists(tok_col(node.field_name), in_range)
    if isinstance(node, A.TextContains):
        return F.exists(
            tok_col(node.field_name), lambda t: t.contains(node.needle)
        )
    if isinstance(node, A.All):
        return F.lit(True)
    if isinstance(node, A.NoneNode):
        return F.lit(False)
    if isinstance(node, A.And):
        out = F.lit(True)
        for c in node.children:
            out = out & compile_predicate(c, tokens_col)
        return out
    if isinstance(node, A.Or):
        out = F.lit(False)
        for c in node.children:
            out = out | compile_predicate(c, tokens_col)
        return out
    if isinstance(node, A.Not):
        return ~compile_predicate(node.child, tokens_col)
    if isinstance(node, A.NumberEq):
        return F.col(node.field_name) == F.lit(node.value)
    if isinstance(node, A.NumberRange):
        c = F.col(node.field_name)
        cond = F.lit(True)
        if node.lo is not None:
            cond = cond & (c >= node.lo if node.lo_inclusive else c > node.lo)
        if node.hi is not None:
            cond = cond & (c <= node.hi if node.hi_inclusive else c < node.hi)
        return cond
    if isinstance(node, A.HasField):
        return F.col(node.field_name).isNotNull()
    if isinstance(node, A.CachedFilter):
        raise TypeError(
            "CachedFilter is snapshot-scoped and cannot apply to future "
            "batches (a new stream doc is never in a filter cached over "
            "committed postings); evaluate the underlying query instead"
        )
    raise TypeError(node)


def _token_fields(node: A.Node) -> set[str]:
    """Field names whose token arrays the predicate actually reads."""
    if isinstance(node, (A.Token, A.Phrase, A.TokenRange, A.TextContains)):
        return {node.field_name}
    if isinstance(node, (A.And, A.Or)):
        out: set[str] = set()
        for c in node.children:
            out |= _token_fields(c)
        return out
    if isinstance(node, A.Not):
        return _token_fields(node.child)
    return set()


def _filtered(df: DataFrame, query: A.Node, text_col: str) -> DataFrame:
    q = A.rewrite(query)
    fields = _token_fields(q)
    # tokenize only the streams the predicate reads — per-batch UDF
    # work is the stream's hot path, so an attribute-only or
    # single-field query never pays for the unused token column
    added = []
    if any(f != "_all" for f in fields):
        df = df.withColumn("_tokens", tokenize_udf(F.col(text_col)))
        added.append("_tokens")
    if "_all" in fields:
        df = df.withColumn("_all_tokens", tokenize_all_udf(F.col(text_col)))
        added.append("_all_tokens")
    return df.filter(compile_predicate(q)).drop(*added)


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

    The CURRENT side evaluates against either `current_df` (per-row
    scan with the compiled predicate — the small/ad-hoc path) or
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
        stream_df = _filtered(src, query, text_col)

    cur = None
    if mode in (QueryMode.CURRENT, QueryMode.CURRENT_AND_FUTURE):
        if current_catalog is not None:
            from yaii_spark.queries.executor import search as _search

            cur = _search(current_catalog, query, sort=sort)
        elif current_df is not None:
            cur = _filtered(current_df, query, text_col)
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


def windowed_ingest_stats(
    spark: SparkSession, stream_dir: str, schema,
    ts_col: str = "warc_ts", window: str = "1 minute", watermark: str = "5 minutes",
) -> DataFrame:
    """Event-time windowed ingest metrics with late-data handling — new
    surface beyond the reference (it has no watermarks/windows), used
    for build monitoring: docs/bytes per event-time window."""
    src = spark.readStream.schema(schema).parquet(stream_dir)
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("text_bytes"),
        )
        .select("window.start", "window.end", "n_docs", "text_bytes")
    )
