"""The workloads: search_mix and ingest_search.

Each is a closed loop with one client: the next operation starts when
the previous one has returned. Set-up (Spark start, corpus generation,
the index build and, on search_mix, its merge, then one untimed round
of queries) runs first; then the timed phase repeats the workload's
unit until `seconds` have passed, and always runs at least one unit.
Every query result is checked against the numpy oracle outside the
timed call; an exception or a mismatch fails the operation and counts
as an infinitely slow query in the percentiles.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen import CLASSES, Docs, Generator, Query
from oracle import TOP_K, Oracle
from yaii_spark import indexer, streaming
from yaii_spark.queries import ast as A
from yaii_spark.queries.bm25 import bm25_topk
from yaii_spark.queries.executor import execute_boolean
from yaii_spark.storage import IndexCatalog

#: query kinds and their weights within their class
MIX = {
    "and": 2.0, "or": 1.0, "andnot": 1.0,
    "phrase0": 1.0, "phrase2": 1.0,
    "bm25_or": 1.0, "bm25_and": 1.0,
    "bm25_pruned": 1.0,
}

#: input sizes (documents)
SEARCH_DOCS, MERGE_FACTOR = 4096, 2
INGEST_BASE_DOCS, INGEST_SEG, INGEST_BATCH, INGEST_DELETES = 4096, 1024, 512, 32
INGEST_ROUNDS = 2  # query rounds after each commit

BATCH_SCHEMA = "url string, text string"


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (failed ops are +inf and sort last)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _ast(q: Query):
    toks = [A.token(t) for t in q.terms]
    if q.kind == "and":
        return A.and_(*toks)
    if q.kind == "or":
        return A.or_(*toks)
    if q.kind == "andnot":
        return A.and_(toks[0], A.not_(toks[1]))
    return A.phrase(list(q.terms), slop=0 if q.kind == "phrase0" else 2)


class Workload:
    """Shared state of one run: session, tracer, oracle and the samples."""

    def __init__(self, sess, tracer, seed: int, seconds: float, t_process: float):
        self.sess = sess
        self.tr = tracer
        self.seed = seed
        self.seconds = seconds
        self.t_process = t_process
        self.lat: dict[str, list[float]] = {c: [] for c in CLASSES}
        self.attempted = 0
        self.failed = 0
        self.build_rates: list[float] = []
        self.merge_rates: list[float] = []
        self.append_s: list[float] = []
        self.appended_docs = 0
        self.setup_s = 0.0
        self.timed_s = 0.0
        self.t_timed = 0.0
        self.built_text_bytes = 0  # text behind every build and commit
        self.index_bytes = 0
        self.index_text_bytes = 0
        self.table_bytes: dict[str, int] = {}
        self.gen = Generator(seed)
        self.oracle = Oracle(self.gen.vocab)

    # ---- set-up helpers ----
    def start(self):
        self.spark = self.sess.start()
        self.tr.install()
        return self.spark

    def pages(self, docs: Docs, first_id: int) -> tuple[pd.DataFrame, int]:
        """Rows (doc_id, url, text) for docs; also their text bytes."""
        texts = docs.texts(self.gen.vocab)
        ids = np.arange(first_id, first_id + docs.n, dtype=np.int64)
        pdf = pd.DataFrame({
            "doc_id": ids, "url": [f"https://bench.example/{i}" for i in ids], "text": texts,
        })
        return pdf, sum(len(t) for t in texts)

    def build(self, docs: Docs, out_dir: str, seg_size: int) -> None:
        """Write docs 0..n-1 to parquet and build the index over it."""
        pdf, text_bytes = self.pages(docs, 0)
        path = self.sess.path("pages.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        pages = self.spark.read.parquet(path)
        t0 = time.perf_counter()
        self.op(lambda: indexer.build_index(
            self.spark, pages, out_dir, seg_size=seg_size, stored_cols=["url"], resume=False,
        ))
        self.build_rates.append(docs.n / (time.perf_counter() - t0))
        self.built_text_bytes += text_bytes
        self.oracle.add(docs, 0)

    def measure_index(self, index_dir: str) -> None:
        """On-disk size of an index holding every doc built so far."""
        self.index_bytes = dir_bytes(index_dir)
        self.index_text_bytes = self.built_text_bytes
        self.table_bytes = {
            t: dir_bytes(os.path.join(index_dir, t))
            for t in ("postings", "docs", "seg_meta", "term_stats")
        }

    # ---- operations ----
    def op(self, fn) -> bool:
        """Run one non-query operation; False (and counted) if it raised."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False

    def query(self, cat, q: Query, timed: bool = True) -> None:
        """Issue q and check its result against the oracle."""
        is_bm25 = q.cls in ("bm25", "bm25_pruned")
        mode = "and" if q.kind == "bm25_and" else "or"
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span("query", cls=q.cls, kind=q.kind):
                with self.tr.span("queries.plan"):
                    if is_bm25:
                        df = bm25_topk(
                            cat, list(q.terms), k=TOP_K, mode=mode,
                            prune=q.kind == "bm25_pruned",
                        )
                    else:
                        df = execute_boolean(cat, _ast(q))
                with self.tr.span("bm25.exec" if is_bm25 else "executor.exec"):
                    rows = df.collect()
            dt = time.perf_counter() - t0
            if is_bm25:
                got = [(int(r.doc_id), float(r.score)) for r in rows]
                ok = self.oracle.check_bm25(q.terms, mode, got)
            else:
                got = np.sort(np.array([int(r.doc_id) for r in rows], dtype=np.int64))
                ok = np.array_equal(got, self.oracle.boolean(q))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"query failed the oracle check: {q}", file=sys.stderr)
            dt = math.inf
        if timed:
            self.lat[q.cls].append(dt)

    @contextmanager
    def timed(self):
        """The measured phase; set-up time is everything before it."""
        self.t_timed = time.perf_counter()
        self.setup_s = self.t_timed - self.t_process
        with self.tr.span("timed"):
            yield
        self.timed_s = time.perf_counter() - self.t_timed

    def time_up(self) -> bool:
        return time.perf_counter() - self.t_timed >= self.seconds

    # ---- results ----
    def metrics(self, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
        """Every end-to-end number of the run (name → (value, unit));
        the merge and append metrics only where the workload has them."""
        all_lat = [x for c in CLASSES for x in self.lat[c]]
        done = [x for x in all_lat if math.isfinite(x)]
        out = {
            "setup_s": (self.setup_s, "s"),
            "query_p50_s": (statistics.median(all_lat), "s"),
            "query_p90_s": (percentile(all_lat, 0.9), "s"),
        }
        for c in CLASSES:
            out[f"{c}_p50_s"] = (statistics.median(self.lat[c]), "s")
        out["queries_per_s"] = (len(done) / sum(done) if done else 0.0, "1/s")
        out["build_docs_per_s"] = (statistics.median(self.build_rates), "docs/s")
        out["index_bytes_per_text_byte"] = (self.index_bytes / self.index_text_bytes, "ratio")
        out["peak_rss_mb"] = (peak_rss_mb, "MB")
        out["ops_failed_frac"] = (self.failed / max(1, self.attempted), "ratio")
        if self.merge_rates:
            out["merge_docs_per_s"] = (statistics.median(self.merge_rates), "docs/s")
        if self.append_s:
            out["append_docs_per_s"] = (self.appended_docs / sum(self.append_s), "docs/s")
            out["append_batch_p50_s"] = (statistics.median(self.append_s), "s")
        return out


def search_mix(w: Workload) -> None:
    """Read-only query mix over one index, built and merged in set-up."""
    spark = w.start()
    docs = w.gen.docs(SEARCH_DOCS)
    # 2 x cores segments before the merge, cores after it
    n_segs = MERGE_FACTOR * spark.sparkContext.defaultParallelism
    built, idx = w.sess.path("built"), w.sess.path("index")
    w.build(docs, built, -(-docs.n // n_segs))
    w.measure_index(built)
    t0 = time.perf_counter()
    if w.op(lambda: indexer.merge_segments(spark, built, idx, MERGE_FACTOR)):
        w.merge_rates.append(docs.n / (time.perf_counter() - t0))
    cat = IndexCatalog(spark, idx)
    stream = w.gen.query_stream(docs, MIX)
    for q in stream.round():  # checks the merged index; fills caches
        w.query(cat, q, timed=False)
    with w.timed():
        while True:
            for q in stream.round():
                w.query(cat, q)
            if w.time_up():
                break


def ingest_search(w: Workload) -> None:
    """Micro-batch commits and deletes beside queries on fresh catalogs."""
    from yaii_spark import indexer, streaming
    from yaii_spark.storage import IndexCatalog

    spark = w.start()
    base = w.gen.docs(INGEST_BASE_DOCS)
    idx = w.sess.path("index")
    w.build(base, idx, INGEST_SEG)
    commit = w.tr.wrap(
        "streaming.commit",
        streaming.make_append_committer(idx, seg_size=INGEST_SEG, stored_cols=["url"]),
    )
    stream = w.gen.query_stream(base, MIX)
    rng = np.random.default_rng([w.seed, 3])
    # the committer starts each batch at the next free segment boundary
    next_id = -(-base.n // INGEST_SEG) * INGEST_SEG
    span = -(-INGEST_BATCH // INGEST_SEG) * INGEST_SEG
    # no warm-up round: every timed query runs on a catalog opened
    # after the latest commit, so caches are cold by design
    with w.timed():
        batch_id = 0
        while True:
            batch = w.gen.docs(INGEST_BATCH)
            pdf, batch_bytes = w.pages(batch, next_id)
            bdf = spark.createDataFrame(pdf[["url", "text"]], BATCH_SCHEMA)
            t0 = time.perf_counter()
            if w.op(lambda: commit(bdf, batch_id)):
                w.append_s.append(time.perf_counter() - t0)
                w.appended_docs += batch.n
            w.oracle.add(batch, next_id)
            next_id += span
            w.built_text_bytes += batch_bytes
            victims = rng.choice(w.oracle.live_doc_ids(), size=INGEST_DELETES, replace=False)
            w.op(lambda: indexer.delete_docs(spark, idx, [int(v) for v in victims]))
            w.oracle.delete(victims)
            cat = IndexCatalog(spark, idx)
            for _ in range(INGEST_ROUNDS):
                for q in stream.round():
                    w.query(cat, q)
            batch_id += 1
            if w.time_up():
                break
    w.measure_index(idx)


WORKLOADS = {
    "search_mix": search_mix,
    "ingest_search": ingest_search,
}
