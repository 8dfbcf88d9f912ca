"""Where a query stops being cheaper on the driver than as one Spark job.

Two sweeps on `local[4]`, each query forced onto each placement of
`executor.run_per_segment` by setting `executor.DRIVER_POSTINGS` (0:
one job; above every size: the driver). A timed call is the query plus
`collect()`, as perfbench times it; the figure is the median of the
warm calls after one untimed call.

- **postings**: one index of 131,072 docs in 4 segments of 2**15 docs
  (one postings file each). Level m (0..10) has eight words, each in
  every 2**m-th doc and in the same order there, so an eight-word
  query of level m decodes 8 * 131072 / 2**m postings: 1,024 at m=10
  up to about 10**6 at m=0. Per level: AND and OR of the eight words,
  their phrase (positions decode too) and BM25 top-10 over them.
- **files**: indexes of 1 to 64 segments at the default seg_size
  (2**20 docs: 16 term-hash postings files and one seg_meta file per
  segment), 16 docs in each, so a query's postings stay in the
  hundreds while the files the task body opens grow to 1,088. Per
  index: AND of two words in every doc and BM25 top-10 over them.

Prints one JSON line per (sweep, query, size) and then, per sweep and
query, the smallest size from which the job placement wins at every
larger size: Σ df for the postings sweep, the postings + seg_meta file
count for the files sweep. `executor.DRIVER_POSTINGS` and
`executor.FILE_POSTINGS` are set from these.

Usage: python scripts/probe_placement.py [calls] [work_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the daemon module whatever the current directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

N_DOCS, SEG, LEVELS, WIDTH = 1 << 17, 1 << 15, 11, 8
SEG_COUNTS, SEG_DOCS = (1, 2, 4, 8, 16, 32, 64), 16


def _words(m: int) -> list[str]:
    return [f"l{m}w{j}" for j in range(WIDTH)]


def _build_postings(spark, out: str) -> None:
    from pyspark.sql import functions as F

    from yaii_spark.indexer import build_index

    i = F.col("id")
    parts = [
        F.when(i % (1 << m) == 0, F.lit(" ".join(_words(m)))) for m in range(LEVELS)
    ]
    pages = spark.range(N_DOCS, numPartitions=4).select(
        i.alias("doc_id"), F.concat_ws(" ", F.concat(F.lit("f"), i % 97), *parts).alias("text")
    )
    build_index(spark, pages, out, seg_size=SEG)


def _build_files(spark, out: str, n_segs: int) -> None:
    """`n_segs` default-size segments of SEG_DOCS docs each: doc ids
    seg << 20 | j, every doc holding "fa fb" and a few varied words."""
    from pyspark.sql import functions as F

    from yaii_spark.indexer import build_index

    i = F.col("id")
    pages = spark.range(n_segs * SEG_DOCS, numPartitions=4).select(
        ((i / SEG_DOCS).cast("long") * (1 << 20) + i % SEG_DOCS).alias("doc_id"),
        F.concat_ws(" ", F.lit("fa fb"), *(F.concat(F.lit(f"v{p}x"), i % p) for p in (7, 31, 97)))
        .alias("text"),
    )
    build_index(spark, pages, out)


def _median_s(fn, calls: int) -> float:
    fn()  # fills the dictionary cache, warms the workers
    walls = []
    for _ in range(calls):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _time_both(executor, q, calls: int) -> dict:
    got = {}
    for placement, limit in (("driver", 1 << 62), ("job", 0)):
        executor.DRIVER_POSTINGS = limit
        got[placement] = _median_s(lambda: q().collect(), calls)
    return got


def _crossover(rows: list) -> int | None:
    """The smallest size from which the job wins at every larger size."""
    cross = None
    for size, job_wins in reversed(rows):
        if not job_wins:
            break
        cross = size
    return cross


def main():
    from yaii_spark.queries import ast as A, executor
    from yaii_spark.queries.bm25 import bm25_topk
    from yaii_spark.queries.executor import execute_boolean
    from yaii_spark.session import get_spark
    from yaii_spark.storage import IndexCatalog

    calls = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="probe-placement-")
    spark = get_spark("placement-probe", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    shapes = {
        "and": lambda cat, w: execute_boolean(cat, A.and_(*map(A.token, w))),
        "or": lambda cat, w: execute_boolean(cat, A.or_(*map(A.token, w))),
        "phrase": lambda cat, w: execute_boolean(cat, A.phrase(w)),
        "bm25_top10": lambda cat, w: bm25_topk(cat, w, k=10),
    }
    wins: dict[tuple, list] = {}

    def record(sweep, name, size, got, **extra):
        wins.setdefault((sweep, name), []).append((size, got["job"] < got["driver"]))
        print(json.dumps({
            "sweep": sweep, "query": name, "size": size, **extra,
            "driver_s": round(got["driver"], 4), "job_s": round(got["job"], 4),
        }), flush=True)

    try:
        out = os.path.join(work, "postings")
        if not IndexCatalog(spark, out).exists():
            _build_postings(spark, out)
        cat = IndexCatalog(spark, out).prewarm()
        for m in reversed(range(LEVELS)):
            w = _words(m)
            postings = sum(df for df, _ in cat.term_stats_for([("text", t) for t in w]).values())
            for name, q in shapes.items():
                record("postings", name, postings, _time_both(executor, lambda: q(cat, w), calls))
        for n_segs in SEG_COUNTS:
            out = os.path.join(work, f"files_{n_segs}")
            if not IndexCatalog(spark, out).exists():
                _build_files(spark, out, n_segs)
            cat = IndexCatalog(spark, out).prewarm()
            files = sum(len(p) + len(m) for _, p, m in cat.segment_file_list())
            for name in ("and", "bm25_top10"):
                got = _time_both(executor, lambda: shapes[name](cat, ["fa", "fb"]), calls)
                record("files", name, files, got, segments=n_segs,
                       postings=2 * n_segs * SEG_DOCS)
    finally:
        spark.stop()
    crossover = {f"{s}:{n}": _crossover(rows) for (s, n), rows in wins.items()}
    print(json.dumps({"calls": calls, "crossover": crossover}))


if __name__ == "__main__":
    main()
