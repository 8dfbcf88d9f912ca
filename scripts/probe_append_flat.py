"""Append-ingest flatness probe (VERDICT r4 #1 done-criterion).

Streams N equal-size micro-batches into one index through
make_append_committer and records each batch's commit wall. With the
incremental term_stats fold the per-batch cost grows only with the
dictionary (the fold rewrites the sorted term_stats run, and a
vocabulary grows far slower than the corpus), not with the postings;
the r4 behavior (full postings re-aggregation per batch) grows
linearly with index size.

Evidence emitted (one JSON line):
- per-batch walls + early/late means and the late/early ratio
  (index is ~5x batch at the early window, ~Nx at the late window)
- term_stats identity: the folded dictionary the manifest names is
  compared row-for-row against a fresh full aggregation over every
  live segment's postings (what _fold_term_stats computes on a first
  publish)

Usage: python scripts/probe_append_flat.py [n_batches] [batch_docs] [seg_size]
Runs on tmpfs (/dev/shm) to keep the IO floor out of the signal.
A seg_size smaller than batch_docs gives many segments per batch —
the regime where the old path's per-batch postings scan (rows =
segments x per-segment vocabulary) visibly grows while the fold stays
batch-scoped.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    batch_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 16384
    seg_size = int(sys.argv[3]) if len(sys.argv) > 3 else batch_docs

    from pyspark.sql import functions as F

    from yaii_spark.session import get_spark
    from yaii_spark.storage import IndexCatalog
    from yaii_spark.streaming import make_append_committer

    spark = get_spark("append-flat-probe")
    from yaii_spark.synth import gen_pages

    root = "/dev/shm/yaii_append_probe"
    shutil.rmtree(root, ignore_errors=True)
    idx = os.path.join(root, "idx")

    commit = make_append_committer(
        idx, seg_size=seg_size, stored_cols=["url", "text", "lang", "num_attr"]
    )
    # one deterministic batch, regenerated per commit (the committer
    # reassigns dense ids into each batch's fresh segment range)
    walls = []
    for b in range(n_batches):
        pages = gen_pages(spark, batch_docs, include_fixtures=False)
        t0 = time.time()
        commit(pages, b)
        walls.append(round(time.time() - t0, 3))
        print(f"batch {b}: {walls[-1]:.2f}s", flush=True)

    # identity: folded dictionary == full aggregation over ALL postings
    cat = IndexCatalog(spark, idx)
    full = cat.postings().groupBy("field", "term").agg(
        F.sum("df_local").alias("df_f"), F.sum("cf_local").alias("cf_f")
    )
    ts = cat.term_stats()
    joined = ts.join(full, ["field", "term"], "full_outer")
    n_mismatch = joined.filter(
        (F.col("df").isNull())
        | (F.col("df_f").isNull())
        | (F.col("df") != F.col("df_f"))
        | (F.col("cf") != F.col("cf_f"))
    ).count()
    n_terms = ts.count()

    # window stats need enough batches that the early (post-warmup) and
    # late windows don't overlap; degrade to halves for short runs
    if n_batches >= 10:
        e_win, l_win = walls[2:6], walls[-4:]
    else:
        mid = max(1, len(walls) // 2)
        e_win, l_win = walls[:mid], walls[mid:]
    early = sum(e_win) / len(e_win)
    late = sum(l_win) / len(l_win)
    out = {
        "n_batches": n_batches,
        "batch_docs": batch_docs,
        "seg_size": seg_size,
        "walls": walls,
        "early_mean_s": round(early, 3),
        "late_mean_s": round(late, 3),
        "late_over_early": round(late / early, 3),
        "term_stats_rows": n_terms,
        "term_stats_mismatches": n_mismatch,
    }
    print(json.dumps(out), flush=True)
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
