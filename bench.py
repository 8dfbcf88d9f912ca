"""Benchmark harness (driver contract).

Runs the headline workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf", ...extras}.

Workload:
  1. index build over the sf documents corpus + a 30k-page synthetic
     Common-Crawl-style table (build throughput, docs/sec)
  2. the headline query set (boolean, phrase, dictionary-range, BM25,
     sort and aggregation queries over the index) — warm once, then
     median of 3 timed runs each

`value` = sum of per-query medians (total query seconds, lower=better);
build throughput rides in "build". scripts/scaling_bench.py runs this
at two parallelism levels for the N→4N scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# this Firecracker host oversubscribes vCPUs above ~8: local[32] is
# measurably SLOWER than local[8] on the same job (BENCH/BASELINE.md
# controls: even pure-ALU work gains only ~2.4x from 8->32 threads).
# The headline bench therefore runs at min(requested, 8) — the last
# parallelism level where wall time measures the engine, not the host.
# Set BENCH_HONEST_CAP=0 to disable the cap.
CAP = int(os.environ.get("BENCH_HONEST_CAP", "8"))
USED_CPUS = min(CPUS, CAP) if CAP > 0 else CPUS
SYNTH_DOCS = int(os.environ.get("BENCH_SYNTH_DOCS", "200000"))
REPEATS = int(os.environ.get("BENCH_REPEATS", "3"))

HEADLINE = [
    "q_token", "q_and", "q_or", "q_not",
    "q_phrase", "q_phrase_slop", "q_token_range",
    "q_bm25_rare", "q_bm25_mixed", "q_bm25_and", "q_bm25_pruned",
    "q_sort_limit", "q_group_by_lang",
]


def main() -> None:
    from yaii_spark.session import get_spark
    from yaii_spark.indexer import build_index
    from yaii_spark.storage import IndexCatalog
    from yaii_spark.synth import gen_pages
    from yaii_spark import entrypoint as EP

    # shuffle/spill on tmpfs — a cluster node's local-NVMe analogue;
    # the sandbox's single shared virtual disk otherwise caps >4-thread
    # runs at its bandwidth (BENCH/BASELINE.md measurement notes)
    local_dir = "/dev/shm/spark-local"
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        "yaii-bench", master=f"local[{USED_CPUS}]", shuffle_partitions=USED_CPUS,
        extra_conf={"spark.local.dir": local_dir},
    )
    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

    tmp = tempfile.mkdtemp(prefix="yaii_bench_")
    try:
        # ---- 1. index-build throughput on the synthetic pages table ----
        # materialize the synthetic corpus to parquet first: the timed
        # region is read→tokenize→postings→write, like a real build over
        # an Iceberg input table (generation cost excluded)
        gen_pages(spark, SYNTH_DOCS, include_fixtures=False, partitions=max(USED_CPUS * 4, 32)).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/pages")
        pages = spark.read.parquet(f"{tmp}/pages")
        t0 = time.time()
        # seg_size 1024 → ~200 segments: enough segment-keyed tasks to
        # fill 32 cores (at production scale segments >> cores anyway)
        m = build_index(
            spark, pages, f"{tmp}/synth_idx", seg_size=1024,
            stored_cols=["url", "lang"], resume=False,
        )
        build_wall = time.time() - t0
        build = {
            "n_docs": SYNTH_DOCS,
            "wall_sec": round(build_wall, 3),
            "docs_per_sec": round(SYNTH_DOCS / build_wall, 1),
            "segments": m["segments_built"],
        }

        # ---- 2. query latencies over the sf corpus index ----
        # (fresh build into the bench tmp dir so sf-cache state doesn't
        # pollute timing; then warm + 3 timed runs per query)
        EP._CACHE_ROOT = f"{tmp}/cache"
        qs = EP.queries()
        EP.get_index(spark, SF_DIR)  # build once, outside query timing
        latencies: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs[name]
            fn(spark, SF_DIR).collect()  # warm
            runs = []
            for _ in range(REPEATS):
                t0 = time.time()
                fn(spark, SF_DIR).collect()
                runs.append(time.time() - t0)
            latencies[name] = round(statistics.median(runs), 4)

        total = round(sum(latencies.values()), 4)
        p50 = round(statistics.median(latencies.values()), 4)
        print(
            json.dumps(
                {
                    "metric": "yaii_spark: headline query set total wall (index build reported in 'build')",
                    "value": total,
                    "unit": "sec",
                    "queries": latencies,
                    "sf": sf,
                    # "cpus" is the level the run ACTUALLY used (the
                    # honest cap); the env request rides separately so
                    # no consumer misattributes parallelism
                    "cpus": USED_CPUS,
                    "cpus_requested": CPUS,
                    "cpus_used": USED_CPUS,
                    "query_p50_sec": p50,
                    "build": build,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
