"""Index maintenance CLI — the ops surface next to submit_build.py.

    python scripts/maintain.py info        --index /path/idx
    python scripts/maintain.py delete      --index /path/idx --ids 5,17,90
    python scripts/maintain.py bulk-delete --index /path/idx --ids-table /path/ids.parquet
    python scripts/maintain.py merge       --index /path/idx --output /path/idx2 --factor 8

`info` prints corpus stats and one row per live segment (the
manifest's segments with seg_meta's doc count, and their posting rows
and postings counted from the postings table at call time) as one JSON
line;
`delete` tombstones docs (queries exclude them immediately);
`bulk-delete` tombstones every doc_id in a parquet table without a
driver-side list (indexer.delete_docs_df — the 100-TB path);
`merge` compacts `factor` adjacent segments into one (fully
distributed) and EXPUNGES tombstones in the same pass — postings and
docs rows of deleted docs are dropped, and the output's tombstones
record them (see indexer.merge_segments). All paths go through the
storage seam, so the same commands work on Iceberg-backed indexes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("command", choices=["info", "delete", "bulk-delete", "merge"])
    ap.add_argument("--index", required=True, help="index root directory")
    ap.add_argument("--output", help="merge: output index directory")
    ap.add_argument("--factor", type=int, default=8, help="merge: segments per merged segment")
    ap.add_argument("--ids", default="", help="delete: comma-separated doc ids")
    ap.add_argument("--ids-table", default="", help="bulk-delete: parquet path with a doc_id column")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from yaii_spark.indexer import delete_docs, delete_docs_df, merge_segments
    from yaii_spark.session import get_spark
    from yaii_spark.storage import IndexCatalog

    spark = get_spark("yaii-maintain", master=args.master)
    cat = IndexCatalog(spark, args.index)
    if not cat.exists():
        raise SystemExit(f"no complete index at {args.index}")

    if args.command == "info":
        from pyspark.sql import functions as F

        s = cat.corpus_stats()
        counts = cat.postings().groupBy("seg_id").agg(
            F.count("*").alias("n_terms"), F.sum("df_local").alias("n_postings_docs")
        )
        segs = [
            r.asDict()
            for r in cat.seg_meta().select("seg_id", "n_docs")
            .join(counts, "seg_id", "left").na.fill(0).orderBy("seg_id").collect()
        ]
        tomb = cat.tombstones()
        print(json.dumps({
            "n_docs": s.n_docs, "avgdl": s.avgdl, "seg_size": s.seg_size,
            "block_size": s.block_size, "k1": s.k1, "b": s.b,
            "n_segments": len(cat.manifest().segments),
            "n_tombstones": tomb.count() if tomb is not None else 0,
            "segments": segs,
        }))
    elif args.command == "delete":
        ids = [int(x) for x in args.ids.split(",") if x]
        if not ids:
            raise SystemExit("delete: pass --ids id1,id2,...")
        n = delete_docs(spark, args.index, ids)
        print(json.dumps({"tombstoned": n}))
    elif args.command == "bulk-delete":
        if not args.ids_table:
            raise SystemExit("bulk-delete: pass --ids-table <parquet path>")
        from yaii_spark.storage import read_table

        n = delete_docs_df(spark, args.index, read_table(spark, args.ids_table))
        print(json.dumps({"tombstoned": n}))
    else:
        if not args.output:
            raise SystemExit("merge: pass --output")
        m = merge_segments(spark, args.index, args.output, args.factor)
        print(json.dumps(m))


if __name__ == "__main__":
    main()
