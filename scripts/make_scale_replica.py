"""Layout-faithful N× replica of an sf testdata dir (scale validation).

The driver's escalated-scale data (sf1.0) is generated and removed by
the driver itself; to validate that optimizations hold at both sizes
(OPTIMIZATION_r06.md §10 and the 10× bench run) this builds a replica
of the two tables the queries read, ``documents`` and ``events``, that
preserves what matters for PERFORMANCE shape — single-FILE tables of
one row group, keys shifted per copy so they stay unique — while
making no claim of oracle-level content fidelity (check_oracles stays
on the real sf dirs). The source's other tables are not copied.

Usage:
    python scripts/make_scale_replica.py [src_dir] [dst_dir] [factor]
    # defaults: /root/testdata/sf0.1 /dev/shm/sf1.0 10
    SPARK_GRAFT_SF_DIR=/dev/shm/sf1.0 python bench.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the replicated tables and the key columns shifted per copy (offset =
# max+1 per column, so copy i's keys are disjoint from copy j's)
SHIFT = {
    "documents.parquet": ["doc_id"],
    "events.parquet": ["event_id", "user_id"],
}


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/sf1.0"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    for name, keys in SHIFT.items():
        t = pq.read_table(os.path.join(src, name))
        offs = {c: pc.add(pc.max(t[c]).cast("int64"), 1) for c in keys}
        copies = []
        for i in range(factor):
            cols = {}
            for f in t.schema.names:
                col = t[f]
                if f in offs and i > 0:
                    col = pc.add(
                        col.cast("int64"), pc.multiply(offs[f], i)
                    ).cast(t.schema.field(f).type)
                cols[f] = col
            copies.append(pa.table(cols, schema=t.schema))
        out = pa.concat_tables(copies)
        # ONE row group: the unsplittable-scan shape of the driver's data
        pq.write_table(
            out, os.path.join(dst, name), row_group_size=max(len(out), 1),
            compression="snappy",
        )
        print(name, len(out))
    with open(os.path.join(dst, "_DONE"), "w") as f:
        f.write(f"replica of {src} x{factor}, shifted keys\n")


if __name__ == "__main__":
    main()
