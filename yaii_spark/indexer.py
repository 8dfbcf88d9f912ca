"""Distributed inverted-index build (SURVEY.md §7.1 M3).

Dataflow (one DataFrame lineage; ONE wide shuffle for every field,
then the parquet/Iceberg commit):

    pages ──tokenize+invert (pandas UDF)──► per-doc packed posting
          blobs, one per term-hash shard (analyzer.doc_postings —
          LEB128-framed entries; the per-doc combine happens INSIDE the
          UDF, like Lucene's inverter, and the blob layout avoids the
          Arrow nested-struct conversion that measured ~95% of the
          tokenize stage)
          ──explode ~shards rows/doc──► (seg_id, doc_id, dl, shard, data)
          ──hash(seg_id), groupBy(seg_id, shard)──► decode frames,
          concat runs, delta+varint posting rows + (tf, dl) block
          impacts (_encode_group_batched)                    [shuffle]
          ──write postings partitioned by seg_id, sorted by (field, term)

Every field takes this path: custom analyzers and multi-source fields
are pure functions run inside the same UDF, over extra source columns.
`_encode_group_batched` writes every posting row, the merge's too. The
rows store no BM25 norm: a block's bound is its (tf, dl) impacts, valid
under any avgdl, so no write depends on the corpus avgdl and appended
segments need no bound upkeep.

Scale design decisions (the 100 TB story):

- **Skew bound by segmentation.** A posting-list group is at most
  ``seg_size`` docs (default 2^20), so even a stopword-grade hot term
  ("the" in 40% of 10^12 docs) produces ≤1M-entry groups per segment —
  the segment axis IS the salt, and it needs no second merge pass
  because BM25/boolean evaluation is segment-local by construction
  (same reason Lucene shards). The shuffle keys on (seg, term-shard) —
  near-uniform by construction. AQE skew handling stays on as a
  backstop.
- **Map-side combine** happens in the analyzer UDF itself (per-doc
  term→tf/positions inversion ≙ the reference's accumulator/merger
  pattern, /root/reference/src/base-inverted-index.ts:297-394).
- **Concurrent commits.** The docs / seg_meta / postings writes are
  independent consumers of the persisted tokenized batch and are
  submitted as concurrent Spark jobs (as are the lineage/stats tail
  writes) — driver-side planning/commit latencies overlap.
- **docID = seg_id * seg_size + local** (dense). Delta+varint then
  compresses to ~1-2 bytes/doc. At 10^12 docs: 10^6 segments × 2^20.
- **Resumable:** per-segment checkpoint rows; re-running skips
  completed segments (dynamic partition overwrite keeps re-runs of a
  partial segment idempotent).
- **Term-sorted files:** every postings file is (field, term)-sorted
  inside its segment partition → parquet row-group min/max prunes term
  lookups at query time without a term-partitioned layout (which would
  be 10^7 dirs). Each postings write sorts by (seg_id, field, term):
  the partitioned writer requires seg_id order, and a sort led by
  anything else gets a writer-side seg_id sort that scatters the term
  order. The corpus dictionary (term_stats) is one globally
  (field, term)-sorted run of files with disjoint key ranges, like
  Lucene's sorted term dictionary (_write_term_stats).

Reference parity: this replaces yaii's single-process mutable→immutable
segment commit (/root/reference/src/base-inverted-index.ts:511-534,
immutable-segment.ts:98-309); its planned-but-stubbed segment merge
(base-inverted-index.ts:536-548) is our `merge_segments`.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from yaii_spark.analyzer import (
    make_doc_postings_udf,
    tokenize,
    tokenize_all_field,
    varint_read,
)
from yaii_spark.codec import varint_encode, varint_lengths
from yaii_spark.storage import (
    TABLE_SCHEMAS,
    column_names,
    fs_copy,
    fs_delete,
    fs_exists,
    fs_touch,
    iceberg_format,
    local_frame,
    read_index_table,
    read_table,
    write_table,
)

DEFAULT_K1 = 1.2  # Lucene/ES defaults — yaii's stated design base
DEFAULT_B = 0.75
BLOCK_SIZE = 128  # docs per block for block-max metadata

# analyzer registry for per-field config (yaii FieldConfig.analyzer,
# /root/reference/src/lib/api/config.ts:12-28): 'standard' = tokenizer
# only (stopwords kept, like regular searchable fields), 'all' =
# tokenizer + stopword filter (the £_ALL catch-all chain,
# /root/reference/src/yaii-types.ts:42-45)
ANALYZERS = {"standard": tokenize, "all": tokenize_all_field}

# default field map: field name -> (source column, analyzer).
# "_all" mirrors yaii's synthetic catch-all field (£_ALL).
DEFAULT_FIELDS = {"text": ("text", "standard"), "_all": ("text", "all")}

def _encode_group_batched(seg: int, items: list) -> pd.DataFrame:
    """The one writer of posting-row bytes and block metadata: encode
    every (field, term) posting row of one group with ONE codec pass
    over the concatenated arrays. The build calls it per (segment,
    shard), the merge per (merged segment, shard).

    The per-row form (delta_encode_blocked + varint_encode_blocked per
    posting list) spends ~100s of µs of fixed numpy overhead per call;
    at 10^5 posting rows per build that overhead IS the encode stage
    (guide §1.2 step 2 — per-task work). Here ids/tfs of all rows
    concatenate, delta restarts land at every row start and every
    in-row block boundary, and one varint_lengths + varint_encode pass
    serves the whole group; per-row bytes are then slices of the group
    stream. Output is byte-identical to the per-row form because LEB128
    is a per-value code — pinned by tests/test_index_build.py's
    encoder-parity test.

    Each block's BM25 bound is stored as its impacts (Lucene's
    competitive impacts): the Pareto frontier of its (tf, dl) pairs —
    no other posting of the block has both a tf as high and a dl as
    low. The BM25 norm rises with tf and falls with dl, so the
    frontier's best norm bounds the block under ANY (avgdl, k1, b);
    the scorer derives it at query time (bm25._block_bounds).
    `block_impacts` is one LEB128 stream: per block, its frontier size,
    then its (tf, dl) pairs, tf descending.

    `items`: [((field, term), (ids, tfs, dls, pos_bytes, pos_lens)), ...]
    with each row's ids sorted ascending, `dls` the docs' lengths,
    `pos_bytes` the docs' position runs concatenated and `pos_lens`
    each doc's run length in bytes."""
    cols = column_names("postings")
    nrows = len(items)
    if nrows == 0:
        # object dtype: pd.DataFrame({c: []}) makes float64 columns,
        # which Arrow cannot convert to the list/binary output types
        return pd.DataFrame(columns=cols, dtype=object)
    out = {c: [] for c in cols}
    counts = np.fromiter((len(e[0]) for _, e in items), dtype=np.int64, count=nrows)
    total = int(counts.sum())
    row_ends = np.cumsum(counts)
    row_starts = row_ends - counts
    ids_all = np.empty(total, dtype=np.uint64)
    tfs_all = np.empty(total, dtype=np.uint64)
    dls_all = np.empty(total, dtype=np.int64)
    plen_all = np.empty(total, dtype=np.int64)
    for j, (_, (ids, tfs, dls, _pos, plens)) in enumerate(items):
        s, e = row_starts[j], row_ends[j]
        ids_all[s:e] = ids
        tfs_all[s:e] = tfs
        dls_all[s:e] = dls
        plen_all[s:e] = plens
    # delta stream with absolute restarts at every (row, block) start
    pos_in_row = np.arange(total, dtype=np.int64) - np.repeat(row_starts, counts)
    restart = (pos_in_row % BLOCK_SIZE) == 0
    restart_idx = np.flatnonzero(restart)
    deltas = np.empty_like(ids_all)
    deltas[0] = ids_all[0]
    np.subtract(ids_all[1:], ids_all[:-1], out=deltas[1:])
    deltas[restart] = ids_all[restart]
    id_lens = varint_lengths(deltas)
    id_bytes = varint_encode(deltas)
    id_ends = np.cumsum(id_lens)
    id_voffs = id_ends - id_lens  # byte offset of each value in the stream
    tf_lens = varint_lengths(tfs_all)
    tf_bytes = varint_encode(tfs_all)
    tf_ends = np.cumsum(tf_lens)
    tf_voffs = tf_ends - tf_lens
    pl_ends = np.cumsum(plen_all)
    pl_voffs = pl_ends - plen_all
    cf_all = np.add.reduceat(tfs_all.astype(np.int64), row_starts)
    nblocks = (counts + BLOCK_SIZE - 1) // BLOCK_SIZE
    bm_ends = np.cumsum(nblocks)
    bm_starts = bm_ends - nblocks
    # every (row, block) frontier in one pass: order each chunk's
    # postings by tf descending, dl ascending; a posting is on the
    # frontier iff its dl is below every dl before it in its chunk.
    # Offsetting dl by -chunk·(max dl + 1) makes one running minimum
    # restart at each chunk (every earlier chunk's values are larger).
    chunk = np.cumsum(restart) - 1
    order = np.lexsort((dls_all, -tfs_all.astype(np.int64), chunk))
    key = dls_all[order] - chunk[order] * (int(dls_all.max()) + 1)
    prev_min = np.empty_like(key)
    prev_min[0] = key[0] + 1
    np.minimum.accumulate(key[:-1], out=prev_min[1:])
    front = order[key < prev_min]
    fchunk = chunk[front]
    fsize = np.bincount(fchunk, minlength=restart_idx.size)
    # value stream: chunk c's size at c + 2·(frontier points before c),
    # the i-th frontier point's (tf, dl) right after at c + 1 + 2·i
    imp = np.empty(restart_idx.size + 2 * front.size, dtype=np.uint64)
    head = np.arange(restart_idx.size) + 2 * (np.cumsum(fsize) - fsize)
    imp[head] = fsize
    at = fchunk + 1 + 2 * np.arange(front.size)
    imp[at] = tfs_all[front]
    imp[at + 1] = dls_all[front]
    imp_lens = varint_lengths(imp)
    imp_bytes = varint_encode(imp)
    imp_ends = np.cumsum(imp_lens)
    imp_voffs = imp_ends - imp_lens
    for j, ((field, term), item) in enumerate(items):
        s, e = row_starts[j], row_ends[j]
        rblocks = restart_idx[bm_starts[j] : bm_ends[j]]
        ib0, tb0, pb0 = id_voffs[s], tf_voffs[s], pl_voffs[s]
        hb0 = imp_voffs[head[bm_starts[j]]]
        hb1 = imp_voffs[head[bm_ends[j]]] if bm_ends[j] < head.size else len(imp_bytes)
        out["seg_id"].append(seg)
        out["field"].append(field)
        out["term"].append(term)
        out["df_local"].append(int(counts[j]))
        out["cf_local"].append(int(cf_all[j]))
        out["doc_ids_bin"].append(id_bytes[ib0 : id_ends[e - 1]])
        out["tfs_bin"].append(tf_bytes[tb0 : tf_ends[e - 1]])
        out["pos_bin"].append(item[3])
        out["block_impacts"].append(imp_bytes[hb0:hb1])
        out["block_id_offs"].append([int(x) for x in id_voffs[rblocks] - ib0])
        out["block_tf_offs"].append([int(x) for x in tf_voffs[rblocks] - tb0])
        out["block_first_ids"].append([int(x) for x in ids_all[rblocks]])
        out["block_pos_offs"].append([int(x) for x in pl_voffs[rblocks] - pb0])
    return pd.DataFrame(out)


def _make_packed_encoder(field_names: list[str]):
    """Per-(segment, shard) posting builder over packed per-doc blobs
    (analyzer.doc_postings layout). Rows are processed in doc_id order,
    so each (field, term)'s doc ids accumulate already sorted; position
    bytes are concatenated verbatim (LEB128 deltas are concat-safe —
    identical bytes to codec.encode_positions). Codec work is batched
    across the whole group (_encode_group_batched)."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        seg = int(pdf["seg_id"].iloc[0])
        acc: dict = {}
        for doc_id, dl, data in zip(
            pdf["doc_id"].to_numpy(), pdf["dl"].to_numpy(), pdf["data"]
        ):
            off = 0
            n = len(data)
            while off < n:
                # header varints are single-byte in the common case
                fid = data[off]
                off += 1
                if fid >= 0x80:
                    fid, off = varint_read(data, off - 1)
                tl = data[off]
                off += 1
                if tl >= 0x80:
                    tl, off = varint_read(data, off - 1)
                term = data[off : off + tl]
                off += tl
                tf = data[off]
                off += 1
                if tf >= 0x80:
                    tf, off = varint_read(data, off - 1)
                pl = data[off]
                off += 1
                if pl >= 0x80:
                    pl, off = varint_read(data, off - 1)
                pos = data[off : off + pl]
                off += pl
                e = acc.get((fid, term))
                if e is None:
                    e = acc[(fid, term)] = ([], [], [], [])
                e[0].append(doc_id)
                e[1].append(tf)
                e[2].append(dl)
                e[3].append(pos)
        items = [
            (
                (field_names[fid], term.decode("utf-8")),
                (ids, tfs, dls, b"".join(poss), [len(p) for p in poss]),
            )
            for (fid, term), (ids, tfs, dls, poss) in acc.items()
        ]
        return _encode_group_batched(seg, items)

    return encode


_META_ENC_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("dl_bin", T.BinaryType()),
    ]
)


@F.pandas_udf(_META_ENC_SCHEMA)
def _encode_dl_udf(lds: pd.Series) -> pd.DataFrame:
    """(local_id, dl) struct array (sorted) → dense varint dl blob.
    Gaps (absent local ids) become dl=0."""
    n_out, b_out = [], []
    for ld in lds:
        local = np.array([e["local_id"] for e in ld], dtype=np.int64)
        dl = np.array([e["dl"] for e in ld], dtype=np.uint64)
        n = int(local.max()) + 1 if local.size else 0
        dls = np.zeros(n, dtype=np.uint64)
        dls[local] = dl
        n_out.append(n)
        b_out.append(varint_encode(dls))
    return pd.DataFrame({"n_docs": n_out, "dl_bin": b_out})


def assign_dense_ids(
    df: DataFrame, start: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Dense ids `start..start+n-1` WITHOUT a global sort: per-partition
    row counts are collected (one tiny row per partition — bounded by
    parallelism, never by data), cumulative offsets broadcast back, and
    each row gets offset + within-partition rank. This is the standard
    scalable dense-id assignment (a global row_number() would funnel
    the whole batch through one task).

    The two passes (counts collect, then the id-assignment join) MUST
    see the same row→partition mapping, so `parts` is persisted before
    the counts job (ADVICE r4: an AQE-coalesced shuffle or a
    nondeterministic source re-evaluated between the jobs would remap
    rows silently); when the INPUT is already persisted (the streaming
    committer does this) the extra layer is skipped — recomputing the
    narrow _pid projection from cached parent blocks preserves the
    partition mapping. The assignment VERIFIES the mapping in the same
    pass: a partition id with no offset, or a partition whose row count
    differs from the counts job's (a recompute that redistributed rows
    between existing pids — offset ranges would overlap), fails LOUDLY
    via raise_error instead of silently dropping/duplicating ids.

    Cache lifecycle: any persist taken here is exposed on the result as
    `result._dense_ids_cache` — long-running callers (the sink commits
    thousands of batches; DataFrame caches are pinned by the
    CacheManager until explicitly unpersisted, NOT GC-reclaimed)
    unpersist it once the batch is consumed."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    parts = df.withColumn("_pid", F.spark_partition_id())
    cache_handle = None
    if df.storageLevel == StorageLevel.NONE:
        parts = parts.persist()
        cache_handle = parts
    counts = {
        r._pid: r.c
        for r in parts.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    acc = int(start)
    offs = []
    for pid in sorted(counts):
        offs.append((pid, acc, int(counts[pid])))
        acc += int(counts[pid])
    off_df = local_frame(
        spark, offs or [(0, int(start), 0)], "_pid int, _off long, _exp long"
    )
    w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
    wcnt = Window.partitionBy("_pid")
    assigned = F.col("_off") + F.row_number().over(w) - F.lit(1)
    ok = F.col("_off").isNotNull() & (F.count("*").over(wcnt) == F.col("_exp"))
    out = (
        parts.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            id_col,
            F.when(ok, assigned).otherwise(
                F.raise_error(
                    F.lit(
                        "assign_dense_ids: row→partition mapping changed "
                        "between the counts job and the id assignment "
                        "(nondeterministic input recomputed?) — ids would "
                        "be dropped/duplicated"
                    )
                )
            ),
        )
        .drop("_pid", "_off", "_exp")
    )
    out._dense_ids_cache = cache_handle
    return out


def _dl_sum_udf():
    """Sum of a segment's varint dl blob — one value per segment row
    (the stats_ledger's sum_dl source; never one row per doc). Built
    lazily: decorating at import time needs an active SparkSession."""

    @F.pandas_udf("double")
    def dl_sum(blobs: pd.Series) -> pd.Series:
        from yaii_spark.codec import varint_decode

        return blobs.map(
            lambda b: float(varint_decode(b).sum()) if b is not None else 0.0
        )

    return dl_sum


def _filter_by_seg_ids(df: DataFrame, segs: list[int]) -> DataFrame:
    """Restrict a seg_id-partitioned table to `segs`: an In-list filter
    (static partition pruning — only those segments' directories are
    ever listed/read) when the list is small, a broadcast semi-join for
    very large lists (a 10^6-element In-list would bloat the plan)."""
    if len(segs) <= 4096:
        return df.filter(F.col("seg_id").isin([int(s) for s in segs]))
    seg_df = local_frame(df.sparkSession, [(int(s),) for s in segs], "seg_id long")
    return df.join(F.broadcast(seg_df), "seg_id", "left_semi")


def _labeled(spark: SparkSession, desc: str, fn, *args, **kwargs):
    """Run fn under a thread-local Spark job description (guide §1.3:
    label your jobs). The build fans its independent writes out over a
    thread pool, so each concurrent job carries its own attribution in
    the UI/REST — but only in pinned-thread mode
    (``PYSPARK_PIN_THREAD=true``, the default since Spark 3.2), where
    every Python thread maps to its own JVM thread. Without pinning the
    pool's threads share JVM threads and concurrent descriptions can
    overwrite or clear each other (labels only; results are unaffected)."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        return fn(*args, **kwargs)
    finally:
        sc.setJobDescription(None)


def _seg_stats_df(spark: SparkSession, out_dir: str, segs: list[int] | None) -> DataFrame:
    """(seg_id, n_docs, sum_dl) rows for `segs` (None = every durable
    segment) — the stats_ledger payload. Distributed: n_docs comes from
    the seg_meta column, sum_dl from one blob-decode per segment row."""
    meta = read_index_table(spark, out_dir, "seg_meta")
    if segs is not None:
        meta = _filter_by_seg_ids(meta, segs)
    return meta.select(
        "seg_id", "n_docs", _dl_sum_udf()(F.col("dl_bin")).alias("sum_dl")
    )


def _check_append_geometry(spark: SparkSession, out_dir: str, seg_size: int) -> None:
    """Refuse to append with a seg_size different from the index's:
    segment geometry is GLOBAL (doc_id = seg_id*seg_size + local — the
    invariant every query path decodes against), so a mismatched append
    would derive doc ids that collide with or straddle existing
    segments. Bites after a merge, which multiplies seg_size by the
    merge factor; callers must pass the merged size.

    Fail-open ONLY when the commit marker says the index is incomplete
    (a crashed build mid-corpus_stats-write — the replay legitimately
    proceeds and rewrites it); on a COMPLETE index any read/format
    error PROPAGATES — a guard that silently disarms on a transient FS
    error would wave through the exact corruption it exists to stop.
    One 1-row read per append; no-op on a not-yet-created index."""
    from yaii_spark.storage import IndexCatalog

    cat = IndexCatalog(spark, out_dir)
    if not cat.exists():  # absent or incomplete (no commit marker)
        return
    existing = int(cat.corpus_stats().seg_size)  # format gate included
    if existing != int(seg_size):
        raise ValueError(
            f"append with seg_size={int(seg_size)} onto an index built with "
            f"seg_size={existing} — segment geometry is global "
            "(doc_id = seg_id*seg_size + local); pass the index's current "
            "seg_size (a merge multiplies it by the merge factor)"
        )


def _scoped_postings(spark: SparkSession, out_dir: str, segs: list[int]) -> DataFrame:
    """Postings restricted to `segs` (see _filter_by_seg_ids)."""
    return _filter_by_seg_ids(read_index_table(spark, out_dir, "postings"), segs)


def _write_term_stats(df: DataFrame, out_dir: str) -> None:
    """The one term_stats writer: `df`'s (field, term, df, cf) rows as
    one globally (field, term)-sorted run. The range-partitioned sort
    writes at most spark.sql.shuffle.partitions files (AQE only merges
    adjacent ranges), each sorted and covering a key range disjoint
    from and ordered after the previous file's, so parquet min/max on
    `field` and `term` prune a lookup to the row groups that can hold
    its keys. The same sort re-establishes the layout when the input
    is an existing dictionary: a plain read → write may pack several
    files into one task and break the order."""
    write_table(
        df.select(*column_names("term_stats")).orderBy("field", "term"),
        os.path.join(out_dir, "term_stats"),
    )


def _write_term_stats_full(spark: SparkSession, out_dir: str, post_all: DataFrame) -> None:
    """Full term_stats recompute from ALL durable postings + stats_ledger
    rewrite — the base-build path and the torn-fold recovery path.

    The stats_folding marker brackets the (term_stats write → ledger
    rewrite) pair: a crash in between leaves the marker, and the next
    build repeats this full path instead of double-folding."""
    ts_df = post_all.groupBy("field", "term").agg(
        F.sum("df_local").alias("df"), F.sum("cf_local").alias("cf")
    )
    marker = os.path.join(out_dir, "stats_folding")
    fs_touch(spark, marker)
    _write_term_stats(ts_df, out_dir)
    # ledger = every durable segment (seg_meta universe — postings-free
    # token-less segments still count docs), carrying its corpus-stat
    # contribution (n_docs, sum_dl) so append-mode corpus stats are a
    # tiny-ledger aggregate instead of a per-batch decode of EVERY
    # segment's dl blob (~1 byte/doc → corpus-scale bytes per
    # micro-batch at 10^12 docs)
    write_table(
        _seg_stats_df(spark, out_dir, None),
        os.path.join(out_dir, "stats_ledger"),
    )
    fs_delete(spark, marker)


def _fold_term_stats(spark: SparkSession, out_dir: str, new_segs: list[int]) -> None:
    """Fold NEW segments' postings into the term_stats dictionary
    without re-reading the old segments' postings.

    The fold is O(dictionary) + O(batch postings): it rewrites the
    whole sorted run. A partial rewrite would save nothing at this
    size: one 512-doc ingest batch has 3,982 distinct (field, term)
    keys, which touched all 256 buckets of the old hash-bucketed
    layout, so every commit already rewrote the whole dictionary.
    1. union ONLY `new_segs`' postings (partition-pruned read) with the
       existing dictionary and aggregate (sum is associative, so the
       result is value-identical to a full recompute), stage to
       `term_stats_delta_tmp` — Spark cannot overwrite a path that
       feeds the same job, and the durable stage makes the overwrite
       restartable,
    2. set the stats_folding marker, overwrite term_stats from the
       stage (_write_term_stats), append `new_segs` to stats_ledger,
       clear the marker and drop the stage.
    A crash while the marker is set is detected by the next build,
    which recovers with a full recompute (build_index's `use_fold`
    gate).

    Stats-lag note: after a purging merge, term_stats deliberately lags
    the expunged postings (merge_segments carries it unchanged so scores
    stay byte-identical). The fold PRESERVES that lag — it only adds the
    new segments' counts — whereas a full recompute would refresh it.
    On a purge-free index the two paths are value-identical."""
    tmp = "term_stats_delta_tmp"
    tmp_path = os.path.join(out_dir, tmp)
    marker = os.path.join(out_dir, "stats_folding")
    delta = _scoped_postings(spark, out_dir, new_segs).select(
        "field", "term", F.col("df_local").alias("df"), F.col("cf_local").alias("cf")
    )
    merged = (
        read_index_table(spark, out_dir, "term_stats")
        .unionByName(delta)
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )
    write_table(merged, tmp_path)
    fs_touch(spark, marker)
    _write_term_stats(read_index_table(spark, out_dir, tmp), out_dir)
    # ledger rows carry the new segments' corpus-stat contribution —
    # committed in the SAME marker-guarded unit as the dictionary
    # overwrite, so corpus stats and the dictionary can never disagree
    # about which segments are accounted (postings-free segments fold
    # zero term rows but still append their doc counts here)
    write_table(
        _seg_stats_df(spark, out_dir, new_segs),
        os.path.join(out_dir, "stats_ledger"),
        mode="append",
    )
    fs_delete(spark, marker)
    fs_delete(spark, tmp_path)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    seg_size: int = 1 << 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    stored_cols: list[str] | None = None,
    fields: dict[str, tuple[str, str]] | None = None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    resume: bool = True,
    max_segments: int | None = None,
    postings_shards: int | None = None,
    append: bool = False,
    _geometry_checked: bool = False,
) -> dict:
    """Build (or resume) the inverted index for `pages` under `out_dir`.

    `pages[id_col]` must be a dense 0-based long (the caller derives it;
    synth tables carry it natively). Returns build metrics.

    `fields` maps indexed field name -> (source column or list of
    columns, analyzer); defaults to {text: standard, _all:
    stopword-filtered} mirroring yaii's default field config +
    catch-all. The analyzer is an ANALYZERS name or a pure
    ``str → list[str | None]`` function (e.g. the first element of
    make_rule_tokenizer / make_multivalue_analyzer). Document length
    (dl, the BM25 norm) always comes from `text_col`'s standard
    tokenization.

    `max_segments` limits how many pending segments this invocation
    builds — used by the resumability test to simulate a mid-build kill
    (FIXTURES.md §6).

    `append=True` is the incremental-ingest mode (streaming.
    index_append_sink): `pages` is a NEW batch occupying fresh segment
    ids. Per-batch maintenance never re-reads old postings: term_stats
    folds only the new segments' aggregates into the sorted dictionary
    (_fold_term_stats + stats_ledger, O(dictionary) per batch), and the final
    corpus_stats (n_docs, avgdl) aggregate the ledger's per-segment
    (n_docs, sum_dl) rows — the durable union of every batch — instead
    of re-decoding every segment's dl blob (idempotent under retries;
    a crashed batch's segments self-heal into both on the next fold).
    Appended segments need no bound upkeep: their block impacts are
    raw (tf, dl) pairs, so BM25 pruning derives valid block bounds
    under whatever corpus avgdl is current when a query runs.
    """
    if append and not resume:
        raise ValueError("append=True requires resume=True (checkpoint append)")
    if fields is None:
        fields = {"text": (text_col, "standard"), "_all": (text_col, "all")}

    # one inversion path for every field: the analyzer UDF tokenizes and
    # inverts each doc (map-side combine, Lucene-inverter style) into
    # per-shard packed blobs. Its arguments are text_col (the dl
    # source, shared by the default fields) plus any other column a
    # field reads; a field's source may be a LIST of columns — yaii's
    # addToAllField collects every field's values into £_ALL
    # (base-inverted-index.ts:141-161), token streams concatenated in
    # list order with sequential positions
    names = sorted(fields)
    srcs_of = {
        f: list(src) if isinstance(src, (list, tuple)) else [src]
        for f, (src, _an) in fields.items()
    }
    udf_cols = list(
        dict.fromkeys([text_col, *(c for f in names for c in srcs_of[f])])
    )
    specs = []
    for i, f in enumerate(names):
        analyzer = fields[f][1]
        if hasattr(analyzer, "evalType"):
            raise ValueError(
                f"build_index: field {f!r} got a Spark UDF as its analyzer; "
                "pass the pure str -> list[str | None] function instead "
                "(the first element of make_rule_tokenizer(...) / "
                "make_multivalue_analyzer(...))"
            )
        fn = analyzer if callable(analyzer) else ANALYZERS[analyzer]
        specs.append((i, tuple(udf_cols.index(c) for c in srcs_of[f]), fn))
    # _geometry_checked: the streaming committer already validated the
    # geometry before making the segment range durable — re-checking
    # here would re-read corpus_stats and re-probe the commit marker on
    # every micro-batch for the same invariant
    if append and not _geometry_checked:
        _check_append_geometry(spark, out_dir, seg_size)
    if postings_shards is None:
        # shards exist to bound one encode task's memory to ~64k docs'
        # postings; small segments don't need the split, and each extra
        # shard multiplies the explode+shuffle row count (one packed row
        # per (doc, shard)) and the pandas group count. 2^20-doc
        # segments keep the historical 16 shards; ≤64k-doc segments
        # collapse to one group per segment.
        postings_shards = max(1, min(16, seg_size // 65536))
    t0 = time.time()
    # a non-resuming build over an existing index dir must not inherit
    # stale partitions: dynamic overwrite only replaces seg_ids present
    # in the NEW input, and term_stats is then recomputed from ALL
    # on-disk postings (old ∪ new) — silent stats corruption. Drop the
    # directory first, through the storage seam's Hadoop FileSystem API
    # so the delete is real on cluster/object-store paths too (the same
    # recursive drop an Iceberg REPLACE TABLE performs).
    if not resume and fs_exists(spark, out_dir):
        fs_delete(spark, out_dir)
    # dynamic partition overwrite (stage+move per partition dir) only
    # pays off when overwriting a partially-built index; fresh builds
    # use the cheap static path. Set per write, never on the session.
    overwrite_mode = "dynamic" if fs_exists(spark, os.path.join(out_dir, "postings")) else "static"
    # tokenize input: ONLY the columns the analyzer consumers need —
    # the persisted batch must never hold the wide page row (the html
    # binary in particular): at web scale the cached bytes ARE the
    # build's memory-bandwidth bill, and the stats/meta/postings
    # consumers only touch (id, seg ids, dl, packed blobs). The stored
    # columns reach the docs table straight from source (below).
    tok_in = pages.select(*dict.fromkeys([id_col, *udf_cols]))
    # keep the tokenize stage wide: small inputs (or few parquet files)
    # would otherwise run the analyzer UDF on 1-2 cores. At 100 TB the
    # input has far more splits than cores and this is a no-op — and
    # the shuffle moves only the narrow projection, never html bytes.
    par = spark.sparkContext.defaultParallelism
    if tok_in.rdd.getNumPartitions() < par:
        tok_in = tok_in.repartition(par * 2)
    # packed blobs, not nested (term, tf, positions) structs: Arrow's
    # nested-struct conversion measured ~95% of the stage
    dp_udf = make_doc_postings_udf(postings_shards, specs)
    docs = (
        tok_in.withColumn("_dp", dp_udf(*[F.col(c) for c in udf_cols]))
        # a null text field indexes as a token-free doc (dl 0, no
        # postings from text), like the reference's termizer on a
        # missing field; without the coalesce a single null page would
        # crash the dl-blob encoder
        .withColumn("dl", F.coalesce(F.col("_dp.dl").cast("long"), F.lit(0)))
        .withColumn("seg_id", (F.col(id_col) / F.lit(seg_size)).cast("long"))
    )
    docs = docs.withColumn(
        "local_id", (F.col(id_col) - F.col("seg_id") * F.lit(seg_size)).cast("long")
    )
    docs = docs.withColumn("base_doc_id", F.col("seg_id") * F.lit(seg_size))
    docs = docs.select(id_col, "seg_id", "local_id", "base_doc_id", "dl", "_dp")
    # tokenize exactly once: every downstream pass (stats, seg_meta,
    # postings) reuses the cached narrow tokenized batch
    docs = docs.persist()

    # ---- corpus stats + segment list in ONE job (stable across resumes) ----
    stats_row = _labeled(
        spark, "build:tokenize+stats",
        lambda: docs.agg(
            F.count("*").alias("n"),
            F.avg("dl").alias("avgdl"),
            F.collect_set("seg_id").alias("segs"),
        ).collect(),
    )[0]
    n_total = int(stats_row["n"])
    if n_total == 0:
        # an upstream filter that matched nothing: fail loudly instead
        # of writing a half-formed index (avgdl undefined, no postings
        # dir) that exists() would later misreport
        raise ValueError("build_index: input has 0 rows — nothing to index")
    avgdl = float(stats_row["avgdl"])
    all_segs = sorted(stats_row["segs"])

    # ---- resume: skip segments already checkpointed. pending is
    # computed as an ANTI-JOIN against the done checkpoints and only the
    # (bounded: ⊆ this batch's segments) pending list is collected — the
    # done set accumulates over every batch ever appended (~10^6 rows at
    # the design point) and must never be driver-materialized
    # (VERDICT r4 #3) ----
    ckpt_path = os.path.join(out_dir, "checkpoints")
    pending = list(all_segs)
    if resume and fs_exists(spark, ckpt_path):
        try:
            seg_df = local_frame(spark, [(int(s),) for s in all_segs], "seg_id long")
            done_df = (
                read_index_table(spark, out_dir, "checkpoints")
                .filter("status = 'done'")
                .select("seg_id")
            )
            pending = sorted(
                r.seg_id for r in seg_df.join(done_df, "seg_id", "left_anti").collect()
            )
        except Exception:
            pending = list(all_segs)
    n_skipped = len(all_segs) - len(pending)
    if max_segments is not None:
        pending = pending[:max_segments]

    metrics = {
        "n_docs_total": n_total,
        "avgdl": avgdl,
        "segments_total": len(all_segs),
        "segments_skipped": n_skipped,
        "segments_built": len(pending),
    }

    if pending:
        pend_df = local_frame(spark, [(int(s),) for s in pending], "seg_id long")
        # a build that covers every input segment (every fresh build
        # and every append batch) needs no pending filter at all
        covers_all = len(pending) == len(all_segs)

        def pending_only(df: DataFrame) -> DataFrame:
            return df if covers_all else _filter_by_seg_ids(df, pending)

        batch = pending_only(docs)

        # ---- docs table (stored fields) — read straight from SOURCE:
        # seg/local ids are pure arithmetic on id_col, so the stored
        # columns (html binaries included) never pass through the
        # cached tokenized batch; this write is a column-pruned
        # source-to-sink copy ----
        stored = [
            c for c in (stored_cols or [c for c in pages.columns if c != id_col])
        ]
        docs_df = pending_only(
            pages.withColumn(
                "seg_id", (F.col(id_col) / F.lit(seg_size)).cast("long")
            ).withColumn(
                "local_id",
                (F.col(id_col) - F.col("seg_id") * F.lit(seg_size)).cast("long"),
            )
        ).select(*dict.fromkeys([id_col, "seg_id", "local_id", *stored]))

        # ---- per-segment doc-length blobs (JVM agg + tiny encode UDF:
        # one row per segment reaches Python, not one per doc) ----
        meta_df = (
            batch.groupBy("seg_id", "base_doc_id")
            .agg(
                F.sort_array(F.collect_list(F.struct("local_id", "dl"))).alias("ld")
            )
            .select("seg_id", "base_doc_id", _encode_dl_udf(F.col("ld")).alias("m"))
            .select(
                "seg_id", F.col("m.n_docs").alias("n_docs"), "base_doc_id",
                F.col("m.dl_bin").alias("dl_bin"),
                F.lit(None).cast("binary").alias("deleted_bin"),
            )
        )

        # ---- postings (multi-field: yaii indexes every searchable
        # field separately + the £_ALL catch-all): the analyzer UDF
        # already inverted each doc into per-shard packed entry blobs —
        # explode to ONE row per (doc, shard) (≈16 rows/doc instead of
        # ~|unique terms| struct rows), shuffle by (seg, shard), decode
        # + encode per task. Sharding by term hash bounds task memory:
        # one task never holds a whole 2^20-doc segment's postings, and
        # shards stay term-complete so each (field, term) is built
        # exactly once. Hashing the packed rows by seg_id alone satisfies
        # the (seg_id, shard) grouping, so the encoded rows reach the
        # partitioned write already clustered by segment: ONE shuffle,
        # one file per segment. ----
        packed = batch.select(
            "seg_id",
            F.col(id_col).alias("doc_id"),
            "dl",
            F.explode("_dp.blobs").alias("b"),
        ).select(
            "seg_id", "doc_id", "dl",
            F.col("b.shard").alias("shard"),
            F.col("b.data").alias("data"),
        )
        enc = packed.repartition("seg_id").groupBy("seg_id", "shard").applyInPandas(
            _make_packed_encoder(names),
            schema=TABLE_SCHEMAS["postings"],
        )
        # the three table writes are independent (all read the persisted
        # tokenized batch, whose blocks were materialized by the stats
        # job above) — submit them as CONCURRENT Spark jobs so their
        # driver-side latencies (planning, file listing, commit) overlap
        # and idle cores of the shorter jobs feed the longest one.
        # Checkpoints stay strictly AFTER all three (resume correctness).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(
                    _labeled, spark, "build:docs-write",
                    write_table, docs_df, os.path.join(out_dir, "docs"),
                    partition_by=["seg_id"],
                    partition_overwrite=overwrite_mode,
                ),
                pool.submit(
                    _labeled, spark, "build:seg-meta-write",
                    write_table, meta_df, os.path.join(out_dir, "seg_meta"),
                    partition_by=["seg_id"],
                    partition_overwrite=overwrite_mode,
                ),
                pool.submit(
                    _labeled, spark, "build:postings-write",
                    write_table,
                    # the partitioned writer needs its rows ordered by
                    # seg_id: a sort led by anything else gets a
                    # writer-side seg_id sort that scatters the
                    # (field, term) order the row-group pruning needs
                    enc.sortWithinPartitions("seg_id", "field", "term"),
                    os.path.join(out_dir, "postings"),
                    partition_by=["seg_id"],
                    partition_overwrite=overwrite_mode,
                ),
            ]
            for f in futs:
                f.result()

        # ---- checkpoints / lineage (after postings are durable) ----
        # the lineage counts read ONLY the batch's segments' postings:
        # partition-pruned in append mode (the sink's per-batch hot
        # path must never rescan the whole index), the full cached read
        # in batch mode where the term-stats recompute needs it anyway.
        # Lineage rows are written distributed (no per-segment collect —
        # at 10^6 segments the driver never materializes the counts).
        # Both consumers (seg_counts, _write_term_stats_full) aggregate
        # only these five narrow columns — project BEFORE caching so the
        # read-back scan prunes the posting/position blob columns (the
        # overwhelming majority of the table's bytes) and the cache
        # holds stats-sized rows, not the whole index
        # (the left join from pend_df keeps pending segments only)
        _STATS_COLS = ["seg_id", "field", "term", "df_local", "cf_local"]
        post_scope = (
            _scoped_postings(spark, out_dir, pending)
            if append
            else read_index_table(spark, out_dir, "postings")
        ).select(*_STATS_COLS).cache()
        wall = time.time() - t0
        seg_counts = post_scope.groupBy("seg_id").agg(
            F.sum("df_local").alias("n_postings_docs"), F.count("*").alias("n_terms")
        )
        ck = (
            pend_df.join(seg_counts, "seg_id", "left")
            .na.fill(0, ["n_postings_docs", "n_terms"])
            .select(
                "seg_id", "n_postings_docs", "n_terms",
                F.lit(float(wall)).alias("wall_sec"),
                F.lit("done").alias("status"),
            )
        )
        ck_mode = "append" if (resume and fs_exists(spark, ckpt_path)) else "overwrite"
    else:
        ck = None
        post_scope = None

    # ---- corpus-wide term stats. Append mode folds ONLY the new
    # segments' aggregates into the sorted dictionary
    # (_fold_term_stats — O(batch postings) + O(dictionary) per
    # micro-batch, never a re-read of the old segments' postings);
    # batch mode (and fold-recovery: torn-fold marker present, or a
    # pre-ledger index) recomputes from ALL durable postings
    # (_write_term_stats_full — correct under resume because postings
    # are the source of truth). `unfolded` is every durable segment the
    # ledger doesn't cover yet — normally exactly this batch's pending
    # list, but a crash between a previous batch's postings commit and
    # its fold self-heals here. ----
    from yaii_spark.storage import FORMAT_VERSION

    marker_path = os.path.join(out_dir, "stats_folding")
    ledger_path = os.path.join(out_dir, "stats_ledger")
    use_fold = (
        append
        and not fs_exists(spark, marker_path)
        and fs_exists(spark, ledger_path)
    )
    unfolded: list[int] = []
    if use_fold:
        folded = read_index_table(spark, out_dir, "stats_ledger").select("seg_id")
        # durable universe = prior checkpoints ∪ THIS batch's pending
        # (its checkpoint rows land concurrently with the fold, in the
        # next pool). Checkpoints are UNPARTITIONED — one row per built
        # segment, the same source resume trusts — unlike seg_meta,
        # whose per-segment partition dirs make the listing itself
        # O(#segments) FS calls per batch. A checkpointed segment's
        # postings/meta are durable (written before the ck pool); a
        # crashed batch that died before its checkpoints is re-driven
        # whole by the sink's replay, which re-enters here.
        seg_ids = (
            read_index_table(spark, out_dir, "checkpoints")
            .filter("status = 'done'")
            .select("seg_id")
            .union(local_frame(spark, [(int(s),) for s in pending], "seg_id long"))
            .distinct()
        )
        unfolded = sorted(
            r.seg_id for r in seg_ids.join(folded, "seg_id", "left_anti").collect()
        )

    def _ts_task():
        if use_fold:
            if unfolded:
                _fold_term_stats(spark, out_dir, unfolded)
            return
        post_all = (
            post_scope
            if (post_scope is not None and not append)
            else read_index_table(spark, out_dir, "postings")
        )
        _write_term_stats_full(spark, out_dir, post_all)

    # lineage (ck) and term_stats are independent (in batch mode they
    # share the cached post_scope; concurrent computes of the same
    # cached blocks are block-manager-serialized) — overlap them.
    # corpus_stats is the index-completeness COMMIT MARKER
    # (IndexCatalog.exists checks it), so it is written strictly AFTER
    # both futures resolve: a failed term_stats/lineage write must never
    # leave an index that reports complete (readers would silently prune
    # every term to empty).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_labeled, spark, "build:term-stats", _ts_task)]
        if ck is not None:
            futs.append(pool.submit(
                _labeled, spark, "build:lineage",
                write_table, ck, ckpt_path, mode=ck_mode,
            ))
        for f in futs:
            f.result()
    if append:
        # corpus stats over the durable UNION of every appended batch —
        # aggregated from the stats_ledger (one tiny row per segment,
        # complete after _ts_task folded/recomputed), NOT by re-decoding
        # every segment's dl blob: those blobs are ~1 byte/doc, so the
        # per-batch blob scan this replaces read corpus-scale BYTES
        # (~1 TB per micro-batch at 10^12 docs) even though it was only
        # 10^6 rows (r5; the last O(corpus) term in the append path)
        srow = (
            read_index_table(spark, out_dir, "stats_ledger")
            .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
            .collect()[0]
        )
        metrics["n_docs_batch"] = n_total
        n_total = int(srow["n"])
        avgdl = float(srow["s"]) / n_total
        metrics["n_docs_total"] = n_total
        metrics["avgdl"] = avgdl
    cs_df = local_frame(
        spark,
        [(n_total, avgdl, float(k1), float(b), int(seg_size), BLOCK_SIZE,
          FORMAT_VERSION)],
        TABLE_SCHEMAS["corpus_stats"],
    )
    write_table(cs_df, os.path.join(out_dir, "corpus_stats"))
    if post_scope is not None:
        post_scope.unpersist()

    docs.unpersist()
    metrics["wall_sec"] = time.time() - t0
    built = metrics.get("n_docs_batch", n_total)  # batch size in append mode
    metrics["docs_per_sec"] = built / metrics["wall_sec"] if metrics["wall_sec"] else 0.0
    return metrics


def delete_docs_df(spark: SparkSession, index_dir: str, ids: DataFrame,
                   id_col: str = "doc_id") -> int:
    """Distributed bulk tombstoning: `ids` is any DataFrame of doc ids
    (e.g. the output of a dedup cluster assignment filtered to
    non-survivors) — tombstone rows are derived and written without the
    ids ever touching the driver (VERDICT r3 #6: a 100-TB bulk delete
    can tombstone billions of docs). Returns the count added."""
    from yaii_spark.storage import IndexCatalog

    seg_size = IndexCatalog(spark, index_dir).corpus_stats().seg_size
    doc_id = F.col(id_col).cast("long")
    df = ids.select((doc_id / F.lit(seg_size)).cast("long").alias("seg_id"), doc_id.alias("doc_id"))
    path = os.path.join(index_dir, "tombstones")
    mode = "append" if fs_exists(spark, path) else "overwrite"
    # range-partitioned by seg_id: each file covers a narrow seg_id
    # range, so a query task's min/max filter skips the other files
    ranged = df.repartitionByRange("seg_id", "doc_id").distinct()
    write_table(ranged.sortWithinPartitions("seg_id", "doc_id"), path, mode=mode)
    return df.distinct().count()  # no second range-bounds sample


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> int:
    """Tombstone docs (the reference's removeDocument,
    mutable-segment.ts:191-197 — immutable segments there throw
    NotImplemented; ours works uniformly). Appends (seg_id, doc_id)
    rows; queries anti-join / subtract them. Returns count added.

    List-in convenience form of `delete_docs_df` (which is the scale
    path — nothing corpus-sized should pass through this driver list)."""
    df = local_frame(spark, [(int(d),) for d in sorted(set(doc_ids))], "doc_id long")
    return delete_docs_df(spark, index_dir, df)


MERGE_SHARDS = 16  # term-hash shards per merged segment (task sizing)


def merge_segments(
    spark: SparkSession, index_dir: str, out_dir: str, factor: int
) -> dict:
    """Compact `factor` adjacent segments into one (the reference's
    planned-but-stubbed merge, base-inverted-index.ts:536-548).

    Fully distributed — nothing corpus-sized ever touches the driver:

    1. seg_meta merges per new_seg (dl blobs placed at their offsets).
    2. postings group by (new_seg, term-hash shard) and COGROUP with the
       merged seg_meta (replicated per shard, ≤ MERGE_SHARDS copies of
       each dl blob on the wire — never a driver collect/broadcast of
       all blobs, which at 10^12 docs would be TB of driver memory).
       Within a task, each (field, term)'s runs concatenate in old-seg
       order — docIDs of adjacent segments are disjoint ascending
       ranges, so concatenation preserves sort order and no renumbering
       happens (the payoff of the seg_id*seg_size+local docID design);
       the rows are re-encoded by the build's encoder
       (_encode_group_batched), which takes each doc's length from the
       merged dl array for the block impacts.
    3. Tombstoned docs are EXPUNGED (Lucene expunges deletes at merge —
       the point of compaction): their postings entries, position
       ranges and docs-table rows are dropped, and the tombstone table
       is not carried over. Because docIDs are never renumbered, the
       purged local ids are recorded in the merged seg_meta
       (`deleted_bin`) so NOT/ALL universes exclude the holes. Corpus
       term_stats / n_docs / avgdl carry over UNCHANGED, keeping every
       query (BM25 scores included) byte-identical pre/post merge —
       the same stats-lag Lucene accepts until a stats refresh.
    """
    # IndexCatalog.corpus_stats enforces the format_version check —
    # merging a pre-v5 index must fail loudly, not emit garbage
    from yaii_spark.storage import FORMAT_VERSION, IndexCatalog

    cat_in = IndexCatalog(spark, index_dir)
    stats = cat_in.corpus_stats()
    seg_size, block_size = stats.seg_size, stats.block_size
    new_size = seg_size * factor

    meta = cat_in.seg_meta()
    post = cat_in.postings()

    # deployment guard (measured 2× phrase-eval slowdown at 4 segments
    # / 8 cores): every boolean, phrase and BM25 query runs at most one
    # task per segment, so merging below the core count caps their task
    # count.
    # Never binds at scale (10^6 segments / 1000 executors); warns on
    # over-compaction.
    import warnings

    segs = [r.seg_id for r in meta.select("seg_id").collect()]
    n_before, n_after_est = len(segs), len({s // factor for s in segs})
    par = spark.sparkContext.defaultParallelism
    if n_after_est < par:
        warnings.warn(
            f"merge_segments: factor {factor} leaves {n_after_est} segments "
            f"< defaultParallelism ({par}); boolean, phrase and BM25 "
            f"queries run at most one task per segment, so this caps their "
            f"task count — consider factor ≤ {max(1, n_before // par)}",
            RuntimeWarning,
            stacklevel=2,
        )

    # ---- per-new-segment purge blobs: tombstoned LOCAL ids (plus any
    # holes a previous purging merge already recorded in deleted_bin),
    # delta+varint-encoded — one small blob per merged segment, joined
    # (never collected) onto the meta stream ----
    tomb = cat_in.tombstones()
    tomb_new = None
    if tomb is not None:
        from yaii_spark.codec import delta_encode as _denc

        def encode_tomb(pdf: pd.DataFrame) -> pd.DataFrame:
            new_seg = int(pdf["new_seg"].iloc[0])
            local = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64)) - new_seg * new_size
            return pd.DataFrame(
                {"new_seg": [new_seg], "tomb_bin": [_denc(local.astype(np.uint64))]}
            )

        tomb_new = (
            tomb.select(
                ((F.col("doc_id") / F.lit(new_size)).cast("long")).alias("new_seg"),
                "doc_id",
            )
            .groupBy("new_seg")
            .applyInPandas(encode_tomb, schema="new_seg long, tomb_bin binary")
        )

    # ---- merged seg_meta: place old dl blobs at their offsets; fold
    # prior deleted_bin holes and fresh tombstones into the merged
    # deleted_bin ----
    def merge_meta(pdf: pd.DataFrame) -> pd.DataFrame:
        from yaii_spark.codec import delta_decode, delta_encode, varint_decode

        pdf = pdf.sort_values("base_doc_id")
        new_seg = int(pdf["base_doc_id"].iloc[0]) // new_size
        new_base = new_seg * new_size
        top = int(pdf["base_doc_id"].iloc[-1]) + int(pdf["n_docs"].iloc[-1])
        dls = np.zeros(top - new_base, dtype=np.uint64)
        purged = []
        for _, r in pdf.iterrows():
            off = int(r["base_doc_id"]) - new_base
            d = varint_decode(r["dl_bin"])
            dls[off : off + d.size] = d
            if r.get("deleted_bin") is not None:
                purged.append(delta_decode(r["deleted_bin"]).astype(np.int64) + off)
        tb = pdf["tomb_bin"].iloc[0] if "tomb_bin" in pdf.columns else None
        if tb is not None:
            purged.append(delta_decode(tb).astype(np.int64))
        dele = (
            delta_encode(np.unique(np.concatenate(purged)).astype(np.uint64))
            if purged
            else None
        )
        return pd.DataFrame(
            {
                "seg_id": [new_seg],
                "n_docs": [int(dls.size)],
                "base_doc_id": [new_base],
                "dl_bin": [varint_encode(dls)],
                "deleted_bin": [dele],
            }
        )

    meta_keyed = meta.withColumn("new_seg", (F.col("seg_id") / factor).cast("long"))
    if tomb_new is not None:
        meta_keyed = meta_keyed.join(tomb_new, "new_seg", "left")
    new_meta = meta_keyed.groupBy("new_seg").applyInPandas(
        merge_meta, schema=TABLE_SCHEMAS["seg_meta"]
    )
    write_table(new_meta, os.path.join(out_dir, "seg_meta"), partition_by=["seg_id"])

    def merge_shard(post_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        from yaii_spark.codec import (
            delta_decode,
            delta_decode_blocked,
            position_byte_lengths,
            varint_decode,
        )

        if post_pdf.empty:
            # a (new_seg, shard) key can arrive meta-only from the cogroup
            return _encode_group_batched(0, [])
        new_seg = int(post_pdf["new_seg"].iloc[0])
        base = new_seg * new_size
        if meta_pdf.empty:
            # cannot happen when keys align (meta is replicated to every
            # shard); fail with the cause instead of an opaque iloc error
            raise ValueError(
                f"merge: no seg_meta for (new_seg={new_seg}) — cogroup "
                "key misalignment"
            )
        dls = varint_decode(meta_pdf["dl_bin"].iloc[0]).astype(np.int64)
        db = meta_pdf["deleted_bin"].iloc[0]
        purged_local = (
            delta_decode(db).astype(np.int64) if db is not None else None
        )
        post_pdf = post_pdf.sort_values(["field", "term", "seg_id"], kind="mergesort")
        items = []
        for key, g in post_pdf.groupby(["field", "term"], sort=False):
            ids = np.concatenate(
                [delta_decode_blocked(x, block_size) for x in g["doc_ids_bin"]]
            )
            tfs = np.concatenate([varint_decode(x) for x in g["tfs_bin"]])
            local = (ids - base).astype(np.int64)
            # position streams: per-doc deltas restart at doc
            # boundaries, and doc order is just the old-segment concat
            # order — so the merged stream is the VERBATIM byte concat
            # (LEB128 here is canonical, so this equals a re-encode);
            # only per-doc byte lengths are derived. No per-doc decode
            # loop — at 1M docs that loop dominated merge time.
            pos = b"".join(g["pos_bin"])
            plens = position_byte_lengths(pos, tfs.astype(np.int64))
            if purged_local is not None and purged_local.size:
                keep = ~np.isin(local, purged_local, assume_unique=True)
                if not keep.any():
                    continue  # every posting was deleted — drop the term
                if not keep.all():
                    # expunge deletes: drop purged docs' postings and
                    # their position byte runs (a byte mask — each
                    # run decodes on its own, so nothing is re-encoded)
                    pos = np.frombuffer(pos, dtype=np.uint8)[
                        np.repeat(keep, plens)
                    ].tobytes()
                    ids, local, tfs, plens = ids[keep], local[keep], tfs[keep], plens[keep]
            items.append((key, (ids, tfs, dls[local], pos, plens)))
        return _encode_group_batched(new_seg, items)

    shard = F.pmod(F.xxhash64("field", "term"), F.lit(MERGE_SHARDS))
    posts = (
        post.withColumn("new_seg", (F.col("seg_id") / factor).cast("long"))
        .withColumn("shard", shard)
    )
    # replicate each merged dl blob (and its purge blob) to every shard
    # of its segment
    meta_sharded = (
        read_index_table(spark, out_dir, "seg_meta")
        .select(F.col("seg_id").alias("new_seg"), "dl_bin", "deleted_bin")
        .crossJoin(spark.range(MERGE_SHARDS).select(F.col("id").alias("shard")))
    )
    write_table(
        posts.groupBy("new_seg", "shard")
        .cogroup(meta_sharded.groupBy("new_seg", "shard"))
        .applyInPandas(merge_shard, schema=TABLE_SCHEMAS["postings"])
        .repartition("seg_id")
        .sortWithinPartitions("seg_id", "field", "term"),
        os.path.join(out_dir, "postings"),
        partition_by=["seg_id"],
    )

    # docs table carries over re-keyed — minus expunged docs
    docs = read_table(spark, os.path.join(index_dir, "docs"))
    if tomb is not None:
        docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
    write_table(
        docs.withColumn("seg_id", (F.col("seg_id") / factor).cast("long"))
        .withColumn("local_id", F.col("doc_id") - F.col("seg_id") * F.lit(new_size)),
        os.path.join(out_dir, "docs"),
        partition_by=["seg_id"],
    )
    # corpus-wide term stats / n_docs / avgdl carry over UNCHANGED even
    # when deletes are expunged (see docstring: keeps scores identical).
    # The parquet run is already sorted into disjoint files: copy them.
    # Iceberg metadata names its data files by absolute path, so that
    # branch rewrites the run instead.
    if iceberg_format(spark):
        _write_term_stats(read_index_table(spark, index_dir, "term_stats"), out_dir)
    else:
        fs_copy(spark, os.path.join(index_dir, "term_stats"), os.path.join(out_dir, "term_stats"))
    # stats_ledger: the carried dictionary covers every merged segment,
    # so the first post-merge append folds incrementally instead of
    # falling back to a full recompute (_fold_term_stats). Rows carry
    # (n_docs, sum_dl) from the MERGED seg_meta — purged docs keep
    # their dl values in dl_bin, so the ledger totals equal the
    # carried-over corpus stats (the same stats lag, by construction).
    write_table(
        _seg_stats_df(spark, out_dir, None),
        os.path.join(out_dir, "stats_ledger"),
    )
    post_new = read_index_table(spark, out_dir, "postings")
    ck = post_new.groupBy("seg_id").agg(
        F.sum("df_local").alias("n_postings_docs"), F.count("*").alias("n_terms")
    ).select(
        "seg_id", "n_postings_docs", "n_terms",
        F.lit(0.0).alias("wall_sec"), F.lit("done").alias("status"),
    )
    write_table(ck, os.path.join(out_dir, "checkpoints"))
    # NO tombstone carry-over: deletes were expunged above (holes are
    # recorded in seg_meta.deleted_bin for the NOT/ALL universe).
    # corpus_stats is written STRICTLY LAST — it is the commit marker
    # IndexCatalog.exists() trusts, and a crash before this point must
    # leave an index that reports incomplete, not one missing its
    # checkpoints (ADVICE r3: same ordering invariant as build_index).
    write_table(
        local_frame(
            spark,
            [(stats.n_docs, stats.avgdl, stats.k1, stats.b, new_size, block_size,
              FORMAT_VERSION)],
            TABLE_SCHEMAS["corpus_stats"],
        ),
        os.path.join(out_dir, "corpus_stats"),
    )
    n_after = read_index_table(spark, out_dir, "seg_meta").count()
    return {"segments_before": n_before, "segments_after": n_after}
