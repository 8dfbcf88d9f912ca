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
          ──term_stats/<n>: the previous version + the new postings
          ──publish _manifest/<n> (storage.publish_manifest): the commit

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
  submitted as concurrent Spark jobs — driver-side planning/commit
  latencies overlap.
- **docID = seg_id * seg_size + local** (dense). Delta+varint then
  compresses to ~1-2 bytes/doc. At 10^12 docs: 10^6 segments × 2^20.
- **One commit point:** a build, an append commit and a merge each
  write new immutable files, then publish one manifest naming the live
  segments and the corpus stats (its dictionary is term_stats/<n>).
  Re-running skips the segments the manifest names; files a crashed
  run wrote outside it are ignored by readers and overwritten by the
  re-run (dynamic partition overwrite). Every index fact has one
  record: live segments and corpus stats in the manifest, doc lengths
  in seg_meta, deleted docs in tombstones.
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

import dataclasses
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from yaii_spark.analyzer import (
    make_doc_postings_udf,
    tokenize,
    tokenize_all_field,
    unpack_postings,
)
from yaii_spark.codec import varint_encode, varint_lengths
from yaii_spark.storage import (
    TABLE_SCHEMAS,
    IndexCatalog,
    Manifest,
    column_names,
    filter_segments,
    fs_copy,
    fs_delete,
    fs_exists,
    iceberg_format,
    local_frame,
    publish_manifest,
    read_index_table,
    read_manifest,
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
    (analyzer.doc_postings layout, read back by
    analyzer.unpack_postings). Rows are processed in doc_id order,
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
            unpack_postings(acc, doc_id, dl, data)
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


def _labeled(spark: SparkSession, desc: str, fn, *args, **kwargs):
    """Run fn under a thread-local Spark job description (guide §1.3:
    label your jobs). The build fans its independent writes out over a
    thread pool, so each concurrent job carries its own attribution in
    the UI/REST — but only in pinned-thread mode
    (``PYSPARK_PIN_THREAD=true``, the default since Spark 3.2), where
    every Python thread maps to its own JVM thread. Without pinning the
    pool's threads share JVM threads and concurrent descriptions can
    overwrite or clear each other (labels only; results are unaffected).
    The caller's description, if any, is restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        return fn(*args, **kwargs)
    finally:
        sc.setJobDescription(prev)


def _term_shards(seg_size: int) -> int:
    """Term-hash shards per segment, for the build and the merge
    alike: shards bound one encode task's memory to ~64k docs'
    postings. Small segments need no split, and each extra shard
    multiplies the pandas group count (and, in the build, the
    explode+shuffle rows: one packed row per (doc, shard); in the
    merge, the copies of each dl blob). 2^20-doc segments get 16."""
    return max(1, min(16, seg_size // 65536))


def _check_geometry(m: Manifest | None, seg_size: int) -> None:
    """Refuse to build onto a published index with a seg_size
    different from its own: segment geometry is GLOBAL (doc_id =
    seg_id*seg_size + local — the invariant every query path decodes
    against), so a mismatched build would derive doc ids that collide
    with or straddle existing segments. Bites after a merge, which
    multiplies seg_size by the merge factor; callers must pass the
    merged size. No-op before the first publish (`m` None)."""
    if m is not None and m.seg_size != int(seg_size):
        raise ValueError(
            f"build with seg_size={int(seg_size)} onto an index built with "
            f"seg_size={m.seg_size} — segment geometry is global "
            "(doc_id = seg_id*seg_size + local); pass the index's current "
            "seg_size (a merge multiplies it by the merge factor)"
        )


def _write_term_stats(df: DataFrame, path: str) -> None:
    """The one term_stats writer: `df`'s (field, term, df, cf) rows as
    one globally (field, term)-sorted run at `path` (a fresh
    ``term_stats/<n>`` directory). The range-partitioned sort writes at
    most spark.sql.shuffle.partitions files (AQE only merges adjacent
    ranges), each sorted and covering a key range disjoint from and
    ordered after the previous file's, so parquet min/max on `field`
    and `term` prune a lookup to the row groups that can hold its keys.
    The same sort re-establishes the layout when the input is an
    existing dictionary: a plain read → write may pack several files
    into one task and break the order."""
    write_table(df.select(*column_names("term_stats")).orderBy("field", "term"), path)


def _fold_term_stats(spark: SparkSession, out_dir: str, prev: Manifest | None,
                     post: DataFrame, path: str) -> None:
    """Fold the new segments' postings rows `post` into `prev`'s
    dictionary, written as the fresh version directory `path`, without
    re-reading the old segments' postings: the union of the previous
    version's rows and `post`'s (df_local, cf_local) rows, summed per
    (field, term) — sum is associative, so the result is value-identical
    to a full recompute. On the first publish (`prev` None) the sum
    runs over `post` alone. The previous version is never written, so a
    crash before the manifest publish leaves it intact.

    The fold is O(dictionary) + O(batch postings): it rewrites the
    whole sorted run. A partial rewrite would save nothing at this
    size: one 512-doc ingest batch has 3,982 distinct (field, term)
    keys, which touched all 256 buckets of the old hash-bucketed
    layout, so every commit already rewrote the whole dictionary.

    Stats-lag note: after a purging merge, term_stats deliberately lags
    the expunged postings (merge_segments carries it unchanged so scores
    stay byte-identical). The fold PRESERVES that lag — it only adds the
    new segments' counts."""
    rows = post.select(
        "field", "term", F.col("df_local").alias("df"), F.col("cf_local").alias("cf")
    )
    if prev is not None:
        rows = read_index_table(spark, out_dir, prev.term_stats_table).unionByName(rows)
    _write_term_stats(
        rows.groupBy("field", "term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")),
        path,
    )


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
    _sink_batch: int | None = None,
) -> dict:
    """Build (or resume) the inverted index for `pages` under `out_dir`.

    `pages[id_col]` must be a dense 0-based long (the caller derives it;
    synth tables carry it natively). Returns build metrics.

    `fields` maps indexed field name -> (source column or list of
    columns, analyzer); defaults to {text: standard, _all:
    stopword-filtered} mirroring yaii's default field config +
    catch-all. The analyzer is an ANALYZERS name or a pure
    ``str → list[str | None]`` function (e.g. what make_rule_tokenizer
    / make_multivalue_analyzer return). Document length
    (dl, the BM25 norm) always comes from `text_col`'s standard
    tokenization.

    The build writes the pending segments' docs, seg_meta and postings
    partitions and a new term_stats version, then publishes the next
    manifest (storage.publish_manifest), which adds those segments and
    their doc counts and dl sums to the previous version's. Resuming
    skips the segments the newest manifest already names; a crash
    before the publish leaves the previous version whole, and the rerun
    overwrites what the crashed run wrote (dynamic partition overwrite).
    A run with nothing pending publishes nothing.

    A build onto a published index must use its seg_size
    (_check_geometry). The same call serves the incremental ingest
    (streaming.index_append_sink), whose `pages` is a NEW batch on
    fresh segment ids. Every build after the first publish folds only
    the new segments' postings into the previous dictionary
    (_fold_term_stats, O(dictionary) per batch), never re-reading old
    postings; the first one aggregates its own postings. `_sink_batch`
    is the streaming sink's micro-batch id, recorded in the manifest
    with the batch.
    Appended segments need no bound upkeep: their block impacts are raw
    (tf, dl) pairs, so BM25 pruning derives valid block bounds under
    whatever corpus avgdl is current when a query runs.
    """
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
                "(what make_rule_tokenizer(...) / "
                "make_multivalue_analyzer(...) return)"
            )
        fn = analyzer if callable(analyzer) else ANALYZERS[analyzer]
        specs.append((i, tuple(udf_cols.index(c) for c in srcs_of[f]), fn))
    t0 = time.time()
    # a non-resuming build over an existing index dir starts a new
    # index: its manifest would make this build skip the segments it
    # names, and the old files would linger. Drop the directory first,
    # through the storage seam's Hadoop FileSystem API so the delete is
    # real on cluster/object-store paths too (the same recursive drop an
    # Iceberg REPLACE TABLE performs).
    if not resume and fs_exists(spark, out_dir):
        fs_delete(spark, out_dir)
    prev = read_manifest(spark, out_dir)  # format gate included
    _check_geometry(prev, seg_size)
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
    dp_udf = make_doc_postings_udf(_term_shards(seg_size), specs)
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

    # ---- per-segment doc counts and dl sums in ONE job ----
    seg_rows = _labeled(
        spark, "build:tokenize+stats",
        lambda: docs.groupBy("seg_id")
        .agg(F.count("*").alias("n"), F.sum("dl").alias("sum_dl"))
        .collect(),
    )
    if not seg_rows:
        # an upstream filter that matched nothing: fail loudly instead
        # of publishing an index with no docs (avgdl undefined)
        docs.unpersist()
        raise ValueError("build_index: input has 0 rows — nothing to index")
    seg_stats = {int(r.seg_id): (int(r.n), int(r.sum_dl)) for r in seg_rows}
    all_segs = sorted(seg_stats)

    # ---- resume: skip the segments the newest manifest names ----
    live = set(prev.segments) if prev is not None else set()
    pending = [s for s in all_segs if s not in live]
    n_skipped = len(all_segs) - len(pending)

    metrics = {
        "segments_total": len(all_segs),
        "segments_skipped": n_skipped,
        "segments_built": len(pending),
    }

    if not pending:
        # every input segment is live already: nothing to write or publish
        docs.unpersist()
        if prev is not None:
            metrics.update(n_docs_total=prev.n_docs, avgdl=prev.stats.avgdl)
        metrics.update(wall_sec=time.time() - t0, docs_per_sec=0.0)
        return metrics

    # a build that covers every input segment (every fresh build
    # and every append batch) needs no pending filter at all
    covers_all = len(pending) == len(all_segs)

    def pending_only(df: DataFrame) -> DataFrame:
        return df if covers_all else filter_segments(df, pending)

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

    # ---- the new term_stats version: the previous version plus the new
    # segments' postings (_fold_term_stats — O(batch postings) +
    # O(dictionary), never a re-read of the old segments' postings), or
    # the new postings alone on the first publish. The fold reads only
    # the four narrow columns (the scan prunes the posting/position
    # blobs) of the new segments' partitions: the sink's per-batch hot
    # path never rescans the index, and segments a crashed run left
    # outside the manifest stay out of the dictionary ----
    post = read_index_table(spark, out_dir, "postings")
    post_scope = (
        filter_segments(post, pending) if overwrite_mode == "dynamic" else post
    ).select("field", "term", "df_local", "cf_local")
    version = prev.version + 1 if prev is not None else 1
    ts_path = os.path.join(out_dir, "term_stats", str(version))
    _labeled(spark, "build:term-stats", _fold_term_stats, spark, out_dir, prev,
             post_scope, ts_path)
    docs.unpersist()

    # ---- publish: the commit point. Everything above is invisible to
    # readers until the manifest names it ----
    n_new = sum(seg_stats[s][0] for s in pending)
    m = Manifest(
        version=version,
        n_docs=(prev.n_docs if prev is not None else 0) + n_new,
        sum_dl=(prev.sum_dl if prev is not None else 0)
        + sum(seg_stats[s][1] for s in pending),
        k1=float(k1),
        b=float(b),
        seg_size=int(seg_size),
        block_size=BLOCK_SIZE,
        segments=tuple(sorted(live.union(pending))),
        sink_batch=_sink_batch if _sink_batch is not None
        else (prev.sink_batch if prev is not None else None),
    )
    publish_manifest(spark, out_dir, m)
    metrics.update(n_docs_total=m.n_docs, avgdl=m.stats.avgdl)
    metrics["wall_sec"] = time.time() - t0
    metrics["docs_per_sec"] = n_new / metrics["wall_sec"] if metrics["wall_sec"] else 0.0
    return metrics


def delete_docs_df(spark: SparkSession, index_dir: str, ids: DataFrame,
                   id_col: str = "doc_id") -> int:
    """Distributed bulk tombstoning: `ids` is any DataFrame of doc ids
    (e.g. a boolean query's result, or a table of ids to expire) —
    tombstone rows are derived and written without the ids ever
    touching the driver (VERDICT r3 #6: a 100-TB bulk delete
    can tombstone billions of docs). Ids already tombstoned are left
    out, so the table holds one row per deleted doc. Returns the count
    added: the distinct new ids, observed in the pass that writes them
    (no second read of `ids`)."""
    seg_size = IndexCatalog(spark, index_dir).corpus_stats().seg_size
    doc_id = F.col(id_col).cast("long")
    df = ids.select((doc_id / F.lit(seg_size)).cast("long").alias("seg_id"), doc_id.alias("doc_id"))
    path = os.path.join(index_dir, "tombstones")
    mode = "overwrite"
    if fs_exists(spark, path):
        mode = "append"
        # the join's read of the table is planned (its files listed)
        # before the append adds any
        df = df.join(read_index_table(spark, index_dir, "tombstones"),
                     ["seg_id", "doc_id"], "left_anti")
    return _write_tombstones(df, path, mode)


def _write_tombstones(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """The one tombstones writer: `df`'s distinct (seg_id, doc_id) rows
    at `path`, range-partitioned by seg_id and sorted, so each file
    covers a narrow seg_id range and a query task's min/max filter skips
    the other files. Returns the rows written, observed in the writing
    pass."""
    from pyspark.sql import Observation

    added = Observation()
    write_table(
        df.repartitionByRange("seg_id", "doc_id").distinct()
        .observe(added, F.count(F.lit(1)).alias("n"))
        .sortWithinPartitions("seg_id", "doc_id"),
        path, mode=mode,
    )
    return int(added.get["n"])


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> int:
    """Tombstone docs (the reference's removeDocument,
    mutable-segment.ts:191-197 — immutable segments there throw
    NotImplemented; ours works uniformly). Appends (seg_id, doc_id)
    rows; each query task reads the tombstone files covering its own
    segments (`executor.run_per_segment`) and drops those docs, and a
    merge expunges their postings and docs rows (the tombstone rows
    stay). Returns count added.

    List-in convenience form of `delete_docs_df` (which is the scale
    path — nothing corpus-sized should pass through this driver list)."""
    df = local_frame(spark, [(int(d),) for d in sorted(set(doc_ids))], "doc_id long")
    return delete_docs_df(spark, index_dir, df)


def merge_segments(
    spark: SparkSession, index_dir: str, out_dir: str, factor: int
) -> dict:
    """Compact `factor` adjacent segments into one (the reference's
    planned-but-stubbed merge, base-inverted-index.ts:536-548).

    Fully distributed — nothing corpus-sized ever touches the driver:

    1. seg_meta merges per new_seg (dl blobs placed at their offsets).
    2. postings rows group by (new_seg, term-hash shard) together with
       their segment's merged dl blob and purge blob (its tombstoned
       local ids, delta-encoded), each replicated per shard
       (_term_shards(new seg_size) copies on the wire — never a driver
       collect/broadcast of all blobs, which at 10^12 docs would be TB
       of driver memory): one union, one shuffle. Within a task, each
       (field, term)'s runs concatenate in old-seg order — docIDs of
       adjacent segments are disjoint ascending ranges, so
       concatenation preserves sort order and no renumbering happens
       (the payoff of the seg_id*seg_size+local docID design); the rows
       are re-encoded by the build's encoder (_encode_group_batched),
       which takes each doc's length from the merged dl array for the
       block impacts.
    3. Tombstoned docs are EXPUNGED (Lucene expunges deletes at merge —
       the point of compaction): their postings entries, position
       ranges and docs-table rows are dropped. DocIDs are never
       renumbered, so the tombstones stay the record of the holes: the
       merged index's tombstones table holds the same doc ids under
       their merged seg_id, and NOT/ALL universes exclude them as
       before. Corpus term_stats / n_docs / avgdl carry over UNCHANGED,
       keeping every query (BM25 scores included) byte-identical
       pre/post merge — the same stats-lag Lucene accepts until a
       stats refresh.
    4. The merged index is published like a build: its tables and a
       copy of the term_stats version first, then manifest version 1
       of `out_dir`, naming the merged segments. `out_dir` must hold
       no published index (`index_dir` itself included): the merge
       overwrites its tables before it publishes, so a crash would
       leave that index's manifest naming segments whose files are
       gone. A crashed merge's output has no manifest, so its re-run
       is allowed. The streaming sink's committed batch id is not
       carried: a stream appending to `out_dir` is a new stream.
    """
    if read_manifest(spark, out_dir) is not None:
        raise ValueError(
            f"merge_segments: {out_dir!r} holds a published index; merge "
            "into a directory without one"
        )
    # reading the manifest enforces the format gate — merging an index
    # of another format must fail loudly, not emit garbage
    cat_in = IndexCatalog(spark, index_dir)
    m_in = cat_in.manifest()
    seg_size, block_size = m_in.seg_size, m_in.block_size
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

    new_segs = sorted({s // factor for s in m_in.segments})
    n_before, n_after = len(m_in.segments), len(new_segs)
    par = spark.sparkContext.defaultParallelism
    if n_after < par:
        warnings.warn(
            f"merge_segments: factor {factor} leaves {n_after} segments "
            f"< defaultParallelism ({par}); boolean, phrase and BM25 "
            f"queries run at most one task per segment, so this caps their "
            f"task count — consider factor ≤ {max(1, n_before // par)}",
            RuntimeWarning,
            stacklevel=2,
        )

    # ---- per-new-segment purge blobs: tombstoned LOCAL ids,
    # delta+varint-encoded — one small blob per merged segment, sent
    # (never collected) beside its dl blob to every shard ----
    tomb = cat_in.tombstones()
    tomb_new = None
    if tomb is not None:
        from yaii_spark.codec import delta_encode as _denc

        # keyed by merged segment: the purge blobs' input, and the
        # merged index's tombstones
        tomb = tomb.select(
            (F.col("doc_id") / F.lit(new_size)).cast("long").alias("seg_id"), "doc_id"
        )

        def encode_tomb(pdf: pd.DataFrame) -> pd.DataFrame:
            new_seg = int(pdf["seg_id"].iloc[0])
            local = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64)) - new_seg * new_size
            return pd.DataFrame(
                {"new_seg": [new_seg], "tomb_bin": [_denc(local.astype(np.uint64))]}
            )

        tomb_new = tomb.groupBy("seg_id").applyInPandas(
            encode_tomb, schema="new_seg long, tomb_bin binary"
        )

    # ---- merged seg_meta: place old dl blobs at their offsets ----
    def merge_meta(pdf: pd.DataFrame) -> pd.DataFrame:
        from yaii_spark.codec import varint_decode

        pdf = pdf.sort_values("base_doc_id")
        new_seg = int(pdf["base_doc_id"].iloc[0]) // new_size
        new_base = new_seg * new_size
        top = int(pdf["base_doc_id"].iloc[-1]) + int(pdf["n_docs"].iloc[-1])
        dls = np.zeros(top - new_base, dtype=np.uint64)
        for base, blob in zip(pdf["base_doc_id"], pdf["dl_bin"]):
            off = int(base) - new_base
            d = varint_decode(blob)
            dls[off : off + d.size] = d
        return pd.DataFrame(
            {
                "seg_id": [new_seg],
                "n_docs": [int(dls.size)],
                "base_doc_id": [new_base],
                "dl_bin": [varint_encode(dls)],
            }
        )

    new_meta = (
        meta.withColumn("new_seg", (F.col("seg_id") / factor).cast("long"))
        .groupBy("new_seg")
        .applyInPandas(merge_meta, schema=TABLE_SCHEMAS["seg_meta"])
    )
    write_table(new_meta, os.path.join(out_dir, "seg_meta"), partition_by=["seg_id"])

    def merge_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        from yaii_spark.codec import (
            delta_decode,
            delta_decode_blocked,
            position_byte_lengths,
            varint_decode,
        )

        # one (new_seg, shard) group: its postings rows, its segment's
        # dl blob row and, if any doc was deleted, its purge blob row
        post_pdf = pdf[pdf["field"].notna()]
        if post_pdf.empty:
            return _encode_group_batched(0, [])
        new_seg = int(pdf["new_seg"].iloc[0])
        base = new_seg * new_size
        dl = pdf["dl_bin"].dropna()
        if dl.empty:
            # cannot happen (every blob goes to every shard); fail with
            # the cause instead of an opaque iloc error
            raise ValueError(f"merge: no seg_meta for new_seg={new_seg}")
        dls = varint_decode(dl.iloc[0]).astype(np.int64)
        tb = pdf["tomb_bin"].dropna()
        purged_local = delta_decode(tb.iloc[0]).astype(np.int64) if len(tb) else None
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

    n_shards = _term_shards(new_size)
    posts = post.withColumn(
        "new_seg", (F.col("seg_id") / factor).cast("long")
    ).withColumn("shard", F.pmod(F.xxhash64("field", "term"), F.lit(n_shards)))
    blobs = read_index_table(spark, out_dir, "seg_meta").select(
        F.col("seg_id").alias("new_seg"), "dl_bin",
        F.lit(None).cast("binary").alias("tomb_bin"),
    )
    if tomb_new is not None:
        blobs = blobs.unionByName(tomb_new, allowMissingColumns=True)
    # every blob row goes to each shard of its segment
    blobs = blobs.withColumn("shard", F.explode(F.sequence(
        F.lit(0).cast("long"), F.lit(n_shards - 1).cast("long")
    )))
    # ONE shuffle, hashed by new_seg alone: that satisfies the
    # (new_seg, shard) grouping, and the merged rows reach the
    # partitioned write clustered by segment — one file per segment
    write_table(
        posts.unionByName(blobs, allowMissingColumns=True)
        .repartition("new_seg")
        .groupBy("new_seg", "shard")
        .applyInPandas(merge_shard, schema=TABLE_SCHEMAS["postings"])
        .sortWithinPartitions("seg_id", "field", "term"),
        os.path.join(out_dir, "postings"),
        partition_by=["seg_id"],
    )

    # docs table carries over re-keyed — minus expunged docs
    docs = cat_in.docs()
    if tomb is not None:
        docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
    write_table(
        docs.withColumn("seg_id", (F.col("seg_id") / factor).cast("long"))
        .withColumn("local_id", F.col("doc_id") - F.col("seg_id") * F.lit(new_size)),
        os.path.join(out_dir, "docs"),
        partition_by=["seg_id"],
    )
    # the tombstones stay the record of the expunged docs, under their
    # merged seg_id (and none are left from a crashed merge at out_dir)
    tomb_path = os.path.join(out_dir, "tombstones")
    if tomb is not None:
        _write_tombstones(tomb, tomb_path)
    else:
        fs_delete(spark, tomb_path)
    # corpus-wide term stats / n_docs / avgdl carry over UNCHANGED even
    # when deletes are expunged (see docstring: keeps scores identical).
    # The parquet run is already sorted into disjoint files: copy them.
    # Iceberg metadata names its data files by absolute path, so that
    # branch rewrites the run instead.
    ts_path = os.path.join(out_dir, "term_stats", "1")
    if iceberg_format(spark):
        _write_term_stats(read_index_table(spark, index_dir, m_in.term_stats_table), ts_path)
    else:
        fs_copy(spark, os.path.join(index_dir, m_in.term_stats_table), ts_path)
    publish_manifest(spark, out_dir, dataclasses.replace(
        m_in, version=1, seg_size=new_size, segments=tuple(new_segs),
        sink_batch=None,
    ))
    return {"segments_before": n_before, "segments_after": n_after}
