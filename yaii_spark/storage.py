"""Index storage layout + catalog.

Layout (SURVEY.md §7.0), one line per table, each naming its
declared schema (TABLE_SCHEMAS[...]):

    _manifest/<n>    the index's only commit point (``Manifest``)
    docs/            stored fields by seg_id — schema inferred
    postings/        ["postings"]: blocked posting rows by seg_id, each
                     block with its (tf, dl) impacts (the BM25 bound)
    seg_meta/        ["seg_meta"]: one row per segment (n_docs, dl_bin)
    term_stats/<v>/  ["term_stats"]: (df, cf) as one (field, term)-sorted
                     run, one directory per dictionary version
    tombstones/      ["tombstones"]: deleted (seg_id, doc_id) rows, the
                     only record of deleted docs (a merge expunges their
                     postings and keeps the rows)

Every mutation (build, append commit, merge) first writes its new
immutable files (segment partitions, a new term_stats version), then
publishes ``_manifest/<n+1>``: a small JSON file holding the format
version, the corpus stats, the live segment ids, the term_stats version
in use and the streaming sink's last committed batch. The file is
created only if absent, through the Hadoop FileSystem, by one writer at
a time — Lucene's ``segments_N``, Iceberg's snapshot metadata. Readers
read the newest manifest on the driver (no Spark job) and see only the
segments and the term_stats version it names, so a crash anywhere
before the publish leaves the previous version whole; the files such a
crash wrote are ignored, then overwritten by the replay. Each publish
deletes the manifests and term_stats versions it supersedes. Deletes
append to ``tombstones`` and publish nothing. Each fact has one record:
nothing else repeats which segments are live or which docs are deleted.

The term dictionary (term_stats) is one globally (field, term)-sorted
run split into at most ``spark.sql.shuffle.partitions`` files whose key
ranges are disjoint and ordered, like Lucene's sorted term dictionary:
a lookup reads the run with pyarrow on the driver and prunes row groups
by the parquet min/max of ``field`` and ``term``.
``indexer._write_term_stats`` is its only writer (a merge copies the
run's files).
Postings files are (field, term)-sorted inside each seg_id partition.
Frames the driver builds from Python lists (segment lists) are JVM
LocalRelations (``local_frame``).

Query tasks read their segments' files by path (``segment_file_list``,
``read_files``, ``postings_filter``), inside a Spark task or on the
driver (``executor.run_per_segment``).

Index tables are read by ``read_index_table`` with the declared schema
(no footer inference, so no Spark job per read, and seg_id reads back
as long) and written by ``write_table``; ``read_table`` infers, for
``docs`` and external inputs. Parquet directories by default, the same
paths as Iceberg (Hadoop) tables — which carry their schema in metadata
— when a catalog is configured; that branch is covered by a test that
skips when no Iceberg jars are on the classpath.

The reference's segment == contiguous docID range ``[from, next)``
(/root/reference/src/lib/internal/segments/segment.ts:12-57); ours is
``[seg_id*seg_size, seg_id*seg_size + n_docs)`` so posting docIDs stay
delta-friendly and merges never renumber (SURVEY.md §7.4.4).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import operator
import os
import re
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

# bump when the on-disk layout changes (cache invalidation; persisted
# in the manifest and CHECKED on read — a mismatched index raises
# instead of silently misdecoding, ADVICE r3)
# v4: blocked posting layout — delta restarts at block boundaries +
# per-block byte offsets / first doc ids (lazy MaxScore block decode)
# v5: blocked POSITION stream (postings.block_pos_offs → lazy phrase
# decode); seg_meta gains the build-time avgdl (pruning-safety under streaming
# appends) and a blob of the holes left by purge-at-merge;
# corpus_stats gains format_version
# v6: term_stats is one (field, term)-sorted run of files (no bucket
# partition directories, no bucket column)
# v7: postings.block_impacts (each block's Pareto frontier of (tf, dl)
# pairs, a BM25 bound under any avgdl) replaces the per-block and
# per-row norm maxima computed under the build-time avgdl; seg_meta
# drops that avgdl
# v8: one manifest (_manifest/<n>) is the commit point; term_stats is
# versioned (term_stats/<v>); corpus_stats, stats_ledger, sink_ledger,
# the stats_folding marker and the fold's stage are gone
# v9: seg_meta's holes blob and the per-segment lineage table are gone;
# a purging merge writes the purged docs as the merged index's tombstones
FORMAT_VERSION = 9

# The declared schema of every index table (DDL: the read, write and
# applyInPandas-output schema alike; a partition column reads back
# last). Reads never infer, so a new column must be declared here.
TABLE_SCHEMAS = {
    "postings": (
        "seg_id long, field string, term string, df_local long, cf_local long, "
        "doc_ids_bin binary, tfs_bin binary, pos_bin binary, "
        "block_impacts binary, "
        "block_id_offs array<int>, block_tf_offs array<int>, "
        "block_first_ids array<long>, block_pos_offs array<int>"
    ),
    "seg_meta": "seg_id long, n_docs long, base_doc_id long, dl_bin binary",
    "term_stats": "field string, term string, df long, cf long",
    "tombstones": "seg_id long, doc_id long",
}


def column_names(table: str) -> list[str]:
    """`table`'s declared column names, in order (no declared type
    nests a comma)."""
    return [c.split()[0] for c in TABLE_SCHEMAS[table].split(",")]


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-built DataFrame of `rows` (tuples in the column order of
    `schema`, a DDL string) as a JVM LocalRelation: the rows cross to
    the JVM once as Arrow, and every job that reads the frame (a
    broadcast, a join, a write) runs without a Python task.
    ``spark.createDataFrame(<list>)`` builds a parallelized Python RDD
    instead, and each use of it launches Python workers."""
    names = _ddl_schema(schema)[0].names
    cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    return column_frame(spark, cols, schema)


def column_frame(spark: SparkSession, columns: dict, schema: str) -> DataFrame:
    """``local_frame`` from columns (lists or numpy arrays by name): the
    Arrow table is built column-wise, with no per-row Python object."""
    import pyarrow as pa

    struct, arrow = _ddl_schema(schema)
    return spark.createDataFrame(pa.Table.from_pydict(columns, schema=arrow), struct)


@functools.cache
def _ddl_schema(schema: str):
    """(StructType, Arrow schema) of a DDL string, parsed once."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    return struct, to_arrow_schema(struct)


def read_files(paths: list[str], columns: list[str], filter=None):
    """The rows of parquet files `paths` (URIs as ``inputFiles()`` gives
    them) as a pyarrow Table of `columns`: the task-side read of a
    query. `filter` is a pyarrow expression; row groups whose min/max
    cannot match it are skipped. pyarrow opens the files, not Hadoop:
    local files and pyarrow's own schemes only (``_listed_files``), with
    pyarrow's credentials, not the Hadoop configuration."""
    import pyarrow.dataset as ds
    from pyarrow import fs

    filesystem, _ = fs.FileSystem.from_uri(paths[0])
    local = [fs.FileSystem.from_uri(p)[1] for p in paths]
    return ds.dataset(local, filesystem=filesystem, format="parquet").to_table(
        columns=columns, filter=filter
    )


#: a term list this long or shorter is an OR of equalities; pyarrow
#: evaluates a long OR slowly (1,000 terms over a 400,000-row file on a
#: 4-core host: 4.3 s, against 0.1 s in the range form)
_OR_TERMS_MAX = 10


def postings_filter(field_terms: list[tuple[str, str]], scans: list | None):
    """The pyarrow predicate over postings rows for a query's keys:
    `field_terms` as per-field term lists, and a term range or a
    ``contains`` per TokenRange/TextContains leaf in `scans`. Files are
    sorted by (field, term), so row-group min/max prune lookups. A list
    of at most ``_OR_TERMS_MAX`` terms is an OR of equalities, which
    prunes per term (pyarrow does not prune on ``is_in``); a longer one
    prunes by its [min, max] range. contains() scans the segment's
    dictionary."""
    import pyarrow.compute as pc

    field, term = pc.field("field"), pc.field("term")
    conds = []
    by_field: dict[str, set[str]] = {}
    for f, t in field_terms:
        by_field.setdefault(f, set()).add(t)
    for f, ts in sorted(by_field.items()):
        ts = sorted(ts)
        if len(ts) <= _OR_TERMS_MAX:
            c = functools.reduce(operator.or_, [term == t for t in ts])
        else:
            c = (term >= ts[0]) & (term <= ts[-1]) & term.isin(ts)
        conds.append((field == f) & c)
    for s in scans or []:
        c = field == s.field_name
        if hasattr(s, "needle"):  # TextContains
            c &= pc.match_substring(term, s.needle)
        else:  # TokenRange
            if s.lo is not None:
                c &= term >= s.lo if s.lo_inclusive else term > s.lo
            if s.hi is not None:
                c &= term <= s.hi if s.hi_inclusive else term < s.hi
        conds.append(c)
    return functools.reduce(operator.or_, conds) if conds else pc.scalar(False)


def _listed_files(files: list[str], table: str, must_list: bool) -> list[str]:
    """`files` (``inputFiles()`` of `table`'s frame, or a listing of its
    directory), checked for query tasks to read by path. Spark lists
    files for file-based tables only (an Iceberg table lists none), so
    an empty list where `must_list` raises instead of answering from no
    data; so does a scheme read_files cannot open."""
    schemes = ("file", "hdfs", "viewfs", "s3", "gs", "gcs")  # pyarrow's
    if not files and must_list:
        raise RuntimeError(
            f"{table}: Spark lists no data files for this table, and queries "
            "read index files by path (Iceberg tables are not supported)"
        )
    if files and urlparse(files[0]).scheme not in schemes:
        raise ValueError(
            f"{table}: queries read index files with pyarrow, which cannot "
            f"open {urlparse(files[0]).scheme}:// paths (supported: "
            f"{', '.join(schemes)})"
        )
    return files


def list_data_files(fs, path) -> list[str] | None:
    """The parquet data files directly under the Hadoop Path `path` of
    FileSystem `fs`, sorted, as URIs (hidden files, ``_SUCCESS`` and
    subdirectories left out: an Iceberg table's files sit in ``data/``);
    None when `path` does not exist. One listing, no Spark job."""
    if not fs.exists(path):
        return None
    files = (str(st.getPath()) for st in fs.listStatus(path))
    return sorted(
        f for f in files
        if f.endswith(".parquet") and not f.rsplit("/", 1)[-1].startswith(("_", "."))
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — works on
    local disk, HDFS and object stores alike (os.path.exists only sees
    the driver-local filesystem, which on a cluster deployment would
    silently report every remote path as absent)."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the Hadoop FileSystem API (the
    direct-path analogue of an Iceberg REPLACE TABLE drop; shutil.rmtree
    would no-op on cluster/object-store paths and leave stale
    partitions behind — exactly the term_stats corruption resume=False
    exists to prevent)."""
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.delete(p, True))


def fs_copy(spark: SparkSession, src: str, dst: str) -> None:
    """Replace `dst` with a copy of the file or directory tree `src`,
    through the Hadoop FileSystem API."""
    src_fs, src_p = _hadoop_fs(spark, src)
    dst_fs, dst_p = _hadoop_fs(spark, dst)
    dst_fs.delete(dst_p, True)
    spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, src_p, dst_fs, dst_p, False, True, spark._jsc.hadoopConfiguration()
    )


def iceberg_format(spark: SparkSession) -> str | None:
    """Return 'iceberg' when the catalog is configured, else None."""
    try:
        if spark.conf.get("spark.sql.catalog.spark_catalog", None):
            return "iceberg"
    except Exception:
        pass
    return None


def read_table(spark: SparkSession, path: str):
    """Read seam for tables storage declares no schema for (``docs``
    and external inputs); the parquet branch infers it from footers,
    one Spark job. With an Iceberg catalog configured the same call
    reads the path as an Iceberg (Hadoop) table — snapshot isolation,
    hidden-partition pruning; without one it is a plain parquet
    directory with identical layout. Both
    paths are exercised: parquet everywhere, iceberg by a
    skip-if-no-jars test (tests/test_storage_seam.py)."""
    fmt = iceberg_format(spark)
    if fmt:
        return spark.read.format(fmt).load(path)
    return spark.read.parquet(path)


def read_index_table(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read index table `table` under `root` with its declared schema
    (TABLE_SCHEMAS) — no footer inference. `table` may name a version
    directory (``term_stats/<v>``). A declared column missing from older
    files reads as null, and a declared long reads an INT32 file column.
    The Iceberg branch takes the schema from table metadata
    (read_table)."""
    path = os.path.join(root, table)
    if iceberg_format(spark):
        return read_table(spark, path)
    return spark.read.schema(TABLE_SCHEMAS[table.split("/")[0]]).parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    partition_overwrite: str | None = None,
) -> None:
    """Single write seam (see read_table). Partitioning columns map
    1:1 onto Iceberg identity-partition specs. `partition_overwrite`
    ("static" | "dynamic") sets this write's partitionOverwriteMode as
    a writer option, leaving the session's setting alone."""
    spark = df.sparkSession
    fmt = iceberg_format(spark) or "parquet"
    w = df.write.mode(mode).format(fmt)
    if partition_overwrite:
        w = w.option("partitionOverwriteMode", partition_overwrite)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def filter_segments(df: DataFrame, segs) -> DataFrame:
    """Restrict a seg_id-partitioned table to `segs`: an In-list filter
    (static partition pruning — only those segments' directories are
    ever read) when the list is small, a broadcast semi-join for very
    large lists (a 10^6-element In-list would bloat the plan)."""
    segs = [int(s) for s in segs]
    if len(segs) <= 4096:
        return df.filter(F.col("seg_id").isin(segs))
    seg_df = local_frame(df.sparkSession, [(s,) for s in segs], "seg_id long")
    return df.join(F.broadcast(seg_df), "seg_id", "left_semi")


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float
    k1: float
    b: float
    seg_size: int
    block_size: int = 128


_MANIFESTS = "_manifest"


@dataclass(frozen=True)
class Manifest:
    """One published version of an index (``_manifest/<version>``).
    `sum_dl` is the exact integer total of every live doc's length, so
    avgdl = sum_dl / n_docs is the same double whichever commits built
    it. Every publish writes its dictionary as ``term_stats/<version>``
    (``term_stats_table``). `sink_batch` is the streaming sink's last
    committed micro-batch id (None before the first one)."""

    version: int
    n_docs: int
    sum_dl: int
    k1: float
    b: float
    seg_size: int
    block_size: int
    segments: tuple[int, ...]
    sink_batch: int | None = None

    @property
    def stats(self) -> CorpusStats:
        return CorpusStats(
            n_docs=self.n_docs, avgdl=self.sum_dl / self.n_docs, k1=self.k1,
            b=self.b, seg_size=self.seg_size, block_size=self.block_size,
        )

    @property
    def term_stats_table(self) -> str:
        return f"term_stats/{self.version}"


def _manifest_files(spark: SparkSession, root: str) -> list:
    """Hadoop FileStatus of every published manifest, oldest first."""
    fs, d = _hadoop_fs(spark, os.path.join(root, _MANIFESTS))
    if not fs.exists(d):
        return []
    files = [st for st in fs.listStatus(d) if st.getPath().getName().isdigit()]
    return sorted(files, key=lambda st: int(st.getPath().getName()))


def manifest_stamp(spark: SparkSession, root: str) -> tuple[int, int] | None:
    """(version, modification time) of the newest manifest, or None: a
    staleness key that changes with every publish, an in-place rebuild
    (which restarts at version 1) included. One directory listing."""
    files = _manifest_files(spark, root)
    if not files:
        return None
    st = files[-1]
    return int(st.getPath().getName()), int(st.getModificationTime())


def read_manifest(spark: SparkSession, root: str) -> Manifest | None:
    """The newest manifest under `root` (driver-side, no Spark job), or
    None when no index was ever published there. Format gate: an index
    of another format raises instead of being misread — a manifest of
    another version, or the commit marker of a pre-v8 index
    (``corpus_stats/``)."""
    files = _manifest_files(spark, root)
    if not files:
        if fs_exists(spark, os.path.join(root, "corpus_stats")):
            raise ValueError(
                f"index at {root} has a pre-v8 on-disk format (no manifest); "
                f"this build reads format {FORMAT_VERSION} — rebuild the "
                "index (build_index with resume=False)"
            )
        return None
    fs, _ = _hadoop_fs(spark, root)
    stream = fs.open(files[-1].getPath())
    try:
        d = json.loads(bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)))
    finally:
        stream.close()
    ver = d.pop("format_version", None)
    if ver != FORMAT_VERSION:
        raise ValueError(
            f"index at {root} has on-disk format "
            f"{ver if ver is not None else '<unversioned>'}; this build reads "
            f"format {FORMAT_VERSION} — rebuild the index (build_index with "
            "resume=False)"
        )
    return Manifest(**{**d, "segments": tuple(d["segments"])})


def publish_manifest(spark: SparkSession, root: str, m: Manifest) -> None:
    """Publish `m` as ``_manifest/<m.version>`` — created only if absent,
    so a second writer racing for the same version fails instead of
    overwriting — then delete the manifests and term_stats versions it
    supersedes (older manifests, and every term_stats directory but
    its own, crashed writers' included)."""
    body = dict(dataclasses.asdict(m), format_version=FORMAT_VERSION)
    fs, p = _hadoop_fs(spark, os.path.join(root, _MANIFESTS, str(m.version)))
    out = fs.create(p, False)
    try:
        out.write(bytearray(json.dumps(body).encode()))
    finally:
        out.close()
    for st in _manifest_files(spark, root)[:-1]:
        fs.delete(st.getPath(), False)
    _, ts = _hadoop_fs(spark, os.path.join(root, "term_stats"))
    for st in fs.listStatus(ts):
        if st.getPath().getName() != str(m.version):
            fs.delete(st.getPath(), True)


class IndexCatalog:
    """Read-side handle on one published version of an index: the
    newest manifest when the catalog first needs it. A commit after
    that is not seen (open a fresh catalog), and the term_stats version
    this catalog reads is deleted by the next publish."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest: Manifest | None = None
        # (field, term) -> (df, cf) | None(=absent); a published version
        # is immutable, so dictionary lookups memoize like any engine's
        # term-dictionary cache
        self._ts_cache: dict[tuple[str, str], tuple[int, int] | None] = {}
        # base DataFrames per immutable table: re-creating one per query
        # re-lists the partition directories (an InMemoryFileIndex
        # build, a driver JOB above the parallel-discovery threshold) —
        # at 10^6 segments that listing IS the per-query latency floor.
        # Tombstones are deliberately NOT cached (delete_docs appends
        # between queries).
        self._tables: dict[str, DataFrame] = {}
        self._seg_files: list | None = None
        self._seg_frame: DataFrame | None = None
        self._tomb_dir = None  # (Hadoop FileSystem, Path) of tombstones/

    def manifest(self) -> Manifest:
        if not self.exists():
            raise FileNotFoundError(f"no index at {self.root} (no manifest)")
        return self._manifest

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self) -> bool:
        if self._manifest is None:
            self._manifest = read_manifest(self.spark, self.root)
        return self._manifest is not None

    def corpus_stats(self) -> CorpusStats:
        return self.manifest().stats

    def _table_df(self, table: str) -> DataFrame:
        df = self._tables.get(table)
        if df is None:
            m = self.manifest()
            if table == "term_stats":
                df = read_index_table(self.spark, self.root, m.term_stats_table)
            else:
                # docs is read with inference: its stored columns are
                # the build caller's choice. Segment directories outside
                # the manifest (a crashed commit's) are filtered out.
                df = filter_segments(
                    read_table(self.spark, self.path(table))
                    if table == "docs"
                    else read_index_table(self.spark, self.root, table),
                    m.segments,
                )
            self._tables[table] = df
        return df

    def prewarm(self) -> "IndexCatalog":
        """Eagerly build the base DataFrames (partition-directory
        listings — driver jobs at 10^6 segments) and read the manifest,
        pulling the cold-start cost out of the first query's latency
        path. Returns self for chaining."""
        for t in ("docs", "postings", "seg_meta", "term_stats"):
            self._table_df(t)
        self.segment_files()
        return self

    def docs(self) -> DataFrame:
        return self._table_df("docs")

    def postings(self) -> DataFrame:
        return self._table_df("postings")

    def seg_meta(self) -> DataFrame:
        return self._table_df("seg_meta")

    def term_stats(self) -> DataFrame:
        return self._table_df("term_stats")

    def segment_files(self) -> DataFrame:
        """``segment_file_list()`` as a ``local_frame`` (memoized): the
        input of a query's ``mapInPandas``."""
        if self._seg_frame is None:
            self._seg_frame = local_frame(
                self.spark,
                self.segment_file_list(),
                "seg_id long, postings array<string>, seg_meta array<string>",
            )
        return self._seg_frame

    def segment_file_list(self) -> list[tuple[int, list, list]]:
        """(seg_id, postings files, seg_meta files) per live segment,
        from ``inputFiles()`` of the cached frames (no job, no new
        listing) keyed by each file's ``seg_id=<n>`` directory; memoized
        like the frames. Files of segments the manifest does not name
        are left out."""
        if self._seg_files is None:
            live = set(self.manifest().segments)
            by_seg: dict[int, tuple[list, list]] = {s: ([], []) for s in live}
            for i, table in enumerate(("postings", "seg_meta")):
                files = sorted(self._table_df(table).inputFiles())
                for f in _listed_files(files, table, table == "seg_meta"):
                    seg = int(re.search(r"/seg_id=(-?\d+)/", f).group(1))
                    if seg in live:
                        by_seg[seg][i].append(f)
            self._seg_files = [(s, *by_seg[s]) for s in sorted(by_seg)]
        return self._seg_files

    def tombstones(self) -> DataFrame | None:
        """Deleted doc ids (seg_id, doc_id) or None when nothing was
        ever deleted. The reference keeps per-segment delete bitmaps
        (mutable-segment.ts:27,191-197); at Iceberg scale these become
        positional delete files — same shape."""
        if not fs_exists(self.spark, self.path("tombstones")):
            return None
        return read_index_table(self.spark, self.root, "tombstones")

    def tombstone_files(self) -> list[str]:
        """The tombstones table's data files, listed afresh on every
        call (delete_docs appends between queries) through a FileSystem
        handle memoized per catalog: one Hadoop listing, no Spark job.
        [] when nothing was ever deleted. Every write of the table
        leaves a file, empty or not."""
        if self._tomb_dir is None:
            self._tomb_dir = _hadoop_fs(self.spark, self.path("tombstones"))
        files = list_data_files(*self._tomb_dir)
        return [] if files is None else _listed_files(files, "tombstones", True)

    def docs_live(self) -> DataFrame:
        """Docs minus tombstones (the reference's
        removeDeletedAndAddedAfter clamp, utils.ts:201-220)."""
        docs = self.docs()
        tomb = self.tombstones()
        if tomb is None:
            return docs
        return docs.join(tomb.select("doc_id"), "doc_id", "left_anti")

    def term_stats_for(
        self, field_terms: list[tuple[str, str]]
    ) -> dict[tuple[str, str], tuple[int, int]]:
        """Driver-side (df, cf) lookup for a query's (field, term)
        pairs — the `mayMatch` plan-time pruning analogue (SURVEY.md
        §2.2 P10): absent terms never reach an executor. Results are
        memoized per catalog (absences included), so a repeated query
        term costs no read; the keys not seen yet go to
        term_stats_query in one call."""
        if not field_terms:
            return {}
        missing = [ft for ft in set(field_terms) if ft not in self._ts_cache]
        if missing:
            found = self.term_stats_query(missing)
            for ft in missing:
                self._ts_cache[ft] = found.get(ft)
        out = {}
        for ft in field_terms:
            v = self._ts_cache.get(ft)
            if v is not None:
                out[ft] = v
        return out

    def term_stats_query(
        self, field_terms: list[tuple[str, str]]
    ) -> dict[tuple[str, str], tuple[int, int]]:
        """The dictionary read behind every lookup miss: the manifest's
        term_stats files read with pyarrow on the driver (no Spark job)
        under the ``postings_filter`` predicate of `field_terms`, whose
        row-group min/max prune inside the (field, term)-sorted run —
        the files' disjoint key ranges leave every other file's row
        groups unread. Returns (df, cf) for the keys present."""
        files = _listed_files(sorted(self.term_stats().inputFiles()), "term_stats", True)
        t = read_files(
            files, column_names("term_stats"), postings_filter(field_terms, None)
        ).to_pydict()
        return {
            (f, term): (df, cf)
            for f, term, df, cf in zip(t["field"], t["term"], t["df"], t["cf"])
        }
