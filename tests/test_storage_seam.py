"""The read/write seam (storage.read_index_table / read_table /
write_table): the north_rule's 'over Iceberg tables' claim is real
code, not a comment — parquet path unit-tested here, iceberg path
exercised when jars exist (skip otherwise), no module bypasses the
seam, and every index table reads with its declared schema.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from yaii_spark.storage import iceberg_format, read_table, write_table


def test_roundtrip_plain(spark, work_dir):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.sha1(F.col("id").cast("string")).alias("s")
    )
    p = f"{work_dir}/seam_plain"
    write_table(df, p)
    back = read_table(spark, p)
    assert back.count() == 100
    assert {r.id for r in back.collect()} == set(range(100))


def test_roundtrip_partitioned_and_modes(spark, work_dir):
    df = spark.range(40).select(F.col("id"), (F.col("id") % 4).alias("part"))
    p = f"{work_dir}/seam_part"
    write_table(df, p, partition_by=["part"])
    assert sorted(os.path.basename(d) for d in glob.glob(f"{p}/part=*")) == [
        "part=0", "part=1", "part=2", "part=3",
    ]
    back = read_table(spark, p)
    assert back.count() == 40
    # append mode accumulates
    write_table(df.filter("part = 0"), p, mode="append", partition_by=["part"])
    assert read_table(spark, p).count() == 50
    # overwrite replaces
    write_table(df, p, partition_by=["part"])
    assert read_table(spark, p).count() == 40


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_branch(spark, work_dir):
    """Runs only where Iceberg jars are on the classpath (not this
    sandbox): the same seam must round-trip through format('iceberg').
    Set YAII_ICEBERG_JARS=<runtime-jar paths> before the session starts
    and get_spark wires the jars + extensions in, so any jar-equipped
    environment proves this end-to-end with zero code changes."""
    if not _iceberg_available(spark):
        pytest.skip(
            "no Iceberg jars on the classpath "
            "(set YAII_ICEBERG_JARS to run this end-to-end)"
        )
    spark.conf.set("spark.sql.catalog.spark_catalog",
                   "org.apache.iceberg.spark.SparkSessionCatalog")
    try:
        assert iceberg_format(spark) == "iceberg"
        df = spark.range(10)
        p = f"{work_dir}/seam_iceberg"
        write_table(df, p)
        assert read_table(spark, p).count() == 10
    finally:
        spark.conf.unset("spark.sql.catalog.spark_catalog")


def test_no_raw_parquet_io_outside_seam():
    """Every index/table read+write in the package goes through the
    seam; raw parquet IO lives only in storage.py (the seam's own
    parquet branch). Checked PER LINE with regexes so a raw
    df.write.parquet / reader-variable read can't hide behind an
    unrelated 'readStream' elsewhere in the file; only lines that are
    themselves Structured Streaming source calls (readStream — a
    format-specific API by nature) are exempt."""
    import re

    root = os.path.join(os.path.dirname(__file__), "..", "yaii_spark")
    write_re = re.compile(r"\.write\b.*\.parquet\(|\.write\.parquet\(")
    read_re = re.compile(r"\bread\b.*\.parquet\(|\.read\.parquet\(")
    offenders = []
    for path in glob.glob(f"{root}/**/*.py", recursive=True):
        if os.path.basename(path) == "storage.py":
            continue
        for i, line in enumerate(open(path).read().splitlines(), 1):
            code = line.split("#")[0]
            if "readStream" in code:
                continue
            if write_re.search(code):
                offenders.append(f"{os.path.basename(path)}:{i} (write)")
            if read_re.search(code):
                offenders.append(f"{os.path.basename(path)}:{i} (read)")
    assert offenders == [], offenders


def test_catalog_prewarm(spark, work_dir):
    """prewarm() eagerly builds the memoized base DataFrames + corpus
    stats; queries afterwards reuse them (no per-query re-listing)."""
    from yaii_spark.indexer import build_index
    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean
    from yaii_spark.storage import IndexCatalog
    from yaii_spark.synth import gen_boolean_pages

    out = f"{work_dir}/prewarm_idx"
    build_index(spark, gen_boolean_pages(spark), out, seg_size=8)
    cat = IndexCatalog(spark, out).prewarm()
    assert set(cat._tables) == {"docs", "postings", "seg_meta", "term_stats"}
    assert cat._manifest is not None
    before = dict(cat._tables)
    assert {r.doc_id for r in execute_boolean(cat, A.token("abc")).collect()} == {12, 14}
    # the query reused the prewarmed DataFrames (same objects, no relist)
    assert all(cat._tables[k] is before[k] for k in before)


def _jobs_launched(spark, fn):
    """(fn(), ids of the Spark jobs fn launched), counted under a
    fresh job group through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"seam-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "storage seam probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def every_table_index(spark, tmp_path_factory):
    """A 2-segment build, one streaming append batch and a delete: all
    four declared index tables exist on disk."""
    from yaii_spark.indexer import build_index, delete_docs
    from yaii_spark.streaming import make_append_committer
    from yaii_spark.synth import gen_pages

    idx = str(tmp_path_factory.mktemp("seam_tables") / "idx")
    stored = ["url", "text", "num_attr"]
    build_index(spark, gen_pages(spark, 32), idx, seg_size=16, stored_cols=stored)
    commit = make_append_committer(idx, seg_size=16, stored_cols=stored)
    commit(gen_pages(spark, 48, include_fixtures=False).filter(F.col("doc_id") >= 32), 0)
    delete_docs(spark, idx, [3, 40])
    return idx


_DECLARED = ["postings", "seg_meta", "term_stats", "tombstones"]


@pytest.mark.parametrize("table", _DECLARED)
def test_declared_schema_reads(spark, every_table_index, table):
    """Each index table reads through read_index_table with its declared
    schema: no Spark job (no footer inference), a schema equal to the
    one inferred from the written files (apart from the seg_id partition
    column, which inference reads as INT), and seg_id as LONG. The
    dictionary is read at the version the manifest names."""
    from pyspark.sql import types as T

    from yaii_spark.storage import IndexCatalog, read_index_table

    if table == "term_stats":
        table = IndexCatalog(spark, every_table_index).manifest().term_stats_table
    df, jobs = _jobs_launched(
        spark, lambda: read_index_table(spark, every_table_index, table)
    )
    assert jobs == [], f"{table}: read launched jobs {jobs}"
    inferred = read_table(spark, os.path.join(every_table_index, table)).schema
    inferred = T.StructType([
        T.StructField(f.name, T.LongType(), f.nullable)
        if f.name == "seg_id" and f.dataType == T.IntegerType()
        else f
        for f in inferred
    ])
    assert df.schema == inferred
    if "seg_id" in df.columns:
        assert df.schema["seg_id"].dataType == T.LongType()
    assert df.count() > 0


def test_fresh_catalog_first_lookup_lists_nothing(spark, every_table_index, placement):
    """Opening a fresh catalog and running its first dictionary lookup
    and first query launches no job with 64 or more tasks: no table
    read needs Spark's parallel directory listing. On the driver the
    query launches no job at all; as a job it launches its one."""
    from yaii_spark.queries import ast as A
    from yaii_spark.queries.executor import execute_boolean
    from yaii_spark.storage import IndexCatalog

    def first_use():
        cat = IndexCatalog(spark, every_table_index)
        stats = cat.term_stats_for([("text", "lorem"), ("_all", "lorem")])
        execute_boolean(cat, A.token("lorem")).collect()
        return stats

    stats, jobs = _jobs_launched(spark, first_use)
    assert stats[("text", "lorem")][0] > 0
    tracker = spark.sparkContext.statusTracker()
    wide = {}
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks >= 64:
                wide[j] = st.numTasks
    assert len(jobs) == (1 if placement == "job" else 0) and wide == {}, (jobs, wide)


def test_local_frame_is_a_local_relation(spark):
    """storage.local_frame builds a JVM LocalRelation (no Python RDD, so
    no Python task per use) with the declared column types, empty
    lists included."""
    from yaii_spark.storage import local_frame

    rows = [(1, 0, 64), (2, 64, 128)]
    df = local_frame(spark, rows, "batch_id long, start_id long, end_id long")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, plan
    assert df.schema.simpleString() == (
        "struct<batch_id:bigint,start_id:bigint,end_id:bigint>"
    )
    out, jobs = _jobs_launched(spark, df.collect)
    assert [tuple(r) for r in out] == rows and jobs == []
    empty = local_frame(spark, [], "seg_id long")
    assert empty._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")
    assert empty.collect() == []


def test_postings_filter_prunes_row_groups(tmp_path):
    """A query task's postings predicate keeps parquet row-group min/max
    pruning: a short term list prunes per term, a list above the IN
    threshold by its [min, max] range, a TokenRange by its bounds; and
    read_files returns exactly the rows a plain filter keeps. No Spark."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from yaii_spark.queries import ast as A
    from yaii_spark.storage import postings_filter, read_files

    terms = [f"t{i:04d}" for i in range(1000)]
    path = tmp_path / "postings.parquet"
    table = pa.table({"field": ["text"] * 500 + ["url"] * 500, "term": terms})
    pq.write_table(table, path, row_group_size=100)
    (frag,) = ds.dataset(str(path)).get_fragments()

    rows = list(zip(table["field"].to_pylist(), terms))
    cases = [
        # (field_terms, scans, row groups kept, which rows match)
        ([("text", "t0005"), ("text", "t0305"), ("url", "t0905")], None, 3,
         lambda f, t: (f, t) in {("text", "t0005"), ("text", "t0305"), ("url", "t0905")}),
        ([("text", "t0005"), ("url", "t0005")], None, 1,  # url holds no t0005
         lambda f, t: t == "t0005"),
        ([("text", t) for t in terms[200:220]], None, 1,  # 20 terms > threshold
         lambda f, t: "t0200" <= t < "t0220"),
        ([], [A.token_range("url", "t0550", "t0650")], 2,
         lambda f, t: "t0550" <= t < "t0650"),
        ([], [A.text_contains("t00")], 5,  # contains() prunes by field only
         lambda f, t: f == "text" and "t00" in t),
        ([], None, 0, lambda f, t: False),
    ]
    for field_terms, scans, n_groups, match in cases:
        flt = postings_filter(field_terms, scans)
        assert len(frag.split_by_row_group(flt)) == n_groups, (field_terms, scans)
        got = read_files([path.as_uri()], ["field", "term"], flt)
        assert list(zip(got["field"].to_pylist(), got["term"].to_pylist())) == [
            r for r in rows if match(*r)
        ], (field_terms, scans)
