"""Aggregation surface over the index (yaii's aggregateQuery)."""

from yaii_spark.ops.aggregations import (
    agg_count,
    agg_first,
    agg_group_by,
    agg_last,
    agg_numeric_buckets,
)


def test_aggregations(spark, work_dir):
    from yaii_spark.indexer import build_index
    from yaii_spark.queries import ast as A
    from yaii_spark.storage import IndexCatalog
    from yaii_spark.synth import gen_boolean_pages

    idx = f"{work_dir}/agg_idx"
    build_index(spark, gen_boolean_pages(spark), idx, seg_size=3)
    cat = IndexCatalog(spark, idx)
    assert agg_count(cat).collect()[0].n_docs == 4
    assert agg_count(cat, A.token("abc")).collect()[0].n_docs == 2
    assert agg_first(cat, "num_attr").collect()[0].doc_id == 12  # min num_attr=20
    assert agg_last(cat, "num_attr").collect()[0].doc_id == 15
    g = {r.lang: r.n_docs for r in agg_group_by(cat, "lang").collect()}
    assert g == {"en": 4}
    b = {r.bucket: r.n_docs for r in agg_numeric_buckets(cat, "num_attr", 10).collect()}
    assert b[20] == 2 and b[30] == 1


def test_multi_key_first_last(spark, work_dir):
    """A2/A3 with a chained sort spec (reference comparator chain,
    base-inverted-index.ts:606-659)."""
    import datetime as dt

    from yaii_spark.indexer import build_index
    from yaii_spark.ops.aggregations import agg_first, agg_last
    from yaii_spark.storage import IndexCatalog
    from yaii_spark.synth import EPOCH, PAGES_SCHEMA, render_html

    rows = [
        (i, f"https://x/{i}", EPOCH + dt.timedelta(seconds=i),
         render_html("d"), "d", lang, num)
        for i, (lang, num) in enumerate(
            [("en", 5), ("en", 2), ("de", 9), ("de", 2), ("en", 2)]
        )
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    idx = f"{work_dir}/mk_idx"
    build_index(spark, pages, idx, seg_size=3, stored_cols=["lang", "num_attr"])
    cat = IndexCatalog(spark, idx)

    r = agg_first(cat, [("lang", "asc"), ("num_attr", "desc")]).collect()[0]
    assert (r.lang, r.num_attr, r.doc_id) == ("de", 9, 2)
    r = agg_last(cat, [("lang", "asc"), ("num_attr", "desc")]).collect()[0]
    assert (r.lang, r.num_attr, r.doc_id) == ("en", 2, 4)
    # single-key string form still works
    r = agg_first(cat, "num_attr").collect()[0]
    assert (r.num_attr, r.doc_id) == (2, 1)
