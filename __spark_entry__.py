"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over yaii_spark.entrypoint — the PySpark-native
inverted-index + BM25 engine (see SURVEY.md). Each of the 40
queries() entries runs on the inverted index and has a matching
oracle_sql() DuckDB statement:

- boolean retrieval: token, AND / OR / NOT, the catch-all `_all`
  field, multi-source `_all` (addToAllField over [text, source]) and
  a rule-tokenized field;
- phrase and proximity queries over stored positions;
- dictionary scans: token range, prefix, contains, and the top terms
  of the term dictionary itself (q_vocab_top_terms);
- attribute predicates: number equality and range, a timestamp range
  over an events-table index (q_ts_range), has-field, a computed
  boolean attribute (q_token_bool), and sort/limit/projection;
- BM25: exact, MaxScore/block-max pruned and conjunctive top-k,
  fielded BM25 (q_bm25f), more-like-this (q_mlt), a 3-query batch
  scored in one postings pass (q_bm25_batch), and phrase snippets
  (q_snippets);
- aggregations (yaii's aggregateQuery): count, first/last, group-by,
  filtered facets and numeric buckets.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from yaii_spark import entrypoint as _ep  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _ep.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ep.queries()


def oracle_sql() -> dict[str, str]:
    return _ep.oracle_sql()
