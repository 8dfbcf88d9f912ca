"""yaii_spark — a PySpark-native inverted-index + BM25 engine.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference `gpicron/yaii` (boolean retrieval over an
inverted index; Lucene/ElasticSearch design base), re-expressed Spark-first:

- DataFrame/SQL pipelines; Catalyst does predicate pushdown, column
  pruning, partial/final aggregation, top-k (`TakeOrderedAndProject`).
- Vectorized Arrow / pandas UDFs for the parts Spark can't express:
  exact yaii tokenizer semantics, delta+varint posting-list codecs,
  per-segment posting-set algebra and the block-max BM25 scorer.
- Parquet segment storage (Iceberg-compatible layout; catalog is a thin
  abstraction, see `storage.py`).

Reference parity map lives in SURVEY.md §2; every module docstring cites
the reference file:line it re-expresses.
"""

__version__ = "0.1.0"

from yaii_spark.session import get_spark  # noqa: F401

# public API surface (a reference user's switch-over imports)
from yaii_spark.indexer import (  # noqa: F401
    assign_dense_ids,
    build_index,
    delete_docs,
    delete_docs_df,
    merge_segments,
)
from yaii_spark.queries import ast  # noqa: F401
from yaii_spark.queries.bm25 import (  # noqa: F401
    bm25_topk,
    bm25_topk_batch,
    bm25f_topk,
    more_like_this,
)
from yaii_spark.queries.highlight import snippets  # noqa: F401
from yaii_spark.queries.executor import (  # noqa: F401
    cache_filter,
    execute_boolean,
    search,
    uncache_filter,
)
from yaii_spark.storage import IndexCatalog  # noqa: F401
