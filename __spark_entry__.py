"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over yaii_spark.entrypoint — the PySpark-native
inverted-index + BM25 engine (see SURVEY.md). All 61 queries() entries
have a matching oracle_sql() DuckDB statement. Highlights by round:
r2 q_simhash (md5-family bit-sign sums restated in SQL) and q_ann_lsh
(hyperplane constants embedded as SQL literals); r3 q_ts_range
(timestamp-typed NumberRange via the events-table index) and
q_bm25_pruned (MaxScore/lazy-block path value-exact vs the same SQL as
the exact path); r4 q_multi_source_all (_all over [text, source] —
addToAllField), q_minhash_lsh_pairs (banded LSH candidates vs exact
band-value equality), q_stream_dedup (the applyInPandasWithState
stateful operator run as one availableNow batch, making a full
relational oracle possible), and q_ann_ivf_full (full-probe IVF ==
exact cosine top-k, so brute-force SQL oracles the whole
train→assign→materialize→probe→rerank pipeline).

r5 adds q_token_bool (boolean TokenValue → typed-column predicate
over a computed stored boolean, AND-composed with a posting token),
q_ann_ivf_pruned (cell-PRUNED IVF that stays EXACT via per-cell
angular-radius bounds — the same brute-force SQL oracles the pruned
two-phase probe), and q_vocab_top_terms (the term dictionary ITSELF —
top-20 terms by df straight from the (field, term)-sorted term_stats
table vs a first-principles SQL recount of (term, df, cf)), and
q_snippets (highlighting: ±3-token context around the first phrase
match, index-driven match + stored-field re-analysis, oracle via
list_position over zipped adjacent-token pairs), q_prefix
(PrefixQuery sugar — exact successor-string interval over the
term-sorted dictionary), and q_bm25f (fielded weighted BM25,
text^1.0 + _all^0.5 over the multi-source index — per-field tf/df/idf
restated from first principles in SQL, weighted saturation sums under
the shared text-length norm), and q_mlt (more-like-this: the source
doc's top-5 tf·idf terms re-queried as disjunctive BM25, term
selection AND scoring restated in SQL), and q_bm25_batch (a 3-query
workload scored in ONE postings pass — per-query identity with
bm25_topk makes the oracle a UNION of the single-query SQLs).

r6 is the optimization round: no new queries, every query's results
frozen (61/61 oracle-green re-verified after each change batch), and
the engine behind them made faster — see OPTIMIZATION_r06.md for the
measured before/after evidence and plans/r06/ for the physical plans.

The driver's recorded-correctness artifact caps at 50 queries per
round; queries() is head-rotated each round (entrypoint.queries
docstring) so every registered entry lands in a recorded artifact —
r6 leads with the 11 entries past r5's cap (q_cosine_topk, q_ann_lsh,
q_ann_ivf_full, q_embedding_neardup, q_token_counts, q_quality,
q_lang_id, q_fingerprint, q_tpch_q1, q_revenue_by_nation,
q_window_top2_orders).
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
