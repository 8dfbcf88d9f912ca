"""Driver-contract queries: engine queries + DuckDB oracle SQL.

Each of the 40 queries runs on the inverted index (boolean, phrase,
dictionary-scan, attribute, BM25 and aggregation queries) and has
BOTH a `queries()` entry (the PySpark engine path) and an
`oracle_sql()` entry (an independent SQL restatement DuckDB runs on
the same parquet) — the driver compares row counts, schemas and value
hashes at sf=0.01.

Each query first builds its index into a per-(sf_dir, variant) cache
under the temp dir (once per process, a few seconds at sf0.01) and
then runs the real posting-list machinery — the oracle SQL recomputes
the same answers relationally from raw text, so the whole
build→compress→query path is exercised, not just the final predicate.

Column names are aliased identically on both sides (driver hashes
columns sorted by name).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from yaii_spark.indexer import build_index
from yaii_spark.ops.aggregations import (
    agg_count,
    agg_first,
    agg_group_by,
    agg_last,
    agg_numeric_buckets,
)
from yaii_spark.queries import ast as A
from yaii_spark.queries.bm25 import (
    bm25_topk,
    bm25_topk_batch,
    bm25f_topk,
    more_like_this,
)
from yaii_spark.queries.executor import execute_boolean, search
from yaii_spark.storage import FORMAT_VERSION, IndexCatalog, read_table

# ---------------------------------------------------------------------------
# index cache per sf_dir
# ---------------------------------------------------------------------------

_CACHE_ROOT = os.path.join(tempfile.gettempdir(), "yaii_spark_index_cache")

# the reference's SSB mooTokenizer rules (performance-ssb.ts:109-115):
# crypto refs kept whole and case-preserved, words lowercased
RULE_FIELD_RULES = [
    ("ref", r"[@%&][A-Za-z0-9+/=]+\.[a-z0-9]+", False),
    ("word", r"[^\s\-,;:.]+", True),
]


# one IndexCatalog per index dir: the catalog memoizes its manifest
# and term-dictionary lookups, so reusing it keeps query paths at zero
# extra reads. The memo is keyed on the newest manifest's (version,
# mtime): a rebuild into the same path (same params, changed source
# data) publishes a new manifest and evicts the stale catalog — its
# cached term ABSENCES would otherwise silently prune live terms
# (ADVICE r3).
_CATALOGS: dict[str, tuple[IndexCatalog, tuple[int, int] | None]] = {}


def _catalog(spark: SparkSession, out: str) -> IndexCatalog:
    from yaii_spark.storage import manifest_stamp

    stamp = manifest_stamp(spark, out)
    ent = _CATALOGS.get(out)
    if ent is not None:
        cat, seen = ent
        if cat.spark is spark and seen == stamp:
            return cat
        # evicting a stale catalog must release its persisted filter
        # DataFrames too — uncache_filter can no longer reach them once
        # the memo is replaced, so they'd pin block-manager memory for
        # the session lifetime (ADVICE r4)
        from yaii_spark.queries.executor import uncache_filter

        try:
            uncache_filter(cat)
        except Exception:
            pass  # the old catalog's session may already be stopped
    cat = IndexCatalog(spark, out)
    _CATALOGS[out] = (cat, stamp)
    return cat


def get_index(
    spark: SparkSession, sf_dir: str, seg_size: int = 4096, variant: str = "default"
) -> IndexCatalog:
    """Query results are segment-geometry-independent (postings, scores
    and stats are corpus-level), so seg_size here is a pure performance
    knob: 4096 measured 10-36%% faster than 1024 across the boolean/
    phrase/BM25 paths at sf1.0 (fewer per-segment files to open, fewer
    pandas groups per query) and neutral at sf0.1, in an interleaved
    pairwise A/B (r6)."""
    tag = hashlib.md5(
        f"{sf_dir}|{seg_size}|{variant}|v{FORMAT_VERSION}".encode()
    ).hexdigest()[:12]
    out = os.path.join(_CACHE_ROOT, tag)
    cat = _catalog(spark, out)
    if not cat.exists():
        fields = None
        if variant == "rule":
            from yaii_spark.analyzer import make_rule_tokenizer

            ref_fn = make_rule_tokenizer(RULE_FIELD_RULES)
            fields = {
                "text": ("text", "standard"),
                "_all": ("text", "all"),
                "refs": ("text", ref_fn),
            }
        elif variant == "multi_all":
            # yaii addToAllField over MULTIPLE fields: _all collects
            # the token streams of text AND source
            fields = {
                "text": ("text", "standard"),
                "_all": (["text", "source"], "all"),
            }
        docs = read_table(spark, os.path.join(sf_dir, "documents.parquet"))
        stored = ["text", "lang", "source", "n_chars"]
        if variant == "bool":
            # computed boolean attribute (X2 ValueGenerator) for the
            # boolean-TokenValue parity query: token(True, "is_en")
            # resolves to the typed-column predicate over this column
            docs = docs.withColumn("is_en", F.col("lang") == F.lit("en"))
            stored = stored + ["is_en"]
        build_index(
            spark,
            docs,
            out,
            seg_size=seg_size,
            stored_cols=stored,
            fields=fields,
        )
        cat = _catalog(spark, out)  # new manifest → fresh caches
    return cat


def get_events_index(spark, sf_dir: str, seg_size: int = 2048) -> IndexCatalog:
    """Index over the events table — dense event_id → doc_id, `props`
    as the text field, and the TIMESTAMP column `ts` stored as a
    queryable attribute (timestamp-typed NumberRange coverage; the
    reference carries timestamps as integer millis through the same
    comparison path, /root/reference/test/system/test-index.ts:341)."""
    tag = hashlib.md5(
        f"{sf_dir}|events|{seg_size}|v{FORMAT_VERSION}".encode()
    ).hexdigest()[:12]
    out = os.path.join(_CACHE_ROOT, tag)
    cat = _catalog(spark, out)
    if not cat.exists():
        ev = read_table(spark, os.path.join(sf_dir, "events.parquet")).select(
            F.col("event_id").alias("doc_id"),
            "ts", "event_type", "value",
            F.col("props").alias("text"),
        )
        build_index(
            spark, ev, out, seg_size=seg_size,
            stored_cols=["ts", "event_type", "value", "text"],
        )
        cat = _catalog(spark, out)
    return cat


def q_ts_range(spark, sf_dir):
    """Timestamp-typed range predicate through the engine's attribute
    path (P4 over a TIMESTAMP column — Catalyst comparisons push to the
    parquet scan exactly like numeric ranges)."""
    import datetime as dt

    cat = get_events_index(spark, sf_dir)
    return execute_boolean(
        cat,
        A.number_range("ts", dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12)),
    )


# SQL fragments -------------------------------------------------------------

_TOK_CTE = (
    "tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), "
    "'[\\s\\-,;:.]+') AS toks FROM documents)"
)


def _bm25_sql(terms: list[str], k: int, mode: str) -> str:
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    having = (
        f"HAVING count(DISTINCT term) = {len(set(terms))}" if mode == "and" else ""
    )
    return f"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM tok),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({tl}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id {having}
)
SELECT doc_id, round(s, 6) AS score FROM scores
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""


def _contains_sql(term: str) -> str:
    return f"list_contains(toks, '{term}')"


_STOPLIST_SQL = None


def _stoplist_sql() -> str:
    global _STOPLIST_SQL
    if _STOPLIST_SQL is None:
        from yaii_spark.analyzer import STOPWORDS

        _STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in sorted(STOPWORDS - {""})) + "]"
    return _STOPLIST_SQL


# ---------------------------------------------------------------------------
# engine-side query callables
# ---------------------------------------------------------------------------

def _round(df: DataFrame, col: str, n: int = 6) -> DataFrame:
    return df.withColumn(col, F.round(F.col(col), n))


def _bool_q(node_fn):
    def run(spark, sf_dir):
        return execute_boolean(get_index(spark, sf_dir), node_fn())

    return run


def _bm25_q(terms, k=10, mode="or", prune=False):
    def run(spark, sf_dir):
        out = bm25_topk(get_index(spark, sf_dir), terms, k=k, mode=mode, prune=prune)
        return _round(out, "score")

    return run


def q_bm25f(spark, sf_dir):
    """Fielded weighted BM25 (text^1.0, _all^0.5) over the multi-source
    index (_all = text-filtered + source tokens): 'dup' scores through
    BOTH fields' dictionaries (different df → different idf per field),
    'src7' only through _all — the oracle recomputes both fields' tf/df
    from first principles and sums the weighted saturations under the
    shared text-length norm."""
    cat = get_index(spark, sf_dir, variant="multi_all")
    out = bm25f_topk(cat, ["dup", "src7"], {"text": 1.0, "_all": 0.5}, k=10)
    return _round(out, "score")


def q_bm25_batch(spark, sf_dir):
    """A 3-query workload scored in ONE postings pass
    (bm25_topk_batch): per-query results are identical to bm25_topk,
    so the oracle is the UNION of the three single-query SQL
    restatements tagged with their query ids."""
    out = bm25_topk_batch(
        get_index(spark, sf_dir),
        {"rare": ["dup"], "mixed": ["dup", "batch"], "pair": ["batch", "small"]},
        k=10,
    )
    return _round(out, "score")


def q_mlt(spark, sf_dir):
    """More-like-this for doc 42: its top-5 terms by tf·idf (tie: term
    asc) re-queried as disjunctive BM25, source doc excluded. The
    oracle recomputes the term selection AND the scoring from first
    principles, so the whole extract→select→score pipeline is
    value-checked."""
    out = more_like_this(get_index(spark, sf_dir), 42, top_terms=5, k=10)
    return _round(out, "score")


def q_sort_limit(spark, sf_dir):
    cat = get_index(spark, sf_dir)
    return search(
        cat, A.all_docs(), sort=[("n_chars", "asc")], limit=10, projection=["n_chars"]
    )


def q_count_filtered(spark, sf_dir):
    return agg_count(get_index(spark, sf_dir), A.token("dup"))


def q_first(spark, sf_dir):
    return agg_first(get_index(spark, sf_dir), "n_chars")


def q_first_multi(spark, sf_dir):
    return agg_first(get_index(spark, sf_dir), [("lang", "asc"), ("n_chars", "desc")])


def q_rule_field(spark, sf_dir):
    """Rule-tokenized field (mooTokenizer wired into the build, F4/X1)."""
    cat = get_index(spark, sf_dir, variant="rule")
    return execute_boolean(cat, A.token("value", "refs"))


def q_multi_source_all(spark, sf_dir):
    """_all collecting TWO source columns (yaii addToAllField,
    base-inverted-index.ts:141-161): a token that only ever occurs in
    the `source` column ('src7') matches through _all."""
    cat = get_index(spark, sf_dir, variant="multi_all")
    return execute_boolean(cat, A.token("src7", "_all"))


def q_token_bool(spark, sf_dir):
    """Boolean TokenValue (TokenValue = string | boolean, reference
    query-ir.ts:37-38 — booleans become the dictionary sentinel terms
    "A"/"B" there): A.token(True, field) resolves to the typed-column
    attribute predicate over a computed stored boolean (is_en), here
    AND-composed with a real token so the posting and attribute paths
    both execute (the hybrid join)."""
    cat = get_index(spark, sf_dir, variant="bool")
    return execute_boolean(cat, A.and_(A.token("dup"), A.token(True, "is_en")))


def q_vocab_top_terms(spark, sf_dir):
    """Dictionary-level value check: top-20 'text'-field terms by
    document frequency, read STRAIGHT from the index's
    (field, term)-sorted term_stats table. Until now the dictionary was
    only indirectly oracle-checked (df through BM25 idf, membership
    through boolean queries); this pins (term, df, cf) themselves
    against a first-principles SQL recount of the corpus — any
    build/fold/merge bug that corrupts stats without breaking a scored
    query surfaces here. Ordered (df desc, term asc): total, since
    terms are unique."""
    ts = get_index(spark, sf_dir).term_stats()
    return (
        ts.filter(F.col("field") == "text")
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


def q_snippets(spark, sf_dir):
    """Highlighting: every doc matching the phrase ["value","table"]
    with the ±3-token context around the FIRST match, re-analyzed from
    the stored text (Lucene-UnifiedHighlighter design — the index
    proves the match, the stored field yields the snippet). The oracle
    restates first-match location via list_position over zipped
    adjacent-token pairs and slices the same window."""
    from yaii_spark.queries.highlight import snippets

    return snippets(get_index(spark, sf_dir), ["value", "table"], window=3)


def q_last(spark, sf_dir):
    return agg_last(get_index(spark, sf_dir), "n_chars")


def q_group_by_lang(spark, sf_dir):
    return agg_group_by(
        get_index(spark, sf_dir),
        "lang",
        sub_aggs={"max_chars": F.max("n_chars"), "min_doc": F.min("doc_id")},
    )


def q_facets(spark, sf_dir):
    """Filter-then-facet (the search-UI sidebar query): language facet
    counts over the docs matching token('dup') — exercises A4's
    `query` parameter at the driver gate (q_group_by_lang covers the
    unfiltered corpus path)."""
    return agg_group_by(get_index(spark, sf_dir), "lang", query=A.token("dup"))


def q_buckets(spark, sf_dir):
    return agg_numeric_buckets(get_index(spark, sf_dir), "n_chars", 100)


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------

def queries():
    """Driver contract: one entry per query over the inverted index,
    each with a matching `oracle_sql()` statement. All 40 entries fit
    under the driver recorder's 50-query cap, so order carries no
    meaning; scripts/check_oracles.py runs every entry."""
    return {
        # boolean retrieval over the inverted index (P2-P7, U1-U3, J1)
        "q_token": _bool_q(lambda: A.token("dup")),
        "q_or": _bool_q(lambda: A.or_(A.token("dup"), A.token("key"))),
        "q_or_miss": _bool_q(lambda: A.or_(A.token("dup"), A.token("zzznone"))),
        "q_and": _bool_q(lambda: A.and_(A.token("batch"), A.token("small"))),
        "q_and_not": _bool_q(lambda: A.and_(A.token("merge"), A.not_(A.token("dup")))),
        "q_and_absent_empty": _bool_q(lambda: A.and_(A.token("dup"), A.token("zzznone"))),
        "q_not": _bool_q(lambda: A.not_(A.token("batch"))),
        # catch-all field semantics (S4): 'dup' survives the stopword
        # filter, 'the' does not
        "q_token_all_field": _bool_q(lambda: A.token("dup", "_all")),
        "q_token_all_stopword": _bool_q(lambda: A.token("the", "_all")),
        # phrase / proximity over stored positions (pos_bin consumer)
        "q_phrase": _bool_q(lambda: A.phrase(["value", "table"])),
        "q_phrase3": _bool_q(lambda: A.phrase(["table", "table", "part"])),
        "q_phrase_slop": _bool_q(lambda: A.phrase(["key", "scan"], slop=2)),
        # dictionary-scan predicates (P8: TOKEN_RANGE / TEXT_CONTAINS)
        "q_token_range": _bool_q(lambda: A.token_range("text", "ba", "bz")),
        # PrefixQuery sugar: exact successor-string interval over the
        # term-sorted dictionary (ast.prefix)
        "q_prefix": _bool_q(lambda: A.prefix("val")),
        "q_text_contains": _bool_q(lambda: A.text_contains("ort")),
        # custom analyzer field (F4 mooTokenizer / X1 extension point)
        "q_rule_field": q_rule_field,
        # multi-source _all (S4 addToAllField over multiple fields)
        "q_multi_source_all": q_multi_source_all,
        # attribute predicates (P3-P5)
        "q_number_eq": _bool_q(lambda: A.number("n_chars", 157)),
        "q_number_range": _bool_q(lambda: A.number_range("n_chars", 100, 200)),
        "q_ts_range": q_ts_range,
        "q_has_field": _bool_q(lambda: A.has_field("lang")),
        "q_mixed_and": _bool_q(
            lambda: A.and_(A.token("dup"), A.number_range("n_chars", None, 300))
        ),
        "q_token_bool": q_token_bool,
        # sort/limit/projection (T1-T4, P1)
        "q_sort_limit": q_sort_limit,
        # BM25 scored retrieval (M5)
        "q_bm25_rare": _bm25_q(["dup"]),
        "q_bm25_mixed": _bm25_q(["dup", "batch"]),
        "q_bm25_and": _bm25_q(["batch", "small"], mode="and"),
        # MaxScore/block-max pruned path at the public gate: the lazy
        # per-block decode must stay rank- AND value-identical to the
        # exact SQL restatement (same oracle shape as the exact query)
        "q_bm25_pruned": _bm25_q(["dup", "batch", "small"], prune=True),
        "q_bm25f": q_bm25f,
        "q_mlt": q_mlt,
        "q_bm25_batch": q_bm25_batch,
        # the term dictionary itself, and highlighting
        "q_vocab_top_terms": q_vocab_top_terms,
        "q_snippets": q_snippets,
        # aggregations (A1-A5)
        "q_count_filtered": q_count_filtered,
        "q_first": q_first,
        "q_first_multi": q_first_multi,
        "q_last": q_last,
        "q_group_by_lang": q_group_by_lang,
        "q_facets": q_facets,
        "q_buckets": q_buckets,
    }


def oracle_sql():
    ids_where = lambda cond: (
        f"WITH {_TOK_CTE} SELECT doc_id FROM tok WHERE {cond}"
    )
    return {
        "q_token": ids_where(_contains_sql("dup")),
        "q_or": ids_where(f"{_contains_sql('dup')} OR {_contains_sql('key')}"),
        "q_or_miss": ids_where(f"{_contains_sql('dup')} OR {_contains_sql('zzznone')}"),
        "q_and": ids_where(f"{_contains_sql('batch')} AND {_contains_sql('small')}"),
        "q_and_not": ids_where(f"{_contains_sql('merge')} AND NOT {_contains_sql('dup')}"),
        "q_and_absent_empty": ids_where(
            f"{_contains_sql('dup')} AND {_contains_sql('zzznone')}"
        ),
        "q_not": ids_where(f"NOT {_contains_sql('batch')}"),
        "q_token_all_field": f"WITH {_TOK_CTE} SELECT doc_id FROM tok WHERE list_contains("
        f"list_filter(toks, t -> NOT list_contains({_stoplist_sql()} || [''], t)), 'dup')",
        "q_token_all_stopword": f"WITH {_TOK_CTE} SELECT doc_id FROM tok WHERE list_contains("
        f"list_filter(toks, t -> NOT list_contains({_stoplist_sql()} || [''], t)), 'the')",
        "q_phrase": ids_where(
            "len(list_filter(range(1, len(toks)), "
            "i -> toks[i]='value' AND toks[i+1]='table')) > 0"
        ),
        "q_phrase3": ids_where(
            "len(list_filter(range(1, len(toks)-1), "
            "i -> toks[i]='table' AND toks[i+1]='table' AND toks[i+2]='part')) > 0"
        ),
        "q_phrase_slop": ids_where(
            "len(list_filter(range(1, len(toks)), i -> toks[i]='key' AND "
            "len(list_filter(range(i+1, least(i+4, len(toks)+1)), j -> toks[j]='scan')) > 0)) > 0"
        ),
        "q_token_range": ids_where("len(list_filter(toks, t -> t >= 'ba' AND t < 'bz')) > 0"),
        "q_prefix": ids_where("len(list_filter(toks, t -> starts_with(t, 'val'))) > 0"),
        "q_text_contains": ids_where("len(list_filter(toks, t -> contains(t, 'ort'))) > 0"),
        "q_number_eq": "SELECT doc_id FROM documents WHERE n_chars = 157",
        "q_number_range": "SELECT doc_id FROM documents WHERE n_chars >= 100 AND n_chars < 200",
        "q_ts_range": "SELECT event_id AS doc_id FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'",
        "q_has_field": "SELECT doc_id FROM documents WHERE lang IS NOT NULL",
        "q_mixed_and": f"WITH {_TOK_CTE} SELECT t.doc_id FROM tok t JOIN documents d USING (doc_id) "
        f"WHERE {_contains_sql('dup')} AND d.n_chars < 300",
        # boolean TokenValue → typed-column predicate over the computed
        # is_en boolean (lang = 'en'), AND a posting-list token
        "q_token_bool": f"WITH {_TOK_CTE} SELECT t.doc_id FROM tok t JOIN documents d USING (doc_id) "
        f"WHERE {_contains_sql('dup')} AND (d.lang = 'en') = true",
        # first-principles recount of the dictionary itself: df =
        # distinct docs containing the term, cf = total occurrences,
        # over the same corpus-parity tokenization as the BM25 oracles
        # (which already prove tf-exactness of this split). '' is NOT
        # filtered: JS-split semantics yield an empty token on
        # empty/edge inputs in BOTH engines.
        "q_vocab_top_terms": f"""
WITH {_TOK_CTE},
t AS (SELECT doc_id, unnest(toks) AS term FROM tok),
s AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
      FROM t GROUP BY term)
SELECT term, df, cf FROM s ORDER BY df DESC, term ASC LIMIT 20""",
        # first adjacent-pair match located via list_position over
        # zip(toks, toks[2:]); slice is 1-based inclusive — start
        # max(1, i-3), end min(len, i+1+3) — exactly the engine's
        # 0-based [max(0,i0-3) : i0+2+3) window
        "q_snippets": f"""
WITH {_TOK_CTE},
m AS (SELECT doc_id, toks,
             list_position(list_zip(toks, toks[2:]), ('value', 'table')) AS i
      FROM tok)
SELECT doc_id,
       array_to_string(toks[greatest(1, i-3) : least(len(toks), i+1+3)], ' ') AS snippet
FROM m WHERE i IS NOT NULL AND i > 0""",
        "q_sort_limit": "SELECT doc_id, n_chars FROM documents ORDER BY n_chars ASC, doc_id ASC LIMIT 10",
        "q_bm25_rare": _bm25_sql(["dup"], 10, "or"),
        "q_bm25_mixed": _bm25_sql(["dup", "batch"], 10, "or"),
        "q_bm25_and": _bm25_sql(["batch", "small"], 10, "and"),
        "q_bm25_pruned": _bm25_sql(["dup", "batch", "small"], 10, "or"),
        # fielded BM25: per-field tf/df/idf (text standard; _all =
        # stopword-filtered text + source token), weighted saturation
        # sums under the SHARED text-length norm (the index's dl
        # semantics), w_text=1.0, w_all=0.5
        "q_bm25f": f"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM tok),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tf_text AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('dup', 'src7') GROUP BY doc_id, term
),
alltok AS (
  SELECT t.doc_id,
         list_filter(t.toks, x -> NOT list_contains({_stoplist_sql()} || [''], x))
         || [lower(trim(d.source))] AS toks
  FROM tok t JOIN documents d USING (doc_id)),
tf_all AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM alltok)
  WHERE term IN ('dup', 'src7') GROUP BY doc_id, term
),
df_text AS (SELECT term, count(*)::DOUBLE AS df FROM tf_text GROUP BY term),
df_all AS (SELECT term, count(*)::DOUBLE AS df FROM tf_all GROUP BY term),
c_text AS (
  SELECT tf.doc_id,
         sum( 1.0 * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf_text tf JOIN df_text df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id),
c_all AS (
  SELECT tf.doc_id,
         sum( 0.5 * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf_all tf JOIN df_all df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id),
u AS (SELECT doc_id, sum(s) AS s
      FROM (SELECT * FROM c_text UNION ALL SELECT * FROM c_all) GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM u ORDER BY s DESC, doc_id ASC LIMIT 10""",
        # more-like-this: doc 42's top-5 terms by tf·idf (tie term asc)
        # re-queried as disjunctive BM25, source excluded — term
        # selection AND scoring restated from first principles
        "q_mlt": f"""
WITH {_TOK_CTE},
dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM tok),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
u AS (SELECT doc_id, unnest(toks) AS term FROM tok),
srctf AS (SELECT term, count(*)::DOUBLE AS tf FROM u WHERE doc_id = 42 GROUP BY term),
docdf AS (SELECT u.term, count(DISTINCT u.doc_id)::DOUBLE AS df
          FROM u JOIN srctf USING (term) GROUP BY u.term),
sel AS (SELECT s.term
        FROM srctf s JOIN docdf d USING (term) CROSS JOIN stats
        ORDER BY s.tf * ln(1 + (stats.n - d.df + 0.5) / (d.df + 0.5)) DESC, s.term ASC
        LIMIT 5),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM u
       WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS s
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 6) AS score FROM scores
WHERE doc_id != 42 ORDER BY s DESC, doc_id ASC LIMIT 10""",
        # batch == per-query identity, so the oracle is the UNION of
        # the single-query restatements tagged with query ids
        "q_bm25_batch": (
            f"SELECT 'rare' AS query_id, * FROM ({_bm25_sql(['dup'], 10, 'or')}) "
            f"UNION ALL SELECT 'mixed', * FROM ({_bm25_sql(['dup', 'batch'], 10, 'or')}) "
            f"UNION ALL SELECT 'pair', * FROM ({_bm25_sql(['batch', 'small'], 10, 'or')})"
        ),
        "q_count_filtered": f"WITH {_TOK_CTE} SELECT count(*) AS n_docs FROM tok WHERE {_contains_sql('dup')}",
        "q_first": "SELECT doc_id, n_chars FROM documents ORDER BY n_chars ASC, doc_id ASC LIMIT 1",
        "q_first_multi": "SELECT doc_id, lang, n_chars FROM documents "
        "ORDER BY lang ASC, n_chars DESC, doc_id ASC LIMIT 1",
        # rule field: the engine lowercases word-rule tokens and keeps
        # @%& refs case-preserved; this corpus has no refs, so lowering
        # every extracted token restates the same semantics
        "q_rule_field": r"""
SELECT doc_id FROM documents
WHERE list_contains(
  list_transform(
    regexp_extract_all(text, '[@%&][A-Za-z0-9+/=]+\.[a-z0-9]+|[^\s\-,;:.]+'),
    t -> lower(t)),
  'value')""",
        # the engine's _all here tokenizes text AND source; 'src7'
        # cannot appear in text (letters-only vocab), so the source
        # side is restated exactly and the text side kept for rigor
        "q_multi_source_all": f"WITH {_TOK_CTE} SELECT t.doc_id FROM tok t "
        "JOIN documents d USING (doc_id) WHERE list_contains("
        f"list_filter(t.toks, x -> NOT list_contains({_stoplist_sql()} || [''], x)), 'src7') "
        "OR lower(trim(d.source)) = 'src7'",
        "q_last": "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id DESC LIMIT 1",
        "q_facets": f"WITH {_TOK_CTE} SELECT d.lang, count(*) AS n_docs "
        "FROM tok t JOIN documents d USING (doc_id) "
        f"WHERE {_contains_sql('dup')} GROUP BY d.lang",
        "q_group_by_lang": "SELECT lang, count(*) AS n_docs, max(n_chars) AS max_chars, "
        "min(doc_id) AS min_doc FROM documents GROUP BY lang",
        "q_buckets": "SELECT (floor(n_chars / 100) * 100)::BIGINT AS bucket, count(*) AS n_docs "
        "FROM documents GROUP BY 1",
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over the sf0.001 documents corpus."""
    out = bm25_topk(get_index(spark, "/root/testdata/sf0.001"), ["dup", "batch"], k=10)
    return _round(out, "score")
