"""The driver-contract correctness gate, one test per `queries()` entry.

Each query runs on Spark over a small seeded `documents`/`events`
corpus and is compared with its `oracle_sql()` statement run by DuckDB
on the same parquet files: column names, row count and the
order-insensitive value hash of `scripts/check_oracles.py`. Every query
runs under both placements of the per-segment work (the ``placement``
fixture): on the driver where it is small, and as one Spark job.
"""

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest

from scripts.check_oracles import value_hash
from yaii_spark import entrypoint
from yaii_spark.entrypoint import oracle_sql, queries

_WORDS = (
    "key agg row scan slow fast table value part hash batch window spark "
    "order data column join small line customer query filter merge big the "
    "a stream sort group vector"
).split()
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
# the corpus gives every other query at least one row, so no comparison
# passes on two empty results
_EMPTY_BY_DESIGN = {"q_and_absent_empty", "q_token_all_stopword"}


def _documents(n: int = 400) -> pd.DataFrame:
    rng = np.random.default_rng(6)
    rows = []
    for doc_id in range(n):
        words = list(rng.choice(_WORDS, size=int(rng.integers(8, 90))))
        if rng.random() < 0.06:
            words += ["dup"] * int(rng.integers(1, 3))
        text = " ".join(words)
        rows.append(
            (doc_id, text, _LANGS[int(rng.integers(len(_LANGS)))], f"src{doc_id % 20}", len(text))
        )
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def _events(n: int = 2000) -> pd.DataFrame:
    rng = np.random.default_rng(11)
    start = dt.datetime(2024, 1, 1)
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Series(
                [start + dt.timedelta(microseconds=int(s)) for s in micros],
                dtype="datetime64[us]",
            ),
            "user_id": rng.integers(0, 50, size=n),
            "event_type": rng.choice(["view", "click", "error"], size=n),
            "value": np.round(rng.random(n) * 20, 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


@pytest.fixture(scope="module")
def gate(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("contract")
    sf_dir = root / "sf"
    sf_dir.mkdir()
    _documents().to_parquet(sf_dir / "documents.parquet", index=False)
    _events().to_parquet(sf_dir / "events.parquet", index=False)
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir / (t + '.parquet')}'")
    # the query indexes live beside the corpus, not in the shared cache
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(entrypoint, "_CACHE_ROOT", str(root / "indexes"))
        yield spark, str(sf_dir), con
    con.close()


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_matches_its_oracle(gate, name, placement):
    spark, sf_dir, con = gate
    sdf = queries()[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    ddf = con.sql(oracle_sql()[name])
    d_cols = list(ddf.columns)
    d_rows = ddf.fetchall()
    assert bool(d_rows) == (name not in _EMPTY_BY_DESIGN)
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert value_hash(s_rows, s_cols) == value_hash(d_rows, d_cols)
