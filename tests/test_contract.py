"""Driver-contract registry checks (no Spark session needed)."""

import bench
from yaii_spark.entrypoint import oracle_sql, queries


def test_every_query_has_an_oracle_and_bench_names_exist():
    names = set(queries())
    assert names == set(oracle_sql())
    assert set(bench.HEADLINE) <= names
