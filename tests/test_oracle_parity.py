"""Oracle parity: every registered query's Spark result must be set-equal
to its DuckDB oracle on the same parquet tables — the same check the
driver runs at sf0.01."""

from __future__ import annotations

import pytest

from asvsp_spark.plans.registry import all_oracle_sql, all_queries
from tests.conftest import SF_DIR, compare_frames_hashed, duck_with_views

QUERIES = all_queries()
ORACLES = all_oracle_sql()


def test_every_query_has_callable():
    assert QUERIES, "registry must not be empty"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck):
    duck_with_views(duck, SF_DIR)
    spark_df = QUERIES[name](spark, SF_DIR)
    duck_rel = duck.sql(ORACLES[name])
    compare_frames_hashed(spark_df, duck_rel, context=name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    """Queries without an oracle still must run and return a stable schema."""
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns
    assert df.count() >= 0
