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


def test_mom_pct_change_signed_zero(spark, tmp_path):
    """A month-over-month change that rounds to zero from below is 0.0
    in Spark (round_fixed goes through BigDecimal, which has no negative
    zero) and must be 0.0 in the DuckDB oracle too, whose
    ``round(x * 100) / 100.0`` keeps the sign and yields -0.0 — which the
    driver's str() hash sees as a different value."""
    import datetime
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))

    # one nation, one customer, two months: 1000.00 then 999.99 — a
    # -0.001% change, -0.1 hundredths before rounding
    ts = [datetime.datetime(2024, 1, 15), datetime.datetime(2024, 2, 15)]
    write("nation", {"n_nationkey": pa.array([0], pa.int32()),
                     "n_name": pa.array(["USA"]),
                     "n_regionkey": pa.array([0], pa.int32())})
    write("customer", {"c_custkey": pa.array([1], pa.int64()),
                       "c_name": pa.array(["Alice"]),
                       "c_nationkey": pa.array([0], pa.int32()),
                       "c_acctbal": pa.array([1.0], pa.float64()),
                       "c_mktsegment": pa.array(["BUILDING"])})
    write("orders", {"o_orderkey": pa.array([1, 2], pa.int64()),
                     "o_custkey": pa.array([1, 1], pa.int64()),
                     "o_orderstatus": pa.array(["F", "F"]),
                     "o_totalprice": pa.array([1000.0, 999.99], pa.float64()),
                     "o_orderdate": pa.array(ts, pa.timestamp("us")),
                     "o_orderpriority": pa.array(["1-URGENT", "1-URGENT"])})
    write("events", {"event_id": pa.array([1, 2], pa.int64()),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array([1, 1], pa.int64()),
                     "event_type": pa.array(["view", "view"]),
                     "value": pa.array([1000.0, 999.99], pa.float64()),
                     "props": pa.array(["{}", "{}"])})
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{os.path.join(d, t + '.parquet')}')")
    for name in ("q04_mom_pct_change", "rollup_monthly_events"):
        sdf = QUERIES[name](spark, d)
        changes = [r["mom_pct_change"] for r in sdf.collect()]
        assert 0.0 in changes, (name, changes)
        compare_frames_hashed(sdf, con.sql(ORACLES[name]), context=name)
