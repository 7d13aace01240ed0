"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the driver's table views pre-registered, and an oracle-compare helper
that mirrors the driver's check (row count + column names + order-
insensitive value comparison)."""

from __future__ import annotations

import os

import duckdb
import pytest

from asvsp_spark.session import get_session
from asvsp_spark.tables import TPCH_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session("asvsp-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con


def duck_with_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")


def compare_frames_hashed(spark_df, duck_rel, context: str = "") -> int:
    """Driver-style compare: collect both sides, sort columns by name,
    canonicalize every value with str() (so NULLs sort as 'None' and
    never break tuple ordering), and assert equal sha256 value hashes.
    This is bit-for-bit the check the round driver runs. Returns the
    Spark row count so callers can assert cardinality without
    re-executing the plan. THE single copy of this comparator — the
    adversarial/NULL parity pins all route here (r10 review: three
    divergent copies invited silent drift)."""
    import hashlib

    def vhash(rows):
        h = hashlib.sha256()
        for r in sorted(tuple(str(v) for v in row) for row in rows):
            h.update("|".join(r).encode())
        return h.hexdigest()

    scols = sorted(spark_df.columns)
    srows = [[row[c] for c in scols] for row in spark_df.collect()]
    didx = [duck_rel.columns.index(c) for c in sorted(duck_rel.columns)]
    drows = [[r[i] for i in didx] for r in duck_rel.fetchall()]
    assert scols == sorted(duck_rel.columns), (
        f"{context}: columns differ: spark={scols} "
        f"duck={sorted(duck_rel.columns)}")
    assert len(srows) == len(drows), (
        f"{context}: row counts differ: spark={len(srows)} "
        f"duck={len(drows)}")
    assert vhash(srows) == vhash(drows), f"{context}: value hash differs"
    return len(srows)


def py_bucket_lo(cents: int, prefix_digits: int = 2) -> int:
    """Driver-side reference of operators/sketches.bucket_lo_expr
    (single copy shared by the unit and hypothesis suites), including
    the ±10^18 saturation buckets."""
    if cents > 10 ** 18 - 1:
        return 10 ** 18
    if cents < -(10 ** 18 - 1):
        return -2 * 10 ** 18
    if cents == 0:
        return 0
    a = abs(cents)
    m = max(len(str(a)) - prefix_digits, 0)
    lo = a - a % 10 ** m
    return lo if cents > 0 else -(lo + 10 ** m)
