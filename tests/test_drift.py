"""Hand-computed fixtures for the skew diagnostics and drift monitor —
the algebra the oracle can't pin on edge cases the testdata never hits
(absent categories, exact interpolated median, top-k truncation)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from asvsp_spark.operators.drift import distribution_drift
from asvsp_spark.operators.skew import key_skew_report


def test_key_skew_report_hand_computed(spark):
    """a×6, b×2, c×1, d×1: median key rows = (1+2)/2 = 1.5; the hot key
    holds 60% of rows at 4× the median."""
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 2 + [("c",)] + [("d",)], "k string")
    rows = {r["rank"]: r for r in key_skew_report(df, "k").collect()}
    assert [rows[i]["key"] for i in (1, 2, 3, 4)] == ["a", "b", "c", "d"]
    top = rows[1]
    assert top["n_rows"] == 6 and top["n_keys"] == 4
    assert top["share"] == 0.6 and top["cum_share"] == 0.6
    assert top["median_key_rows"] == 1.5
    assert top["skew_vs_median"] == 4.0
    assert rows[2]["cum_share"] == 0.8
    assert rows[4]["cum_share"] == 1.0


def test_key_skew_report_top_k_truncates(spark):
    df = spark.createDataFrame([(str(i),) for i in range(20)], "k string")
    out = key_skew_report(df, "k", top_k=5).collect()
    assert len(out) == 5
    assert all(r["n_keys"] == 20 for r in out)


def test_distribution_drift_hand_computed(spark):
    """Day 1: 3×x + 1×y; day 2: 4×y (x absent). Baseline: x=3/8, y=5/8.
    KL and TVD computed by hand; the absent category's baseline mass
    (3/8) must flow into day 2's TVD."""
    rows = ([(f"2024-01-01 0{i}:00:00", "x") for i in range(3)]
            + [("2024-01-01 03:00:00", "y")]
            + [(f"2024-01-02 0{i}:00:00", "y") for i in range(4)])
    df = spark.createDataFrame(rows, "ts string, event_type string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    got = {r["day"]: r for r in distribution_drift(df).collect()}

    d1 = got["2024-01-01"]
    kl1 = 0.75 * math.log(0.75 / (3 / 8)) + 0.25 * math.log(0.25 / (5 / 8))
    tvd1 = 0.5 * (abs(0.75 - 3 / 8) + abs(0.25 - 5 / 8))
    assert d1["n_events"] == 4 and d1["n_types"] == 2
    assert abs(d1["kl_nats"] - kl1) < 1e-6
    assert abs(d1["tvd"] - tvd1) < 1e-6

    d2 = got["2024-01-02"]
    kl2 = 1.0 * math.log(1.0 / (5 / 8))
    tvd2 = 0.5 * (abs(1.0 - 5 / 8) + 3 / 8)  # + absent x's baseline mass
    assert d2["n_events"] == 4 and d2["n_types"] == 1
    assert abs(d2["kl_nats"] - kl2) < 1e-6
    assert abs(d2["tvd"] - tvd2) < 1e-6


def test_distribution_drift_identical_mix_is_zero(spark):
    """Every day matching the baseline mix exactly -> KL = TVD = 0."""
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        rows += [(f"{day} 00:00:00", "x")] * 2 + [(f"{day} 01:00:00", "y")]
    df = spark.createDataFrame(rows, "ts string, event_type string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    for r in distribution_drift(df).collect():
        assert r["kl_nats"] == 0.0 and r["tvd"] == 0.0


def test_key_skew_report_null_keys_are_a_category(spark):
    """NULL join keys — routinely the hottest key in real data — must
    surface as the '<null>' group, not vanish or reorder."""
    df = spark.createDataFrame(
        [(None,)] * 3 + [("a",)], "k string")
    top = key_skew_report(df, "k").collect()[0]
    assert top["key"] == "<null>" and top["n_rows"] == 3
    assert top["share"] == 0.75


def test_distribution_drift_null_keys_counted(spark):
    """NULL categories fold into '<null>' and keep contributing mass:
    n_events counts them and an all-identical mix still reports 0."""
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        rows += [(f"{day} 00:00:00", "x"), (f"{day} 01:00:00", None)]
    df = spark.createDataFrame(rows, "ts string, event_type string") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = distribution_drift(df).collect()
    assert all(r["n_events"] == 2 and r["n_types"] == 2 for r in out)
    assert all(r["kl_nats"] == 0.0 and r["tvd"] == 0.0 for r in out)


def test_distribution_drift_single_corpus_scan(spark):
    """The baseline must derive from the pinned count table — one fact
    scan total, or the drift gate triples its most expensive stage."""
    from asvsp_spark.plans.registry import all_queries
    df = all_queries()["distribution_drift_daily"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("events.parquet") <= 1


def test_incremental_drift_check_two_batches(spark, tmp_path):
    """Bootstrap on an x-heavy day, then a flipped-mix delta must score
    high drift vs the stored baseline; a novel category gets the add-one
    floor (reported, not crashed) and stored-only categories keep their
    absent-mass contribution in TVD."""
    import math
    from asvsp_spark.operators.drift import incremental_drift_check
    store = str(tmp_path / "store")

    def frame(rows):
        return spark.createDataFrame(rows, "ts string, event_type string") \
            .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")

    d1 = frame([("2024-01-01 00:00:00", "x")] * 3
               + [("2024-01-01 01:00:00", "y")])
    r1, s1 = incremental_drift_check(spark, d1, store)
    assert s1["bootstrapped"] and s1["delta_events"] == 4
    # self-baseline bootstrap: single day == overall mix -> zero drift
    row1 = r1.collect()[0]
    assert row1["kl_nats"] == 0.0 and row1["tvd"] == 0.0

    # delta 2: y-heavy + novel category z; baseline is d1's {x:3, y:1}
    d2 = frame([("2024-01-02 00:00:00", "y")] * 3
               + [("2024-01-02 01:00:00", "z")])
    r2, s2 = incremental_drift_check(spark, d2, store)
    assert not s2["bootstrapped"]
    row2 = r2.collect()[0]
    # baseline with add-one floor for z: {x:3, y:1, z:1}, ct=5
    kl = 0.75 * math.log(0.75 / (1 / 5)) + 0.25 * math.log(0.25 / (1 / 5))
    tvd = 0.5 * (abs(0.75 - 1 / 5) + abs(0.25 - 1 / 5) + 3 / 5)  # + absent x
    assert abs(row2["kl_nats"] - kl) < 1e-6
    assert abs(row2["tvd"] - tvd) < 1e-6

    # the store accreted delta 2's counts: y now 1+3, z floor replaced
    # by its real count 1, x unchanged
    stored = {r["key"]: r["cb"] for r in
              spark.read.parquet(store).groupBy("key")
              .agg(F.sum("cb").alias("cb")).collect()}
    assert stored == {"x": 3, "y": 4, "z": 1}


def test_divergence_matches_python_reference(spark):
    """divergence_by_bucket against a pure-Python KL/TVD reference on
    randomized count tables (hypothesis) — including buckets missing
    categories the baseline carries."""
    from hypothesis import HealthCheck, given, settings, strategies as st
    from asvsp_spark.operators.drift import divergence_by_bucket

    @given(data=st.dictionaries(
        st.tuples(st.integers(0, 2), st.sampled_from("abcd")),
        st.integers(1, 9), min_size=1, max_size=10))
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    def check(data):
        import math
        rows = [(b, k, c) for (b, k), c in data.items()]
        df = spark.createDataFrame(rows, "bucket int, key string, c long")
        got = {r["bucket"]: r for r in
               divergence_by_bucket(df, "bucket").collect()}
        base: dict = {}
        for b, k, c in rows:
            base[k] = base.get(k, 0) + c
        ct = sum(base.values())
        buckets = {b for b, _, _ in rows}
        for b in buckets:
            present = {k: c for bb, k, c in rows if bb == b}
            bt = sum(present.values())
            kl = sum((c / bt) * math.log((c / bt) / (base[k] / ct))
                     for k, c in present.items())
            tvd = 0.5 * (
                sum(abs(c / bt - base[k] / ct) for k, c in present.items())
                + sum(base[k] / ct for k in base if k not in present))
            assert abs(got[b]["kl_nats"] - kl) < 2e-6
            assert abs(got[b]["tvd"] - tvd) < 2e-6
            assert got[b]["n_events"] == bt

    check()
