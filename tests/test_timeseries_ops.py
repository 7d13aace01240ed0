"""Unit tests for the time-series operators: as-of join boundary/tolerance
semantics and session-window gap semantics, on tiny explicit fixtures."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from asvsp_spark.operators.asof import asof_join
from asvsp_spark.operators.sessions import user_sessions


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "a"),
         (1, _ts("2024-01-01 12:00:00"), "b"),
         (2, _ts("2024-01-01 09:00:00"), "c"),   # before any right row
         (3, _ts("2024-01-01 10:00:00"), "d")],  # key with no right rows
        ["k", "t", "tag"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 100),   # equal ts -> inclusive
         (1, _ts("2024-01-01 11:30:00"), 200),
         (2, _ts("2024-01-01 09:30:00"), 300)],
        ["k", "t", "v"])
    got = {r.tag: r.v for r in
           asof_join(left, right, on="k", left_ts="t", right_ts="t").collect()}
    assert got == {"a": 100, "b": 200, "c": None, "d": None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 12:00:00"), "x")], ["k", "t", "tag"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:00:00"), 1)], ["k", "t", "v"])
    within = asof_join(left, right, on="k", left_ts="t", right_ts="t",
                       tolerance=F.expr("INTERVAL 4 HOURS")).collect()[0]
    beyond = asof_join(left, right, on="k", left_ts="t", right_ts="t",
                       tolerance=F.expr("INTERVAL 2 HOURS")).collect()[0]
    assert within.v == 1 and beyond.v is None


def test_session_window_gap_boundary(spark):
    # Spark merges an event at EXACTLY last_ts + gap; only a strictly
    # larger gap starts a new session (oracle uses the same rule)
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1.0),
        (1, _ts("2024-01-01 10:29:59"), 1.0),   # same session
        (1, _ts("2024-01-01 10:59:59"), 1.0),   # exactly +30:00 -> merges
        (1, _ts("2024-01-01 11:30:00"), 1.0),   # +30:00.000001 -> NEW
        (2, _ts("2024-01-01 10:00:00"), 2.0),
    ]
    rows[3] = (1, _ts("2024-01-01 10:59:59") +
               dt.timedelta(minutes=30, microseconds=1), 1.0)
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = sorted((r.user_id, r.session_start, r.n_events)
                 for r in user_sessions(df).collect())
    assert got == [
        (1, "2024-01-01 10:00:00", 3),
        (1, "2024-01-01 11:29:59", 1),
        (2, "2024-01-01 10:00:00", 1),
    ]


def test_hll_within_rsd_of_exact(spark):
    """approx_count_distinct(rsd=0.02) stays within 3x the configured
    relative error of the exact distinct count on the fixture."""
    from asvsp_spark.plans.registry import all_queries
    from tests.conftest import SF_DIR
    qs = all_queries()
    exact = {r.day: r.n_users
             for r in qs["distinct_users_daily"](spark, SF_DIR).collect()}
    approx = {r.day: r.n_users_approx
              for r in qs["approx_users_daily"](spark, SF_DIR).collect()}
    assert exact.keys() == approx.keys()
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(3, 0.06 * n), (day, n, approx[day])


def test_cosine_dup_pairs_blocked_invariance(spark):
    """The block count is an execution knob, not a semantic one: forcing
    multiple block pairs must give exactly the single-block result."""
    from asvsp_spark import tables
    from asvsp_spark.operators.similarity import cosine_dup_pairs
    from tests.conftest import SF_DIR
    emb = tables.load(spark, SF_DIR, "embeddings")

    def rs(df):
        return sorted((r.id_a, r.id_b, r.cos_sim) for r in df.collect())

    one = rs(cosine_dup_pairs(emb, threshold=0.45, n_blocks=1))
    many = rs(cosine_dup_pairs(emb, threshold=0.45, n_blocks=5))
    assert one == many and len(one) > 0


def test_cosine_dup_pairs_zero_norm_guard(spark):
    """Zero vectors must neither crash nor emit NaN pairs — they simply
    never cross a positive threshold."""
    from asvsp_spark.operators.similarity import cosine_dup_pairs
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = sorted((r.id_a, r.id_b) for r in
                 cosine_dup_pairs(emb, threshold=0.5, n_blocks=2).collect())
    assert got == [(0, 1)]


def test_cosine_dup_pairs_lsh_fallback(spark):
    """Past max_exact the operator reroutes to the LSH candidate path:
    output must be a value-exact SUBSET of the exact all-pairs result."""
    from asvsp_spark import tables
    from asvsp_spark.operators.similarity import cosine_dup_pairs
    from tests.conftest import SF_DIR
    emb = tables.load(spark, SF_DIR, "embeddings")
    exact = {(r.id_a, r.id_b): r.cos_sim
             for r in cosine_dup_pairs(emb, threshold=0.45).collect()}
    lsh = {(r.id_a, r.id_b): r.cos_sim
           for r in cosine_dup_pairs(emb, threshold=0.45, max_exact=1).collect()}
    assert set(lsh) <= set(exact)
    assert all(exact[k] == v for k, v in lsh.items())


def test_cosine_lsh_giant_bucket_candidates_stay_linear(spark):
    """A giant near-identical clique (every band key shared) must NOT
    produce quadratic candidates: the hot-bucket cap drops its buckets
    before the self-join, mirroring minhash_lsh_pairs' guard. Distinct
    near-dup pairs outside the clique still surface."""
    import math
    from asvsp_spark.operators.similarity import (
        _hyperplane_band_keys, _lsh_band_candidates)
    from pyspark.sql import functions as F
    clique = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(300)]
    # two near-dup vectors far from the clique direction
    extras = [(1000, [-4.0, 3.0, -2.0, 1.0]), (1001, [-4.0, 3.1, -2.0, 1.0])]
    emb = spark.createDataFrame(clique + extras,
                                "vec_id long, embedding array<double>")
    sketched = emb.select(
        F.col("vec_id").alias("vid"),
        F.explode(_hyperplane_band_keys("embedding", 8, 8)).alias("band_key"))
    capped = _lsh_band_candidates(sketched, max_bucket=50).count()
    uncapped = _lsh_band_candidates(sketched, max_bucket=None).count()
    assert uncapped >= math.comb(300, 2)  # the quadratic blow-up is real
    assert capped <= 10                   # and the cap removes it
    got = {(r.id_a, r.id_b) for r in
           _lsh_band_candidates(sketched, max_bucket=50).collect()}
    assert (1000, 1001) in got


def test_cosine_lsh_recall_on_near_identical_clusters(spark):
    """The banded sketch must catch high-similarity pairs (its target
    regime) with near-certain probability: 1-(1-p^r)^b with p~0.95+."""
    import numpy as np
    from asvsp_spark.operators.similarity import _cosine_pairs_lsh
    rng = np.random.default_rng(11)
    rows = []
    want = set()
    for c in range(20):
        base = rng.normal(size=16)
        a_id, b_id = 2 * c, 2 * c + 1
        rows.append((a_id, [float(x) for x in base]))
        rows.append((b_id, [float(x) for x in base + rng.normal(scale=0.01, size=16)]))
        want.add((a_id, b_id))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.id_a, r.id_b)
           for r in _cosine_pairs_lsh(emb, threshold=0.99).collect()}
    assert len(got & want) / len(want) >= 0.9


def test_lsh_sketch_tolerates_null_and_ragged_embeddings(spark):
    """ADVICE r2: a NULL or ragged embedding must not fail the Python
    worker — banded keys go NULL (row dropped from candidates), the
    single-bucket sketch goes to sentinel 0."""
    from asvsp_spark.operators.similarity import (
        _cosine_pairs_lsh, lsh_bucketed_topk)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.01, 0.0]),
         (2, None), (3, [5.0, 5.0])],
        "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b)
             for r in _cosine_pairs_lsh(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs
    assert not any(2 in p or 3 in p for p in pairs)
    # single-bucket sketch path: must simply not raise
    lsh_bucketed_topk(emb, k=2, n_queries=2).collect()


def test_similarity_module_never_collects_to_driver():
    """r1 review: the dup-pair index must not be materialized on the
    driver. Pin it at the source level: no toPandas anywhere, and every
    .collect() must sit under an explicit `driver-ok:` annotation on
    the preceding line stating why it is bounded metadata (today: the
    k x dim centroid table of assign_cells), never row-level data."""
    import inspect
    from asvsp_spark.operators import similarity
    lines = inspect.getsource(similarity).splitlines()
    assert not any(".toPandas(" in ln for ln in lines)
    for i, ln in enumerate(lines):
        if ".collect()" in ln:
            assert "driver-ok:" in lines[i - 1], (i + 1, ln)
