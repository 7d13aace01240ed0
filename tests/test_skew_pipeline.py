"""Tests: the salted join is exactly the direct join; the materialized
batch chain writes prunable partition layouts and round-trips every
layer unchanged."""

from __future__ import annotations

from pyspark.sql import functions as F

from asvsp_spark import tables
from asvsp_spark.operators import rollups as R
from asvsp_spark.pipeline import run_batch_chain
from tests.conftest import SF_DIR


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_batch_chain_materializes_and_roundtrips(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    layers = run_batch_chain(spark, SF_DIR, out)

    # layouts on disk are partitioned as declared -> pruning possible
    assert any(p.name.startswith("event_type=")
               for p in (tmp_path / "warehouse" / "daily").iterdir())
    assert any(p.name.startswith("event_type=")
               for p in (tmp_path / "warehouse" / "baselines").iterdir())

    # each written layer equals the direct transform
    events = tables.load(spark, SF_DIR, "events")
    assert _rowset(layers["daily"]) == _rowset(R.daily_rollup(events))
    assert _rowset(layers["monthly"]) == _rowset(
        R.monthly_rollup(R.daily_rollup(events)))
    assert _rowset(layers["baselines"]) == _rowset(R.baselines(events))

    # partition filter prunes: only one event_type directory is read
    pruned = layers["daily"].filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() > 0


def test_salted_join_matches_direct_join(spark):
    """The salted shuffle join must return the exact multiset of the
    direct join under a pathologically hot key — inner and left, with
    duplicate keys on the small side — while actually spreading the hot
    key across salt buckets."""
    from asvsp_spark.operators.skew import salted_join
    big = spark.createDataFrame(
        [(("hot" if i % 10 else f"cold{i}"), i) for i in range(2000)],
        "k string, payload long")
    small = spark.createDataFrame(
        [("hot", 1), ("hot", 2),          # duplicate small-side key
         ("cold10", 3), ("missing", 4)],
        "k string, tag long")

    def canon(df):
        return sorted((r.k, r.payload, r.tag) for r in df.collect())

    for how in ("inner", "left"):
        got = canon(salted_join(big, small, "k", buckets=8, how=how))
        want = canon(big.join(small, "k", how))
        assert got == want, how

    # the hot key really spreads (deterministic content salt): >1 bucket
    spread = (big.filter(F.col("k") == "hot")
              .select(F.pmod(F.xxhash64("k", "payload"), F.lit(8))
                      .alias("s"))
              .distinct().count())
    assert spread > 1


def test_join_fanout_report_hand_computed(spark):
    """Known per-side counts: out_rows = n_left x n_right per key,
    inner-join semantics (one-sided and NULL keys emit nothing),
    shares over the exact total, deterministic tie-break."""
    from asvsp_spark.operators.skew import join_fanout_report
    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("only_left",)] + [(None,)],
        "k string")
    right = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 5 + [("only_right",)] + [(None,)],
        "k string")
    rows = {r.key: r for r in
            join_fanout_report(left, right, "k").collect()}
    assert set(rows) == {"a", "b"}
    a, b = rows["a"], rows["b"]
    assert (a.n_left, a.n_right, a.out_rows) == (3, 4, 12)
    assert (b.n_left, b.n_right, b.out_rows) == (2, 5, 10)
    assert a.total_out_rows == b.total_out_rows == 22
    assert (a.rank, b.rank) == (1, 2)
    assert a.share == round(12 / 22, 6)
    assert b.cum_share == 1.0


def test_diagnose_cli_skew_and_fanout(spark, tmp_path, capsys):
    """diagnose CLI: both kinds run over parquet inputs and print the
    ranked reports; wrong arity exits 2."""
    from asvsp_spark.cli import main
    from tests.conftest import SF_DIR
    ev = f"{SF_DIR}/events.parquet"
    li = f"{SF_DIR}/lineitem.parquet"
    assert main(["diagnose", "skew", ev, "--key", "event_type",
                 "--top-k", "3"]) == 0
    out = capsys.readouterr().out
    assert out.count("#") == 3 and "vs_median=" in out
    assert main(["diagnose", "fanout", li, li,
                 "--key", "l_partkey", "--top-k", "2"]) == 0
    out = capsys.readouterr().out
    assert out.count("#") == 2 and "out_rows=" in out
    assert main(["diagnose", "skew", ev, ev, "--key", "x"]) == 2
    capsys.readouterr()
