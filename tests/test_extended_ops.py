"""Unit tests for the extended operator family: CUBE aggregation,
percentiles (exact vs sketch), the range join's boundary semantics, and
stratified sampling. Oracle parity for the same operators runs in
test_oracle_parity.py via the registry; these tests pin the semantic
edges an oracle diff would not localize."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from asvsp_spark import tables
from tests.conftest import SF_DIR


def test_cube_grouping_ids(spark):
    """CUBE emits all four grouping sets; gid distinguishes 'aggregated
    away' from a genuine key, and every slice totals to the grand total."""
    from asvsp_spark.operators.grouping import cube_revenue
    cube = cube_revenue(tables.load(spark, SF_DIR, "orders"),
                        tables.load(spark, SF_DIR, "customer"),
                        tables.load(spark, SF_DIR, "nation")).collect()
    by_gid = {}
    for r in cube:
        by_gid.setdefault(r.gid, []).append(r)
    # gid bits: nation=MSB, yr=LSB; 0=detail, 1=yr rolled up, 2=nation
    # rolled up, 3=grand total
    assert set(by_gid) == {0, 1, 2, 3}
    assert len(by_gid[3]) == 1
    grand = by_gid[3][0]
    assert grand.nation is None and grand.yr is None
    for gid in (0, 1, 2):
        assert sum(r.n_orders for r in by_gid[gid]) == grand.n_orders
        assert round(sum(r.revenue for r in by_gid[gid]), 2) == grand.revenue
    # rolled-up columns are NULL exactly per the gid bits
    assert all(r.yr is None and r.nation is not None for r in by_gid[1])
    assert all(r.nation is None and r.yr is not None for r in by_gid[2])


def test_approx_percentiles_within_bound(spark):
    """The sketch's estimate must land near the exact interpolated
    percentile. percentile_approx returns an actual element (no
    interpolation), so on small groups the gap to the interpolated value
    can be a full inter-element step — 3% covers that at sf0.001 and
    tightens as groups grow."""
    from asvsp_spark.operators.grouping import (approx_percentiles,
                                                priority_percentiles)
    orders = tables.load(spark, SF_DIR, "orders")
    exact = {r.o_orderpriority: r for r in priority_percentiles(orders).collect()}
    approx = {r.o_orderpriority: r for r in approx_percentiles(orders).collect()}
    assert exact.keys() == approx.keys()
    for prio, e in exact.items():
        a = approx[prio]
        for ex, ap in ((e.median, a.median_approx), (e.p90, a.p90_approx)):
            assert abs(ap - ex) <= max(1.0, 0.03 * ex), (prio, ex, ap)


def test_range_join_boundaries(spark):
    """Inclusive start, exclusive end: an event at the order's midnight is
    in; one at exactly +7 days is out."""
    from asvsp_spark.operators.ranges import events_after_order
    day0 = datetime.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 10, "O", 0.0, day0, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    events = spark.createDataFrame(
        [(100, day0, 10, "click", 1.0, "{}"),                       # t=0: in
         (101, day0 + datetime.timedelta(days=7, seconds=-1), 10,
          "click", 2.0, "{}"),                                      # in
         (102, day0 + datetime.timedelta(days=7), 10,
          "click", 4.0, "{}"),                                      # out
         (103, day0, 99, "click", 8.0, "{}")],                      # other user
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    out = events_after_order(orders, events, days=7).collect()
    assert len(out) == 1
    assert out[0].n_events == 2
    assert out[0].event_value_sum == 3.0


def test_range_join_keeps_orders_without_events(spark):
    """LEFT semantics: an order with no in-range events keeps a zero row."""
    from asvsp_spark.operators.ranges import events_after_order
    orders = tables.load(spark, SF_DIR, "orders")
    out = events_after_order(orders, tables.load(spark, SF_DIR, "events"))
    assert out.count() == orders.count()


def test_hash_stratified_sample_deterministic(spark):
    """Hash membership is a pure row function: identical output across
    runs AND across repartitionings (Bernoulli sampleBy is not)."""
    from asvsp_spark.operators.sampling import hash_stratified_sample
    docs = tables.load(spark, SF_DIR, "documents")
    a = {r.doc_id for r in hash_stratified_sample(docs).collect()}
    b = {r.doc_id for r in hash_stratified_sample(docs.repartition(7)).collect()}
    assert a == b and len(a) > 0


def test_stratified_fractions(spark):
    """Both variants keep only listed strata, at roughly the asked rate."""
    from asvsp_spark.operators.sampling import (hash_stratified_sample,
                                                stratified_sample)
    docs = tables.load(spark, SF_DIR, "documents")
    totals = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    fr = {"en": 0.6, "de": 0.2}
    for sample in (stratified_sample(docs, fr), hash_stratified_sample(docs, fr)):
        got = {r.lang: r.n for r in
               sample.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert set(got) <= set(fr)
        for lang, frac in fr.items():
            n, tot = got.get(lang, 0), totals.get(lang, 0)
            if tot >= 20:  # tolerance only meaningful with some mass
                assert abs(n / tot - frac) < 0.25, (lang, n, tot)


def test_stream_stream_join_is_watermarked_state_join(spark):
    """sq6 joins two live streams (no foreachBatch fake): tiny two-user
    fixture where only the within-1h pair matches."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile

    from asvsp_spark.streaming import queries as SQ

    d = tempfile.mkdtemp(prefix="sq6-unit-")
    base_us = 1_700_000_000_000_000
    rows = [
        # user 1: click then purchase 30 min later -> match
        (1, (base_us + 0) * 1000, 1, "click", 1.0, "{}"),
        (2, (base_us + 1800 * 10**6) * 1000, 1, "purchase", 5.0, "{}"),
        # user 2: click then purchase 2h later -> no match
        (3, (base_us + 0) * 1000, 2, "click", 1.0, "{}"),
        (4, (base_us + 7200 * 10**6) * 1000, 2, "purchase", 5.0, "{}"),
        # user 1: purchase BEFORE the click -> no match
        (5, (base_us - 600 * 10**6) * 1000, 1, "purchase", 5.0, "{}"),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.int64()),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    }), f"{d}/events.parquet")
    out = SQ.sq6_attribution_join(spark, d).collect()
    assert len(out) == 1
    assert out[0].conv_event_id == 2 and out[0].eng_event_id == 1
    assert out[0].lag_micros == 1800 * 10**6


def test_cli_list_oracle_paths(capsys):
    """CLI surfaces: list + oracle subcommands (sessionless paths)."""
    from asvsp_spark.cli import main
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_yearly_rank_yoy" in out and "rows-only" in out
    assert main(["oracle", "q09_weekend_effect"]) == 0
    assert "SELECT" in capsys.readouterr().out
    # hll_user_rollup (DataSketches HLL — engine-specific estimates) is
    # rows-only by design — `oracle` must refuse it (lsh_topk earned an
    # oracle in r5 via md5 plane signs; ivf_topk in r8 via the
    # deterministic integer-Lloyd quantizer; pq_rerank_topk +
    # ivfpq_rerank_topk, the previous picks here, later in r8 via the
    # same quantizer applied per subspace)
    assert main(["oracle", "hll_user_rollup"]) == 1


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_connected_components_chain_and_singletons(spark, id_type):
    """A 5-vertex chain (needs multiple contraction rounds to converge),
    a separate pair, and a doc with no edges (singleton cluster). The
    API accepts any orderable id type: zero-padded string ids ("v01",
    ...) order like the integers and must give the same clusters."""
    from asvsp_spark.operators.components import (connected_components,
                                                  dedup_clusters)
    vid = (lambda i: i) if id_type == "long" else (lambda i: f"v{i:02d}")
    edges = spark.createDataFrame(
        [(vid(a), vid(b)) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5),
                                       (10, 11)]],
        f"doc_a {id_type}, doc_b {id_type}")
    cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert cc == {vid(v): vid(c) for v, c in
                  {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}.items()}

    docs = spark.createDataFrame(
        [(vid(i),) for i in (1, 2, 3, 4, 5, 10, 11, 99)], f"doc_id {id_type}")
    out = {r.doc_id: r for r in dedup_clusters(docs, edges).collect()}
    assert out[vid(99)].cluster_id == vid(99)
    assert out[vid(99)].cluster_size == 1 and out[vid(99)].is_keeper
    assert out[vid(5)].cluster_id == vid(1) and out[vid(5)].cluster_size == 5
    assert not out[vid(5)].is_keeper and out[vid(1)].is_keeper


def test_type_correlation_extremes(spark):
    """A perfectly linear pair gives r=1; a perfectly inverse pair r=-1."""
    import datetime
    from asvsp_spark.operators.correlate import type_correlation
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, base in enumerate([10.0, 20.0, 30.0, 40.0]):
        ts = t0 + datetime.timedelta(hours=h)
        for typ, v in (("a", base), ("b", 2 * base), ("c", 50.0 - base)):
            eid += 1
            rows.append((eid, ts, 1, typ, v, "{}"))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {(r.type_a, r.type_b): r.pearson_r
           for r in type_correlation(events).collect()}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert out[("b", "c")] == -1.0


def test_snapshot_diff_statuses_and_nulls(spark):
    """All four statuses; a NULL value must differ from the string 'null'
    and from empty (sentinel-encoded fingerprint)."""
    from asvsp_spark.operators.diff import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "gone")],
        "k long, v string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, ""), (5, "new")],
        "k long, v string")
    out = {r.k: r.status for r in snapshot_diff(old, new, "k").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}


def test_quantize_int8_reconstruction_and_zero(spark):
    """Dequantized vectors land within scale/2 per component; max
    component hits exactly +-127; zero vectors get an all-zero code."""
    from asvsp_spark.operators.similarity import quantize_int8
    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_int8(emb).collect()}
    q1, s1 = out[1].q8, out[1].scale
    assert min(q1) == -127  # the max-magnitude component saturates
    orig = [0.5, -1.0, 0.25]
    for o, q in zip(orig, q1):
        # s1 is the 9-decimal-rounded scale; a component landing exactly
        # on a .5 rounding boundary can exceed scale/2 by that rounding
        assert abs(o - q * s1) <= s1 / 2 + 1e-7
    assert out[2].q8 == [0, 0, 0] and out[2].scale == 0.0


def test_tables_load_rejects_schema_drift(spark, tmp_path):
    """A parquet file missing declared columns fails loudly."""
    import pytest as _pytest
    from asvsp_spark import tables
    bad = str(tmp_path / "bad")
    spark.range(3).selectExpr("id AS o_orderkey").write.parquet(bad + "/orders.parquet")
    with _pytest.raises(ValueError, match="missing declared columns"):
        tables.load(spark, bad, "orders")


def test_mixture_rebalance_quota_semantics(spark):
    """Quota math: M = min(n_s / t_s); each stratum keeps exactly
    floor(M * t_s); membership is stable across repartitioning."""
    from asvsp_spark.operators.sampling import mixture_rebalance
    rows = [(i, "en") for i in range(80)] + \
           [(100 + i, "es") for i in range(30)] + \
           [(200 + i, "de") for i in range(10)] + \
           [(300 + i, "xx") for i in range(7)]      # no target: dropped
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    tg = {"en": 0.5, "es": 0.3, "de": 0.2}
    out = mixture_rebalance(docs, targets=tg).collect()
    got = {}
    for r in out:
        got.setdefault(r.lang, []).append(r.doc_id)
    # M = min(80/.5, 30/.3, 10/.2) = 50 -> quotas 25 / 15 / 10
    assert {k: len(v) for k, v in got.items()} == \
        {"en": 25, "es": 15, "de": 10}
    assert "xx" not in got
    again = mixture_rebalance(docs.repartition(13), targets=tg).collect()
    assert sorted(r.doc_id for r in again) == \
        sorted(r.doc_id for r in out)


def test_hll_rollup_error_bound_and_merge_identity(spark):
    """Sketch estimates land within 5% of exact distinct counts at
    lgK=12, and the monthly number comes from unioning DAILY sketches —
    assert it matches a direct whole-month sketch exactly (same sketch
    algebra) and the exact count within the bound."""
    from asvsp_spark import tables
    from asvsp_spark.operators.sketches import (daily_user_sketches,
                                                monthly_distinct_users)
    from tests.conftest import SF_DIR
    ev = tables.load(spark, SF_DIR, "events")
    daily = daily_user_sketches(ev)
    monthly = {(r.month, r.event_type): r.est_users
               for r in monthly_distinct_users(daily).collect()}
    direct = {(r.month, r.event_type): r.est
              for r in (ev.withColumn("month", F.date_format("ts", "yyyy-MM"))
                        .groupBy("month", "event_type")
                        .agg(F.hll_sketch_estimate(
                            F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
                        .collect())}
    exact = {(r.month, r.event_type): r.n
             for r in (ev.withColumn("month", F.date_format("ts", "yyyy-MM"))
                       .groupBy("month", "event_type")
                       .agg(F.count_distinct("user_id").alias("n"))
                       .collect())}
    assert monthly == direct, "union of daily sketches == whole-month sketch"
    for k, est in monthly.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_scd2_collapses_runs_and_flags_current(spark):
    from asvsp_spark.operators.diff import scd2_intervals
    rows = [
        (1, "A", 100, 1), (1, "A", 200, 2), (1, "B", 300, 3),
        (1, "A", 400, 4),                     # back to A: NEW interval
        (2, "X", 150, 5),
    ]
    ev = spark.createDataFrame(rows, "k long, s string, t long, id long")
    out = sorted((r.k, r.state, r.valid_from, r.valid_to, r.is_current)
                 for r in scd2_intervals(ev, "k", "s", ts_col="t",
                                         tiebreak_col="id").collect())
    assert out == [
        (1, "A", 100, 300, False),
        (1, "A", 400, None, True),
        (1, "B", 300, 400, False),
        (2, "X", 150, None, True),
    ]


def test_scd2_null_state_runs_are_their_own_intervals(spark):
    """NULL is a real state: a NULL following a non-NULL state opens a
    new interval (a null-unsafe != would drop the row and silently merge
    the NULL run into the prior interval), consecutive NULLs collapse
    into one run, and a NULL-to-non-NULL transition closes it."""
    from asvsp_spark.operators.diff import scd2_intervals
    rows = [
        (1, "A", 100, 1),
        (1, None, 200, 2),   # A -> NULL: new interval
        (1, None, 300, 3),   # NULL run continues: collapsed
        (1, "B", 400, 4),    # NULL -> B: closes the NULL interval
        (2, None, 50, 5),    # key starting in NULL state
        (2, None, 60, 6),
    ]
    ev = spark.createDataFrame(rows, "k long, s string, t long, id long")
    out = sorted(
        ((r.k, r.state, r.valid_from, r.valid_to, r.is_current)
         for r in scd2_intervals(ev, "k", "s", ts_col="t",
                                 tiebreak_col="id").collect()),
        key=lambda t: (t[0], t[2]))
    assert out == [
        (1, "A", 100, 200, False),
        (1, None, 200, 400, False),
        (1, "B", 400, None, True),
        (2, None, 50, None, True),
    ]


@pytest.mark.parametrize("near_dedup", ["minhash", "jaccard"])
def test_corpus_pipeline_end_to_end(spark, tmp_path, near_dedup):
    """The composed training-data chain: every stage shrinks (or holds)
    the corpus, the written output equals the final stage, survivors are
    real doc_ids, and the per-lang layout lands on disk — under both the
    default sub-linear MinHash pair generator and the exact Jaccard
    one."""
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR
    out = str(tmp_path / f"clean_{near_dedup}")
    counts = run_corpus_pipeline(spark, SF_DIR, out, near_dedup=near_dedup)
    assert counts["raw"] >= counts["quality_gated"] >= \
        counts["exact_deduped"] >= counts["near_deduped"] >= \
        counts["rebalanced"] == counts["written"] > 0
    corpus = spark.read.parquet(f"{out}/corpus")
    assert set(corpus.columns) >= {"doc_id", "text", "lang", "source"}
    import glob
    assert glob.glob(f"{out}/corpus/lang=*"), "must partition by lang"


def test_corpus_pipeline_decontaminates_against_benchmark(spark, tmp_path):
    """With a benchmark set supplied, the decontamination stage slots in
    between near-dedup and rebalance, the funnel stays monotone, and no
    survivor shares a trigram with the benchmark."""
    from asvsp_spark import tables
    from asvsp_spark.operators.dedup import decontaminate_report
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR
    docs = tables.load(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 0) \
        .select("doc_id", "text")
    out = str(tmp_path / "clean_decontam")
    counts = run_corpus_pipeline(spark, SF_DIR, out, benchmark=bench)
    assert counts["near_deduped"] >= counts["decontaminated"] >= \
        counts["rebalanced"] == counts["written"] > 0
    survivors = spark.read.parquet(f"{out}/corpus").select("doc_id", "text")
    flagged = (decontaminate_report(survivors, bench)
               .filter(F.col("contaminated")).count())
    assert flagged == 0


def test_corpus_pipeline_scrub_pii_rewrites_text_only(spark, tmp_path):
    """scrub_pii redacts the written text in place: the surviving
    doc_id set is IDENTICAL to an unscrubbed run (redaction happens
    after every funnel decision) and the fixture corpus — which
    contains no PII — round-trips byte-identical, proving the regex
    chain is a no-op on clean text."""
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR
    plain_out = str(tmp_path / "plain")
    scrub_out = str(tmp_path / "scrubbed")
    c1 = run_corpus_pipeline(spark, SF_DIR, plain_out)
    c2 = run_corpus_pipeline(spark, SF_DIR, scrub_out, scrub_pii=True)
    assert c1 == c2
    plain = {(r.doc_id, r.text)
             for r in spark.read.parquet(f"{plain_out}/corpus")
             .select("doc_id", "text").collect()}
    scrub = {(r.doc_id, r.text)
             for r in spark.read.parquet(f"{scrub_out}/corpus")
             .select("doc_id", "text").collect()}
    assert plain == scrub


def test_corpus_pipeline_rejects_unknown_generator(spark, tmp_path):
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR
    with pytest.raises(ValueError, match="near_dedup"):
        run_corpus_pipeline(spark, SF_DIR, str(tmp_path / "x"),
                            near_dedup="simhash-nope")


def test_decontaminate_report_flags_overlap_only(spark):
    """Docs sharing a trigram with the benchmark get n_hits = the count
    of their DISTINCT contaminated trigrams; clean docs appear with 0;
    docs shorter than n words can never be contaminated; an empty
    benchmark flags nothing."""
    from asvsp_spark.operators.dedup import decontaminate_report
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),       # shares 2 trigrams
         (2, "totally unrelated text here now"), # clean
         (3, "too short"),                       # < 3 words: no trigrams
         (4, "quick brown fox")],                # exactly the trigram
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a quick brown fox jumps high")], "doc_id long, text string")
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in decontaminate_report(corpus, bench, n=3).collect()}
    assert got == {1: (2, True), 2: (0, False), 3: (0, False),
                   4: (1, True)}
    empty_bench = spark.createDataFrame([], "doc_id long, text string")
    got2 = {r.doc_id: r.contaminated
            for r in decontaminate_report(corpus, empty_bench, n=3).collect()}
    assert got2 == {1: False, 2: False, 3: False, 4: False}


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must reach the corpus via a broadcast
    join — the corpus posting list may never shuffle on the shingle."""
    from asvsp_spark.operators.dedup import decontaminate_report
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(99, "alpha beta gamma")], "doc_id long, text string")
    plan = (decontaminate_report(corpus, bench)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_pack_contiguous_reference_semantics(spark):
    """Single shard: bins follow the running token prefix exactly —
    bin = floor(start_offset / budget), docs straddle boundaries, and
    per-bin stats roll up the same assignment."""
    from pyspark.sql import functions as F
    from asvsp_spark.operators.packing import pack_contiguous, packing_stats
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i j"), (4, "k")],
        "doc_id long, text string")
    one_shard = F.lit(0)
    got = {r.doc_id: (r.bin_id, r.n_tokens, r.start_offset)
           for r in pack_contiguous(docs, budget=4, n_shards=1,
                                    shard_expr=one_shard).collect()}
    # offsets: d1@0(3 toks), d2@3(2), d3@5(5), d4@10(1); budget 4
    assert got == {1: (0, 3, 0), 2: (0, 2, 3), 3: (1, 5, 5),
                   4: (2, 1, 10)}
    stats = {r.bin_id: (r.n_docs, r.n_tokens, r.first_doc)
             for r in packing_stats(docs, budget=4, n_shards=1,
                                    shard_expr=one_shard).collect()}
    assert stats == {0: (2, 5, 1), 1: (1, 5, 3), 2: (1, 1, 4)}


def test_pack_whole_docs_best_fit_beats_first_fit(spark):
    """Whole-doc packing (no straddling): every bin respects the budget,
    each doc lands in exactly one bin, oversize docs get dedicated bins,
    and on a skewed-length fixture best-fit-decreasing uses fewer bins
    (>= utilization) than the naive sequential first-fit — the reason
    the variant exists."""
    from pyspark.sql import functions as F
    from asvsp_spark.operators.packing import pack_whole_docs
    # skewed: small docs FIRST so sequential first-fit strands tail
    # space (4+4 fills a bin to 8, no 6 fits), while decreasing order
    # pairs each 6 with a 4 exactly; 12 is oversize
    sizes = [4, 4, 4, 6, 6, 6, 12]
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * s)) for i, s in enumerate(sizes)],
        "doc_id long, text string")
    one = F.lit(0)

    def bins(method):
        rows = pack_whole_docs(docs, budget=10, n_shards=1, method=method,
                               shard_expr=one).collect()
        assert {r.doc_id for r in rows} == set(range(len(sizes)))
        per_bin: dict = {}
        for r in rows:
            per_bin.setdefault(r.bin_id, []).append(r.n_tokens)
        for b, toks in per_bin.items():
            assert sum(toks) <= 10 or (len(toks) == 1 and toks[0] > 10), \
                (method, b, toks)
        return per_bin

    bf, ff = bins("best_fit"), bins("first_fit")
    assert len(bf) <= len(ff)
    # fixture chosen so the improvement is strict: FF in id order strands
    # tail space the decreasing order reclaims
    assert len(bf) < len(ff), (len(bf), len(ff))
    # determinism: identical re-run
    again = {r.doc_id: r.bin_id
             for r in pack_whole_docs(docs, budget=10, n_shards=1,
                                      shard_expr=one).collect()}
    assert again == {r.doc_id: r.bin_id
                     for r in pack_whole_docs(docs, budget=10, n_shards=1,
                                              shard_expr=one).collect()}


def test_pack_contiguous_shards_are_independent(spark):
    """Sharded packing must equal packing each shard's docs alone —
    the property that makes the operator embarrassingly parallel."""
    from pyspark.sql import functions as F
    from asvsp_spark.operators.packing import pack_contiguous
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(40)],
        "doc_id long, text string")
    whole = {r.doc_id: (r.shard, r.bin_id, r.start_offset)
             for r in pack_contiguous(docs, budget=8, n_shards=3).collect()}
    for s in range(3):
        sub = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == s)
        alone = {r.doc_id: r.bin_id for r in pack_contiguous(
            sub, budget=8, n_shards=3).collect()}
        for did, b in alone.items():
            assert whole[did] == (s, b, whole[did][2])


def test_heavy_hitters_exact_under_any_partitioning(spark):
    """The pigeonhole candidate pruning must be lossless for EVERY
    physical partitioning: a skewed key distribution yields the same
    exact result as a brute-force groupBy-HAVING at 1, 3, and 40
    partitions (including partitions holding no heavy key), and the
    result thresholds with integer cross-multiplication."""
    from asvsp_spark.operators.sketches import heavy_hitters
    rows = ([("hot",)] * 300 + [("warm",)] * 120
            + [(f"cold{i}",) for i in range(580)])
    n = len(rows)  # 1000; threshold 10% -> hot (300), warm (120)
    base = spark.createDataFrame(rows, "k string")
    want = {("hot", 300), ("warm", 120)}
    for parts in (1, 3, 40):
        got = {(r.k, r.n_occurrences)
               for r in heavy_hitters(base.repartition(parts), ["k"],
                                      s_num=100, s_den=1000).collect()}
        assert got == want, (parts, got)
    # threshold exactly at a key's count: >= keeps it (warm at 12.0%)
    got = {(r.k, r.n_occurrences)
           for r in heavy_hitters(base.repartition(5), ["k"],
                                  s_num=120, s_den=1000).collect()}
    assert got == {("hot", 300), ("warm", 120)}


def test_decontaminate_shuffle_fallback_matches_broadcast(spark):
    """broadcast_benchmark=False (corpus-vs-corpus decontamination) must
    produce the identical report through the sort-merge path."""
    from asvsp_spark.operators.dedup import decontaminate_report
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(12)]
        + [(99, "zeta eta theta iota")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1000, "beta gamma delta"), (1001, "eta theta iota")],
        "doc_id long, text string")
    a = sorted((r.doc_id, r.n_hits, r.contaminated)
               for r in decontaminate_report(corpus, bench).collect())
    b = sorted((r.doc_id, r.n_hits, r.contaminated)
               for r in decontaminate_report(
                   corpus, bench, broadcast_benchmark=False).collect())
    assert a == b
    assert any(hits > 0 for _, hits, _ in a)


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    """The daily-delta form of exact dedup: batch 1 bootstraps the
    fingerprint store; batch 2's replays (same text, any id) and
    within-batch duplicates are dropped while genuinely new docs pass;
    first-seen keepers are never rewritten; the store accumulates one
    row per distinct fingerprint ever seen."""
    from asvsp_spark.operators.dedup import incremental_exact_dedup
    store = str(tmp_path / "fp_store")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string")
    fresh1, c1 = incremental_exact_dedup(spark, b1, store)
    assert c1 == {"batch": 3, "within_batch_dupes": 1,
                  "known_dupes": 0, "fresh": 2}
    assert {r.doc_id for r in fresh1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [(10, "alpha beta"),        # replay of batch-1 text: dropped
         (11, "epsilon zeta"),      # new
         (12, "epsilon zeta"),      # within-batch dup of 11
         (13, "gamma  delta")],     # whitespace variant: same canonical
        "doc_id long, text string")
    fresh2, c2 = incremental_exact_dedup(spark, b2, store)
    assert c2 == {"batch": 4, "within_batch_dupes": 1,
                  "known_dupes": 2, "fresh": 1}
    assert {r.doc_id for r in fresh2.collect()} == {11}

    stored = {(r.fp, r.keeper_id)
              for r in spark.read.parquet(store).collect()}
    assert len(stored) == 3
    assert {k for _, k in stored} == {1, 2, 11}  # first-seen keepers


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_incremental_minhash_dedup_across_batches(spark, tmp_path):
    """Continuous near-dedup with signature state only: batch 1
    bootstraps the signature store and collapses its own near-dups;
    batch 2's near-replays of batch-1 TEXT (never seen as rows) are
    dropped via the stored signatures while distinct docs pass."""
    from asvsp_spark.operators.dedup import incremental_minhash_dedup
    store = str(tmp_path / "sig_store")
    base = ("spark engine shuffles data across the cluster while the "
            "optimizer prunes columns and pushes filters down to scans")
    other = ("completely different words about cooking pasta with "
             "tomatoes garlic basil and olive oil in a large pot")
    b1 = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, other)],
        "doc_id long, text string")
    fresh1, c1 = incremental_minhash_dedup(spark, b1, store, threshold=0.5)
    ids1 = {r.doc_id for r in fresh1.collect()}
    assert ids1 == {1, 3}
    assert c1 == {"batch": 3, "within_batch_near_dupes": 1,
                  "known_near_dupes": 0, "fresh": 2}

    b2 = spark.createDataFrame(
        [(10, base + " extra"),     # near-replay of stored text: dropped
         (11, "a wholly new document about sailing boats across the "
              "quiet harbor at dawn with steady northern winds")],
        "doc_id long, text string")
    fresh2, c2 = incremental_minhash_dedup(spark, b2, store, threshold=0.5)
    assert {r.doc_id for r in fresh2.collect()} == {11}
    assert c2 == {"batch": 2, "within_batch_near_dupes": 0,
                  "known_near_dupes": 1, "fresh": 1}
    assert spark.read.parquet(store).count() == 3  # docs 1, 3, 11


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_incremental_minhash_short_docs_pass_through(spark, tmp_path):
    """Docs shorter than the shingle width n produce no MinHash
    signature, so the LSH path can neither drop nor protect them. They
    must be KEPT (parity with the batch pipeline, which also keeps
    them) — but guarded by the exact canonical fingerprint: exact
    copies collapse within one delta, and exact replays (incl.
    whitespace/case canonical variants) are dropped across deltas."""
    from asvsp_spark.operators.dedup import incremental_minhash_dedup
    store = str(tmp_path / "sig_store")
    b1 = spark.createDataFrame(
        [(1, "hi"), (2, "hi"),           # short exact copies: collapse to 1
         (3, "ok bye"),                  # short (2 words < n=3)
         (4, "a longer document with plenty of words to shingle fine")],
        "doc_id long, text string")
    fresh1, c1 = incremental_minhash_dedup(spark, b1, store, threshold=0.5)
    assert {r.doc_id for r in fresh1.collect()} == {1, 3, 4}
    assert c1 == {"batch": 4, "within_batch_near_dupes": 1,
                  "known_near_dupes": 0, "fresh": 3}

    b2 = spark.createDataFrame(
        [(10, "hi"),                     # exact short replay: dropped
         (11, "brand new"),              # new short doc: kept
         (12, "OK  bye")],               # canonical variant of 3: dropped
        "doc_id long, text string")
    fresh2, c2 = incremental_minhash_dedup(spark, b2, store, threshold=0.5)
    assert {r.doc_id for r in fresh2.collect()} == {11}
    assert c2 == {"batch": 3, "within_batch_near_dupes": 0,
                  "known_near_dupes": 2, "fresh": 1}
    # store holds one row per kept doc; short rows carry fp, no sig
    stored = spark.read.parquet(store)
    assert stored.count() == 4           # docs 1, 3, 4, 11
    assert stored.filter("sig is null and fp is not null").count() == 3


@pytest.mark.slow  # 30s+: builder certification only (pytest.ini)
def test_incremental_minhash_estimator_boundary(spark, tmp_path):
    """Pins the store-side agreeing-components estimator's decision
    boundary at the 64-hash default: with 1-word shingles the true
    Jaccard is constructed exactly (shared/union word counts), a 0.6
    pair is dropped and a 0.4 pair is kept at threshold 0.5, and the
    raw component-agreement estimate lands within +-0.15 of truth
    (std err sqrt(j(1-j)/64) ~= 0.06 at the boundary)."""
    from asvsp_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_signatures, shingle_posting)

    def pair(tag, n_shared, n_only):
        shared = [f"{tag}s{i:03d}" for i in range(n_shared)]
        a = shared + [f"{tag}a{i:03d}" for i in range(n_only)]
        b = shared + [f"{tag}b{i:03d}" for i in range(n_only)]
        return " ".join(a), " ".join(b)

    a40, b40 = pair("lo", 40, 30)   # J = 40/100 = 0.4
    a60, b60 = pair("hi", 60, 20)   # J = 60/100 = 0.6

    # direct estimator check against constructed truth
    docs = spark.createDataFrame(
        [(1, a40), (2, b40), (3, a60), (4, b60)], "doc_id long, text string")
    sig = minhash_signatures(
        shingle_posting(docs, n=1), num_hashes=64).collect()
    by_doc = {r.doc: [r[f"mh_{i}"] for i in range(64)] for r in sig}
    est40 = sum(x == y for x, y in zip(by_doc[1], by_doc[2])) / 64.0
    est60 = sum(x == y for x, y in zip(by_doc[3], by_doc[4])) / 64.0
    assert abs(est40 - 0.4) <= 0.15, est40
    assert abs(est60 - 0.6) <= 0.15, est60

    # end-to-end decision at threshold 0.5: store the a-side, send the
    # b-side as the next delta
    store = str(tmp_path / "sig_store")
    b1 = spark.createDataFrame([(1, a40), (3, a60)], "doc_id long, text string")
    _, c1 = incremental_minhash_dedup(spark, b1, store, n=1, threshold=0.5)
    assert c1["fresh"] == 2
    b2 = spark.createDataFrame([(2, b40), (4, b60)], "doc_id long, text string")
    fresh2, c2 = incremental_minhash_dedup(spark, b2, store, n=1, threshold=0.5)
    assert {r.doc_id for r in fresh2.collect()} == {2}   # 0.4 kept
    assert c2 == {"batch": 2, "within_batch_near_dupes": 0,
                  "known_near_dupes": 1, "fresh": 1}     # 0.6 dropped


def test_cli_pack_and_dedup_incremental(spark, tmp_path, capsys):
    """CLI round-trip for the packing and incremental-dedup subcommands:
    pack writes a shard-partitioned assignment; dedup-incremental
    bootstraps a store, then a second delta drops replayed texts."""
    import glob
    from asvsp_spark.cli import main
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"some words number {i} padding the line") for i in range(20)],
        "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "packed")
    assert main(["pack", src, out, "--budget", "16", "--shards", "2"]) == 0
    assert glob.glob(f"{out}/shard=*")
    assert spark.read.parquet(out).count() == 20

    store = str(tmp_path / "store")
    kept = str(tmp_path / "kept")
    assert main(["dedup-incremental", src, "--store", store,
                 "--out", kept]) == 0
    assert "fresh" in capsys.readouterr().out
    assert spark.read.parquet(kept).count() == 20
    again = str(tmp_path / "again")     # every text again, under new ids
    spark.read.parquet(src).withColumn(
        "doc_id", F.col("doc_id") + 100).write.parquet(again)
    assert main(["dedup-incremental", again, "--store", store,
                 "--out", kept]) == 0
    assert spark.read.parquet(kept).count() == 0


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Near-dup variant: for every pair edge, both endpoints land in the
    same split (the property the operator exists for); weights steer the
    cluster-level proportions; assignment is deterministic."""
    from asvsp_spark.operators.splits import leakage_safe_split
    docs = spark.createDataFrame(
        [(i, f"doc number {i} body words") for i in range(60)],
        "doc_id long, text string")
    # chain 0-1-2 into one cluster, pair (10,11), rest singletons
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long")
    out = leakage_safe_split(docs, edges)
    by_doc = {r.doc_id: (r.cluster_id, r.split) for r in out.collect()}
    assert len(by_doc) == 60
    for a, b in [(0, 1), (1, 2), (10, 11)]:
        assert by_doc[a] == by_doc[b]
    assert by_doc[0][0] == 0 and by_doc[10][0] == 10
    assert {s for _, s in by_doc.values()} <= {"train", "valid", "test"}
    # majority lands in train at 0.8/0.1/0.1
    n_train = sum(s == "train" for _, s in by_doc.values())
    assert n_train > 30
    # deterministic: identical re-run
    again = {r.doc_id: (r.cluster_id, r.split)
             for r in leakage_safe_split(docs, edges).collect()}
    assert again == by_doc


def test_leakage_safe_split_exact_matches_near_dup_on_exact_edges(spark):
    """With edges derived from exact duplicates, the near-dup path and
    the fingerprint path assign identical clusters and splits."""
    from asvsp_spark.operators.splits import leakage_safe_split
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same  text"),   # canonical duplicates
         (3, "other words"), (4, "third thing")],
        "doc_id long, text string")
    exact = {r.doc_id: (r.cluster_id, r.split)
             for r in leakage_safe_split(docs).collect()}
    edges = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    near = {r.doc_id: (r.cluster_id, r.split)
            for r in leakage_safe_split(docs, edges).collect()}
    assert exact == near
    assert exact[1] == exact[2]


def test_cli_split(spark, tmp_path, capsys):
    """CLI split subcommand: writes a split-partitioned assignment whose
    partitions cover every doc exactly once."""
    import glob
    from asvsp_spark.cli import main
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document body {i} with words") for i in range(30)],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "splits")
    assert main(["split", src, out]) == 0
    assert glob.glob(f"{out}/split=*")
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.select("doc_id").distinct().count() == 30


def test_semantic_dedup_single_cell_greedy_rule(spark):
    """n_cells-free exactness check via a single cell: ascending-id
    greedy — a vector is dropped iff cosine >= threshold to an
    already-KEPT vector, so the min-id member of every near-dup group
    survives and transitive chains collapse onto the first keeper."""
    from asvsp_spark.operators.similarity import semantic_dedup
    # group A: 1,2,3 nearly parallel; group B: 10,11 parallel; 20 alone
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0]),     # cos(1,2) ~ 0.999 -> dropped
        (3, [0.998, 0.06, 0.0]),     # near 1 too -> dropped
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.04]),    # dropped vs 10
        (20, [0.0, 0.0, 1.0]),       # orthogonal: kept
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    def run():
        return {r.vec_id: (r.cell, r.is_keeper)
                for r in semantic_dedup(df, threshold_num=95,
                                        threshold_den=100,
                                        n_cells=2).collect()}
    out = run()
    assert len(out) == 6
    keepers = {k for k, (_, kp) in out.items() if kp}
    assert {1, 10, 20} <= keepers
    assert not out[2][1] and not out[3][1] and not out[11][1]
    # deterministic across invocations (integer quantizer + md5 sample)
    assert run() == out


def test_semantic_dedup_report_counts(spark):
    """Report totals reconcile with the per-vector assignment on the
    fixture embeddings table."""
    from asvsp_spark import tables
    from asvsp_spark.operators.similarity import (semantic_dedup,
                                                  semantic_dedup_report)
    emb = tables.load(spark, SF_DIR, "embeddings")
    # 3/10, not 9/10: at 9/10 every fixture vector is kept, at 3/10 the
    # greedy drops some, so the reconciliation covers both columns
    per_vec = semantic_dedup(emb, threshold_num=3, threshold_den=10)
    rep = semantic_dedup_report(emb, threshold_num=3, threshold_den=10)
    tot = rep.agg(F.sum("n_vectors"), F.sum("n_keepers")).first()
    assert tot[0] == emb.count()
    assert tot[1] == per_vec.filter("is_keeper").count()
    assert 0 < tot[1] < tot[0]


def test_pii_scrub_matches_duckdb(spark):
    """Cross-engine redaction parity on synthetic PII: DuckDB (RE2) and
    Spark (Java regex) must count and redact the exact same spans — a
    dialect divergence here is a privacy bug, so it is pinned on data
    that actually contains PII (the fixture corpus has none)."""
    import duckdb
    from asvsp_spark.functions.text import (
        PII_PATTERNS, pii_counts, pii_replacement, pii_scrub)
    rows = [
        (1, "contact john.doe+spam@example.co.uk or call 555-123-4567 now"),
        (2, "host 192.168.0.1 logged ssn 123-45-6789 then 123-45-6789"),
        (3, "no pii here just words"),
        (4, "mixed: a@b.io +122 333 4444 and 10.0.0.255 end"),
        (5, "build 1.234.567.8901 is not a phone but 555.123.4567 is"),
        # single-char-separated pair: the consumed boundary hides the
        # second match from pass 1 (and from the count — identically in
        # both engines); the default two-pass scrub catches it
        (6, "pair 123-45-6789 999-99-9999 done"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
        pii_scrub(F.col("text")).alias("redacted"))
    got = {r.doc_id: (r.n_email, r.n_ssn, r.n_phone, r.n_ipv4, r.redacted)
           for r in out.collect()}
    assert got[1][:4] == (1, 0, 1, 0) and "<EMAIL>" in got[1][4] \
        and "<PHONE>" in got[1][4]
    assert got[2][:4] == (0, 2, 0, 1)
    assert got[3][:4] == (0, 0, 0, 0) and got[3][4] == rows[2][1]
    assert got[4][:4] == (1, 0, 1, 1)
    assert got[5][2] == 1 and "<PHONE>" in got[5][4] \
        and "1.234.567.8901" in got[5][4]  # dotted run left intact
    # adjacency: count sees 1 (consumed boundary, same in both
    # engines), but the two-pass scrub redacts BOTH
    assert got[6][1] == 1 and got[6][4] == "pair <SSN> <SSN> done"

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items())
    red = "text"
    for _ in range(2):   # mirror pii_scrub's default two passes
        for kind, pat in PII_PATTERNS.items():
            repl = pii_replacement(kind, engine="re2")
            red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    duck = {r[0]: tuple(r[1:])
            for r in con.execute(
                f"SELECT doc_id, {counts}, {red} AS redacted FROM t"
            ).fetchall()}
    assert duck == got


def test_chunk_documents_window_semantics(spark):
    """Stride/overlap exactness on a hand-computed fixture: every token
    covered, consecutive chunks share exactly `overlap` tokens, short
    docs emit themselves as chunk 0, and the reassembled token stream
    equals the original."""
    from asvsp_spark.operators.chunking import chunk_documents
    words = [f"w{i}" for i in range(10)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)),      # 10 toks, chunk 4 overlap 1 -> stride 3
         (2, "a b"),                # shorter than one chunk
         (3, "x")],
        "doc_id long, text string")
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.start_tok, r.n_tokens, r.chunk_text)
         for r in chunk_documents(docs, chunk_tokens=4, overlap=1).collect()))
    d1 = [r for r in rows if r[0] == 1]
    # ceil(max(10-1,1)/3) = 3 chunks at starts 0,3,6
    assert [(c, s, n) for _, c, s, n, _ in d1] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4)]
    assert d1[0][4] == "w0 w1 w2 w3" and d1[1][4] == "w3 w4 w5 w6"
    assert d1[2][4] == "w6 w7 w8 w9"
    # overlap: chunk i's last token == chunk i+1's first
    assert d1[0][4].split()[-1] == d1[1][4].split()[0]
    assert [r for r in rows if r[0] == 2] == [(2, 0, 0, 2, "a b")]
    assert [r for r in rows if r[0] == 3] == [(3, 0, 0, 1, "x")]
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_cli_chunk(spark, tmp_path, capsys):
    """CLI chunk subcommand: writes one row per token window and covers
    every document."""
    from asvsp_spark.cli import main
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(5 + i))) for i in range(8)],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "chunks")
    assert main(["chunk", src, out, "--chunk-tokens", "6",
                 "--overlap", "2"]) == 0
    got = spark.read.parquet(out)
    assert got.select("doc_id").distinct().count() == 8
    assert got.count() >= 8
    assert "chunks" in capsys.readouterr().out


def test_bigram_backoff_branches(spark):
    """Seen bigrams score c2/c1_prev; an unseen bigram (doc outside the
    training split) takes the alpha-scaled smoothed-unigram backoff —
    pinned on a hand-computed fixture."""
    import math
    from asvsp_spark.operators.relevance import bigram_backoff_score
    docs = spark.createDataFrame(
        [(0, "a b a b", "en"),     # train: bigrams ab, ba, ab
         (2, "a b", "en"),         # train: ab
         (1, "a b c", "en")],      # score: ab seen; bc unseen, c unseen
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in bigram_backoff_score(docs).collect()}
    # model (even ids): c2: ab=3, ba=1; c1: a=3, b=3; N=6, V=2
    ab = 3 / 3
    ba = 1 / 3
    assert out[0].n_bigrams == 3
    assert abs(out[0].avg_logprob
               - round((2 * math.log(ab) + math.log(ba)) / 3, 6)) < 1e-6
    assert out[2].avg_logprob == round(math.log(ab), 6)
    bc = 0.4 * (0 + 1) / (6 + 2)          # c unseen -> add-one backoff
    assert out[1].n_bigrams == 2
    assert abs(out[1].avg_logprob
               - round((math.log(ab) + math.log(bc)) / 2, 6)) < 1e-6


def test_incremental_minhash_rejects_mismatched_store(spark, tmp_path):
    """Regression (r4 review): a signature store written at a different
    num_hashes must fail LOUDLY — NULL-padded band keys would otherwise
    let every replay through as fresh, silently voiding the guarantee."""
    from asvsp_spark.operators.dedup import incremental_minhash_dedup
    store = str(tmp_path / "sig_store")
    docs = spark.createDataFrame(
        [(1, "spark engine shuffles data across the cluster while the "
             "optimizer prunes columns and pushes filters down")],
        "doc_id long, text string")
    incremental_minhash_dedup(spark, docs, store,
                              num_hashes=16, bands=8)
    # a later delta (the same delta again is a replay of the first call,
    # which never sees its own rows)
    later = docs.withColumn("doc_id", F.lit(2).cast("long"))
    with pytest.raises(ValueError, match="16-hash"):
        incremental_minhash_dedup(spark, later, store)  # 64-hash default


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity on a constructed corpus: documents sharing the target
    domain's bigrams must outscore documents made of raw-only bigrams,
    and the resample keeps exactly floor(keep_frac * N) docs, highest
    perturbed keys first (deterministic across calls)."""
    from asvsp_spark.operators.relevance import dsir_resample, dsir_weights
    target_text = "the quick brown fox jumps over the lazy dog again and again"
    noise_text = "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12"
    rows = [(i, target_text, "en") for i in range(5)]          # target
    rows += [(10 + i, target_text, "de") for i in range(3)]    # target-like raw
    rows += [(20 + i, noise_text, "de") for i in range(3)]     # off-domain raw
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    w = {r.doc_id: r.log_weight for r in dsir_weights(docs).collect()}
    assert len(w) == 11
    # every target-like doc outscores every off-domain doc
    assert min(w[i] for i in (10, 11, 12)) > max(w[i] for i in (20, 21, 22))

    kept = dsir_resample(docs, keep_frac=0.5).collect()
    assert len(kept) == 5                       # floor(0.5 * 11)
    assert [r.rk for r in sorted(kept, key=lambda r: r.rk)] == [1, 2, 3, 4, 5]
    # deterministic: same call, same kept set
    again = {r.doc_id for r in dsir_resample(docs, keep_frac=0.5).collect()}
    assert again == {r.doc_id for r in kept}


def test_dsir_short_docs_carry_no_weight(spark):
    """Docs shorter than one bigram are absent from the weight table
    (no evidence) and never sampled."""
    from asvsp_spark.operators.relevance import dsir_resample, dsir_weights
    docs = spark.createDataFrame(
        [(1, "one", "en"), (2, "two words here", "en"),
         (3, "more words again", "de")],
        "doc_id long, text string, lang string")
    w = {r.doc_id for r in dsir_weights(docs).collect()}
    assert w == {2, 3}
    kept = {r.doc_id for r in dsir_resample(docs, keep_frac=0.5).collect()}
    assert kept <= {2, 3} and len(kept) == 1    # floor(0.5 * 2)


def test_dup_spans_flags_shared_runs_and_merges_windows(spark):
    """Two docs sharing an exact 10-token run produce one merged span
    each covering exactly that run; the unrelated doc is absent; a
    window repeated only WITHIN one doc does not count toward
    min_docs=2."""
    from asvsp_spark.operators.dedup import dup_spans
    shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"          # 10 tokens
    d1 = "x1 x2 " + shared + " y1 y2"                   # run at tokens 3..12
    d2 = shared + " z1 z2 z3"                           # run at tokens 1..10
    d3 = "w1 w2 w3 w4 w5 w6 w7 w8 w1 w2 w3 w4 w5 w6 w7 w8"  # self-repeat only
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string")
    rows = {r.doc_id: r for r in dup_spans(docs, window=8).collect()}
    assert set(rows) == {1, 2}
    # 10-token run -> 3 overlapping 8-token windows, merged to one span
    assert (rows[1].span_start, rows[1].span_end, rows[1].n_windows) == (3, 12, 3)
    assert (rows[2].span_start, rows[2].span_end, rows[2].n_windows) == (1, 10, 3)


def test_dup_spans_distant_runs_stay_separate_islands(spark):
    """Two shared 8-token runs separated by a long unique gap in one
    doc yield two distinct spans for it (the island break fires when
    the position gap exceeds the window)."""
    from asvsp_spark.operators.dedup import dup_spans
    run_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    run_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = " ".join(f"u{i}" for i in range(12))
    d1 = run_a + " " + gap + " " + run_b     # runs at 1..8 and 21..28
    docs = spark.createDataFrame(
        [(1, d1), (2, run_a), (3, run_b)], "doc_id long, text string")
    spans = sorted(
        ((r.span_start, r.span_end) for r in
         dup_spans(docs, window=8).collect() if r.doc_id == 1))
    assert spans == [(1, 8), (21, 28)]


def test_shard_assignments_partition_and_determinism(spark):
    """Hash mode: every doc lands in exactly one shard, pos_in_shard is
    contiguous from 1 within each shard, and the layout is identical
    across invocations (pure function of the id)."""
    from asvsp_spark.operators.sharding import shard_assignments
    docs = spark.createDataFrame(
        [(i, f"t{i} " * (5 + i % 7)) for i in range(97)],
        "doc_id long, text string")
    plan = shard_assignments(docs, n_shards=8).collect()
    assert len(plan) == 97 and len({r.doc_id for r in plan}) == 97
    assert {r.shard for r in plan} <= set(range(8))
    by_shard = {}
    for r in plan:
        by_shard.setdefault(r.shard, []).append(r.pos_in_shard)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = shard_assignments(docs, n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.pos_in_shard) for r in again} == \
           {(r.doc_id, r.shard, r.pos_in_shard) for r in plan}


def test_shard_manifest_lpt_balances_tokens(spark):
    """LPT round-robin mode: shard token totals spread by at most one
    max-length document, and doc counts differ by at most one."""
    from asvsp_spark.operators.sharding import shard_manifest
    docs = spark.createDataFrame(
        [(i, "w " * (10 + (i * 37) % 90)) for i in range(64)],
        "doc_id long, text string")
    man = shard_manifest(docs, n_shards=4, by_tokens=True).collect()
    assert len(man) == 4
    tok = [r.n_tokens for r in man]
    mx_doc = max(r.max_doc_tokens for r in man)
    assert max(tok) - min(tok) <= mx_doc
    nd = [r.n_docs for r in man]
    assert max(nd) - min(nd) <= 1
    assert sum(nd) == 64


def test_remove_dup_spans_strips_flagged_tokens_only(spark):
    """Flagged spans vanish, surrounding text is preserved verbatim,
    unflagged docs pass through untouched, and a fully-covered doc
    becomes the empty string (not NULL)."""
    from asvsp_spark.operators.dedup import dup_spans, remove_dup_spans
    shared = " ".join(f"a{i}" for i in range(1, 11))          # 10 tokens
    d1 = "x1 x2 " + shared + " y1 y2"
    d2 = shared                                               # fully covered
    d3 = "u1 u2 u3 u4 u5 u6 u7 u8 u9"                         # untouched
    d4 = "v1  v2\tv3\nv4   v5"           # untouched, irregular whitespace
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_dup_spans(docs, dup_spans(docs, window=8)).collect()}
    assert out[1].text == "x1 x2 y1 y2" and out[1].n_tokens_removed == 10
    assert out[2].text == "" and out[2].n_tokens_removed == 10
    assert out[3].text == d3 and out[3].n_tokens_removed == 0
    # byte-identical passthrough: tabs/newlines/space runs preserved
    assert out[4].text == d4 and out[4].n_tokens_removed == 0


def test_subword_token_count_pretokenizer_classes(spark):
    """GPT-2-style classes: contractions split, punctuation runs
    separate, digits split from letters; count >= whitespace count."""
    from asvsp_spark.functions.text import subword_token_count, token_count
    import pyspark.sql.functions as F
    docs = spark.createDataFrame(
        [(1, "it's a well-known fact"), (2, "costs $1,234.56 today!")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in docs.select(
        "doc_id",
        subword_token_count(F.col("text")).alias("n_sub"),
        token_count(F.col("text")).alias("n_ws")).collect()}
    # "it's a well-known fact" -> it, 's, a, well, -, known, fact
    assert rows[1].n_sub == 7 and rows[1].n_ws == 4
    # costs, " $", 1, ",", 234, ".", 56, " today", "!"
    assert rows[2].n_sub == 9 and rows[2].n_ws == 3


def test_pmi_collocations_rank_fixed_pairs(spark):
    """A pair that always co-occurs outranks a frequent-but-independent
    pair; min_pair_count suppresses rare pairs entirely."""
    from asvsp_spark.operators.relevance import pmi_collocations
    rows = [(i, "alpha beta common common") for i in range(6)]   # locked pair
    rows += [(10 + i, "common gamma common delta") for i in range(6)]
    rows += [(20, "rare pair")]                                  # below min
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(docs, min_pair_count=3, top_k=10).collect()
    pairs = {(r.w1, r.w2): r for r in out}
    assert ("rare", "pair") not in pairs
    assert ("alpha", "beta") in pairs
    # alpha/beta occur ONLY together -> higher pmi than common-common
    assert pairs[("alpha", "beta")].pmi > pairs[("common", "common")].pmi
    rks = sorted(r.rk for r in out)
    assert rks == list(range(1, len(out) + 1))


def test_corpus_pipeline_sharded_output(spark, tmp_path):
    """With n_shards set, the corpus lands partitioned by deterministic
    shard (not lang), every surviving doc carries its shard + in-shard
    position, and the loader manifest's totals reconcile with the
    written corpus."""
    import glob
    from asvsp_spark.pipeline import run_corpus_pipeline
    from tests.conftest import SF_DIR
    out = str(tmp_path / "sharded")
    counts = run_corpus_pipeline(spark, SF_DIR, out, n_shards=4)
    corpus = spark.read.parquet(f"{out}/corpus")
    assert glob.glob(f"{out}/corpus/shard=*"), "must partition by shard"
    assert not glob.glob(f"{out}/corpus/lang=*")
    assert {"shard", "pos_in_shard"} <= set(corpus.columns)
    assert corpus.count() == counts["written"] == counts["rebalanced"]
    man = spark.read.parquet(f"{out}/manifest")
    by_shard = {r.shard: r.n_docs for r in man.collect()}
    got = {r.shard: r.cnt for r in
           corpus.groupBy("shard").agg(F.count("*").alias("cnt")).collect()}
    assert {int(k): v for k, v in got.items()} == by_shard


# ---- decimal log-linear value histogram (operators/sketches.py) ----

from tests.conftest import py_bucket_lo as _py_bucket_lo  # noqa: E402


def test_value_histogram_percentile_hits_exact_rank_bucket(spark):
    """The sketch percentile is EXACTLY the bucket of the true
    rank-statistic value (first bucket whose cumulative count reaches
    ceil(P% * n) is, by construction, the bucket holding the r-th
    smallest value) — checked for p50/p90/p99 on real event values,
    which also bounds relative error by one bucket width (<=10% at
    prefix_digits=2 for values >= 10 cents)."""
    import math

    from asvsp_spark.operators.sketches import sketch_percentiles
    ev = tables.load(spark, SF_DIR, "events")
    got = {r.event_type: r for r in
           sketch_percentiles(ev, "value", ["event_type"]).collect()}
    by_type: dict[str, list[int]] = {}
    for r in ev.select("event_type", "value").collect():
        if r.value is not None:
            by_type.setdefault(r.event_type, []).append(round(r.value * 100))
    assert set(got) == set(by_type)
    for et, cents in by_type.items():
        cents.sort()
        row = got[et]
        assert row.n_values == len(cents)
        for pct in (50, 90, 99):
            exact = cents[math.ceil(pct * len(cents) / 100) - 1]
            est = row[f"p{pct}_cents"]
            assert est == _py_bucket_lo(exact), (et, pct, est, exact)
            if exact >= 10:  # one-bucket relative-error guarantee
                assert est <= exact <= est * 1.1 + 1


def test_value_histogram_merge_identity_and_negatives(spark):
    """Merging daily sketches == sketching the whole table (lossless
    DDSketch merge), and signed values bucket/order correctly: the
    negative mirror keeps value order (more negative bucket_lo = more
    negative values) and percentiles interpolate across the sign."""
    from asvsp_spark.operators.sketches import (histogram_percentiles,
                                                merge_value_histograms,
                                                value_histogram)
    ev = tables.load(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts"))
    daily = value_histogram(ev, "value", ["event_type", "day"])
    merged = {(r.event_type, r.bucket_lo): r.cnt
              for r in merge_value_histograms(
                  daily, ["event_type"]).collect()}
    direct = {(r.event_type, r.bucket_lo): r.cnt
              for r in value_histogram(
                  ev, "value", ["event_type"]).collect()}
    assert merged == direct

    vals = [-123.45, -12.0, -0.05, 0.0, 0.05, 3.21, 87.0, 870.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    hist = {r.bucket_lo: r.cnt
            for r in value_histogram(df, "value", ["k"]).collect()}
    assert hist == {_py_bucket_lo(round(v * 100)): 1 for v in vals}
    row = histogram_percentiles(
        value_histogram(df, "value", ["k"]), ["k"], (50,)).collect()[0]
    # rank ceil(0.5*8)=4 -> 4th smallest = 0.0 -> bucket 0
    assert row.p50_cents == 0 and row.p50 == 0.0


def test_corpus_pipeline_drop_audit(spark, tmp_path):
    """audit=True writes drop_audit: exactly one row per raw doc, each
    stage's drop count equals the funnel-count difference, and 'kept'
    matches the rebalanced survivor set exactly."""
    from asvsp_spark.pipeline import run_corpus_pipeline
    out = str(tmp_path / "corpus")
    counts = run_corpus_pipeline(spark, SF_DIR, out, audit=True)
    audit = spark.read.parquet(f"{out}/drop_audit")
    assert audit.count() == counts["raw"]
    assert audit.select("doc_id").distinct().count() == counts["raw"]
    by_stage = {r["dropped_at"]: r["n"] for r in
                audit.groupBy("dropped_at")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
    expected = {
        "quality_gate": counts["raw"] - counts["quality_gated"],
        "exact_dedup": counts["quality_gated"] - counts["exact_deduped"],
        "near_dedup": counts["exact_deduped"] - counts["near_deduped"],
        "rebalance": counts["near_deduped"] - counts["rebalanced"],
        "kept": counts["rebalanced"],
    }
    assert {k: v for k, v in by_stage.items() if v} == \
        {k: v for k, v in expected.items() if v}
    kept_ids = {r.doc_id for r in
                audit.filter(F.col("dropped_at") == "kept").collect()}
    corpus_ids = {r.doc_id for r in
                  spark.read.parquet(f"{out}/corpus").collect()}
    assert kept_ids == corpus_ids


def test_token_budget_mixing_plan_hand_computed(spark):
    """Known supplies vs a 120-token budget at 2/1 weights: targets
    normalize driver-side, epochs/full/remainder use exact integer
    arithmetic, zero-token and unweighted strata are excluded, and bad
    inputs raise."""
    import pytest as _pytest

    from asvsp_spark.operators.sampling import token_budget_mixing_plan
    docs = spark.createDataFrame(
        [
            # srcX: 2 docs x 5 subword tokens = 10 tokens supply
            (0, "alpha beta gamma delta eps", "srcX"),
            (1, "one two three four five", "srcX"),
            # srcY: 1 doc x 30 tokens supply
            (2, " ".join(f"w{i}" for i in range(15)), "srcY"),
            # srcZ: weighted but empty text -> zero supply, excluded
            (3, "", "srcZ"),
            # srcW: unweighted -> excluded
            (4, "ignored words here", "srcW"),
        ],
        "doc_id long, text string, source string")
    # NB: "w0".."w14" are 2 subword pre-tokens each (letter run + digit
    # run), so srcY supplies 30; weights 2/1/1 -> targets 60/30/30
    got = {r.source: r for r in token_budget_mixing_plan(
        docs, token_budget=120,
        weights={"srcX": 2.0, "srcY": 1.0, "srcZ": 1.0}).collect()}
    assert set(got) == {"srcX", "srcY"}   # srcZ: zero supply, no row
    x = got["srcX"]
    assert (x.n_docs, x.n_tokens, x.target_tokens) == (2, 10, 60)
    assert (x.epochs, x.n_full_epochs, x.remainder_tokens,
            x.oversampled) == (6.0, 6, 0, True)
    y = got["srcY"]
    assert (y.n_docs, y.n_tokens, y.target_tokens) == (1, 30, 30)
    assert (y.epochs, y.n_full_epochs, y.remainder_tokens,
            y.oversampled) == (1.0, 1, 0, False)

    with _pytest.raises(ValueError):
        token_budget_mixing_plan(docs, 0, {"srcX": 1.0})
    with _pytest.raises(ValueError):
        token_budget_mixing_plan(docs, 100, {"srcX": -1.0})
    with _pytest.raises(ValueError, match="zero-token target"):
        # srcY's share of a 3-token budget rounds to 0 tokens
        token_budget_mixing_plan(
            docs, 3, {"srcX": 100.0, "srcY": 1.0})


def test_incremental_value_histogram_store(spark, tmp_path):
    """Two-batch append: percentiles off the store alone equal a direct
    sketch over the union (lossless merge across appends), since_day
    prunes exactly, and an empty delta leaves the store untouched."""
    from asvsp_spark.operators.sketches import (append_value_histogram,
                                                sketch_percentiles,
                                                stored_percentiles)
    store = str(tmp_path / "vh")
    ev = tables.load(spark, SF_DIR, "events")
    d1 = ev.filter(F.col("event_id") % 2 == 0)
    d2 = ev.filter(F.col("event_id") % 2 == 1)

    s1 = append_value_histogram(spark, d1, store)
    assert s1["bootstrapped"] and s1["delta_values"] == d1.filter(
        F.col("value").isNotNull()).count()
    s2 = append_value_histogram(spark, d2, store)
    assert not s2["bootstrapped"]

    got = {r.event_type: r for r in
           stored_percentiles(spark, store).collect()}
    want = {r.event_type: r for r in
            sketch_percentiles(ev, "value", ["event_type"]).collect()}
    assert set(got) == set(want)
    for et, w in want.items():
        g = got[et]
        assert (g.n_values, g.p50_cents, g.p90_cents, g.p99_cents) == \
            (w.n_values, w.p50_cents, w.p90_cents, w.p99_cents), et

    # since_day pruning == direct sketch over the filtered raw events
    cut = "2024-06-01"
    pruned = {r.event_type: r.p50_cents for r in
              stored_percentiles(spark, store, since_day=cut).collect()}
    direct = {r.event_type: r.p50_cents for r in sketch_percentiles(
        ev.filter(F.to_date("ts") >= F.lit(cut).cast("date")),
        "value", ["event_type"]).collect()}
    assert pruned == direct

    # empty delta: store byte-identical (same accumulated percentiles)
    empty = ev.filter(F.lit(False))
    s3 = append_value_histogram(spark, empty, store)
    assert s3 == {"delta_values": 0, "delta_buckets": 0,
                  "bootstrapped": False}
    again = {r.event_type: r.p50_cents for r in
             stored_percentiles(spark, store).collect()}
    assert again == {k: v.p50_cents for k, v in got.items()}


def test_value_sketch_cli_round_trip(spark, tmp_path, capsys):
    """value-sketch CLI: bootstrap + append cadence prints period
    percentiles from the store alone."""
    from asvsp_spark.cli import main
    ev = tables.load(spark, SF_DIR, "events")
    d1, d2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(d1)
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(d2)
    store = str(tmp_path / "store")
    assert main(["value-sketch", d1, "--store", store]) == 0
    out1 = capsys.readouterr().out
    assert "bootstrap:" in out1
    assert main(["value-sketch", d2, "--store", store]) == 0
    out2 = capsys.readouterr().out
    assert "delta:" in out2 and "p99=" in out2


def test_value_histogram_extreme_magnitudes_saturate(spark):
    """19-digit cent magnitudes land in the ±saturation buckets instead
    of overflowing the ANSI-mode negative-mirror arithmetic."""
    from asvsp_spark.operators.sketches import value_histogram
    vals = [-9.21e16, 9.21e16, 1.0]   # cents ±9.21e18 (19 digits), 100
    df = spark.createDataFrame([("g", v) for v in vals],
                               "k string, value double")
    hist = {r.bucket_lo: r.cnt
            for r in value_histogram(df, "value", ["k"]).collect()}
    assert hist == {-2 * 10 ** 18: 1, 10 ** 18: 1, 100: 1}
    assert hist == {_py_bucket_lo(round(v * 100)): 1 for v in vals}


def _py_es_key(doc_id: int, weight: int, salt: str) -> int:
    """Python twin of weighted_sample_k's Efraimidis-Spirakis key."""
    import hashlib
    return max(int(hashlib.md5(f"{doc_id}|{r}|{salt}".encode())
                   .hexdigest()[:8], 16) for r in range(weight))


def test_weighted_sample_k_exact_and_distribution(spark):
    """The sampled set equals the Python E-S twin exactly (grouped and
    global paths, repartition-invariant), bad weights raise, and — via
    the twin, validated by that equality — a 9:1 weight ratio wins the
    k=1 draw ~90% of the time across 400 salts."""
    import pytest as _pytest

    from asvsp_spark.operators.sampling import weighted_sample_k
    rows = [(i, "g1" if i % 2 == 0 else "g2", i % 4 + 1)
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, w int")

    def ref_topk(rs, k, grouped=True):
        out = {}
        for i, g, w in rs:
            out.setdefault(g if grouped else "_", []).append(
                (-_py_es_key(i, w, "ws42"), i, w))
        keep = set()
        for g, lst in out.items():
            for rk, (_, i, w) in enumerate(sorted(lst)[:k], 1):
                keep.add((i, rk))
        return keep

    got = {(r.doc_id, r.sample_rank) for r in
           weighted_sample_k(docs, 7, "w", group_col="lang").collect()}
    assert got == ref_topk(rows, 7)
    again = {(r.doc_id, r.sample_rank) for r in
             weighted_sample_k(docs.repartition(13), 7, "w",
                               group_col="lang").collect()}
    assert again == got

    gglobal = {(r.doc_id, r.sample_rank) for r in
               weighted_sample_k(docs, 4, "w").collect()}
    assert gglobal == ref_topk(rows, 4, grouped=False)

    bad = spark.createDataFrame([(1, 0)], "doc_id long, w int")
    with _pytest.raises(Exception, match="must be an integer in"):
        weighted_sample_k(bad, 1, "w").collect()
    frac = spark.createDataFrame([(1, 2.7)], "doc_id long, w double")
    with _pytest.raises(Exception, match="must be an integer in"):
        # cast('int') would silently truncate 2.7 -> 2 draws; the
        # equality leg of the guard must reject it instead
        weighted_sample_k(frac, 1, "w").collect()

    # distribution (pure-Python twin, no Spark): heavy doc wins ~ 9/10
    wins = sum(_py_es_key(1, 9, f"s{t}") > _py_es_key(2, 1, f"s{t}")
               for t in range(400))
    assert 0.84 <= wins / 400 <= 0.96


def test_curriculum_shards_order_and_membership(spark):
    """Curriculum mode keeps hash-mode shard membership but orders
    within-shard positions by the difficulty column (ties broken by the
    md5 permutation key); by_tokens+curriculum is rejected."""
    import pytest as _pytest

    from asvsp_spark.operators.sharding import shard_assignments
    docs = tables.load(spark, SF_DIR, "documents")
    hash_plan = {r.doc_id: r.shard for r in
                 shard_assignments(docs, n_shards=4).collect()}
    cur = shard_assignments(docs, n_shards=4,
                            curriculum_col="n_chars").collect()
    assert {r.doc_id: r.shard for r in cur} == hash_plan
    chars = {r.doc_id: r.n_chars for r in
             docs.select("doc_id", "n_chars").collect()}
    by_shard: dict[int, list] = {}
    for r in cur:
        by_shard.setdefault(r.shard, []).append(
            (r.pos_in_shard, chars[r.doc_id]))
    for shard, rows in by_shard.items():
        seq = [c for _, c in sorted(rows)]
        assert seq == sorted(seq), f"shard {shard} not easy->hard"
    with _pytest.raises(ValueError, match="exclusive"):
        shard_assignments(docs, n_shards=4, by_tokens=True,
                          curriculum_col="n_chars")

    # NULL difficulty sorts LAST (asc_nulls_last == DuckDB's ASC
    # default): unscored docs train last, not first
    nd = spark.createDataFrame(
        [(1, "a b", 5), (2, "c d", None), (3, "e f", 1)],
        "doc_id long, text string, score int")
    one = shard_assignments(nd, n_shards=1,
                            curriculum_col="score").collect()
    order = [r.doc_id for r in sorted(one, key=lambda r: r.pos_in_shard)]
    assert order[0] == 3 and order[-1] == 2
