"""Registry: query name -> (spark, sf_dir) -> DataFrame, plus oracle SQL.

This is the single source of truth consumed by __spark_entry__.py, bench.py
and the oracle tests. Add every new operator here with an oracle entry
(or deliberately without one, for non-SQL-expressible ops — the driver then
records a weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from asvsp_spark import tables
from asvsp_spark.functions import text as TX
from asvsp_spark.operators import dedup as D
from asvsp_spark.operators import rollups as R
from asvsp_spark.operators import similarity as SIM
from asvsp_spark.plans import queries as Q
from asvsp_spark.plans.base import round_fixed, yearly_nation_revenue
from asvsp_spark.plans.oracle import ORACLE
from asvsp_spark.plans.oracle_ext import ORACLE_EXT
from asvsp_spark.plans.oracle_rollups import ORACLE_ROLLUPS
from asvsp_spark.plans.oracle_stream import ORACLE_STREAM
from asvsp_spark.plans.oracle_text import ORACLE_TEXT
from asvsp_spark.streaming import queries as SQ

ORACLE.update(ORACLE_ROLLUPS)
ORACLE.update(ORACLE_TEXT)
ORACLE.update(ORACLE_STREAM)
ORACLE.update(ORACLE_EXT)

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, QueryFn] = {}


def register(name: str):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            # a silent overwrite ships the WRONG query under a checked
            # name (and its oracle may pair with the other definition) —
            # fail at import, where the collision is one line to find
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = fn
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


@register("q01_yearly_rank_yoy")
def _q01(spark, sf):
    return Q.q01_yearly_rank_yoy(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                 _t(spark, sf, "nation"))


@register("q02_peak_month")
def _q02(spark, sf):
    return Q.q02_peak_month(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                            _t(spark, sf, "nation"))


@register("q03_cumulative_top10")
def _q03(spark, sf):
    return Q.q03_cumulative_top10(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                  _t(spark, sf, "nation"))


@register("q04_mom_pct_change")
def _q04(spark, sf):
    return Q.q04_mom_pct_change(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                _t(spark, sf, "nation"))


@register("q05_same_month_yoy")
def _q05(spark, sf):
    return Q.q05_same_month_yoy(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                _t(spark, sf, "nation"))


@register("q06_moving_average")
def _q06(spark, sf):
    return Q.q06_moving_average(_t(spark, sf, "orders"))


@register("q07_ntile_quartiles")
def _q07(spark, sf):
    return Q.q07_ntile_quartiles(_t(spark, sf, "orders"))


@register("q08_period_compare")
def _q08(spark, sf):
    return Q.q08_period_compare(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                _t(spark, sf, "nation"))


@register("q09_weekend_effect")
def _q09(spark, sf):
    return Q.q09_weekend_effect(_t(spark, sf, "orders"))


@register("q10_improvement_streaks")
def _q10(spark, sf):
    return Q.q10_improvement_streaks(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                     _t(spark, sf, "nation"))


@register("rollup_daily_events")
def _rollup_daily(spark, sf):
    return (
        R.daily_rollup(_t(spark, sf, "events"))
        .select("event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
                "daily_avg", "daily_max", "n_events", "day_of_week",
                "is_weekend", "yr", "mon")
    )


@register("rollup_monthly_events")
def _rollup_monthly(spark, sf):
    return R.monthly_rollup(R.daily_rollup(_t(spark, sf, "events"))).select(
        "event_type", "yr", "mon", "monthly_avg", "monthly_max",
        "days_with_data", "exceedance_days", "prev_month_avg",
        "mom_pct_change", "same_month_prev_year_avg", "yoy_month_change")


@register("baselines_events")
def _baselines(spark, sf):
    return R.baselines(_t(spark, sf, "events"))


@register("rollup_annual_nation")
def _rollup_annual(spark, sf):
    yearly = yearly_nation_revenue(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                                   _t(spark, sf, "nation"))
    return R.annual_nation_rollup(yearly)


# ---- training-data pipeline operators (SURVEY §7.5 extensions) ----

@register("dedup_exact")
def _dedup_exact(spark, sf):
    return D.exact_dedup(_t(spark, sf, "documents"))


@register("jaccard_pairs")
def _jaccard_pairs(spark, sf):
    return D.jaccard_pairs(_t(spark, sf, "documents"), threshold=0.3)


@register("minhash_lsh_pairs")
def _minhash_lsh_pairs(spark, sf):
    """Oracle-paired since r5: the md5-derived double-hashing family is
    DuckDB-reproducible, so the WHOLE banded pipeline (signatures, band
    buckets, hot-bucket cap, exact verification) hash-checks — recall vs
    jaccard_pairs stays < 1 by design, but the output is deterministic."""
    return D.minhash_lsh_pairs(_t(spark, sf, "documents"), threshold=0.3)


@register("simhash_pairs")
def _simhash_pairs(spark, sf):
    """Oracle-paired since r5: the md5-sliced token hash (same family
    as minhash) made the vote/pack/band/hamming pipeline
    DuckDB-reproducible end-to-end."""
    return D.simhash_pairs(_t(spark, sf, "documents"))


@register("text_quality")
def _text_quality(spark, sf):
    docs = _t(spark, sf, "documents")
    d = (
        docs
        .withColumn("toks", TX.tokens(F.col("text")))
        .withColumn("n_chars", F.length("text"))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn("n_stop", TX.stopword_count("toks"))
    )
    return d.select(
        "doc_id", "n_chars", "n_tokens", "n_stop",
        round_fixed(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        round_fixed(TX.quality_score_expr(
            F.col("n_tokens"), F.col("n_stop")), 6).alias("quality_score"),
    )


@register("gopher_quality_report")
def _gopher_quality_report(spark, sf):
    """Per-document Gopher rule flags (Rae et al. 2021 §A1.1, the
    public pretraining-filter rule set; functions/text.py
    gopher_features): word-count bounds, mean-word-length band,
    symbol-to-word ratio, bullet-/ellipsis-line fractions,
    alphabetic-word fraction, distinct-stopword floor — every flag an
    exact integer comparison (ratio bounds as cross-multiplications),
    so the DuckDB twin is bit-identical. One scan, row-local JVM
    expressions, no shuffle; at 100 TB this pipelines with the write
    stage like every other per-doc profile."""
    docs = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    d = docs.withColumn("toks", TX.tokens(F.col("text")))
    g = TX.gopher_features(F.col("text"), "toks")
    d = d.select("doc_id",
                 *[c.cast("long").alias(k) for k, c in g.items()])
    flags = {
        "f_word_count": (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000),
        "f_mean_word_len": (3 * F.col("n_words") <= F.col("sum_word_len"))
        & (F.col("sum_word_len") <= 10 * F.col("n_words")),
        "f_symbol_ratio": 10 * F.col("n_symbols") <= F.col("n_words"),
        "f_bullet_lines": 10 * F.col("n_bullet_lines")
        <= 9 * F.col("n_lines"),
        "f_ellipsis_end": 10 * F.col("n_ellipsis_end")
        <= 3 * F.col("n_lines"),
        "f_alpha_words": 5 * F.col("n_alpha_words")
        >= 4 * F.col("n_words"),
        "f_stopwords": F.col("n_stop_distinct") >= 2,
    }
    out = d
    for k, c in flags.items():
        out = out.withColumn(k, c.cast("int"))
    passed = flags["f_word_count"]
    for k in list(flags)[1:]:
        passed = passed & flags[k]
    return (out.withColumn("gopher_pass", passed.cast("int"))
            .orderBy("doc_id"))


@register("c4_quality_report")
def _c4_quality_report(spark, sf):
    """Per-document C4 cleaning-rule report (Raffel et al. 2020 §2.2,
    the public recipe behind the C4 corpus; functions/text.py
    c4_features): line-level keep counts (>= 5 words AND terminal
    punctuation), sentence count within the kept text, lorem-ipsum and
    curly-brace page gates, and the page verdict (>= 3 kept sentences,
    no gate hit). All counts exact integers, all flags 0/1 ints — the
    DuckDB twin is bit-identical. One row-local scan, no shuffle; the
    structural complement of gopher_quality_report (C4 cleans LINES
    then gates pages; Gopher gates on whole-page statistics).

    Staging: the fixture corpus is punctuation- and newline-free, so
    the raw rules would be vacuously all-zero (a trivially-green
    hash — the thing the oracle discipline exists to avoid). The entry
    first applies a DETERMINISTIC re-punctuation (sentence break every
    7 words via one regexp_replace, identical in Java regex and RE2
    with DuckDB's 'g' flag) and plants the page-gate markers on fixed
    id residues, so every rule fires in both directions on real data;
    the rule logic itself is the library surface
    (c4_line_keep_expr / c4_features) and is what a punctuated corpus
    would use directly."""
    docs = _t(spark, sf, "documents").filter(F.col("text").isNotNull())
    repunct = F.regexp_replace(
        F.col("text"), r"(([^ \t\n\f\r]+[ \t\n\f\r]+){6}[^ \t\n\f\r]+)[ \t\n\f\r]+", "$1.\n")
    staged = (F.when(F.col("doc_id") % 17 == 0,
                     F.concat(repunct, F.lit("{")))
              .when(F.col("doc_id") % 23 == 0,
                    F.concat(repunct, F.lit("\nlorem ipsum")))
              .otherwise(repunct))
    d = (docs.withColumn("text", staged)
         .withColumn("lines", F.split(F.col("text"), "\n")))
    g = TX.c4_features(F.col("text"), "lines")
    d = d.select(
        "doc_id",
        g["n_lines"].cast("long").alias("n_lines"),
        g["n_kept_lines"].cast("long").alias("n_kept_lines"),
        g["n_sentences"].cast("long").alias("n_sentences"),
        g["has_lorem"].cast("int").alias("has_lorem"),
        g["has_brace"].cast("int").alias("has_brace"))
    passed = ((F.col("n_sentences") >= 3) & (F.col("has_lorem") == 0)
              & (F.col("has_brace") == 0))
    return (d.withColumn("f_min_sentences",
                         (F.col("n_sentences") >= 3).cast("int"))
            .withColumn("c4_pass", passed.cast("int"))
            .orderBy("doc_id"))


@register("lang_id")
def _lang_id(spark, sf):
    docs = _t(spark, sf, "documents").withColumn("toks", TX.tokens(F.col("text")))
    scores = TX.lang_scores("toks")
    return docs.select("doc_id", TX.lang_pick(scores).alias("lang_pred"))


@register("doc_fingerprint")
def _doc_fingerprint(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


@register("bigram_backoff_score")
def _bigram_backoff_score(spark, sf):
    """Stupid-Backoff bigram LM quality score (Brants et al. 2007):
    trained per language on even doc_ids (held-out split so backoff
    genuinely fires), scored over all docs — the bigram upgrade of the
    CCNet-style unigram perplexity proxy."""
    from asvsp_spark.operators.relevance import bigram_backoff_score
    return bigram_backoff_score(_t(spark, sf, "documents"))


@register("chunk_documents")
def _chunk_documents(spark, sf):
    """Fixed token windows (32 tokens, 8 overlap) per document — the
    corpus -> embedding/pretraining chunking step (operators/chunking).
    Shuffle-free: tokenize + posexplode + slice, all codegen."""
    from asvsp_spark.operators.chunking import chunk_documents
    return chunk_documents(_t(spark, sf, "documents"),
                           chunk_tokens=32, overlap=8)


@register("token_length_histogram")
def _token_length_histogram(spark, sf):
    """Per-(lang, log2-bucket) TOKEN-length distribution — the
    at-a-glance shape check every corpus ingest records (truncation
    spikes, boilerplate floods, tokenizer drift all show up here
    first); the per-language log-bucketed companion of the global
    char-width doc_length_histogram below. Bucket = floor(log2(token
    count)); one partial-aggregated shuffle on the tiny (lang, bucket)
    key, token counting stays on the scan."""
    docs = _t(spark, sf, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"[ \t\n\f\r]+"))
    return (
        docs
        .select("lang", n_tok.alias("n_tokens"))
        .withColumn("bucket_log2",
                    F.floor(F.log2(F.greatest("n_tokens", F.lit(1))))
                    .cast("int"))
        .groupBy("lang", "bucket_log2")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.min("n_tokens").alias("min_tokens"),
             F.max("n_tokens").alias("max_tokens"))
    )


@register("text_profile")
def _text_profile(spark, sf):
    """Single-scan per-document text profile: quality metrics + n-gram
    language ID + normalized-text fingerprint — the merged successor of
    text_quality / lang_id / doc_fingerprint (one pass over the corpus
    computes the full profile, which is what a real pipeline runs; the
    three originals remain registered for library users). All JVM-side
    column expressions — scan speed, no shuffle."""
    docs = _t(spark, sf, "documents")
    d = (
        docs
        .withColumn("toks", TX.tokens(F.col("text")))
        .withColumn("n_chars", F.length("text"))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn("n_stop", TX.stopword_count("toks"))
    )
    scores = TX.lang_scores("toks")
    return d.select(
        "doc_id", "n_chars", "n_tokens", "n_stop",
        round_fixed(F.col("n_stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        round_fixed(TX.quality_score_expr(
            F.col("n_tokens"), F.col("n_stop")), 6).alias("quality_score"),
        TX.lang_pick(scores).alias("lang_pred"),
        TX.fingerprint(F.col("text")).alias("fp"),
    )


@register("media_features")
def _media_features(spark, sf):
    from asvsp_spark.operators import multimodal as MM
    return MM.media_features(MM.attach_fake_media(_t(spark, sf, "documents")))


@register("embedding_stats")
def _embedding_stats(spark, sf):
    return SIM.embedding_stats(_t(spark, sf, "embeddings"))


@register("cosine_topk")
def _cosine_topk(spark, sf):
    return SIM.cosine_topk(_t(spark, sf, "embeddings"))


@register("cosine_dup_pairs")
def _cosine_dup_pairs(spark, sf):
    return SIM.cosine_dup_pairs(_t(spark, sf, "embeddings"), threshold=0.45)


@register("lsh_topk")
def _lsh_topk(spark, sf):
    """Oracle-paired since r5: md5-derived Rademacher plane signs make
    the sign sketch engine-portable, so the bucketed candidates, the
    Hamming-1 multi-probe and the final rank are DuckDB-reproducible —
    recall vs brute force stays < 1 by design, output deterministic."""
    return SIM.lsh_bucketed_topk(_t(spark, sf, "embeddings"))


@register("semantic_dedup_report")
def _semantic_dedup_report(spark, sf):
    """SemDeDup-style per-cell pruning audit: trained-cell blocking +
    greedy within-cell cosine dedup at threshold 3/10. Oracle-paired
    since r8 (previously rows-only under mllib k-means cells): cells
    come from the deterministic integer quantizer (ivf_centroids_int)
    and the greedy decision is the exact-rational cosine test
    dot > 0 AND den^2*dot^2 >= num^2*|x|^2*|y|^2 on micro-unit integer
    vectors — no float in any decision, so the DuckDB twin replays
    training, assignment AND the greedy scan bit-identically. This is
    the engine's only SemDeDup; the frozen-cell incremental store
    (incremental_semantic_dedup) keeps its own float k-means cells so
    its on-disk centroids stay stable across deltas. Threshold
    3/10, not the SemDeDup-typical 0.9+: this synthetic corpus's
    cosines top out at ~0.6, so 0.9 never fires and the hash row would
    not exercise the greedy at all — at 3/10 it drops ~28% of vectors
    at every SF (the threshold is a knob, the semantics are not)."""
    return SIM.semantic_dedup_report(_t(spark, sf, "embeddings"),
                                     threshold_num=3, threshold_den=10)


# ---- streaming queries SQ1-SQ5 (SURVEY §2.11) ----
# Each drains the events file stream with trigger(availableNow) — one
# micro-batch, the reference's trigger(once) semantics — and returns the
# accumulated batch result.

_REGISTRY["sq1_vs_baseline"] = SQ.sq1_vs_baseline
_REGISTRY["sq2_dominant_trend"] = SQ.sq2_dominant_trend
_REGISTRY["sq2c_stateful_trend"] = SQ.sq2c_stateful_trend
_REGISTRY["sq3_top_users"] = SQ.sq3_top_users
_REGISTRY["sq4_engagement_conversion"] = SQ.sq4_engagement_conversion
_REGISTRY["sq5_rank_anomaly"] = SQ.sq5_rank_anomaly
_REGISTRY["sq6_attribution_join"] = SQ.sq6_attribution_join
_REGISTRY["sq6b_attribution_left"] = SQ.sq6b_attribution_left
_REGISTRY["sq7_dedup_hourly"] = SQ.sq7_dedup_hourly
_REGISTRY["sq7b_dedup_within_watermark"] = SQ.sq7b_dedup_within_watermark
_REGISTRY["sq8_session_windows"] = SQ.sq8_session_windows
_REGISTRY["sq9_hourly_daily_chain"] = SQ.sq9_hourly_daily_chain
_REGISTRY["sq12_drift_hourly"] = SQ.sq12_drift_hourly
_REGISTRY["sq13_contract_hourly"] = SQ.sq13_contract_hourly
_REGISTRY["sq14_value_percentiles_hourly"] = SQ.sq14_value_percentiles_hourly
_REGISTRY["sq15_neardup_dedup"] = SQ.sq15_neardup_dedup
_REGISTRY["sq16_variant_hourly"] = SQ.sq16_variant_hourly


# The driver's correctness pass records rows for exactly the FIRST 50
# entries of all_queries() in insertion order (round 1 registered 55 and
# got rows for positions 1-50 only), so DRIVER_CHECKED names those 50
# explicitly, all of them oracle-paired. Entries rotate in and out of
# the 50 between rounds (git history keeps the record). An entry outside
# the 50 is still pinned by the identical DuckDB hash comparison in
# tests/test_oracle_parity.py, which runs every oracle-paired entry.
# dedup_components took dedup_components_star's slot when star
# contraction became the only connected-components algorithm and that
# duplicate entry was removed.
DRIVER_CHECKED: tuple[str, ...] = (
    # parity core, reduced to 10 for the rotation round
    "q01_yearly_rank_yoy", "q03_cumulative_top10",
    "q05_same_month_yoy", "q08_period_compare",
    "q10_improvement_streaks",
    "sq1_vs_baseline", "sq2_dominant_trend", "sq3_top_users",
    "sq4_engagement_conversion", "sq5_rank_anomaly",
    # r9 birth-round entries, kept one more round
    "gopher_quality_report", "c4_quality_report",
    "quality_classifier_scores",
    # r10 freshness rotation: the full r4-stale cohort (verdict item 1)
    "asof_last_order", "bigram_backoff_score", "chunk_documents",
    "cosine_topk", "cube_revenue_nation_year",
    "customer_retention_setops", "decontaminate_report",
    "dedup_components", "dedup_representative",
    "distinct_users_daily", "doc_repetition", "funnel_daily",
    "heavy_hitters_users", "incremental_dedup_report",
    "label_centroids", "leakage_split_report", "mixture_rebalance",
    "nation_revenue_distribution", "packing_bins",
    "q11_pricing_summary", "q12_late_shipments",
    "q13_supplier_margin_topk", "quality_filter_report",
    "rollup_daily_events", "rollup_monthly_events",
    "rollup_revenue_region_nation", "scd2_user_state",
    "token_length_histogram", "top_bigrams", "unigram_logprob_score",
    "user_day_bookends", "winnow_pairs",
    # r6-stale streaming cohort (5 of 8)
    "sq2c_stateful_trend", "sq6b_attribution_left",
    "sq7b_dedup_within_watermark", "sq8_session_windows",
    "sq10_funnel_hourly",
)


def all_queries() -> dict[str, QueryFn]:
    """Registered queries: the 50 driver-checked entries first (see
    DRIVER_CHECKED above), then every remaining entry in registration
    order — driver-unchecked but locally oracle- or rows-tested."""
    ordered = {k: _REGISTRY[k] for k in DRIVER_CHECKED}
    ordered.update({k: v for k, v in _REGISTRY.items()
                    if k not in ordered})
    return ordered


def all_oracle_sql() -> dict[str, str]:
    # only expose oracles for registered queries (extra entries would fail
    # the driver's pairing)
    return {k: v for k, v in ORACLE.items() if k in _REGISTRY}


# ---- time-series operators: as-of join + sessionization ----

from asvsp_spark.operators.asof import asof_join  # noqa: E402
from asvsp_spark.operators.sessions import user_sessions  # noqa: E402
from asvsp_spark.plans.base import money_cents  # noqa: E402


@register("asof_last_order")
def _asof_last_order(spark, sf):
    """Each event matched to the user's most recent prior order day
    (backward inclusive as-of join, operators/asof.py)."""
    events = _t(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type")
    od = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"),
                 F.col("o_orderdate").alias("od"))
        .agg(F.sum(money_cents(F.col("o_totalprice"))).alias("day_cents"),
             F.max("o_orderkey").alias("last_orderkey"))
    )
    j = asof_join(events, od, on="user_id", left_ts="ts", right_ts="od")
    return j.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "event_type",
        F.date_format("asof_od", "yyyy-MM-dd").alias("last_order_day"),
        "last_orderkey",
        (F.col("day_cents") / 100.0).alias("last_order_day_revenue"),
        F.datediff(F.to_date("ts"), F.to_date("asof_od"))
        .alias("days_since_order"),
    )


@register("sessionize_users")
def _sessionize_users(spark, sf):
    """Per-user session windows, 30-minute inactivity gap
    (operators/sessions.py)."""
    return user_sessions(_t(spark, sf, "events"))


# ---- distinct-count family (absent in reference, SURVEY §2.4 'Absent') ----

@register("distinct_users_daily")
def _distinct_users_daily(spark, sf):
    """Exact per-day distinct users + event count. Exact distinct is the
    expensive path at scale (shuffle carries every (day, user) pair once —
    partial dedup map-side); the HLL twin below is the fixed-memory path.
    """
    return (
        _t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n_users", "n_events")
    )


@register("approx_users_daily")
def _approx_users_daily(spark, sf):  # rows-only: HLL estimates have no
    """HyperLogLog++ distinct users per day: O(1) state per group however
    many users exist — the 100TB path (exact distinct shuffles every pair;
    the sketch partial-aggregates to a few KB map-side). rsd=0.02 ≈
    +-2% typical error; accuracy vs exact is unit-tested."""
    return (                          # cross-engine-identical value
        _t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                "n_users_approx")
    )


@register("ivf_topk")
def _ivf_topk(spark, sf):
    """Oracle-paired since r8: the deterministic integer-Lloyd
    quantizer (similarity.py ivf_centroids_int — md5-rank seeds, exact
    BIGINT distances, integer-sum means) made the WHOLE partial-probe
    pipeline DuckDB-reproducible; recall vs cosine_topk stays < 1 by
    design, but the output is deterministic — the same upgrade
    minhash_lsh_pairs got in r5."""
    return SIM.ivf_topk(_t(spark, sf, "embeddings"))


@register("ivf_topk_full_probe")
def _ivf_topk_full_probe(spark, sf):
    """The IVF machinery with EVERY cell probed: provably identical to
    brute-force cosine_topk (pinned by unit test), so it shares
    cosine_topk's DuckDB oracle — the cell assignment, probe-list
    ranking, probed-cell union and final rank window all earn a hash
    row, while the registered partial-probe ivf_topk stays the honest
    rows-only approximation."""
    return SIM.ivf_topk(_t(spark, sf, "embeddings"), n_probe=10**9)


@register("embedding_quantize_int8")
def _embedding_quantize_int8(spark, sf):
    """Symmetric int8 vector quantization with per-vector scale
    (operators/similarity.py quantize_int8) — the 4x storage path for
    billion-vector stores.

    The registered projection serializes the q8 array to a canonical
    comma-joined string: the operator's native array<int> output is kept
    for library users, but array cells are unhashable to the driver's
    pandas canonicalizer (r1 failure), so the checked surface is scalar.
    """
    df = SIM.quantize_int8(_t(spark, sf, "embeddings"))
    return df.select(
        "vec_id",
        F.array_join(F.col("q8").cast("array<string>"), ",").alias("q8"),
        "scale")


# ---- multi-level aggregation + percentile family ----

@register("cube_revenue_nation_year")
def _cube_revenue(spark, sf):
    """CUBE(nation, yr) revenue: all four grouping sets in one pass
    (operators/grouping.py)."""
    from asvsp_spark.operators.grouping import cube_revenue
    return cube_revenue(_t(spark, sf, "orders"), _t(spark, sf, "customer"),
                        _t(spark, sf, "nation"))


@register("priority_percentiles")
def _priority_percentiles(spark, sf):
    """Exact interpolated p25/median/p90 of order value per priority."""
    from asvsp_spark.operators.grouping import priority_percentiles
    return priority_percentiles(_t(spark, sf, "orders"))


@register("approx_priority_percentiles")
def _approx_priority_percentiles(spark, sf):  # rows-only: sketch estimates
    """Bounded-memory percentile sketch twin (engine-specific values;
    error bound vs exact is unit-tested)."""
    from asvsp_spark.operators.grouping import approx_percentiles
    return approx_percentiles(_t(spark, sf, "orders"))


@register("pivot_daily_type")
def _pivot_daily_type(spark, sf):
    """Native groupBy().pivot() with explicit value list
    (operators/grouping.py)."""
    from asvsp_spark.operators.grouping import pivot_daily_type
    return pivot_daily_type(_t(spark, sf, "events"))


@register("unpivot_daily_type")
def _unpivot_daily_type(spark, sf):
    """Native unpivot (melt) — pivot_daily_type's wide frame back to
    long, EXCLUDE NULLS semantics (operators/grouping.py)."""
    from asvsp_spark.operators.grouping import unpivot_daily_type
    return unpivot_daily_type(_t(spark, sf, "events"))


@register("http_collect_rollup")
def _http_collect_rollup(spark, sf):
    """S11 in-engine: the HTTP API collector as a Spark 4 Python
    DataSource — executor-parallel page fetch over file:// transport
    (same code path as https://), per-type rollup with the props JSON
    decoded back out. Size is sf-independent: the synthetic publisher
    stands in for an external API whose volume does not scale with the
    warehouse (sources/http_collector.py)."""
    from asvsp_spark.sources.http_collector import synthetic_collect_rollup
    return synthetic_collect_rollup(spark)


@register("variant_props_decode")
def _variant_props_decode(spark, sf):
    """Spark 4 VARIANT decode of the events props JSON: parse once,
    typed/nested/try path extraction + schema_of_variant inference,
    rolled up per nested-extracted event type
    (operators/semistruct.py)."""
    from asvsp_spark.operators.semistruct import variant_props_rollup
    return variant_props_rollup(_t(spark, sf, "events"))


# ---- dedup clustering (connected components) ----

@register("dedup_components")
def _dedup_components(spark, sf):
    """Near-dup pairs -> dedup clusters via large-star/small-star
    connected components (operators/components.py); canonical keeper =
    min doc id."""
    from asvsp_spark.operators.components import dedup_clusters
    docs = _t(spark, sf, "documents")
    edges = D.jaccard_pairs(docs, threshold=0.3).select("doc_a", "doc_b")
    return dedup_clusters(docs, edges)


# ---- range join ----

@register("events_after_order")
def _events_after_order(spark, sf):
    """Interval join: per order, the customer's events within 7 days
    after the order (operators/ranges.py)."""
    from asvsp_spark.operators.ranges import events_after_order
    return events_after_order(_t(spark, sf, "orders"), _t(spark, sf, "events"))


@register("snapshot_diff_orders")
def _snapshot_diff_orders(spark, sf):
    """Snapshot diff audit (operators/diff.py): synthesize a 'new'
    snapshot from orders — drop keys %13==0, bump price on %5==0, add
    shifted copies of %17==0 — and classify every key."""
    from asvsp_spark.operators.diff import diff_summary
    orders = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    base = orders.filter(k % 13 != 0)
    modified = base.withColumn(
        "o_totalprice",
        F.when(k % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")))
    added = (orders.filter(k % 17 == 0)
             .withColumn("o_orderkey", k + F.lit(10**9)))
    new = modified.unionByName(added)
    return diff_summary(orders, new, "o_orderkey")


@register("top_terms_per_lang")
def _top_terms_per_lang(spark, sf):
    """Corpus vocabulary: top-10 terms per language by total frequency
    (tie-break on term) — one explode + partial-aggregating count, then
    a per-lang rank over the tiny aggregated frame."""
    from pyspark.sql import Window
    docs = _t(spark, sf, "documents")
    counts = (
        docs.select("lang", F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tf"), F.asc("term"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "term", "tf", "rk")
    )


@register("inactive_customers")
def _inactive_customers(spark, sf):
    """LEFT ANTI join (SURVEY §2.3 'Absent': semi/anti): customers with
    no orders in 2001 (churn candidates). Anti/semi joins never
    materialize the right side's columns, so the build side carries keys
    only — at scale this is the cheapest possible existence check (and
    Catalyst rewrites NOT EXISTS subqueries to exactly this plan)."""
    cust = _t(spark, sf, "customer")
    orders_2001 = (_t(spark, sf, "orders")
                   .filter(F.year("o_orderdate") == 2001)
                   .select(F.col("o_custkey").alias("c_custkey")))
    return (
        cust.join(orders_2001, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register("repeat_buyer_segments")
def _repeat_buyer_segments(spark, sf):
    """LEFT SEMI join: per-segment count of customers having at least
    one high-value order (existence, not multiplicity — a plain inner
    join would duplicate customers per matching order)."""
    cust = _t(spark, sf, "customer")
    big = (_t(spark, sf, "orders")
           .filter(F.col("o_totalprice") > 200000.0)
           .select(F.col("o_custkey").alias("c_custkey")))
    return (
        cust.join(big, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register("type_correlation")
def _type_correlation(spark, sf):
    """Pairwise Pearson r between event-type hourly series from exact
    integer moments (operators/correlate.py)."""
    from asvsp_spark.operators.correlate import type_correlation
    return type_correlation(_t(spark, sf, "events"))


@register("doc_length_histogram")
def _doc_length_histogram(spark, sf):
    """Corpus length distribution: fixed-width histogram of document
    char lengths (the first thing anyone plots over a training corpus).
    One partial-aggregating groupBy on a derived bucket key — histogram
    cost is one scan regardless of corpus size."""
    width = 500
    docs = _t(spark, sf, "documents")
    return (
        docs
        .withColumn("bucket", F.floor(F.length("text") / width).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(F.length("text")).cast("int").alias("min_chars"),
             F.max(F.length("text")).cast("int").alias("max_chars"))
        .select((F.col("bucket") * width).alias("bucket_lo"),
                "n_docs", "min_chars", "max_chars")
    )


@register("sample_k_per_group")
def _sample_k_per_group(spark, sf):
    """Deterministic exactly-k-per-language sample, md5-ordered so the
    EXACT membership is oracle-checkable (operators/sampling.py)."""
    from asvsp_spark.operators.sampling import sample_k_per_group
    return sample_k_per_group(_t(spark, sf, "documents"), k=10)


# ---- stratified sampling ----

@register("stratified_sample_docs")
def _stratified_sample_docs(spark, sf):
    """Deterministic hash-stratified document sample. Oracle-paired
    since r5: the md5-slice bucket (minhash's hash construction) makes
    the EXACT sampled row set reproducible in DuckDB — previously
    rows-only under xxhash64. Per-stratum fractions also unit-tested."""
    from asvsp_spark.operators.sampling import hash_stratified_sample
    return hash_stratified_sample(_t(spark, sf, "documents")).select(
        "doc_id", "lang", "source")


# ---- relevance / vocabulary scoring (operators/relevance.py) ----

BM25_QUERY_TERMS = ("spark", "join", "vector", "stream")


@register("top_bigrams")
def _top_bigrams(spark, sf):
    """Corpus-wide top-20 adjacent-token bigrams: explode -> partial-agg
    count -> distributed TakeOrdered top-k (operators/relevance.py)."""
    from asvsp_spark.operators.relevance import top_bigrams
    return top_bigrams(_t(spark, sf, "documents"), top_k=20)


@register("tfidf_top_terms")
def _tfidf_top_terms(spark, sf):
    """Top-10 TF-IDF terms per language; idf from corpus-wide document
    frequency, N attached by broadcast cross-join — no driver collect
    (operators/relevance.py)."""
    from asvsp_spark.operators.relevance import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf, "documents"), top_k=10)


@register("bm25_search")
def _bm25_search(spark, sf):
    """BM25 top-20 documents for a fixed bag-of-words query; hits are
    filtered to query terms BEFORE the shuffle, df/idf joins broadcast
    (operators/relevance.py)."""
    from asvsp_spark.operators.relevance import bm25_topk
    return bm25_topk(_t(spark, sf, "documents"), BM25_QUERY_TERMS,
                     top_k=20)


# ---- dedup capstone: cluster -> canonical representative ----

@register("dedup_representative")
def _dedup_representative(spark, sf):
    """Per near-dup cluster, elect the canonical document to KEEP — the
    longest (token count), doc_id-tiebroken. This is the step that turns
    dedup clusters into an actual training corpus: one row per cluster,
    losers dropped. Window row_number over the (tiny) cluster frame;
    the heavy lifting is the same edges+CC pipeline as dedup_components.
    """
    from pyspark.sql import Window
    from asvsp_spark.operators.components import dedup_clusters
    docs = _t(spark, sf, "documents")
    edges = D.jaccard_pairs(docs, threshold=0.3).select("doc_a", "doc_b")
    clusters = dedup_clusters(docs, edges)
    scored = clusters.join(
        docs.select("doc_id",
                    TX.token_count(F.col("text")).alias("n_tokens")),
        "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("rep_doc_id"),
                    "cluster_size", F.col("n_tokens").alias("rep_tokens")))


# ---- set operations (INTERSECT / EXCEPT) ----

@register("customer_retention_setops")
def _customer_retention_setops(spark, sf):
    """Year-over-year customer retention via native set operations:
    retained = 2000 ∩ 2001, churned = 2000 ∖ 2001, new = 2001 ∖ 2000.
    intersect/subtract plan as hash aggregates + joins on the key only
    (no payload shuffle); at 100 TB each leg is one shuffle on the
    already-distinct key sets."""
    orders = _t(spark, sf, "orders")
    def keys(year):
        return (orders.filter(F.year("o_orderdate") == year)
                .select("o_custkey").distinct())
    y0, y1 = keys(2000), keys(2001)
    def count_as(df, label):
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers")
    return (count_as(y0.intersect(y1), "retained")
            .unionByName(count_as(y0.subtract(y1), "churned"))
            .unionByName(count_as(y1.subtract(y0), "new")))


@register("cohort_retention")
def _cohort_retention(spark, sf):
    """Classic cohort-retention matrix over orders: customers grouped by
    first-order month (the cohort), then distinct-active counts at each
    month offset, with retention as a fraction of cohort size.

    Plan shape: distinct on (customer, month) partial-aggregates before
    any join; the first-month groupBy and the join back both key on
    customer, so AQE reuses one customer-keyed exchange; the final
    matrix aggregation shuffles only (cohort, offset) pairs — O(months²)
    rows regardless of corpus size. The cohort-size denominator comes
    from a window over the tiny matrix, not a rescan of orders."""
    from pyspark.sql import Window
    orders = _t(spark, sf, "orders")
    act = (orders.select(
            F.col("o_custkey").alias("c"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .alias("midx"))
           .distinct())
    first = act.groupBy("c").agg(F.min("midx").alias("first_midx"))
    mat = (act.join(first, "c")
           .groupBy(F.col("first_midx"),
                    (F.col("midx") - F.col("first_midx"))
                    .alias("months_since"))
           .agg(F.count(F.lit(1)).alias("n_active")))
    w = Window.partitionBy("first_midx")
    cohort_n = F.max(
        F.when(F.col("months_since") == 0, F.col("n_active"))).over(w)
    return (mat.select(
        (F.floor(F.col("first_midx") / 12) * 100
         + F.col("first_midx") % 12 + 1).cast("int").alias("cohort_ym"),
        F.col("months_since").cast("int").alias("months_since"),
        F.col("n_active"),
        round_fixed(F.col("n_active") / cohort_n, 6).alias("retention")))


# ---- hierarchical ROLLUP (region -> nation) ----

@register("rollup_revenue_region_nation")
def _rollup_revenue_region_nation(spark, sf):
    """Revenue over ROLLUP(region, nation): per-nation, per-region
    subtotal, grand total — the hierarchy cube's cheaper sibling (n+1
    grouping sets, not 2^n). Same Expand -> partial-agg shape as CUBE:
    only (groups x levels) rows shuffle. Dimension joins broadcast."""
    from asvsp_spark.plans.base import cents_to_dollars, money_cents
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    base = (orders
            .join(F.broadcast(cust),
                  orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .select(F.col("r_name").alias("region"),
                    F.col("n_name").alias("nation"),
                    money_cents(F.col("o_totalprice")).alias("cents")))
    return (base.rollup("region", "nation")
            .agg(F.sum("cents").alias("revenue_cents"),
                 F.count(F.lit(1)).alias("n_orders"),
                 F.grouping_id().alias("gid"))
            .select("region", "nation", "gid",
                    cents_to_dollars(F.col("revenue_cents")).alias("revenue"),
                    "n_orders"))


# ---- distribution windows (percent_rank / cume_dist) ----

@register("nation_revenue_distribution")
def _nation_revenue_distribution(spark, sf):
    """percent_rank + cume_dist of each nation within the total-revenue
    distribution. The ORDER BY key includes the nation name, so every
    row ranks on a distinct key — both engines then emit identical
    exact ratios (k/n in IEEE double) with no rounding needed."""
    from pyspark.sql import Window
    from asvsp_spark.plans.base import cents_to_dollars, money_cents
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    rev = (orders
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"))
           .agg(F.sum(money_cents(F.col("o_totalprice")))
                .alias("revenue_cents")))
    w = Window.orderBy(F.asc_nulls_last("revenue_cents"),
                       F.asc_nulls_last("nation"))
    return rev.select(
        "nation",
        cents_to_dollars(F.col("revenue_cents")).alias("revenue"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"))


# ---- argmin/argmax aggregates (min_by / max_by) ----

@register("user_day_bookends")
def _user_day_bookends(spark, sf):
    """First and last event per (user, day) via min_by/max_by — ONE
    aggregation, no window over the raw events (the classic sessionized
    'bookends' query; a row_number approach would sort every partition).
    The ordering key is a zero-padded (ts, event_id) string, so ties are
    impossible by construction and both engines pick the same row."""
    ev = _t(spark, sf, "events")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"))
    return (ev
            .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("ord", key)
            .groupBy("user_id", "day")
            .agg(F.min_by("event_id", F.col("ord")).alias("first_event_id"),
                 F.max_by("event_id", F.col("ord")).alias("last_event_id"),
                 F.min_by("event_type", F.col("ord")).alias("first_type"),
                 F.count(F.lit(1)).alias("n_events")))


# ---- lineitem fact-table analytics (plans/lineitem_queries.py) ----

@register("q11_pricing_summary")
def _q11(spark, sf):
    """TPC-H Q1 shape over the biggest fact table: one-scan partial
    aggregation onto ~6 groups, exact-integer money math."""
    from asvsp_spark.plans.lineitem_queries import q11_pricing_summary
    return q11_pricing_summary(_t(spark, sf, "lineitem"))


@register("q12_late_shipments")
def _q12(spark, sf):
    """BIG-to-BIG join (lineitem x orders) with pruned projections; the
    shape bucketing removes the shuffle from at scale."""
    from asvsp_spark.plans.lineitem_queries import q12_late_shipments
    return q12_late_shipments(_t(spark, sf, "lineitem"),
                              _t(spark, sf, "orders"))


@register("q13_supplier_margin_topk")
def _q13(spark, sf):
    """Aggregate-then-join top-k: fact aggregates to suppliers BEFORE
    the broadcast name joins touch only the k survivors."""
    from asvsp_spark.plans.lineitem_queries import q13_supplier_margin_topk
    return q13_supplier_margin_topk(_t(spark, sf, "lineitem"),
                                    _t(spark, sf, "supplier"),
                                    _t(spark, sf, "nation"))


# ---- corpus repetition signals (functions/text.py repetition_features) ----

@register("doc_repetition")
def _doc_repetition(spark, sf):
    """Gopher/C4-style within-document repetition filters: duplicate-token
    and duplicate-trigram fractions, computed as pure array expressions in
    ONE projection — no explode, no shuffle; the whole signal extraction
    runs at parquet scan speed however large the corpus."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("toks"))
    feats = TX.repetition_features("toks")
    return docs.select(
        "doc_id",
        feats["n_tokens"].cast("int").alias("n_tokens"),
        feats["n_unique_tokens"].cast("int").alias("n_unique_tokens"),
        feats["n_trigrams"].cast("int").alias("n_trigrams"),
        feats["n_unique_trigrams"].cast("int").alias("n_unique_trigrams"),
        round_fixed(feats["dup_token_ratio"], 6).alias("dup_token_ratio"),
        round_fixed(feats["dup_trigram_ratio"], 6).alias("dup_trigram_ratio"),
    )


@register("bpe_merge_table")
def _bpe_merge_table(spark, sf):
    """BPE vocabulary learning (operators/vocab.py): one corpus-scale
    (word, freq) pass, then 16 vocabulary-sized merge iterations, each
    a partial-aggregating pair count + single-row argmax collect + pure
    array-fold rewrite. Deterministic (count DESC, left, right
    tie-break), so the DuckDB oracle replays the identical iterations
    with a single-row recursive CTE over the vocabulary list."""
    from asvsp_spark.operators.vocab import bpe_merge_table
    return bpe_merge_table(_t(spark, sf, "documents"),
                           num_merges=16, min_pair_count=2)


@register("token_entropy")
def _token_entropy(spark, sf):
    """Within-document unigram Shannon entropy (functions/text.py
    token_entropy) — the low-information/template-spam quality signal.
    Shuffle-free: array_sort + one aggregate fold per row, so the whole
    corpus pass is a single projection at parquet-scan speed; norm_entropy
    (H / ln(n_unique)) makes docs of different lengths comparable."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", TX.tokens(F.col("text")).alias("toks"))
    h = TX.token_entropy("toks")
    n_uniq = F.size(F.array_distinct(F.col("toks")))
    return docs.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        n_uniq.cast("int").alias("n_unique_tokens"),
        round_fixed(h, 6).alias("token_entropy"),
        round_fixed(
            F.when(n_uniq > 1, h / F.log(n_uniq.cast("double")))
             .otherwise(F.lit(0.0)), 6).alias("norm_entropy"),
    )


# ---- per-label embedding centroids (long format, dimension-wise) ----

@register("label_centroids")
def _label_centroids(spark, sf):
    """Per-label centroid of the embedding column in LONG form (label,
    dim, n_vectors, mean_val): posexplode -> one partial-aggregating
    groupBy on (label, dim) — the shuffle carries one row per (label,
    dim) pair regardless of corpus size. The long form keeps every
    output column scalar (driver-canonicalizer-safe) and is what a
    k-means/recluster step consumes directly."""
    emb = _t(spark, sf, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             round_fixed(F.avg("v"), 6).alias("mean_val"))
    )


# ---- winnowing fingerprint dedup (operators/dedup.py winnow_pairs) ----

@register("winnow_pairs")
def _winnow_pairs(spark, sf):
    """Substring-level near-dup candidates from shared winnowing
    fingerprints (Schleimer et al. SIGMOD'03): min-hash of each window
    of w consecutive k-gram hashes, inverted-index self-join on the
    ~2/(w+1)-compressed sketch."""
    return D.winnow_pairs(_t(spark, sf, "documents"), threshold=0.5)


# ---- training-mixture rebalance (operators/sampling.py) ----

@register("mixture_rebalance")
def _mixture_rebalance(spark, sf):
    """Exact-quota rebalance toward a 40/15/15/15/15 language mixture:
    quota_s = floor(min(n_s / t_s) * t_s), membership by md5-rank —
    deterministic and oracle-checkable to the exact document set."""
    from asvsp_spark.operators.sampling import mixture_rebalance
    return mixture_rebalance(_t(spark, sf, "documents"))


# ---- corpus quality scoring: unigram LM log-prob (CCNet-style) ----

@register("unigram_logprob_score")
def _unigram_logprob_score(spark, sf):
    """Per-doc average unigram log-prob under the doc's own language
    model (operators/relevance.py) — the perplexity-proxy quality rank."""
    from asvsp_spark.operators.relevance import unigram_logprob_score
    return unigram_logprob_score(_t(spark, sf, "documents"))


# ---- ordered funnel over the events stream (view>click>signup>purchase) ----

@register("funnel_daily")
def _funnel_daily(spark, sf):
    """Classic ordered-funnel conversion: per (user, day) the FIRST
    timestamp of each stage via conditional min, a stage counts only if
    its first occurrence is at-or-after the previous stage's first
    occurrence; daily totals + final conversion rate. One shuffle on
    (user, day), then a partial-agg rollup onto ~30 day keys."""
    ev = _t(spark, sf, "events")
    fs = {t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
          .alias(f"t_{t}")
          for t in ("view", "click", "signup", "purchase")}
    per_user = (ev
                .withColumn("day", F.to_date("ts"))
                .groupBy("user_id", "day")
                .agg(*fs.values()))
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    s3 = s2 & F.col("t_signup").isNotNull() & (F.col("t_signup") >= F.col("t_click"))
    s4 = s3 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") >= F.col("t_signup"))
    daily = (per_user.groupBy("day").agg(
        F.sum(s1.cast("long")).alias("n_view"),
        F.sum(s2.cast("long")).alias("n_click_after"),
        F.sum(s3.cast("long")).alias("n_signup_after"),
        F.sum(s4.cast("long")).alias("n_purchase_after")))
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "n_view", "n_click_after", "n_signup_after", "n_purchase_after",
        round_fixed(F.when(F.col("n_view") > 0,
                           F.col("n_purchase_after") / F.col("n_view"))
                    .otherwise(F.lit(0.0)), 6).alias("conversion"))


# ---- composed quality gate: per-language p25 percentile cut ----

@register("quality_filter_report")
def _quality_filter_report(spark, sf):
    """The composed quality gate a corpus pipeline actually ships: score
    every document (same formula as text_profile), cut each language at
    its own p25 (exact percentile_cont), report kept counts/fractions.
    Thresholds are a per-language aggregate joined back by broadcast —
    the corpus shuffles once for the percentile, never for the gate."""
    docs = _t(spark, sf, "documents")
    d = (docs
         .withColumn("toks", TX.tokens(F.col("text")))
         .withColumn("n_tokens", F.size("toks"))
         .withColumn("n_stop", TX.stopword_count("toks")))
    scored = d.select(
        "doc_id", "lang",
        round_fixed(TX.quality_score_expr(
            F.col("n_tokens"), F.col("n_stop")), 6).alias("q"))
    th = scored.groupBy("lang").agg(
        F.percentile("q", 0.25).alias("p25_raw"))
    return (
        scored.join(F.broadcast(th), "lang")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum((F.col("q") >= F.col("p25_raw")).cast("long"))
              .alias("n_kept"),
             F.max(round_fixed(F.col("p25_raw"), 6)).alias("p25"),
             F.sum(F.when(F.col("q") >= F.col("p25_raw"), F.col("q")))
              .alias("_kept_sum"))
        .select("lang", "n_docs", "n_kept", "p25",
                round_fixed(F.col("n_kept") / F.col("n_docs"), 6)
                .alias("kept_frac"),
                round_fixed(F.col("_kept_sum") / F.col("n_kept"), 6)
                .alias("avg_kept_q"))
    )


# ---- streaming funnel (streaming/queries.py sq10) ----

_REGISTRY["sq10_funnel_hourly"] = SQ.sq10_funnel_hourly


# ---- mergeable HLL sketch rollup (operators/sketches.py) ----

@register("hll_user_rollup")
def _hll_user_rollup(spark, sf):  # rows-only: estimates are engine-specific
    """Daily HLL user sketches + monthly rollup by SKETCH UNION (no raw
    rescan) — the mergeable pre-aggregate approx_count_distinct cannot
    express. Error bound + merge identity unit-tested."""
    from asvsp_spark.operators.sketches import hll_user_rollup
    return hll_user_rollup(_t(spark, sf, "events"))


@register("sketch_value_percentiles")
def _sketch_value_percentiles(spark, sf):
    """Quantiles from a MERGEABLE decimal log-linear value histogram
    (operators/sketches.py value_histogram — the oracle-pairable
    DDSketch twin): daily per-type sketches roll up to whole-period
    per-type p50/p90/p99 by pure count-sum merge, no raw rescan. The
    bucket math is exact BIGINT/string arithmetic, so unlike
    approx_percentile the full pipeline hash-matches DuckDB."""
    from asvsp_spark.operators.sketches import (histogram_percentiles,
                                                merge_value_histograms,
                                                value_histogram)
    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    daily = value_histogram(ev, "value", ["event_type", "day"])
    merged = merge_value_histograms(daily, ["event_type"])
    return histogram_percentiles(merged, ["event_type"])


# ---- SCD2 dimension history (operators/diff.py scd2_intervals) ----

@register("scd2_user_state")
def _scd2_user_state(spark, sf):
    """User activity-state history as type-2 validity intervals:
    consecutive identical event types collapse into one run, lead()
    closes each interval (operators/diff.py)."""
    from asvsp_spark.operators.diff import scd2_intervals
    ev = _t(spark, sf, "events").select("user_id", "event_type", "ts",
                                        "event_id")
    out = scd2_intervals(ev, "user_id", "event_type",
                         tiebreak_col="event_id")
    return out.select(
        "user_id", "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
         .alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current")


# ---- multimodal decode pipelines over the synthetic raw codec ----

@register("media_image_decode")
def _media_image_decode(spark, sf):  # oracle since late r5 (md5-chained bytes)
    """Decode + resize the RAWI image payloads end-to-end (synthetic
    deterministic codec; production swaps PIL into the identical
    mapInPandas contract — operators/multimodal.py)."""
    from asvsp_spark.operators.multimodal import (attach_synthetic_media,
                                                  decode_image_raw)
    return decode_image_raw(
        attach_synthetic_media(_t(spark, sf, "documents")), max_side=16)


@register("media_frame_sample")
def _media_frame_sample(spark, sf):  # oracle since late r5 (md5-chained bytes)
    """RAWV frame sampling: one row per sampled frame — the Python-side
    explode shape for video pipelines (operators/multimodal.py)."""
    from asvsp_spark.operators.multimodal import (attach_synthetic_media,
                                                  frame_sample_raw)
    return frame_sample_raw(
        attach_synthetic_media(_t(spark, sf, "documents")), every_n=4)


# ---- benchmark decontamination (operators/dedup.py) ----

@register("decontaminate_report")
def _decontaminate_report(spark, sf):
    """Test-set-overlap removal: corpus docs (doc_id % 37 != 0) flagged
    by shared trigrams with the held-out benchmark subset (% 37 == 0).
    The benchmark shingle set is broadcast; the corpus never shuffles."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return D.decontaminate_report(corpus, bench, n=3, min_hits=1)


@register("curriculum_shards")
def _curriculum_shards(spark, sf):
    """Curriculum shard plan (operators/sharding.py shard_assignments
    with curriculum_col): shard membership stays the md5 hash
    permutation, within-shard position orders short->long documents
    (n_chars as the difficulty proxy) — N workers reading their shards
    in position order consume an easy->hard schedule globally."""
    from asvsp_spark.operators.sharding import shard_assignments
    # the filter keeps the rank window visible to bench's .count()
    # (Catalyst would otherwise prune the unreferenced window and time
    # only the scan)
    return shard_assignments(_t(spark, sf, "documents"), n_shards=8,
                             curriculum_col="n_chars") \
        .filter(F.col("pos_in_shard") >= 1)


@register("weighted_sample_docs")
def _weighted_sample_docs(spark, sf):
    """Exact weighted sampling without replacement (operators/
    sampling.py weighted_sample_k — Efraimidis-Spirakis keys in md5
    hash space): per language, top-5 docs under integer weights
    doc_id % 5 + 1; membership is a pure function of (id, salt), so
    the EXACT sampled set hash-matches DuckDB."""
    from asvsp_spark.operators.sampling import weighted_sample_k
    docs = _t(spark, sf, "documents").withColumn(
        "w", (F.col("doc_id") % 5 + 1).cast("int"))
    return weighted_sample_k(docs, k=5, weight_col="w", group_col="lang")


@register("token_budget_mixing_plan")
def _token_budget_mixing_plan(spark, sf):
    """Token-budget mixing plan (operators/sampling.py
    token_budget_mixing_plan): per weighted source, available vs target
    tokens and the epoch/repeat plan for a 10k-token budget over a
    40/20/20/10/10 five-source mixture."""
    from asvsp_spark.operators.sampling import token_budget_mixing_plan
    return token_budget_mixing_plan(
        _t(spark, sf, "documents"), token_budget=10_000,
        weights={"src0": 0.4, "src1": 0.2, "src2": 0.2,
                 "src3": 0.1, "src4": 0.1})


@register("source_overlap_matrix")
def _source_overlap_matrix(spark, sf):
    """Cross-source trigram overlap matrix (operators/dedup.py
    source_overlap_matrix): per unordered source pair, distinct-shingle
    sizes, intersection count, and set Jaccard — the pre-mixing
    redundancy analysis. Exact (no hot-shingle cap), complete matrix
    including zero-overlap pairs."""
    return D.source_overlap_matrix(_t(spark, sf, "documents"), n=3)


# ---- sequence packing (operators/packing.py) ----

@register("packing_bins")
def _packing_bins(spark, sf):
    """Contiguous-packing report per (shard, bin): docs are concatenated
    per shard in doc_id order and cut every 256 tokens; bin = where the
    doc's first token lands. Shard here is doc_id % 4 so the assignment
    is reproducible in the oracle; production defaults to the xxhash64
    shard."""
    from asvsp_spark.operators.packing import packing_stats
    return packing_stats(
        _t(spark, sf, "documents"), budget=256, n_shards=4,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(4)))


@register("packing_best_fit_bins")
def _packing_best_fit_bins(spark, sf):
    """Whole-doc best-fit-decreasing packing report per (shard, bin):
    no straddling, so utilization <= 1 measures padding waste directly.
    Oracle-paired since r5: the placement is sequential within a shard
    (no plain SQL expression reproduces it) but a DuckDB RECURSIVE CTE
    replays the per-shard capacity list one placement per level —
    tie-handling proven equal to numpy argmin; the unit suite
    additionally pins capacity-respect, determinism, and the >= bin
    utilization vs sequential first-fit."""
    from asvsp_spark.operators.packing import packing_stats
    return packing_stats(
        _t(spark, sf, "documents"), budget=256, n_shards=4,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(4)),
        method="best_fit")


# ---- leakage-safe dataset splitting (operators/splits.py) ----

@register("leakage_split_report")
def _leakage_split_report(spark, sf):
    """Per-split doc/cluster audit of the leakage-safe train/valid/test
    split (exact-duplicate clusters; every doc of a cluster shares its
    split, so duplicates of training docs can never appear in eval).
    Deterministic md5-bucket assignment — the oracle reproduces exact
    membership, not just counts."""
    from asvsp_spark.operators.splits import split_report
    return split_report(_t(spark, sf, "documents"))


# ---- late-data side output (streaming/source.py drain_with_late_audit) ----

@register("sq11_late_audit")
def _sq11_late_audit(spark, sf):
    """Flink-style late-data side output over a two-batch parity split:
    the per-hour audit of rows a 2h-watermarked aggregation would have
    silently dropped (SURVEY §2.8 'Absent': late-data side outputs)."""
    return SQ.sq11_late_audit(spark, sf)


# ---- exact heavy hitters with pigeonhole pruning (operators/sketches.py) ----

@register("heavy_hitters_users")
def _heavy_hitters_users(spark, sf):
    """Users above a 0.7% share of all events, found without a full-
    cardinality shuffle: per-partition pigeonhole candidates -> broadcast
    semi-join -> exact recount. Counts are exact, so the DuckDB
    GROUP BY ... HAVING oracle doubles as proof the pruning is lossless."""
    from asvsp_spark.operators.sketches import heavy_hitters
    return heavy_hitters(_t(spark, sf, "events"), ["user_id"],
                         s_num=7, s_den=1000)


# ---- incremental dedup funnel (operators/dedup.py) ----

@register("incremental_dedup_report")
def _incremental_dedup_report(spark, sf):
    """Two-phase incremental exact dedup over a fresh store: phase 1
    (even doc_ids) bootstraps the fingerprint store, phase 2 (odd ids)
    dedups against it. Output = the per-phase funnel, which DuckDB can
    reproduce with plain fingerprint set algebra — the driver-checkable
    contract for the stateful ingestion path.

    NOTE: unlike other registry entries this runs EAGERLY at
    query-construction time (the funnel counts require actions and a
    store write). The store lives under one per-application scratch dir
    that is wiped on each invocation, so repeated calls neither leak
    temp dirs nor see stale state."""
    import os
    import shutil
    import tempfile
    from asvsp_spark.operators.dedup import incremental_exact_dedup
    docs = _t(spark, sf, "documents")
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"asvsp-incr-{spark.sparkContext.applicationId}")
    shutil.rmtree(scratch, ignore_errors=True)
    store = scratch + "/fp"
    out = []
    for phase, batch in (
            (1, docs.filter(F.col("doc_id") % 2 == 0)),
            (2, docs.filter(F.col("doc_id") % 2 == 1))):
        _fresh, c = incremental_exact_dedup(spark, batch, store)
        out.append((phase, c["batch"], c["within_batch_dupes"],
                    c["known_dupes"], c["fresh"]))
    return spark.createDataFrame(
        out, "phase int, n_batch long, within_batch_dupes long, "
             "known_dupes long, fresh long")


# ---- skew-resilient join under bench (operators/skew.py) ----
# A Zipf-skewed synthetic join: 95% of lineitem rows collapse onto one
# hot key, and the dim side holds 10 rows for that key (join output
# amplification — the hot reducer emits ~10x the hot rows). The same-key
# aggregation right after the join PINS the join's output partitioning,
# so AQE's skew-join split cannot apply (it would break the aggregate's
# required distribution) — exactly the shape where up-front salting is
# the only fix, at sf0.1 and at 100 TB alike. The two entries share one
# oracle; the bench delta between them IS the measurement (r5: salted
# ~2x faster at sf0.1 on local[32]).
#
# The md5-derived row checksum gives the reducer real per-row work (an
# integrity-sum, computed AFTER the join in the reduce stage) and the
# trailing filter references it so a bench-side count() cannot prune
# the aggregate away (Catalyst drops unused aggregates under count).

def _skew_join_demo(spark, sf: str, salted: bool):
    from asvsp_spark.operators.skew import salted_join
    li = _t(spark, sf, "lineitem")
    r = F.pmod(F.col("l_orderkey"), F.lit(1000))
    big = li.select(
        F.when(r < 950, F.lit(0)).otherwise(r).cast("long")
         .alias("skew_key"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    base = spark.range(1000).select(
        F.col("id").alias("skew_key"),
        (F.pmod(F.col("id"), F.lit(7)) + 1).cast("long").alias("w"))
    hot = spark.range(9).select(
        F.lit(0).cast("long").alias("skew_key"),
        (F.col("id") + 100).cast("long").alias("w"))
    dim = base.unionByName(hot).hint("merge")   # force the shuffle join
    joined = (salted_join(big, dim, on="skew_key", buckets=32)
              if salted else big.join(dim, "skew_key"))
    from asvsp_spark.plans.base import md5_slice_long
    # NULL cents renders as an explicit sentinel so the integrity sum
    # still covers the row: concat_ws would silently SKIP the NULL
    # component (digesting "0|5" — indistinguishable from a missing
    # field) while the oracle's || propagates NULL and drops the row
    # from the sum entirely (r10 edge probe divergence).
    digest = md5_slice_long(F.concat_ws(
        "|", "skew_key",
        F.coalesce(F.col("cents").cast("string"), F.lit("null")), "w"))
    # checksum sums the digest REDUCED mod a prime, not the raw 32-bit
    # digest: the hot group's raw sum crosses 2^63 around sf75 (Spark
    # wraps silently, DuckDB HUGEINTs — the parity the entry proves
    # would diverge); the mod-bounded sum stays in range past sf1e5
    # and costs nothing (bit_xor, the other overflow-free choice,
    # measured 1.8x slower through the hash aggregate)
    return (joined.groupBy("skew_key")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("cents") * F.col("w")).alias("weighted_cents"),
                 F.sum(F.pmod(digest, F.lit(1_000_003))).alias("checksum"))
            .filter(F.col("checksum").isNotNull()))


@register("skew_join_plain")
def _skew_join_plain(spark, sf):
    """The straggler baseline: plain sort-merge join of the Zipf-skewed
    key — one reducer handles 95% of the join output."""
    return _skew_join_demo(spark, sf, salted=False)


@register("skew_join_salted")
def _skew_join_salted(spark, sf):
    """The fix: salted_join spreads the hot key over 32 buckets before
    the shuffle; result multiset identical (shared oracle)."""
    return _skew_join_demo(spark, sf, salted=True)


@register("pq_rerank_topk")
def _pq_rerank_topk(spark, sf):
    """Product-quantized ANN with exact reranking (similarity.py
    pq_rerank_topk_int, m=8 × 16 codes): the 8-byte-code ADC scan
    shortlists 50, exact cosine reranks — FAISS IVFPQ+refine shape.
    Oracle-paired since r8 (previously rows-only under float seeded
    k-means): per-subspace codebooks train with the same exact-integer
    farthest-point + Lloyd quantizer ivf_topk uses (pq_codebooks_int),
    corpus encoding is one row-local Arrow int64 pass (pq_encode_int —
    no shuffle; a literal-codebook expression tree measured ~5 ms/row
    of interpreted HOF evaluation and was rejected), and the ADC
    partials are exact BIGINTs, so the DuckDB
    twin replays training, encoding, the shortlist AND the rerank
    bit-identically at every SF — including the md5 sample-gate path
    that fires at sf0.1. The persisted IVF-PQ index (build_ivfpq_index
    / query_ivfpq_index) keeps the float FAISS-style trainer (pq_train /
    pq_encode) for its on-disk codes, recall-pinned in unit tests."""
    from asvsp_spark.operators.similarity import pq_rerank_topk_int
    # shortlist=100: recall vs exact top-5 measured 0.62@50 / 0.86@100
    # on the fixture (the raw-L2 ADC metric vs the cosine rerank costs
    # a few points vs the float path's normalized 128-code ADC; the
    # shortlist is the cheap knob — its cost is constant in corpus size)
    return pq_rerank_topk_int(_t(spark, sf, "embeddings"), shortlist=100)


@register("join_fanout_report")
def _join_fanout_report(spark, sf):
    """Pre-join output-explosion diagnostics (operators/skew.py
    join_fanout_report): top-10 l_partkey keys by emitted rows for the
    lineitem self-join on part key — the classic fanout check before a
    same-part analysis; counts join counts, never raw rows."""
    from asvsp_spark.operators.skew import join_fanout_report
    li = _t(spark, sf, "lineitem")
    return join_fanout_report(li, li, "l_partkey")


@register("key_skew_report")
def _key_skew_report(spark, sf):
    """Join/group-key skew diagnostics over events.user_id: top-10
    hottest keys with row share, cumulative share and ratio to the
    median key — the pre-shuffle numbers that decide between a plain
    shuffle, AQE skew split, or salted_join/two_phase_agg. One
    corpus-scale map-side-combining groupBy; stats broadcast back onto
    the k survivors."""
    from asvsp_spark.operators.skew import key_skew_report
    return key_skew_report(_t(spark, sf, "events"), "user_id", top_k=10)


@register("distribution_drift_daily")
def _distribution_drift_daily(spark, sf):
    """Per-day event_type mix drift vs the full-period baseline
    (operators/drift.py): KL(day || baseline) + total variation
    distance — the data-quality gate before a day's partition enters
    the corpus."""
    from asvsp_spark.operators.drift import distribution_drift
    return distribution_drift(_t(spark, sf, "events"))


# ---- DSIR data selection (operators/relevance.py, Xie et al. 2023) ----

@register("dsir_weights")
def _dsir_weights(spark, sf):
    """Hashed-bigram importance weight of every document against the
    English-subset target model — DSIR's scoring stage, md5-bucket
    feature hashing so the whole statistic is oracle-checkable."""
    from asvsp_spark.operators.relevance import dsir_weights
    return dsir_weights(_t(spark, sf, "documents"))


@register("dsir_sample")
def _dsir_sample(spark, sf):
    """DSIR's selection stage: Gumbel-top-k resampling (40% quota) with
    deterministic md5-uniform Gumbel noise — the EXACT kept set is
    cross-engine reproducible."""
    from asvsp_spark.operators.relevance import dsir_resample
    return dsir_resample(_t(spark, sf, "documents"))


# ---- exact-substring spans + shard planning (new r5) ----

@register("dup_spans")
def _dup_spans(spark, sf):
    """Lee-et-al-style duplicate-substring removal plan: maximal spans
    of 8-token windows shared verbatim across >= 2 documents, merged
    per doc via gaps-and-islands — fully oracle-checkable."""
    from asvsp_spark.operators.dedup import dup_spans
    return dup_spans(_t(spark, sf, "documents"))


@register("dup_substring_runs")
def _dup_substring_runs(spark, sf):
    """Variable-length exact-substring dedup, occurrence view
    (operators/dedup.py dup_substring_runs): maximal strictly-
    consecutive runs of duplicated 8-token windows, occurrence-counted
    (within-doc repeats included), each run fingerprinted with the
    full md5 of its token text."""
    from asvsp_spark.operators.dedup import dup_substring_runs
    return dup_substring_runs(_t(spark, sf, "documents"))


@register("dup_substring_table")
def _dup_substring_table(spark, sf):
    """The duplicated-substring cluster table over the runs: aligned
    maximal duplicates grouped by full-text fingerprint (the
    verification pass), with doc and occurrence counts."""
    from asvsp_spark.operators.dedup import dup_substring_table
    return dup_substring_table(_t(spark, sf, "documents"))


@register("shard_assignments")
def _shard_assignments(spark, sf):
    """Deterministic global shuffle-and-shard plan (hash mode): shard
    and intra-shard position are pure md5 functions of the doc id, so
    the exact training-data layout is reproducible and auditable."""
    from asvsp_spark.operators.sharding import shard_assignments
    # pos_in_shard filter = count-pruning guard (see curriculum_shards)
    return shard_assignments(_t(spark, sf, "documents")) \
        .filter(F.col("pos_in_shard") >= 1)


@register("shard_manifest_lpt")
def _shard_manifest_lpt(spark, sf):
    """Token-balanced (LPT round-robin) shard manifest: the 16-row
    per-shard doc/token totals a data-loader config consumes."""
    from asvsp_spark.operators.sharding import shard_manifest
    return shard_manifest(_t(spark, sf, "documents"), by_tokens=True)


@register("dedup_spans_removed")
def _dedup_spans_removed(spark, sf):
    """dup_spans made actionable: the corpus with every duplicated
    8-token span stripped — full cleaned text hash-checked."""
    from asvsp_spark.operators.dedup import dup_spans, remove_dup_spans
    docs = _t(spark, sf, "documents")
    # reference the rebuilt text through a filter so bench's .count()
    # cannot prune the removal projection (the skew_join entries'
    # trick). coalesce: length(NULL) >= 0 is NULL, so the bare form
    # silently DROPPED NULL-text docs from the rewrite — against
    # remove_dup_spans' one-row-per-input contract (r10 NULL probe)
    return (remove_dup_spans(docs, dup_spans(docs))
            .filter(F.coalesce(F.length("text"), F.lit(0)) >= 0))


@register("dedup_substring_removed")
def _dedup_substring_removed(spark, sf):
    """Keep-one-occurrence substring dedup APPLIED (pipeline stage 2d,
    new r8): the corpus with every non-canonical duplicated run of
    >= 8 tokens stripped — remove_dup_substring_runs over the
    dup_substring_runs report, full cleaned text hash-checked."""
    from asvsp_spark.operators.dedup import (dup_substring_runs,
                                             remove_dup_substring_runs)
    docs = _t(spark, sf, "documents")
    # the filter keeps the rebuilt-text projection visible to bench's
    # .count() (the dedup_spans_removed trick, NULL-safe form)
    return (remove_dup_substring_runs(docs, dup_substring_runs(docs))
            .filter(F.coalesce(F.length("text"), F.lit(0)) >= 0))


@register("token_budget_stats")
def _token_budget_stats(spark, sf):
    """Whitespace vs BPE-ish pre-token counts per doc — the cheap
    token-budget estimator (GPT-2 pre-tokenizer classes, lower bound
    on a trained tokenizer's count)."""
    from asvsp_spark.functions.text import subword_token_count, token_count
    docs = _t(spark, sf, "documents")
    n_sub = subword_token_count(F.col("text"))
    n_ws = token_count(F.col("text"))
    return (docs.select(
        "doc_id",
        n_ws.cast("int").alias("n_ws_tokens"),
        n_sub.cast("int").alias("n_subword_tokens"),
        round_fixed(n_sub / n_ws, 6).alias("subword_per_ws"))
        # keep the regexp work visible to bench's .count() (no pruning);
        # coalesce so a NULL-text doc's NULL count is KEPT, not dropped
        # (the bare >= 0 silently ate the row — r10 edge probe)
        .filter(F.coalesce(F.col("n_subword_tokens"), F.lit(0)) >= 0))


@register("pmi_collocations")
def _pmi_collocations(spark, sf):
    """Top-50 adjacent-token collocations by PMI (Church & Hanks 1990)
    with a min-count-5 noise guard — vocabulary-keyed shuffles only."""
    from asvsp_spark.operators.relevance import pmi_collocations
    return pmi_collocations(_t(spark, sf, "documents"))


@register("data_quality_report")
def _data_quality_report(spark, sf):
    """Deequ-style declarative contract suite (operators/validate.py)
    over four tables: completeness, key uniqueness, value domains,
    ranges, row-count floor and two referential-integrity checks —
    every scan check rides ONE aggregate per table; the FK checks
    left-join child keys against distinct parent keys (AQE broadcast).
    All metrics are exact count ratios, so the whole report is
    oracle-checkable."""
    from asvsp_spark.operators.validate import check_suite
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    lineitem = _t(spark, sf, "lineitem")
    documents = _t(spark, sf, "documents")
    events = _t(spark, sf, "events")
    rep = check_suite(orders, "orders", [
        {"check": "not_null", "column": "o_custkey"},
        {"check": "unique", "column": "o_orderkey"},
        {"check": "in_set", "column": "o_orderstatus",
         "allowed": ["O", "F", "P"]},
        {"check": "in_range", "column": "o_totalprice",
         "lo": 0.0, "hi": 10000000.0},
        {"check": "min_rows", "threshold": 1},
        {"check": "foreign_key", "column": "o_custkey",
         "ref": customer, "ref_column": "c_custkey"},
    ]).unionByName(check_suite(lineitem, "lineitem", [
        {"check": "in_range", "column": "l_quantity",
         "lo": 1.0, "hi": 50.0},
        {"check": "in_set", "column": "l_returnflag",
         "allowed": ["A", "N", "R"]},
        {"check": "foreign_key", "column": "l_orderkey",
         "ref": orders, "ref_column": "o_orderkey"},
    ])).unionByName(check_suite(documents, "documents", [
        {"check": "unique", "column": "doc_id"},
        {"check": "matches", "column": "lang",
         "pattern": "^[a-z]{2}$"},
        {"check": "not_null", "column": "text"},
    ])).unionByName(check_suite(events, "events", [
        {"check": "not_null", "column": "user_id"},
        {"check": "in_set", "column": "event_type",
         "allowed": ["click", "signup", "error", "view", "purchase"]},
    ]))
    return rep.orderBy("table", "check")


@register("quality_classifier_scores")
def _quality_classifier_scores(spark, sf):
    """Model-based quality filtering (operators/classify.py — the
    GPT-3/RefinedWeb linear-classifier gate): bootstrap labels from the
    per-language heuristic extremes, train an exact-integer smoothed
    odds-ratio linear model (the NBSVM Naive-Bayes weighting, Wang &
    Manning 2012) over a bounded top-k unigram+bigram vocabulary, then
    score EVERY document with the broadcast weight table — one corpus
    scan, row-local, JVM-side. Oracle-paired since r9 (previously
    rows-only on mllib L-BFGS floats): labels, vocabulary, weights and
    scores are all integer or engine-stable-rounded, so the DuckDB
    twin replays training AND scoring bit-identically. The mllib
    HashingTF+LogisticRegression path (train_quality_classifier /
    score_quality) remains the library API for true L-BFGS fits,
    pinned in tests/test_classify.py."""
    from asvsp_spark.operators.classify import nb_quality_scores
    docs = _t(spark, sf, "documents")
    return nb_quality_scores(docs).orderBy("doc_id")


@register("ivfpq_rerank_topk")
def _ivfpq_rerank_topk(spark, sf):
    """The full FAISS-IVFPQ shape (similarity.py ivfpq_rerank_topk_int):
    trained coarse cells prune the corpus (the inverted file), ADC over
    ONLY the probed cells' 8-byte codes shortlists, exact cosine
    reranks. Oracle-paired since r8 (previously rows-only on the float
    persisted index): BOTH quantizers are the exact-integer
    farthest-point + Lloyd training (ivf_centroids_int per-space /
    pq_codebooks_int per-subspace, raw non-residual codes matching the
    float index layout), so the DuckDB twin replays the two trainings,
    the probe ranking, the pruned exact-BIGINT ADC scan and the rerank
    bit-identically at every SF. The persisted-parquet float index
    (build_ivfpq_index / query_ivfpq_index — partition pruning as the
    inverted file) remains the library API, exactness- and
    recall-pinned in tests/test_ivfpq.py."""
    from asvsp_spark.operators.similarity import ivfpq_rerank_topk_int
    return ivfpq_rerank_topk_int(_t(spark, sf, "embeddings"))


@register("paragraph_dedup_docs")
def _paragraph_dedup_docs(spark, sf):
    """CCNet/RefinedWeb-style paragraph-level exact dedup with document
    rebuild (operators/dedup.py paragraph_dedup): corpus-wide keep-first
    on segment hash, partial-aggregatable argmin (no hot-hash skew), and
    per-doc reassembly. The synthetic corpus has no newlines, so the
    registered demo segments on the stopword ' the ' — the operator's
    default delimiter is the production '\\n{2,}' paragraph break; the
    segmentation regex is a parameter, the dedup semantics are not."""
    return D.paragraph_dedup(_t(spark, sf, "documents"),
                             delimiter=r"[ \t\n\f\r]+the[ \t\n\f\r]+", joiner="\n\n")


@register("boundary_overlap_pairs")
def _boundary_overlap_pairs(spark, sf):
    """Crawl-stitching detection (operators/dedup.py
    boundary_overlap_pairs): ordered pairs where one document's last-3
    tokens equal another's first-3, df-capped on both sides before the
    join so boilerplate boundaries never fan out quadratically."""
    return D.boundary_overlap_pairs(_t(spark, sf, "documents"),
                                    k=3, max_df=64)


@register("line_dedup_docs")
def _line_dedup_docs(spark, sf):
    """Within-document duplicate-line removal (operators/dedup.py
    line_dedup_docs, the RefinedWeb line-wise cleanup) — keep-first per
    doc at scan speed; the explicit-whitespace-class '…the…' delimiter
    segments the newline-free fixture corpus, same convention as the
    paragraph entries (the oracle writes it as RE2 '\\s+the\\s+' —
    identical semantics; see functions/text.py tokens())."""
    from asvsp_spark.operators.dedup import line_dedup_docs
    return line_dedup_docs(_t(spark, sf, "documents"),
                           delimiter=r"[ \t\n\f\r]+the[ \t\n\f\r]+", joiner="\n")


@register("incremental_substring_runs")
def _incremental_substring_runs(spark, sf):
    """Two-phase incremental substring dedup over a fresh window-count
    store (operators/dedup.py incremental_dup_substring): phase 1
    (even doc_ids) bootstraps the store, phase 2 (odd ids) detects
    duplicated runs against store + its own counts. Output = the odd
    delta's runs table, which DuckDB reproduces with window-count set
    algebra over the same even/odd split."""
    import os
    import shutil
    import tempfile
    from asvsp_spark.operators.dedup import incremental_dup_substring
    docs = _t(spark, sf, "documents")
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"asvsp-incrsub-{spark.sparkContext.applicationId}")
    shutil.rmtree(scratch, ignore_errors=True)
    store = scratch + "/wins"
    incremental_dup_substring(
        spark, docs.filter(F.col("doc_id") % 2 == 0), store,
        batch_id="phase1")
    runs, _ = incremental_dup_substring(
        spark, docs.filter(F.col("doc_id") % 2 == 1), store,
        batch_id="phase2")
    return runs


@register("incremental_paragraph_report")
def _incremental_paragraph_report(spark, sf):
    """Two-phase incremental paragraph dedup over a fresh segment-hash
    store: phase 1 (even doc_ids) bootstraps, phase 2 (odd ids) strips
    every segment phase 1 kept. Output = the per-phase segment funnel,
    which DuckDB reproduces with segment-hash set algebra — the
    driver-checkable contract for the stateful boilerplate-strip path.
    Same eager-execution + per-application-scratch caveats as
    incremental_dedup_report."""
    import os
    import shutil
    import tempfile
    from asvsp_spark.operators.dedup import incremental_paragraph_dedup
    docs = _t(spark, sf, "documents")
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"asvsp-incrpara-{spark.sparkContext.applicationId}")
    shutil.rmtree(scratch, ignore_errors=True)
    store = scratch + "/seg"
    out = []
    for phase, batch in (
            (1, docs.filter(F.col("doc_id") % 2 == 0)),
            (2, docs.filter(F.col("doc_id") % 2 == 1))):
        _docs, c = incremental_paragraph_dedup(
            spark, batch, store, delimiter=r"[ \t\n\f\r]+the[ \t\n\f\r]+",
            batch_id=f"phase{phase}")
        out.append((phase, c["n_segments"], c["within_batch_repeats"],
                    c["known_segments"], c["fresh_segments"]))
    return spark.createDataFrame(
        out, "phase int, n_segments long, within_batch_repeats long, "
             "known_segments long, fresh_segments long")


@register("vocab_coverage")
def _vocab_coverage(spark, sf):
    """Tokenizer-design coverage curve (operators/vocab.py
    vocab_coverage): minimal frequency-ranked vocab size covering 50/90/
    95/99% of token occurrences, exact integer cutoff math."""
    from asvsp_spark.operators.vocab import vocab_coverage
    return vocab_coverage(_t(spark, sf, "documents"))


@register("corpus_datacard")
def _corpus_datacard(spark, sf):
    """One-scan dataset-card table per (source, lang): volumes, exact
    length percentiles, fingerprint dup rate, canonical quality score
    (operators/grouping.py corpus_datacard)."""
    from asvsp_spark.operators.grouping import corpus_datacard
    return corpus_datacard(_t(spark, sf, "documents"))


@register("jl_projection")
def _jl_projection(spark, sf):
    """Johnson-Lindenstrauss Rademacher projection 64 -> 16 dims
    (operators/similarity.py jl_project): md5-derived sign matrix
    regenerated at plan-build time, zero shuffles, whole-stage codegen.
    Restricted to vec_id < 100 so the oracle compare stays cheap; the
    transform itself is one narrow projection at any scale."""
    from asvsp_spark.operators.similarity import jl_project
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
    jl = jl_project(emb, in_dim=64, out_dim=16)
    # the driver's pandas canonicalizer cannot sort array columns —
    # serialize the projection as comma-joined integer micro-units
    # (components are 6dp-rounded, so x*1e6 is integer-valued and the
    # string form is engine-independent)
    return jl.select(
        "vec_id",
        F.concat_ws(",", F.transform(
            F.col("proj"),
            lambda x: F.round(x * 1e6, 0).cast("long").cast("string")))
        .alias("proj_u"))


@register("minhash_calibration")
def _minhash_calibration(spark, sf):
    """Estimator calibration ON the corpus (operators/dedup.py
    minhash_calibration): signature-agreement estimate vs exact shingle
    Jaccard per LSH candidate pair, by exact-Jaccard decile — the
    operational 'how many hashes do I need' table."""
    return D.minhash_calibration(_t(spark, sf, "documents"))


@register("gapfill_hourly_values")
def _gapfill_hourly_values(spark, sf):
    """Timescale-style hourly gap-fill with LOCF over the events table
    (operators/asof.py gapfill_hourly): dense per-type hour spine,
    exact-cents averages, last-observation-carried-forward."""
    from asvsp_spark.operators.asof import gapfill_hourly
    return gapfill_hourly(_t(spark, sf, "events"))


@register("gapfill_hourly_interp")
def _gapfill_hourly_interp(spark, sf):
    """Linear-interpolation variant of the hourly gap-fill (Timescale
    interpolate(): blend between the straddling observations, NULL
    outside each group's observed range)."""
    from asvsp_spark.operators.asof import gapfill_hourly
    return gapfill_hourly(_t(spark, sf, "events"), fill="interpolate")


@register("stitch_report")
def _stitch_report(spark, sf):
    """Crawl-stitching apply-side (operators/dedup.py stitch_documents):
    unambiguous continuation chains reassembled in order with each
    fragment's 3-token overlap dropped."""
    return D.stitch_documents(_t(spark, sf, "documents"), k=3, max_df=64)


@register("gapfill_daily_values")
def _gapfill_daily_values(spark, sf):
    """Day-grain gap-fill with LOCF — pins the grain parameter
    cross-engine (hour entries pin the fills; this pins the bucket
    arithmetic at a calendar grain)."""
    from asvsp_spark.operators.asof import gapfill
    return gapfill(_t(spark, sf, "events"), grain="day")


@register("gapfill_weekly_values")
def _gapfill_weekly_values(spark, sf):
    """Week-grain gap-fill with LOCF (new r8) — pins ISO-week
    bucketing cross-engine: date_trunc('week') truncates to MONDAY in
    both engines, and the spine steps in 7-day intervals from the
    corpus-min week. Exactly the calendar-landmine class the day grain
    tripped on DST in r6."""
    from asvsp_spark.operators.asof import gapfill
    return gapfill(_t(spark, sf, "events"), grain="week")
