"""SQ1-SQ5: the engine's five streaming analytics, mirroring the
reference's five Kafka consumers (SURVEY §2.11) over the driver's events
stream. Entity mapping: state/city -> event_type/user_id, pollutant
concentration -> value, PM25 baselines -> event-type baselines.

| Engine | Reference | Shape |
|---|---|---|
| sq1 | consumer1.py:64-90  | 1h tumbling avg + stream-static baseline join, pct-of-baseline |
| sq2 | consumer2.py:50-125 | 3h/1h sliding pivot, dominant type (greatest), lag trend |
| sq3 | consumer3.py:53-80  | 1h tumbling per user + JSON props decode, dense_rank top-5 |
| sq4 | consumer4.py:76-173 | dual-stream split, window join, score + baseline 5-way status |
| sq5 | consumer5.py:51-105 | current rank vs historical baseline rank, anomaly flag |

Every aggregate runs in exact integer centi-units (see operators/rollups.py)
so results are bit-identical across engines and shuffle orders; each query
has a DuckDB oracle (plans/oracle_stream.py) built on hour-bucket window
equivalence: a tumbling 1h window is date_trunc('hour', ts); a 3h/1h
sliding window membership is the 3 starts {trunc(ts)-2h, trunc(ts)-1h,
trunc(ts)}.

Single-batch semantics: with trigger(availableNow) over one input file the
whole history is one micro-batch, so foreachBatch lag/rank see full
history — exactly the reference's trigger(once) behavior (SURVEY W13/W15,
§3.3). In continuous mode the ranks/lags become per-batch (documented
divergence, same as the reference would have).

Scale notes: streaming state is bounded — (window x 5 types) for sq1/2/5,
(window x users-active-per-hour) for sq3 — and the 2h watermark expires
old windows. The static baseline side is tiny (types x month x hour x 2)
and explicitly broadcast, so the stream side never shuffles for the join.
"""

from __future__ import annotations

import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from asvsp_spark import tables
from asvsp_spark.functions.text import tokens
from asvsp_spark.operators.rollups import baselines, centi_avg, value_centi
from asvsp_spark.plans.base import round_fixed
from asvsp_spark.streaming.source import (WATERMARK, copy_documents_tagged,
                                          copy_events_at,
                                          copy_events_normalized,
                                          copy_events_split,
                                          docs_stream_reader, drain,
                                          drain_to_parquet,
                                          drain_with_late_audit,
                                          events_stream,
                                          events_stream_reader,
                                          write_doc_rows,
                                          write_event_rows)
from asvsp_spark.streaming.stateful import hourly_trend_stateful

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ENGAGEMENT_TYPES = ("click", "view")
CONVERSION_TYPES = ("purchase", "signup")


def _fmt_window_start(col_name: str = "window.start") -> F.Column:
    # string projection: avoids timestamp repr drift between engines
    return F.date_format(col_name, "yyyy-MM-dd HH:mm:ss").alias("window_start")


def _static_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static join side, snapshot semantics like the reference's cached
    baselines (consumer1.py:50-62). Broadcast: bounded cardinality."""
    return F.broadcast(baselines(tables.load(spark, sf_dir, "events")))


# ---------------------------------------------------------------- SQ1

def sq1_vs_baseline(spark: SparkSession, sf_dir: str,
                    stream: DataFrame | None = None) -> DataFrame:
    """Current hourly avg per event_type vs historical baseline
    (reference consumer1.py:64-90): tumbling 1h windowed agg (A9/T2),
    stream-static LEFT join on the 4-part key (J4/T7), pct-of-baseline.

    ``stream`` plugs in any watermarked events source (e.g.
    ``kafka_stream``) in place of the file replay — the transforms are
    source-agnostic, pinned by the Kafka wire round-trip test.
    """
    if stream is None:
        stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"),
             F.count(F.lit(1)).alias("n_events"))
    )
    base = _static_baselines(spark, sf_dir)
    joined = (
        agg
        .withColumn("hr", F.hour("window.start"))
        .withColumn("mon", F.month("window.start"))
        .withColumn("is_weekend",
                    F.dayofweek(F.to_date("window.start")).isin(1, 7))
        .join(base, ["event_type", "mon", "hr", "is_weekend"], "left")
        .withColumn("avg_value", centi_avg(F.col("v_sum"), F.col("n_events")))
        .withColumn("pct_of_baseline",
                    round_fixed(F.col("avg_value") / F.col("baseline_avg") * 100.0, 2))
    )
    result = joined.select(
        _fmt_window_start(), "event_type", "n_events", "avg_value",
        "baseline_avg", "pct_of_baseline",
    )
    return drain(result, spark)


# ---------------------------------------------------------------- SQ2

def sq2_dominant_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant event type + rising/falling trend per 3h sliding window
    (reference consumer2.py:50-125): sliding 3h/1h window (A10/T3),
    per-type pivot averages, `greatest` dominance (P11), lag-based trend
    (W15) inside foreachBatch.
    """
    stream = events_stream(spark, sf_dir)
    per_type_sums = [
        F.sum(F.when(F.col("event_type") == t, value_centi(F.col("value"))))
        .alias(f"s_{t}")
        for t in EVENT_TYPES
    ]
    per_type_counts = [
        F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    agg = (
        stream
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("window"))
        .agg(F.sum(value_centi(F.col("value"))).alias("s_all"),
             F.count(F.lit(1)).alias("n_all"),
             *per_type_sums, *per_type_counts)
    )

    def finish(batch: DataFrame) -> DataFrame:
        d = batch
        for t in EVENT_TYPES:
            d = d.withColumn(
                f"avg_{t}",
                F.when(F.col(f"n_{t}") > 0,
                       centi_avg(F.col(f"s_{t}"), F.col(f"n_{t}"))))
        # dominance compares exact 2-decimal doubles; coalesce(-1) keeps
        # greatest/tie logic identical when a type is absent in the window
        best = F.greatest(*[F.coalesce(F.col(f"avg_{t}"), F.lit(-1.0))
                            for t in EVENT_TYPES])
        dominant = F.lit(None).cast("string")
        for t in reversed(EVENT_TYPES):  # earlier types win ties
            dominant = F.when(
                F.coalesce(F.col(f"avg_{t}"), F.lit(-1.0)) == best,
                F.lit(t)).otherwise(dominant)
        d = (
            d
            .withColumn("overall_avg", centi_avg(F.col("s_all"), F.col("n_all")))
            .withColumn("dominant_type", dominant)
            .withColumn("dominant_avg", best)
        )
        w = Window.orderBy("window")
        prev = F.lag("overall_avg").over(w)
        trend = (
            F.when(prev.isNull(), "unknown")
            .when(F.col("overall_avg") > prev * 1.1, "rising")
            .when(F.col("overall_avg") < prev * 0.9, "falling")
            .otherwise("stable")
        )
        return d.select(
            _fmt_window_start(), "n_all", "overall_avg",
            *[F.col(f"avg_{t}") for t in EVENT_TYPES],
            "dominant_type", "dominant_avg", trend.alias("trend"),
        )

    return drain(agg, spark, batch_transform=finish)


# ---------------------------------------------------------------- SQ2c

def sq2c_stateful_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-mode variant of sq2's trend (SURVEY §7.3 'trigger-once
    equivalence' option): the lag state crosses micro-batch boundaries via
    applyInPandasWithState (streaming/stateful.py), so the labels stay
    correct when the stream runs incrementally instead of as one drain.

    Harness: replay the events table as TWO micro-batches — the full
    history, then a watermark-advancing sentinel row per key 30 days in
    the future — so every real hourly window closes and flushes in batch 2
    while its state provably crossed a batch boundary. Windows inside the
    final 2h watermark horizon stay open (exactly Spark's built-in window
    retention), and the sentinel windows never close, so neither appears
    in the output. On a cluster the same operator attaches to the Kafka
    source unchanged and emits each hour as the watermark passes it.
    """
    events = tables.load(spark, sf_dir, "events")
    mx_us = events.agg(F.max(F.unix_micros("ts")).alias("mx")).first()["mx"]
    sent_us = mx_us + 30 * 24 * 3600 * 1_000_000

    # flat 2-file stream dir; mtimes force file order (the file source
    # processes oldest-first), no wall-clock sleeps needed. Both files are
    # staged driver-side with pyarrow in the normalized us-utc flavor
    # (a Spark write job would cost more than the whole stateful drain).
    # drain() collects the rows, so the staged copy is removed after it.
    with tempfile.TemporaryDirectory(prefix="asvsp-sq2c-") as tmp:
        now = time.time()
        copy_events_normalized(f"{sf_dir}/events.parquet",
                               f"{tmp}/f0.parquet", mtime=now - 100)
        write_event_rows(
            f"{tmp}/f1.parquet",
            [(10**12 + i, sent_us, 0, t, 0.0, "{}")
             for i, t in enumerate(EVENT_TYPES)],
            mtime=now - 50)

        raw = events_stream_reader(spark, tmp, max_files_per_trigger=1)
        stream = raw.withWatermark("ts", "2 hours")
        return drain(hourly_trend_stateful(stream), spark)


# ---------------------------------------------------------------- SQ3

def sq3_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users by avg value per hour (reference consumer3.py:53-80):
    1h tumbling per-user agg, JSON props decode (S9 analogue — from_json
    with a fixed schema), dense_rank <= 5 per window in foreachBatch (W13).
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .withColumn("k", F.from_json("props", "k INT").getField("k"))
        .groupBy(F.window("ts", "1 hour").alias("window"), "user_id")
        .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum("k").alias("k_sum"))
    )

    def finish(batch: DataFrame) -> DataFrame:
        d = (
            batch
            .withColumn("avg_value", centi_avg(F.col("v_sum"), F.col("n_events")))
            .withColumn("avg_k", round_fixed(F.col("k_sum") / F.col("n_events"), 4))
        )
        # rank on the exact centi ordering key (v_sum/n ties resolve
        # identically in both engines on exact longs)
        w = Window.partitionBy("window").orderBy(
            F.desc(F.round(F.col("v_sum") / F.col("n_events"), 0)))
        return (
            d.withColumn("rnk", F.dense_rank().over(w))
            .filter(F.col("rnk") <= 5)
            .select(_fmt_window_start(), "user_id", "n_events",
                    "avg_value", "avg_k", "rnk")
        )

    return drain(agg, spark, batch_transform=finish)


# ---------------------------------------------------------------- SQ4

def sq4_engagement_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement x conversion interplay vs baseline (reference
    consumer4.py:76-173): the raw stream passes through append-mode (T4)
    and ALL analytics happen per micro-batch — dual-stream split on a
    type column (S8 analogue), two windowed aggs, inner window join (J6),
    LEFT baseline join (J7), interaction score + 5-way status (P6).
    """
    stream = events_stream(spark, sf_dir)
    base = _static_baselines(spark, sf_dir).filter(
        F.col("event_type") == "purchase")

    def finish(batch: DataFrame) -> DataFrame:
        def windowed_avg(df: DataFrame, label: str) -> DataFrame:
            return (
                df.groupBy(F.window("ts", "1 hour").alias("window"))
                .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"),
                     F.count(F.lit(1)).alias("n"))
                .select("window",
                        centi_avg(F.col("v_sum"), F.col("n")).alias(f"{label}_avg"),
                        F.col("n").alias(f"n_{label}"))
            )

        eng = windowed_avg(
            batch.filter(F.col("event_type").isin(*ENGAGEMENT_TYPES)), "eng")
        conv = windowed_avg(
            batch.filter(F.col("event_type").isin(*CONVERSION_TYPES)), "conv")
        joined = (
            eng.join(conv, "window")
            .withColumn("hr", F.hour("window.start"))
            .withColumn("mon", F.month("window.start"))
            .withColumn("is_weekend",
                        F.dayofweek(F.to_date("window.start")).isin(1, 7))
            .join(base.drop("event_type"),
                  ["mon", "hr", "is_weekend"], "left")
            .withColumn("interaction_score",
                        round_fixed(F.col("eng_avg") * F.col("conv_avg") / 100.0, 4))
            .withColumn("conv_vs_baseline",
                        round_fixed(F.col("conv_avg") / F.col("baseline_avg"), 4))
        )
        status = (
            F.when(F.col("baseline_avg").isNull(), "no_baseline")
            .when(F.col("conv_vs_baseline") > 1.5, "surge")
            .when(F.col("conv_vs_baseline") > 1.1, "elevated")
            .when(F.col("conv_vs_baseline") >= 0.9, "normal")
            .otherwise("quiet")
        )
        return joined.select(
            _fmt_window_start(), "eng_avg", "n_eng", "conv_avg", "n_conv",
            "baseline_avg", "interaction_score", "conv_vs_baseline",
            status.alias("status"),
        )

    return drain(stream, spark, batch_transform=finish, output_mode="append")


# ---------------------------------------------------------------- SQ6

def sq6_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join — the operator the reference
    FAKES with a per-batch join inside foreachBatch (consumer4.py:118-124;
    SURVEY §2.8 'Absent': stream-stream joins). Here it is the real thing:
    each conversion (purchase/signup) is attributed to every engagement
    event (click/view) by the same user within the preceding hour, joined
    ON THE LIVE STREAMS with a time-range condition.

    Scale notes: the equality key (user_id) partitions both join-state
    stores; the range condition plus both sides' 2h watermarks bound
    retained state to ~3h of events per side (Spark derives the state
    eviction from the `conv_ts BETWEEN eng_ts AND eng_ts + 1h` constraint),
    so state is O(hourly rate), not O(history). Inner stream-stream joins
    emit in append mode only.
    """
    eng = (
        events_stream(spark, sf_dir, watermark=None)
        .filter(F.col("event_type").isin(*ENGAGEMENT_TYPES))
        .select(F.col("event_id").alias("eng_event_id"),
                F.col("user_id").alias("eng_user"),
                F.col("ts").alias("eng_ts"),
                F.col("event_type").alias("eng_type"))
        .withWatermark("eng_ts", WATERMARK)
    )
    conv = (
        events_stream(spark, sf_dir, watermark=None)
        .filter(F.col("event_type").isin(*CONVERSION_TYPES))
        .select(F.col("event_id").alias("conv_event_id"),
                F.col("user_id").alias("conv_user"),
                F.col("ts").alias("conv_ts"),
                F.col("event_type").alias("conv_type"),
                value_centi(F.col("value")).alias("conv_centi"))
        .withWatermark("conv_ts", WATERMARK)
    )
    joined = conv.join(
        eng,
        (F.col("eng_user") == F.col("conv_user"))
        & (F.col("conv_ts") >= F.col("eng_ts"))
        & (F.col("conv_ts") <= F.col("eng_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    result = joined.select(
        F.col("conv_event_id"), F.col("eng_event_id"),
        F.col("conv_user").alias("user_id"),
        F.col("conv_type"), F.col("eng_type"),
        F.date_format("conv_ts", "yyyy-MM-dd HH:mm:ss").alias("conv_time"),
        (F.unix_micros(F.col("conv_ts"))
         - F.unix_micros(F.col("eng_ts"))).alias("lag_micros"),
        (F.col("conv_centi") / 100.0).alias("conv_value"),
    )
    # row-level output -> production parquet sink (partitioned by
    # conversion day, overwrite-by-partition idempotency), NOT the
    # driver-collecting drain: this join emits O(events) rows, and the
    # read-back below is the only batch materialization.
    # files_per_partition: without it each of the join's shuffle tasks
    # writes its own file into every conv_day dir it touches (~8 x 31
    # files + commits per drain); one file per day is the right local
    # AND cluster shape for this row count.
    sunk = drain_to_parquet(
        result.withColumn("conv_day", F.substring("conv_time", 1, 10)),
        spark, partition_by=["conv_day"], output_mode="append",
        files_per_partition=True)
    return sunk.select(
        "conv_event_id", "eng_event_id", "user_id", "conv_type",
        "eng_type", "conv_time", "lag_micros", "conv_value")


# ---------------------------------------------------------------- SQ7

def sq7_dedup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication — `dropDuplicates` keyed by event_id
    with dedup state crossing micro-batch boundaries (SURVEY §2.8
    'Absent': dropDuplicates/dedup). The at-least-once ingestion problem:
    a replayed/duplicated feed must not double-count.

    Harness: the events file is fed TWICE as two micro-batches
    (maxFilesPerTrigger=1, mtime-ordered like sq2c) — batch 2 is 100%
    duplicates and must change nothing. That only holds if the dedup
    state store carries batch 1's keys into batch 2; without it every
    hourly count would double and each changed group would re-emit. The
    output is the per-hour event count + average AFTER dedup (distinct
    aggregates are unsupported on live streams — SURVEY §2.4 'Absent'
    holds for streaming; batch distinct lives in distinct_users_daily).

    Scale notes: dedup state is one entry per key seen — the exact path
    (state grows with distinct keys; keyed by event_id it is the Bloom-
    free at-least-once -> exactly-once repair). For bounded state at
    100TB use dropDuplicatesWithinWatermark (keys older than the
    watermark horizon are evicted, trading unbounded history dedup for
    O(watermark-window) state); the aggregation below is identical.
    """
    # drain() collects the rows, so the staged copies are removed after it
    with tempfile.TemporaryDirectory(prefix="asvsp-sq7-") as tmp:
        now = time.time()
        for i in (0, 1):
            copy_events_normalized(f"{sf_dir}/events.parquet",
                                   f"{tmp}/f{i}.parquet",
                                   mtime=now - 100 + i)

        stream = events_stream_reader(spark, tmp, max_files_per_trigger=1)
        # project to the three consumed columns BEFORE the dedup exchange
        # (guide §2.3: shuffle fewer bytes): the state-store shuffle and
        # in-batch sort otherwise move every event column (props
        # included) only for all but (event_id, ts, value) to be dropped
        # by the agg. Duplicate rows here are exact replays, so the kept
        # copy's projection is identical whichever copy wins.
        deduped = (stream.select("event_id", "ts", "value")
                   .dropDuplicates(["event_id"]))
        agg = (
            deduped
            .groupBy(F.window("ts", "1 hour").alias("window"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(value_centi(F.col("value"))).alias("v_sum"))
        )
        result = agg.select(
            _fmt_window_start(), "n_events",
            centi_avg(F.col("v_sum"), F.col("n_events")).alias("avg_value"))
        return drain(result, spark)


def sq7b_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup — ``dropDuplicatesWithinWatermark``,
    the 100TB companion to sq7's unbounded ``dropDuplicates``: dedup
    state is EVICTED once the watermark passes a key's event time + the
    2h delay, so state is O(watermark window), not O(all keys ever).

    Harness proves the eviction semantics across three micro-batches
    (maxFilesPerTrigger=1, mtime-ordered):
      1. the full events table (max event time = mx);
      2. one future sentinel row (id -1, ts = mx+8h) — advances the
         watermark and, at its commit, evicts state for keys whose
         (event time + 2h) fell behind the batch-2 watermark mx-2h,
         i.e. every event older than mx-4h;
      3. EVERY event replayed once at ts = mx+7h — replays of evicted
         keys (ts < mx-4h) sail through and RE-EMIT; replays of keys
         whose state survived (ts >= mx-4h) are still suppressed.
    Eviction is lazy — applied at each batch COMMIT with that batch's
    watermark, never at lookup — so batch 3 sees exactly batch 2's
    eviction horizon. That lag is deterministic, which is what makes
    this oracle-checkable: output = events + sentinel + one replay of
    each pre-(mx-4h) event at mx+7h, aggregated per hour with an id-sum
    checksum.

    Scale notes: state per key is (key, expiry) and the eviction bound
    makes total state O(input rate x watermark window) — the at-least-
    once repair that survives unbounded key cardinality. The per-batch
    aggregation keeps the drain driver-light (hourly rows only).
    """
    ev = tables.load(spark, sf_dir, "events")
    # harness bound: one scalar to position the sentinel/replay batches
    mx_us = ev.agg(F.max(F.unix_micros("ts")).alias("mx")).first()["mx"]
    hour_us = 3600 * 1_000_000

    def per_batch(df: DataFrame) -> DataFrame:
        return (df.groupBy(F.date_trunc("hour", "ts").alias("hr"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("event_id").alias("ids")))

    # drain() collects the rows, so the staged copies are removed after it
    with tempfile.TemporaryDirectory(prefix="asvsp-sq7b-") as tmp:
        now = time.time()
        src = f"{sf_dir}/events.parquet"
        copy_events_normalized(src, f"{tmp}/f0.parquet", mtime=now - 100)
        write_event_rows(f"{tmp}/f1.parquet",
                         [(-1, mx_us + 8 * hour_us, 0, "view", 0.0, "{}")],
                         mtime=now - 99)
        copy_events_at(src, f"{tmp}/f2.parquet", mx_us + 7 * hour_us,
                       mtime=now - 98)

        raw = events_stream_reader(spark, tmp, max_files_per_trigger=1)
        # project to the two consumed columns BEFORE the dedup exchange
        # (guide §2.3): the rollup below reads only (event_id, ts), so
        # shipping props/value/user through the state-store shuffle was
        # pure shuffle weight. Replays are exact row copies, so the kept
        # copy's projection is identical whichever copy wins.
        deduped = (
            raw.select("event_id", "ts")
            .withWatermark("ts", WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        out = drain(deduped, spark, batch_transform=per_batch,
                    output_mode="append")
    return (
        out.groupBy("hr")
        .agg(F.sum("n").alias("n_events"), F.sum("ids").alias("id_sum"))
        .select(F.date_format("hr", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "n_events", "id_sum")
    )


# ---------------------------------------------------------------- SQ8

def sq8_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization — the same `user_sessions` transform
    (operators/sessions.py) attached to the live watermarked stream:
    `F.session_window` merges events into per-user sessions incrementally,
    with session state evicted once the watermark passes a session's end
    (SURVEY §2.8 'Absent': session windows — the reference has none).

    One transform, two execution modes: the batch registry entry
    (sessionize_users) and this drain run the IDENTICAL function — the
    batch/streaming unification Structured Streaming promises. Streaming
    session aggs emit in APPEND mode only (a session is final once the
    watermark passes its end), so the output is the batch result minus
    sessions ending inside the final 2h watermark horizon — the oracle
    applies exactly that HAVING filter (same emission rule as sq2c).

    Output cardinality is per-(user, session) — the one UNBOUNDED key
    in the SQ suite — so unlike sq1-5's (window x type) aggregates it
    must never collect through the driver: rows land in a manifest
    parquet sink (a session for any given user can flush in any
    micro-batch as the watermark advances, so no batch owns a
    partition) and the returned frame reads the sink, same contract as
    sq6b.
    """
    from asvsp_spark.operators.sessions import user_sessions
    # per-user session state is high-cardinality (unlike the window x
    # type state of sq1-5), so more state-store partitions win: measured
    # 16 > 8 > 32 at sf0.1 local[32]
    return drain_to_parquet(
        user_sessions(events_stream(spark, sf_dir)), spark,
        partition_by=[], sink="append_manifest",
        output_mode="append", shuffle_partitions=16)


# ---------------------------------------------------------------- SQ5

def sq5_rank_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type rank anomaly vs historical rank (reference
    consumer5.py:51-105): 1h tumbling avg per type, current dense_rank
    per window (W13) vs dense_rank over static baselines per
    (hr, mon, is_weekend) (W14), |displacement| flag (P12).
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"),
             F.count(F.lit(1)).alias("n_events"))
    )
    base = _static_baselines(spark, sf_dir)
    w_hist = Window.partitionBy("mon", "hr", "is_weekend").orderBy(
        F.desc("baseline_avg"))
    hist = base.select(
        "event_type", "mon", "hr", "is_weekend",
        F.dense_rank().over(w_hist).alias("historical_rank"))

    def finish(batch: DataFrame) -> DataFrame:
        d = (
            batch
            .withColumn("avg_value", centi_avg(F.col("v_sum"), F.col("n_events")))
            .withColumn("hr", F.hour("window.start"))
            .withColumn("mon", F.month("window.start"))
            .withColumn("is_weekend",
                        F.dayofweek(F.to_date("window.start")).isin(1, 7))
        )
        w_cur = Window.partitionBy("window").orderBy(F.desc("avg_value"))
        return (
            d.withColumn("current_rank", F.dense_rank().over(w_cur))
            .join(F.broadcast(hist),
                  ["event_type", "mon", "hr", "is_weekend"], "left")
            .withColumn("rank_displacement",
                        F.abs(F.col("current_rank") - F.col("historical_rank")))
            .withColumn("is_unusual", F.col("rank_displacement") >= 2)
            .select(_fmt_window_start(), "event_type", "avg_value",
                    "current_rank", "historical_rank", "rank_displacement",
                    "is_unusual")
        )

    return drain(agg, spark, batch_transform=finish)


# ---------------------------------------------------------------- SQ6b

def sq6b_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every engagement
    (click/view) attributed to the conversions by the same user within
    the following hour; engagements with NO conversion in that window
    emit exactly once with nulls after the watermark passes their join
    horizon (eng_ts + 1h). The reference's foreachBatch fake (SURVEY
    §2.8) cannot express this at all — a per-batch left join would
    re-emit unmatched rows every batch and never see cross-batch
    matches.

    Determinism under availableNow: matches emit in-batch; the final
    no-data batch advances the watermark to (max event time - 2h) and
    flushes null rows for every unmatched engagement whose horizon fell
    behind it. Unmatched engagements in the last ~3h stay in state when
    the drain terminates — exactly the tail a resumable checkpoint
    would emit on the next incremental drain. The oracle states that
    output directly (matched ∪ watermark-expired unmatched).

    Scale notes: same state bounds as sq6 — user_id partitions both
    state stores, the range condition + 2h watermarks evict state past
    ~3h of events per side; row-level output lands in the partitioned
    parquet sink, never the driver.
    """
    eng = (
        events_stream(spark, sf_dir, watermark=None)
        .filter(F.col("event_type").isin(*ENGAGEMENT_TYPES))
        .select(F.col("event_id").alias("eng_event_id"),
                F.col("user_id").alias("eng_user"),
                F.col("ts").alias("eng_ts"),
                F.col("event_type").alias("eng_type"))
        .withWatermark("eng_ts", WATERMARK)
    )
    conv = (
        events_stream(spark, sf_dir, watermark=None)
        .filter(F.col("event_type").isin(*CONVERSION_TYPES))
        .select(F.col("event_id").alias("conv_event_id"),
                F.col("user_id").alias("conv_user"),
                F.col("ts").alias("conv_ts"),
                F.col("event_type").alias("conv_type"))
        .withWatermark("conv_ts", WATERMARK)
    )
    joined = eng.join(
        conv,
        (F.col("eng_user") == F.col("conv_user"))
        & (F.col("conv_ts") >= F.col("eng_ts"))
        & (F.col("conv_ts") <= F.col("eng_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    result = joined.select(
        F.col("eng_event_id"),
        F.col("eng_user").alias("user_id"),
        F.col("eng_type"),
        F.date_format("eng_ts", "yyyy-MM-dd HH:mm:ss").alias("eng_time"),
        F.col("conv_event_id"), F.col("conv_type"),
        (F.unix_micros(F.col("conv_ts"))
         - F.unix_micros(F.col("eng_ts"))).alias("lag_micros"),
    )
    # append_manifest, NOT overwrite_partitions: a day's matches emit in
    # batch 1 but its null-flush arrives in the final watermark batch —
    # partition overwrite would clobber the matches.
    # files_per_partition: without it each of the join's shuffle tasks
    # writes its own file into every eng_day dir it touches (measured:
    # 480 files for 40k rows across the two batches); one exchange of
    # the joined rows per batch keys each day to one file — the same
    # output-sizing rule as sq6, applied through the manifest sink.
    sunk = drain_to_parquet(
        result.withColumn("eng_day", F.substring("eng_time", 1, 10)),
        spark, partition_by=["eng_day"], output_mode="append",
        sink="append_manifest", files_per_partition=True)
    return sunk.select(
        "eng_event_id", "user_id", "eng_type", "eng_time",
        "conv_event_id", "conv_type", "lag_micros")


# ---------------------------------------------------------------- SQ9

def sq9_hourly_daily_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregation: an hourly tumbling window feeding a
    daily re-aggregation of the FINALIZED hourly windows, both on the
    live stream in one query (multiple stateful operators, Spark 3.4+;
    window_time() exposes the hourly window's event time to the second
    groupBy). Append mode end-to-end, so only watermark-complete
    windows flow downstream: the drained output is exactly the days
    whose end fell at or before the final watermark (max ts - 2h).

    This is the streaming analogue of the batch hour->day rollup
    cascade (A8/A1) without landing an intermediate table — the shape a
    100 TB pipeline wants, because the daily agg's input is already
    5 types x 24 pre-aggregated rows per day, not raw events; the
    second state store is negligible and the first is (hour x type).
    """
    s = events_stream(spark, sf_dir)
    hourly = (
        s.groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(value_centi(F.col("value"))).alias("centi"))
    )
    daily = (
        hourly
        .groupBy(F.window(F.window_time("window"), "1 day"),
                 "event_type")
        .agg(F.sum("n").alias("n_events"),
             F.count(F.lit(1)).alias("n_hours"),
             F.max("n").alias("max_hourly_events"),
             F.sum("centi").alias("sum_centi"))
    )
    out = daily.select(
        F.date_format("window.start", "yyyy-MM-dd").alias("day"),
        "event_type", "n_events", "n_hours", "max_hourly_events",
        (F.col("sum_centi") / 100.0).alias("sum_value"))
    return drain(out, spark, output_mode="append")


# ---------------------------------------------------------------- SQ10

def sq10_funnel_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ordered funnel per tumbling hour: the batch
    ``funnel_daily`` analytic expressed against the live stream. The
    stateful layer is ONE streaming aggregation — conditional-min first
    timestamps per (window, user), watermark-bounded state — and the
    order-sensitive stage flags + per-window counts run inside
    foreachBatch on the (already aggregated, small) per-user rows, the
    same split every consumer uses for batch-only ops (T8).

    Scale: state is (window x active user) carrying four timestamps;
    the foreachBatch rollup reduces user rows to ~windows rows before
    anything leaves the executors. Per-user state cardinality gets the
    same state-store partition override as sq8's sessions.
    """
    stream = events_stream(spark, sf_dir)
    mins = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"), "user_id")
        .agg(*[
            F.min(F.when(F.col("event_type") == t, F.col("ts")))
            .alias(f"t_{t}")
            for t in ("view", "click", "signup", "purchase")
        ])
    )

    def finish(batch: DataFrame) -> DataFrame:
        s1 = F.col("t_view").isNotNull()
        s2 = s1 & F.col("t_click").isNotNull() & \
            (F.col("t_click") >= F.col("t_view"))
        s3 = s2 & F.col("t_signup").isNotNull() & \
            (F.col("t_signup") >= F.col("t_click"))
        s4 = s3 & F.col("t_purchase").isNotNull() & \
            (F.col("t_purchase") >= F.col("t_signup"))
        daily = batch.groupBy("window").agg(
            F.sum(s1.cast("long")).alias("n_view"),
            F.sum(s2.cast("long")).alias("n_click_after"),
            F.sum(s3.cast("long")).alias("n_signup_after"),
            F.sum(s4.cast("long")).alias("n_purchase_after"))
        return daily.select(
            _fmt_window_start(), "n_view", "n_click_after",
            "n_signup_after", "n_purchase_after",
            round_fixed(
                F.when(F.col("n_view") > 0,
                       F.col("n_purchase_after") / F.col("n_view"))
                .otherwise(F.lit(0.0)), 6).alias("conversion"))

    return drain(mins, spark, batch_transform=finish, shuffle_partitions=16)


# ---------------------------------------------------------------- SQ11

def sq11_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data side output (SURVEY §2.8 'Absent': late-data side
    outputs — the LAST absent streaming capability; Spark silently drops
    late rows where Flink offers sideOutputLateData). The audit answers
    the operational question the drop hides: HOW MUCH data arrived too
    late, and where.

    Harness (deterministic, oracle-checkable): the events table is split
    into two mtime-ordered micro-batches by event_id parity. Batch 1
    (even ids) establishes the watermark = max(ts of batch 1) - 2h;
    batch 2's (odd) rows older than that are captured by
    drain_with_late_audit instead of vanishing. Output: the per-hour
    ELEMENT-late audit with an id checksum — the rows per-row watermark
    state would evict; a windowed agg drops the subset whose window had
    fully closed (semantics pinned in tests/test_streaming_semantics.py).

    Scale notes: the split drain appends both sides executor-side (only
    the running-max scalar touches the driver) and this rollup shuffles
    the (tiny) late side once onto hour keys.
    """
    # the returned frame reads the drain's own late sink, not the staged
    # input, so the staged copies are removed after the drain
    with tempfile.TemporaryDirectory(prefix="asvsp-sq11-") as tmp:
        now = time.time()
        src = f"{sf_dir}/events.parquet"
        copy_events_split(src, f"{tmp}/f0.parquet", 2, 0, mtime=now - 100)
        copy_events_split(src, f"{tmp}/f1.parquet", 2, 1, mtime=now - 99)

        stream = events_stream_reader(spark, tmp, max_files_per_trigger=1)
        # keep_ontime=False: this rollup reads ONLY the late side;
        # writing the on-time side (~the whole stream) to a sink nobody
        # reads was the query's single largest cost (guide §1.2)
        _, late = drain_with_late_audit(stream, spark, delay_seconds=7200,
                                        keep_ontime=False)
    return (
        late
        .groupBy(F.window("ts", "1 hour").alias("window"))
        .agg(F.count(F.lit(1)).alias("n_late"),
             F.sum("event_id").alias("late_id_sum"))
        .select(_fmt_window_start(), "n_late", "late_id_sum")
    )


# ---------------------------------------------------------------- SQ12

def sq12_drift_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/drift.py distribution_drift: per
    tumbling hour, the event_type mix's KL divergence and total
    variation distance against the STATIC full-period baseline share
    table — the live "did the traffic mix just change?" monitor, same
    stream-vs-static-reference shape as sq1 (J4/T7).

    The stateful layer is ONE tumbling-window count per (window, type)
    — (window × 5 types) state, watermark-bounded; the divergence math
    runs on the drained (already aggregated, windows × types-sized)
    rows through the SAME divergence_by_bucket helper as the batch
    monitor (operators/drift.py — one implementation, two cadences),
    with the tiny static baseline share table broadcast in. Absent
    categories contribute their baseline mass to TVD via
    1 − Σ q_present (no dense grid), and KL stays finite because the
    baseline covers every type the stream can carry; NULL keys fold
    into the '<null>' sentinel category on both sides.
    """
    from asvsp_spark.operators.drift import divergence_by_bucket, \
        sentinel_key
    stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"),
                 sentinel_key(F.col("event_type")).alias("key"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(_fmt_window_start(), "key", "c")
    )
    batch = drain(agg, spark)
    base = (tables.load(spark, sf_dir, "events")
            .groupBy(sentinel_key(F.col("event_type")).alias("key"))
            .agg(F.count(F.lit(1)).alias("cb")))
    return divergence_by_bucket(batch, "window_start", base=base)


# ---------------------------------------------------------------- SQ13

def sq13_contract_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/validate.py check_suite: per
    tumbling hour, the event stream's contract-violation fractions —
    null user_id, out-of-domain event_type, and an outlier-rate SLO
    (value > 200) — with a per-window pass/fail verdict. The live
    "is the producer still honoring its schema?" monitor that pairs
    with the batch dq-check gate (one semantics, two cadences).

    Like the batch suite, every check is a conditional sum riding ONE
    stateful tumbling-window aggregate — (windows × 1) state,
    watermark-bounded; adding checks adds aggregate columns, never
    state keys or corpus passes. A window only exists once an event
    lands in it, so the fraction denominators are never zero.
    """
    stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
             .alias("_nu"),
             F.sum(F.when(F.col("event_type").isNotNull()
                          & ~F.col("event_type").isin(*EVENT_TYPES), 1)
                   .otherwise(0)).alias("_bt"),
             F.sum(F.when(F.col("value") > 200.0, 1).otherwise(0))
             .alias("_hi"))
        .select(
            _fmt_window_start(), "n_events",
            round_fixed(F.col("_nu") / F.col("n_events"), 6)
            .alias("null_user_frac"),
            round_fixed(F.col("_bt") / F.col("n_events"), 6)
            .alias("bad_type_frac"),
            round_fixed(F.col("_hi") / F.col("n_events"), 6)
            .alias("outlier_frac"))
        .withColumn("passed",
                    (F.col("null_user_frac") <= 0.0)
                    & (F.col("bad_type_frac") <= 0.0)
                    & (F.col("outlier_frac") <= F.lit(0.05)))
    )
    return drain(agg, spark)


# ---------------------------------------------------------------- SQ14

def sq14_value_percentiles_hourly(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming twin of operators/sketches.py value_histogram: per
    tumbling hour, p50/p90/p99 of the event value — the latency-SLO
    monitor shape. Exact streaming percentiles would need every raw
    value in state; the decimal log-linear sketch needs one COUNT per
    (window, bucket) — a few hundred buckets per window, watermark-
    bounded — and stays hash-checkable because bucket assignment is
    exact integer arithmetic (same bucket_lo_expr as the batch sketch;
    one implementation, two cadences, like sq12/sq13).

    The stateful layer is the (window, bucket_lo) count alone; the
    percentile read-off (cumulative rule, integer cross-multiplied)
    runs on the drained sketch rows through the SAME
    histogram_percentiles the batch path uses.
    """
    from asvsp_spark.operators.sketches import (bucket_lo_expr,
                                                histogram_percentiles)
    stream = events_stream(spark, sf_dir)
    agg = (
        stream
        .filter(F.col("value").isNotNull())
        .groupBy(F.window("ts", "1 hour").alias("window"),
                 bucket_lo_expr(value_centi(F.col("value")), 2)
                 .alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_fmt_window_start(), "bucket_lo", "cnt")
    )
    batch = drain(agg, spark)
    return histogram_percentiles(batch, ["window_start"])


# ---------------------------------------------------------------- SQ15

SQ15_BASE_US = 978_307_200 * 1_000_000       # 2001-01-01 00:00:00 UTC
SQ15_HOUR_US = 3_600_000_000
SQ15_REPLAY_HOURS = 79                       # batch-3 replay position
SQ15_SENTINEL_HOURS = 80                     # batch-2 sentinel position
SQ15_ID_OFFSET = 1_000_000                   # replay ids: near-dups, not
SQ15_SENTINEL_TEXT = ("sq15 watermark sentinel document far beyond "
                      "every organic content bucket")


def with_doc_band_key(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document MinHash BAND KEY as a pure projection — the
    streaming-safe variant of operators/dedup.py minhash_signatures
    (identical seeded-md5 slicing family h_{4j+t}(s) =
    int(md5(j||'|'||s)[8t:8t+8]); a single 4-hash band, computed
    row-locally because a streaming dedup key must exist BEFORE the
    stateful operator — no groupBy, no shuffle, scan speed). Two docs
    collide at Jaccard j with probability j^4 — the sq15 near-dup
    criterion. Docs with no 3-gram shingles (< 3 tokens) key by their
    own id ('e' || id) so they never near-dup-collide. The md5 hex
    array is materialized as ONE column first: interpreted lambdas get
    no cross-expression CSE, so inlining it into the four array_min
    transforms would run 4x the md5 calls."""
    from asvsp_spark.functions.text import token_ngrams
    from asvsp_spark.plans.base import hex_slice_long
    d = (df
         .withColumn("_tk", tokens(F.col(text_col)))
         .withColumn("_sh", F.array_distinct(token_ngrams("_tk", 3)))
         .withColumn("_h", F.transform(
             "_sh", lambda s: F.md5(F.concat_ws("|", F.lit("0"), s)))))
    def slot_min(t: int) -> F.Column:
        # a closure factory, NOT `lambda h, t=t`: a two-arg lambda makes
        # F.transform pass the ELEMENT INDEX as the second arg, silently
        # shadowing the slot number (caught by the oracle in r8)
        return F.array_min(F.transform(
            "_h", lambda h: hex_slice_long(h, 1 + 8 * t, 8))).cast("string")

    mins = [slot_min(t) for t in range(4)]
    # coalesce: NULL text -> _sh NULL -> size() NULL, and a bare
    # when(NULL) falls through to otherwise, where concat_ws SKIPS the
    # four NULL mins — every null-text doc would share band_key "" and
    # a streaming dedup would silently collapse them all into one
    # survivor (r9 review finding). Null-text docs key by id like
    # sub-3-token docs: never near-dup-collide.
    return (d.withColumn(
        "band_key",
        F.when(F.coalesce(F.size("_sh"), F.lit(0)) == 0,
               F.concat(F.lit("e"), F.col(id_col).cast("string")))
        .otherwise(F.concat_ws("_", *mins)))
        .drop("_tk", "_sh", "_h"))


def sq15_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate document dedup with bounded state — the
    ingestion-pipeline shape the exact-key family (sq7/sq7b) cannot
    express: arriving documents are keyed by their content-derived
    MinHash band key (with_doc_band_key) and deduplicated with
    ``dropDuplicatesWithinWatermark``, so a re-crawl/mirror of a
    document seen within the watermark horizon is suppressed WHATEVER
    its doc_id, while state stays O(watermark window), not O(all
    content ever).

    Harness (sq7b's 3-batch eviction proof, content-keyed):
      1. the documents table; event time = BASE + (md5(band_key) % 72)
         hours — KEY-derived, so whichever same-key copy the in-batch
         dedup keeps, its (hour, key) projection is identical and the
         output stays deterministic (the oracle's requirement);
      2. one future sentinel doc at BASE+80h — its commit runs eviction
         with the batch-1 watermark (max bucket - 2h), evicting every
         key whose (event time + 2h) lies AT or behind it, i.e.
         buckets <= max_bucket - 4 (the eviction comparison is
         non-strict — this hour-quantized harness pins the boundary
         sq7b's microsecond timestamps never exercise);
      3. EVERY document replayed at BASE+79h with doc_id + 1,000,000 —
         same text, different id: a true NEAR-dup replay. Evicted-key
         replays re-emit; surviving-key replays are suppressed even
         though their doc ids are brand-new.
    Output: per kept-row hour, the row count and a band-key checksum
    (md5-slice mod 1e6+3) — both pure functions of the kept KEY SET,
    so the in-batch keep-one arbitrariness cannot leak into the hash.

    Scale notes: the signature projection is row-local (no pre-shuffle),
    dedup state is one (band_key, expiry) entry per distinct content
    key inside the watermark horizon, and the per-batch aggregation
    keeps the drain driver-light. At 100 TB the same plan holds: keys
    partition the state store uniformly (md5), and no candidate
    fan-out exists anywhere — this is keyed dedup, not pair generation.
    """
    from asvsp_spark.plans.base import md5_slice_long

    def per_batch(df: DataFrame) -> DataFrame:
        ck = F.pmod(md5_slice_long(F.col("band_key")), F.lit(1_000_003))
        return (df.groupBy(F.date_trunc("hour", "ts").alias("hr"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(ck).alias("ck")))

    # drain() collects the rows, so the staged copies are removed after it
    with tempfile.TemporaryDirectory(prefix="asvsp-sq15-") as tmp:
        now = time.time()
        src = f"{sf_dir}/documents.parquet"
        copy_documents_tagged(src, f"{tmp}/f0.parquet", ts_us=-1,
                              mtime=now - 100)
        write_doc_rows(
            f"{tmp}/f1.parquet",
            [(-1, SQ15_SENTINEL_TEXT,
              SQ15_BASE_US + SQ15_SENTINEL_HOURS * SQ15_HOUR_US)],
            mtime=now - 99)
        copy_documents_tagged(
            src, f"{tmp}/f2.parquet",
            ts_us=SQ15_BASE_US + SQ15_REPLAY_HOURS * SQ15_HOUR_US,
            id_offset=SQ15_ID_OFFSET, mtime=now - 98)

        raw = docs_stream_reader(spark, tmp, max_files_per_trigger=1)
        # streaming analogue of plans/base.fanout (guide §2.5): each
        # staged file is ONE parquet row group, so every micro-batch's
        # band-key projection (md5 per shingle — the entry's dominant
        # compute) would otherwise run on a single core regardless of
        # session size. The round-robin exchange moves each ~600 KB
        # corpus batch once to unlock all-cores hashing (measured 0.64x
        # interleaved at sf0.1); which same-key copy the downstream
        # in-batch dedup then keeps is already output-neutral by design
        # (the checksum is a pure function of the kept KEY SET — see
        # harness note above). At production scale arriving batches span
        # many files/row groups and the right parallelism comes from the
        # source; this harness stages its own single-row-group files, so
        # the exchange is the only lever.
        keyed = with_doc_band_key(
            raw.repartition(spark.sparkContext.defaultParallelism))
        bucket = F.pmod(md5_slice_long(F.col("band_key")), F.lit(72))
        ts_us = F.when(F.col("ts_us") >= 0, F.col("ts_us")) \
            .otherwise(F.lit(SQ15_BASE_US) + bucket * F.lit(SQ15_HOUR_US))
        stream = keyed.withColumn("ts", F.timestamp_micros(ts_us))
        # only (band_key, ts) survive into the rollup: project before
        # the dedup exchange so the document TEXT does not ride the
        # state-store shuffle (guide §2.3) — the keep-one choice is
        # key-set-neutral by design (see harness note), so dropping
        # unread columns cannot change the output.
        deduped = (stream.select("band_key", "ts")
                   .withWatermark("ts", WATERMARK)
                   .dropDuplicatesWithinWatermark(["band_key"]))

        out = drain(deduped, spark, batch_transform=per_batch,
                    output_mode="append")
    return (
        out.groupBy("hr")
        .agg(F.sum("n").alias("n_kept"), F.sum("ck").alias("key_checksum"))
        .select(F.date_format("hr", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "n_kept", "key_checksum")
    )


# ---------------------------------------------------------------- SQ16

def sq16_variant_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup whose GROUPING KEY is a VARIANT-decoded field —
    pins that Spark 4's variant kernels (parse_json / variant_get /
    try_variant_get) run inside Structured Streaming micro-batches and
    that a variant-derived column can key a watermarked streaming
    aggregation (the schema-flexible twin of sq3's fixed-schema
    from_json decode; batch twin: operators/semistruct.py).

    The key rides the nested path `$.m.t` of a format_string-built
    document (deterministic bytes, same construction as the batch op)
    so a traversal bug breaks the grouping itself; `k_*` measures
    decode the real props payload; `n_missing_retry` counts
    try_variant_get NULLs on a path no document has (must equal
    n_events). One scan, decodes in the projection, one streaming
    hash aggregate on (window x 5 etypes) — state is bounded by the
    watermark horizon times key cardinality, exactly like sq1.
    """
    stream = events_stream(spark, sf_dir)
    # try_parse_json on the REAL payload: malformed props = NULL
    # decodes, never a stream abort (semistruct.variant_props_rollup's
    # contract); strict parse_json stays on the engine-built nested doc
    v = F.try_parse_json("props")
    nested = F.parse_json(F.format_string(
        '{"u": %d, "m": {"t": "%s"}}', F.col("user_id"),
        F.col("event_type")))
    d = stream.select(
        "ts",
        # NULL event_type must group as NULL, not as format_string's
        # literal 'null' rendering (semistruct.variant_props_rollup)
        F.when(F.col("event_type").isNull(),
               F.lit(None).cast("string"))
         .otherwise(F.variant_get(nested, "$.m.t", "string"))
         .alias("etype"),
        F.variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.retry", "long").alias("retry"))
    agg = (
        d.groupBy(F.window("ts", "1 hour").alias("window"), "etype")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("k").alias("k_sum"),
             F.max("k").alias("k_max"),
             (F.count(F.lit(1)) - F.count("retry"))
             .alias("n_missing_retry"))
    )

    def finish(batch: DataFrame) -> DataFrame:
        return batch.select(_fmt_window_start(), "etype", "n_events",
                            "k_sum", "k_max", "n_missing_retry")

    return drain(agg, spark, batch_transform=finish)


# ------------------------------------------- incremental drain cadence

def incremental_hourly_drain(spark: SparkSession, events_dir: str,
                             out_path: str, checkpoint_dir: str,
                             watermark: str = WATERMARK) -> DataFrame:
    """The production drain cadence as ONE resumable operation: an
    hourly per-type rollup of every events parquet file under
    ``events_dir``, drained with ``availableNow`` against a PERSISTENT
    checkpoint. Each invocation processes only files the checkpoint has
    not seen (Spark's file-source log) and carries the aggregation
    state forward, so a window spanning two invocations converges to
    the same totals a single one-shot run over all files would produce
    — re-running with no new files is a no-op. Wired to the CLI as
    ``stream-drain`` (reference analogue: the Airflow-scheduled
    consumer runs, streaming_pipeline_dag.py:57-81, collapsed into a
    cron-able command).

    Sink contract: update output mode + overwrite-partitions keyed by
    (window_start, event_type) — an updated key re-emits its complete
    aggregate from the state store and fully owns its partition, so
    re-emits converge instead of duplicating (SURVEY §7.3 idempotency).
    Returns the DataFrame reading the sink.
    """
    stream = (events_stream_reader(spark, events_dir)
              .withWatermark("ts", watermark))
    agg = (
        stream
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
        .agg(F.sum(value_centi(F.col("value"))).alias("v_sum_centi"),
             F.count(F.lit(1)).alias("n_events"))
        .select(_fmt_window_start(), "event_type", "n_events",
                "v_sum_centi",
                centi_avg(F.col("v_sum_centi"),
                          F.col("n_events")).alias("avg_value"))
    )
    return drain_to_parquet(
        agg, spark, partition_by=["window_start", "event_type"],
        path=out_path, output_mode="update",
        checkpoint_dir=checkpoint_dir)
