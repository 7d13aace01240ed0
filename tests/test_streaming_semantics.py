"""Streaming semantics beyond the single-batch drain: incremental
multi-micro-batch aggregation converges to the batch answer, and the 2h
watermark drops data that arrives later than the watermark allows
(SURVEY T1; reference consumer1.py:47).

These tests split the events fixture into multiple files and force
maxFilesPerTrigger=1, so the same pipeline runs as a true incremental
stream — the situation the registered sq* queries meet on a cluster
(continuous Kafka input) rather than in the one-batch drain.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from asvsp_spark import tables
from asvsp_spark.operators.rollups import value_centi
from asvsp_spark.streaming.source import EVENTS_STREAM_SCHEMA
from tests.conftest import SF_DIR


def _write_split(spark, tmpdir: str, n_files: int = 2):
    """Copy the events fixture into n separate parquet files (split by
    event_id mod n) so the file stream sees n micro-batches."""
    events = tables.load(spark, SF_DIR, "events")
    for i in range(n_files):
        (events.filter(F.col("event_id") % n_files == i)
         .withColumn("ts_long",
                     (F.unix_micros("ts") * 1000).cast("long"))
         .drop("ts").withColumnRenamed("ts_long", "ts")
         .select("event_id", "ts", "user_id", "event_type", "value", "props")
         .coalesce(1).write.mode("append").parquet(f"{tmpdir}/split"))
    return f"{tmpdir}/split"


def _stream(spark, path: str, watermark: str = "2 hours"):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (spark.readStream.schema(EVENTS_STREAM_SCHEMA)
           .option("maxFilesPerTrigger", "1").parquet(path))
    return (raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            .withWatermark("ts", watermark))


def test_incremental_updates_converge_to_batch_answer(spark):
    """1h tumbling agg over 2 micro-batches: the LAST update emitted per
    window key must equal the one-shot batch aggregation."""
    with tempfile.TemporaryDirectory() as tmpdir:
        path = _write_split(spark, tmpdir, n_files=2)

        emissions: list[tuple[int, tuple, int]] = []

        def handle(batch_df, batch_id):
            for r in batch_df.collect():
                emissions.append(
                    (batch_id, (str(r.window_start), r.event_type), r.v_sum))

        stream = _stream(spark, path)
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
            .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"))
            .select(F.col("window.start").alias("window_start"),
                    "event_type", "v_sum")
        )
        ckpt = tempfile.mkdtemp(prefix="asvsp-sem-")
        q = (agg.writeStream.outputMode("update").foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        batch_ids = {b for b, _, _ in emissions}
        assert len(batch_ids) >= 2, "expected multiple micro-batches"
        # last emission per key wins (update mode re-emits changed windows)
        final: dict[tuple, int] = {}
        for _, key, v in sorted(emissions, key=lambda e: e[0]):
            final[key] = v

        expected = {
            ((str(r.window_start), r.event_type)): r.v_sum
            for r in (
                tables.load(spark, SF_DIR, "events")
                .groupBy(F.window("ts", "1 hour").alias("window"), "event_type")
                .agg(F.sum(value_centi(F.col("value"))).alias("v_sum"))
                .select(F.col("window.start").alias("window_start"),
                        "event_type", "v_sum")
            ).collect()
        }
        assert final == expected


def test_watermark_drops_late_rows(spark):
    """A row older than the committed watermark must be dropped from the
    windowed aggregate. Spark commits the watermark advanced by batch N's
    data at the START of batch N+1, so it takes effect from batch N+1's
    processing onward — the late file here arrives as batch 2, after the
    advance from batch 0 (max event time Jan 2 12:00 - 2h) is in force.
    """
    import os
    import time
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory() as tmpdir:
        schema = pa.schema([
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ])

        def mk(ids, tss):
            return pa.Table.from_pandas(pd.DataFrame({
                "event_id": ids, "ts": pd.to_datetime(tss),
                "user_id": [1] * len(ids), "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids), "props": ["{}"] * len(ids),
            }), schema=schema)

        path = f"{tmpdir}/late"
        os.makedirs(path)
        batches = [
            mk([1, 2], ["2024-01-01 00:30:00", "2024-01-02 12:00:00"]),
            mk([4], ["2024-01-02 13:00:00"]),  # batch boundary
            mk([3], ["2024-01-01 00:45:00"]),  # ~1.5 days late -> dropped
        ]
        for i, tbl in enumerate(batches):
            pq.write_table(tbl, f"{path}/f{i}.parquet")
            time.sleep(1.1)  # distinct mtimes => deterministic file order

        collected = []

        def handle(batch_df, batch_id):
            collected.extend(
                (batch_id, str(r["window"]["start"]), r["n"])
                for r in batch_df.collect())

        stream = _stream(spark, path)
        agg = stream.groupBy(F.window("ts", "1 hour").alias("window")).agg(
            F.count(F.lit(1)).alias("n"))
        ckpt = tempfile.mkdtemp(prefix="asvsp-late-")
        q = (agg.writeStream.outputMode("update").foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        # the late row's window (00:00) must NOT be re-emitted with n=2:
        # every emission for that window stays at the batch-1 count of 1
        zero_win = [n for _, ws, n in collected if "00:00:00" in ws]
        assert zero_win and all(n == 1 for n in zero_win)


def test_stateful_trend_merges_state_across_batches(spark):
    """hourly_trend_stateful: rows of the SAME hourly window arriving in
    DIFFERENT micro-batches must merge in state, and trend lags must chain
    across batches — the continuous-mode guarantee the per-batch lag trick
    (SURVEY W15) does not give. Expected = batch-mode lag over all hourly
    averages, truncated to windows closed by the final watermark."""
    import os
    import shutil
    import glob as globmod
    import time as timemod

    from asvsp_spark.operators.rollups import centi_avg
    from asvsp_spark.streaming.source import drain
    from asvsp_spark.streaming.stateful import hourly_trend_stateful

    events = tables.load(spark, SF_DIR, "events")
    mx_us = events.agg(F.max(F.unix_micros("ts")).alias("m")).first()["m"]
    with tempfile.TemporaryDirectory() as tmpdir:
        raw = events.select(
            "event_id", (F.unix_micros("ts") * 1000).alias("ts"),
            "user_id", "event_type", "value", "props")
        # two real files split by id (same hours land in both batches)
        for i in range(2):
            (raw.filter(F.col("event_id") % 2 == i)
             .coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/r{i}"))
        sent = spark.createDataFrame(
            [(10**12, (mx_us + 30 * 86400 * 10**6) * 1000, 0, t, 0.0, "{}")
             for t in ["click", "error", "purchase", "signup", "view"]],
            schema=("event_id long, ts long, user_id long, "
                    "event_type string, value double, props string"))
        sent.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/sent")
        sdir = f"{tmpdir}/stream"
        os.makedirs(sdir)
        now = timemod.time()
        for i, sub in enumerate(("r0", "r1", "sent")):
            part = globmod.glob(f"{tmpdir}/{sub}/part-*.parquet")[0]
            dst = f"{sdir}/f{i}.parquet"
            shutil.copy(part, dst)
            os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))

        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(sdir)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            .withWatermark("ts", "2 hours"))
        got = drain(hourly_trend_stateful(stream), spark)

        from pyspark.sql import Window
        hourly = (
            events.groupBy("event_type",
                           F.window("ts", "1 hour")["start"].alias("ws"))
            .agg(F.sum(value_centi(F.col("value"))).alias("s"),
                 F.count(F.lit(1)).alias("n_events"))
            .withColumn("avg_value", centi_avg(F.col("s"), F.col("n_events")))
        )
        w = Window.partitionBy("event_type").orderBy("ws")
        prev = F.lag("avg_value").over(w)
        wm_cutoff = F.expr(
            f"timestamp_micros({mx_us}) - INTERVAL 2 HOURS - INTERVAL 1 HOUR")
        expected = (
            hourly
            .withColumn("prev_avg", prev)
            .withColumn("trend",
                        F.when(prev.isNull(), "unknown")
                        .when(F.col("avg_value") > prev * 1.1, "rising")
                        .when(F.col("avg_value") < prev * 0.9, "falling")
                        .otherwise("stable"))
            .filter(F.col("ws") <= wm_cutoff)
            .select("event_type",
                    F.date_format("ws", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "n_events", "avg_value", "prev_avg", "trend"))

        def rs(df):
            cols = sorted(df.columns)
            return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

        assert rs(got) == rs(expected)


def test_drain_resumes_from_checkpoint(spark):
    """A persistent checkpoint makes drain incremental: the second run
    processes ONLY files that arrived after the first, recovering window
    state (counts continue, not restart); a third run with no new data
    returns an empty frame instead of reprocessing."""
    import os
    import tempfile

    from asvsp_spark.streaming.source import drain

    tmpdir = tempfile.mkdtemp(prefix="ckpt-resume-")
    path, ckpt = f"{tmpdir}/in", f"{tmpdir}/ckpt"
    os.makedirs(path)

    # split by TIME, not id: in a resumed stream the recovered watermark
    # (max ts of run 1 minus 2h) drops older late arrivals — which is
    # correct streaming semantics, so run 2's file must be NEWER data
    events = tables.load(spark, SF_DIR, "events")
    mid = events.agg(F.expr("timestamp_micros(CAST(avg(unix_micros(ts)) "
                            "AS LONG))").alias("m")).first()["m"]
    halves = []
    for i, cond in enumerate([F.col("ts") < F.lit(mid),
                              F.col("ts") >= F.lit(mid)]):
        out = f"{tmpdir}/half{i}"
        (events.filter(cond)
         .withColumn("ts_long", (F.unix_micros("ts") * 1000).cast("long"))
         .drop("ts").withColumnRenamed("ts_long", "ts")
         .select("event_id", "ts", "user_id", "event_type", "value", "props")
         .coalesce(1).write.mode("overwrite").parquet(out))
        halves.append(out)
    parts = []
    for i, half in enumerate(halves):
        name = [f for f in sorted(os.listdir(half))
                if f.endswith(".parquet")][0]
        parts.append((half, name, f"t{i}.parquet"))

    def agg():
        return (_stream(spark, path)
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                        .alias("ws"), "event_type", "n"))

    import shutil
    src0, name0, dst0 = parts[0]
    shutil.copy(f"{src0}/{name0}", f"{path}/{dst0}")
    first = drain(agg(), spark, checkpoint_dir=ckpt).collect()
    assert first

    src1, name1, dst1 = parts[1]
    shutil.copy(f"{src1}/{name1}", f"{path}/{dst1}")
    second = drain(agg(), spark, checkpoint_dir=ckpt).collect()
    assert second

    # state recovered: the final (last-emitted) count per key across both
    # incremental runs equals the one-shot batch aggregation
    events = tables.load(spark, SF_DIR, "events")
    batch = {(r.ws, r.event_type): r.n for r in (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
                "event_type", "n")).collect()}
    last_update: dict = {}
    for r in first + second:
        last_update[(r.ws, r.event_type)] = r.n
    assert last_update == batch

    # second run must NOT have re-emitted batch-1-only windows: every row
    # it produced reflects a key updated by file 2
    assert len(second) < len(batch)

    third = drain(agg(), spark, checkpoint_dir=ckpt).collect()
    assert third == []


def _write_events_nanos(rows, path):
    """rows: (event_id, ts_nanos, user_id, event_type) -> one events
    parquet file named events.parquet (what events_stream globs for)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, f"{path}/events.parquet")


def test_outer_join_null_flush_uses_min_side_watermark(spark):
    """sq6b's null-row flush horizon: the global watermark is the MIN of
    the two sides' watermark nodes, and each side filters to its event
    types BEFORE withWatermark — so the horizon derives from
    min(max eng ts, max conv ts) - 2h, not the global max ts. An
    unmatched engagement emits iff eng_ts + 1h < that watermark.

    Regression for the oracle bug where the horizon was computed from
    the global max ts: an engagement between the two horizons was
    wrongly expected to emit.
    """
    from asvsp_spark.streaming.queries import sq6b_attribution_left
    H = 3600 * 10**9
    base = 1700000000 * 10**9
    # max conv ts = base+10h, max eng ts = base+9h -> wm = base+7h.
    # horizon: eng_ts < base+6h.
    rows = [
        (1, int(base + 5.9 * H), 201, "click"),    # < 6h -> null row
        (2, int(base + 6.1 * H), 202, "click"),    # > 6h -> held
        (3, int(base + 9 * H), 203, "view"),       # eng wm driver; held
        (98, int(base + 10 * H), 998, "purchase"), # conv wm driver
    ]
    tmp = tempfile.mkdtemp(prefix="sq6b-wm-")
    _write_events_nanos(rows, tmp)
    out = sq6b_attribution_left(spark, tmp)
    got = {r.eng_event_id for r in out.collect()}
    assert got == {1}, got


def test_append_manifest_sink_keeps_rows_across_batches(spark):
    """The overwrite-partitions sink contract requires each batch to
    fully own the partitions it writes; an outer join's null-flush for
    day X lands in a LATER batch than day X's matches. sq6b therefore
    uses the native file sink (append_manifest). Regression: with the
    overwrite sink, the final watermark batch clobbered every matched
    row (sq6b returned 0 matches).
    """
    from asvsp_spark.streaming.queries import sq6b_attribution_left
    H = 3600 * 10**9
    base = 1700000000 * 10**9
    rows = [
        (1, int(base + 1 * H), 300, "click"),       # matched in batch 1
        (2, int(base + 1.2 * H), 300, "purchase"),  # its conversion
        (3, int(base + 1 * H), 301, "click"),       # null-flushed later
        (4, int(base + 10 * H), 302, "view"),
        (5, int(base + 10 * H), 303, "purchase"),
    ]
    tmp = tempfile.mkdtemp(prefix="sq6b-sink-")
    _write_events_nanos(rows, tmp)
    out = sq6b_attribution_left(spark, tmp).collect()
    by_id = {r.eng_event_id: r for r in out}
    # the matched row must SURVIVE the later null-flush batch
    assert by_id[1].conv_event_id == 2
    assert by_id[3].conv_event_id is None
    assert 4 not in by_id  # above horizon, held in state


def test_manifest_sink_files_per_partition_bounds_file_count(spark):
    """r10 output-sizing optimization (guide §6): with
    ``files_per_partition=1`` the append_manifest sink repartitions each
    micro-batch by the partition columns, so a partition value gets at
    most ONE file per batch instead of one per upstream shuffle task
    (sq6b measured 480 files for 40k rows without it). Rows must be
    bit-identical to the unbounded spelling — the repartition is a
    stateless exchange of the batch's output rows only."""
    import glob as g

    from asvsp_spark.streaming.source import drain_to_parquet

    tmp = tempfile.mkdtemp(prefix="fpp-src-")
    H = 3600 * 10**9
    D0 = 1704067200 * 10**9
    rows = [(i, int(D0 + (i % 40) * H), i % 7, "click") for i in range(200)]
    _write_events_nanos(rows, tmp)

    def run(**kw):
        from asvsp_spark.streaming.source import events_stream_reader
        s = (events_stream_reader(spark, tmp)
             .withWatermark("ts", "2 hours")
             .withColumn("day", F.to_date("ts").cast("string")))
        sink = tempfile.mkdtemp(prefix="fpp-sink-")
        out = drain_to_parquet(s, spark, partition_by=["day"],
                               path=sink, output_mode="append",
                               sink="append_manifest", **kw)
        rows_out = sorted(tuple(r) for r in
                          out.select("event_id", "day").collect())
        files = g.glob(f"{sink}/day=*/*.parquet")
        per_dir: dict = {}
        for f in files:
            d = f.rsplit("/", 2)[1]
            per_dir[d] = per_dir.get(d, 0) + 1
        return rows_out, per_dir

    rows_free, dirs_free = run()
    rows_one, dirs_one = run(files_per_partition=1)
    assert rows_one == rows_free            # identical output rows
    # single availableNow batch: exactly one file per day with the
    # bound, >= one (and with >1 shuffle partitions typically more)
    # without it
    assert all(n == 1 for n in dirs_one.values())
    assert set(dirs_one) == set(dirs_free)


def test_sq9_emits_complete_days_only(spark):
    """Chained hourly->daily append aggregation: only days whose end
    fell at or before the final watermark (max ts - 2h) emit."""
    from asvsp_spark.streaming.queries import sq9_hourly_daily_chain
    H = 3600 * 10**9
    D0 = 1704067200 * 10**9  # 2024-01-01 00:00 UTC
    rows = [
        (1, int(D0 + 1 * H), 1, "click"),
        (2, int(D0 + 2 * H), 1, "click"),
        (3, int(D0 + 25 * H), 1, "click"),   # day 2, incomplete
        (4, int(D0 + 27 * H), 1, "view"),    # max ts -> wm = day2 01:00
    ]
    tmp = tempfile.mkdtemp(prefix="sq9-")
    _write_events_nanos(rows, tmp)
    out = sq9_hourly_daily_chain(spark, tmp).collect()
    days = {(r.day, r.event_type): r for r in out}
    assert set(days) == {("2024-01-01", "click")}
    assert days[("2024-01-01", "click")].n_events == 2
    assert days[("2024-01-01", "click")].n_hours == 2


def test_kafka_stream_option_contract_and_payload_path(spark, monkeypatch,
                                                       tmp_path):
    """Contract test for the Kafka adapter (no broker in the sandbox),
    mirroring the JDBC option-threading tests: kafka_stream must reach
    Spark's reader with format='kafka' and the broker/topic/offset
    options, and its value-decoding chain (cast value to string ->
    from_json -> to_timestamp -> watermark) must parse real JSON bytes
    shaped exactly like Kafka's wire schema. The reader is intercepted;
    load() returns a file-source STREAM with Kafka's columns, so
    everything downstream of .load() runs unmodified and drains for
    real (reference consumer1.py:39-47)."""
    import json

    from pyspark.sql import SparkSession
    from asvsp_spark.streaming.source import drain, kafka_stream

    payloads = [
        {"event_id": 1, "ts": "2024-03-01 10:15:00", "user_id": 7,
         "event_type": "click", "value": 1.5, "props": "{}"},
        {"event_id": 2, "ts": "2024-03-01 11:45:00", "user_id": 8,
         "event_type": "purchase", "value": 99.0, "props": "{}"},
        # malformed value: from_json must yield NULL fields, not fail
        {"_garbage": True},
    ]
    rows = [(None, json.dumps(p).encode("utf-8"), "events", 0, i,
             None, 0) for i, p in enumerate(payloads)]
    kafka_wire = ("key binary, value binary, topic string, partition int, "
                  "offset long, timestamp timestamp, timestampType int")
    spark.createDataFrame(rows, kafka_wire).write.parquet(
        str(tmp_path / "wire"))

    captured = {"format": None, "options": {}}
    real_read_stream = SparkSession.readStream  # property, pre-patch

    class FakeKafkaReader:
        def format(self, fmt):
            captured["format"] = fmt
            return self

        def option(self, k, v):
            captured["options"][k] = v
            return self

        def load(self):
            return (real_read_stream.fget(spark).schema(kafka_wire)
                    .parquet(str(tmp_path / "wire")))

    monkeypatch.setattr(SparkSession, "readStream",
                        property(lambda self: FakeKafkaReader()))
    stream = kafka_stream(spark, "broker1:9092,broker2:9092", "events",
                          starting_offsets="latest")
    monkeypatch.undo()  # drain() builds non-kafka readers internally

    assert captured["format"] == "kafka"
    assert captured["options"] == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events",
        "startingOffsets": "latest",
    }
    assert stream.isStreaming
    got = sorted(
        ((r.event_id, str(r.ts), r.user_id, r.event_type, r.value)
         for r in drain(stream, spark, output_mode="append").collect()),
        key=lambda t: (t[0] is None, t[0]))
    assert got == [
        (1, "2024-03-01 10:15:00", 7, "click", 1.5),
        (2, "2024-03-01 11:45:00", 8, "purchase", 99.0),
        (None, "None", None, None, None),
    ]


def test_late_audit_element_vs_window_semantics(spark, tmp_path):
    """drain_with_late_audit pins two facts on a hand-built 3-batch
    stream (batch 0 max ts 12:59 -> audit watermark 10:59 from batch 1
    on; batch 1 is an on-time boundary so Spark's own aggregation
    watermark — which lags one extra batch — is also in force by
    batch 2):

    - ELEMENT-late = ts < watermark-at-batch-start: the 09:30 and 10:30
      replays in batch 2 are flagged; everything else is on time
      (conservation: ontime + late = everything, disjoint).
    - A WINDOWED agg is more lenient: it still accepts the 10:30 row
      (its [10:00, 11:00) window end 11:00 > 10:59 watermark) and drops
      only the 09:30 row (window fully closed) — the flagged set is a
      strict SUPERSET of the window agg's drops, at window granularity.
    """
    import datetime as _dt
    import os as _os
    import time as _time

    from asvsp_spark.streaming.source import (drain,
                                              drain_with_late_audit,
                                              write_event_rows)

    def us(hh, mm):
        t = _dt.datetime(2024, 1, 6, hh, mm, tzinfo=_dt.timezone.utc)
        return int(t.timestamp() * 1_000_000)

    d = str(tmp_path / "stream")
    _os.makedirs(d)
    now = _time.time()
    write_event_rows(f"{d}/b0.parquet", [
        (1, us(10, 5), 1, "click", 1.0, "{}"),
        (2, us(12, 59), 1, "click", 1.0, "{}"),   # max -> wm 10:59
    ], mtime=now - 100)
    write_event_rows(f"{d}/b1.parquet", [
        (6, us(12, 30), 1, "click", 1.0, "{}"),   # on-time boundary
    ], mtime=now - 99)
    write_event_rows(f"{d}/b2.parquet", [
        (3, us(9, 30), 1, "click", 1.0, "{}"),    # late, window closed
        (4, us(10, 30), 1, "click", 1.0, "{}"),   # late, window open
        (5, us(13, 0), 1, "click", 1.0, "{}"),    # on time
    ], mtime=now - 98)

    def reader():
        return (spark.readStream
                .schema("event_id long, ts timestamp, user_id long, "
                        "event_type string, value double, props string")
                .option("maxFilesPerTrigger", "1").parquet(d))

    ontime, late = drain_with_late_audit(reader(), spark,
                                         delay_seconds=7200)
    late_ids = {r.event_id for r in late.collect()}
    ontime_ids = {r.event_id for r in ontime.collect()}
    assert late_ids == {3, 4}
    assert ontime_ids == {1, 2, 5, 6}

    agg = (reader().withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour").alias("window"))
           .agg(F.sum("event_id").alias("id_sum")))
    by_hour = {}
    for r in drain(agg, spark).collect():  # batch order; last write wins
        by_hour[str(r["window"]["start"])[11:16]] = r.id_sum
    assert by_hour.get("10:00") == 5, by_hour     # id 4 accepted late
    assert by_hour.get("12:00") == 8              # 2 + boundary 6
    assert by_hour.get("13:00") == 5
    assert "09:00" not in by_hour                 # id 3 dropped by agg


def test_drain_row_cap_guards_unbounded_collects(spark):
    """drain()'s driver collect is for aggregated, bounded output only;
    an unbounded-key query routed through it must fail LOUDLY at the
    max_rows cap instead of silently accumulating toward a driver OOM
    at scale."""
    import pytest

    with tempfile.TemporaryDirectory() as tmpdir:
        path = _write_split(spark, tmpdir, n_files=1)
        stream = _stream(spark, path)   # row-level: no aggregation
        with pytest.raises(Exception, match="max_rows"):
            drain_rows = __import__(
                "asvsp_spark.streaming.source",
                fromlist=["drain"]).drain
            drain_rows(stream, spark, output_mode="append", max_rows=5)


def test_sq8_never_collects_row_level_sessions(spark, monkeypatch):
    """sq8's per-(user, session) output is the one unbounded key in the
    SQ suite: it must flow through the parquet manifest sink, never
    through drain()'s driver collect. Poisoning drain proves the route;
    the result must still be non-empty sessions."""
    import asvsp_spark.streaming.queries as Q

    def poisoned(*a, **k):
        raise AssertionError("sq8 must not route through drain()")

    monkeypatch.setattr(Q, "drain", poisoned)
    out = Q.sq8_session_windows(spark, SF_DIR)
    assert out.count() > 0
    assert set(out.columns) == {"user_id", "session_start", "n_events",
                                "avg_value", "dwell_us"}


def test_cli_stream_drain_incremental_roundtrip(spark, tmp_path, capsys):
    """CLI production cadence: `stream-drain --checkpoint` twice against
    a growing events directory. The second invocation reads ONLY the new
    file and carries the aggregation state forward — a window spanning
    both files converges to the one-shot totals (no double count of the
    first file), and a third run with no new files changes nothing."""
    from asvsp_spark.cli import main
    from asvsp_spark.streaming.source import write_event_rows

    events = tmp_path / "events_dir"
    events.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    h = 1_700_000_000_000_000 - (1_700_000_000_000_000 % 3_600_000_000)
    # file A: 2 clicks in hour H
    write_event_rows(str(events / "a.parquet"), [
        (1, h + 60_000_000, 10, "click", 1.0, "{}"),
        (2, h + 120_000_000, 11, "click", 3.0, "{}"),
    ])
    rc = main(["stream-drain", str(events), out, "--checkpoint", ckpt])
    assert rc == 0
    r1 = {(r.window_start, r.event_type): (r.n_events, r.avg_value)
          for r in spark.read.parquet(out).collect()}
    assert list(r1.values()) == [(2, 2.0)]

    # file B arrives: 3 more clicks in the SAME hour + 1 view next hour
    write_event_rows(str(events / "b.parquet"), [
        (3, h + 180_000_000, 12, "click", 5.0, "{}"),
        (4, h + 240_000_000, 13, "click", 7.0, "{}"),
        (5, h + 300_000_000, 14, "click", 9.0, "{}"),
        (6, h + 3_660_000_000, 15, "view", 4.0, "{}"),
    ])
    rc = main(["stream-drain", str(events), out, "--checkpoint", ckpt])
    assert rc == 0
    r2 = {(r.event_type): (r.n_events, r.avg_value)
          for r in spark.read.parquet(out).collect()}
    # 2 (state) + 3 (new) = 5, avg (1+3+5+7+9)/5 — NOT 8 (double count
    # of file A) and NOT 3 (file B alone)
    assert r2["click"] == (5, 5.0), r2
    assert r2["view"] == (1, 4.0)

    # no new files: a replay leaves the sink unchanged
    rc = main(["stream-drain", str(events), out, "--checkpoint", ckpt])
    assert rc == 0
    r3 = {(r.event_type): (r.n_events, r.avg_value)
          for r in spark.read.parquet(out).collect()}
    assert r3 == r2


def test_incremental_drain_zero_batches_reports_empty(spark, tmp_path):
    """First cron firing before any producer wrote a file: availableNow
    completes with zero micro-batches, no sink directory is ever
    created, and the drain must report 0 rows with the stream's schema
    instead of crashing on the missing sink path."""
    from asvsp_spark.streaming.queries import incremental_hourly_drain
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    out = incremental_hourly_drain(
        spark, str(events_dir), str(tmp_path / "out"),
        str(tmp_path / "ckpt"))
    assert out.count() == 0
    assert "window_start" in out.columns and "event_type" in out.columns


def test_sq13_contract_violation_fractions(spark, tmp_path):
    """sq13 on a constructed dirty stream: per-hour violation fractions
    and the pass verdict match hand computation — null user_id and
    out-of-domain event_type trip their zero-tolerance checks, the
    outlier SLO tolerates up to 5%."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from asvsp_spark.streaming.queries import sq13_contract_hourly

    rows = []
    # hour 00: 4 clean events, one 250.0 outlier among them -> 25% > 5%
    for i, val in enumerate([1.0, 2.0, 250.0, 3.0]):
        rows.append((i, "2024-01-01 00:%02d:00" % (i * 5), 1, "click", val))
    # hour 01: 5 events, one NULL user, one bogus type, no outliers
    rows.append((10, "2024-01-01 01:00:00", None, "click", 1.0))
    rows.append((11, "2024-01-01 01:05:00", 2, "bogus", 1.0))
    for i in range(3):
        rows.append((12 + i, "2024-01-01 01:%02d:00" % (10 + i), 3,
                     "view", 1.0))
    # hour 02: 20 clean events, exactly one outlier -> 5% passes
    for i in range(20):
        rows.append((30 + i, "2024-01-01 02:%02d:00" % i, 4, "view",
                     250.0 if i == 0 else 1.0))

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["props"] = "{}"
    pdf = pdf.astype({"event_id": "int64", "value": "float64",
                      "user_id": "Int64"})   # nullable int, not float
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   str(tmp_path / "events.parquet"))

    got = {r["window_start"]: r for r in
           sq13_contract_hourly(spark, str(tmp_path)).collect()}
    h0 = got["2024-01-01 00:00:00"]
    assert (h0["n_events"], h0["outlier_frac"], h0["passed"]) \
        == (4, 0.25, False)
    h1 = got["2024-01-01 01:00:00"]
    assert h1["null_user_frac"] == 0.2 and h1["bad_type_frac"] == 0.2
    assert not h1["passed"]
    h2 = got["2024-01-01 02:00:00"]
    assert h2["outlier_frac"] == 0.05 and h2["passed"]


def test_sq14_hourly_value_percentiles(spark, tmp_path):
    """sq14 on a constructed stream: per-hour sketch percentiles match
    hand computation — the estimate is the decimal bucket lower bound
    of the exact rank statistic, NULL values carry no quantile mass."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from asvsp_spark.streaming.queries import sq14_value_percentiles_hourly

    rows = []
    # hour 00: cents [10, 100, 250, 4000, 10000]; ranks: p50 -> 3rd
    # (250c, its own bucket at 2 digits), p90/p99 -> 5th (10000c,
    # bucket lo 10000)
    for i, val in enumerate([0.10, 1.00, 2.50, 40.00, 100.00]):
        rows.append((i, "2024-01-01 00:%02d:00" % (i * 5), 1, "click", val))
    # hour 01: one real value + one NULL (excluded from the sketch)
    rows.append((10, "2024-01-01 01:00:00", 2, "view", 0.37))
    rows.append((11, "2024-01-01 01:05:00", 2, "view", None))

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["props"] = "{}"
    pdf = pdf.astype({"event_id": "int64", "value": "float64",
                      "user_id": "Int64"})
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   str(tmp_path / "events.parquet"))

    got = {r["window_start"]: r for r in
           sq14_value_percentiles_hourly(spark, str(tmp_path)).collect()}
    h0 = got["2024-01-01 00:00:00"]
    assert (h0["n_values"], h0["p50_cents"], h0["p90_cents"],
            h0["p99_cents"]) == (5, 250, 10000, 10000)
    assert (h0["p50"], h0["p90"], h0["p99"]) == (2.5, 100.0, 100.0)
    h1 = got["2024-01-01 01:00:00"]
    assert (h1["n_values"], h1["p50_cents"], h1["p50"]) == (1, 37, 0.37)


def test_state_rows_report_measures_bounded_state(spark):
    """The state probe returns Spark's own stateOperators metrics: a
    tumbling (window × type) aggregate's peak state rows equal the
    batch-side distinct group count (the design bound the docstrings
    claim), and a stateless projection reports zero state."""
    from asvsp_spark.streaming.source import events_stream, \
        state_rows_report
    from tests.conftest import SF_DIR

    stream = events_stream(spark, SF_DIR)
    agg = (stream.groupBy(F.window("ts", "1 hour").alias("window"),
                          "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    rep = state_rows_report(agg, spark)
    bound = (tables.load(spark, SF_DIR, "events")
             .select(F.date_trunc("hour", "ts").alias("w"), "event_type")
             .distinct().count())
    assert rep["n_state_operators"] >= 1 and rep["n_progress"] >= 1
    assert 0 < rep["max_state_rows"] <= bound
    assert rep["final_state_rows"] <= rep["max_state_rows"]

    stateless = events_stream(spark, SF_DIR).select("event_id", "value")
    rep0 = state_rows_report(stateless, spark, output_mode="append")
    assert rep0["max_state_rows"] == 0


def test_ephemeral_drain_skips_checkpoint_checksums_and_restores_conf(
        spark, monkeypatch):
    """One-shot drains (fresh temp checkpoint, reaped on exit) disable
    Spark 4.1's checkpoint fileChecksum manager: its paired visible
    ``<file>.crc`` companions are pure overhead for files we rm -rf
    seconds later, and its async write pool is the surface the
    ``unloadOnCommit`` provider close was once observed racing against
    (CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT under host load). Pins:
    (a) the reaped ephemeral checkpoint contains NO visible .crc
    companions; (b) both toggled confs are restored after the drain so
    persistent-checkpoint paths (which keep checksums: real recovery
    state) see the session defaults."""
    import glob
    import os

    from asvsp_spark.streaming import source as src_mod
    from asvsp_spark.streaming.source import drain

    cksum_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    unload_key = "spark.sql.streaming.stateStore.unloadOnCommit"
    spark.conf.set(cksum_key, "true")
    spark.conf.set(unload_key, "false")

    seen: list[str] = []
    real_rmtree = src_mod.shutil.rmtree

    def capturing_rmtree(path, *a, **kw):
        # scope the capture to the ephemeral checkpoint: the patch
        # intercepts EVERY rmtree during the test (TemporaryDirectory
        # cleanup, Spark temp reaping), whose files are not what this
        # test asserts about (r10 ADVICE)
        if os.path.basename(str(path)).startswith("asvsp-ckpt-"):
            seen.extend(
                f for f in glob.glob(str(path) + "/**", recursive=True)
                if os.path.isfile(f))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(src_mod.shutil, "rmtree", capturing_rmtree)

    with tempfile.TemporaryDirectory() as tmpdir:
        path = _write_split(spark, tmpdir, n_files=1)
        agg = (_stream(spark, path)
               .groupBy(F.window("ts", "1 hour").alias("window"))
               .agg(F.count(F.lit(1)).alias("n")))
        out = drain(agg, spark, output_mode="update")
        assert out.count() > 0

    # state deltas were written and captured before the reap...
    assert any(f.endswith(".delta") for f in seen), seen[:20]
    # ...and none of them carries the checksum manager's companion
    visible_crc = [f for f in seen
                   if f.endswith(".crc")
                   and not os.path.basename(f).startswith(".")]
    assert visible_crc == [], visible_crc[:20]
    # session confs restored for persistent/checkpointed paths
    assert spark.conf.get(cksum_key) == "true"
    assert spark.conf.get(unload_key) == "false"


def _hour_slice(h):
    """Five sentinel events in hour ``h`` after a fixed UTC base hour,
    ten minutes apart, alternating click/view."""
    hour_us = 3_600_000_000
    base = 1_700_000_000 // 3600 * 3600 * 1_000_000
    return [(h * 100 + i, base + h * hour_us + i * 600_000_000 + 1,
             i % 3, ("click", "view")[i % 2], round(0.25 * h + 1.1 * i, 2),
             None)
            for i in range(5)]


# Sink of the out-of-order replay below, recorded on the commit before
# the sink's emptiness pre-check was removed: (window_start, event_type,
# n_events, v_sum_centi, avg_value). Hour 10's re-delivery is absent.
_OUT_OF_ORDER_GOLDEN = [
    ("2023-11-15 08:00:00", "click", 3, 1410, 4.7),
    ("2023-11-15 08:00:00", "view", 2, 940, 4.7),
    ("2023-11-15 09:00:00", "click", 3, 1485, 4.95),
    ("2023-11-15 09:00:00", "view", 2, 990, 4.95),
    ("2023-11-15 10:00:00", "click", 3, 1560, 5.2),
    ("2023-11-15 10:00:00", "view", 2, 1040, 5.2),
    ("2023-11-15 11:00:00", "click", 3, 1635, 5.45),
    ("2023-11-15 11:00:00", "view", 2, 1090, 5.45),
    ("2023-11-15 13:00:00", "click", 3, 1785, 5.95),
    ("2023-11-15 13:00:00", "view", 2, 1190, 5.95),
]


def test_incremental_drain_out_of_order_drops_late_redelivery(spark,
                                                              tmp_path):
    """Hour slices arrive out of order, one per drain over one persistent
    checkpoint, plus a re-delivery of an hour the watermark has passed.
    The watermark for a firing is the one the previous firing's no-data
    batch advanced to, so:
    - hour 11 after hour 12 is accepted (its window ends after 12 - 2h);
    - hour 10 re-delivered after hour 15 is dropped (its window closed);
    - hour 13 after hour 15 is accepted: a window agg drops a late row
      only once its whole window is behind the watermark.
    A drain that skipped the no-data batch would restore a stale
    watermark on the next firing and double hour 10."""
    from asvsp_spark.streaming.queries import incremental_hourly_drain
    from asvsp_spark.streaming.source import write_event_rows

    def sink_rows(df):
        return sorted((str(r.window_start), r.event_type, r.n_events,
                       r.v_sum_centi, r.avg_value) for r in df.collect())

    events = tmp_path / "events"
    events.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    seen = {}
    for name, h in [("a", 10), ("b", 12), ("c", 11), ("d", 15),
                    ("e", 10), ("f", 13)]:
        write_event_rows(str(events / f"{name}-h{h}.parquet"),
                         _hour_slice(h))
        seen[name] = sink_rows(
            incremental_hourly_drain(spark, str(events), out, ckpt))
    assert seen["e"] == seen["d"]          # the late re-delivery is dropped
    assert seen["f"] == _OUT_OF_ORDER_GOLDEN


def test_drain_state_partitions_follow_cores(spark, tmp_path, monkeypatch):
    """The default state-store partition count is min(8, cores): one task
    wave (4 on the local[4] test session). An explicit
    ``shuffle_partitions`` wins over it, and a persistent checkpoint
    resumes with the count it was created with, whatever the cap."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from asvsp_spark.streaming.source import (drain, events_stream_reader,
                                              write_event_rows)

    events = tmp_path / "events"
    events.mkdir()

    def add_hour(h):
        write_event_rows(str(events / f"h{h}.parquet"), _hour_slice(h))

    started = []
    real_start = DataStreamWriter.start

    def recording_start(self, *a, **kw):
        started.append(real_start(self, *a, **kw))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)

    def state_partitions(**kw):
        """Drain an hourly count; return the state-store partition counts
        its micro-batches reported."""
        started.clear()
        agg = (events_stream_reader(spark, str(events))
               .withWatermark("ts", "2 hours")
               .groupBy(F.window("ts", "1 hour").alias("w"))
               .agg(F.count(F.lit(1)).alias("n")))
        drain(agg, spark, **kw)
        return {op["numShufflePartitions"]
                for q in started for p in q.recentProgress
                for op in p["stateOperators"]}

    add_hour(1)
    cores = spark.sparkContext.defaultParallelism
    assert state_partitions() == {min(8, cores)}
    assert state_partitions(shuffle_partitions=3) == {3}

    ckpt = str(tmp_path / "ckpt")
    assert state_partitions(shuffle_partitions=8, checkpoint_dir=ckpt) == {8}
    add_hour(2)
    assert state_partitions(checkpoint_dir=ckpt) == {8}
