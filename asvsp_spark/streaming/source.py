"""Structured Streaming source + drain adapters.

The reference's streaming jobs read Kafka with ``trigger(once=True)`` so
each run drains the whole topic as ONE micro-batch (reference
src/stream/consumer/consumer1.py:39-43,109). The engine reproduces those
semantics with a file stream over the driver's ``events.parquet`` and the
modern ``trigger(availableNow=True)``: a single input file arrives as a
single micro-batch, so per-batch window functions inside ``foreachBatch``
(reference consumer2.py:98-114, consumer3.py:64, consumer5.py:80) see full
history exactly like the reference's trigger-once runs (SURVEY §3.3, W13/W15).

On a real cluster the same transforms attach to a Kafka source unchanged —
``kafka_stream`` below builds that reader (gated: no broker in the test
environment); the JSON payload decode mirrors reference consumer1.py:44-45.

Scale notes: all SQ transforms aggregate BEFORE any foreachBatch collect —
state is (window x low-cardinality key), bounded by the 2h watermark
(reference consumer1.py:47), so executor state stays small no matter the
input rate. The drain helper collects only final aggregated rows.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


# Kept for call sites that stage their own nanos-long fixtures.
EVENTS_STREAM_SCHEMA = _events_schema(T.LongType())


def _ts_flavor(parquet_file: str) -> str:
    """On-disk flavor of the ``ts`` column. The driver's fixtures have
    shipped two encodings across rounds — TIMESTAMP(NANOS) (round 1,
    readable only as a long under the nanosAsLong legacy conf) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read natively as
    TIMESTAMP_NTZ) — so every stream reader probes the footer instead of
    assuming one. Returns 'nanos' | 'ntz' | 'utc'."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_schema(parquet_file).field("ts").type
    if not pa.types.is_timestamp(t):
        return "nanos"  # plain int64: pre-normalized nanos fixture
    if t.tz is not None:
        return "utc"
    return "nanos" if t.unit == "ns" else "ntz"


def events_stream_reader(spark: SparkSession, path: str, *,
                         glob_filter: str | None = None,
                         max_files_per_trigger: int | None = None) -> DataFrame:
    """Un-watermarked file-source stream over parquet event files with
    ``ts`` normalized to TIMESTAMP (session-tz UTC) whatever the on-disk
    flavor. All files under ``path`` must share one flavor — the staging
    helpers below guarantee that for composed stream directories."""
    if glob_filter:
        probe = os.path.join(path, glob_filter)
        flavor = _ts_flavor(probe)
    else:
        files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        # a resumable drain may fire before any producer wrote a file:
        # default to the production on-disk flavor (tz-aware ts) so the
        # availableNow run completes with zero batches instead of
        # crashing the cadence; the next firing re-sniffs real files
        flavor = _ts_flavor(files[0]) if files else "utc"
    if flavor == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type: T.DataType = T.LongType()
    elif flavor == "ntz":
        ts_type = T.TimestampNTZType()
    else:
        ts_type = T.TimestampType()
    reader = spark.readStream.schema(_events_schema(ts_type))
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(path)
    if flavor == "nanos":
        # integer division: nanos-since-epoch (~1.7e18) exceeds double's
        # 2^53 exact range, so float division would corrupt timestamps
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif flavor == "ntz":
        # same wall-clock instant under the pinned UTC session timezone
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    # Event-time contract: a NULL ts is not placeable on the event-time
    # axis. Spark's watermarked window aggregations already drop such
    # rows; the stateful/dedup paths instead behave inconsistently
    # (dropDuplicatesWithinWatermark keeps them with no evictable state;
    # a NULL reaching applyInPandasWithState crashed on int cast — r10
    # NULL-ts probe). One explicit filter at ingestion makes every
    # event-time entry share the SAME documented semantics; NULL-ts rows
    # remain visible to the batch surface and data_quality_report.
    return raw.filter(F.col("ts").isNotNull())


def _normalized_events(src: str):
    """The events table at ``src`` with ``ts`` cast to
    timestamp[us, tz=UTC] (driver-side pyarrow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(src)
    i = tbl.schema.get_field_index("ts")
    tgt = pa.timestamp("us", tz="UTC")
    # safe=False: nanos -> micros truncates sub-us, matching the
    # `ts div 1000` read path
    return tbl.set_column(i, pa.field("ts", tgt),
                          tbl.column(i).cast(tgt, safe=False))


def copy_events_normalized(src: str, dest: str,
                           mtime: float | None = None) -> None:
    """Stage a copy of an events parquet file with ``ts`` rewritten to
    timestamp[us, tz=UTC] — one flavor for every file in a composed
    stream directory, so a single declared schema fits them all.
    Driver-side pyarrow (a Spark write job would cost more than the
    drains these fixtures feed): about 60 ms for the 100k-row sf0.1
    events file. Each staging writes its own file (mtimes order the
    stream's micro-batches)."""
    import pyarrow.parquet as pq
    pq.write_table(_normalized_events(src), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def copy_events_at(src: str, dest: str, ts_us: int,
                   mtime: float | None = None) -> None:
    """Stage a replay copy: every row's ``ts`` replaced by one constant
    (microseconds since epoch, UTC) — watermark-advancing replays for the
    dedup-eviction harnesses."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(src)
    i = tbl.schema.get_field_index("ts")
    tgt = pa.timestamp("us", tz="UTC")
    const = pa.array([ts_us] * tbl.num_rows, tgt)
    pq.write_table(tbl.set_column(i, pa.field("ts", tgt), const), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def write_event_rows(dest: str, rows: list[tuple],
                     mtime: float | None = None) -> None:
    """Write sentinel event rows ``(event_id, ts_us, user_id, event_type,
    value, props)`` as one parquet file in the normalized us-utc flavor."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    }), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))

# Kafka payload schema for the cluster path (reference consumer1.py:14-27
# declares the analogous hand-written StructType for its JSON values).
EVENT_PAYLOAD_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.StringType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

WATERMARK = "2 hours"  # reference consumer1.py:47


def events_stream(spark: SparkSession, sf_dir: str,
                  watermark: str | None = WATERMARK) -> DataFrame:
    """File-source stream over ``{sf_dir}/events.parquet`` with event-time
    watermark — the engine's analogue of the reference's Kafka readers
    (consumer1.py:39-47): source -> typed columns -> to_timestamp ->
    withWatermark.

    ``watermark=None`` returns the stream un-watermarked for callers that
    rename the event-time column first (a branch may carry only ONE
    EventTimeWatermark node — e.g. sq6's per-side aliased watermarks).
    """
    typed = events_stream_reader(spark, sf_dir,
                                 glob_filter="events.parquet")
    return typed.withWatermark("ts", watermark) if watermark else typed


def kafka_stream(spark: SparkSession, brokers: str, topic: str,
                 watermark: str = WATERMARK,
                 starting_offsets: str = "earliest") -> DataFrame:
    """Kafka source for cluster deployments (reference consumer1.py:39-45:
    subscribe -> cast value to string -> from_json -> event time). Not
    exercised in tests (no broker in the environment); the SQ transforms
    are source-agnostic so this plugs into the same pipelines.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return (
        raw
        .select(F.from_json(F.col("value").cast("string"),
                            EVENT_PAYLOAD_SCHEMA).alias("d"))
        .select("d.*")
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", watermark)
    )


# timestamp wire format: microsecond-precision with an EXPLICIT zone
# offset (XXX) — what EVENT_PAYLOAD_SCHEMA's string ts + to_timestamp
# round-trips exactly (the testdata events carry real microseconds).
# The offset is load-bearing for cross-cluster correctness: a zone-less
# string is formatted in the PRODUCER session's timezone and parsed in
# the CONSUMER's — any mismatch silently shifts every event time (and
# with it watermarks, windows and stream-static join keys) by the tz
# delta. With the offset on the wire, both sides agree on the instant
# regardless of either session's spark.sql.session.timeZone.
KAFKA_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSSXXX"


def kafka_wire_frame(df: DataFrame, key_cols: tuple[str, ...] = ("user_id",)
                     ) -> DataFrame:
    """Producer-side wire projection: (key binary, value binary) — the
    shape Spark's Kafka sink requires. key = '_'-joined key columns
    (reference producer.py:140-145 keys records ``f"{city}_{state}"``),
    value = JSON of every input column with timestamps formatted as
    ``KAFKA_TS_FORMAT`` strings so ``kafka_stream``'s from_json +
    to_timestamp chain recovers them bit-exactly. Pure projection —
    testable without a broker, and the round-trip (this frame ->
    kafka_stream's parse) is pinned by unit test."""
    cols = [
        F.date_format(c, KAFKA_TS_FORMAT).alias(c)
        if t.startswith("timestamp")
        else F.col(c)
        for c, t in df.dtypes
    ]
    return df.select(
        F.encode(F.concat_ws(
            "_", *[F.col(c).cast("string") for c in key_cols]),
            "UTF-8").alias("key"),
        F.encode(F.to_json(F.struct(*cols)), "UTF-8").alias("value"))


def kafka_batch_sink(df: DataFrame, brokers: str, topic: str,
                     key_cols: tuple[str, ...] = ("user_id",)) -> None:
    """Batch publish (the reference producer's replay direction,
    producer.py:135-152, minus the wall-clock sleep — rate limiting on
    a cluster belongs to Kafka quotas, not driver sleeps). One job, no
    collect: the wire projection and the send both run executor-side."""
    (kafka_wire_frame(df, key_cols).write.format("kafka")
     .option("kafka.bootstrap.servers", brokers)
     .option("topic", topic)
     .save())


def kafka_replay_sink(stream: DataFrame, brokers: str, topic: str,
                      checkpoint_dir: str,
                      key_cols: tuple[str, ...] = ("user_id",)):
    """Streaming publish: drain a (possibly file-replayed) stream into a
    Kafka topic with availableNow + checkpointing — the S12 replay
    producer as a Spark job. Returns the started StreamingQuery; the
    caller awaits termination."""
    return (kafka_wire_frame(stream, key_cols).writeStream
            .format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


@contextmanager
def _available_now_run(spark: SparkSession,
                       shuffle_partitions: int | None = None,
                       checkpoint_dir: str | None = None):
    """Shared scaffolding for every availableNow drain in this module
    (drain / drain_to_parquet / drain_with_late_audit /
    state_rows_report): clamp ``spark.sql.shuffle.partitions`` for the
    query's lifetime — a stateful agg pins its state-store partition
    count at FIRST start and AQE never coalesces it — provide the
    checkpoint location, and on the way out restore the conf and reap
    the checkpoint when it was ephemeral (one-shot drains never
    resume; persistent checkpoints passed in are left alone). Yields
    the checkpoint path; the caller builds its writer, adds
    ``.option("checkpointLocation", ckpt).trigger(availableNow=True)``
    and awaits termination inside the block.

    Single-threaded-drain assumption: the conf toggles below are
    session-level, so drains must not run concurrently from multiple
    driver threads — a persistent-checkpoint drain started while an
    ephemeral drain holds the context would snapshot
    fileChecksum=false at query start and write its durable recovery
    state without checksums. Every drain in this engine runs
    sequentially on the driver thread; if concurrent drains ever
    become a supported pattern, move these to per-writer options or a
    dedicated session (r10 ADVICE)."""
    # default cap: one wave of state-store tasks, at most 8 (8 measured
    # best at local[32]; on fewer cores a second wave only adds commits)
    cap = shuffle_partitions if shuffle_partitions is not None else int(
        os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE",
                       min(8, spark.sparkContext.defaultParallelism)))
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    # One-shot drains reap their checkpoint on exit, so keeping the
    # query's state-store providers LOADED after commit is pure waste:
    # the executor maintenance tick (default 60 s) would snapshot /
    # fsck state whose disk backing we are about to rm -rf, and in a
    # long suite of short drains those lingering providers accumulate
    # until the tick (measured as the r8 in-suite streaming-family
    # drift — sq6b alone leaves 4 stores x 8 partitions x 2 sides
    # loaded per run). unloadOnCommit (Spark 4) closes them at commit.
    # Persistent checkpoints keep the default: a same-session re-drain
    # (incremental stores, sq15's multi-batch harness) reuses the warm
    # provider.
    unload_key = "spark.sql.streaming.stateStore.unloadOnCommit"
    prev_unload = spark.conf.get(unload_key, "false")
    # Spark 4.1 pairs every checkpoint file with an async-written
    # .crc companion file (spark.sql.streaming.checkpoint.
    # fileChecksum.enabled, default true). For an EPHEMERAL drain the
    # checkpoint is rm -rf'd in
    # the finally below, so integrity checksums of those files are pure
    # overhead (one extra file create + close per WAL/commit/state file),
    # and the checksum manager's per-provider write pool is exactly what
    # the unloadOnCommit provider close races against — observed once
    # under heavy host load as CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT
    # (RejectedExecutionException from the terminated checksum pool) on
    # sq6b's symmetric-hash-join commit. Disabling it on the one-shot
    # path removes the race surface with the files. Persistent
    # checkpoints keep the default: there the checksums guard real
    # recovery state and unloadOnCommit is never set.
    cksum_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    prev_cksum = spark.conf.get(cksum_key, "true")
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="asvsp-ckpt-")
    try:
        if int(prev) > cap:
            spark.conf.set("spark.sql.shuffle.partitions", str(cap))
        if checkpoint_dir is None:
            spark.conf.set(unload_key, "true")
            spark.conf.set(cksum_key, "false")
        yield ckpt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(unload_key, prev_unload)
        spark.conf.set(cksum_key, prev_cksum)
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def drain(stream_df: DataFrame, spark: SparkSession,
          batch_transform: Callable[[DataFrame], DataFrame] | None = None,
          output_mode: str = "update",
          shuffle_partitions: int | None = None,
          checkpoint_dir: str | None = None,
          max_rows: int = 100_000) -> DataFrame:
    """Run a streaming query to completion with ``availableNow`` and return
    the accumulated result as a batch DataFrame.

    ``checkpoint_dir=None`` (default) uses a fresh temp checkpoint — the
    one-shot full-drain the registered queries want. Passing a persistent
    directory makes the drain RESUMABLE: a later call with the same
    checkpoint processes only source data that arrived since the previous
    run (offsets + state are recovered), which is the production cadence —
    an hourly/cron incremental drain instead of a 24/7 process — and the
    engine's replacement for the reference's wipe-checkpoints-and-replay
    ritual (streaming_pipeline_dag.py:33-46). Tested in
    tests/test_streaming_semantics.py::test_drain_resumes_from_checkpoint.

    ``batch_transform`` runs INSIDE foreachBatch on each micro-batch — the
    reference's escape hatch for batch-only ops (dense_rank/lag/joins)
    against streaming data (consumer1.py:93-103, SURVEY S10/T8). Only the
    transformed (aggregated, small) rows are collected to the driver.

    Shuffle sizing: a stateful streaming agg pins its state-store partition
    count to ``spark.sql.shuffle.partitions`` at FIRST query start and AQE
    never coalesces it, so a session left at the 200 default pays 200 tasks
    per micro-batch for state bounded by (window x key). The conf is
    clamped for the query's lifetime and restored afterwards. The default
    cap is ``min(8, defaultParallelism)``: one wave of state-store tasks,
    since each task's cost is mostly its state-store commit, and at most
    8, which fits this engine's bounded state keys (window x handful of
    types) and measured 1.8x faster than 32 at sf0.1 local[32]. The cap
    only shapes a NEW checkpoint: a resumed persistent checkpoint keeps
    the partition count it was created with (Spark restores it from the
    offset log). Raise SPARK_GRAFT_STREAM_SHUFFLE on a cluster, or pass
    ``shuffle_partitions`` per-query for high-cardinality state (e.g.
    per-user sessions), where more state-store partitions win.

    ``max_rows`` is a loud guard on the driver collect: a query whose
    output grows with an unbounded key (per-user rows, row-level joins)
    must NOT come through here — it would OOM the driver at scale long
    before failing locally. Such queries route through
    ``drain_to_parquet``, which never moves rows through the driver;
    the cap turns a silent scale bug into an immediate error.
    """
    collected: list = []
    schema_holder: list = []

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        out = batch_transform(batch_df) if batch_transform else batch_df
        schema_holder.append(out.schema)
        collected.extend(out.collect())
        if len(collected) > max_rows:
            raise RuntimeError(
                f"drain() collected {len(collected)} rows "
                f"(max_rows={max_rows}): this sink is for aggregated, "
                "bounded output only — route row-level or per-user "
                "streams through drain_to_parquet")

    with _available_now_run(spark, shuffle_partitions,
                            checkpoint_dir) as ckpt:
        query = (
            stream_df.writeStream
            .outputMode(output_mode)
            .foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if not schema_holder:
        if checkpoint_dir is not None and batch_transform is None:
            # resumable drain with nothing new since the last run: empty
            # result with the stream's own schema (a transform's output
            # schema is unknowable without a batch, so that case errors)
            return spark.createDataFrame([], stream_df.schema)
        raise RuntimeError("stream produced no micro-batches")
    return _local_batch(spark, collected, schema_holder[0])


def _local_batch(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Materialize drained rows as a batch DataFrame.

    Large flat primitive-typed batches go through pandas + Arrow: the
    classic ``createDataFrame(list-of-Rows)`` re-pickles and re-converts
    every row through a Python worker on EVERY action over the returned
    frame — ~0.4 s per action for sq14's 62k-row (window x bucket)
    sketch (guide §4: keep data columnar across the Python boundary).
    The Arrow path serializes the batch once, columnar. Values are
    bit-identical for the guarded types (string / integral / floating /
    boolean — pandas round-trips them losslessly with object-dtype
    columns preserving None); anything nested, temporal or decimal, and
    anything small (< 1000 rows, where conversion overhead beats the
    win and the classic path is already cheap), keeps the classic path, and ANY conversion surprise
    falls back to it too.
    """
    from pyspark.sql import types as T

    _FLAT = (T.StringType, T.LongType, T.IntegerType, T.ShortType,
             T.ByteType, T.DoubleType, T.FloatType, T.BooleanType)
    if len(rows) >= 1_000 and schema.fields and all(
            isinstance(f.dataType, _FLAT) for f in schema.fields):
        try:
            import numpy as np
            import pandas as pd
            # columns built as dtype=object explicitly: pandas type
            # INFERENCE would widen an int column containing None to
            # float64 (NaN), silently corrupting int64 values past
            # 2^53 — object columns keep every Python value verbatim
            # and Arrow casts per the explicit target schema
            pdf = pd.DataFrame({
                name: np.fromiter((r[i] for r in rows), dtype=object,
                                  count=len(rows))
                for i, name in enumerate(schema.names)})
            return spark.createDataFrame(pdf, schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def state_rows_report(stream_df: DataFrame, spark: SparkSession,
                      output_mode: str = "update") -> dict:
    """MEASURED state-store occupancy for a stateful streaming frame —
    the empirical backing for every "state is watermark-bounded" claim
    in this package: run the query to completion (availableNow, noop
    sink — no rows ever move) and read Spark's own per-micro-batch
    ``stateOperators`` metrics off the query's progress log.

    Returns {"max_state_rows": peak numRowsTotal summed across stateful
    operators in any micro-batch, "final_state_rows": the last batch's
    total, "n_state_operators": ..., "n_progress": micro-batch count}.
    Use it in tests ("peak state ≤ windows × keys") and in production
    the same way a Deequ-style suite gates data: a sessionization or
    stream-stream join whose measured state grows past its design bound
    is the 100 TB incident before it happens. Zero-state (stateless)
    streams report zeros rather than erroring, so the probe composes
    over any streaming frame.
    """
    # recentProgress is ring-buffered (spark.sql.streaming.
    # numRecentProgressUpdates, default 100 batches) — a long backlog
    # drain would silently drop the batches where state PEAKED, which
    # is exactly what this probe exists to see; raise the cap for the
    # query's lifetime and restore it after
    prog_key = "spark.sql.streaming.numRecentProgressUpdates"
    prev_prog = spark.conf.get(prog_key, None)
    spark.conf.set(prog_key, "100000")
    try:
        with _available_now_run(spark) as ckpt:
            query = (stream_df.writeStream.format("noop")
                     .outputMode(output_mode)
                     .option("checkpointLocation", ckpt)
                     .trigger(availableNow=True)
                     .start())
            query.awaitTermination()
            progress = list(query.recentProgress)
    finally:
        if prev_prog is None:
            spark.conf.unset(prog_key)
        else:
            spark.conf.set(prog_key, prev_prog)
    per_batch = [
        sum(int(op.get("numRowsTotal", 0))
            for op in (p.get("stateOperators") or []))
        for p in progress
    ]
    n_ops = max((len(p.get("stateOperators") or []) for p in progress),
                default=0)
    return {
        "max_state_rows": max(per_batch, default=0),
        "final_state_rows": per_batch[-1] if per_batch else 0,
        "n_state_operators": n_ops,
        "n_progress": len(progress),
    }


def drain_to_parquet(stream_df: DataFrame, spark: SparkSession,
                     partition_by: list[str],
                     path: str | None = None,
                     output_mode: str = "append",
                     shuffle_partitions: int | None = None,
                     checkpoint_dir: str | None = None,
                     sink: str = "overwrite_partitions",
                     files_per_partition: bool = False) -> DataFrame:
    """Production-shaped drain for ROW-LEVEL streaming output: micro-
    batches land in a partitioned parquet sink and the returned DataFrame
    READS THE SINK. Nothing row-level ever moves through the driver —
    ``drain`` collects its batches, which is fine for the aggregated SQ
    outputs but O(events) for row-level joins like sq6.

    Two sink contracts, picked by what owns a partition:

    - ``sink="overwrite_partitions"`` (default): foreachBatch +
      sources/batch.py foreach_batch_overwrite_partitions. Idempotent
      under re-emits and re-runs, but each batch must FULLY OWN every
      partition it touches — correct for time-partitioned output where
      one micro-batch carries a partition's complete rows (sq6's inner
      join under single-batch drain).
    - ``sink="append_manifest"``: Spark's native streaming file sink
      (exactly-once via the _spark_metadata manifest; readers only see
      committed files). REQUIRED when one logical partition's rows span
      micro-batches — e.g. an outer join whose null-flush for day X
      arrives in the final watermark batch, after day X's matches: the
      overwrite sink would clobber the earlier batch. Only supports
      append mode (a file sink can't retract).

    ``files_per_partition`` bounds the sink's file count for BOTH
    contracts (optimization guide §6 output sizing). Without it the
    manifest sink writes one file per upstream task per partition dir it
    touches — shuffle_partitions x |partition values| files per batch
    (sq6b measured 480 files for 40k rows) — paying a commit per file
    now and file-open overhead on every later scan. When true, it
    repartitions each batch by the partition columns (one stateless
    exchange of the already-joined/aggregated rows, never of source
    state) so each partition value lands in one file per batch.
    """
    sink_path = path or tempfile.mkdtemp(prefix="asvsp-sink-")
    with _available_now_run(spark, shuffle_partitions,
                            checkpoint_dir) as ckpt:
        if (sink == "append_manifest" and files_per_partition
                and partition_by):
            stream_df = stream_df.repartition(
                *[F.col(c) for c in partition_by])
        writer = stream_df.writeStream.outputMode(output_mode)
        if sink == "append_manifest":
            if output_mode != "append":
                raise ValueError(
                    "append_manifest (native file sink) supports append "
                    f"mode only, got {output_mode!r}")
            writer = (writer.format("parquet")
                      .option("path", sink_path)
                      .partitionBy(*partition_by))
        elif sink == "overwrite_partitions":
            from asvsp_spark.sources.batch import (
                foreach_batch_overwrite_partitions)
            writer = writer.foreachBatch(foreach_batch_overwrite_partitions(
                sink_path, partition_by,
                files_per_partition=files_per_partition))
        else:
            raise ValueError(f"unknown sink contract {sink!r}")
        query = (writer
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True)
                 .start())
        query.awaitTermination()
    # NB the SINK outlives the call (the return value reads it); only
    # the one-shot checkpoint is reaped by _available_now_run
    try:
        return spark.read.parquet(sink_path)
    except AnalysisException:
        # zero micro-batches (e.g. the first cron firing of a resumable
        # drain before any producer wrote a file, or a re-run with no
        # new files on a still-empty sink): no batch created the sink,
        # so report 0 rows with the stream's schema instead of crashing
        # the cadence the checkpoint exists to support
        return spark.createDataFrame([], stream_df.schema)


DOCS_STREAM_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    # microseconds since epoch, or -1 = "derive event time from the
    # content key" (sq15's organic batch — see queries.sq15)
    T.StructField("ts_us", T.LongType()),
])


def copy_documents_tagged(src: str, dest: str, ts_us: int = -1,
                          id_offset: int = 0,
                          mtime: float | None = None) -> None:
    """Stage a documents parquet file as a stream micro-batch in the
    DOCS_STREAM_SCHEMA flavor: (doc_id [+offset], text, ts_us) — the
    near-dup dedup harness's staging path (id_offset makes replays
    near-duplicates rather than exact-id duplicates; a constant ts_us
    positions the whole batch on the event-time axis, -1 defers event
    time to the content key computed stream-side)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(src, columns=["doc_id", "text"])
    import pyarrow.compute as pc
    ids = pc.add(tbl.column("doc_id"), pa.scalar(id_offset, pa.int64()))
    pq.write_table(pa.table({
        "doc_id": ids.cast(pa.int64()),
        "text": tbl.column("text"),
        "ts_us": pa.array([ts_us] * tbl.num_rows, pa.int64()),
    }), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def write_doc_rows(dest: str, rows: list[tuple],
                   mtime: float | None = None) -> None:
    """Write sentinel document rows ``(doc_id, text, ts_us)`` as one
    parquet file in the DOCS_STREAM_SCHEMA flavor."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "ts_us": pa.array([r[2] for r in rows], pa.int64()),
    }), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def docs_stream_reader(spark: SparkSession, path: str, *,
                       max_files_per_trigger: int | None = None
                       ) -> DataFrame:
    """File-source stream over DOCS_STREAM_SCHEMA parquet batches (the
    staging helpers above write exactly this flavor, so no footer
    sniffing is needed)."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def copy_events_split(src: str, dest: str, mod: int, rem: int,
                      mtime: float | None = None) -> None:
    """Stage the subset of an events parquet file with
    ``event_id % mod == rem`` (ts-normalized like copy_events_normalized)
    — deterministic multi-batch splits for harnesses whose oracle must
    reconstruct each micro-batch's contents."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = _normalized_events(src)
    # no modulo kernel in pyarrow.compute — a numpy mask is fine at
    # fixture scale (this is a test/harness staging helper)
    mask = pa.array(tbl.column("event_id").to_numpy() % mod == rem)
    pq.write_table(tbl.filter(mask), dest)
    if mtime is not None:
        os.utime(dest, (mtime, mtime))


def drain_with_late_audit(stream_df: DataFrame, spark: SparkSession,
                          delay_seconds: int = 7200,
                          keep_ontime: bool = True
                          ) -> tuple[DataFrame | None, DataFrame]:
    """Late-data SIDE OUTPUT — the one §2.8 'Absent' capability Spark has
    no primitive for (Flink's ``sideOutputLateData``): a watermarked
    aggregation silently DROPS rows later than the allowed delay, and
    this drain captures them instead. Returns (ontime_df, late_df) read
    back from two parquet side sinks.

    Semantics — ELEMENT-level lateness against Spark's own watermark
    clock: the watermark advances at micro-batch COMMIT (max event time
    seen minus the delay), so a row is flagged late iff its event time
    is older than the watermark as of the START of its batch. The drain
    replicates that clock with one scalar of driver state (the running
    max event time in microseconds, updated AFTER each batch is routed —
    the same commit-time lag). Element-late is what per-ROW watermark
    state ops judge (dropDuplicatesWithinWatermark eviction,
    stream-stream join state); a WINDOWED aggregation is more lenient —
    it only drops a late row once its whole window has closed
    (window_end <= watermark) — so the flagged set is a superset of a
    window agg's drops, at window-size granularity. Both facts are
    pinned in tests/test_streaming_semantics.py.

    Scale notes: both outputs are executor-side parquet appends — no
    row-level data crosses the driver (only the per-batch max, one
    scalar). Each batch is persisted once and split by one filter each
    way; the late side of a healthy stream is a trickle. Both sinks are
    fresh temp dirs behind a fresh checkpoint, so a re-run starts clean.
    Event time is read from the ``ts`` column.

    ``keep_ontime=False`` skips the on-time sink entirely and returns
    ``None`` for the on-time side, so code that reads it anyway fails
    loudly instead of seeing an empty frame: an audit-only caller
    (sq11's late rollup) otherwise pays a full write of the on-time
    side — at scale that is ~the whole stream re-encoded to parquet —
    to feed a frame it drops.
    Routing (which rows are late) and the watermark clock are unchanged.
    """
    from pyspark.sql import functions as F

    late_dir = tempfile.mkdtemp(prefix="asvsp-late-")
    ontime_dir = (tempfile.mkdtemp(prefix="asvsp-ontime-")
                  if keep_ontime else None)
    state = {"max_us": None}

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        us = F.unix_micros(F.col("ts"))
        if state["max_us"] is None:
            ontime, late = batch_df, None
        else:
            wm_us = state["max_us"] - delay_seconds * 1_000_000
            ontime = batch_df.filter(us >= F.lit(wm_us))
            late = batch_df.filter(us < F.lit(wm_us))
        # persist only when >1 action reads the batch (late write /
        # ontime write / max agg); batch 1 with keep_ontime=False runs
        # the max agg alone, where a persist is pure overhead
        n_actions = 1 + (1 if keep_ontime else 0) + (0 if late is None else 1)
        if n_actions > 1:
            batch_df.persist()
        try:
            if keep_ontime:
                ontime.write.mode("append").parquet(ontime_dir)
            if late is not None:
                late.write.mode("append").parquet(late_dir)
            mx = batch_df.agg(F.max(us).alias("mx")).collect()[0]["mx"]
            if mx is not None:
                state["max_us"] = (mx if state["max_us"] is None
                                   else max(state["max_us"], mx))
        finally:
            if n_actions > 1:
                batch_df.unpersist()

    with _available_now_run(spark) as ckpt:
        query = (stream_df.writeStream.outputMode("append")
                 .foreachBatch(handle)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True)
                 .start())
        query.awaitTermination()

    def _read(path: str) -> DataFrame:
        if any(f.endswith(".parquet") for f in os.listdir(path)):
            return spark.read.parquet(path)
        return spark.createDataFrame([], stream_df.schema)

    return (_read(ontime_dir) if ontime_dir else None), _read(late_dir)
