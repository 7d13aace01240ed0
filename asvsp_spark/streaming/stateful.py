"""Continuous-mode stateful streaming: trend detection whose state
SURVIVES micro-batch boundaries via ``applyInPandasWithState``.

The reference's trend query (consumer2.py:98-114) computes lag-based
rising/falling labels per micro-batch inside foreachBatch; with its
trigger(once) runs the whole topic is one batch, so "per batch" happens to
mean "full history" (SURVEY W15, §7.3). Under a real continuous deployment
that trick breaks: each micro-batch only sees its own windows, and the lag
against the previous window is lost at every batch boundary. SURVEY §7.3
promises a continuous-mode variant as an explicit option — this module is
that variant.

``hourly_trend_stateful`` keeps, per group key, the open hourly windows'
exact integer partial sums plus the last closed window's average. On every
micro-batch it folds the new rows into the partials and closes (emits) any
window whose end has passed the event-time watermark, labeling it
rising/falling/stable vs the previously closed window — regardless of how
many micro-batches apart they arrived.

Scale notes:
- State per key is bounded by the watermark: at most (delay / 1h) + 1 open
  windows of 2 longs each, ~O(10) values per key, whatever the input rate.
- The pandas function receives one key's rows per call after a hash
  shuffle on the group key; partial sums are exact int64 (order-immune),
  so results are identical across partition layouts and batch slicings —
  the incremental run converges to the batch answer exactly.
- This is the (b)-tier custom-operator path from the build brief: the
  semantics (cross-batch lag) genuinely cannot be expressed with built-in
  window aggs, so an Arrow-batched stateful pandas function is the
  idiomatic escape hatch.

Rounding parity: averages are rounded half-AWAY-FROM-ZERO in integer
centi space, mirroring Spark F.round / DuckDB round() so the oracle
hash-compares exactly — floor(x+0.5) diverges on negative halves, and
values CAN be negative. NULL values count toward n_events but not the
sum (count(*) / sum-skips-NULL, like the windowed-agg siblings); an
all-NULL window emits a NULL average. See _merge_trend_batch /
_close_trend_windows.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from asvsp_spark.operators.rollups import value_centi

TREND_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("window_start", T.StringType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("avg_value", T.DoubleType()),
    T.StructField("prev_avg", T.DoubleType()),
    T.StructField("trend", T.StringType()),
])

# open windows as parallel arrays (start-sec, centi-sum, count) + last
# closed window's average for the cross-batch lag
TREND_STATE_SCHEMA = (
    "wins array<long>, sums array<long>, counts array<long>, "
    "last_avg double, has_last boolean"
)

HOUR = 3600


def _merge_trend_batch(open_w: dict, pdf) -> None:
    """Accumulate {hour-bucket: [centi-sum-or-None, n_rows]} from one
    Arrow batch. A NULL value counts toward n_rows but not the sum —
    count(*) / sum-skips-NULL, the same semantics as the windowed-agg
    siblings and the DuckDB oracle. A window that has only seen NULL
    values keeps sum None so its average emits NULL (the bare int64
    cast CRASHED the whole query on the first NULL value — r10 probe).
    """
    import pandas as pd

    g = (pd.DataFrame({
            "b": (pdf["secs"].astype("int64") // HOUR) * HOUR,
            "v": pdf["v"].astype("Int64"),
         }).groupby("b")["v"].agg(["size", "count", "sum"]))
    for b, row in g.iterrows():
        ent = open_w.setdefault(int(b), [None, 0])
        if int(row["count"]) > 0:
            ent[0] = (0 if ent[0] is None else ent[0]) + int(row["sum"])
        ent[1] += int(row["size"])


def _close_trend_windows(open_w: dict, wm_s: int, etype, last_avg,
                         has_last, rise: float, fall: float):
    """Emit every window whose end <= watermark, advancing the lag.

    Average parity: half-up AWAY FROM ZERO in centi space == Spark
    F.round(s/c, 0) == DuckDB round(s/c) — floor(x + 0.5) diverged on
    negative halves once negative values entered the corpus. Trend
    parity mirrors the oracle's CASE exactly: a NULL previous average
    reads 'unknown' (prev_avg IS NULL), a NULL current average falls
    through both comparisons to 'stable'.
    """
    out = []
    for b in sorted(open_w):
        if b + HOUR > wm_s:
            break
        s, c = open_w.pop(b)
        if s is None:
            avg = None
        else:
            sign = 1 if s >= 0 else -1
            avg = sign * ((abs(s) * 2 + c) // (2 * c)) / 100.0
        if not has_last or last_avg is None:
            trend = "unknown"
        elif avg is not None and avg > last_avg * rise:
            trend = "rising"
        elif avg is not None and avg < last_avg * fall:
            trend = "falling"
        else:
            trend = "stable"
        start = datetime.fromtimestamp(b, tz=timezone.utc)
        out.append((etype, start.strftime("%Y-%m-%d %H:%M:%S"), c, avg,
                    last_avg if has_last else None, trend))
        last_avg, has_last = avg, True
    return out, last_avg, has_last


def hourly_trend_stateful(stream: DataFrame, rise: float = 1.1,
                          fall: float = 0.9) -> DataFrame:
    """Per event_type: hourly average value + trend label vs the previous
    CLOSED hourly window, with lag state persisted across micro-batches.

    ``stream`` must carry (event_type, ts, value) with a watermark on ts;
    windows close when ``window_end <= watermark`` — exactly the window
    retention rule Spark's built-in streaming aggregation applies, so this
    operator composes with the same lateness contract (T1).
    """

    def fn(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        (etype,) = key
        if state.exists:
            wins, sums, counts, last_avg, has_last = state.get
            open_w: dict[int, list] = {
                w: [s, c] for w, s, c in zip(wins, sums, counts)
            }
        else:
            open_w, last_avg, has_last = {}, 0.0, False

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            _merge_trend_batch(open_w, pdf)

        wm_s = state.getCurrentWatermarkMs() // 1000
        out, last_avg, has_last = _close_trend_windows(
            open_w, wm_s, etype, last_avg, has_last, rise, fall)

        keys = sorted(open_w)
        state.update((keys, [open_w[k][0] for k in keys],
                      [open_w[k][1] for k in keys], last_avg, has_last))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in TREND_OUT_SCHEMA])

    # keep `ts` so the upstream watermark column survives the projection;
    # pandas consumes the exact integer (secs, v) columns only
    src = stream.select(
        "event_type", "ts",
        F.expr("unix_micros(ts) div 1000000").alias("secs"),
        value_centi(F.col("value")).alias("v"),
    )
    return src.groupBy("event_type").applyInPandasWithState(
        fn, TREND_OUT_SCHEMA, TREND_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout,
    )
