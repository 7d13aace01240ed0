"""Mergeable sketches: distinct-count (Apache DataSketches HLL, exposed
by Spark as ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``)
and a decimal log-linear VALUE HISTOGRAM for quantiles.

Why these exist beside ``approx_count_distinct`` / ``approx_percentile``:
those functions return only a NUMBER, so every rollup granularity must
rescan the raw data. A stored SKETCH is mergeable — daily sketches
union into weekly/monthly/annual estimates without touching raw events
again, which is the whole trick behind warehouse pre-aggregated rollup
tables at 100 TB: the fact scan happens once, every coarser rollup is a
union over tiny sketch rows.

HLL estimates are engine-specific (rows-only for the driver oracle);
the unit tests pin the error bound against exact counts and the merge
identity (union of daily == sketch of the whole month).

The value histogram (``value_histogram`` and friends) is the quantile
twin of DDSketch (Masson, Rim & Lee, "DDSketch: a fast and fully-
mergeable quantile sketch with relative-error guarantees", PVLDB'19)
and HdrHistogram, with one engine-specific twist: buckets come from the
DECIMAL digit structure of exact integer cents — (number of digits,
leading ``prefix_digits`` digits) — instead of float log math, so
bucket assignment is pure BIGINT/string arithmetic that DuckDB
reproduces bit-for-bit. That makes the whole sketch ORACLE-PAIRABLE
(unlike ``approx_percentile``), while keeping the DDSketch guarantees:
counts are exact per bucket, merge = count sum, and a quantile estimate
is off by at most one bucket's width — relative error <=
10^(1-prefix_digits) (<= 10% at the default prefix_digits=2, <= 1% at
3: a bucket [p·10^m, (p+1)·10^m) with p >= 10^(prefix_digits-1) has
width/lo <= 10^(1-prefix_digits)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData, functions as F

from asvsp_spark.plans.base import cents_to_dollars, money_cents
from asvsp_spark.sources.store import (BatchStore, batch_key, key_columns,
                                       key_sums)


def daily_user_sketches(events: DataFrame, lg_k: int = 12) -> DataFrame:
    """One HLL sketch of distinct user_id per (day, event_type) — the
    stored pre-aggregate. Partial-aggregates map-side like any agg; the
    shuffle carries one ~1.5 KB sketch per group."""
    return (
        events
        .withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch"))
    )


def monthly_distinct_users(daily: DataFrame) -> DataFrame:
    """Monthly distinct-user estimates from the DAILY sketches alone —
    no raw-event rescan: union the binary sketches per (month,
    event_type) and estimate."""
    return (
        daily
        .groupBy(F.date_format("day", "yyyy-MM").alias("month"),
                 "event_type")
        .agg(F.hll_union_agg("sketch").alias("msk"))
        .select("month", "event_type",
                F.hll_sketch_estimate("msk").alias("est_users"))
    )


def hll_user_rollup(events: DataFrame, lg_k: int = 12) -> DataFrame:
    """Registered shape: day-level estimates + the month-level estimates
    derived purely by sketch union, in one long frame (level column), so
    the mergeability is visible in the output."""
    daily = daily_user_sketches(events, lg_k).localCheckpoint(eager=False)
    day_level = daily.select(
        F.lit("day").alias("level"),
        F.date_format("day", "yyyy-MM-dd").alias("period"),
        "event_type",
        F.hll_sketch_estimate("sketch").alias("est_users"))
    month_level = monthly_distinct_users(daily).select(
        F.lit("month").alias("level"),
        F.col("month").alias("period"),
        "event_type", "est_users")
    return day_level.unionByName(month_level)


# bucket_lo_expr's regular math is only long-safe through 18 decimal
# digits (the negative mirror needs lo + 10^m, which at 19 digits can
# pass Long.MAX and raise under ANSI mode); beyond ±(10^18 - 1) cents
# — $10 quadrillion, a data error in any money column — values land in
# two saturation buckets whose literals stay inside the long range and
# sort outside all regular buckets.
_SAT_LIMIT = 10 ** 18 - 1
_SAT_POS_LO = 10 ** 18
_SAT_NEG_LO = -2 * 10 ** 18


def bucket_lo_expr(cents: Column, prefix_digits: int) -> Column:
    """Signed lower bound (in cents) of the decimal log-linear bucket
    holding ``cents`` — the bucket IDENTITY (distinct buckets have
    distinct lower bounds, and ordering by lower bound orders the value
    ranges). Pure integer/string arithmetic: a = |cents|, k = decimal
    digits of a, m = max(k - prefix_digits, 0), p = a div 10^m; the
    bucket is [p·10^m, (p+1)·10^m) on the absolute axis, mirrored for
    negatives (lower bound -(p+1)·10^m). 10^m is built as the string
    '1' || repeat('0', m) so no float pow is ever involved. |cents|
    past 10^18 - 1 saturates into the ±extreme buckets (see _SAT_LIMIT
    above) instead of overflowing the ANSI-mode long arithmetic —
    counts stay exact, ordering stays correct, and the estimate for a
    saturated bucket is its sentinel lower bound."""
    a = F.abs(cents)
    k = F.length(a.cast("string"))
    m = F.greatest(k - F.lit(prefix_digits), F.lit(0))
    pw = F.concat(F.lit("1"), F.repeat(F.lit("0"), m)).cast("long")
    lo = a - a % pw  # == (a div 10^m) · 10^m, no division needed
    return (F.when(cents > F.lit(_SAT_LIMIT),
                   F.lit(_SAT_POS_LO).cast("long"))
            .when(cents < F.lit(-_SAT_LIMIT),
                  F.lit(_SAT_NEG_LO).cast("long"))
            .when(cents == 0, F.lit(0).cast("long"))
            .when(cents > 0, lo)
            .otherwise(-(lo + pw)))


def value_histogram(df: DataFrame, value_col: str, keys: list[str],
                    prefix_digits: int = 2) -> DataFrame:
    """The stored pre-aggregate: exact counts per (keys...,
    bucket_lo) — one map-side-combining groupBy whose shuffle carries
    at most (distinct keys × ~90·decades) rows however many raw rows
    went in. NULL values are excluded (they carry no quantile mass;
    count them with a data-quality check, not here)."""
    return (_bucket_groups(df, value_col, keys, prefix_digits)
            .agg(F.count(F.lit(1)).alias("cnt")))


def _bucket_groups(df: DataFrame, value_col: str, keys: list[str],
                   prefix_digits: int) -> GroupedData:
    """``df``'s non-NULL values grouped by (keys..., bucket_lo)."""
    cents = money_cents(F.col(value_col))
    return (df.filter(F.col(value_col).isNotNull())
            .groupBy(*keys,
                     bucket_lo_expr(cents, prefix_digits).alias("bucket_lo")))


def merge_value_histograms(hist: DataFrame, keys: list[str]) -> DataFrame:
    """Coarsen a stored histogram to fewer keys (day -> month -> all)
    WITHOUT rescanning raw data: merge = sum of bucket counts, exactly
    (no estimation error is introduced by merging — the DDSketch
    property that makes the rollup lossless)."""
    return (hist.groupBy(*keys, "bucket_lo")
            .agg(F.sum("cnt").alias("cnt")))


def histogram_percentiles(hist: DataFrame, keys: list[str],
                          percents: tuple[int, ...] = (50, 90, 99)
                          ) -> DataFrame:
    """Quantile estimates from a stored histogram: per key group, the
    estimate for percent P is the lower bound of the first bucket (in
    value order) whose cumulative count reaches P% of the total —
    integer cross-multiplication (cum·100 >= P·total), no float
    thresholds. Output: keys..., n_values, p{P}_cents (BIGINT) and
    p{P} (dollars). Runs on the SKETCH (tiny), so the windows here
    never see raw-data cardinalities."""
    from pyspark.sql import Window

    w_cum = (Window.partitionBy(*keys).orderBy("bucket_lo")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(*keys)
    cum = (hist
           .withColumn("cum", F.sum("cnt").over(w_cum))
           .withColumn("total", F.sum("cnt").over(w_all)))
    aggs = [F.max("total").alias("n_values")]
    for pct in percents:
        hit = F.when(F.col("cum") * 100 >= F.col("total") * pct,
                     F.col("bucket_lo"))
        aggs.append(F.min(hit).alias(f"p{pct}_cents"))
    out = cum.groupBy(*keys).agg(*aggs)
    for pct in percents:
        out = out.withColumn(f"p{pct}",
                             cents_to_dollars(F.col(f"p{pct}_cents")))
    return out


def sketch_percentiles(df: DataFrame, value_col: str, keys: list[str],
                       percents: tuple[int, ...] = (50, 90, 99),
                       prefix_digits: int = 2) -> DataFrame:
    """Convenience: build the histogram and read percentiles off it in
    one call (one scan, one sketch-sized shuffle, tiny windows)."""
    return histogram_percentiles(
        value_histogram(df, value_col, keys, prefix_digits), keys, percents)


def append_value_histogram(spark, new_events: DataFrame, store_path: str,
                           value_col: str = "value",
                           key_cols: tuple[str, ...] = ("event_type",),
                           ts_col: str = "ts",
                           prefix_digits: int = 2) -> dict:
    """Production cadence for the quantile sketch: fold an arriving
    DELTA (today's ingest) into a ``sources/store.BatchStore`` of
    day-grain bucket counts, one batch per delta — the same store
    contract as the incremental drift/fingerprint stores (groupBy-sum at
    read is the effective sketch; compact_parquet is the maintenance
    step; a retried delta replaces its own counts instead of
    double-weighting them). The store carries
    (day × keys × ~90·decades) count rows, never raw values, so
    period percentiles (see ``stored_percentiles``) cost a sketch-sized
    scan however many TB of events have accumulated.

    An empty delta leaves the store untouched (a bootstrap from nothing
    would persist an empty sketch). Returns a funnel dict:
    delta_values, delta_buckets, bootstrapped.
    """
    hist = (_bucket_groups(
        new_events.select("*", *key_columns(new_events))
        .withColumn("day", F.to_date(F.col(ts_col))),
        value_col, ["day", *key_cols], prefix_digits)
        .agg(F.count(F.lit(1)).alias("cnt"), *key_sums())
        .localCheckpoint(eager=False))
    trow = hist.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n"),
                    F.count(F.lit(1)).alias("b"), *key_sums()).first()
    total = int(trow["n"])
    if total == 0:
        return {"delta_values": 0, "delta_buckets": 0,
                "bootstrapped": False}
    store = BatchStore(spark, store_path, batch_key(total, trow))
    bootstrapped = not store.exists()
    store.commit(hist.drop("_k1", "_k2"))
    return {"delta_values": total, "delta_buckets": int(trow["b"]),
            "bootstrapped": bootstrapped}


def stored_percentiles(spark, store_path: str,
                       key_cols: tuple[str, ...] = ("event_type",),
                       percents: tuple[int, ...] = (50, 90, 99),
                       since_day: str | None = None) -> DataFrame | None:
    """Percentiles over everything the store has accumulated — reads
    ONLY the sketch store (no raw-event rescan, the mergeable-sketch
    payoff); ``None`` when the store holds no rows. ``since_day``
    ('YYYY-MM-DD') prunes the read to recent days before the lossless
    count-sum merge."""
    hist = BatchStore(spark, store_path).read()
    if hist is None:
        return None
    if since_day is not None:
        hist = hist.filter(F.col("day") >= F.lit(since_day).cast("date"))
    merged = merge_value_histograms(hist, list(key_cols))
    return histogram_percentiles(merged, list(key_cols), percents)


def heavy_hitters(df: DataFrame, key_cols: list[str],
                  s_num: int = 3, s_den: int = 1000) -> DataFrame:
    """EXACT frequent items above a frequency share threshold — every
    key with count >= n * s_num / s_den (s = s_num/s_den) — without
    shuffling the full key cardinality: distributed Misra-Gries
    candidate generation + broadcast exact recount (no reference
    analogue).

    Why not a plain groupBy-HAVING: map-side partial aggregation still
    builds a per-task hash map over every local distinct key and
    shuffles one row per (task, key) — at 100 TB with an
    ultra-high-cardinality key (user id, URL, n-gram) that is unbounded
    executor memory and a full-cardinality shuffle for a handful of
    answers. (A groupBy(partition_id, key) formulation is no better:
    its shuffle volume is identical to the plain groupBy's partials.)

      pass 1 — Misra-Gries per partition (``mapInPandas``: the function
        sees ALL of a partition's Arrow batches, so it folds each
        batch's vectorized group-size counts into a running Series and,
        whenever more than k = ceil(s_den/s_num) keys accumulate,
        subtracts the (k+1)-th largest count from every key and drops
        the non-positive — the batched MG compaction: each subtraction
        removes mass from >= k+1 keys simultaneously, so cumulative
        decrement per key <= n_p/(k+1), and every key with local freq >
        n_p/(k+1) survives; n_p * s >= n_p/(k+1) by the choice of k.
        The pigeonhole bound (a globally s-heavy key is locally s-heavy
        in at least one partition) then makes the union of summaries a
        PROVABLE candidate superset. Memory is O(batch distinct + k)
        per task and only O(partitions x k) candidate rows ever leave
        the executors; everything is pandas-vectorized, no per-row
        Python.
      pass 2 — broadcast the candidate keys, semi-join the raw rows
        (map-side hash filter, no shuffle of non-candidates), exact
        count only the candidates, keep count * s_den >= n * s_num.

    The MG pass also emits one per-partition row-count row (``_n_p``
    with NULL keys), so the global n is the SUM over the checkpointed
    MG output — no separate count() scan: exactly TWO passes over the
    input total. Checkpointing the tiny MG output (O(partitions x k)
    rows) also makes n and the candidate set come from one
    materialization, so they can never disagree; if the INPUT itself is
    nondeterministic across jobs (e.g. unseeded sampling upstream), the
    caller must persist it before calling, as with any multi-pass
    algorithm.

    All threshold arithmetic is integer cross-multiplication — no float
    rounding, so DuckDB's plain GROUP BY ... HAVING oracle matches
    bit-for-bit, which is also the proof the pruning loses nothing. The
    guarantee holds for ANY physical partitioning. Rows with a NULL in
    any key column are excluded up front (NULL is a data-quality count,
    not a frequency key; the semi-join could never match it back).
    """
    import math

    from pyspark.sql.types import LongType, StructField, StructType

    keyed = df.select(*key_cols).na.drop(subset=key_cols)
    k = max(1, math.ceil(s_den / s_num))
    key_schema = keyed.schema
    names = [f.name for f in key_schema]
    mg_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in key_schema]
        + [StructField("_n_p", LongType(), True)])

    def mg_partition(batches):
        import pandas as pd

        acc = None
        n_p = 0
        for pdf in batches:
            n_p += len(pdf)
            vc = pdf.groupby(list(pdf.columns), sort=False).size()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > k:
                # batched MG compaction: subtract the (k+1)-th largest
                # count from EVERY key and drop the non-positive — one
                # subtraction removes >= (k+1) x thr mass, so the
                # cumulative decrement any key can suffer is < n_p/(k+1)
                thr = acc.nlargest(k + 1).iloc[-1]
                acc = acc - thr
                acc = acc[acc > 0]
        if acc is not None and len(acc):
            out = acc.index.to_frame(index=False)
            out.columns = names
            out["_n_p"] = pd.array([None] * len(out), dtype="Int64")
            yield out
        if n_p:
            yield pd.DataFrame(
                {**{c: pd.Series([None], dtype="object") for c in names},
                 "_n_p": pd.array([n_p], dtype="Int64")})

    mg = (keyed.mapInPandas(mg_partition, mg_schema)
          .localCheckpoint(eager=True))
    n = mg.agg(F.sum("_n_p")).first()[0] or 0
    cand = mg.filter(F.col("_n_p").isNull()).select(*key_cols).distinct()
    return (
        keyed.join(F.broadcast(cand), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") * s_den >= F.lit(n) * s_num)
    )
