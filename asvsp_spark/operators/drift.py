"""Distribution-drift monitoring — "did today's traffic mix change?"
(categorical-share drift of a key column per day vs the full-period
baseline), the data-quality gate a production ingest pipeline runs
before letting a day's partition into the training corpus.

Two standard divergences per bucket, both over the same share tables:

- KL(bucket || baseline) in nats — sensitive to a bucket putting mass
  where the baseline has little (a new/rare category exploding);
- total variation distance = 0.5 * Σ_types |p_bucket − p_base| — the
  bounded [0,1] "fraction of the bucket's mass that moved", robust to
  the log blow-up. Categories absent from a bucket contribute their
  full baseline mass (accounted via 1 − Σ_present q, no dense
  type×bucket grid materialized).

KL is finite by construction when the baseline aggregates the SAME
data: q > 0 for every category a bucket contains. NULL keys are folded
into the sentinel category "<null>" BEFORE grouping — in real telemetry
NULL is routinely the drifting category, and an equi-join would
silently drop it (NULL never equals NULL), permanently inflating every
bucket's divergence.

Scale: one corpus-scale map-side-combining groupBy(bucket, key); the
count table is localCheckpoint-pinned so the baseline derives from it
rather than re-scanning the corpus (plan-shape-tested); the baseline is
|keys| rows and broadcasts; bucket totals come from a window over the
(buckets × keys)-sized count table. The per-bucket double sums run over
|keys| O(1)-magnitude terms, so cross-engine summation-order error
(~1e-15) sits far from the 1e-6 rounding boundary — same determinism
argument as token_entropy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from asvsp_spark.plans.base import round_fixed
from asvsp_spark.sources.store import (BatchStore, batch_key, key_columns,
                                       key_sums)

NULL_KEY = "<null>"


def sentinel_key(col: Column) -> Column:
    """String-cast with NULLs folded to the '<null>' category, so the
    divergence join and the cross-engine sort order both see a real
    group instead of silently dropping / reordering NULLs."""
    return F.coalesce(col.cast("string"), F.lit(NULL_KEY))


def divergence_by_bucket(counts: DataFrame, bucket_col: str,
                         base: DataFrame | None = None) -> DataFrame:
    """KL + TVD per bucket from a (bucket, key, c) count table.

    ``base`` is an optional (key, cb) baseline; by default it aggregates
    from ``counts`` itself (full-period self-baseline). Shared by the
    batch monitor below and the streaming twin (sq12) so the two can
    never disagree on the math. The baseline/total derivations hang off
    the count table — bucket×keys-sized, never the corpus."""
    if base is None:
        base = counts.groupBy("key").agg(F.sum("c").alias("cb"))
    tot = base.agg(F.sum("cb").alias("ct"))
    joined = (counts
              .join(F.broadcast(base), "key")
              .crossJoin(F.broadcast(tot))
              .withColumn("_btot", F.sum("c").over(
                  Window.partitionBy(bucket_col))))
    p = F.col("c") / F.col("_btot")
    q = F.col("cb") / F.col("ct")
    return (joined.groupBy(bucket_col)
            .agg(F.sum("c").alias("n_events"),
                 F.count(F.lit(1)).cast("int").alias("n_types"),
                 F.sum(p * F.log(p / q)).alias("_kl"),
                 F.sum(F.abs(p - q)).alias("_l1_present"),
                 F.sum(q).alias("_q_present"))
            .select(bucket_col, "n_events", "n_types",
                    round_fixed(F.col("_kl"), 6).alias("kl_nats"),
                    round_fixed(
                        (F.col("_l1_present") + 1.0 - F.col("_q_present"))
                        / 2.0, 6).alias("tvd")))


def distribution_drift(df: DataFrame, key_col: str = "event_type",
                       ts_col: str = "ts") -> DataFrame:
    """Per-day categorical drift of ``key_col`` vs the full-period
    baseline: (day, n_events, n_types, kl_nats, tvd)."""
    # localCheckpoint pins the (days × keys)-sized count table so the
    # baseline aggregates from it instead of replanning the corpus scan
    # (the same diamond-reuse fix as key_skew_report; plan-shape-tested)
    counts = (df.select(F.to_date(F.col(ts_col)).alias("day"),
                        sentinel_key(F.col(key_col)).alias("key"))
              .groupBy("day", "key")
              .agg(F.count(F.lit(1)).alias("c"))
              .localCheckpoint(eager=False))
    out = divergence_by_bucket(counts, "day")
    # dates travel as strings: the driver's pandas canonicalizer turns
    # DuckDB DATEs into midnight Timestamps otherwise
    return out.select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                      "n_events", "n_types", "kl_nats", "tvd")


def incremental_drift_check(spark, new_events: DataFrame, store_path: str,
                            key_col: str = "event_type",
                            ts_col: str = "ts"):
    """Production-cadence drift gate: score an arriving DELTA (today's
    ingest) against the ACCUMULATED baseline distribution instead of
    re-scanning history — the incremental twin of distribution_drift,
    same shape as dedup's incremental stores. Returns
    ``(report, counts)``: the per-day KL/TVD report for the delta's
    buckets vs the stored baseline, and a funnel dict.

    Store contract: a ``sources/store.BatchStore`` of per-key counts
    whose groupBy-sum at read is the baseline. First call bootstraps the
    store from the delta and scores it against itself (self-baseline —
    the report is then the within-period mix variation). Each call
    commits the delta's counts, so the baseline is every delta ingested
    so far; a retried delta is scored against the store without itself
    and replaces its own counts instead of double-weighting them.

    Scale: the delta scans once (map-side-combining groupBy); the store
    carries |keys| × runs rows, key-cardinality-sized, never events.
    """
    grouped = (new_events
               .select(F.to_date(F.col(ts_col)).alias("day"),
                       sentinel_key(F.col(key_col)).alias("key"),
                       *key_columns(new_events))
               .groupBy("day", "key")
               .agg(F.count(F.lit(1)).alias("c"), *key_sums())
               .localCheckpoint(eager=False))
    counts_df = grouped.select("day", "key", "c")
    delta_base = counts_df.groupBy("key").agg(F.sum("c").alias("cb"))

    trow = grouped.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
                       *key_sums()).first()
    total = int(trow["n"])
    if total == 0:
        # nothing to score and nothing to learn: leave the store
        # untouched (a bootstrap from an empty delta would persist an
        # empty baseline and every later run would silently score
        # against the fabricated add-one-uniform floor)
        report = spark.createDataFrame(
            [], "day string, n_events long, n_types int, "
                "kl_nats double, tvd double")
        return report, {"delta_events": 0, "delta_keys": 0,
                        "bootstrapped": False}

    store = BatchStore(spark, store_path, batch_key(total, trow))
    stored = store.read()
    bootstrapped = stored is None
    if bootstrapped:
        base = delta_base
    else:
        stored = stored.groupBy("key").agg(F.sum("cb").alias("cb"))
        # KL needs q > 0 for every delta key: a never-seen category gets
        # the standard add-one floor so it SCREAMS in the report (huge
        # p*ln(p/q) term) instead of crashing or silently dropping.
        # The stored keys ABSENT from the delta stay in the baseline —
        # their mass is exactly what the TVD absent-category term
        # (1 − Σ q_present) measures.
        novel = (delta_base.join(stored, "key", "left_anti")
                 .select("key", F.lit(1).cast("long").alias("cb")))
        base = stored.unionByName(novel)

    report = (divergence_by_bucket(counts_df, "day", base=base)
              .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                      "n_events", "n_types", "kl_nats", "tvd"))
    stats = {
        "delta_events": total,
        "delta_keys": delta_base.count(),
        "bootstrapped": bootstrapped,
    }
    store.commit(delta_base)
    return report, stats
