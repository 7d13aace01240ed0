"""Skew diagnostics and the salted hot-key join.

At 100TB a handful of hot keys (one dominant event_type, one mega-nation)
can make a single reducer the straggler of an otherwise uniform shuffle.

GROUP-BY skew needs no operator here: Spark's HashAggregate already runs
in two phases (a partial aggregate per map task, then a final aggregate
per key), so a hot key's reducer receives one partial row per map task,
not the key's raw rows.

JOIN skew is different: a shuffle join sends every raw row of a hot key
to one reducer. ``salted_join`` splits each hot key across ``buckets``
reducers up front. AQE's after-the-fact skew split does not match it:
on ``local[4]`` at sf0.1 the ``skew_join_salted`` registry entry runs in
about 3.5 s against 6.2 s for ``skew_join_plain``.
``key_skew_report`` and ``join_fanout_report`` say when it is warranted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(big: DataFrame, small: DataFrame, on: list[str] | str,
                buckets: int = 16, how: str = "inner",
                salt_by: str | None = None) -> DataFrame:
    """Hot-key equi-join for when the small side is too large to
    broadcast AND one join key dominates the big side: a plain shuffle
    join sends every row of the hot key to ONE reducer (the classic
    straggler), while AQE's skew split only helps sort-merge partitions
    after the fact. Salting splits each hot key across ``buckets``
    reducers up front:

      big side:   one salt in [0, buckets) spreading rows of the SAME
                  key — DETERMINISTIC per row content: xxhash64 over
                  ``salt_by`` when given (a unique row id gives perfect
                  spread), else over every big-side column (identical
                  duplicate rows then share a bucket — correct, just
                  less spread on duplicate-heavy data). A
                  nondeterministic salt (row number, rand) would
                  re-route rows on task retry after a fetch failure —
                  the SPARK-23207 class of silent row loss/duplication
                  — so it is never used here;
      small side: replicated once per salt value (explode), so every
                  (key, salt) shard sees the key's full small-side rows.

    Join on (keys + salt) — each big row meets each matching small row
    exactly once, so the result multiset is IDENTICAL to the direct
    join (duplicate small-side keys included); ``how`` supports inner
    and left (an unmatched big row survives with nulls exactly as in
    the direct left join). Cost: small side shuffles buckets× its size
    — the right trade when small × buckets << big's hot-key volume.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    salt_src = (F.xxhash64(F.col(salt_by)) if salt_by
                else F.xxhash64(*[F.col(c) for c in big.columns]))
    big_s = big.withColumn(
        "_salt", F.pmod(salt_src, F.lit(buckets)).cast("int"))
    small_r = (small
               .withColumn("_salt",
                           F.explode(F.sequence(F.lit(0),
                                                F.lit(buckets - 1))))
               .withColumn("_salt", F.col("_salt").cast("int")))
    return big_s.join(small_r, keys + ["_salt"], how).drop("_salt")


def _topk_with_shares(counts, value_col: str, stats, total_col: str,
                      top_k: int):
    """Shared no-giant-window top-k scaffolding for this module's
    diagnostics (key_skew_report, join_fanout_report): TakeOrdered the
    top_k rows of the key-cardinality-sized count table by
    ``value_col`` (key tie-break), broadcast the single-row ``stats``
    frame onto them, and attach rank / share / cum_share (round-6 over
    ``total_col``). The only windows run over the k survivors — the
    distinct-key table itself can be billions of rows at 100 TB and
    must never meet a partition-less window."""
    from pyspark.sql import Window

    from asvsp_spark.plans.base import round_fixed

    order = [F.desc(value_col), F.asc("key")]
    top = (counts.orderBy(*order).limit(top_k)
           .crossJoin(F.broadcast(stats)))
    w_cum = (Window.orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (top
            .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
            .withColumn("share",
                        round_fixed(F.col(value_col) / F.col(total_col), 6))
            .withColumn("cum_share",
                        round_fixed(F.sum(value_col).over(w_cum)
                                    / F.col(total_col), 6)))


def join_fanout_report(left: DataFrame, right: DataFrame, key_col: str,
                       right_key_col: str | None = None,
                       top_k: int = 10) -> DataFrame:
    """The other half of ``key_skew_report``: predict a join's OUTPUT
    explosion before paying the shuffle. For an equi-join, each key
    emits n_left × n_right rows — one hot key on both sides turns a
    "join two 1 TB tables" plan into a 100 TB output nobody asked for.
    This report names the top-k keys by emitted rows, their share of
    the total join output, and the total itself, so the caller can
    dedup/aggregate a side, df-cap, or salt BEFORE running the join.

    Plan shape: one map-side-combining groupBy per side — the join here
    is between the two KEY-CARDINALITY-sized count tables, never the
    raw rows; the total collapses to ONE aggregate row that broadcasts
    onto the TakeOrdered top-k survivors, and the only window runs over
    those k rows (same no-giant-window discipline as key_skew_report —
    a join's distinct-key table can itself be billions of rows at
    100 TB, so no partition-less window may ever see it). NULL keys are
    excluded up front (they never match an equi-join). Inner-join
    semantics: keys absent from either side emit nothing and do not
    appear.

    Output: (rank, key, n_left, n_right, out_rows, share, cum_share,
    total_out_rows), ordered by out_rows DESC with deterministic key
    tie-break.
    """
    rkey = right_key_col or key_col
    lc = (left.select(F.col(key_col).alias("key")).na.drop()
          .groupBy("key").agg(F.count(F.lit(1)).alias("n_left")))
    rc = (right.select(F.col(rkey).alias("key")).na.drop()
          .groupBy("key").agg(F.count(F.lit(1)).alias("n_right")))
    both = (lc.join(rc, "key")
            .withColumn("out_rows", F.col("n_left") * F.col("n_right"))
            .localCheckpoint(eager=False))
    stats = both.agg(F.sum("out_rows").alias("total_out_rows"))
    return (_topk_with_shares(both, "out_rows", stats,
                              "total_out_rows", top_k)
            .select("rank", "key", "n_left", "n_right", "out_rows",
                    "share", "cum_share", "total_out_rows"))


def key_skew_report(df: DataFrame, key_col: str,
                    top_k: int = 10) -> DataFrame:
    """Pre-shuffle skew diagnostics for a join/group key: the top-k
    hottest keys with their share of all rows and their ratio to the
    median key's row count — the numbers that decide whether a plain
    shuffle is safe, AQE's skew split suffices, or ``salted_join`` is
    warranted (rule of thumb: skew_vs_median in the hundreds means the
    hot key's reducer IS the job's wall-clock).

    Plan shape: ONE corpus-scale map-side-combining groupBy(key); the
    per-key count table (key-cardinality-sized, not corpus-sized) is
    then aggregated to a single global stats row that broadcasts back
    onto the top-k survivors — no second corpus scan, no driver
    collect. Output: (rank, key, n_rows, share, cum_share, n_keys,
    median_key_rows, skew_vs_median).
    """
    from asvsp_spark.plans.base import round_fixed

    from asvsp_spark.operators.drift import sentinel_key

    # localCheckpoint pins the key-cardinality-sized count table so the
    # two consumers below (global stats, top-k) reuse ONE corpus scan —
    # without it Spark recomputes the shared aggregate subtree and reads
    # the fact table twice (plan-shape-tested). NULL keys — routinely
    # the hottest join key in real data — fold into the '<null>'
    # sentinel so they show up as a diagnosed group instead of
    # diverging on NULLS FIRST/LAST sort order across engines.
    counts = (df.select(sentinel_key(F.col(key_col)).alias("key"))
              .groupBy("key")
              .agg(F.count(F.lit(1)).alias("n_rows"))
              .localCheckpoint(eager=False))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        F.percentile(F.col("n_rows"), 0.5).alias("median_key_rows"))
    return _topk_with_shares(counts, "n_rows", stats,
                             "total_rows", top_k).select(
        "rank", "key", "n_rows", "share", "cum_share", "n_keys",
        round_fixed(F.col("median_key_rows"), 6).alias("median_key_rows"),
        round_fixed(F.col("n_rows") / F.col("median_key_rows"), 6)
        .alias("skew_vs_median"),
    )
