"""Shared conformed-dimension building blocks for the analytic queries.

The reference's analytic layer is a rollup hierarchy over one fact table
(SURVEY §1.1); here the driver's TPC-H-ish tables play that role. These
helpers are the engine's "conformed facts": every q01-q10 analytic query
derives from them, mirroring how the reference's q01-q10 all read the
daily/monthly/annual rollups (reference src/queries/*.sql).

Money math is integer-cents end to end: ``o_totalprice`` is quantized to
BIGINT cents at the scan, all sums/averages run over exact integers
(order-independent — floating sums are NOT, and at cluster scale partial
aggregation order is nondeterministic), and dollars reappear only in the
output projection. This makes every aggregate bit-identical across engines,
runs, and cluster layouts, which the oracle hash-compare requires.

Scale notes (100TB): the orders->customer->nation join broadcasts the two
dimension tables (nation is 25 rows; customer at huge scale may stop being
broadcastable — the join stays key-partitioned so AQE falls back to
SortMergeJoin past the broadcast threshold). All downstream aggregates
group by (nation | priority, time) — low cardinality — so partial
aggregation (map-side combine) collapses virtually all rows before any
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

MONEY_SCALE = 2
RATE_SCALE = 4


def fanout(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure ``df`` enters a compute-heavy per-row stage with at least
    the session's default parallelism in partitions.

    Small-file guard, not a tuning knob: a sub-split-size parquet table
    arrives as ONE scan partition, which serializes every interpreted
    expression (higher-order lambdas run outside codegen) on a single
    core no matter how many the session has — measured 2.3x on the
    MinHash pipeline at sf0.1 (4.0 s -> 1.7 s on local[32]) purely from
    letting the shingle/hash projections run on all cores. At
    production scale a large scan arrives with thousands of splits, the
    predicate below is false, and this is a no-op — it never SHRINKS an
    existing partitioning, so it is always safe to call at an operator
    entry point. The round-robin exchange moves each row once and keys
    on nothing, so no skew and no semantic effect on any deterministic
    per-row + keyed-aggregation pipeline.

    Scale-adaptive clamp (r11, guide §2.5): the spread is bounded by
    the optimizer's size estimate — ceil(bytes /
    SPARK_GRAFT_FANOUT_SPLIT_BYTES, default 16 KiB) partitions — so a
    kilobyte-scale frame no longer round-robins onto every core (a
    third of the r10 core cohort ran FASTER at 8 cores than 32 purely
    from task overhead on tiny fanned-out inputs). 16 KiB per split
    keeps the original win: the sf0.1 documents scan estimate
    (~600 KB compressed) still spreads across all of local[32], while
    a kilobyte-scale calibration slice stays at a handful of tasks.
    Unknown statistics (negative or Long.Max defaultSizeInBytes)
    leave the clamp inactive — the
    failure mode is the old spread-to-all-cores behavior, never
    under-spreading.
    """
    if df.isStreaming:
        # streaming frames have no static partition count to inspect
        # (.rdd raises); micro-batch parallelism is the source's job
        return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= target:
        return df
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:  # stats unavailable -> no clamp, old behavior
        est = -1
    if est >= 0:
        import os
        split = int(os.environ.get(
            "SPARK_GRAFT_FANOUT_SPLIT_BYTES", str(16 << 10)))
        target = min(target, max(cur, -(-est // max(1, split))))
    if cur >= target:
        return df
    return df.repartition(target)


def round_fixed(col: Column, d: int) -> Column:
    """Cross-engine-stable round to d decimals: scale to integer space,
    round at 0 decimals, scale back. ``round(x, d)`` for d > 0 diverges
    between engines (Spark rounds the double's exact decimal expansion via
    BigDecimal HALF_UP; DuckDB rounds a scaled multiply), flipping the last
    digit near ties. Rounding the SAME product double at integer scale is
    identical everywhere; the oracle mirrors it as round(x * 10^d) / 10^d.
    """
    scale = 10 ** d
    return F.round(col * scale, 0) / float(scale)


def hex_slice_long(hex_col: Column, pos: int = 1, width: int = 8) -> Column:
    """``width`` hex chars of a hex string starting at 1-based ``pos``
    as a non-negative BIGINT. This is ONE HALF of the engine's
    cross-engine hash contract (see md5_slice_long); DuckDB twin:
    ``('0x' || substr(h, pos, width))::BIGINT``. Keep width <= 15 so
    the value stays inside signed-64 in both engines."""
    return F.conv(F.substring(hex_col, pos, width), 16, 10).cast("long")


def md5_slice_long(col: Column, slot: int = 0) -> Column:
    """The engine's cross-engine hash primitive, single-sourced: 32-bit
    slice ``slot`` (0..3) of md5(col) as BIGINT. Every deterministic
    hash decision (minhash signatures, simhash token hashes, sampling
    membership, shard assignment, DSIR feature buckets, bench
    checksums) derives from this one construction so the Spark/DuckDB
    bit-identity is maintained in exactly one place. DuckDB twin:
    ``('0x' || substr(md5(x), 1 + 8*slot, 8))::BIGINT``. Multiple slots
    of the same input share one md5 under whole-stage codegen
    subexpression elimination."""
    return hex_slice_long(F.md5(col), 1 + 8 * slot, 8)


def money_cents(col: Column) -> Column:
    """Quantize a dollar double to exact integer cents (deterministic:
    one multiply + one round on identical inputs)."""
    return F.round(col * 100, 0).cast("long")


def cents_to_dollars(cents: Column) -> Column:
    """Exact integer cents -> dollars double; identical in any engine
    because the integer input is identical and no re-rounding happens."""
    return cents / 100.0


def avg_dollars(cents_sum: Column, n: Column) -> Column:
    """Average in dollars from an exact cents sum, rounded in INTEGER cent
    space: cents/n is the same double in every engine, ties at .5 cents
    round up in both Spark (HALF_UP) and DuckDB (half away from zero, and
    money is positive), and the final /100.0 is a plain division — no
    decimal re-rounding, whose tie-breaking differs between engines."""
    return F.round(cents_sum / n, 0).cast("long") / 100.0


def nation_orders(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """orders enriched with the buying customer's nation name.

    Dimension sides are explicitly broadcast: Catalyst plans
    BroadcastHashJoin with no shuffle of the (huge) orders side.
    """
    return (
        orders
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_orderkey"),
            money_cents(F.col("o_totalprice")).alias("o_cents"),
            F.col("o_totalprice"),
            F.col("o_orderdate"),
            F.col("o_orderpriority"),
        )
    )


def yearly_nation_revenue(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """(nation, yr) -> revenue_cents + revenue. 25 x 7 groups."""
    return (
        nation_orders(orders, customer, nation)
        .groupBy(F.col("nation"), F.year("o_orderdate").alias("yr"))
        .agg(F.sum("o_cents").alias("revenue_cents"))
        .withColumn("revenue", cents_to_dollars(F.col("revenue_cents")))
    )


def monthly_nation_revenue(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """(nation, yr, mon) -> revenue_cents + revenue."""
    return (
        nation_orders(orders, customer, nation)
        .groupBy(
            F.col("nation"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(F.sum("o_cents").alias("revenue_cents"))
        .withColumn("revenue", cents_to_dollars(F.col("revenue_cents")))
    )


def daily_priority_revenue(orders: DataFrame) -> DataFrame:
    """(priority, day) -> revenue; the 'daily fact' for moving-average /
    quartile / weekend queries. No join needed — priority is on orders."""
    return (
        orders
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(money_cents(F.col("o_totalprice"))).alias("revenue_cents"))
        .withColumn("revenue", cents_to_dollars(F.col("revenue_cents")))
    )


# Oracle-side equivalents (DuckDB dialect). Kept next to the Spark builders
# so semantic drift is caught in review. CAST(... AS BIGINT) mirrors
# money_cents; sums over BIGINT are exact (DuckDB HUGEINT) and convert to
# identical doubles.
SQL_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

SQL_NATION_ORDERS = f"""
    SELECT n_name AS nation, o_orderkey, {SQL_CENTS} AS o_cents,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
"""

SQL_YEARLY_REVENUE = f"""
    SELECT nation, CAST(year(o_orderdate) AS INT) AS yr,
           CAST(sum(o_cents) AS BIGINT) AS revenue_cents,
           CAST(sum(o_cents) AS BIGINT) / 100.0 AS revenue
    FROM ({SQL_NATION_ORDERS}) GROUP BY 1, 2
"""

SQL_MONTHLY_REVENUE = f"""
    SELECT nation, CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon,
           CAST(sum(o_cents) AS BIGINT) AS revenue_cents,
           CAST(sum(o_cents) AS BIGINT) / 100.0 AS revenue
    FROM ({SQL_NATION_ORDERS}) GROUP BY 1, 2, 3
"""

SQL_DAILY_PRIO_REVENUE = f"""
    SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
           CAST(sum({SQL_CENTS}) AS BIGINT) AS revenue_cents,
           CAST(sum({SQL_CENTS}) AS BIGINT) / 100.0 AS revenue
    FROM orders GROUP BY 1, 2
"""
