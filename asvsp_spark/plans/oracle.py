"""DuckDB oracle SQL for every oracle-checkable query.

One entry per `queries()` key (driver contract in __spark_entry__.py).
Dialect notes: DuckDB rank()/ntile()/year() return BIGINT where Spark
returns INT — cast where the Spark side is INT so stringified values and
schemas line up. DuckDB dayofweek() is 0=Sunday..6=Saturday while Spark
dayofweek() is 1=Sunday..7=Saturday.
"""

from __future__ import annotations

from asvsp_spark.plans.base import (
    SQL_DAILY_PRIO_REVENUE,
    SQL_MONTHLY_REVENUE,
    SQL_YEARLY_REVENUE,
)

ORACLE: dict[str, str] = {}

ORACLE["q01_yearly_rank_yoy"] = f"""
WITH yearly AS ({SQL_YEARLY_REVENUE}),
ranked AS (
    SELECT nation, yr, revenue,
           CAST(rank() OVER (PARTITION BY yr ORDER BY revenue DESC, nation NULLS LAST) AS INT) AS rnk
    FROM yearly
),
lagged AS (
    SELECT *, lag(rnk) OVER (PARTITION BY nation ORDER BY yr NULLS LAST) AS prev_rnk
    FROM ranked
)
SELECT nation, yr, revenue, rnk,
       CAST(coalesce(prev_rnk - rnk, 0) AS INT) AS rank_change
FROM lagged WHERE rnk <= 10
"""

ORACLE["q02_peak_month"] = f"""
WITH monthly AS ({SQL_MONTHLY_REVENUE}),
peaks AS (
    SELECT nation, yr, mon AS peak_month, revenue AS peak_revenue
    FROM (
        SELECT *, rank() OVER (PARTITION BY nation, yr ORDER BY revenue DESC, mon NULLS LAST) AS rn
        FROM monthly
    ) WHERE rn = 1
),
freq AS (
    SELECT nation, peak_month AS most_frequent_peak_month,
           n_years AS peak_month_frequency
    FROM (
        SELECT nation, peak_month, count(*) AS n_years,
               rank() OVER (PARTITION BY nation ORDER BY count(*) DESC, peak_month NULLS LAST) AS freq_rank
        FROM peaks GROUP BY nation, peak_month
    ) WHERE freq_rank = 1
)
SELECT p.nation, p.yr, p.peak_month, p.peak_revenue,
       f.most_frequent_peak_month, f.peak_month_frequency
FROM peaks p JOIN freq f ON p.nation = f.nation
"""

ORACLE["q03_cumulative_top10"] = """
WITH yearly AS (
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
           count(*) AS high_value_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice > 400000.0
    GROUP BY 1, 2
),
traced AS (
    SELECT *, CAST(sum(high_value_orders) OVER (
        PARTITION BY nation ORDER BY yr NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cumulative_high_value_orders
    FROM yearly
),
totals AS (
    SELECT nation, max(cumulative_high_value_orders) AS total_high_value_orders
    FROM traced GROUP BY nation
    ORDER BY total_high_value_orders DESC, nation NULLS LAST
    LIMIT 10
)
SELECT t.nation, t.yr, t.high_value_orders,
       t.cumulative_high_value_orders, s.total_high_value_orders
FROM traced t JOIN totals s ON t.nation = s.nation
"""

ORACLE["q04_mom_pct_change"] = f"""
WITH monthly AS ({SQL_MONTHLY_REVENUE})
SELECT nation, yr, mon, revenue,
       lag(revenue) OVER (PARTITION BY nation ORDER BY yr NULLS LAST, mon NULLS LAST) AS prev_month_revenue,
       -- + 0.0 maps -0.0 to 0.0: Spark rounds through BigDecimal (no -0.0)
       round((revenue - lag(revenue) OVER (PARTITION BY nation ORDER BY yr NULLS LAST, mon NULLS LAST))
             / lag(revenue) OVER (PARTITION BY nation ORDER BY yr NULLS LAST, mon NULLS LAST) * 100.0
             * 100) / 100.0 + 0.0
           AS mom_pct_change
FROM monthly
"""

ORACLE["q05_same_month_yoy"] = f"""
WITH monthly AS ({SQL_MONTHLY_REVENUE}),
changes AS (
    SELECT nation, yr, mon, revenue_cents,
           lag(revenue_cents) OVER (PARTITION BY nation, mon ORDER BY yr NULLS LAST) AS prev_year_cents
    FROM monthly
),
avg_change AS (
    SELECT nation,
           CAST(round(sum(revenue_cents - prev_year_cents) / count(*)) AS BIGINT) / 100.0
               AS avg_yoy_change
    FROM changes WHERE prev_year_cents IS NOT NULL
    GROUP BY nation
),
ranked AS (
    SELECT nation, avg_yoy_change,
           CAST(rank() OVER (ORDER BY avg_yoy_change ASC NULLS LAST, nation NULLS LAST) AS INT) AS rank_declining,
           CAST(rank() OVER (ORDER BY avg_yoy_change DESC, nation NULLS LAST) AS INT) AS rank_growing
    FROM avg_change
)
SELECT nation, avg_yoy_change, rank_declining, rank_growing,
       CASE WHEN rank_growing <= 10 THEN 'growing' ELSE 'declining' END AS trend
FROM ranked WHERE rank_declining <= 10 OR rank_growing <= 10
"""

ORACLE["q06_moving_average"] = f"""
WITH daily AS ({SQL_DAILY_PRIO_REVENUE}),
mov AS (
    SELECT prio, day, CAST(year(day) AS INT) AS yr,
           CAST(round(sum(revenue_cents) OVER (
               PARTITION BY prio ORDER BY day NULLS LAST
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
             / count(*) OVER (
               PARTITION BY prio ORDER BY day NULLS LAST
               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)) AS BIGINT) / 100.0
               AS moving_avg_30d
    FROM daily
),
ranked AS (
    SELECT *, rank() OVER (PARTITION BY prio, yr
                           ORDER BY moving_avg_30d DESC, day NULLS LAST) AS rn
    FROM mov
)
SELECT prio, yr, strftime(day, '%Y-%m-%d') AS peak_day, moving_avg_30d
FROM ranked WHERE rn = 1
"""

ORACLE["q07_ntile_quartiles"] = f"""
WITH daily AS ({SQL_DAILY_PRIO_REVENUE}),
tiled AS (
    SELECT prio, day, revenue, revenue_cents, CAST(year(day) AS INT) AS yr,
           CAST(ntile(4) OVER (PARTITION BY prio ORDER BY revenue DESC, day NULLS LAST) AS INT)
               AS quartile
    FROM daily
)
SELECT prio, yr, quartile, count(*) AS n_days,
       CAST(round(sum(revenue_cents) / count(*)) AS BIGINT) / 100.0 AS quartile_avg_revenue,
       CASE quartile WHEN 1 THEN 'peak' WHEN 2 THEN 'high'
                     WHEN 3 THEN 'moderate' ELSE 'low' END AS quartile_label
FROM tiled
GROUP BY prio, yr, quartile
"""

ORACLE["q08_period_compare"] = """
WITH no AS (
    SELECT n_name AS nation,
           CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mon
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
),
base AS (
    SELECT nation, CAST(sum(o_cents) AS BIGINT) / 100.0 AS base_revenue
    FROM no WHERE yr = 1995 AND mon IN (3, 4, 5) GROUP BY nation
),
comp AS (
    SELECT nation, CAST(sum(o_cents) AS BIGINT) / 100.0 AS comp_revenue
    FROM no WHERE yr = 1996 AND mon IN (3, 4, 5) GROUP BY nation
),
joined AS (
    SELECT b.nation, base_revenue, comp_revenue,
           round((comp_revenue - base_revenue) / base_revenue * 100.0 * 100) / 100.0
               AS pct_change
    FROM base b JOIN comp c ON b.nation = c.nation
),
ranked AS (
    SELECT *, CAST(rank() OVER (ORDER BY pct_change ASC NULLS LAST, nation NULLS LAST) AS INT) AS drop_rank
    FROM joined
)
SELECT nation, base_revenue, comp_revenue, pct_change, drop_rank
FROM ranked WHERE drop_rank <= 15
"""

ORACLE["q09_weekend_effect"] = f"""
WITH daily AS ({SQL_DAILY_PRIO_REVENUE}),
flagged AS (
    SELECT *, dayofweek(day) IN (0, 6) AS is_weekend FROM daily
),
agg AS (
    SELECT prio,
           CAST(round(sum(CASE WHEN is_weekend THEN revenue_cents END)
                 / count(CASE WHEN is_weekend THEN revenue_cents END)) AS BIGINT) / 100.0
               AS weekend_avg,
           CAST(round(sum(CASE WHEN NOT is_weekend THEN revenue_cents END)
                 / count(CASE WHEN NOT is_weekend THEN revenue_cents END)) AS BIGINT) / 100.0
               AS weekday_avg
    FROM flagged GROUP BY prio
),
ratio AS (
    SELECT *, round(weekend_avg / weekday_avg * 10000) / 10000.0 AS weekend_ratio FROM agg
)
SELECT prio, weekend_avg, weekday_avg, weekend_ratio,
       CAST(rank() OVER (ORDER BY weekend_ratio ASC NULLS LAST, prio NULLS LAST) AS INT) AS rank_lowest,
       CAST(rank() OVER (ORDER BY weekend_ratio DESC, prio NULLS LAST) AS INT) AS rank_highest,
       CASE WHEN weekend_ratio > 1.0 THEN 'weekend_heavy'
            WHEN weekend_ratio < 1.0 THEN 'weekday_heavy'
            ELSE 'neutral' END AS weekend_effect
FROM ratio
"""

ORACLE["q10_improvement_streaks"] = f"""
WITH monthly AS ({SQL_MONTHLY_REVENUE}),
flagged AS (
    SELECT nation, yr, mon, revenue,
           lag(revenue) OVER (PARTITION BY nation ORDER BY yr NULLS LAST, mon NULLS LAST) AS prev_revenue
    FROM monthly
),
grouped AS (
    SELECT *,
           (prev_revenue IS NOT NULL AND revenue < prev_revenue) AS declining,
           sum(CASE WHEN prev_revenue IS NOT NULL AND revenue < prev_revenue
                    THEN 0 ELSE 1 END)
               OVER (PARTITION BY nation ORDER BY yr NULLS LAST, mon NULLS LAST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM flagged
),
streaks AS (
    SELECT nation, grp, count(*) AS streak_len,
           min(yr * 100 + mon) AS streak_start
    FROM grouped WHERE declining
    GROUP BY nation, grp
),
best AS (
    SELECT nation, max(streak_len) AS longest_streak FROM streaks GROUP BY nation
),
top AS (
    SELECT nation, longest_streak,
           CAST(rank() OVER (ORDER BY longest_streak DESC, nation NULLS LAST) AS INT) AS rnk
    FROM best
)
SELECT t.nation, CAST(t.longest_streak AS BIGINT) AS longest_streak,
       CAST(min(s.streak_start) AS INT) AS streak_start, t.rnk
FROM top t
JOIN streaks s ON s.nation = t.nation AND s.streak_len = t.longest_streak
WHERE t.rnk <= 15
GROUP BY t.nation, t.longest_streak, t.rnk
"""

# ---- time-series operators (operators/asof.py, operators/sessions.py) ----

# as-of join: DuckDB has a NATIVE ASOF JOIN — the ideal oracle for the
# engine's union+window implementation. Right side pre-aggregated to one
# row per (customer, day) so "the most recent" is unambiguous in both
# engines. Timestamp comparison: events.ts microsecond floor vs whole-day
# boundaries — floor cannot cross a midnight, so nanos vs micros agree.
ORACLE["asof_last_order"] = """
WITH od AS (
    SELECT o_custkey AS user_id, o_orderdate AS od,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents,
           max(o_orderkey) AS last_orderkey
    FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       e.event_type,
       strftime(o.od, '%Y-%m-%d') AS last_order_day,
       o.last_orderkey,
       o.day_cents / 100.0 AS last_order_day_revenue,
       date_diff('day', o.od, CAST(e.ts AS DATE)) AS days_since_order
FROM events e
ASOF LEFT JOIN od o
  ON e.user_id = o.user_id AND e.ts >= CAST(o.od AS TIMESTAMP)
"""

# sessionization: gaps-and-islands twin of F.session_window. New session
# iff the µs gap is STRICTLY GREATER than 30min — Spark merges an event
# arriving at exactly last_ts + gap (verified in
# tests/test_timeseries_ops.py::test_session_window_gap_boundary).
# epoch_us on the µs-cast ts matches Spark's truncated-to-micros event
# time exactly.
ORACLE["sessionize_users"] = """
WITH e AS (
    SELECT user_id, ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
    -- an event with no timestamp belongs to no session: Spark's
    -- session_window drops NULL event-time rows by design, and that is
    -- the semantic we keep (deliberate exclusion, not silent loss —
    -- NULL-ts rows surface in data_quality_report; r10 edge probe)
    WHERE ts IS NOT NULL
),
flagged AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_s
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(round(sum(v) / count(*)) AS BIGINT) / 100.0 AS avg_value,
       max(us) - min(us) AS dwell_us
FROM sess GROUP BY user_id, sid
"""

# exact distinct-count family (the approx_count_distinct twin is
# deliberately oracle-less: HLL estimates differ across engines)
ORACLE["distinct_users_daily"] = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events GROUP BY 1
"""
