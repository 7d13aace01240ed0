"""DuckDB oracle SQL for the rollup hierarchy (operators/rollups.py).

Dialect shims: DuckDB dayofweek() is 0=Sun..6=Sat (Spark: 1..7);
hour()/month()/year() return BIGINT (cast to INT); integer sums return
HUGEINT (cast to BIGINT). Value math is integer centi-units end-to-end,
mirroring rollups.value_centi.
"""

from __future__ import annotations

SQL_EVENTS_DAILY = """
    SELECT event_type, day_d,
           CAST(sum(v) AS BIGINT) AS vs,
           -- count(value), not count(*): the engine counts non-NULL
           -- MEASUREMENTS (F.count("value")); an all-NULL-value day
           -- groups with n_events = 0 and NULL avg/max in both engines
           -- (r10 events edge probe)
           count(value) AS n_events,
           max(value) AS daily_max
    FROM (
        SELECT event_type, CAST(ts AS DATE) AS day_d,
               CAST(round(value * 100) AS BIGINT) AS v, value
        FROM events
    ) GROUP BY 1, 2
"""

ORACLE_ROLLUPS: dict[str, str] = {}

ORACLE_ROLLUPS["rollup_daily_events"] = f"""
WITH d AS ({SQL_EVENTS_DAILY})
SELECT event_type, strftime(day_d, '%Y-%m-%d') AS day,
       CAST(round(vs / n_events) AS BIGINT) / 100.0 AS daily_avg,
       daily_max, n_events,
       CAST(dayofweek(day_d) + 1 AS INT) AS day_of_week,
       dayofweek(day_d) IN (0, 6) AS is_weekend,
       CAST(year(day_d) AS INT) AS yr, CAST(month(day_d) AS INT) AS mon
FROM d
"""

ORACLE_ROLLUPS["rollup_monthly_events"] = f"""
WITH d AS ({SQL_EVENTS_DAILY}),
daily AS (
    SELECT event_type, day_d,
           CAST(round(vs / n_events) AS BIGINT) / 100.0 AS daily_avg,
           daily_max,
           CAST(year(day_d) AS INT) AS yr, CAST(month(day_d) AS INT) AS mon
    FROM d
),
monthly AS (
    SELECT event_type, yr, mon,
           CAST(sum(CAST(round(daily_avg * 100) AS BIGINT)) AS BIGINT) AS davg_sum,
           count(*) AS days_with_data,
           max(daily_max) AS monthly_max,
           CAST(sum(CASE WHEN daily_avg > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS exceedance_days
    FROM daily GROUP BY 1, 2, 3
),
avgd AS (
    SELECT event_type, yr, mon,
           CAST(round(davg_sum / days_with_data) AS BIGINT) / 100.0 AS monthly_avg,
           monthly_max, days_with_data, exceedance_days
    FROM monthly
)
SELECT event_type, yr, mon, monthly_avg, monthly_max, days_with_data,
       exceedance_days,
       lag(monthly_avg) OVER (PARTITION BY event_type ORDER BY yr, mon)
           AS prev_month_avg,
       -- + 0.0 maps -0.0 to 0.0: Spark rounds through BigDecimal (no -0.0)
       round((monthly_avg - lag(monthly_avg) OVER (PARTITION BY event_type ORDER BY yr, mon))
             / lag(monthly_avg) OVER (PARTITION BY event_type ORDER BY yr, mon) * 100.0
             * 100) / 100.0 + 0.0
           AS mom_pct_change,
       lag(monthly_avg) OVER (PARTITION BY event_type, mon ORDER BY yr)
           AS same_month_prev_year_avg,
       round((monthly_avg - lag(monthly_avg) OVER (PARTITION BY event_type, mon ORDER BY yr))
             * 10000) / 10000.0
           AS yoy_month_change
FROM avgd
"""

ORACLE_ROLLUPS["baselines_events"] = """
WITH k AS (
    SELECT event_type, CAST(month(ts) AS INT) AS mon, CAST(hour(ts) AS INT) AS hr,
           dayofweek(CAST(ts AS DATE)) IN (0, 6) AS is_weekend,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
),
a AS (
    SELECT event_type, mon, hr, is_weekend,
           -- count(v), not count(*): mirrors F.count("v") on NULL
           -- values (r10 events edge probe)
           count(v) AS n_obs,
           CAST(sum(v) AS BIGINT) AS s1,
           CAST(sum(v * v) AS BIGINT) AS s2
    FROM k GROUP BY 1, 2, 3, 4
)
SELECT event_type, mon, hr, is_weekend, n_obs,
       CAST(round(s1 / n_obs) AS BIGINT) / 100.0 AS baseline_avg,
       CASE WHEN n_obs > 1
            THEN round(sqrt(greatest(0.0, (s2 - s1 * s1 / n_obs) / (n_obs - 1))) / 100
                       * 10000) / 10000.0
            ELSE NULL END AS baseline_stddev
FROM a
"""

ORACLE_ROLLUPS["rollup_annual_nation"] = """
WITH yearly AS (
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
),
d AS (
    SELECT nation, yr, revenue_cents / 100.0 AS revenue,
           lag(revenue_cents / 100.0) OVER (PARTITION BY nation ORDER BY yr)
               AS prev_year_revenue,
           CAST(sum(revenue_cents) OVER (
               PARTITION BY nation ORDER BY yr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
               AS cumulative_revenue
    FROM yearly
)
SELECT nation, yr, revenue, prev_year_revenue,
       round((revenue - prev_year_revenue) / prev_year_revenue * 100.0 * 100) / 100.0
           AS yoy_pct_change,
       cumulative_revenue
FROM d
"""
