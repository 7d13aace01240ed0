"""The benchmark's workloads. Each one drives the engine's public
functions in a closed loop with one client and checks what they return.

A workload has:
- ``tables``: the generated input tables it reads;
- ``round_size``: operations per round; the timed loop only stops
  between rounds (a dashboard round is one pass over its 17 queries);
- ``prepare()``: untimed, before the session starts (oracles, inputs);
- ``warm_up()``: the untimed warm-up whose cost is part of ``setup_s``:
  one pass for the dashboard, ``WARM_UP_OPS`` operations for the short
  write and drain operations, whose latency keeps falling over the
  first few runs in a fresh JVM;
- ``op()``: one timed operation, returning (latency_s, result); it times
  itself so that generator work around the engine call stays out;
- ``verify(result)``: a cheap per-operation check, run untimed;
- ``checks()``: the full correctness checks, run after the timed loop.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass

import datagen

DASHBOARD_QUERIES = (
    "q01_yearly_rank_yoy", "q02_peak_month", "q03_cumulative_top10",
    "q04_mom_pct_change", "q05_same_month_yoy", "q06_moving_average",
    "q07_ntile_quartiles", "q08_period_compare", "q09_weekend_effect",
    "q10_improvement_streaks", "q11_pricing_summary",
    "q12_late_shipments", "q13_supplier_margin_topk",
    "rollup_daily_events", "rollup_monthly_events", "baselines_events",
    "rollup_annual_nation",
)
WARM_UP_OPS = 5
WAREHOUSE_LAYERS = {"daily": "rollup_daily_events",
                    "monthly": "rollup_monthly_events",
                    "baselines": "baselines_events"}

# run_corpus_pipeline's funnel over the generated corpus (fixed corpus
# seed; the workload seed only shuffles row order), keyed by scale
CORPUS_GOLDEN = {
    0.1: {"raw": 5000, "quality_gated": 3751, "exact_deduped": 3739,
          "near_deduped": 3563, "rebalanced": 3413, "written": 3413},
    0.001: {"raw": 500, "quality_gated": 375, "exact_deduped": 373,
            "near_deduped": 356, "rebalanced": 273, "written": 273},
}


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    sf: float
    rec: object            # spans.Recorder; inactive on untraced runs


def _render(v) -> str:
    # -0.0 == 0.0: DuckDB keeps the sign of a rounded-away negative,
    # Spark's decimal rounding drops it (q04 when revenue barely falls)
    return "0.0" if isinstance(v, float) and v == 0 else str(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    value rendered with str() (zero without its sign), rows sorted."""
    h = hashlib.sha256()
    for r in sorted(tuple(_render(v) for v in row) for row in rows):
        h.update("|".join(r).encode())
    return h.hexdigest()


def spark_hash(df) -> tuple[str, int]:
    cols = sorted(df.columns)
    rows = [[row[c] for c in cols] for row in df.collect()]
    return value_hash(cols, rows), len(rows)


def oracle_results(data_dir: str, tables: tuple[str, ...],
                   names) -> dict[str, tuple[str, int]]:
    """(value hash, row count) of each named registry entry's DuckDB
    oracle over the generated tables."""
    import duckdb

    from asvsp_spark.plans.registry import all_oracle_sql
    sql = all_oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        rel = con.sql(sql[name])
        cols = sorted(rel.columns)
        idx = [rel.columns.index(c) for c in cols]
        rows = [[r[i] for i in idx] for r in rel.fetchall()]
        out[name] = (value_hash(cols, rows), len(rows))
    con.close()
    return out


class DashboardQueries:
    """q01-q13 plus four rollups, each from its factory call through
    .count(), in a seed-permuted order per pass."""

    name = "dashboard_queries"
    tables = datagen.TPCH_TABLES + ("events",)
    round_size = len(DASHBOARD_QUERIES)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.queue: list[str] = []
        self.warm: dict[str, tuple[str, int]] = {}

    def prepare(self) -> None:
        self.oracle = oracle_results(self.ctx.data_dir, self.tables,
                                     DASHBOARD_QUERIES)

    def _factories(self):
        from asvsp_spark.plans.registry import all_queries
        return all_queries()

    def warm_up(self) -> None:
        qs = self._factories()
        for name in self.rng.sample(DASHBOARD_QUERIES, self.round_size):
            self.warm[name] = spark_hash(qs[name](self.ctx.spark,
                                                  self.ctx.data_dir))

    def op(self):
        if not self.queue:
            self.queue = self.rng.sample(DASHBOARD_QUERIES, self.round_size)
        name = self.queue.pop(0)
        factory = self._factories()[name]
        rec = self.ctx.rec
        t0 = time.perf_counter()
        with rec.span("plans", "build"):
            df = factory(self.ctx.spark, self.ctx.data_dir)
        with rec.span("plans", "execute"):
            n = df.count()
        return time.perf_counter() - t0, (name, n)

    def verify(self, result) -> bool:
        name, n = result
        return n == self.oracle[name][1]

    def checks(self) -> list[tuple[str, bool]]:
        return [(name, self.warm.get(name) == self.oracle[name])
                for name in DASHBOARD_QUERIES]


class WarehouseBuild:
    """pipeline.run_batch_chain into a fresh directory, then a count of
    each written layer read back."""

    name = "warehouse_build"
    tables = ("events",)
    round_size = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = os.path.join(ctx.work_dir, "warehouse")
        self.builds = 0
        self.layers = None

    def prepare(self) -> None:
        self.oracle = oracle_results(self.ctx.data_dir, self.tables,
                                     WAREHOUSE_LAYERS.values())

    def _build(self):
        from asvsp_spark import pipeline
        out = os.path.join(self.root, f"build-{self.builds}")
        self.builds += 1
        t0 = time.perf_counter()
        layers = pipeline.run_batch_chain(self.ctx.spark, self.ctx.data_dir,
                                          out)
        counts = {k: df.count() for k, df in layers.items()}
        dt = time.perf_counter() - t0
        prev = os.path.join(self.root, f"build-{self.builds - 2}")
        shutil.rmtree(prev, ignore_errors=True)
        self.layers = layers
        return dt, counts

    def warm_up(self) -> None:
        for _ in range(WARM_UP_OPS):
            self._build()

    def op(self):
        return self._build()

    def verify(self, counts) -> bool:
        return all(counts[k] == self.oracle[q][1]
                   for k, q in WAREHOUSE_LAYERS.items())

    def checks(self) -> list[tuple[str, bool]]:
        from pyspark.sql import functions as F
        out = []
        for layer, query in WAREHOUSE_LAYERS.items():
            df = self.layers[layer]
            if "day" in df.columns:
                df = df.withColumn("day", F.date_format("day", "yyyy-MM-dd"))
            cols = self._oracle_columns(query)
            out.append((layer,
                        spark_hash(df.select(*cols)) == self.oracle[query]))
        return out

    def _oracle_columns(self, query: str) -> list[str]:
        from asvsp_spark.plans.registry import all_queries
        return all_queries()[query](self.ctx.spark,
                                    self.ctx.data_dir).columns


class HourlyReplay:
    """The stream-drain cadence: write the next event-hour slice of the
    generated events as a new parquet file, then drain it with
    incremental_hourly_drain against one persistent checkpoint."""

    name = "hourly_replay"
    tables = ("events",)
    round_size = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        root = os.path.join(ctx.work_dir, "replay")
        self.events_dir = os.path.join(root, "events")
        self.sink = os.path.join(root, "sink")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.events_dir)
        self.drained_events = 0

    def prepare(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq
        self.events = pq.read_table(
            os.path.join(self.ctx.data_dir, "events.parquet"))
        hours = ((self.events.column("ts").to_numpy()
                  - datagen.EVENTS_START) // np.timedelta64(1, "h"))
        self.bounds = np.searchsorted(hours, np.arange(datagen.EVENT_HOURS + 1))
        # the seed picks the start hour; at least 10 days stay ahead of it
        self.hour = random.Random(self.ctx.seed).randrange(
            datagen.EVENT_HOURS - 240)
        self.first_hour = self.hour

    def _write_next_slice(self) -> int:
        import pyarrow.parquet as pq
        if self.hour >= datagen.EVENT_HOURS:
            raise RuntimeError("replay ran past the generated events")
        lo, hi = self.bounds[self.hour], self.bounds[self.hour + 1]
        name = f"hour-{self.hour:04d}.parquet"
        tmp = os.path.join(self.events_dir, f".{name}")
        pq.write_table(self.events.slice(lo, hi - lo), tmp)
        os.rename(tmp, os.path.join(self.events_dir, name))
        self.hour += 1
        return int(hi - lo)

    def _drain(self):
        from asvsp_spark.streaming import queries
        n = self._write_next_slice()
        t0 = time.perf_counter()
        queries.incremental_hourly_drain(self.ctx.spark, self.events_dir,
                                         self.sink, self.ckpt)
        return time.perf_counter() - t0, n

    def warm_up(self) -> None:
        for _ in range(WARM_UP_OPS):
            self._drain()

    def op(self):
        dt, n = self._drain()
        self.drained_events += n
        return dt, n

    def verify(self, n) -> bool:
        return True

    def sink_partitions(self) -> int:
        return sum(1 for _, dirs, files in os.walk(self.sink)
                   if not dirs and any(f.endswith(".parquet") for f in files))

    def checks(self) -> list[tuple[str, bool]]:
        """The sink equals a one-shot hourly rollup of every replayed
        event, computed by DuckDB from the slice files."""
        import duckdb
        con = duckdb.connect()
        rel = con.sql(f"""
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   sum(CAST(round(value * 100) AS BIGINT)) AS v_sum_centi,
                   CAST(round(sum(CAST(round(value * 100) AS BIGINT))
                              / count(*)) AS BIGINT) / 100.0 AS avg_value
            FROM parquet_scan('{self.events_dir}/*.parquet')
            GROUP BY ALL""")
        want = sorted(rel.fetchall())
        con.close()
        # partition discovery may type window_start as a timestamp
        got = sorted(
            (str(r["window_start"]), r["event_type"], r["n_events"],
             r["v_sum_centi"], r["avg_value"])
            for r in self.ctx.spark.read.parquet(self.sink).collect())
        return [("sink_equals_one_shot_rollup", got == want)]


class CorpusPipeline:
    """pipeline.run_corpus_pipeline with its defaults over documents."""

    name = "corpus_pipeline"
    tables = ("documents",)
    round_size = 1

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.root = os.path.join(ctx.work_dir, "corpus")
        self.runs = 0
        self.warm_counts = None

    def prepare(self) -> None:
        self.golden = CORPUS_GOLDEN[self.ctx.sf]

    def _run(self):
        from asvsp_spark import pipeline
        out = os.path.join(self.root, f"run-{self.runs}")
        self.runs += 1
        t0 = time.perf_counter()
        counts = pipeline.run_corpus_pipeline(self.ctx.spark,
                                              self.ctx.data_dir, out)
        dt = time.perf_counter() - t0
        shutil.rmtree(out, ignore_errors=True)
        return dt, counts

    def warm_up(self) -> None:
        _, self.warm_counts = self._run()

    def op(self):
        return self._run()

    def verify(self, counts) -> bool:
        return counts == self.golden

    def checks(self) -> list[tuple[str, bool]]:
        return [("warm_up_funnel", self.warm_counts == self.golden)]


WORKLOADS = {w.name: w for w in (DashboardQueries, WarehouseBuild,
                                 HourlyReplay, CorpusPipeline)}
