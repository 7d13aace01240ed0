"""Interleaved A/B timing for OPTIMIZATION rounds on a steal-bursty host.

Sequential arm runs are roulette here (multi-minute hypervisor steal
waves inflate wall-clock 5-8x; see BASELINE.md "Bench protocol"), so
this instrument times the two arms ALTERNATELY in one warm session —
A B A B ... — and reports per-arm medians plus the pairwise ratio.
A steal burst then hits both arms nearly equally instead of one.

The arms are (label, setup_callable) pairs defined in TOOLS below;
setup callables monkeypatch the implementation under test (the repo
tree stays on the NEW code; the OLD variant is inlined here for the
measurement only). Usage:

    python tools/ab_bench.py <toolname> name1 [name2 ...]   [N_PAIRS=4]

Prints per-query:  name  A=<med>  B=<med>  B/A=<ratio>   (A=old, B=new)
and steal jiffies per timing segment on stderr.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F, Window  # noqa: E402

from asvsp_spark.plans.registry import all_queries  # noqa: E402
from asvsp_spark.session import get_session  # noqa: E402


def _steal() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[9])


# ---------------------------------------------------------------- arms

def _assemble_runs_window(toks, flagged, w, id_col):
    """r10 implementation of operators/dedup._assemble_runs (window
    sort + row_number gaps-and-islands) — the A arm."""
    by_pos = Window.partitionBy("doc").orderBy("p")
    runs = (flagged
            .withColumn("grp", F.col("p") - F.row_number().over(by_pos))
            .groupBy("doc", "grp")
            .agg(F.min("p").alias("p1"), F.max("p").alias("p2")))
    return (runs.join(toks, "doc")
            .select(F.col("doc").alias(id_col),
                    F.col("p1").cast("int").alias("span_start"),
                    (F.col("p2") + w - 1).cast("int").alias("span_end"),
                    F.md5(F.expr(
                        f"concat_ws(' ', slice(toks, p1, p2 - p1 + {w}))"))
                     .alias("fp"),
                    (F.col("p2") - F.col("p1") + w).cast("int")
                     .alias("n_tokens")))


def _arms_assemble_runs():
    import asvsp_spark.operators.dedup as D
    new = D._assemble_runs

    def use_old():
        D._assemble_runs = _assemble_runs_window

    def use_new():
        D._assemble_runs = new

    return use_old, use_new


def _arms_sq11():
    """A = keep_ontime forced True (r10 behavior), B = repo code
    (sq11 passes keep_ontime=False)."""
    import asvsp_spark.streaming.queries as SQ
    from asvsp_spark.streaming.source import drain_with_late_audit as real

    def forced_ontime(*args, **kwargs):
        kwargs["keep_ontime"] = True
        return real(*args, **kwargs)

    def use_old():
        SQ.drain_with_late_audit = forced_ontime

    def use_new():
        SQ.drain_with_late_audit = real

    return use_old, use_new


def _remove_dup_substring_runs_r10(documents, runs, keep="first",
                                   id_col="doc_id", text_col="text"):
    """r10/r11-mid implementation (no runs materialization — the keeper
    election and loser join each inline the full runs pipeline) — A arm."""
    import asvsp_spark.operators.dedup as D
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if keep == "none":
        losers = runs.select(id_col, "span_start", "span_end")
    else:
        keeper = runs.groupBy("fp").agg(
            F.min(F.struct(F.col(id_col).alias("d"),
                           F.col("span_start").alias("s"))).alias("k"))
        losers = (runs.join(keeper, "fp")
                  .filter(~((F.col(id_col) == F.col("k.d"))
                            & (F.col("span_start") == F.col("k.s"))))
                  .select(id_col, "span_start", "span_end"))
    return D.remove_dup_spans(documents, losers, id_col, text_col)


def _arms_runs_ckpt():
    # the registry entry imports the name from operators.dedup at call
    # time, so patching the module attribute covers it
    import asvsp_spark.operators.dedup as D
    new = D.remove_dup_substring_runs

    def use_old():
        D.remove_dup_substring_runs = _remove_dup_substring_runs_r10

    def use_new():
        D.remove_dup_substring_runs = new

    return use_old, use_new


def _dup_spans_r10(documents, window=8, min_docs=2,
                   id_col="doc_id", text_col="text"):
    """r10 implementation of operators/dedup.dup_spans (doc-partitioned
    window lag/sum gaps-and-islands) — the A arm."""
    import asvsp_spark.operators.dedup as D
    w = int(window)
    _, wins_arr = D._window_hash_arrays(documents, w, id_col, text_col)
    hot = (wins_arr
           .select(F.explode(
               F.expr("array_distinct(transform(wins, x -> x.h))"))
               .alias("h"))
           .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
           .filter(F.col("nd") >= int(min_docs))
           .select("h"))
    wins = (wins_arr.select("doc", F.explode("wins").alias("win"))
            .select("doc", F.col("win.p").alias("p"),
                    F.col("win.h").alias("h")))
    pos = wins.join(hot, "h", "left_semi").select("doc", "p")
    by_pos = Window.partitionBy("doc").orderBy("p")
    isl = pos.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(by_pos) <= w, F.lit(0))
         .otherwise(F.lit(1)))
    grp = isl.withColumn(
        "g", F.sum("brk").over(by_pos.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
    return (grp.groupBy("doc", "g")
            .agg(F.min("p").alias("mn"), F.max("p").alias("mx"),
                 F.count(F.lit(1)).alias("nw"))
            .select(F.col("doc").alias(id_col),
                    F.col("mn").cast("int").alias("span_start"),
                    (F.col("mx") + w - 1).cast("int").alias("span_end"),
                    F.col("nw").cast("int").alias("n_windows")))


def _arms_dup_spans():
    import asvsp_spark.operators.dedup as D
    new = D.dup_spans

    def use_old():
        D.dup_spans = _dup_spans_r10

    def use_new():
        D.dup_spans = new

    return use_old, use_new


def _arms_smj():
    """A = Spark's default join planning (preferSortMergeJoin=true, AQE
    SHJ conversion off), B = the repo session defaults (r10 join-strategy
    change). Attributes a tail-entry drift to that suite-wide change."""
    from asvsp_spark.session import get_session

    spark = get_session("asvsp-ab-bench")
    thr_key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    new_thr = spark.conf.get(thr_key, "64m")

    def use_old():
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        spark.conf.set(thr_key, "0")

    def use_new():
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        spark.conf.set(thr_key, new_thr)

    return use_old, use_new


TOOLS = {
    "assemble_runs": _arms_assemble_runs,
    "sq11": _arms_sq11,
    "smj": _arms_smj,
    "runs_ckpt": _arms_runs_ckpt,
    "dup_spans": _arms_dup_spans,
}


def main() -> None:
    tool = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_pairs = int(os.environ.get("N_PAIRS", "4"))
    spark = get_session("asvsp-ab-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    use_old, use_new = TOOLS[tool]()

    import bench
    queries[sorted(queries)[0]](spark, sf_dir).count()
    bench._warm_streaming(spark)
    bench._arrow_warmup(spark, parts=int(cpus) if cpus.isdigit() else 32)

    for name in names:
        a, b = [], []
        for i in range(n_pairs):
            for label, setup, out in (("A", use_old, a), ("B", use_new, b)):
                setup()
                s0 = _steal()
                spark.sparkContext.setJobDescription(f"ab:{name}:{label}{i}")
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).count()
                dt = round(time.perf_counter() - t0, 3)
                out.append(dt)
                print(f"# {name} {label}{i} {dt}s steal+{_steal() - s0}",
                      file=sys.stderr)
        use_new()
        ma, mb = statistics.median(a), statistics.median(b)
        print(f"{name} A={ma:.3f} B={mb:.3f} B/A={mb / ma:.3f}")


if __name__ == "__main__":
    main()
