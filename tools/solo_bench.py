"""Solo-time registry queries with the bench's methodology (median of
N runs to count(), Arrow/streaming warm-up first) without the suite
around them — the per-change A/B instrument for OPTIMIZATION rounds.

Usage: python tools/solo_bench.py name1 name2 ...   [env: SPARK_GRAFT_BENCH_RUNS=3]

Prints one `name sec` line per query (median) plus all samples on
stderr. Same session contract as bench.py ($SPARK_GRAFT_SF_DIR,
local[$SPARK_GRAFT_CPUS]).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asvsp_spark.plans.registry import all_queries  # noqa: E402
from asvsp_spark.session import get_session  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    spark = get_session("asvsp-solo-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    import bench
    queries[sorted(queries)[0]](spark, sf_dir).count()
    bench._warm_streaming(spark)
    bench._arrow_warmup(spark, parts=int(cpus) if cpus.isdigit() else 32)

    for name in names:
        samples = []
        if name in bench._ARROW_COHORT:
            bench._arrow_warmup(spark,
                                parts=int(cpus) if cpus.isdigit() else 32)
        for _ in range(n_runs):
            spark.sparkContext.setJobDescription(f"solo:{name}")
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).count()
            samples.append(round(time.perf_counter() - t0, 3))
        print(f"# {name} samples={samples}", file=sys.stderr)
        print(f"{name} {statistics.median(samples):.3f}")


if __name__ == "__main__":
    main()
