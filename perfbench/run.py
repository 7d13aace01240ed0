"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` into ``.perfbench_out/``, starts one
SparkSession on local[4], runs the untimed warm-up, then a
closed loop of operations for about ``--seconds`` seconds, checks the
outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it carries the run manifest and the
workload's own figures; both are also written to
``.perfbench_out/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def cpu_stat() -> tuple[int, int] | None:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(a, b) -> float | None:
    if a is None or b is None or b[0] <= a[0]:
        return None
    return round(100.0 * (b[1] - a[1]) / (b[0] - a[0]), 3)


def source_digest() -> str:
    """sha256 over the engine's Python sources, for checkouts that carry
    no git metadata."""
    import hashlib
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "asvsp_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    # only this checkout's own metadata, never that of a repository
    # the checkout happens to sit inside
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def pct(values: list[float], q: int) -> float:
    """The q-th percentile by the Harrell-Davis estimator: a weighted
    mean of every order statistic, with Beta((n+1)p, (n+1)(1-p)) mass
    over [(i-1)/n, i/n] as the weight of the i-th smallest value. With a
    few samples per run it moves far less between runs than a single
    order statistic does (the dashboard's 17 queries fall in clusters
    with a gap at the middle)."""
    import numpy as np
    xs = np.sort(np.asarray(values, dtype=float))
    n = xs.size
    if n == 1:
        return float(xs[0])
    p = q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    # Beta CDF at i/n by the midpoint rule on a fine grid; the midpoints
    # avoid the integrable singularity at 1 when b < 1
    m = 200_000
    x = (np.arange(m) + 0.5) / m
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    edges = np.concatenate(([0.0], cdf[np.arange(1, n + 1) * m // n - 1]))
    return float(np.dot(np.diff(edges), xs))


def jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_loop(wl, rec, args) -> dict:
    """The timed closed loop: whole rounds, at least one; another round
    starts only if it is expected to end within ``--seconds``. A failed
    operation is counted and reported, and the loop goes on."""
    lat, errors = [], []
    steal0 = cpu_stat()
    rec.active = bool(args.trace)
    window0 = time.time()
    t_start = time.perf_counter()
    rounds = 0
    while True:
        for _ in range(wl.round_size):
            try:
                dt, result = wl.op()
            except Exception as exc:
                traceback.print_exc()
                errors.append(repr(exc)[:300])
                continue
            lat.append(dt)
            if not wl.verify(result):
                errors.append(f"check failed: {result!r}"[:300])
        rounds += 1
        elapsed = time.perf_counter() - t_start
        if elapsed + elapsed / rounds > args.seconds:
            break
    window1 = time.time()
    rec.active = False
    return {"lat": lat, "errors": errors, "rounds": rounds,
            "window": (window0, window1),
            "steal_pct": steal_pct(steal0, cpu_stat())}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="input scale factor (0.1 timed, 0.001 self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "asvsp_spark")):
        print(f"perfbench: no asvsp_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    out_root = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    try:
        return run(args, out_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, out_root: str, work: str) -> int:
    import tempfile
    tempfile.tempdir = None
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    data_dir = os.path.join(work, "data")
    phases = {}
    mark = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                    data_dir, str(args.seed), str(args.sf), *cls.tables],
                   check=True)

    import pyspark

    from asvsp_spark import session

    rec = spans.Recorder()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse-dir"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        conf.update(spans.event_log_conf(os.path.join(work, "eventlog")))
    ctx = workloads.Context(None, data_dir, work, args.seed, args.sf, rec)
    wl = cls(ctx)
    phases["datagen_s"] = time.perf_counter() - mark
    mark = time.perf_counter()
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - mark

    # untraced runs install no wrappers at all
    tracing = spans.instrument(rec) if args.trace else contextlib.nullcontext()
    with tracing:
        # set-up: session start plus the untimed warm-up
        rec.active = bool(args.trace)
        t0 = time.perf_counter()
        spark = session.get_session("perfbench", master=f"local[{CORES}]",
                                    extra_conf=conf)
        rec.active = False
        try:
            spark.sparkContext.setLogLevel("ERROR")
            ctx.spark = spark
            listener = None
            if args.trace:
                listener = spans.progress_listener()
                spark.streams.addListener(listener)
            wl.warm_up()
            setup_s = time.perf_counter() - t0
            loop = timed_loop(wl, rec, args)
            rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                      / 1024.0 + jvm_hwm_mb(spark))

            mark = time.perf_counter()
            checks = wl.checks()
            phases["checks_s"] = time.perf_counter() - mark
            layer = {}
            if args.trace:
                time.sleep(1.0)   # let the listener bus deliver the last progress
                layer.update(spans.streaming_metrics(
                    listener.progress, loop["window"],
                    wl.sink_partitions() if hasattr(wl, "sink_partitions")
                    else 0))
            spark_version = spark.version
        finally:
            mark = time.perf_counter()
            stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - mark
    if args.trace:
        jobs, tasks = spans.read_event_log(os.path.join(work, "eventlog"))
        layer.update(spans.layer_metrics(rec, jobs, tasks))

    lat = loop["lat"]
    attempted = wl.round_size * loop["rounds"] + len(checks)
    failed = len(loop["errors"]) + sum(1 for _, ok in checks if not ok)
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": pct(lat, 50) if lat else None, "unit": "s"},
        "ops_per_s": {"value": len(lat) / sum(lat) if lat else None,
                      "unit": "1/s"},
    }
    detail = {
        "workload": args.workload,
        "manifest": {
            "git_commit": git_commit(),
            "source_digest": source_digest(),
            "spark_version": spark_version,
            "pyspark_version": pyspark.__version__,
            "cores": CORES,
            "host_cpus": os.cpu_count(),
            "seed": args.seed,
            "sf": args.sf,
            "seconds": args.seconds,
            "trace": args.trace,
            "steal_pct": loop["steal_pct"],
        },
        "ops": len(lat),
        "latencies_s": [round(x, 4) for x in lat],
        "rounds": loop["rounds"],
        "measured_s": loop["window"][1] - loop["window"][0],
        "phases_s": phases,
        "peak_rss_mb": rss_mb,
        "failed_ratio": failed / attempted,
        "checks": dict(checks),
        "errors": loop["errors"][:10],
        "end_to_end": e2e,
        "workload_metrics": workload_metrics(args.workload, e2e, lat, wl),
    }
    if args.trace:
        detail["per_layer"] = layer
        detail["trace_overhead"] = trace_overhead(out_root, args, e2e)
    metrics = ({k: {"value": v, "unit": unit_of(k)}
                for k, v in layer.items()} if args.trace else e2e)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}

    res_dir = os.path.join(out_root, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, result_name(args)), "w") as fh:
        json.dump({**detail, "result": result}, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


def result_name(args, trace: int | None = None) -> str:
    t = args.trace if trace is None else trace
    return f"{args.workload}-seed{args.seed}-sf{args.sf}-trace{t}.json"


def trace_overhead(out_root: str, args, traced: dict) -> dict | None:
    """Traced end-to-end figures minus those of the untraced run with the
    same workload, seed and scale, when that run's result is on disk."""
    path = os.path.join(out_root, "results", result_name(args, trace=0))
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        untraced = json.load(fh)["end_to_end"]
    return {k: traced[k]["value"] - untraced[k]["value"]
            for k in traced
            if traced[k]["value"] is not None
            and untraced.get(k, {}).get("value") is not None}


def unit_of(metric: str) -> str:
    field = metric.split(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "bytes"
    return "count"


def workload_metrics(name: str, e2e: dict, lat: list[float], wl) -> dict:
    """The workload's end-to-end figures under their own names, plus the
    90th percentile, which a run has too few operations to bound."""
    if not lat:
        return {}
    p50, rate = e2e["op_p50_s"]["value"], e2e["ops_per_s"]["value"]
    p90 = pct(lat, 90)
    if name == "dashboard_queries":
        return {"query_p50_s": p50, "query_p90_s": p90,
                "queries_per_s": rate}
    if name == "warehouse_build":
        return {"build_s": p50}
    if name == "hourly_replay":
        return {"increment_p50_s": p50, "increment_p90_s": p90,
                "events_per_s": wl.drained_events / sum(lat),
                "start_hour": wl.first_hour}
    return {"corpus_s": p50}


if __name__ == "__main__":
    sys.exit(main())
