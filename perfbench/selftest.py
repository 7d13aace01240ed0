"""Quick self-test of the benchmark: every workload, briefly, at sf0.001,
untraced and traced. Asserts that each run exits 0, that every check
passes, and that the metric names it emits are exactly those
BENCHMARK.json declares (end-to-end untraced, per-layer traced).

    python3 perfbench/selftest.py      # about 4 minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402


def declared_names() -> tuple[set[str], set[str]]:
    """(end-to-end, per-layer) metric names: BENCHMARK.json's when it is
    there, and always the per-layer set the tracer knows."""
    layer = ({f"{lay}.{f}" for lay in spans.LAYERS for f in spans.LAYER_FIELDS}
             | {f"plans.{f}" for f in spans.PLAN_FIELDS}
             | {f"streaming.{f}" for f in spans.STREAM_FIELDS})
    e2e = {"setup_s", "op_p50_s", "ops_per_s"}
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as fh:
            spec = json.load(fh)
        assert {m["name"] for m in spec["end_to_end"]} == e2e
        assert {m["name"] for m in spec["per_layer"]} == layer
        assert ({w["name"] for w in spec["workloads"]}
                <= set(workloads.WORKLOADS))
    return e2e, layer


def main() -> int:
    e2e, layer = declared_names()
    failures = []
    for name in workloads.WORKLOADS:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", name, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--sf", "0.001"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            label = f"{name} trace={trace}"
            if proc.returncode != 0:
                failures.append(f"{label}: exit {proc.returncode}: "
                                f"{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            want = layer if trace else e2e
            got = set(result["metrics"])
            problems = []
            if got != want:
                problems.append(f"missing {sorted(want - got)}, "
                                f"extra {sorted(got - want)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"failed {result['failed']} of "
                                f"{result['attempted']}")
            if any(m["value"] is None for m in result["metrics"].values()):
                problems.append("a metric has no value")
            print(f"{label}: {'FAIL ' + '; '.join(problems) if problems else 'ok'}",
                  flush=True)
            failures += [f"{label}: {p}" for p in problems]
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
