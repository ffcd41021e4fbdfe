"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload durable_resume --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
turns the Spark UI and its status REST API on, measures an untraced
reference unit of work, then times the traced units (spans around each
layer's calls, Spark jobs tagged with the innermost span) and prints the
per-layer metrics and the tracing overhead. Run from the root of a
checkout: the program under test is the ``wikifrontier`` package beside
this directory. NOTES.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_FILES = ("wikifrontier/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")


def run_leg(workload: str, seed: int, seconds: float, traced: bool):
    from perfbench import harness, workloads

    work = harness.configure(ROOT, ui=traced)
    if workload == "corpus_ops":
        return workloads.ops_leg(seed, seconds, work, traced)
    return workloads.crawl_leg(workload, seed, seconds, work, traced)


def main() -> int:
    from perfbench import harness, metrics, workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True,
        choices=sorted(workloads.CRAWLS) + ["corpus_ops"],
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    leg = run_leg(args.workload, args.seed, args.seconds, traced=bool(args.trace))
    shutil.rmtree(os.path.join(ROOT, harness.WORK_DIRNAME), ignore_errors=True)

    attempted, failed = leg.attempted, leg.failed
    correct = failed == 0 and bool(leg.units)
    for err in leg.errors:
        print(f"FAILED: {err}", file=sys.stderr)

    if args.trace:
        values = dict.fromkeys(metrics.PER_LAYER, 0.0)
        values.update(leg.layer)
        if correct:
            values["trace_overhead"] = leg.trace_overhead()
        values["fail_ratio"] = failed / max(attempted, 1)
        spec = metrics.PER_LAYER
    else:
        values = leg.end_to_end() if correct else dict.fromkeys(metrics.END_TO_END, 0.0)
        spec = metrics.END_TO_END
    unknown = set(values) - set(spec)
    if unknown:
        raise RuntimeError(f"metrics missing from the metric list: {sorted(unknown)}")
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {
            name: {"value": float(values[name]), "unit": spec[name][0]} for name in spec
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing beside perfbench/: {missing}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
