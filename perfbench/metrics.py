"""Every metric the benchmark prints, with its unit and direction.

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that the two
agree. Every workload prints every metric of its mode; a layer a workload
does not exercise reads 0 there.
"""

from __future__ import annotations

from perfbench import workloads
from perfbench.tracing import WORK_KEYS

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "step_geomean_s": ("s", "lower"),
    "first_result_s": ("s", "lower"),
    "peak_pss_mb": ("MB", "lower"),
}

_WORK_UNITS = {
    "cpu_s": "s", "run_s": "s", "gc_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "task_skew": "ratio",
}


def _per_layer() -> dict[str, tuple[str, str]]:
    out = {"session.get_spark.s": ("s", "lower")}
    for span in workloads.CRAWL_SPANS + ("queries",):
        out[f"{span}.s"] = ("s", "lower")
        for k in WORK_KEYS:
            out[f"{span}.{k}"] = (_WORK_UNITS[k], "lower")
    out.update({
        "frontier.run_round.n": ("count", "lower"),
        "frontier.run_round.self_s": ("s", "lower"),
        "seen.add_df.rows": ("count", "lower"),
        "state.write_checkpoint.n": ("count", "lower"),
        "state.write_checkpoint.mb": ("MB", "lower"),
        "state.prune_checkpoints.s": ("s", "lower"),
        "state.ckpt_files": ("count", "lower"),
        "state.ckpt_bytes_per_page": ("bytes/page", "lower"),
    })
    for q in workloads.QUERIES:
        out[f"queries.{q}.s"] = ("s", "lower")
        out[f"queries.{q}.cpu_s"] = ("s", "lower")
    out.update({
        "udfs.parse_page_udf.pages_per_s": ("1/s", "higher"),
        "extract.parse_page.pages_per_core_s": ("1/s", "higher"),
    })
    for k in workloads.COUNTERS:
        out[f"frontier.{k}"] = ("count", "lower")
    out.update({
        "frontier.claim_ratio": ("ratio", "higher"),
        "trace_overhead": ("ratio", "higher"),
        "fail_ratio": ("ratio", "lower"),
    })
    return out


PER_LAYER = _per_layer()
