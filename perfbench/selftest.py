"""Self-tests of the benchmark: run with ``python3 perfbench/selftest.py``
from the root of a checkout (about two minutes: one small Spark crawl).

- ``BENCHMARK.json`` names every metric the command prints, with its unit,
  and its workloads are ones the command runs.
- At the corpus size the repository's tests use (n=303), the closed-form
  oracle matches ``run_crawl`` to the drain: the unbudgeted FIFO crawl
  exactly, and the budgeted scored crawl on its page set, statuses and
  fetch counts (its depths may differ, see NOTES.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, metrics, oracle, workloads  # noqa: E402

N = 303


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for section, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[section]}
        assert listed == table, f"{section} in BENCHMARK.json differs from metrics.py"
    runnable = set(workloads.CRAWLS) | {"corpus_ops"}
    assert {w["name"] for w in spec["workloads"]} <= runnable
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    assert len(metrics.PER_LAYER) <= 128


def check_oracle_matches_engine() -> None:
    from wikifrontier import synth
    from wikifrontier.frontier import CrawlConfig, run_crawl

    work = harness.configure(ROOT, ui=False)
    spark = harness.start_spark("perfbench-selftest")
    try:
        corpus = synth.corpus_df(spark, N).cache()
        configs = {
            "fifo": CrawlConfig(robots_txt=synth.ROBOTS_TXT, max_depth=8),
            "scored": CrawlConfig(
                robots_txt=synth.ROBOTS_TXT, max_depth=3, budget_per_round=60,
                pop_strategy="scored",
            ),
        }
        for seed, (label, cfg) in enumerate(configs.items()):
            start = oracle.start_page(seed, N)
            want = oracle.expected_crawl(N, start, cfg.max_depth)
            state = run_crawl(spark, corpus, [synth.page_url(start)], cfg)
            rows = state.pages.collect()
            got = {r["url"]: (r["depth"], r["last_crawl_status"]) for r in rows}
            if label == "scored":
                got = {u: (want.pages.get(u, (None,))[0], s) for u, (_, s) in got.items()}
            attempts = {r["url"]: r["total_crawl_attempts"] for r in rows}
            assert got == want.pages, f"{label}: page set differs from the oracle"
            assert attempts == want.attempts, f"{label}: attempts differ"
            assert state.links.count() == want.claimed_edges, f"{label}: links"
            print(f"ok  oracle == run_crawl ({label}, start page {start}, "
                  f"{len(rows)} pages)")
    finally:
        harness.stop_spark()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    check_spec()
    print("ok  BENCHMARK.json matches the printed metrics")
    check_oracle_matches_engine()
