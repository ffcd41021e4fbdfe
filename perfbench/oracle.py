"""Closed-form expected output of a crawl over the synthetic corpus.

A plain breadth-first search over ``synth.candidate_targets`` from the start
page. It models the engine's observable rules and nothing else:

- a link is dropped when its depth exceeds ``max_depth`` (the depth filter
  runs after the seen check, so a dropped link is not marked seen);
- a url is claimed once, by the first round that discovers it;
- the start page is queued but not marked seen, so a link back to it is
  claimed like any other and the page is fetched a second time;
- every ``Page_*`` url is in the corpus (fetch SUCCESS), every ``Missing_*``
  url is not (fetch FAILED, no links).

``wikifrontier.simulator.simulate_crawl`` is not used: at n >= 2000 it raises
``KeyError('filtered_robots_txt')`` (``filter_reason_py`` returns
``"robots_txt"`` while the counter it increments is ``filtered_robots``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from wikifrontier import synth


@dataclass(frozen=True)
class ExpectedCrawl:
    pages: dict          # url -> (depth, last_crawl_status)
    attempts: dict       # url -> total_crawl_attempts
    claimed_edges: int   # rows of the claimed-links table


def _page_id(url: str) -> int | None:
    prefix = synth.BASE_URL + "/wiki/Page_"
    return int(url[len(prefix):]) if url.startswith(prefix) else None


def start_page(seed: int, n: int) -> int:
    """The crawl's start page for a benchmark seed: uniform over pages that
    have content, so every seed yields a crawl of (almost) the whole corpus."""
    rng = random.Random(seed)
    while True:
        i = rng.randrange(n)
        if i % synth.CORNER_MOD not in (synth.BLANK_R, synth.NOCONTENT_R):
            return i


def expected_crawl(n: int, start: int, max_depth: int) -> ExpectedCrawl:
    seed_url = synth.page_url(start)
    pages = {seed_url: (0, "SUCCESS")}
    attempts = {seed_url: 1}
    seen: set[str] = set()
    layer, depth = [seed_url], 0
    while layer:
        nxt = []
        for url in layer:
            i = _page_id(url)
            if i is None or depth + 1 > max_depth:
                continue
            for target in synth.candidate_targets(i, n):
                if target in seen:
                    continue
                seen.add(target)
                nxt.append(target)
        for url in nxt:
            if url in pages:  # the start page, claimed back
                attempts[url] += 1
            else:
                status = "SUCCESS" if _page_id(url) is not None else "FAILED"
                pages[url] = (depth + 1, status)
                attempts[url] = 1
        layer, depth = nxt, depth + 1
    return ExpectedCrawl(pages, attempts, len(seen))
