"""Spans around the benchmark's calls into the program's layers, and the
Spark work each span caused.

A span is opened around a public function by patching the module or class
attribute the program looks it up through, so calls made inside the program
(``run_crawl`` calling ``frontier.run_round``, ``run_round`` calling
``state.write_checkpoint``, ...) are timed too. Nothing in the program
changes; ``restore`` puts the original functions back.

With ``tag_jobs`` every Spark job is tagged, through its job group, with the
path of the spans open when it was submitted. ``spark_work`` then reads the
status REST API and sums, per span name, the stages of every job submitted
inside that span (nested spans included).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

SEP = " > "


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, tag_jobs: bool):
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext whose jobs are tagged

    def _tag(self) -> None:
        if not self.tag_jobs or self.sc is None:
            return
        if self._open:
            path = SEP.join(self.spans[i].name for i in self._open)
            self.sc.setJobGroup(path, path)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        rec = Span(name, self._open[-1] if self._open else None, time.perf_counter())
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        self._tag()
        try:
            yield rec
        finally:
            rec.t1 = time.perf_counter()
            self._open.pop()
            self._tag()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a function that runs the original inside
        a span; ``on_result(span, args, result)`` may record attributes."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self, keep: int = 0) -> None:
        """Put back the originals of all but the first ``keep`` wraps."""
        while len(self._patched) > keep:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ``since``: only spans opened at or after that index in ``spans``
    def named(self, name: str, since: int = 0) -> list[Span]:
        return [s for s in self.spans[since:] if s.name == name]

    def total_s(self, name: str, since: int = 0) -> float:
        return sum(s.s for s in self.named(name, since))

    def self_s(self, name: str, since: int = 0) -> float:
        """Time inside ``name`` spans not covered by their child spans."""
        total = 0.0
        for i in range(since, len(self.spans)):
            if self.spans[i].name == name:
                children = (c.s for c in self.spans[i + 1:] if c.parent == i)
                total += self.spans[i].s - sum(children)
        return total


# --- Spark work per span, from the status REST API --------------------------

WORK_KEYS = (
    "cpu_s", "run_s", "gc_s", "jobs", "tasks",
    "shuffle_write_mb", "shuffle_read_mb", "task_skew",
)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _settled_jobs(api: str, timeout: float = 20.0) -> list[dict]:
    """The job list once no job is running and the listener has caught up
    (two reads in a row agree)."""
    deadline = time.monotonic() + timeout
    last = None
    while True:
        jobs = _get(f"{api}/jobs")
        key = [(j["jobId"], j["status"]) for j in jobs]
        if key == last and all(j["status"] != "RUNNING" for j in jobs):
            return jobs
        if time.monotonic() > deadline:
            raise RuntimeError("Spark status API did not settle")
        last = key
        time.sleep(0.3)


def spark_work(sc, span_names, skip_root: str | None = None) -> dict[str, dict[str, float]]:
    """Per span name: executor CPU/run/GC seconds, job and task counts,
    shuffle MB written/read, and the task skew (max / median task run time)
    of the longest stage, over the jobs submitted inside that span. Jobs
    submitted under a top-level span named ``skip_root`` are left out."""
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = sorted(_settled_jobs(api), key=lambda j: j["jobId"])
    stages: dict[int, list[dict]] = {}
    for st in _get(f"{api}/stages"):
        if st["status"] == "COMPLETE":
            stages.setdefault(st["stageId"], []).append(st)
    # a stage runs in the first job that lists it; later jobs skip it
    owner: dict[int, dict] = {}
    for job in jobs:
        for sid in job["stageIds"]:
            owner.setdefault(sid, job)

    out = {}
    for name in span_names:
        mine = []
        for j in jobs:
            path = (j.get("jobGroup") or "").split(SEP)
            if name in path and path[0] != skip_root:
                mine.append(j)
        ids = {j["jobId"] for j in mine}
        attempts = [
            a for sid, runs in stages.items()
            if owner.get(sid, {}).get("jobId") in ids for a in runs
        ]
        skew = 0.0
        if attempts:
            longest = max(attempts, key=lambda a: a["executorRunTime"])
            q = _get(
                f"{api}/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / max(q[0], 1.0)
        out[name] = {
            "cpu_s": sum(a["executorCpuTime"] for a in attempts) / 1e9,
            "run_s": sum(a["executorRunTime"] for a in attempts) / 1e3,
            "gc_s": sum(a.get("jvmGcTime", 0) for a in attempts) / 1e3,
            "jobs": len(mine),
            "tasks": sum(a["numCompleteTasks"] for a in attempts),
            "shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in attempts) / 2**20,
            "shuffle_read_mb": sum(a["shuffleReadBytes"] for a in attempts) / 2**20,
            "task_skew": skew,
        }
    return out
