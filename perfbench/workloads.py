"""The benchmark's workloads.

Each workload is a closed loop in one driver process: a unit of work (a crawl,
or one pass over the query set) starts when the previous one has returned and
its outputs have been checked. A run is: set up (fresh JVM, inputs, warm-up),
then units until ``seconds`` have passed (at least one), then the traced
extras. NOTES.md says why each workload exists and which layer metric should
move which end-to-end metric.
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import harness, oracle
from perfbench.tracing import WORK_KEYS, Tracer, spark_work

# --- shared result bookkeeping ----------------------------------------------


@dataclass
class Leg:
    """What one setup + timed leg measured."""

    setup_s: float = 0.0
    units: list[dict] = field(default_factory=list)  # per unit of work
    steps: list[float] = field(default_factory=list)  # step wall times
    peak_pss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    reference: dict | None = None  # traced runs: the untraced unit

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def throughput(self) -> float:
        return statistics.median(u["items"] / u["wall_s"] for u in self.units)

    def trace_overhead(self) -> float:
        """Traced throughput over the untraced reference's, minus 1."""
        ref = self.reference["items"] / self.reference["wall_s"]
        return self.throughput() / ref - 1

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "items_per_s": self.throughput(),
            "step_geomean_s": statistics.geometric_mean(self.steps),
            "first_result_s": statistics.median(u["first_s"] for u in self.units),
            "peak_pss_mb": self.peak_pss_mb,
        }


def _timed_units(leg: Leg, seconds: float, unit, min_units: int = 1) -> None:
    """Run ``unit()`` at least ``min_units`` times and until ``seconds`` have
    passed, sampling memory."""
    t0 = time.perf_counter()
    with harness.MemSampler() as mem:
        for done in itertools.count(1):
            if not unit():
                break
            if done >= min_units and time.perf_counter() - t0 >= seconds:
                break
    leg.peak_pss_mb = mem.peak_mb


def _per_unit(layer: dict, prefixes: tuple[str, ...], units: int) -> None:
    """Turn the totals over a run's timed units into figures per unit (the
    task skew is a ratio and stays)."""
    for key in layer:
        if key.startswith(prefixes) and not key.endswith(".task_skew"):
            layer[key] /= units


def _reference_unit(leg: Leg, tracer: Tracer, unit) -> None:
    """Traced runs, after the traced units: one more unit with job tagging
    off and only the instruments an untraced run has. The traced units ran
    where an untraced run's timed units run; the reference runs later in
    the JVM's life, so the overhead reads pessimistic, never optimistic."""
    tracer.restore(keep=1)
    tracer.tag_jobs = False
    if unit():
        leg.reference = leg.units.pop()


# --- crawl workloads ----------------------------------------------------------


@dataclass(frozen=True)
class CrawlSpec:
    n: int            # corpus pages
    config: dict      # CrawlConfig fields beyond robots_txt
    # rounds after which the crawl is cut: set-up crawls to the first cut,
    # each unit resumes to the next cut and then to the drain
    cuts: tuple[int, ...] = ()


CRAWLS = {
    # the paper's headline job (bench.py headline configuration)
    "bfs_full": CrawlSpec(n=2000, config=dict(max_depth=8, collect_metrics=False)),
    # the production, resumable configuration: small scored batches, the
    # metrics tally, a durable checkpoint every round, cut after rounds 0
    # and 1 and resumed each time. 3 rounds on every seed; the budget binds
    # in the first resumed round on 9 seeds in 10.
    "durable_resume": CrawlSpec(
        n=8,
        config=dict(
            max_depth=4, budget_per_round=4, pop_strategy="scored",
            collect_metrics=True, checkpoint_every=1,
        ),
        cuts=(1, 2),
    ),
}
WARMUP_PAGES = 40  # warm-up corpus, separate from the measured one
COUNTERS = ("urls_popped", "links_extracted", "links_claimed", "fetch_failed")


def _check_crawl(leg: Leg, spec: CrawlSpec, state, expected) -> None:
    rows = state.pages.select(
        "url", "depth", "last_crawl_status", "total_crawl_attempts"
    ).collect()
    got = {r["url"]: (r["depth"], r["last_crawl_status"]) for r in rows}
    leg.op(
        got == expected.pages and len(rows) == len(got),
        "crawled (url, depth, status) set differs from the oracle: "
        f"{len(set(got.items()) ^ set(expected.pages.items()))} rows",
    )
    attempts = {r["url"]: r["total_crawl_attempts"] for r in rows}
    leg.op(
        attempts == expected.attempts,
        "a page was fetched more often than the oracle allows (refetch)",
    )
    if spec.config["collect_metrics"]:
        # the round metrics table, restored across the resume
        tally = state.metrics.agg(
            F.sum("links_claimed").alias("claimed"),
            F.sum("urls_popped").alias("popped"),
        ).first()
        claimed = tally["claimed"]
        ok = claimed == expected.claimed_edges and tally["popped"] == sum(
            expected.attempts.values()
        )
    else:
        claimed = state.links.count()
        ok = claimed == expected.claimed_edges
    leg.op(ok, f"claimed links {claimed} != oracle {expected.claimed_edges}")


def _parse_rates(leg: Leg, spark, corpus, n: int) -> None:
    """Direct calls on the workload's cached corpus: the Arrow parse UDF
    over every page, and single-core ``extract.parse_page``."""
    from wikifrontier import extract, synth, udfs

    def udf_pass() -> float:
        t = time.perf_counter()
        corpus.select(
            udfs.parse_page_udf(F.col("url"), F.col("html"), F.lit(0)).alias("p")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    leg.layer["udfs.parse_page_udf.pages_per_s"] = n / statistics.median(
        udf_pass() for _ in range(3)
    )
    pages = [
        (synth.page_url(i), synth.gen_html(i, n)) for i in range(min(n, 500))
    ]
    done, t = 0, time.perf_counter()
    while time.perf_counter() - t < 0.5:
        for url, html in pages:
            extract.parse_page(url, html, 0)
        done += len(pages)
    leg.layer["extract.parse_page.pages_per_core_s"] = done / (
        time.perf_counter() - t
    )


def crawl_leg(name: str, seed: int, seconds: float, work: str, traced: bool) -> Leg:
    from wikifrontier import frontier, synth
    from wikifrontier.frontier import CrawlConfig, run_crawl

    spec = CRAWLS[name]
    start = oracle.start_page(seed, spec.n)
    expected = oracle.expected_crawl(spec.n, start, spec.config["max_depth"])
    seeds = [synth.page_url(start)]
    cfg = CrawlConfig(robots_txt=synth.ROBOTS_TXT, **spec.config)
    leg = Leg()
    tracer = Tracer(tag_jobs=traced)
    counters: list[dict] = []
    tracer.wrap(
        frontier, "run_round", "frontier.run_round",
        on_result=lambda span, args, res: counters.append(res[1]),
    )
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = harness.start_spark(f"perfbench-{name}")
        tracer.sc = spark.sparkContext
        with tracer.span("synth.corpus_df"):
            corpus = synth.corpus_df(spark, spec.n).cache()
            corpus.count()
        cut_dir = os.path.join(work, "ckpt-cut")
        if spec.cuts:
            # the crawl up to the first cut: the history every timed unit
            # resumes from, and the JVM's warm-up
            with tracer.span("setup"):
                run_crawl(
                    spark, corpus, seeds,
                    dataclasses.replace(cfg, checkpoint_dir=cut_dir, max_rounds=spec.cuts[0]),
                )
        else:
            # warm-up: one round on a separate small corpus (JIT, Python
            # workers, the round's plans)
            warm = synth.corpus_df(spark, WARMUP_PAGES).cache()
            with tracer.span("setup"):
                run_crawl(
                    spark, warm, [synth.page_url(1)],
                    dataclasses.replace(cfg, max_rounds=1),
                )
        leg.setup_s = time.perf_counter() - t0
        unit_ids = itertools.count()

        def unit() -> bool:
            # drop what earlier rounds left cached (setup, previous unit)
            harness.clear_cached(spark)
            corpus.cache().count()
            unit_cfg = cfg
            if spec.cuts:
                unit_dir = os.path.join(work, f"ckpt-{next(unit_ids)}")
                shutil.copytree(cut_dir, unit_dir)
                unit_cfg = dataclasses.replace(cfg, checkpoint_dir=unit_dir)
            # one crawl call per leg: a fresh run_crawl(resume=True) from
            # each cut, the last one to the drain; without cuts, one crawl
            stops = spec.cuts[1:] + (cfg.max_rounds,)
            counters.clear()
            rounds, firsts = [], []
            t = time.perf_counter()
            for stop in stops:
                n_spans = len(tracer.spans)
                t_leg = time.perf_counter()
                try:
                    state = run_crawl(
                        spark, corpus, seeds,
                        dataclasses.replace(unit_cfg, max_rounds=stop),
                        resume=bool(spec.cuts),
                    )
                except Exception as exc:  # a failed round or resume fails the run
                    leg.op(False, f"crawl raised {type(exc).__name__}: {exc}")
                    return False
                leg_rounds = [
                    s for s in tracer.spans[n_spans:] if s.name == "frontier.run_round"
                ]
                leg.op(bool(leg_rounds), "a crawl leg ran no round")
                if not leg_rounds:
                    return False
                rounds += leg_rounds
                firsts.append(leg_rounds[0].t1 - t_leg)
            wall = time.perf_counter() - t
            for _ in rounds:
                leg.op(True, "")
            leg.steps.extend(s.s for s in rounds)
            _check_crawl(leg, spec, state, expected)
            rec = {
                "items": sum(c["urls_popped"] for c in counters)
                if cfg.collect_metrics else sum(expected.attempts.values()),
                "wall_s": wall,
                "first_s": statistics.median(firsts),
                "pages": len(expected.pages),
                "counters": {k: sum(c.get(k, 0) for c in counters) for k in COUNTERS},
            }
            if spec.cuts:
                rec["ckpt_bytes"], rec["ckpt_files"] = harness.dir_bytes(unit_dir)
            leg.units.append(rec)
            return True

        if traced:
            _trace_layers(tracer)
        since = len(tracer.spans)
        _timed_units(leg, seconds, unit)
        if traced and leg.units:
            _crawl_layers(leg, tracer, since, spark, corpus, spec)
            _reference_unit(leg, tracer, unit)
    finally:
        tracer.restore()
        harness.stop_spark()
    return leg


def _trace_layers(tracer: Tracer) -> None:
    """Spans around the seen and state layers' calls inside ``run_crawl``."""
    from wikifrontier import seen
    from wikifrontier import state as state_io

    def ckpt_mb(span, args, res):
        size, _ = harness.dir_bytes(os.path.join(args[2], f"round={res.round}"))
        span.attrs["mb"] = size / 2**20

    tracer.wrap(state_io, "write_checkpoint", "state.write_checkpoint", ckpt_mb)
    tracer.wrap(state_io, "prune_checkpoints", "state.prune_checkpoints")
    tracer.wrap(state_io, "load_checkpoint", "state.load_checkpoint")
    tracer.wrap(
        seen.PartitionedBloomSeen, "add_df", "seen.add_df",
        on_result=lambda span, args, res: span.attrs.update(rows=res),
    )


CRAWL_SPANS = (
    "synth.corpus_df", "frontier.run_round", "seen.add_df",
    "state.write_checkpoint", "state.load_checkpoint",
)


def _crawl_layers(leg: Leg, tracer: Tracer, since: int, spark, corpus, spec) -> None:
    layer = leg.layer
    layer["session.get_spark.s"] = tracer.total_s("session.get_spark")
    layer["synth.corpus_df.s"] = tracer.total_s("synth.corpus_df")
    for name in CRAWL_SPANS[1:]:
        layer[f"{name}.s"] = tracer.total_s(name, since)
    layer["frontier.run_round.n"] = len(tracer.named("frontier.run_round", since))
    layer["frontier.run_round.self_s"] = tracer.self_s("frontier.run_round", since)
    layer["seen.add_df.rows"] = sum(
        s.attrs.get("rows", 0) for s in tracer.named("seen.add_df", since)
    )
    writes = tracer.named("state.write_checkpoint", since)
    layer["state.write_checkpoint.n"] = len(writes)
    layer["state.write_checkpoint.mb"] = sum(s.attrs.get("mb", 0.0) for s in writes)
    layer["state.prune_checkpoints.s"] = tracer.total_s("state.prune_checkpoints", since)
    last = leg.units[-1]
    layer["state.ckpt_files"] = last.get("ckpt_files", 0)
    layer["state.ckpt_bytes_per_page"] = last.get("ckpt_bytes", 0) / last["pages"]
    c = last["counters"]
    for k in COUNTERS:
        layer[f"frontier.{k}"] = c[k]
    layer["frontier.claim_ratio"] = (
        c["links_claimed"] / c["links_extracted"] if c["links_extracted"] else 0.0
    )
    work = spark_work(spark.sparkContext, CRAWL_SPANS, skip_root="setup")
    for name, vals in work.items():
        for k in WORK_KEYS:
            layer[f"{name}.{k}"] = vals[k]
    _per_unit(
        layer, tuple(f"{name}." for name in CRAWL_SPANS[1:]) + ("state.prune_checkpoints.",),
        len(leg.units),
    )
    _parse_rates(leg, spark, corpus, spec.n)


# --- corpus_ops ---------------------------------------------------------------

# one query per analytic module, plus the filters / seen / politeness
# operator queries; the crawl-family queries are left to the crawl workloads
QUERIES = (
    "q14_dedup_minhash",            # dedup
    "q19_ann_bruteforce",           # similarity
    "q21_lang_id",                  # textops
    "q99_degree_distribution",      # linkgraph
    "q120_hll_distinct_hosts",      # sketch
    "q74_sessionize_events",        # streaming
    "q32_robots_filter",            # filters
    "q36_seen_partitioned_bloom",   # seen
    "q37_priority_pop",             # politeness
)
# passes per run at least: the first query's latency is one sample a pass
OPS_MIN_UNITS = 2
TABLES = ("documents", "events", "embeddings")
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _write_inputs(seed: int, out_dir: str) -> None:
    """The query inputs for ``seed``: the bundled tables with their rows in a
    seed-dependent order (results must not depend on it)."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    for t in TABLES:
        table = pq.read_table(os.path.join(DATA_DIR, f"{t}.parquet"))
        pq.write_table(
            table.take(rng.permutation(table.num_rows)),
            os.path.join(out_dir, f"{t}.parquet"),
        )


def _warm_up(leg: Leg, queries: dict, spark, sf_dir: str) -> bool:
    """One untimed run of the first query (minhash dedup: the explode →
    sha256 → aggregate shape most of the analytic queries share, and the
    first Arrow collect), so the first timed result does not carry the
    fresh JVM's start-up. A full untimed pass over the query set warms more
    but costs as much again and left the timed pass noisier: about 10 %
    run-to-run spread of ``items_per_s`` against 3 % cold."""
    name = QUERIES[0]
    try:
        queries[name](spark, sf_dir).toPandas()
    except Exception as exc:  # a failed query fails the run
        leg.op(False, f"{name} raised {type(exc).__name__}: {exc}")
        return False
    return True


def _check_queries(leg: Leg, passes: list[dict], sf_dir: str) -> None:
    """Each pass's rows of each query against the query's DuckDB oracle,
    compared the way the repository's oracle checker compares them."""
    import duckdb

    import __spark_entry__
    from tools.check_oracle import canon, values_equal

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in QUERIES:
            want = canon(con.execute(oracles[name]).fetchdf())
            for results in passes:
                got = canon(results[name])
                leg.op(
                    len(got) == len(want)
                    and list(got.columns) == list(want.columns)
                    and values_equal(got, want),
                    f"{name} differs from its DuckDB oracle",
                )
    finally:
        con.close()


def ops_leg(seed: int, seconds: float, work: str, traced: bool) -> Leg:
    import __spark_entry__

    leg = Leg()
    tracer = Tracer(tag_jobs=traced)
    queries = __spark_entry__.queries()
    sf_dir = os.path.join(work, "inputs")
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = harness.start_spark("perfbench-corpus_ops")
        tracer.sc = spark.sparkContext
        _write_inputs(seed, sf_dir)
        with tracer.span("setup"):
            warm = _warm_up(leg, queries, spark, sf_dir)
        leg.setup_s = time.perf_counter() - t0
        if not warm:
            return leg

        passes: list[dict] = []  # per unit: query name -> collected rows

        def unit() -> bool:
            harness.clear_cached(spark)  # the previous unit's leftovers
            results: dict = {}
            t = time.perf_counter()
            first = None
            with tracer.span("queries"):
                for name in QUERIES:
                    try:
                        with tracer.span(f"queries.{name}") as span:
                            results[name] = queries[name](spark, sf_dir).toPandas()
                    except Exception as exc:  # a failed query fails the run
                        leg.op(False, f"{name} raised {type(exc).__name__}: {exc}")
                        return False
                    leg.op(True, "")
                    leg.steps.append(span.s)
                    first = first or time.perf_counter() - t
            leg.units.append(
                {"items": len(QUERIES), "wall_s": time.perf_counter() - t,
                 "first_s": first}
            )
            passes.append(results)
            return True

        since = len(tracer.spans)
        _timed_units(leg, seconds, unit, min_units=OPS_MIN_UNITS)
        if leg.units:
            _check_queries(leg, passes, sf_dir)
        if traced and leg.units:
            layer = leg.layer
            layer["session.get_spark.s"] = tracer.total_s("session.get_spark")
            layer["queries.s"] = tracer.total_s("queries", since)
            names = ["queries"] + [f"queries.{q}" for q in QUERIES]
            work_by_span = spark_work(spark.sparkContext, names)
            for k in WORK_KEYS:
                layer[f"queries.{k}"] = work_by_span["queries"][k]
            for q in QUERIES:
                layer[f"queries.{q}.s"] = tracer.total_s(f"queries.{q}", since)
                layer[f"queries.{q}.cpu_s"] = work_by_span[f"queries.{q}"]["cpu_s"]
            _per_unit(layer, ("queries.",), len(leg.units))
            _reference_unit(leg, tracer, unit)
    finally:
        harness.stop_spark()
    return leg
