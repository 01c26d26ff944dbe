"""The two crawl workloads of the benchmark.

Each workload builds its seeded inputs, warms up, and then runs
measured *legs*: a leg is one fixed crawl in a fresh snapshot workdir,
driven through the public ``CrawlEngine`` API one ``run(rounds=1)``
call at a time, followed by its correctness checks.

- ``bulk_extract``: a host-skewed synthetic detail frontier crawled for
  one large round; fetch + the Arrow extraction UDF is its largest stage.
- ``deep_replay``: the fixture web graph crawled to exhaustion in replay
  mode (pages table), committing every round; after two rounds the
  engine is dropped and ``CrawlEngine.resume`` restarts from the version
  one round back. A global budget above any round's dequeue count routes
  every dequeue through the prefix-pruned path without changing the
  crawl order.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd

import inputs
from checks import (
    Verdict,
    check_crawl_properties,
    check_detail_fields,
    check_extracted_golden,
        check_set_equals,
    check_trace_equals,
)
from text2mc_dataprocessor_spark.functions.extract import (
    extract_all_arrow_factory,
    extract_all_schema,
)
from text2mc_dataprocessor_spark.operators.politeness import ROBOTS_RULES_SCHEMA
from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
from text2mc_dataprocessor_spark.plans.oracle import simulate_rounds
from text2mc_dataprocessor_spark.sources.fixtures import (
    generate_corpus,
    pages_to_spark,
    seeds_to_spark,
)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


@dataclass
class Leg:
    """One measured crawl and what the benchmark observed of it."""

    workdir: str
    engine: CrawlEngine
    init_s: float = 0.0
    crawl_s: float = 0.0  # wall time inside resume() and run() calls
    urls: int = 0  # URLs dequeued (each one fetched and extracted)
    round_s: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    commit_bytes: list[int] = field(default_factory=list)
    commit_files: list[int] = field(default_factory=list)
    timings: list[tuple[int, str, float]] = field(default_factory=list)
    lineage: pd.DataFrame | None = None
    queue0: int = 0  # QUEUED rows when the leg's first round starts
    resume_s: float | None = None
    time_travel_s: float | None = None
    seen_rows: int = 0
    before_drop: pd.DataFrame | None = None  # deep_replay: first engine's trace
    resumed_from_round: int = 0


class Workload:
    """Shared driving code; subclasses define inputs, legs and checks."""

    name = ""

    def __init__(self, spark, tmp: str, seed: int, cores: int, tracer):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.cores = cores
        self.tracer = tracer  # run.Tracer: spans around calls into layers
        self.trace = tracer.on
        self._n_dirs = 0

    def workdir(self, tag: str) -> str:
        self._n_dirs += 1
        path = os.path.join(self.tmp, f"{tag}-{self._n_dirs}")
        os.makedirs(path)
        return path

    def run_round(self, leg: Leg, eng: CrawlEngine) -> int:
        """One ``run(rounds=1)`` call, timed; → rounds executed (0 or 1)."""
        before = dir_stats(leg.workdir) if self.trace else None
        with self.tracer.span("plans.crawl.run_round"):
            t0 = time.time()
            n = eng.run(rounds=1)
            t1 = time.time()
        leg.crawl_s += t1 - t0
        if n:
            leg.round_s.append(t1 - t0)
            leg.windows.append((t0, t1))
            if before is not None:
                after = dir_stats(leg.workdir)
                leg.commit_bytes.append(after[0] - before[0])
                leg.commit_files.append(after[1] - before[1])
        return n

    def finish_leg(self, leg: Leg) -> None:
        leg.timings += leg.engine.timings
        if self.trace:
            leg.lineage = leg.engine.lineage_df().toPandas()

    def time_travel_and_resume(self, leg: Leg, version: int, make) -> CrawlEngine:
        """Reattach to ``leg``'s workdir at ``version`` with ``make`` and
        run the first resumed round. ``leg.resume_s`` is the reattach
        call plus that round; a traced run also times ``extracted_df``
        at the reattached (older) version, forced by a count."""
        with self.tracer.span("sources.snapshots.reattach"):
            t0 = time.time()
            eng = make(version)
            t_resume = time.time() - t0
        leg.crawl_s += t_resume
        if self.trace:
            with self.tracer.span("sources.snapshots.time_travel_read"):
                t0 = time.time()
                eng.extracted_df().count()
                leg.time_travel_s = time.time() - t0
        n_rounds = len(leg.round_s)
        self.run_round(leg, eng)
        leg.resume_s = t_resume + sum(leg.round_s[n_rounds:])
        return eng

    def traced_resume(self, leg: Leg) -> None:
        """Traced runs only: roll ``leg``'s workdir back one version and
        run one round there (``snapshots.resume_s``). A fetch-function
        crawl cannot use ``CrawlEngine.resume``, which takes no
        ``fetch_fn``; it reattaches with the constructor and
        ``rollback``, which is what ``resume`` does inside."""
        probe = Leg(leg.workdir, leg.engine)

        def reattach(version: int) -> CrawlEngine:
            eng = self.engine(leg.workdir)
            eng.rollback(version)
            return eng

        self.time_travel_and_resume(probe, leg.engine.version - 1, reattach)
        leg.resume_s, leg.time_travel_s = probe.resume_s, probe.time_travel_s

    # subclass API
    def make_inputs(self) -> None: ...

    def warm_up(self) -> None:
        """Untimed work before the first leg (counted in setup_s)."""

    def new_leg(self) -> Leg:
        """A fresh workdir and engine, ready for the measured rounds."""

    def crawl(self, leg: Leg) -> None: ...
    def check(self, leg: Leg) -> Verdict: ...
    def engine(self, workdir: str) -> CrawlEngine: ...


# ---- bulk_extract -----------------------------------------------------------

class BulkExtract(Workload):
    """One large round per leg over a fresh synthetic detail frontier."""

    name = "bulk_extract"
    N_DETAILS = 6_000
    WARM_DETAILS = 300

    def make_inputs(self) -> None:
        n = self.N_DETAILS
        self.base = inputs.id_base(self.seed)
        self.robots = inputs.robots(self.spark)
        self.cfg = CrawlConfig(
            # host 0 holds n/8 URLs and is served n/16 per round; every
            # other host drains in round 1
            politeness_budget=n // 16,
            n_buckets=16,
            bloom_capacity_per_bucket=10_000,
            checkpoint_every=1,
            fetch_partitions=4 * self.cores,
            detailed_metrics=False,
            salt_buckets=16,  # spread host 0's fetch batch over tasks
        )

    def engine(self, wd: str) -> CrawlEngine:
        return CrawlEngine(self.spark, wd, pages=None, robots=self.robots,
                           config=self.cfg, fetch_fn=inputs.synth_fetch)

    def warm_up(self) -> None:
        """One extraction pass (``mapInArrow`` to a noop sink) over 300
        template pages: starts the Python workers and runs the Arrow UDF
        this workload measures. A full warm-up crawl round made each run
        about 20 s longer; see README, Warm-up."""
        pages = inputs.detail_frontier(
            self.spark, self.base + 3 * 2**19, self.WARM_DETAILS, 1, self.cores)
        inputs.synth_fetch(pages).select("url", "kind", "html").mapInArrow(
            extract_all_arrow_factory([]), extract_all_schema(""),
        ).write.format("noop").mode("overwrite").save()

    def new_leg(self) -> Leg:
        wd = self.workdir("leg")
        eng = self.engine(wd)
        t0 = time.time()
        eng.init_frontier(inputs.detail_frontier(
            self.spark, self.base, self.N_DETAILS, self.cfg.n_buckets,
            self.cores))
        return Leg(wd, eng, init_s=time.time() - t0, queue0=self.N_DETAILS)

    def crawl(self, leg: Leg) -> None:
        self.run_round(leg, leg.engine)
        self.finish_leg(leg)

    def check(self, leg: Leg) -> Verdict:
        eng = leg.engine
        trace = eng.trace_df().toPandas()
        extracted = eng.extracted_df().toPandas()
        frontier = eng.frontier_df().select("url", "state").toPandas()
        states = {k: int(n) for k, n in frontier.state.value_counts().items()}
        dupes = int(frontier.url.duplicated().sum())
        seen = eng.seen_df().count()
        leg.urls = len(trace)
        leg.seen_rows = seen
        v = Verdict()
        check_crawl_properties(v, trace, states, dupes, seen,
                               self.cfg.politeness_budget,
                               inputs.host_name_denied)
        check_detail_fields(v, trace, extracted)
        return v


# ---- deep_replay ------------------------------------------------------------

class DeepReplay(Workload):
    """Crawl to exhaustion with a resume one version back. The rounds
    before the drop are the warm-up (untimed); the measured part is the
    resume and the resumed rounds, the replayed one included."""

    name = "deep_replay"
    # listing -> details -> download pages: three rounds on every seed
    CORPUS = dict(n_hosts=4, listing_pages_per_host=1, links_per_listing=8)
    BUDGET = 24
    # above the largest round of every seed: the pruned dequeue runs,
    # and the crawl order is the same as without a global budget
    GLOBAL_BUDGET = 48
    # of 3 rounds; untimed (the warm-up), then the engine is dropped and
    # the measured crawl resumes from one version back
    ROUNDS_BEFORE_DROP = 2

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            politeness_budget=self.BUDGET,
            global_budget=self.GLOBAL_BUDGET,
            n_buckets=8,
            bloom_capacity_per_bucket=10_000,
            checkpoint_every=1,
            fetch_partitions=self.cores,
            detailed_metrics=False,
        )

    def make_inputs(self) -> None:
        self.corpus = generate_corpus(seed=self.seed, **self.CORPUS)
        self.pages = pages_to_spark(self.spark, self.corpus)
        self.robots = self.spark.createDataFrame(self.corpus.robots,
                                                 ROBOTS_RULES_SCHEMA)
        self.seeds = seeds_to_spark(self.spark, self.corpus)
        self.cfg = self.config()
        self.oracle = simulate_rounds(self.corpus, politeness_budget=self.BUDGET,
                                      global_budget=self.GLOBAL_BUDGET)
        self.oracle_trace = self.oracle.trace_df()

    def new_leg(self) -> Leg:
        """Init and the first rounds, untimed: they are the warm-up."""
        wd = self.workdir("leg")
        eng = CrawlEngine(self.spark, wd, self.pages, self.robots, self.cfg)
        t0 = time.time()
        eng.init(self.seeds)
        leg = Leg(wd, eng, init_s=time.time() - t0, queue0=len(self.corpus.seeds))
        eng.run(rounds=self.ROUNDS_BEFORE_DROP)
        leg.before_drop = eng.trace_df().toPandas()  # for the checks
        return leg

    def crawl(self, leg: Leg) -> None:
        """Drop the engine, resume one version back, crawl to the end."""
        back = leg.engine.version - 1
        leg.resumed_from_round = leg.engine.round_number(back)
        leg.engine = None  # dropped; only its snapshots remain
        eng = self.time_travel_and_resume(leg, back, lambda ver: (
            CrawlEngine.resume(self.spark, leg.workdir, self.pages,
                               self.robots, self.cfg, version=ver)))
        while self.run_round(leg, eng):
            pass
        leg.engine = eng
        self.finish_leg(leg)

    def check(self, leg: Leg) -> Verdict:
        eng = leg.engine
        trace = eng.trace_df().toPandas()
        extracted = eng.extracted_df().toPandas()
        seen = {r.url for r in eng.seen_df().select("url").collect()}
        before = leg.before_drop
        # URLs of the measured (resumed) rounds, the replayed one included
        leg.urls = int((trace["round"] > leg.resumed_from_round).sum())
        leg.seen_rows = len(seen)
        v = Verdict()
        o = self.oracle_trace
        check_trace_equals(
            v, before, o[o["round"] <= self.ROUNDS_BEFORE_DROP],
            "trace before the resume vs oracle")
        check_trace_equals(v, trace, o, "trace after the resume vs oracle")
        check_set_equals(v, seen, self.oracle.seen, "seen set vs oracle")
        check_extracted_golden(v, extracted, self.corpus.golden)
        return v

    def traced_resume(self, leg: Leg) -> None:
        pass  # every leg resumes; crawl() already timed it


WORKLOADS = {w.name: w for w in (BulkExtract, DeepReplay)}
