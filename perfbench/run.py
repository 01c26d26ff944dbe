"""Crawl benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The process starts Spark on
``local[k]`` (k = min(4, CPUs) - 1) with a 4 GiB driver heap, builds the
workload's seeded inputs, runs one untimed warm-up leg, then runs
measured legs for about ``--seconds`` seconds (at least one), checking
every leg's outputs. The last line of stdout is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (Spark event log on, spans written to
``.perfbench_out/``). Scratch files live in ``.perfbench_tmp/``, which
is removed before exit; the Spark JVM is stopped and waited for.
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

T_START = time.time()  # set-up time is counted from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("bulk_extract", "deep_replay", "large_queue")
DRIVER_HEAP = "4g"
STAGES = {  # CrawlEngine.timings stage -> per-layer metric
    "dequeue": "crawl.dequeue_s",
    "fetch_extract_outlinks": "crawl.fetch_extract_s",
    "dedup_seq": "crawl.dedup_seq_s",
    "metrics": "crawl.metrics_s",
    "snapshot_commit": "crawl.snapshot_commit_s",
}


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into the
    program's layers; a no-op unless tracing is on."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": self._open[-1] if self._open else None,
                           "start": time.time(), "end": None})
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._open.pop()]["end"] = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - T_START:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="task slots k of local[k] (default: min(4, CPUs) - 1)")
    return p.parse_args(argv)


def isolate_scratch(tmp: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``tmp`` (inside the checkout)."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    # the JVM's temp dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def start_spark(workload: str, cores: int, tmp: str, trace: bool):
    from text2mc_dataprocessor_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
        })
        os.makedirs(os.path.join(tmp, "events"))
    spark = get_spark(f"perfbench-{workload}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM (it exits when its stdin
    closes) and wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def event_log_stats(events_dir: str, windows) -> dict[str, list[float]]:
    """Per measured round: Spark jobs submitted, tasks launched and MB of
    shuffle written, attributed by time window."""
    per = [{"jobs": 0, "tasks": 0, "shuffle": 0} for _ in windows]
    bounds = [(a * 1000, b * 1000) for a, b in windows]

    def slot(ms):
        for k, (a, b) in enumerate(bounds):
            if a <= ms <= b:
                return per[k]
        return None

    paths = [os.path.join(d, n) for d, _, names in os.walk(events_dir)
             for n in names if not n.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    s = slot(ev["Submission Time"])
                    if s is not None:
                        s["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    s = slot(ev["Task Info"]["Launch Time"])
                    if s is not None:
                        s["tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        s["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return {
        "crawl.spark_jobs_per_round": [p["jobs"] for p in per],
        "crawl.spark_tasks_per_round": [p["tasks"] for p in per],
        "spark.shuffle_write_mb_per_round": [p["shuffle"] / 1e6 for p in per],
    }


def standalone_probes(spark, wl, leg, tracer) -> dict[str, float]:
    """Forced calls into single layers, outside any crawl round."""
    from pyspark.sql import functions as F

    import inputs
    from text2mc_dataprocessor_spark.functions.extract import (
        detail_fields,
        extract_all_arrow_factory,
        extract_all_schema,
    )
    from text2mc_dataprocessor_spark.operators.seen import (
        PartitionedBloom,
        dedup_and_split_new,
    )

    out = {}
    # extraction: mapInArrow over a cached batch of detail pages
    n_pages, n_py = 4000, 300
    d = F.lit(inputs.id_base(wl.seed) + 2**20) + F.col("id")
    batch = spark.range(0, n_pages, 1, wl.cores).select(
        inputs.detail_url_col(d).alias("url"), F.lit("detail").alias("kind"),
    ).withColumn("html", inputs.page_html_col(F.col("url"))).cache()
    batch.count()
    with tracer.span("functions.extract.mapInArrow"):
        t0 = time.time()
        batch.mapInArrow(extract_all_arrow_factory([]), extract_all_schema("")) \
            .write.format("noop").mode("overwrite").save()
        out["extract.pages_per_s"] = n_pages / (time.time() - t0)
    sample = [(r.url, r.html) for r in batch.limit(n_py).collect()]
    batch.unpersist()
    with tracer.span("functions.extract.detail_fields"):
        t0 = time.time()
        for url, html in sample:
            detail_fields(url, html)
        out["extract.py_pages_per_s"] = len(sample) / (time.time() - t0)

    # seen set: fused dedup + Bloom probe of half-seen, half-new candidates
    eng = leg.engine
    seen = eng.seen_df().cache()
    n_buckets = eng.cfg.n_buckets
    bloom = PartitionedBloom(n_buckets, eng.cfg.bloom_capacity_per_bucket,
                             eng.cfg.bloom_fpr).build(
        seen.select("bucket", "url_hash")).cache()
    bloom.count()
    fresh = seen.select(F.concat("url", F.lit("#new")).alias("url"))
    cand = (seen.select("url").unionByName(fresh)
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("bucket", F.pmod("url_hash", F.lit(n_buckets)).cast("int"))
            .withColumn("parent_rank", F.monotonically_increasing_id())
            .withColumn("dom_pos", F.lit(0))
            .cache())
    cand.count()
    with tracer.span("operators.seen.dedup_and_split_new"):
        t0 = time.time()
        dedup_and_split_new(cand, seen, bloom, ["parent_rank", "dom_pos"]).count()
        out["seen.probe_s"] = time.time() - t0
    for df in (cand, bloom, seen):
        df.unpersist()
    return out


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(legs, session_s, events, probes) -> dict[str, tuple]:
    """Per-layer metrics of a traced run: name -> (value, unit)."""
    stage = {}
    for leg in legs:
        for _r, name, sec in leg.timings:
            if name in STAGES:
                stage.setdefault(STAGES[name], []).append(sec)
    last = legs[-1]
    lin = last.lineage
    per_round = {}
    if lin is not None and len(lin):
        tot = lin[lin.key == "total"]
        for m in ("dequeued", "new_urls", "robots_denied"):
            per_round[m] = tot[tot.metric == m].groupby("round").value.sum()
    prune = last.engine.prune_stats
    if prune:  # prefix-pruned dequeue (global budget)
        prefix = median(p["prefix_rows"] for p in prune)
        queue = median(p["queue_rows"] for p in prune)
    else:
        # the plain dequeue scans the whole queue: queue before round r
        # = start + new - dequeued - denied of the rounds before it
        q, queues = last.queue0, []
        deq = per_round.get("dequeued", {})
        for r in sorted(deq.index) if len(deq) else []:
            queues.append(q)
            q += int(per_round["new_urls"].get(r, 0) - deq[r]
                     - per_round.get("robots_denied", {}).get(r, 0))
        prefix = queue = median(queues)
    m = {
        "session.start_s": (session_s, "s"),
        "crawl.init_s": (legs[0].init_s, "s"),
    }
    for name in STAGES.values():
        m[name] = (median(stage.get(name, [])), "s")
    for name, vals in events.items():
        m[name] = (median(vals), "MB" if name.endswith("_mb_per_round") else "count")
    m.update({
        "frontier.dequeued": (median(per_round.get("dequeued", [])), "count"),
        "frontier.prefix_rows": (prefix, "count"),
        "frontier.queue_rows": (queue, "count"),
        "frontier.scan_ratio": (prefix / queue if queue else 0.0, "ratio"),
        "politeness.robots_denied": (
            float(sum(per_round.get("robots_denied", []))), "count"),
        "extract.pages_per_s": (probes["extract.pages_per_s"], "1/s"),
        "extract.py_pages_per_s": (probes["extract.py_pages_per_s"], "1/s"),
        "seen.new_urls": (median(per_round.get("new_urls", [])), "count"),
        "seen.rows": (last.seen_rows, "count"),
        "seen.probe_s": (probes["seen.probe_s"], "s"),
        "snapshots.commit_mb": (median(last.commit_bytes) / 1e6, "MB"),
        "snapshots.files_per_commit": (median(last.commit_files), "count"),
        "snapshots.resume_s": (last.resume_s, "s"),
        "snapshots.time_travel_read_s": (last.time_travel_s, "s"),
    })
    return m


def run(args, tmp: str) -> dict:
    from workloads import WORKLOADS, dir_stats

    tracer = Tracer(bool(args.trace))
    # one CPU of at most four is left to the driver JVM, the Python
    # driver and the JIT: on 4 shared vCPUs local[3] ran rounds no
    # slower than local[4], with less contention
    cores = args.cores or max(1, min(4, os.cpu_count() or 1) - 1)
    with tracer.span("session.start"):
        spark = start_spark(args.workload, cores, tmp, bool(args.trace))
    t_session = time.time() - T_START
    log(f"spark up on local[{cores}]")
    try:
        pid = jvm_pid(spark)
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, cores, tracer)
        with tracer.span("inputs"):
            wl.make_inputs()
        with tracer.span("warm_up"):
            wl.warm_up()
        log("inputs built, warm-up done")
        with tracer.span("crawl.init"):
            leg = wl.new_leg()  # the first leg's preparation is set-up
        setup_s = time.time() - T_START
        legs, verdicts = [], []
        t_measure = time.time()
        while True:
            t_leg = time.time()
            with tracer.span("crawl.leg"):
                wl.crawl(leg)
            with tracer.span("check"):
                verdicts.append(wl.check(leg))
            legs.append(leg)
            log(f"leg {len(legs)}: {leg.urls} URLs, crawl {leg.crawl_s:.1f}s, "
                f"rounds {[round(r, 1) for r in leg.round_s]}, "
                f"{'ok' if verdicts[-1].ok else 'FAILED'}")
            # measure whole legs only: stop unless another one fits
            next_leg = time.time() - t_leg + leg.init_s
            if time.time() - t_measure + next_leg > args.seconds:
                break
            with tracer.span("crawl.init"):
                leg = wl.new_leg()
        state_mb = dir_stats(leg.workdir)[0] / 1e6
        rss = peak_rss_mb(pid)
        probes = {}
        if args.trace:
            with tracer.span("snapshots.resume"):
                wl.traced_resume(legs[-1])
            probes = standalone_probes(spark, wl, legs[-1], tracer)
    finally:
        stop_spark(spark)

    attempted = sum(leg.urls for leg in legs)
    failed = min(attempted, sum(v.failed for v in verdicts))
    correct = all(v.ok for v in verdicts)
    for v in verdicts:
        for p in v.problems:
            print(f"CHECK FAILED [{args.workload}]: {p}", file=sys.stderr)
    if args.trace:
        windows = [w for leg in legs for w in leg.windows]
        events = event_log_stats(os.path.join(tmp, "events"), windows)
        metrics = per_layer(legs, t_session, events, probes)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans,
                       # CrawlEngine.timings of the measured engines:
                       # [round, stage, seconds]
                       "stage_timings": [t for leg in legs for t in leg.timings],
                       "metrics": {k: v for k, (v, _u) in metrics.items()}},
                      f, indent=1)
    else:
        crawl_s = sum(leg.crawl_s for leg in legs)
        metrics = {
            "setup_s": (setup_s, "s"),
            "urls_per_s": (attempted / crawl_s, "URLs/s"),
            "round_s": (median(r for leg in legs for r in leg.round_s), "s"),
            "peak_rss_mb": (rss, "MB"),
            "state_mb": (state_mb, "MB"),
        }
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the program under test is the checkout's own source tree
    import text2mc_dataprocessor_spark as program
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        sys.exit(f"text2mc_dataprocessor_spark not found under {ROOT}")

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        isolate_scratch(tmp)
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
