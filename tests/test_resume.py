"""Checkpoint/resume property: stopping after any snapshot and resuming
yields byte-identical final state (north rule: resumable from any
snapshot). Mirrors the reference's NULL-cursor resume semantics
(/root/reference/scraper/selenium_scraper.py:196-209, 286-307) but via
versioned snapshots instead of column scans."""

import pandas as pd
import pytest

from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
from text2mc_dataprocessor_spark.sources.fetch import TableFetcher
from text2mc_dataprocessor_spark.sources.fixtures import pages_to_spark, seeds_to_spark
from text2mc_dataprocessor_spark.sources.snapshots import Manifest, SnapshotTable


def _final_state(eng):
    frontier = (
        eng.frontier_df().toPandas().sort_values("url").reset_index(drop=True)
    )
    trace = eng.trace_df().toPandas().sort_values("dequeue_seq").reset_index(drop=True)
    extracted = (
        eng.extracted_df().toPandas().sort_values("url").reset_index(drop=True)
    )
    seen = sorted(r.url for r in eng.seen_df().select("url").collect())
    return frontier, trace, extracted, seen


def _assert_same_state(got_eng, want_eng):
    for got, want in zip(_final_state(got_eng), _final_state(want_eng)):
        if isinstance(got, pd.DataFrame):
            pd.testing.assert_frame_equal(got, want)
        else:
            assert got == want


def test_resume_equals_uninterrupted(spark, corpus, tmp_path):
    cfg = CrawlConfig(politeness_budget=3, n_buckets=8, bloom_capacity_per_bucket=10_000)
    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)

    # uninterrupted run
    a = CrawlEngine(spark, str(tmp_path / "a"), pages, config=cfg)
    a.init(seeds)
    a.run()

    # interrupted: 2 rounds, new engine instance resumes from latest snapshot
    b1 = CrawlEngine(spark, str(tmp_path / "b"), pages, config=cfg)
    b1.init(seeds)
    b1.run(rounds=2)
    del b1
    b2 = CrawlEngine.resume(spark, str(tmp_path / "b"), pages, config=cfg)
    b2.run()

    _assert_same_state(b2, a)


def test_resume_from_earlier_version_replays_identically(spark, corpus, tmp_path):
    cfg = CrawlConfig(politeness_budget=3, n_buckets=8, bloom_capacity_per_bucket=10_000)
    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)

    a = CrawlEngine(spark, str(tmp_path / "a"), pages, config=cfg)
    a.init(seeds)
    a.run()
    final_trace = a.trace_df().toPandas().sort_values("dequeue_seq").reset_index(drop=True)
    final_version = a.version

    # roll the SAME workdir back to version 2 (after round 1) and replay
    a2 = CrawlEngine.resume(spark, str(tmp_path / "a"), pages, config=cfg, version=2)
    assert a2.round_number() == 1
    a2.run()
    replay_trace = (
        a2.trace_df().toPandas().sort_values("dequeue_seq").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(replay_trace, final_trace)
    assert a2.version == final_version


def test_checkpoint_cadence_equivalent(spark, corpus, tmp_path):
    """checkpoint_every=3 (reference's every-K-pages cadence) produces the
    same final state as per-round commits, and resume restarts from the
    last committed snapshot."""
    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)
    a = CrawlEngine(
        spark, str(tmp_path / "a"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8),
    )
    a.init(seeds)
    a.run()

    b = CrawlEngine(
        spark, str(tmp_path / "b"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8, checkpoint_every=3),
    )
    b.init(seeds)
    b.run(rounds=4)  # commits at round 3, round 4 left dirty → final commit
    b2 = CrawlEngine.resume(
        spark, str(tmp_path / "b"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8, checkpoint_every=3),
    )
    b2.run()
    _assert_same_state(b2, a)


def test_lineage_metrics_recorded(spark, corpus, tmp_path):
    cfg = CrawlConfig(politeness_budget=3, n_buckets=8)
    eng = CrawlEngine(spark, str(tmp_path / "m"), pages_to_spark(spark, corpus), config=cfg)
    eng.init(seeds_to_spark(spark, corpus))
    eng.run(rounds=3)
    lineage = eng.lineage_df().toPandas()
    for metric in ["dequeued", "fetched", "new_urls", "dup_dropped_seen"]:
        assert metric in set(lineage.metric), metric
    # per-partition fetch metrics exist
    assert (lineage.metric == "fetch_partition_rows").any()
    # trace dequeue counts match lineage
    total_deq = lineage[(lineage.metric == "dequeued") & (lineage.key == "total")].value.sum()
    assert total_deq == eng.trace_df().count()

def test_resume_hydrates_cursors_from_meta_without_history_scan(spark, corpus, tmp_path):
    """Resume cursors (max_seq, trace_count) ride in the manifest meta:
    hydrating state must run NO full-history Spark action. The probe
    monkeypatches the fallback actions (DataFrame.count / .agg / .first)
    to raise during resume — meta-backed hydration never calls them."""
    from pyspark.sql import DataFrame

    cfg = CrawlConfig(politeness_budget=3, n_buckets=8)
    a = CrawlEngine(spark, str(tmp_path / "m"), pages_to_spark(spark, corpus), config=cfg)
    a.init(seeds_to_spark(spark, corpus))
    a.run(rounds=2)
    want_seq, want_trace = a._max_seq, a._trace_count
    meta = a.snap.read()["meta"]
    assert meta["max_seq"] == want_seq and meta["trace_count"] == want_trace

    def boom(self, *args, **kwargs):
        raise AssertionError("resume ran a full-history Spark action")

    saved = {n: getattr(DataFrame, n) for n in ("count", "agg", "first", "collect")}
    try:
        for n in saved:
            setattr(DataFrame, n, boom)
        b = CrawlEngine.resume(
            spark, str(tmp_path / "m"), pages_to_spark(spark, corpus), config=cfg
        )
    finally:
        for n, f in saved.items():
            setattr(DataFrame, n, f)
    assert b._max_seq == want_seq and b._trace_count == want_trace
    b.run()  # and the resumed crawl still completes


def test_resume_keeps_fetch_fn_and_artifacts(spark, corpus, tmp_path):
    """A crawl built with a fetch function (no pages table) and an
    artifacts table resumes with both: the resumed crawl equals an
    uninterrupted one, HEAD-probed download sizes included."""
    cfg = CrawlConfig(politeness_budget=3, n_buckets=8)
    seeds = seeds_to_spark(spark, corpus)
    fetch_fn = TableFetcher(pages_to_spark(spark, corpus)).fetch
    raws = sorted({r for r in corpus.golden["raw_download_link"] if r})
    artifacts = spark.createDataFrame(
        pd.DataFrame({"url": raws, "html": [b"y" * (50 + i) for i in range(len(raws))]}),
        schema="url string, html binary",
    )

    a = CrawlEngine(spark, str(tmp_path / "a"), None, config=cfg,
                    fetch_fn=fetch_fn, artifacts=artifacts)
    a.init(seeds)
    a.run()

    b1 = CrawlEngine(spark, str(tmp_path / "b"), None, config=cfg,
                     fetch_fn=fetch_fn, artifacts=artifacts)
    b1.init(seeds)
    b1.run(rounds=1)
    del b1
    b2 = CrawlEngine.resume(spark, str(tmp_path / "b"), None, config=cfg,
                            fetch_fn=fetch_fn, artifacts=artifacts)
    b2.run()
    _assert_same_state(b2, a)
    assert b2.extracted_df().filter("download_size IS NOT NULL").count() > 0


def test_crash_inside_commit_resumes_to_uninterrupted_crawl(
        spark, corpus, tmp_path, monkeypatch):
    """Faults injected inside ``_commit_state`` — a table write that
    raises while the other writes complete, then a raise after every
    data file and the version's manifest are written but before the
    HEAD rename — leave the previous version current on disk, and
    resume + run reproduces the uninterrupted crawl."""
    cfg = CrawlConfig(politeness_budget=3, n_buckets=8)
    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)
    a = CrawlEngine(spark, str(tmp_path / "a"), pages, config=cfg)
    a.init(seeds)
    a.run()

    wd = str(tmp_path / "b")
    b = CrawlEngine(spark, wd, pages, config=cfg)
    b.init(seeds)
    b.run(rounds=1)
    assert Manifest(wd).current_version() == 2

    # 1. one table's write raises
    commit_append = SnapshotTable.commit_append

    def failing_append(self, parent, delta_df, version):
        if self.name == "trace":
            raise OSError("injected: trace write failed")
        return commit_append(self, parent, delta_df, version)

    monkeypatch.setattr(SnapshotTable, "commit_append", failing_append)
    with pytest.raises(OSError, match="injected"):
        b.run(rounds=1)
    monkeypatch.undo()
    assert Manifest(wd).current_version() == 2
    assert not (tmp_path / "b" / "manifests" / "v3.json").exists()

    b = CrawlEngine.resume(spark, wd, pages, config=cfg)
    assert b.version == 2 and b.round_number() == 1
    b.run(rounds=1)
    assert b.version == 3

    # 2. data and manifest written, HEAD rename never happens
    def failing_publish(self, version):
        raise OSError("injected: crash before the HEAD rename")

    monkeypatch.setattr(Manifest, "publish", failing_publish)
    with pytest.raises(OSError, match="injected"):
        b.run(rounds=1)
    monkeypatch.undo()
    assert Manifest(wd).current_version() == 3
    assert (tmp_path / "b" / "manifests" / "v4.json").exists()

    b = CrawlEngine.resume(spark, wd, pages, config=cfg)
    assert b.version == 3 and b.round_number() == 2
    b.run()
    _assert_same_state(b, a)
