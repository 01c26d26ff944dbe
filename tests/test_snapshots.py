"""Snapshot layer: one manifest + HEAD per version, atomic commits,
VERSION AS OF, rollback, explicit re-commit of a target version
(mid-round crash recovery), table writes that take the parent's entry
and return the new one."""

import os

import pytest

from text2mc_dataprocessor_spark.sources.snapshots import (
    BucketedSnapshotTable,
    Manifest,
    SnapshotTable,
)


def test_commit_read_versions(spark, tmp_path):
    m = Manifest(str(tmp_path))
    t = SnapshotTable(str(tmp_path), "tbl")
    assert m.current_version() is None
    m.commit(1, {"round": 0}, {"tbl": t.commit(spark.range(3).toDF("id"), 1)})
    m.commit(2, {"round": 1}, {"tbl": t.commit(spark.range(5).toDF("id"), 2)})
    assert m.current_version() == 2
    assert t.read(spark, m.read()["tables"]["tbl"]).count() == 5
    # VERSION AS OF
    assert t.read(spark, m.read(1)["tables"]["tbl"]).count() == 3
    assert m.read()["meta"]["round"] == 1
    assert sorted(os.listdir(tmp_path / "manifests")) == ["v1.json", "v2.json"]


def test_rollback_and_recommit(spark, tmp_path):
    m = Manifest(str(tmp_path))
    t = SnapshotTable(str(tmp_path), "tbl")
    m.commit(1, {}, {"tbl": t.commit(spark.range(3).toDF("id"), 1)})
    m.commit(2, {}, {"tbl": t.commit(spark.range(5).toDF("id"), 2)})
    m.publish(1)  # rollback
    assert m.current_version() == 1
    assert t.read(spark, m.read()["tables"]["tbl"]).count() == 3
    with pytest.raises(ValueError, match="unknown version"):
        m.publish(3)
    # explicit-version re-commit (crash recovery path)
    m.commit(2, {"redo": True}, {"tbl": t.commit(spark.range(7).toDF("id"), 2)})
    assert m.current_version() == 2
    assert t.read(spark, m.read()["tables"]["tbl"]).count() == 7
    assert m.read()["meta"] == {"redo": True}


def test_append_history_byte_reuses_parent_dirs(spark, tmp_path):
    """Incremental commits: appended history segments and untouched data
    dirs are byte-reused across versions — only the delta is written
    (the 10^10-scale fix for full-table rewrites per checkpoint)."""
    m = Manifest(str(tmp_path))
    t = SnapshotTable(str(tmp_path), "trace")
    e1 = t.commit(spark.range(10).selectExpr("id AS a"), 1)  # v1 base

    def files_under(path):
        out = {}
        for root, _d, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    v1_files = files_under(e1["path"])
    e2 = t.commit_append(e1, spark.range(10, 20).selectExpr("id AS a"), 2)
    e3 = t.commit_append(e2, spark.range(20, 25).selectExpr("id AS a"), 3)

    # v3 still points at v1's main dir and v2's delta dir, untouched
    assert e3["path"] == e1["path"]
    assert e2["history"][0] in e3["history"]
    assert files_under(e3["path"]) == v1_files  # byte-identical, never rewritten
    # reads union main + all history; VERSION AS OF slices correctly
    assert t.read(spark, e3).count() == 25
    assert t.read(spark, e2).count() == 20
    assert t.read(spark, e1).count() == 10
    # rollback semantics unchanged
    for v, e in enumerate((e1, e2, e3), 1):
        m.commit(v, {"round": v - 1}, {"trace": e})
    m.publish(2)
    assert t.read(spark, m.read()["tables"]["trace"]).count() == 20


def test_commit_with_history_rewrites_only_main(spark, tmp_path):
    """Queue/done-style commits: the main part is rewritten per version,
    history segments accumulate and are byte-reused."""
    t = SnapshotTable(str(tmp_path), "frontier")
    e1 = t.commit(spark.range(5).selectExpr("id AS a"), 1)  # v1: queue only
    e2 = t.commit_with_history(
        e1,
        spark.range(3).selectExpr("id + 100 AS a"),       # new queue
        spark.range(5).selectExpr("id AS a"),             # done delta
        2,
    )
    e3 = t.commit_with_history(
        e2,
        spark.range(1).selectExpr("id + 200 AS a"),
        spark.range(3).selectExpr("id + 100 AS a"),
        3,
    )
    assert e2["path"] != e3["path"]                      # main rewritten
    assert e2["history"] == e3["history"][:1]            # deltas accumulate
    assert t.read_main(spark, e3).count() == 1
    assert t.read_history(spark, e3).count() == 8
    assert t.read(spark, e3).count() == 9


def test_delta_schema_drift_is_refused_at_commit(spark, tmp_path):
    """Every segment is read with the entry's one pinned schema, so a
    delta with other columns would be cut down to it on read. History
    and bucketed deltas whose field names or types differ are refused
    when committed."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path), "trace")
    e1 = t.commit(spark.range(3).selectExpr("id AS a"), 1)
    with pytest.raises(ValueError, match="pinned"):  # extra column
        t.commit_append(e1, spark.range(3).selectExpr("id AS a", "id AS b"), 2)
    with pytest.raises(ValueError, match="pinned"):  # changed type
        t.commit_append(e1, spark.range(3).selectExpr("CAST(id AS int) AS a"), 2)
    with pytest.raises(ValueError, match="pinned"):  # delta beside a new main
        t.commit_with_history(
            e1, spark.range(3).selectExpr("id AS a"),
            spark.range(3).selectExpr("id AS c"), 2)
    empty = SnapshotTable.empty("a long")
    with pytest.raises(ValueError, match="pinned"):
        t.commit_append(empty, spark.range(3).selectExpr("id AS z"), 2)
    # a matching delta (nullability aside) still commits
    e2 = t.commit_append(e1, spark.range(3, 5).selectExpr("id AS a"), 2)
    assert t.read(spark, e2).count() == 5

    b = BucketedSnapshotTable(str(tmp_path), "ext")

    def delta(*cols):
        return spark.range(3).select(
            *cols, F.lit(0).cast("int").alias("_bkt"))

    b1 = b.commit_delta(None, delta(F.col("id").alias("k")), 1)
    with pytest.raises(ValueError, match="pinned"):
        b.commit_delta(
            b1, delta(F.col("id").alias("k"), F.col("id").alias("v")), 2)
    b2 = b.commit_delta(b1, delta(F.col("id").alias("k")), 2)
    assert b.read(spark, b2).count() == 6


def _files_under(paths):
    import os

    out = {}
    for path in paths:
        for root, _d, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_bucketed_delta_commits_byte_reuse_untouched_buckets(spark, tmp_path):
    """BucketedSnapshotTable: each commit writes only its delta's
    buckets; every parent segment is carried by reference and stays
    byte-identical across versions (the extracted-table contract)."""
    from pyspark.sql import functions as F

    t = BucketedSnapshotTable(str(tmp_path), "ext", max_segments=100)

    def delta(lo, hi, bkt):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
            F.lit(bkt).cast("int").alias("_bkt"),
        )

    e1 = t.commit_delta(None, delta(0, 5, 0).unionByName(delta(5, 8, 1)), 1)
    paths1 = t.bucket_paths(e1)
    v1_files = _files_under([p for ps in paths1.values() for p in ps])
    e2 = t.commit_delta(e1, delta(8, 12, 1), 2)   # v2 touches bucket 1 only
    e3 = t.commit_delta(e2, delta(12, 13, 2), 3)  # v3 touches bucket 2 only

    paths3 = t.bucket_paths(e3)
    # bucket 0 still points at its v1 segment; v1 files untouched on disk
    assert paths3[0] == paths1[0]
    assert all(
        _files_under([p]) == {
            k: v for k, v in v1_files.items() if k.startswith(p)
        } for p in paths1[0] + paths1[1]
    )
    # segment lists accumulate per bucket
    assert len(paths3[1]) == 2 and len(paths3[2]) == 1
    # reads union everything; VERSION AS OF slices correctly
    assert t.read(spark, e3).count() == 13
    assert t.read(spark, e1).count() == 8
    # key-pruned read opens only the requested buckets
    assert t.read_buckets(spark, e3, [1]).count() == 7
    assert t.read_buckets(spark, e3, [0, 2]).count() == 6


def test_bucketed_compaction_folds_overflowing_buckets(spark, tmp_path):
    """A bucket whose segment list exceeds max_segments is folded into
    ONE segment at commit; rows and time travel are unaffected."""
    from pyspark.sql import functions as F

    t = BucketedSnapshotTable(str(tmp_path), "ext", max_segments=3)
    entries, e = [], None
    for i in range(6):
        d = spark.range(i * 10, i * 10 + 4).select(
            F.col("id").alias("k"), F.lit(0).cast("int").alias("_bkt")
        )
        e = t.commit_delta(e, d, i + 1)
        entries.append(e)
    # list length stays bounded by max_segments despite 6 appends
    assert len(t.bucket_paths(e)[0]) <= 3
    got = sorted(r.k for r in t.read(spark, e).collect())
    assert got == sorted(
        x for i in range(6) for x in range(i * 10, i * 10 + 4)
    )
    # earlier versions still read their own segment lists
    assert t.read(spark, entries[1]).count() == 8


def test_crawl_extracted_commits_are_pure_appends(spark, corpus, tmp_path):
    """Engine-level byte-identity: across crawl rounds, every extracted
    segment referenced by version v is still referenced (and
    byte-identical) at v+1 — no crawl round rewrites extracted rows."""
    from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
    from text2mc_dataprocessor_spark.sources.fixtures import (
        pages_to_spark,
        seeds_to_spark,
    )

    eng = CrawlEngine(
        spark, str(tmp_path / "c"), pages_to_spark(spark, corpus),
        config=CrawlConfig(politeness_budget=3, n_buckets=8),
    )
    eng.init(seeds_to_spark(spark, corpus))
    eng.run()
    vs = range(1, eng.version + 1)
    assert len(vs) >= 3

    def paths(v):
        return BucketedSnapshotTable.bucket_paths(
            eng.snap.read(v)["tables"]["extracted"])

    for v_prev, v_next in zip(vs, vs[1:]):
        prev = paths(v_prev)
        nxt = paths(v_next)
        prev_paths = [p for ps in prev.values() for p in ps]
        nxt_paths = [p for ps in nxt.values() for p in ps]
        assert set(prev_paths) <= set(nxt_paths), (v_prev, v_next)
        # and the next version's only novelty is its own delta dirs
        assert all(
            f"v{v_next}-" in p for p in set(nxt_paths) - set(prev_paths)
        )


def test_fold_bakes_fills_into_rows_and_resets_logs(spark, corpus, tmp_path):
    """Every K-th commit bakes the merge-on-read raw-link/size fills
    into the extracted rows (rl_fold/sz_fold) and replaces the rawmap/
    sizes logs with their aggregated ≤1-row-per-key maps: the read view
    is unchanged (equivalence vs an unfolded run, sizes path included),
    rows at a fold version are all resolved, and the logs carry no
    history fan-in — so ``extracted_df`` aggregates only the suffix
    appended since the fold."""
    import pandas as pd

    from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
    from text2mc_dataprocessor_spark.sources.fixtures import (
        pages_to_spark,
        seeds_to_spark,
    )

    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)
    raws = sorted({r for r in corpus.golden["raw_download_link"] if r})
    artifacts = spark.createDataFrame(
        pd.DataFrame({"url": raws, "html": [b"y" * (50 + i) for i in range(len(raws))]}),
        schema="url string, html binary",
    )
    runs = {}
    for key, k in (("plain", None), ("folded", 2)):
        eng = CrawlEngine(
            spark, str(tmp_path / key), pages,
            config=CrawlConfig(politeness_budget=3, n_buckets=8,
                               compact_history_every=k),
            artifacts=artifacts,
        )
        eng.init(seeds)
        eng.run()
        runs[key] = eng
    for name in ("extracted_df", "trace_df"):
        ga = getattr(runs["plain"], name)().toPandas()
        gb = getattr(runs["folded"], name)().toPandas()
        cols = sorted(ga.columns)
        pd.testing.assert_frame_equal(
            ga[cols].sort_values(cols).reset_index(drop=True),
            gb[cols].sort_values(cols).reset_index(drop=True),
        )
    b = runs["folded"]
    folds = [v for v in range(2, b.version + 1) if v % 2 == 0]
    assert folds
    last_fold = max(folds)
    tables = b.snap.read(last_fold)["tables"]
    # the fold version's logs are main-only aggregated maps
    for name in ("rawmap", "sizes"):
        assert tables[name].get("history", []) == []
    agg = SnapshotTable.read_main(spark, tables["rawmap"]).toPandas()
    assert agg.download_url.is_unique
    # rows at the fold version are fully resolved; rows appended after
    # are pending (NULL rl_fold) until the next fold
    at_fold = BucketedSnapshotTable.read(spark, tables["extracted"]).toPandas()
    assert at_fold.rl_fold.notna().all()
    assert (at_fold.sz_fold.dropna() > 0).any()
    # resolved values must equal the read view's at that version
    b2 = CrawlEngine.resume(
        spark, str(tmp_path / "folded"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8,
                           compact_history_every=2),
        version=last_fold,
    )
    view = b2.extracted_df().toPandas().set_index("url")
    for _, row in at_fold.iterrows():
        assert view.loc[row.url, "raw_download_link"] == row.rl_fold
        vsz = view.loc[row.url, "download_size"]
        assert (pd.isna(vsz) and pd.isna(row.sz_fold)) or vsz == row.sz_fold


def test_history_compaction_preserves_state_and_bounds_fanin(spark, corpus, tmp_path):
    """compact_history_every=K: every K-th commit folds the append-only
    tables' segments into one dir; final state is identical to an
    uncompacted run and rollback across the fold boundary still works."""
    import pandas as pd

    from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
    from text2mc_dataprocessor_spark.sources.fixtures import (
        pages_to_spark,
        seeds_to_spark,
    )

    pages = pages_to_spark(spark, corpus)
    seeds = seeds_to_spark(spark, corpus)
    a = CrawlEngine(
        spark, str(tmp_path / "a"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8,
                           compact_history_every=None),
    )
    a.init(seeds)
    a.run()
    b = CrawlEngine(
        spark, str(tmp_path / "b"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8,
                           compact_history_every=2),
    )
    b.init(seeds)
    b.run()

    for name in ("trace_df", "extracted_df", "frontier_df", "seen_df"):
        ga = getattr(a, name)().toPandas()
        gb = getattr(b, name)().toPandas()
        cols = sorted(ga.columns)
        pd.testing.assert_frame_equal(
            ga[cols].sort_values(cols).reset_index(drop=True),
            gb[cols].sort_values(cols).reset_index(drop=True),
        )
    # folded versions carry no history fan-in
    folded = [v for v in range(2, b.version + 1) if v % 2 == 0]
    assert folded
    for v in folded:
        assert b.snap.read(v)["tables"]["trace"].get("history", []) == []
    # rollback to a pre-fold version and replay still matches
    b2 = CrawlEngine.resume(
        spark, str(tmp_path / "b"), pages,
        config=CrawlConfig(politeness_budget=3, n_buckets=8,
                           compact_history_every=2),
        version=2,
    )
    b2.run()
    ga = a.trace_df().toPandas().sort_values("dequeue_seq").reset_index(drop=True)
    gb = b2.trace_df().toPandas().sort_values("dequeue_seq").reset_index(drop=True)
    pd.testing.assert_frame_equal(ga, gb)


def test_one_manifest_and_one_head_per_version(spark, corpus, tmp_path):
    """A crawl workdir holds one HEAD and one manifest per version —
    no per-table HEAD or manifest — and a rollback rewrites HEAD only."""
    from text2mc_dataprocessor_spark.plans.crawl import CrawlConfig, CrawlEngine
    from text2mc_dataprocessor_spark.sources.fixtures import (
        pages_to_spark,
        seeds_to_spark,
    )

    wd = str(tmp_path / "c")
    eng = CrawlEngine(
        spark, wd, pages_to_spark(spark, corpus),
        config=CrawlConfig(politeness_budget=3, n_buckets=8),
    )

    def layout():
        heads, manifests = [], []
        for root, dirs, files in os.walk(wd):
            heads += [os.path.join(root, f) for f in files if f == "HEAD"]
            manifests += [os.path.join(root, d) for d in dirs if d == "manifests"]
        return heads, manifests, sorted(os.listdir(os.path.join(wd, "manifests")))

    eng.init(seeds_to_spark(spark, corpus))
    assert layout() == ([f"{wd}/HEAD"], [f"{wd}/manifests"], ["v1.json"])
    for v in (2, 3):
        eng.run(rounds=1)
        assert eng.version == v
        assert layout() == (
            [f"{wd}/HEAD"], [f"{wd}/manifests"],
            [f"v{i}.json" for i in range(1, v + 1)],
        )
    assert sorted(eng.snap.read()["tables"]) == [
        "bloom", "extracted", "frontier", "lineage", "rawmap", "seen",
        "sizes", "trace",
    ]

    def stats():
        out = {}
        for root, _d, files in os.walk(wd):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[p] = (os.stat(p).st_mtime_ns, fh.read())
        return out

    before = stats()
    eng.rollback(1)
    after = stats()
    assert set(after) == set(before)
    assert [p for p in after if after[p] != before[p]] == [f"{wd}/HEAD"]
    assert eng.version == 1 and eng.round_number() == 0
