"""The crawl round loop — the engine's replacement for the reference's
sequential passes (/root/reference/scraper/run_scraper.py:6-22).

Each round is ONE declarative DataFrame job:

    frontier.filter(QUEUED)
      → robots gate (broadcast join)                     [politeness]
      → window top-k per host under politeness budget    [frontier]
      → fetch (replay: broadcast-join the dequeued batch against the
        pages table; production: HTTP inside mapInPandas — same stage
        boundary), optionally repartitioned on salted host [skew]
      → single-pass mapInArrow extraction (listing outlinks / detail
        fields / raw download link, dispatched by kind; the html bytes
        cross to Python exactly once)                    [extract]
      → explode outlinks → first-occurrence in-batch dedup
      → Bloom probe → exact left_anti backstop           [seen]
      → assign discovered_seq (distributed rank — explicit total order)
      → MERGE new state → snapshot commit per table      [snapshots]

with per-round lineage + per-partition fetch/dedup metrics, and
resume-from-any-snapshot (north rule). Catalyst plans each job; the
driver loop only crosses job boundaries.

Checkpoint analog in the reference: whole-CSV rewrite every K rows
(selenium_scraper.py:20-22, 181-182, 270-276); here every round is an
atomic, versioned commit and ``CrawlEngine.resume`` continues from the
latest (or any) consistent version.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import (
    FIELD_SEP,
    extract_all_arrow_factory,
    extract_all_schema,
)
from ..functions.urlkeys import host_col, url_hash_col
from ..operators.frontier import (
    FRONTIER_SCHEMA,
    dequeue,
    dequeue_pruned,
    grouped_counts,
    kind_score_expr,
    stable_dequeue_group_expr,
    with_grouped_rank,
)
from ..operators.politeness import (
    crawl_delay_budgets,
    robots_gate,
    salt_fetch_partitions,
)
from ..operators.seen import PartitionedBloom, dedup_and_split_new
from ..sources.fetch import TableFetcher
from ..sources.snapshots import BucketedSnapshotTable, Manifest, SnapshotTable

SEEN_SCHEMA = "url string, url_hash long, bucket int"
#: public schema of ``extracted_df()`` — what the reference's
#: projects.csv columns look like after a crawl
EXTRACTED_SCHEMA = (
    "url string, download_url string, image_url string, tags string, "
    "raw_download_link string, download_size long, extracted_text string"
)
#: at-rest row schema of the extracted table: immutable per-detail-page
#: facts. The two columns the reference MUTATES in place
#: (raw_download_link fills, HEAD-probed download_size —
#: selenium_scraper.py:280-345, 520-573) are merge-on-read: they live
#: in the append-only ``rawmap`` / ``sizes`` key→value logs and join in
#: at read time, so no crawl round ever rewrites an extracted row.
#: ``rl_fold``/``sz_fold`` are the fills RESOLVED AS OF the last
#: history-fold commit, baked into the rows there (NULL rl_fold marks a
#: row appended since): between folds, reads aggregate only the log
#: SUFFIX appended since the fold, not the whole history.
EXT_ROW_SCHEMA = (
    "url string, download_url string, image_url string, tags string, "
    "rl_fold string, sz_fold long"
)
RAWMAP_SCHEMA = "download_url string, raw_link string"
SIZES_SCHEMA = "raw_download_link string, download_size long"
TRACE_SCHEMA = "dequeue_seq long, round int, url string, host string, kind string"
LINEAGE_SCHEMA = "round int, metric string, key string, value long"

_FRONTIER_COLS = [
    "url", "host", "url_hash", "bucket", "kind", "depth", "score", "state",
    "discovered_seq", "round", "parent_url",
]


@dataclass
class CrawlConfig:
    politeness_budget: int = 1
    global_budget: int | None = None
    n_buckets: int = 64
    bloom_capacity_per_bucket: int = 100_000
    bloom_fpr: float = 0.01
    salt_buckets: int = 16
    fetch_partitions: int | None = None
    # Snapshot cadence in rounds — the reference checkpoints every
    # PAGES_PER_CSV_UPDATE=10 pages / 200 rows (selenium_scraper.py:20-22),
    # not per step. Between commits, state lives in locally-checkpointed
    # DataFrames; resume restarts from the last committed snapshot.
    checkpoint_every: int = 1
    # False drops lineage counters that exist only for metrics (outlink /
    # dedup breakdowns + per-partition rows) — saves several Spark jobs
    # per round on the throughput-critical path.
    detailed_metrics: bool = True
    # Replay fetch joins the dequeued batch against the pages table.
    # Small batches broadcast (the 100 TB pages side is scanned, never
    # shuffled); batches above this row count fall back to a shuffled
    # join so the driver never materializes an oversized broadcast.
    broadcast_fetch_max_rows: int = 400_000
    # Probabilistic seen-set pre-filter: "bloom" (default — smallest
    # bitmaps) or "cuckoo" (deletable — supports re-crawl scheduling via
    # CrawlEngine.forget). Both are partitioned per bucket with zero
    # false negatives; the exact left_anti backstop is identical.
    seen_filter: str = "bloom"
    # The extracted table is hash-bucketed by download_url into this
    # many buckets (immutable per-bucket parquet segments); a bucket is
    # compacted into one segment when its list exceeds
    # extracted_max_segments (LSM discipline — O(size/K) amortized).
    extracted_buckets: int = 64
    extracted_max_segments: int = 8
    # Every K-th snapshot commit rewrites the append-only tables
    # (trace / lineage / seen / rawmap / sizes / frontier done-history)
    # in full instead of appending a segment, bounding read fan-in at
    # O(K) dirs per table on thousand-round crawls. None disables.
    compact_history_every: int | None = 32
    # Opt-in robots Crawl-delay enforcement: the wall-time each crawl
    # round models. When set AND the robots table carries a
    # crawl_delay_ms column, per-host dequeue budgets are derated by a
    # stateless round-indexed token bucket (operators/politeness.py
    # ``crawl_delay_budgets``) — a host with delay > interval is fetched
    # once every ceil(delay/interval) rounds. None (default) keeps the
    # uniform politeness_budget: behavior is byte-identical to pre-delay
    # engines, and the reference (one sequential browser) has no delay
    # concept to preserve.
    round_interval_ms: int | None = None

    def __post_init__(self) -> None:
        if self.round_interval_ms is not None and self.round_interval_ms <= 0:
            # 0/negative would grant 0 tokens to every delayed host on
            # every round — run(rounds=None) then livelocks on wait
            # rounds. None is the documented "disabled" value.
            raise ValueError(
                "round_interval_ms must be > 0 or None (disabled)")


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
        fetch_fn: Callable[[DataFrame], DataFrame] | None = None,
        artifacts: DataFrame | None = None,
    ):
        """``pages``: replay corpus (url, html[, warc_ts]). With a
        ``warc_ts`` column (Common-Crawl-style multi-capture input,
        where re-crawls of the same url are normal) the engine keeps
        the LATEST capture per url — deduped AFTER the dequeue join, so
        only the fetched slice shuffles, never the 100 TB corpus.
        Without ``warc_ts`` the table must be unique per url (the
        reference's projects.csv invariant).

        ``fetch_fn``: optional fetch-stage override — maps the dequeued
        batch (FRONTIER_SCHEMA columns) to the same columns + ``html``
        binary. Production swaps in ``sources.fetch.HttpFetcher``
        semantics here; the default is replay via the pages table.

        ``artifacts``: optional (url, html binary) table of downloadable
        artifacts. When present, every extracted row that gains a
        ``raw_download_link`` is HEAD-probed against it (S6 — metadata
        -only fetch, ``download_size`` = Content-Length analog; the
        reference probes every RAW_DOWNLOAD_LINK at
        selenium_scraper.py:520-573). Without it ``download_size``
        stays NULL, as the reference leaves NaN before that pass runs.
        """
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self._pages_has_ts = pages is not None and "warc_ts" in pages.columns
        if pages is not None:
            cols = ["url", "html"] + (["warc_ts"] if self._pages_has_ts else [])
            self.pages = pages.select(*cols)
        else:
            self.pages = None
        self.fetch_fn = fetch_fn
        self.artifacts = (
            artifacts.select("url", "html") if artifacts is not None else None
        )
        self.robots = robots
        # one manifest + HEAD per version; the tables below only own
        # their data files (sources/snapshots.py)
        self.snap = Manifest(workdir)
        self.t_frontier = SnapshotTable(workdir, "frontier")
        self.t_seen = SnapshotTable(workdir, "seen")
        self.t_bloom = SnapshotTable(workdir, "bloom")
        self.t_extracted = BucketedSnapshotTable(
            workdir, "extracted", max_segments=self.cfg.extracted_max_segments
        )
        self.t_rawmap = SnapshotTable(workdir, "rawmap")
        self.t_sizes = SnapshotTable(workdir, "sizes")
        self.t_trace = SnapshotTable(workdir, "trace")
        self.t_lineage = SnapshotTable(workdir, "lineage")
        if self.cfg.seen_filter == "cuckoo":
            from ..operators.cuckoo import CuckooSeenSet, cuckoo_probe_batch

            self.bloom = CuckooSeenSet(
                self.cfg.n_buckets, self.cfg.bloom_capacity_per_bucket
            )
            self._probe_batch = cuckoo_probe_batch
        else:
            from ..operators.seen import bloom_probe_batch

            self.bloom = PartitionedBloom(
                self.cfg.n_buckets, self.cfg.bloom_capacity_per_bucket,
                self.cfg.bloom_fpr,
            )
            self._probe_batch = bloom_probe_batch
        self._seen_full_rewrite = False
        # In-memory round state. The frontier is held SPLIT: ``queue``
        # (QUEUED rows only — rewritten and localCheckpointed per
        # round) and an append-only DONE side (base at last commit +
        # per-round deltas, never materialized in-round). Trace /
        # lineage / seen likewise track their per-round deltas so the
        # snapshot commit appends history segments instead of
        # rewriting monotonically growing tables (sources/snapshots.py
        # commit_append — the 10^10-row requirement).
        self._state: dict[str, DataFrame] | None = None
        self._done_base: DataFrame | None = None
        self._done_deltas: list[DataFrame] = []
        self._seen_deltas: list[DataFrame] = []
        # extracted = bucketed immutable rows + append-only fill logs
        # (merge-on-read; see EXT_ROW_SCHEMA). The logs are held SPLIT:
        # ``main`` = the pre-aggregated key→value map written at the
        # last history fold (one row per key), ``sfx`` = segments
        # appended since + this round's in-memory deltas — reads
        # aggregate only the suffix.
        self._ext_base: DataFrame | None = None
        self._ext_deltas: list[DataFrame] = []
        self._rawmap_main: DataFrame | None = None
        self._rawmap_sfx_base: DataFrame | None = None
        self._rawmap_deltas: list[DataFrame] = []
        self._sizes_main: DataFrame | None = None
        self._sizes_sfx_base: DataFrame | None = None
        self._sizes_deltas: list[DataFrame] = []
        self._trace_base: DataFrame | None = None
        self._trace_deltas: list[DataFrame] = []
        self._lineage_base: DataFrame | None = None
        self._lineage_deltas: list[DataFrame] = []
        self._max_seq: int = 0
        self._trace_count: int = 0
        # per-group queue row counts for the prefix-pruned dequeue
        # (global-budget regime only); None = recompute on next use
        self._queue_grp_counts: dict[int, int] | None = None
        self._round: int = 0
        self._dirty: bool = False
        self._last_meta: dict = {}
        self.timings: list[tuple[int, str, float]] = []  # (round, stage, sec)
        #: per-round prefix-prune diagnostics (global-budget regime):
        #: {round, prefix_rows, queue_rows, dequeued} — queue_rows comes
        #: free from the incrementally-maintained group counts
        self.prune_stats: list[dict] = []
        self._pending_unpersist: list[DataFrame] = []

    # -- lifecycle -----------------------------------------------------------
    def init(self, seeds: DataFrame) -> None:
        """seeds: (url string, seed_rank int) — FIFO order of the seed list."""
        n_buckets = self.cfg.n_buckets
        frontier0 = seeds.select(
            F.col("url"),
            host_col("url").alias("host"),
            url_hash_col("url").alias("url_hash"),
            F.pmod(url_hash_col("url"), F.lit(n_buckets)).cast("int").alias("bucket"),
            F.lit("listing").alias("kind"),
            F.lit(0).alias("depth"),
            F.lit(2.0).alias("score"),
            F.lit("QUEUED").alias("state"),
            F.col("seed_rank").cast("long").alias("discovered_seq"),
            F.lit(0).alias("round"),
            F.lit(None).cast("string").alias("parent_url"),
        )
        self.init_frontier(frontier0)

    def init_frontier(self, frontier0: DataFrame) -> None:
        """Initialize from an explicit frontier table (FRONTIER_SCHEMA) —
        e.g. a pre-materialized 10^10-row frontier rather than a seed list."""
        seen0 = frontier0.select("url", "url_hash", "bucket")
        bloom0 = self.bloom.build(seen0.select("bucket", "url_hash"))
        # one-time scan; every later version carries the cursors forward
        # in its manifest meta so resume never recounts history
        ms = frontier0.agg(F.max("discovered_seq")).first()[0]
        meta0 = {
            "round": 0,
            "max_seq": int(ms) if ms is not None else -1,
            "trace_count": 0,
        }
        v = (self.snap.current_version() or 0) + 1
        # the always-empty tables are manifest-only entries (no Spark
        # write job for zero rows, r6); the three real initial commits
        # are independent write jobs — run them concurrently (same
        # discipline as _commit_state). The r4 serial form paid 4
        # separate full frontier passes back to back plus 4 empty-table
        # write jobs, all on the driver's critical path.
        tables = self._write_all({
            "seen": lambda: self.t_seen.commit(seen0, v),
            "bloom": lambda: self.t_bloom.commit(bloom0, v),
            "frontier": lambda: self.t_frontier.commit(frontier0, v),
        })
        tables.update(
            trace=SnapshotTable.empty(TRACE_SCHEMA),
            lineage=SnapshotTable.empty(LINEAGE_SCHEMA),
            extracted=self.t_extracted.commit_delta(None, None, v),
            rawmap=SnapshotTable.empty(RAWMAP_SCHEMA),
            sizes=SnapshotTable.empty(SIZES_SCHEMA),
        )
        self.snap.commit(v, meta0, tables)
        self._load_state()

    @staticmethod
    def _write_all(writes: dict[str, Callable[[], dict]]) -> dict[str, dict]:
        """Run independent table writes concurrently; → their entries."""
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = {name: pool.submit(w) for name, w in writes.items()}
        return {name: f.result() for name, f in futures.items()}

    def _load_state(self) -> None:
        """Hydrate in-memory state from the HEAD version. The resume
        cursors ride in the manifest meta (written by every commit), so
        hydrating is O(1) — no full-history count/agg."""
        m = self.snap.read(self.version)
        self._hydrate(m["tables"])
        meta = m["meta"]
        self._max_seq = int(meta["max_seq"])
        self._trace_count = int(meta["trace_count"])
        self._round = int(meta["round"])
        self._queue_grp_counts = None
        self._dirty = False

    def _hydrate(self, tables: dict[str, dict]) -> None:
        """Point the in-memory state at a version's committed files
        (clean lineage, no dependence on any pre-commit plan)."""
        spark = self.spark
        main = SnapshotTable.read_main(spark, tables["frontier"])
        done = main.filter(F.col("state") != "QUEUED")
        hist = SnapshotTable.read_history(spark, tables["frontier"])
        if hist is not None:
            done = done.unionByName(hist)
        self._state = {
            "queue": main.filter(F.col("state") == "QUEUED"),
            "seen": SnapshotTable.read(spark, tables["seen"]),
            "bloom": SnapshotTable.read(spark, tables["bloom"]),
        }
        self._done_base = done
        self._done_deltas = []
        self._seen_deltas = []
        rows = BucketedSnapshotTable.read(spark, tables["extracted"])
        self._ext_base = rows if rows is not None else self._empty(EXT_ROW_SCHEMA)
        self._ext_deltas = []
        self._rawmap_main = SnapshotTable.read_main(spark, tables["rawmap"])
        h = SnapshotTable.read_history(spark, tables["rawmap"])
        self._rawmap_sfx_base = h if h is not None else self._empty(RAWMAP_SCHEMA)
        self._rawmap_deltas = []
        self._sizes_main = SnapshotTable.read_main(spark, tables["sizes"])
        h = SnapshotTable.read_history(spark, tables["sizes"])
        self._sizes_sfx_base = h if h is not None else self._empty(SIZES_SCHEMA)
        self._sizes_deltas = []
        self._trace_base = SnapshotTable.read(spark, tables["trace"])
        self._trace_deltas = []
        self._lineage_base = SnapshotTable.read(spark, tables["lineage"])
        self._lineage_deltas = []
        self._seen_full_rewrite = False

    @property
    def version(self) -> int:
        v = self.snap.current_version()
        if v is None:
            raise RuntimeError("engine not initialized — call init(seeds)")
        return v

    def round_number(self, version: int | None = None) -> int:
        return int(self.snap.read(version)["meta"]["round"])

    def forget(self, urls: DataFrame) -> None:
        """Re-crawl scheduling (the deletable-filter use case): remove
        ``urls`` (one ``url`` column) from the seen set so their NEXT
        discovery re-enqueues them through the normal dedup path.

        The exact seen table always shrinks; with ``seen_filter=
        "cuckoo"`` the probabilistic pre-filter forgets too (its delete
        path), keeping the pre-filter selective. With Bloom the bits
        stay set — still CORRECT (the forgotten url probes maybe_seen
        and the exact left_anti backstop readmits it) but the
        pre-filter stops short-circuiting for that url; delete-heavy
        schedules should run the cuckoo variant.

        Forget urls that are no longer QUEUED — a re-crawled url gets a
        fresh frontier row, and its earlier FETCHED row remains in the
        done history (multiple fetch events per url are legitimate
        re-crawl history). The next snapshot rewrites the seen table in
        full (append-only history cannot express a delete).
        """
        self._ensure_state()
        urls = urls.select("url")
        keyed = urls.select(
            "url",
            url_hash_col("url").alias("url_hash"),
            F.pmod(url_hash_col("url"), F.lit(self.cfg.n_buckets))
            .cast("int")
            .alias("bucket"),
        )
        seen2 = self._state["seen"].join(urls, "url", "left_anti")
        if hasattr(self.bloom, "delete"):
            filt2 = self.bloom.delete(
                self._state["bloom"], keyed.select("bucket", "url_hash")
            )
        else:
            filt2 = self._state["bloom"]
        self._state["seen"] = seen2.localCheckpoint(eager=True)
        self._state["bloom"] = filt2.localCheckpoint(eager=True)
        self._seen_deltas = []  # subsumed by the full rewrite
        self._seen_full_rewrite = True
        self._dirty = True

    def rollback(self, version: int) -> None:
        """Resume-from-any-snapshot: point HEAD at ``version`` (one
        file) and hydrate from it."""
        self.snap.publish(version)
        self._load_state()

    # -- table accessors ---------------------------------------------------------
    def _ensure_state(self) -> None:
        """Hydrate from HEAD on first use (an engine attached to an
        existing workdir without ``resume``)."""
        if self._state is None:
            self._load_state()

    @staticmethod
    def _with_deltas(base: DataFrame, deltas: list[DataFrame]) -> DataFrame:
        for d in deltas:
            base = base.unionByName(d)
        return base

    def frontier_df(self) -> DataFrame:
        self._ensure_state()
        done = self._with_deltas(self._done_base, self._done_deltas)
        return self._state["queue"].unionByName(done)

    def seen_df(self) -> DataFrame:
        self._ensure_state()
        return self._state["seen"]

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _ext_parts(
        self,
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
        """(rows, rawmap_main, rawmap_sfx, sizes_main, sizes_sfx) as of
        the current state (committed base ∪ in-memory round deltas).
        ``*_main`` are the pre-aggregated key→value maps baked at the
        last fold (≤1 row per key); ``*_sfx`` the raw log suffix since."""
        self._ensure_state()
        rows = self._with_deltas(self._ext_base, self._ext_deltas)
        rm_sfx = self._with_deltas(self._rawmap_sfx_base, self._rawmap_deltas)
        sz_sfx = self._with_deltas(self._sizes_sfx_base, self._sizes_deltas)
        return rows, self._rawmap_main, rm_sfx, self._sizes_main, sz_sfx

    def extracted_df(self) -> DataFrame:
        """The reference-shaped extracted view (EXTRACTED_SCHEMA),
        merge-on-read: immutable rows ⋈ the raw-link log (max per
        download_url — the reference's every-row coalesce semantics,
        selenium_scraper.py:280-345) ⋈ the HEAD-probe size log.

        Read amplification is bounded by the fold cadence, not crawl
        history: rows carry the fills resolved at the last fold commit
        (``rl_fold``/``sz_fold``), so the common path aggregates and
        joins ONLY the log suffix appended since. The folded ``main``
        maps (≤1 row per key, no re-aggregation) are consulted only for
        (i) rows appended since the fold and (ii) rows whose raw link
        the suffix overrode — both bounded by the suffix, so those joins
        broadcast the row side, never shuffling the maps."""
        rows, rm_main, rm_sfx, sz_main, sz_sfx = self._ext_parts()
        sfill = (
            rm_sfx.filter(F.col("download_url") != "")
            .groupBy("download_url")
            .agg(F.max("raw_link").alias("_rls"))
        )
        sszs = sz_sfx.groupBy("raw_download_link").agg(
            F.max("download_size").alias("_szs")
        )
        r = rows.join(sfill, "download_url", "left")
        # fast path: folded rows whose link the suffix does not override.
        # max over the full log ≡ greatest(prefix max = rl_fold, suffix
        # max = _rls); sizes likewise (sz_fold is the prefix max at key
        # rl_fold, and the suffix never re-probes a known key).
        fast = (
            r.filter(
                F.col("rl_fold").isNotNull()
                & (F.col("_rls").isNull() | (F.col("_rls") <= F.col("rl_fold")))
            )
            .withColumn("raw_download_link", F.col("rl_fold"))
            .join(sszs, "raw_download_link", "left")
            .withColumn("download_size", F.greatest("sz_fold", "_szs"))
        )
        out_cols = [
            "url", "download_url", "image_url", "tags",
            "raw_download_link", "download_size",
        ]
        # slow (i): rows appended since the fold — their fills may
        # predate it, so consult the folded main map too
        mfill = rm_main.select(
            "download_url", F.col("raw_link").alias("_rlm")
        )
        slow_new = (
            r.filter(F.col("rl_fold").isNull())
            .join(mfill, "download_url", "left")
            .withColumn(
                "raw_download_link",
                F.coalesce(F.greatest("_rlm", "_rls"), F.lit("")),
            )
        )
        # slow (ii): folded rows whose suffix fill wins (_rls > rl_fold
        # = the full-prefix max, so the suffix value IS the new max)
        slow_chg = (
            r.filter(F.col("rl_fold").isNotNull() & (F.col("_rls") > F.col("rl_fold")))
            .withColumn("raw_download_link", F.col("_rls"))
        )
        key_cols = ["url", "download_url", "image_url", "tags", "raw_download_link"]
        mszs = sz_main.select(
            "raw_download_link", F.col("download_size").alias("_szm")
        )
        slow = (
            slow_new.select(*key_cols)
            .unionByName(slow_chg.select(*key_cols))
            .join(mszs, "raw_download_link", "left")
            .join(sszs, "raw_download_link", "left")
            .withColumn("download_size", F.greatest("_szm", "_szs"))
        )
        return (
            fast.select(*out_cols)
            .unionByName(slow.select(*out_cols))
            .withColumn(
                "extracted_text",
                F.concat_ws(
                    FIELD_SEP, "download_url", "image_url", "tags",
                    "raw_download_link",
                ),
            )
            .select(*out_cols, "extracted_text")
        )

    def trace_df(self) -> DataFrame:
        self._ensure_state()
        return self._with_deltas(self._trace_base, self._trace_deltas)

    def lineage_df(self) -> DataFrame:
        self._ensure_state()
        return self._with_deltas(self._lineage_base, self._lineage_deltas)

    # -- driving ---------------------------------------------------------------
    def run(self, rounds: int | None = None) -> int:
        """Run until the frontier drains (or ``rounds``); → rounds executed.
        Always leaves a committed snapshot at the end."""
        self._ensure_state()
        done = 0
        while rounds is None or done < rounds:
            if not self._one_round():
                break
            done += 1
        if self._dirty:
            self._commit_state()
        return done

    def rescore(self, scores: DataFrame, on: str = "host",
                broadcast_scores: bool = True) -> dict:
        """Reprioritize the QUEUED frontier from an external signal —
        e.g. link-graph PageRank classes (operators/graph.py
        ``pagerank_score_classes``): ``scores`` is ``(on, score)``,
        joined onto the queue by ``on`` (any queue column — host for
        graph signals, url for per-page ones); matched rows take the
        new score, unmatched rows keep theirs.

        Scores must be INTEGRAL-VALUED (validated here): the
        order-respecting dequeue group id truncates ``(2 - score)``, so
        fractional scores would interleave priority classes across
        groups (operators/frontier.py contract). Continuous signals are
        quantized upstream into classes.

        The pruned-dequeue per-group counts are invalidated, not
        patched — the next dequeue pays one narrow count scan, exactly
        the attach path. ``broadcast_scores`` fits host-level signals
        (|hosts| ≪ |urls|); pass False for URL-keyed scores, which
        then hash-join on the queue's own key. Returns
        ``{"rescored": <matched row count>}``."""
        self._ensure_state()
        # ONE validation job for both contract checks (integral scores,
        # unique keys) — URL-level scores are |queue|-sized, so two
        # separate full-scan actions here roughly doubled rescore
        # latency (r5 review). One groupBy on the join key carries both
        # predicates.
        bad = (
            scores.groupBy(on)
            .agg(
                F.count("*").alias("_n"),
                F.max(
                    (F.col("score") != F.floor("score").cast("double"))
                    .cast("int")
                ).alias("_frac"),
            )
            .filter((F.col("_n") > 1) | (F.col("_frac") == 1))
            .limit(1)
            .collect()
        )
        if bad:
            if bad[0]["_frac"]:
                raise ValueError(
                    "rescore requires integral-valued scores (dequeue group "
                    "contract) — quantize the signal into classes first, "
                    "e.g. pagerank_score_classes()"
                )
            raise ValueError(
                f"rescore scores have duplicate '{on}' keys — a left join "
                "would fan out queue rows (double-fetched URLs, inflated "
                "counts). Pre-aggregate, e.g. "
                f"scores.groupBy('{on}').agg(F.max('score'))."
            )
        queue = self._state["queue"]
        sc = scores.select(
            F.col(on), F.col("score").cast("double").alias("_new_score")
        )
        if broadcast_scores:
            sc = F.broadcast(sc)
        joined = queue.join(sc, on, "left").persist()
        n_matched = joined.filter(F.col("_new_score").isNotNull()).count()
        new_queue = (
            joined.withColumn("score", F.coalesce("_new_score", "score"))
            .select(*queue.columns)  # preserve FRONTIER column order
            .localCheckpoint(eager=True)
        )
        joined.unpersist()
        self._state["queue"] = new_queue
        self._queue_grp_counts = None  # rebuilt lazily on next dequeue
        self._dirty = True
        return {"rescored": int(n_matched)}

    @staticmethod
    def _union_or_none(deltas: list[DataFrame]) -> DataFrame | None:
        if not deltas:
            return None
        out = deltas[0]
        for d in deltas[1:]:
            out = out.unionByName(d)
        return out

    def _commit_state(self) -> None:
        v = self.version + 1
        parent = self.snap.read(v - 1)["tables"]
        meta = {
            "round": self._round,
            "max_seq": self._max_seq,
            "trace_count": self._trace_count,
            **self._last_meta,
        }
        s = self._state
        # Incremental commit: the queue (the only shrinking/rewritten
        # part of the frontier) is written in full; everything that only
        # GROWS — done history, seen keys, extracted rows, raw-link /
        # size logs, trace, lineage — is committed as appended delta
        # segments, byte-reusing every parent data dir
        # (sources/snapshots.py). Only bloom (bitmaps mutate, bounded by
        # bucket count) rewrites. Every ``compact_history_every``-th
        # commit instead folds each append-only table's accumulated
        # segments into one dir (full rewrite at that commit — O(size/K)
        # amortized), bounding read fan-in on thousand-round crawls;
        # extracted compacts per-bucket inside commit_delta.
        # All write jobs run concurrently; the version's one manifest
        # and HEAD are written only after every one has finished, so a
        # failure anywhere leaves the previous version current.
        k = self.cfg.compact_history_every
        fold = k is not None and v % k == 0

        def _bucketed(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "_bkt",
                F.pmod(
                    F.xxhash64("download_url"),
                    F.lit(self.cfg.extracted_buckets),
                ).cast("int"),
            )

        ext_delta = self._union_or_none(self._ext_deltas)
        if ext_delta is not None:
            ext_delta = _bucketed(ext_delta)
        if fold:
            # bake the merge-on-read fills into the rows (resolved as of
            # this commit) and replace the raw logs with their
            # aggregated ≤1-row-per-key maps: until the next fold, reads
            # aggregate only the suffix appended after this commit.
            # Recomputing from main ∪ suffix is exact — max is
            # associative, and main is the prefix max from the last fold.
            rows, rm_main, rm_sfx, sz_main, sz_sfx = self._ext_parts()
            fold_fill = (
                rm_main.unionByName(rm_sfx)
                .filter(F.col("download_url") != "")
                .groupBy("download_url")
                .agg(F.max("raw_link").alias("raw_link"))
            )
            fold_szs = (
                sz_main.unionByName(sz_sfx)
                .groupBy("raw_download_link")
                .agg(F.max("download_size").alias("download_size"))
            )
            ext_resolved = _bucketed(
                rows.drop("rl_fold", "sz_fold")
                .join(
                    fold_fill.select(
                        "download_url", F.col("raw_link").alias("_rl")
                    ),
                    "download_url",
                    "left",
                )
                .withColumn("rl_fold", F.coalesce(F.col("_rl"), F.lit("")))
                .drop("_rl")
                .join(
                    fold_szs.select(
                        F.col("raw_download_link").alias("rl_fold"),
                        F.col("download_size").alias("sz_fold"),
                    ),
                    "rl_fold",
                    "left",
                )
                .select(
                    "url", "download_url", "image_url", "tags",
                    "rl_fold", "sz_fold",
                )
            )

        def commit_growing(table, deltas, full_df):
            if fold:
                return table.commit(full_df, v)
            return table.commit_append(
                parent[table.name], self._union_or_none(deltas), v)

        tables = self._write_all({
            "trace": lambda: commit_growing(
                self.t_trace, self._trace_deltas,
                self._with_deltas(self._trace_base, self._trace_deltas)),
            "lineage": lambda: commit_growing(
                self.t_lineage, self._lineage_deltas,
                self._with_deltas(self._lineage_base, self._lineage_deltas)),
            "seen": lambda: (
                # forget() shrank the seen set — append-only history
                # can't express a delete, so this commit rewrites seen
                # in full (rare: only re-crawl scheduling triggers it)
                self.t_seen.commit(s["seen"], v)
                if self._seen_full_rewrite or fold
                else self.t_seen.commit_append(
                    parent["seen"], self._union_or_none(self._seen_deltas), v)
            ),
            "extracted": lambda: (
                self.t_extracted.commit_full(ext_resolved, v)
                if fold
                else self.t_extracted.commit_delta(
                    parent["extracted"], ext_delta, v, spark=self.spark)
            ),
            # fold: main becomes the aggregated map, history resets
            "rawmap": lambda: (
                self.t_rawmap.commit(fold_fill, v) if fold
                else self.t_rawmap.commit_append(
                    parent["rawmap"], self._union_or_none(self._rawmap_deltas),
                    v)
            ),
            "sizes": lambda: (
                self.t_sizes.commit(fold_szs, v) if fold
                else self.t_sizes.commit_append(
                    parent["sizes"], self._union_or_none(self._sizes_deltas), v)
            ),
            "bloom": lambda: self.t_bloom.commit(
                # the bitmap table is n_buckets rows spread over a full
                # shuffle-partition fan-out; size the write from its
                # known byte volume (bits/8 per bucket, ~256 MB per
                # task) instead of paying a task per shuffle partition
                s["bloom"].coalesce(max(1, min(
                    self.cfg.n_buckets,
                    (getattr(self.bloom, "n_bits", 0) // 8)
                    * self.cfg.n_buckets // (256 << 20) + 1,
                ))),
                v),
            # frontier fold keeps the main=queue / history=done SPLIT
            # (later incremental commits rewrite main): the accumulated
            # done history compacts into one segment
            "frontier": lambda: self.t_frontier.commit_with_history(
                parent["frontier"], s["queue"],
                self._with_deltas(self._done_base, self._done_deltas) if fold
                else self._union_or_none(self._done_deltas),
                v, reset_history=fold),
        })
        self.snap.commit(v, meta, tables)
        self._hydrate(tables)
        for df in self._pending_unpersist:
            df.unpersist()
        self._pending_unpersist.clear()
        self._dirty = False

    def _one_round(self) -> bool:
        spark = self.spark
        cfg = self.cfg
        r = self._round + 1
        t0 = time.time()

        def tick(stage: str) -> None:
            nonlocal t0
            now = time.time()
            self.timings.append((r, stage, round(now - t0, 3)))
            t0 = now

        # the queue IS the QUEUED set (frontier = queue ∪ done history)
        queue = self._state["queue"]
        allowed, denied = robots_gate(queue, self.robots)
        # robots Crawl-delay → per-host budget derating (opt-in): a tiny
        # per-round broadcast dimension; r-1 is the 0-based round index
        # the token bucket integrates over
        host_budgets = None
        if (
            cfg.round_interval_ms is not None
            and self.robots is not None
            and "crawl_delay_ms" in self.robots.columns
        ):
            host_budgets = crawl_delay_budgets(
                self.robots, r - 1, cfg.round_interval_ms,
                cfg.politeness_budget,
            )
        # the rank's offsets collect IS the count — one job, not two;
        # max_seq enables the sampling-free grouped rank. In the
        # global-budget regime the dequeue reads only a prefix of the
        # priority-ordered groups (per-group counts maintained
        # incrementally below), so a tiny dequeue never shuffles or
        # window-sorts a 10^10-row queue.
        deq_info: dict = {}
        use_pruned = cfg.global_budget is not None
        if use_pruned:
            if self._queue_grp_counts is None:
                # one narrow count scan on attach; incremental afterwards
                self._queue_grp_counts = grouped_counts(
                    queue, stable_dequeue_group_expr()
                )
            queue_rows = sum(self._queue_grp_counts.values())
            dequeued = dequeue_pruned(
                allowed, cfg.politeness_budget, cfg.global_budget,
                self._queue_grp_counts, info=deq_info,
                host_budgets=host_budgets,
            ).cache()
            self.prune_stats.append({
                "round": r,
                "prefix_rows": int(deq_info.get("prefix_rows") or 0),
                "queue_rows": int(queue_rows),
                "dequeued": int(deq_info["n"]),
            })
        else:
            dequeued = dequeue(
                allowed, cfg.politeness_budget, cfg.global_budget, info=deq_info,
                max_seq=self._max_seq, host_budgets=host_budgets,
            ).cache()
        n_deq = deq_info["n"]
        self._pending_unpersist.extend(deq_info.get("persisted", []))
        if self.robots is not None:
            # always counted when a robots table is present: the denied
            # rows feed the frontier MERGE anyway (cached → one narrow
            # job), the count decides round termination, and the
            # robots_denied lineage must be real even in the
            # metrics-lean configuration
            denied = denied.cache()
            n_denied = denied.count()
        else:
            n_denied = 0
        tick("dequeue")
        if n_deq == 0 and n_denied == 0:
            # With delay budgets a 0-dequeue round can be a WAIT round:
            # every queued host's token bucket is empty this round but
            # refills later (the token bucket grants every host with
            # delay D a fetch within ceil(D/interval) rounds, so wait
            # streaks are bounded — no livelock). Only a genuinely empty
            # queue drains the crawl.
            if host_budgets is None or allowed.limit(1).count() == 0:
                return False

        # ---- fetch. Replay mode joins the dequeued batch against the
        # pages table: small batches broadcast (the 100 TB side is
        # scanned, never shuffled); batches past the broadcast cap fall
        # back to a shuffled join (AQE plans it). A fetch_fn override
        # (production HTTP stage / bench fetch emulator) replaces the
        # join entirely — same stage boundary, same output columns.
        n_parts = cfg.fetch_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        # dequeue_rank rides along: it IS the parent priority order, so
        # outlink ordering (and the new-URL rank's order-respecting
        # groups) derive from it without any range sampling downstream
        deq_cols = dequeued.select(*_FRONTIER_COLS, "dequeue_rank")
        if self.fetch_fn is not None:
            # salt BEFORE the fetch: the skew-defusing shuffle moves only
            # the narrow dequeued rows — page bodies are born inside the
            # already-salted tasks and never shuffle (a post-fetch salt
            # would move the full html payload)
            if cfg.salt_buckets:
                deq_cols = salt_fetch_partitions(deq_cols, n_parts, cfg.salt_buckets)
            fetched = self.fetch_fn(deq_cols)
        else:
            if n_deq <= cfg.broadcast_fetch_max_rows:
                fetched = self.pages.join(F.broadcast(deq_cols), "url")
            else:
                fetched = self.pages.join(deq_cols, "url")
            if self._pages_has_ts:
                # Common-Crawl multi-capture corpus: keep the latest
                # capture per url AFTER the join, so the dedup shuffles
                # only the fetched slice (one row per dequeued url, the
                # invariant the frontier MERGE and raw-link join assume)
                fetched = (
                    fetched.groupBy(*_FRONTIER_COLS, "dequeue_rank")
                    .agg(F.max_by("html", "warc_ts").alias("html"))
                )
            # Salting exists for skew in the fetch/extract stage. In
            # replay mode the scan-join already spreads rows across the
            # pages partitions, so salt_buckets=0 skips a large shuffle
            # of full page bodies.
            if cfg.salt_buckets:
                fetched = salt_fetch_partitions(fetched, n_parts, cfg.salt_buckets)

        # ---- extract: ONE mapInArrow pass parses every fetched page and
        # emits all fields, dispatched by frontier kind (listing →
        # outlinks, detail → tags/image/download_url, download → raw
        # link). The html bytes stream from the pages scan straight into
        # the Python workers — they cross exactly once, never come back,
        # and are never re-cached. All frontier columns pass through so
        # the narrow ``ext`` output is the only per-round cache.
        passthrough = [c for c in _FRONTIER_COLS if c not in ("url", "kind")]
        passthrough.append("dequeue_rank")
        passthrough_schema = (
            "host string, url_hash long, bucket int, depth int, score double, "
            "state string, discovered_seq long, round int, parent_url string, "
            "dequeue_rank long"
        )
        ext = fetched.select("url", "kind", "html", *passthrough).mapInArrow(
            extract_all_arrow_factory(passthrough),
            extract_all_schema(passthrough_schema),
        ).cache()
        # materialize NOW — downstream branches (range sampling, probe,
        # counts) would otherwise race to fill the cache concurrently;
        # this one action also fills the dequeued cache and yields the
        # fetched counter for free
        n_fetched = ext.count()
        # single consumer (frontier2) over two cached parents — no cache
        failed = dequeued.join(ext.select("url"), "url", "left_anti")

        # ---- outlink candidates. The parent's dequeue_rank IS the
        # parent priority order (rank over (score DESC, depth ASC, seq
        # ASC)), so (parent_rank, dom_pos) is a total order over the
        # round's candidates and travels on the rows — no range
        # sampling anywhere downstream.
        parent_key = [
            F.col("dequeue_rank").alias("parent_rank"),
            F.col("depth").alias("parent_depth"),
        ]
        listing_out = ext.filter(F.col("kind") == "listing").select(
            *parent_key,
            F.col("url").alias("src_url"),
            F.explode("outlinks").alias("o"),
        ).select(
            F.col("o.href").alias("url"),
            "parent_rank",
            "parent_depth",
            F.col("o.dom_pos").alias("dom_pos"),
            F.col("o.kind").alias("kind"),
            "src_url",
        )
        download_out = ext.filter(
            (F.col("kind") == "detail") & (F.col("download_url") != "")
        ).select(
            F.col("download_url").alias("url"),
            *parent_key,
            F.lit(0).alias("dom_pos"),
            F.lit("download").alias("kind"),
            F.col("url").alias("src_url"),
        )
        candidates = listing_out.unionByName(download_out)
        if cfg.detailed_metrics:
            candidates = candidates.cache()  # counted here + consumed below
            n_candidates = candidates.count()
        else:
            n_candidates = -1  # single consumer over the cached ext — no job
        tick("fetch_extract_outlinks")

        # ---- in-batch first-occurrence dedup + seen-set dedup. The
        # dedup (deterministic: first row in the (parent dequeue order,
        # DOM position) total order — (parent_seq, dom_pos) is unique
        # per candidate) fuses with the Bloom probe into one bucket
        # shuffle (operators/seen.py:dedup_and_split_new); the exact
        # left_anti backstop keeps the zero-false-negative contract.
        cand = (
            candidates
            .withColumn("host", host_col("url"))
            .withColumn("url_hash", url_hash_col("url"))
            .withColumn(
                "bucket",
                F.pmod(F.col("url_hash"), F.lit(cfg.n_buckets)).cast("int"),
            )
        )
        seen = self._state["seen"]
        bloom_df = self._state["bloom"]
        seen_info: dict = {}
        # persist: the range partitioner's sampling pass + the ranked
        # output both consume `new` (and fill this cache on first pass)
        new = dedup_and_split_new(
            cand, seen, bloom_df,
            dedup_order=["parent_rank", "dom_pos"],
            info=seen_info,
            probe_batch=self._probe_batch,
        ).persist()

        # discovered_seq rank: parent_rank ranges are order-respecting
        # groups (all candidates of lower-ranked parents sort first), so
        # the grouped rank runs in a single pass — one counts collect,
        # no range-partitioner sampling of `new`.
        max_seq = self._max_seq
        rank_info: dict = {}
        new_grp = F.floor(
            (F.col("parent_rank") - 1) * F.lit(n_parts) / F.lit(max(n_deq, 1))
        )
        ranked_new = with_grouped_rank(
            new,
            new_grp,
            [F.col("parent_rank").asc(), F.col("dom_pos").asc()],
            out="_disc_rank",
            info=rank_info,
        )
        new_front = ranked_new.select(
            "url",
            "host",
            "url_hash",
            "bucket",
            "kind",
            (F.col("parent_depth") + 1).alias("depth"),
            kind_score_expr().alias("score"),
            F.lit("QUEUED").alias("state"),
            (F.lit(max_seq).cast("long") + F.col("_disc_rank")).alias("discovered_seq"),
            F.lit(r).alias("round"),
            F.col("src_url").alias("parent_url"),
        )
        # count piggybacked on the rank's offsets collect — no extra job;
        # new_front's three consumers (frontier/seen/bloom) recompute a
        # narrow projection over the cached ranked intermediate
        n_new = rank_info["n"]
        self._pending_unpersist.extend(seen_info.get("persisted", []))
        self._pending_unpersist.extend(rank_info.get("persisted", []))
        self._pending_unpersist.append(new)
        n_unique_cand = (
            cand.select("url").distinct().count() if cfg.detailed_metrics else -1
        )
        tick("dedup_seq")

        # ---- frontier MERGE, split-state form: the queue drops the
        # touched rows and gains the new QUEUED ones; rows that reached
        # a terminal state this round become an APPEND-ONLY done delta
        # (never re-read in-round, committed as a history segment — the
        # per-round cost is O(queue + round), not O(crawl history)).
        touched = dequeued.select("url").unionByName(denied.select("url"))
        rest = queue.join(touched, "url", "left_anti")

        def as_state(df: DataFrame, state: str) -> DataFrame:
            return df.select(*_FRONTIER_COLS).withColumn("state", F.lit(state)).select(
                *_FRONTIER_COLS
            )

        queue2 = rest.select(*_FRONTIER_COLS).unionByName(new_front)
        done_delta = (
            as_state(ext, "FETCHED")
            .unionByName(as_state(failed, "FAILED"))
            .unionByName(as_state(denied, "ROBOTS_DENIED"))
        )

        # ---- seen / bloom updates (seen delta committed append-only)
        seen_delta = new_front.select("url", "url_hash", "bucket")
        seen2 = seen.unionByName(seen_delta)
        bloom2 = self.bloom.merge(bloom_df, new_front.select("bucket", "url_hash"))

        # ---- extracted: merge-on-read appends, never a rewrite. The
        # reference mutates its whole projects.csv in place — raw-link
        # fills keyed by DOWNLOAD_URL hit every row sharing the url
        # (scrape_raw_map_download_links has no seen check,
        # selenium_scraper.py:280-345), and the HEAD probe fills
        # download_size (:520-573). Here the row facts are immutable
        # appends and both mutations are append-only key→value logs
        # (rawmap: this round's download fetches; sizes: HEAD probes of
        # the round's NEWLY-learned links only) applied at read time by
        # ``extracted_df``. Rows born after their download page was
        # fetched need no special case — the read-time join sees the
        # whole log. Per-round cost is O(round), independent of crawl
        # history (round 2's fix for the last O(history) cost).
        new_ext = ext.filter(F.col("kind") == "detail").select(
            "url", "download_url", "image_url", "tags",
            # fills resolve at the NEXT fold; NULL marks a not-yet-folded row
            F.lit(None).cast("string").alias("rl_fold"),
            F.lit(None).cast("long").alias("sz_fold"),
        )
        raw_new = ext.filter(F.col("kind") == "download").select(
            F.col("url").alias("download_url"), F.col("raw_link").alias("raw_link")
        )
        sizes_delta = None
        if self.artifacts is not None:
            # S6 HEAD probe, metadata-only: one probe per distinct link
            # ever learned (an anti-join against the size log dedups
            # links shared by several download pages; probe misses are
            # recorded as NULL so the read view shows them as the
            # reference's NaN). The body never moves.
            known = self._sizes_main.unionByName(
                self._with_deltas(self._sizes_sfx_base, self._sizes_deltas)
            ).select("raw_download_link")
            probe_keys = (
                raw_new.filter(F.col("raw_link") != "")
                .select(F.col("raw_link").alias("raw_download_link"))
                .distinct()
                .join(known, "raw_download_link", "left_anti")
            )
            sizes_delta = TableFetcher(self.artifacts).head(
                probe_keys, url_col="raw_download_link"
            )

        # ---- trace delta (dequeue order is the explicit rank, never
        # physical row order); committed as an appended history segment
        prev_total = self._trace_count
        trace_delta = dequeued.select(
            (F.lit(prev_total) + F.col("dequeue_rank") - 1).alias("dequeue_seq"),
            F.lit(r).alias("round"),
            "url",
            "host",
            "kind",
        )

        # ---- lineage / metrics (per-partition fetch + dedup counters)
        if cfg.detailed_metrics:
            part_rows = (
                ext.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .select(
                    F.lit(r).alias("round"),
                    F.lit("fetch_partition_rows").alias("metric"),
                    F.col("pid").cast("string").alias("key"),
                    F.col("count").alias("value"),
                )
            )
            scalars = [
                ("dequeued", n_deq),
                ("fetched", n_fetched),
                ("failed", n_deq - n_fetched),
                ("robots_denied", n_denied),
                ("outlinks", n_candidates),
                ("dup_dropped_in_batch", n_candidates - n_unique_cand),
                ("dup_dropped_seen", n_unique_cand - n_new),
                ("new_urls", n_new),
            ]
        else:
            # fetched/failed cost nothing (byproducts of the ext action)
            scalars = [
                ("dequeued", n_deq),
                ("fetched", n_fetched),
                ("failed", n_deq - n_fetched),
                ("new_urls", n_new),
            ]
            if self.robots is not None:
                scalars.append(("robots_denied", n_denied))
        # single-slice parallelize, NOT bare createDataFrame: the
        # default slicing spreads these few driver-side rows over
        # defaultParallelism Python-RDD partitions, and the commit's
        # coalesce(1) then executes every (mostly empty) partition's
        # Python-worker round-trip SEQUENTIALLY inside one task —
        # measured 19 s for 4 rounds' lineage deltas at 32 cores vs
        # ~0.5 s born-single-partition (r6; the same pathology applies
        # to any tiny createDataFrame later coalesced)
        lineage_delta = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(
                [(r, m, "total", int(v)) for m, v in scalars], 1),
            LINEAGE_SCHEMA,
        )
        if cfg.detailed_metrics:
            lineage_delta = lineage_delta.unionByName(part_rows)
        tick("metrics")

        # ---- maintain per-group queue counts for the pruned dequeue:
        # rows that left (dequeued/denied) and rows that arrived
        # (new_front), counted by their stable priority group — three
        # tiny jobs over this round's cached intermediates, so the next
        # dequeue needs no count scan.
        if use_pruned:
            gexpr = stable_dequeue_group_expr()
            gc_counts = self._queue_grp_counts
            moves = [(dequeued, -1), (new_front, +1)]
            if self.robots is not None:
                moves.append((denied, -1))
            for df, sign in moves:
                for g, n in grouped_counts(df, gexpr).items():
                    gc_counts[g] = gc_counts.get(g, 0) + sign * n
            self._queue_grp_counts = {g: n for g, n in gc_counts.items() if n > 0}

        # ---- publish the round: in-memory state always; snapshot commit
        # at the configured cadence (one manifest + HEAD per version).
        # Append-only sides (done/seen/trace/lineage
        # deltas) stay as lazy views over this round's cached
        # intermediates until the commit appends them as history
        # segments. coalesce: each round's unions would otherwise stack
        # partitions (k rounds → k·P tasks per downstream stage).
        # Delta partition counts are SCALE-ADAPTIVE, derived from the
        # row counts this round already collected (~1M narrow rows ≈
        # 100 MB parquet per file — §6 file sizing): a constant
        # cores×8 width turned every tiny delta write into a 32-task
        # parquet job, and the 8-table concurrent commit paid that task
        # fan-out at BOTH cluster sizes — pure per-round fixed cost.
        def _delta_parts(rows: int) -> int:
            return max(1, min(n_parts, -(-int(rows) // 1_000_000)))

        self._state = {
            "queue": queue2.coalesce(n_parts),
            "seen": seen2.coalesce(n_parts),
            "bloom": bloom2,
        }
        self._done_deltas.append(
            done_delta.coalesce(_delta_parts(n_deq + n_denied)))
        self._seen_deltas.append(seen_delta.coalesce(_delta_parts(n_new)))
        self._ext_deltas.append(new_ext.coalesce(_delta_parts(n_fetched)))
        self._rawmap_deltas.append(raw_new.coalesce(_delta_parts(n_fetched)))
        if sizes_delta is not None:
            self._sizes_deltas.append(
                sizes_delta.coalesce(_delta_parts(n_fetched)))
        self._trace_deltas.append(trace_delta.coalesce(_delta_parts(n_deq)))
        self._lineage_deltas.append(lineage_delta.coalesce(1))
        self._round = r
        self._max_seq = max_seq + n_new
        self._trace_count = prev_total + n_deq
        self._last_meta = {m: int(x) for m, x in scalars}
        self._dirty = True
        if r % cfg.checkpoint_every == 0:
            self._commit_state()
            tick("snapshot_commit")
        else:
            # truncate lineage of the tables every round consumes
            # (queue/seen/bloom feed the next dequeue + dedup). The
            # extracted side is all append-only now — its deltas (like
            # trace/lineage) stay lazy views over this round's caches
            # until commit, so it no longer needs a per-round
            # checkpoint at all.
            # The checkpoints are independent jobs — run them
            # concurrently so the driver pays one barrier, not four.
            # NOTE: the eager materialization is load-bearing, not just a
            # cache policy — round state MUST sever lineage every round.
            # A lazily-persisted variant was measured to hang the driver:
            # each round's plan embeds the previous round's whole AQE
            # tree ~5× (rest/ext/new all read the prior frontier), so
            # plan size — and the plan-description walk every action
            # performs — grows 5^rounds.
            keys = ("queue", "seen", "bloom")

            def _materialize(k: str):
                t = time.time()
                df = self._state[k].localCheckpoint(eager=True)
                return k, df, time.time() - t

            with ThreadPoolExecutor(max_workers=len(keys)) as pool:
                for k, df, sec in pool.map(_materialize, keys):
                    self._state[k] = df
                    self.timings.append((r, f"local_checkpoint[{k}]", round(sec, 3)))
            tick("local_checkpoint")

        # Every cached intermediate this round created stays pinned until
        # the next snapshot commit (dequeued feeds the lazy trace chain,
        # ext the lazy lineage chain, and the rank/probe intermediates
        # back anything not yet materialized); _commit_state releases the
        # whole batch — nothing leaks across commits (long-crawl safety).
        self._pending_unpersist.extend([dequeued, ext])
        if cfg.detailed_metrics:
            self._pending_unpersist.append(candidates)
        if denied.is_cached:
            self._pending_unpersist.append(denied)
        return True

    # -- resume -----------------------------------------------------------------
    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame | None,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
        version: int | None = None,
        fetch_fn: Callable[[DataFrame], DataFrame] | None = None,
        artifacts: DataFrame | None = None,
    ) -> "CrawlEngine":
        """Attach to an existing crawl at ``version`` (default: HEAD).
        Every published version is whole: a crash mid-commit leaves
        HEAD at the previous version, and that attempt's files are
        never read. ``fetch_fn`` / ``artifacts`` are the constructor's —
        a crawl resumes with the same fetch stage it was built with."""
        eng = cls(spark, workdir, pages, robots, config, fetch_fn, artifacts)
        target = version if version is not None else eng.snap.current_version()
        if target is None:
            raise RuntimeError(f"nothing to resume in {workdir}")
        eng.rollback(target)
        return eng
