"""Iceberg-style snapshot tables over Parquet (sandbox fallback).

The production design keeps frontier / seen / extracted state in Apache
Iceberg tables (atomic snapshot commits, ``VERSION AS OF``, rollback,
partition pruning). The Iceberg runtime jar is not available offline in
this sandbox, so this module provides the same *contract* over plain
Parquet + JSON manifests (SURVEY §7.5 anticipated exactly this
fallback; the crawl loop only talks to this interface, so swapping in
Iceberg is a one-module change).

Layout of a snapshot root (one crawl workdir)::

    <root>/<table>/data/v{N}-{token}*/*.parquet   immutable data files
    <root>/manifests/v{N}.json                    {version, parent, meta,
                                                   tables: {name: entry}}
    <root>/HEAD                                   current version

A version is a root-level object: ONE manifest lists every table's
entry — what that table's snapshot is made of (``path``, ``history``,
``buckets``, ``schema``). Table writes own no version: each takes the
parent's entry and returns the new one, and ``Manifest.commit`` writes
the manifest, then atomically replaces HEAD. HEAD is the only
consistency point, so a crash anywhere before its rename leaves the
previous version current and whole: no manifest that HEAD can reach
names the half-written version's data dirs, and its manifest file is
replaced by the next commit of that version. ``read(entry)`` of any
version's entry is Iceberg's ``VERSION AS OF``; ``Manifest.publish(k)``
is rollback.

Checkpoint/resume semantics mirror the reference's periodic whole-CSV
rewrite (/root/reference/scraper/selenium_scraper.py:134-135,181-182)
but atomic and versioned instead of clobber-in-place.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _force_nullable(dt):
    """Parquet schema inference reports every column nullable; stored
    writer schemas are normalized the same way so schema-from-manifest
    reads are indistinguishable from inferred reads."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _force_nullable(f.dataType), True,
                          f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_force_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_force_nullable(dt.keyType),
                         _force_nullable(dt.valueType), True)
    return dt


def _schema_from_json(schema_json: str) -> T.StructType:
    return _force_nullable(T.StructType.fromJson(json.loads(schema_json)))


def _check_schema(pinned_json: str | None, schema: T.StructType,
                  what: str) -> None:
    """Reads pin every segment to the entry's one schema, so a delta
    whose columns differ would be silently cut down to it (or fail at
    read time). Refuse it at commit time instead."""
    if pinned_json is None:
        return
    pinned = _schema_from_json(pinned_json)
    got = _force_nullable(schema)
    if ({f.name: f.dataType for f in got.fields}
            != {f.name: f.dataType for f in pinned.fields}):
        raise ValueError(
            f"{what}: delta schema {schema.simpleString()} does not match "
            f"the pinned {pinned.simpleString()}"
        )


def _read_parquet(spark: SparkSession, paths: list[str],
                  schema_json: str) -> DataFrame:
    """Read parquet with the writer schema recorded in the entry — each
    schema-less ``spark.read.parquet`` pays a driver-side footer
    -inference job per call, pure fixed cost on every snapshot read
    (r6, guide §6)."""
    return spark.read.schema(_schema_from_json(schema_json)).parquet(*paths)


def _empty_frame(spark: SparkSession, entry: dict[str, Any]) -> DataFrame:
    return spark.createDataFrame([], _schema_from_json(entry["schema"]))


class Manifest:
    """The version log of a snapshot root: one manifest per version and
    one HEAD, published with a single ``os.replace``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    def _path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version}.json")

    def current_version(self) -> int | None:
        head = os.path.join(self.root, "HEAD")
        if not os.path.exists(head):
            return None
        with open(head) as f:
            return int(f.read().strip())

    def read(self, version: int | None = None) -> dict[str, Any]:
        version = version if version is not None else self.current_version()
        if version is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        with open(self._path(version)) as f:
            return json.load(f)

    def commit(self, version: int, meta: dict[str, Any],
               tables: dict[str, dict[str, Any]]) -> None:
        """Write version ``version``'s manifest, then publish it. An
        existing manifest of that version (a crashed attempt, or the
        future of a rolled-back version) is replaced."""
        manifest = {
            "version": version,
            "parent": version - 1 if version > 1 else None,
            "meta": meta,
            "tables": tables,
        }
        path = self._path(version)
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(path + ".tmp", path)
        self.publish(version)

    def publish(self, version: int) -> None:
        """Atomically point HEAD at an already-written version — the
        commit point, and the whole of a rollback."""
        if not os.path.exists(self._path(version)):
            raise ValueError(f"unknown version {version}")
        head_tmp = os.path.join(self.root, "HEAD.tmp")
        with open(head_tmp, "w") as f:
            f.write(str(version))
        os.replace(head_tmp, os.path.join(self.root, "HEAD"))


class SnapshotTable:
    """Data files of one table. Writes take the parent's entry (None
    for a table's first write) and return the new entry; reads take an
    entry. ``version`` only names the data dirs a write creates."""

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)

    def _data_path(self, version: int, token: str, suffix: str = "") -> str:
        return os.path.join(self.dir, "data", f"v{version}-{token}{suffix}")

    # -- write --------------------------------------------------------------
    def commit(self, df: DataFrame, version: int) -> dict[str, Any]:
        """Full rewrite: ``df`` becomes the whole snapshot."""
        data_path = self._data_path(version, uuid.uuid4().hex[:8])
        df.write.mode("errorifexists").parquet(data_path)
        return {"path": data_path, "schema": df.schema.json()}

    @staticmethod
    def empty(schema: T.StructType | str) -> dict[str, Any]:
        """Entry of a KNOWN-empty snapshot, without any Spark write job:
        ``path: null`` plus the schema, from which every reader
        synthesizes an empty frame. The engine's ``init_frontier`` seeds
        five always-empty tables this way — the old form paid one
        parquet write job per table for zero rows (r6, pure fixed
        cost)."""
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        return {"path": None, "schema": schema.json()}

    # -- incremental commits --------------------------------------------------
    # Iceberg-manifest-style append: an entry may carry, besides its
    # (rewritten) main data dir, a HISTORY list of immutable data dirs
    # inherited from the parent entry plus this commit's delta. Only
    # the delta is written; every inherited dir is byte-reused across
    # versions — the fix for "full-table rewrite per checkpoint" on
    # monotonically growing tables (trace, lineage, seen, crawl 'done'
    # history) at 10^10-row scale. ``read`` unions main + history, and
    # VERSION AS OF / rollback semantics are unchanged (manifests are
    # immutable and self-contained).

    def commit_with_history(self, parent: dict[str, Any] | None,
                            main_df: DataFrame | None,
                            delta_df: DataFrame | None, version: int,
                            reset_history: bool = False) -> dict[str, Any]:
        """Write ``main_df`` (or reuse the parent's main dir if None)
        plus an appended ``delta_df`` history segment (if not None).
        ``reset_history=True`` drops the inherited segment list so the
        written delta becomes the ONLY history segment — the compaction
        commit: ``delta_df`` must then be the full accumulated history
        (parent manifests still pin the old segments for time travel).
        A delta whose columns differ from the pinned schema raises
        ``ValueError``."""
        history = (
            [] if reset_history or parent is None
            else list(parent.get("history", []))
        )
        token = uuid.uuid4().hex[:8]
        if main_df is not None:
            data_path = self._data_path(version, token)
            main_df.write.mode("errorifexists").parquet(data_path)
            schema_json = main_df.schema.json()
        else:
            if parent is None:
                raise ValueError("first commit needs a main DataFrame")
            data_path = parent["path"]  # byte-reused (may be None)
            schema_json = parent["schema"]
        if delta_df is not None:
            _check_schema(schema_json, delta_df.schema, self.name)
            delta_path = self._data_path(version, token, "-delta")
            delta_df.write.mode("errorifexists").parquet(delta_path)
            history.append(delta_path)
        return {"path": data_path, "history": history, "schema": schema_json}

    def commit_append(self, parent: dict[str, Any],
                      delta_df: DataFrame | None,
                      version: int) -> dict[str, Any]:
        """Append-only commit: parent's data dirs are all byte-reused;
        only the delta is written."""
        return self.commit_with_history(parent, None, delta_df, version)

    # -- read ---------------------------------------------------------------
    @staticmethod
    def read_main(spark: SparkSession, entry: dict[str, Any]) -> DataFrame:
        """Only the main (rewritten) part of a snapshot."""
        if entry["path"] is None:  # empty() lineage — no data files
            return _empty_frame(spark, entry)
        return _read_parquet(spark, [entry["path"]], entry["schema"])

    @staticmethod
    def read_history(spark: SparkSession,
                     entry: dict[str, Any]) -> DataFrame | None:
        """Only the appended history segments (None if there are none)."""
        paths = entry.get("history", [])
        if not paths:
            return None
        return _read_parquet(spark, paths, entry["schema"])

    @staticmethod
    def read(spark: SparkSession, entry: dict[str, Any]) -> DataFrame:
        """The whole snapshot ``entry`` describes — main ∪ history."""
        paths = [p for p in [entry["path"], *entry.get("history", [])]
                 if p is not None]
        if not paths:  # empty() with no appended history yet
            return _empty_frame(spark, entry)
        return _read_parquet(spark, paths, entry["schema"])


class BucketedSnapshotTable(SnapshotTable):
    """Snapshot table whose rows are clustered into ``n_buckets`` hash
    buckets of a caller-chosen key, each bucket owning an ordered list
    of immutable parquet segments (Iceberg bucket-partitioning +
    manifest-per-partition, over plain parquet).

    Why: a commit touches only the buckets it writes — every other
    bucket's segment list carries over BY REFERENCE, so per-commit I/O
    is O(delta), never O(table), and key-targeted readers
    (``read_buckets``) open only the files that can contain their keys.
    This is the at-rest shape for the crawl's ``extracted`` table
    (VERDICT round 2: the full-table join+rewrite per round was the
    last O(crawl-history) cost).

    Writes take a DataFrame carrying an int ``_bkt`` column (the
    caller's ``pmod(xxhash64(key), P)``); it is written as a parquet
    partition directory and NOT stored in the data files — readers
    re-derive it from the key when they need it.

    Per-bucket compaction is folded into the commit: any bucket whose
    segment list would exceed ``max_segments`` is rewritten as ONE
    segment (read its list ∪ the new delta, write once), bounding read
    fan-in at O(max_segments) files per bucket with O(size/K)
    amortized write cost — the LSM discipline."""

    def __init__(self, root: str, name: str, max_segments: int = 8):
        super().__init__(root, name)
        self.max_segments = max_segments

    @staticmethod
    def _materialized_buckets(path: str) -> dict[int, str]:
        out = {}
        if os.path.isdir(path):
            for fn in os.listdir(path):
                if fn.startswith("_bkt="):
                    out[int(fn.split("=", 1)[1])] = os.path.join(path, fn)
        return out

    def commit_delta(self, parent: dict[str, Any] | None,
                     delta_df: DataFrame | None, version: int,
                     spark: SparkSession | None = None) -> dict[str, Any]:
        """Append ``delta_df`` (with ``_bkt``) as one new segment per
        materialized bucket; compact any bucket whose list overflows.
        A delta whose columns differ from the pinned schema raises
        ``ValueError``."""
        buckets: dict[str, list[str]] = (
            {k: list(v) for k, v in parent.get("buckets", {}).items()}
            if parent else {}
        )
        token = uuid.uuid4().hex[:8]
        schema_json = parent.get("schema") if parent else None
        if delta_df is not None:
            from pyspark.sql import functions as F

            spark = spark or delta_df.sparkSession
            # readers open bucket dirs directly, so the partition column
            # is absent from their frames — store the bucket-stripped
            # writer schema
            delta_schema = delta_df.drop("_bkt").schema
            _check_schema(schema_json, delta_schema, self.name)
            schema_json = delta_schema.json()
            delta_dir = self._data_path(version, token, "-delta")
            # cluster by bucket before the partitioned write: otherwise
            # every input partition opens a writer per bucket it sees —
            # up to P·tasks small files per commit; hash-clustered, each
            # bucket is written by exactly one task → P files total
            delta_df = delta_df.repartition(F.col("_bkt"))
            delta_df.write.mode("errorifexists").partitionBy("_bkt").parquet(delta_dir)
            for b, p in self._materialized_buckets(delta_dir).items():
                buckets.setdefault(str(b), []).append(p)
        # fold overflowing buckets into single segments (their parent
        # files stop being referenced from THIS version on; earlier
        # manifests still pin them, so time travel is unaffected)
        overflow = {
            int(b): paths for b, paths in buckets.items()
            if len(paths) > self.max_segments
        }
        if overflow:
            if spark is None:
                raise ValueError("compaction requires a SparkSession")
            from functools import reduce

            from pyspark.sql import functions as F
            fold = reduce(
                lambda a, b: a.unionByName(b),
                [
                    _read_parquet(spark, paths, schema_json).withColumn(
                        "_bkt", F.lit(b).cast("int"))
                    for b, paths in overflow.items()
                ],
            )
            fold_dir = self._data_path(version, token, "-fold")
            fold = fold.repartition(F.col("_bkt"))
            fold.write.mode("errorifexists").partitionBy("_bkt").parquet(fold_dir)
            folded = self._materialized_buckets(fold_dir)
            for b in overflow:
                # a bucket whose rows all filtered out still resets to []
                buckets[str(b)] = [folded[b]] if b in folded else []
        entry: dict[str, Any] = {"buckets": buckets}
        if schema_json is not None:
            entry["schema"] = schema_json
        return entry

    def commit_full(self, df: DataFrame, version: int) -> dict[str, Any]:
        """Rewrite the WHOLE table: every materialized bucket becomes one
        segment and every inherited segment list is dropped (parent
        manifests still pin the old files for time travel). This is the
        table-wide compaction commit — the crawl uses it at the
        ``compact_history_every`` cadence to bake merge-on-read fills
        into the rows (O(table) every K commits → O(table/K) amortized,
        the same bound as the other history folds)."""
        from pyspark.sql import functions as F

        full_dir = self._data_path(version, uuid.uuid4().hex[:8], "-full")
        df.repartition(F.col("_bkt")).write.mode("errorifexists") \
            .partitionBy("_bkt").parquet(full_dir)
        return {
            "buckets": {
                str(b): [p]
                for b, p in self._materialized_buckets(full_dir).items()
            },
            "schema": df.drop("_bkt").schema.json(),
        }

    @staticmethod
    def bucket_paths(entry: dict[str, Any]) -> dict[int, list[str]]:
        return {int(b): list(p) for b, p in entry.get("buckets", {}).items()}

    @staticmethod
    def read(spark: SparkSession, entry: dict[str, Any]) -> DataFrame | None:
        paths = [p for ps in entry.get("buckets", {}).values() for p in ps]
        if not paths:
            return None
        return _read_parquet(spark, paths, entry["schema"])

    @staticmethod
    def read_buckets(spark: SparkSession, entry: dict[str, Any],
                     buckets) -> DataFrame | None:
        """Only the segments of ``buckets`` — the key-pruned scan."""
        want = set(int(b) for b in buckets)
        paths = [
            p for b, ps in entry.get("buckets", {}).items()
            if int(b) in want for p in ps
        ]
        if not paths:
            return None
        return _read_parquet(spark, paths, entry["schema"])
