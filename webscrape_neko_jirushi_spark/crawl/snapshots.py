"""Iceberg-style snapshot store (swap point): atomic multi-table
snapshots of parquet behind a manifest pointer, not Iceberg itself
(SURVEY.md §2.9 T2; S10/S11 — the JSON-state read/write sinks become
manifest+parquet snapshots).

The reference checkpoints by rewriting two JSON files non-atomically
(comprehensive_scraper.py:82-96,317-326) — a crash between the writes
tears the state. Here every epoch commits all state tables in ONE
atomic step, the Iceberg pattern reduced to its core:

- each table version is an immutable parquet directory; a commit
  writes its tables' directories concurrently, one Spark job each;
- a manifest (JSON) pins the exact directory set per table, and one
  manifest swap publishes all of a commit's directories together;
- HEAD is a tiny pointer file swapped with ``os.replace`` (atomic on
  POSIX) — readers only ever see a fully-committed manifest. The
  manifest-then-HEAD publish is ``index_store.publish_manifest``, the
  step the persisted indexes commit with too.

On a cluster this class is swapped for real Iceberg tables
(``df.writeTo(...).append()`` inside one transaction); the engine only
uses the four methods below, so the swap is a constructor change.
Orphan data dirs from a killed run are ignored (never referenced by a
committed manifest) — resume is always consistent.
"""

from __future__ import annotations

import json
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..operators.index_store import _commit_lock, publish_manifest


def _data_dir(table: str, epoch: int) -> str:
    return f"{table}-{epoch:06d}-{uuid.uuid4().hex[:8]}"


class SnapshotStore:
    def __init__(self, root: str | Path, spark: SparkSession):
        self.root = Path(root)
        self.spark = spark
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)

    # -- read side ----------------------------------------------------------
    def _head(self) -> dict | None:
        head = self.root / "HEAD"
        if not head.exists():
            return None
        manifest_path = head.read_text().strip()
        with open(self.root / "manifests" / manifest_path) as f:
            return json.load(f)

    def version(self) -> int:
        m = self._head()
        return m["version"] if m else 0

    def epoch(self) -> int:
        m = self._head()
        return m["epoch"] if m else 0

    def _dirs(self, table: str) -> list[str]:
        return (self._head() or {}).get("tables", {}).get(table, [])

    def has_data(self, table: str) -> bool:
        """Whether HEAD lists any data dir for ``table``: read from the
        manifest, without a Spark job."""
        return bool(self._dirs(table))

    def paths(self, table: str) -> list[str]:
        """The data dirs HEAD lists for ``table``, oldest first: read
        from the manifest, without a Spark job."""
        return [str(self.root / "data" / d) for d in self._dirs(table)]

    def read(self, table: str, schema: T.StructType) -> DataFrame:
        """Committed contents of ``table`` (empty DF if never written)."""
        paths = self.paths(table)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    # -- write side ----------------------------------------------------------
    def commit(
        self,
        epoch: int,
        appends: dict[str, DataFrame] | None = None,
        replaces: dict[str, DataFrame] | None = None,
    ) -> int:
        """Write new data dirs, then atomically publish a new manifest.

        ``appends`` add a directory to the table's set; ``replaces``
        swap the whole set (used for the pending frontier, which shrinks).
        The data dirs are written concurrently, one Spark job per table,
        and published together by one manifest swap once every write has
        succeeded; a failed write re-raises with HEAD untouched, and so
        does a crash before the final ``os.replace``.
        A write's file count follows the frame's own partitioning: the
        crawl engine's epoch frames are cached with AQE coalescing
        (``engine._persist_coalesced``), so a small epoch writes a few
        files and a large one stays wide. There is no knob; a fixed
        repartition would add a shuffle stage and suit only one scale.
        """

        def _write(df: DataFrame, d: str) -> None:
            df.write.mode("overwrite").parquet(str(self.root / "data" / d))

        # data dirs first, OUTSIDE the commit lock: uuid-named, so
        # concurrent writers can never collide on a directory, and the
        # (long) Spark writes never block another store's commit
        replaces, appends = replaces or {}, appends or {}
        written_replaces = [(name, _data_dir(name, epoch)) for name in replaces]
        written_appends = [(name, _data_dir(name, epoch)) for name in appends]
        writes = [(replaces[n], d) for n, d in written_replaces] + [
            (appends[n], d) for n, d in written_appends
        ]
        # one thread per table: a small epoch's writes are mostly
        # per-job fixed cost, which overlaps across concurrent jobs. Each
        # target is wrapped on its own so it gets its own copy of the
        # caller's local properties (job description, job group, tags):
        # one shared copy would race on the per-query execution id.
        with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(_write), df, d)
                for df, d in writes
            ]
        # every write has finished here; a failed one re-raises before
        # the manifest and HEAD move
        for f in futures:
            f.result()

        # the read-version -> write-manifest -> swap-HEAD section runs
        # under the flock (index_store._commit_lock): racing commits
        # serialize onto distinct versions instead of clobbering, and
        # HEAD never moves backward — readers stay lock-free
        with _commit_lock(self.root):
            return self._commit_locked(epoch, written_replaces, written_appends)

    def _commit_locked(
        self,
        epoch: int,
        written_replaces: list[tuple[str, str]],
        written_appends: list[tuple[str, str]],
    ) -> int:
        m = self._head() or {"version": 0, "epoch": 0, "tables": {}}
        tables: dict[str, list[str]] = {k: list(v) for k, v in m["tables"].items()}
        for name, d in written_replaces:
            tables[name] = [d]
        for name, d in written_appends:
            tables.setdefault(name, []).append(d)

        version = m["version"] + 1
        publish_manifest(
            self.root,
            {"version": version, "epoch": epoch, "tables": tables},
            "manifests",
            "HEAD",
        )
        return version

    # -- time travel (SURVEY §2.11 X69) --------------------------------------
    def versions(self) -> list[dict]:
        """Every manifest version still on disk (oldest first):
        ``{"version", "epoch", "tables": [names]}`` — the audit
        surface ``expire_snapshots`` trims and ``read_at`` addresses.
        """
        out = []
        for mp in sorted((self.root / "manifests").glob("v*.json")):
            with open(mp) as f:
                m = json.load(f)
            out.append(
                {
                    "version": m["version"],
                    "epoch": m["epoch"],
                    "tables": sorted(m["tables"]),
                }
            )
        return out

    def read_at(
        self, table: str, schema: T.StructType, version: int
    ) -> DataFrame:
        """``table`` exactly as manifest ``version`` committed it —
        time travel (the X30 corpus-diff's natural input: diff
        ``read_at(v1)`` vs ``read_at(v2)`` without keeping external
        copies). Works for any version ``expire_snapshots`` has not
        dropped and ``vacuum`` has not reclaimed; a missing version
        raises loudly rather than silently serving HEAD."""
        mp = self.root / "manifests" / f"v{version:06d}.json"
        if not mp.exists():
            raise ValueError(
                f"read_at: version {version} not found at {self.root} "
                "(expired or never committed)"
            )
        with open(mp) as f:
            m = json.load(f)
        dirs = m["tables"].get(table, [])
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[str(self.root / "data" / d) for d in dirs]
        )

    def compact(self, table: str, schema: T.StructType, epoch: int) -> None:
        """Rewrite a many-dir table into one dir (metadata hygiene for
        long crawls); readers are unaffected (next manifest swap)."""
        df = self.read(table, schema)
        self.commit(epoch, replaces={table: df})

    def vacuum(self, older_than_sec: float = 0.0) -> int:
        """Physical GC (VERDICT r4 #4): delete every directory under
        ``data/`` that NO remaining manifest version references —
        ``replaces`` drop dirs from the live set every epoch, killed
        runs leave never-referenced write dirs, and
        ``stats.expire_snapshots`` only removes manifest FILES, so
        without this the tree grows forever.

        Liveness = the union of all manifests still present under
        ``manifests/`` (expire first to shrink it); only dirs whose
        newest mtime is older than ``older_than_sec`` are removed, so a
        concurrent epoch's in-flight write dir survives (pass a
        retention above the longest commit; 0 only when no writer can
        be active). HEAD is resolved through the surviving manifests
        exclusively, so readers are never affected. Returns the number
        of directories deleted."""
        import shutil
        import time

        live: set[str] = set()
        for mp in sorted((self.root / "manifests").glob("v*.json")):
            with open(mp) as f:
                m = json.load(f)
            for dirs in m["tables"].values():
                live.update(dirs)
        cutoff = time.time() - older_than_sec
        deleted = 0
        for d in sorted((self.root / "data").iterdir()):
            if not d.is_dir() or d.name in live:
                continue
            newest = max(
                (f.stat().st_mtime for f in d.rglob("*") if f.is_file()),
                default=d.stat().st_mtime,
            )
            if newest > cutoff:
                continue
            shutil.rmtree(d)
            deleted += 1
        return deleted
