"""Manifest-pointer layer for partition-keyed parquet indexes
(SURVEY.md §2.11 X9/X10 scale path; the ``crawl/snapshots.py`` HEAD
pattern applied to the persisted ANN/IVF indexes).

Why: a ``bucket``-partitioned index probed through Catalyst partition
pruning still pays an O(total-partitions) *directory listing* before
pruning — measured as the entire residual 100x probe growth in
``BENCH/DEDUP_SCALE.md`` (0.42 s -> 2.44 s while data read stayed
flat). Iceberg fixes this with manifest metadata; this module is that
fix reduced to its core, sharing the snapshot store's commit protocol:

- data files live where Spark's ``partitionBy`` writes them
  (``<root>/bucket=5/part-*.parquet``), one file per partition dir
  after a build: ``build`` and ``stage_write`` are the only writers
  and both repartition on the key first — the tree stays readable as
  a plain partitioned table for ad-hoc reads;
- a manifest (JSON) pins the exact file list per partition value plus
  the build parameters (dim/bits/seed), under ``_manifests/`` —
  underscore-prefixed, so Spark's own listing ignores it;
- ``_HEAD`` is a tiny pointer file swapped with ``os.replace`` (atomic
  on POSIX): readers only ever see a fully-committed manifest, and a
  crash mid-append leaves the previous version readable.

A probe then resolves its ~nprobe partitions' files with ONE manifest
read and hands Spark an explicit file list — zero directory listing,
O(probed-partitions) metadata instead of O(all-partitions). On a
cluster this class is swapped for Iceberg table metadata; the
operators only use ``load``/``build``/``stage_write``/
``commit_staged``/``files_for``, so the swap is a constructor change. Every index has a manifest: a path without one
is not an index, and every probe and append raises on it.

Write-side cost: ``commit`` re-enumerates the partition tree once per
build/append. That is the Iceberg trade — metadata work happens at
write time, where it amortizes over every future probe.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
from pathlib import Path


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the HEAD version moved between
    a writer's read and its commit (another writer landed first).
    Raised only when the caller pinned ``expected_version`` — the
    copy-on-write rewrites do, because their explicit file dict was
    derived FROM the version they read and would silently drop a
    concurrent append's files if committed over a newer HEAD.
    Re-read HEAD, re-derive, retry."""


@contextlib.contextmanager
def _commit_lock(root: Path):
    """Serialize the read-version -> write-manifest -> swap-HEAD
    critical section across processes on this host (flock on a
    sidecar; held for milliseconds — readers never take it, the HEAD
    swap stays their only synchronization point). This is the local
    reduction of Iceberg's optimistic commit lock; on a remote
    filesystem swap the whole class for Iceberg metadata."""
    root.mkdir(parents=True, exist_ok=True)
    fd = os.open(root / "_HEAD.lock", os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _write_synced(path: Path, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def publish_manifest(
    root: Path, manifest: dict, manifests_dir: str, head: str
) -> None:
    """The publish step both manifest stores share (this one and
    ``crawl/snapshots.py``): write ``manifest`` as
    ``<root>/<manifests_dir>/v<version>.json``, then swap the ``head``
    pointer file to it. Callers hold ``_commit_lock``.

    Each file is written to a ``.tmp`` sibling, fsynced, then
    ``os.replace``d into place, and the root directory is fsynced
    last: the replace alone is atomic against process crashes, but on
    a power failure ext4/xfs may persist a rename with empty content
    unless the file was synced first (and drop the rename itself
    unless the directory is). The HEAD replace is the commit point —
    readers only ever see a fully written manifest."""
    mdir = root / manifests_dir
    mdir.mkdir(parents=True, exist_ok=True)
    mname = f"v{manifest['version']:06d}.json"
    _write_synced(mdir / (mname + ".tmp"), json.dumps(manifest))
    os.replace(mdir / (mname + ".tmp"), mdir / mname)
    _write_synced(root / (head + ".tmp"), mname)
    os.replace(root / (head + ".tmp"), root / head)
    dfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


class IndexManifest:
    """One committed manifest version of a partition-keyed index."""

    def __init__(
        self,
        root: Path,
        key: str,
        meta: dict,
        partitions: dict[str, list[str]],
        version: int,
    ):
        self.root = Path(root)
        self.key = key
        self.meta = meta
        self.partitions = partitions  # partition value (str) -> relative files
        self.version = version

    # -- read side ----------------------------------------------------------
    @staticmethod
    def _local_root(path: str | Path) -> Path:
        """Normalize to a local filesystem Path, loudly rejecting
        remote URIs: this class walks the tree with pathlib, so an
        hdfs:// or s3a:// index would silently resolve to a relative
        local path (and a ``file:`` URI to a cwd-relative one) —
        failing AFTER the expensive index write. On a cluster this
        layer is swapped for Iceberg metadata; here the contract is
        local-path-only and enforced up front."""
        s = str(path)
        if s.startswith("file://"):
            s = s[len("file://"):]
        elif s.startswith("file:"):
            s = s[len("file:"):]
        if "://" in s:
            raise ValueError(
                f"IndexManifest requires a local path, got URI {path!r} — "
                "use Iceberg table metadata for remote filesystems"
            )
        return Path(s)

    @staticmethod
    def load(path: str | Path) -> "IndexManifest | None":
        """The committed manifest at ``path``, or None if nothing was
        ever committed there."""
        root = IndexManifest._local_root(path)
        head = root / "_HEAD"
        if not head.exists():
            return None
        with open(root / "_manifests" / head.read_text().strip()) as f:
            m = json.load(f)
        return IndexManifest(
            root, m["key"], m.get("meta", {}), m["partitions"], m["version"]
        )

    def files_for(self, values) -> list[str]:
        """Absolute data files of the probed partition values — the
        probe's entire metadata cost. Values absent from the manifest
        contribute nothing (an empty bucket has no directory at all)."""
        out: list[str] = []
        for v in values:
            for rel in self.partitions.get(str(v), []):
                out.append(str(self.root / rel))
        return out

    def n_files(self) -> int:
        return sum(len(v) for v in self.partitions.values())

    # -- write side ---------------------------------------------------------
    @staticmethod
    def _disk_files(root: Path, key: str) -> dict[str, list[str]]:
        """Current on-disk data files per partition value (the walk
        ``commit`` snapshots)."""
        partitions: dict[str, list[str]] = {}
        prefix = f"{key}="
        for d in sorted(root.iterdir()):
            if not d.is_dir() or not d.name.startswith(prefix):
                continue
            value = d.name[len(prefix):]
            files = sorted(
                str(f.relative_to(root))
                for f in d.iterdir()
                if f.is_file()
                and f.suffix == ".parquet"
                and not f.name.startswith((".", "_"))
            )
            if files:
                partitions[value] = files
        return partitions

    @staticmethod
    def all_referenced_files(path: str | Path) -> set[str]:
        """Union of every remaining manifest version's file lists —
        the liveness set ``vacuum`` protects."""
        root = IndexManifest._local_root(path)
        mdir = root / "_manifests"
        live: set[str] = set()
        for mp in sorted(mdir.glob("v*.json")) if mdir.is_dir() else []:
            with open(mp) as f:
                m = json.load(f)
            for files in m["partitions"].values():
                live.update(files)
        return live

    @staticmethod
    def build(df, path: str | Path, key: str, meta: dict) -> "IndexManifest":
        """Write ``df`` as a fresh index at ``path`` and commit its
        manifest — the one build path of every persisted index.

        Rows are repartitioned on ``key`` before the ``partitionBy``
        write, so each partition dir holds ONE data file: without it
        every write task emits a file into every dir it holds rows
        for, and a pruned probe pays O(probed dirs x write tasks)
        file-OPENS instead of O(probed dirs) — measured as most of the
        incremental probes' 100x growth in ``BENCH/DEDUP_SCALE.md``.
        ``meta`` pins the build parameters appends and probes read
        back (planes, centroids, codebooks, band geometry)."""
        root = IndexManifest._local_root(path)
        df.repartition(key).write.partitionBy(key).mode("overwrite").parquet(
            str(root)
        )
        return IndexManifest.commit(root, key, meta=meta)

    @staticmethod
    def stage_write(
        df, path: str | Path, key: str
    ) -> tuple[str, dict[str, list[str]]]:
        """Job-scoped staged write — the Iceberg discipline that makes
        concurrent writers safe at the DATA level, not just the
        manifest level: the incoming rows land under
        ``<root>/_staging/<job-uuid>/`` (Spark-invisible, never inside
        a live partition dir), so no other writer's tree re-list can
        ever adopt them, and this writer KNOWS its exact file set
        instead of inferring it from the tree. Returns ``(stage_dir,
        {partition value: [file names]})``; hand the stage dir to :meth:`commit_staged`, which
        moves the files into the live dirs and publishes them in one
        locked step. A crash before that commit leaves only a staging
        subtree for ``vacuum`` to reclaim — live data is untouched.

        Rows are repartitioned on ``key`` first, as in :meth:`build`,
        so each write adds at most one file per partition dir."""
        import uuid as _uuid

        root = IndexManifest._local_root(path)
        stage = root / "_staging" / _uuid.uuid4().hex
        df.repartition(key).write.partitionBy(key).mode("overwrite").parquet(
            str(stage)
        )
        files: dict[str, list[str]] = {}
        prefix = f"{key}="
        for d in sorted(stage.iterdir()):
            if d.is_dir() and d.name.startswith(prefix):
                files[d.name[len(prefix):]] = sorted(
                    f.name for f in d.glob("*.parquet")
                )
        return str(stage), files

    @staticmethod
    def commit_staged(
        path: str | Path,
        key: str,
        stage: str | Path,
        meta: dict | None = None,
        replace_values=None,
        expected_version: int | None = None,
        meta_update: dict | None = None,
    ) -> "IndexManifest":
        """Move a :meth:`stage_write` tree into the live partition
        dirs and publish a manifest naming EXACTLY the moved files —
        all under the commit lock, so no concurrent commit can
        observe (or adopt) a half-moved state.

        Default (append): each staged partition's files are ADDED to
        the previous version's list. With ``replace_values`` (the
        copy-on-write rewrite form — compaction, label-store
        updates): those partition values' lists are REPLACED by the
        staged files, and a listed value with NO staged files is
        dropped from the head (every row left it); pass
        ``expected_version`` with this form — the rewrite was derived
        from that version (:class:`CommitConflict` otherwise). Moves
        use ``os.rename`` (same filesystem by construction); a crash
        mid-move leaves already-moved files unreferenced — plain
        ``vacuum`` litter, the committed head stays intact.

        Meta: omit ``meta`` to KEEP the head's CURRENT meta (read
        under the lock — the safe default for appends); pass
        ``meta_update`` to merge keys onto that current meta in the
        same locked commit (the stream-watermark form — merging onto
        a meta dict read BEFORE the lock would let a concurrent
        committer's keys be silently reverted, e.g. a watermark
        moving backward); pass ``meta`` only to REPLACE wholesale."""
        import shutil

        if meta is not None and meta_update is not None:
            # validate BEFORE any file moves: raising after the stage
            # is renamed into live dirs and rmtree'd would destroy the
            # append on a pure argument error
            raise ValueError(
                "commit_staged: pass meta (replace) OR meta_update "
                "(merge under the lock), not both"
            )
        root = IndexManifest._local_root(path)
        stage = Path(stage)
        with _commit_lock(root):
            prev = IndexManifest.load(root)
            head_version = prev.version if prev else 0
            if expected_version is not None and head_version != expected_version:
                raise CommitConflict(
                    f"HEAD is v{head_version}, expected v{expected_version} "
                    f"at {root} — a concurrent commit landed; re-read, "
                    "re-derive, re-stage"
                )
            moved: dict[str, list[str]] = {}
            prefix = f"{key}="
            for d in sorted(stage.iterdir()):
                if not (d.is_dir() and d.name.startswith(prefix)):
                    continue
                v = d.name[len(prefix):]
                live = root / d.name
                live.mkdir(parents=True, exist_ok=True)
                for f in sorted(d.glob("*.parquet")):
                    os.rename(f, live / f.name)
                    moved.setdefault(v, []).append(
                        str((live / f.name).relative_to(root))
                    )
            shutil.rmtree(stage, ignore_errors=True)
            parts = {
                k: list(v) for k, v in (prev.partitions if prev else {}).items()
            }
            if replace_values is not None:
                for v in {str(x) for x in replace_values}:
                    if v in moved:
                        parts[v] = moved[v]
                    else:
                        parts.pop(v, None)
                extra = set(moved) - {str(x) for x in replace_values}
                for v in sorted(extra):  # staged values outside the
                    # rewrite set are plain appends (rows moved
                    # between partitions during a rewrite)
                    parts.setdefault(v, []).extend(moved[v])
            else:
                for v, files in moved.items():
                    parts.setdefault(v, []).extend(files)
            base_meta = meta if meta is not None else (
                dict(prev.meta) if prev else {}
            )
            if meta_update is not None:
                base_meta = {**base_meta, **meta_update}
            return IndexManifest._commit_locked(
                root, key, base_meta, parts, None
            )

    @staticmethod
    def commit(
        path: str | Path,
        key: str,
        meta: dict | None = None,
        partitions: dict[str, list[str]] | None = None,
        expected_version: int | None = None,
    ) -> "IndexManifest":
        """Publish a new manifest version and atomically swap ``_HEAD``
        to it.

        With ``partitions=None`` (build/append): snapshot the current
        partition tree — the enumeration walks only this index's tree,
        at write time, and the file set is re-listed from scratch (not
        diffed), so the commit is always consistent with the tree
        regardless of how the writer got it there (overwrite, append,
        compaction).

        With an explicit ``partitions`` dict (relative file paths per
        partition value): commit exactly that file set — the
        copy-on-write form for partition REWRITES. Files a previous
        version references but this dict omits are NOT deleted: older
        manifest versions keep resolving them (time travel), and they
        become reclaimable by ``vacuum`` once ``expire_versions``
        drops the last version naming them. Rewrites that stage their
        rows use :meth:`commit_staged` with ``replace_values``, which
        builds this dict under the lock.

        Local paths only (see ``_local_root``).

        Concurrency: the read-version -> write-manifest -> swap-HEAD
        section runs under a per-index flock (``_commit_lock``), so
        racing commits serialize instead of clobbering each other's
        version number or moving HEAD backward; readers never lock
        (the atomic HEAD swap remains their only sync point). The
        re-list form is always safe to serialize blindly — it
        snapshots whatever tree it finds. The explicit-``partitions``
        form is NOT: its dict was derived from some version the caller
        read earlier, so pass ``expected_version`` (that version) and
        the commit raises :class:`CommitConflict` if HEAD has moved —
        otherwise a concurrent append's files would silently vanish
        from the new version. Real Iceberg makes the same distinction
        (fast-append vs validate-and-retry rewrites).
        """
        root = IndexManifest._local_root(path)
        with _commit_lock(root):
            return IndexManifest._commit_locked(
                root, key, meta, partitions, expected_version
            )

    @staticmethod
    def _commit_locked(
        root: Path,
        key: str,
        meta: dict | None,
        partitions: dict[str, list[str]] | None,
        expected_version: int | None,
    ) -> "IndexManifest":
        prev = IndexManifest.load(root)
        head_version = prev.version if prev else 0
        if expected_version is not None and head_version != expected_version:
            raise CommitConflict(
                f"HEAD is v{head_version}, expected v{expected_version} at "
                f"{root} — a concurrent commit landed; re-read and re-derive"
            )
        if partitions is None:
            partitions = IndexManifest._disk_files(root, key)
        version = head_version + 1
        manifest = {
            "version": version,
            "key": key,
            "meta": meta if meta is not None else (prev.meta if prev else {}),
            "partitions": partitions,
        }
        publish_manifest(root, manifest, "_manifests", "_HEAD")
        return IndexManifest(
            root, key, manifest["meta"], partitions, version
        )

    @staticmethod
    def partitions_needing_compaction(
        path: str | Path, max_files: int = 1
    ) -> list[str]:
        """Partition values whose HEAD file list exceeds ``max_files``
        — the compaction trigger. Builds land one file per partition
        (``build`` repartitions on the key), but every append adds
        one more, so after N deltas a pruned probe pays N file-opens
        per probed dir again; check this after append bursts the way
        ``ann_index_needs_reindex`` is checked after occupancy
        drift."""
        m = IndexManifest.load(path)
        if m is None:
            raise ValueError(
                f"partitions_needing_compaction: no manifest at {path}"
            )
        return sorted(
            v for v, files in m.partitions.items() if len(files) > max_files
        )

    @staticmethod
    def expire_versions(path: str | Path, keep_last: int) -> int:
        """Metadata GC, the index twin of ``snapshots.expire_snapshots``:
        drop manifest versions older than the newest ``keep_last``.
        HEAD is never touched — the committed version always survives
        (``keep_last`` is clamped to >= 1). Data files are shared
        across versions (appends only ever add), so expiring a
        manifest never orphans data a newer version still points to.
        Files referenced by NO remaining version are reclaimed by
        ``vacuum``."""
        root = IndexManifest._local_root(path)
        manifests = sorted((root / "_manifests").glob("v*.json"))
        to_drop = manifests[: -max(keep_last, 1)]
        for p in to_drop:
            p.unlink()
        return len(to_drop)

    @staticmethod
    def vacuum(path: str | Path, older_than_sec: float = 0.0) -> int:
        """Physical GC (VERDICT r4 #4 — ``expire_versions`` made
        orphans "collectable" but nothing ever collected them): delete
        every data file under the partition tree that NO remaining
        manifest version references, plus writer-temp litter
        (``_temporary`` trees, dot-files) from killed jobs, then prune
        empty partition directories. Only files older than
        ``older_than_sec`` are touched, so an IN-FLIGHT append's
        not-yet-committed files survive a concurrent vacuum (pass a
        retention comfortably above the longest write; 0 only when no
        writer can be active, e.g. tests).

        Liveness = the union of ALL versions still present in
        ``_manifests/`` — run ``expire_versions`` first to shrink it.
        Run a vacuum after any KILLED append before committing again:
        ``commit`` re-lists the tree from scratch, so stray data files
        a crashed job left in partition directories would otherwise be
        swept into the next manifest as if they were committed data.

        Returns the number of files deleted. Readers are never
        affected: every surviving manifest's file set is intact, and
        the probe path resolves files only through manifests."""
        import shutil
        import time

        root = IndexManifest._local_root(path)
        mdir = root / "_manifests"
        live = IndexManifest.all_referenced_files(root)
        key = None
        for mp in sorted(mdir.glob("v*.json")) if mdir.is_dir() else []:
            with open(mp) as f:
                key = json.load(f)["key"]
            break
        if key is None:
            raise ValueError(
                f"vacuum: no manifest versions at {path} — vacuuming a "
                "bare tree would delete ALL its data"
            )
        cutoff = time.time() - older_than_sec
        deleted = 0
        prefix = f"{key}="
        def _tree_mtime(p) -> float:
            # NEWEST mtime anywhere in the tree (SnapshotStore.vacuum's
            # discipline): a task writing deep inside _temporary does
            # not bump the top dir's mtime, so judging by d.stat()
            # alone would delete the staging of any write merely
            # RUNNING longer than the retention window, mid-job.
            # A file vanishing between rglob and stat means a LIVE
            # writer is renaming files out right now — count it as
            # brand-new (tree active), never crash the vacuum on it.
            newest = p.stat().st_mtime
            for f in p.rglob("*"):
                try:
                    if f.is_file():
                        newest = max(newest, f.stat().st_mtime)
                except OSError:
                    newest = time.time()
            return newest

        for d in sorted(root.iterdir()):
            if d.name == "_temporary" and d.is_dir():
                # Spark job-attempt staging from a killed write: never
                # referenced by any manifest, safe past the retention
                if _tree_mtime(d) <= cutoff:
                    shutil.rmtree(d)
                    deleted += 1
                continue
            if d.name == "_staging" and d.is_dir():
                # stage_write trees whose commit_staged never ran (a
                # killed writer): never referenced, safe past retention
                for sub in sorted(d.iterdir()):
                    if sub.is_dir() and _tree_mtime(sub) <= cutoff:
                        shutil.rmtree(sub)
                        deleted += 1
                if not any(d.iterdir()):
                    d.rmdir()
                continue
            if not d.is_dir() or not d.name.startswith(prefix):
                continue
            for f in sorted(d.rglob("*")):
                if not f.is_file():
                    continue
                rel = str(f.relative_to(root))
                is_live = rel in live
                if not is_live and f.name.startswith(".") and f.name.endswith(".crc"):
                    # Hadoop local-FS checksum sidecar (.part-X.crc for
                    # part-X): lives exactly as long as its data file
                    base = f.with_name(f.name[1:-4])
                    is_live = str(base.relative_to(root)) in live
                if is_live or f.stat().st_mtime > cutoff:
                    continue
                f.unlink()
                deleted += 1
            # prune now-empty partition dirs (and empty subdirs first)
            for sub in sorted(d.rglob("*"), reverse=True):
                if sub.is_dir() and not any(sub.iterdir()):
                    sub.rmdir()
            if not any(d.iterdir()):
                d.rmdir()
        return deleted

def compact_index(spark, path: str | Path, max_files: int = 1) -> int:
    """Copy-on-write file compaction — the Iceberg ``rewrite_data_files``
    maintenance action for these indexes, and the append lifecycle's
    missing third verb (build lands ONE file per partition dir, every
    append adds one more; after N crawl deltas a pruned probe pays N
    file-opens per probed dir again).

    For every partition whose HEAD file list exceeds ``max_files``:
    read exactly those files (manifest-resolved, one Spark job for all
    of them), ``stage_write`` the rows into a job-scoped ``_staging``
    tree, and ``commit_staged`` them — the files move into the live
    partition dirs INSIDE the locked commit, which publishes a
    manifest version where the compacted partitions list ONLY the
    fresh files. The superseded files stay on disk for older versions
    (time travel) until ``expire_versions`` + ``vacuum`` reclaim them;
    a crash at ANY point leaves the committed version intact and at
    worst a staging subtree for ``vacuum``.

    Probe results are byte-identical before/after (same rows, fewer
    files); parity is pinned in ``tests/test_index_store.py``. Works
    on any manifest-backed index (pb/bucket/cell/shard) — row order
    within a partition is not part of any probe's contract.

    Returns the number of partitions compacted (0 = nothing to do).
    Safe to run alongside appends: the commit pins
    ``expected_version`` to the manifest this rewrite was derived
    FROM (a concurrent append landing first raises
    :class:`CommitConflict` — catch and re-run), and because every
    writer stages into its own job-scoped tree, neither writer can
    adopt the other's in-flight files (the Iceberg
    write-unique-paths, commit-exact-list discipline)."""
    root = IndexManifest._local_root(path)
    m = IndexManifest.load(root)
    if m is None:
        raise ValueError(f"compact_index: no manifest at {path}")
    values = IndexManifest.partitions_needing_compaction(root, max_files)
    if not values:
        return 0
    files = m.files_for(values)
    stage, staged = IndexManifest.stage_write(
        spark.read.option("basePath", str(root)).parquet(*files), root, m.key
    )
    missing = [v for v in values if v not in staged]
    if missing:
        raise RuntimeError(
            f"compact_index: rewrite produced no files for partitions "
            f"{missing[:5]} at {path} — nothing was committed; the "
            "staging tree is vacuum litter"
        )
    IndexManifest.commit_staged(
        root,
        m.key,
        stage,
        meta=m.meta,
        replace_values=values,
        expected_version=m.version,
    )
    return len(values)
