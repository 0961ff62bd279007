"""Snapshot-store utilities: listing (O4), retention (P21), export (S12)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscrape_neko_jirushi_spark.crawl.snapshots import SnapshotStore
from webscrape_neko_jirushi_spark.operators.stats import (
    expire_snapshots,
    export_table,
    list_snapshots,
)

SCHEMA = T.StructType([T.StructField("x", T.LongType())])


def test_snapshot_listing_and_retention(spark, tmp_path):
    store = SnapshotStore(tmp_path / "s", spark)
    for epoch in range(1, 5):
        df = spark.range(epoch).withColumnRenamed("id", "x")
        store.commit(epoch, appends={"t": df})
    snaps = list_snapshots(store)
    assert [s["version"] for s in snaps] == [4, 3, 2, 1]  # newest first
    assert snaps[0]["tables"]["t"] == 4  # four appended dirs

    dropped = expire_snapshots(store, keep_last=2)
    assert dropped == 2
    assert [s["version"] for s in list_snapshots(store)] == [4, 3]
    # HEAD still reads the full table
    assert store.read("t", SCHEMA).count() == 1 + 2 + 3 + 4

    export_table(store, "t", SCHEMA, str(tmp_path / "export"))
    assert spark.read.parquet(str(tmp_path / "export")).count() == 10


def test_snapshot_vacuum_reclaims_orphans_keeps_committed(spark, tmp_path):
    """VERDICT r4 #4: replaces + expire leave unreferenced data dirs,
    killed runs leave never-committed ones — vacuum must delete both
    and leave every committed byte readable."""
    store = SnapshotStore(tmp_path / "s", spark)
    for epoch in range(1, 4):
        # replaces: each epoch's dir supersedes the previous (shrinking
        # frontier pattern), so epochs 1-2 become orphaned history
        df = spark.range(epoch * 10).withColumnRenamed("id", "x")
        store.commit(epoch, replaces={"t": df})
    # kill-mid-commit simulation: a data dir written but never named by
    # any manifest (commit crashes before the HEAD swap)
    orphan = store.root / "data" / "t-000009-deadbeef"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"partial write")

    # all three manifests live -> only the killed run's dir is dead
    assert store.vacuum(older_than_sec=0) == 1
    assert not orphan.exists()

    expire_snapshots(store, keep_last=1)
    n_dirs_before = len(list((store.root / "data").iterdir()))
    assert store.vacuum(older_than_sec=0) == n_dirs_before - 1  # epochs 1-2 go
    assert store.read("t", SCHEMA).count() == 30  # committed state intact
    # retention guard: a fresh (in-flight-looking) orphan survives
    fresh = store.root / "data" / "t-000010-cafebabe"
    fresh.mkdir()
    (fresh / "part-00000.parquet").write_bytes(b"in flight")
    assert store.vacuum(older_than_sec=3600) == 0
    assert fresh.exists()


def test_archive_snapshot_is_consistent_and_restorable(spark, tmp_path):
    """S12 zip backup: the archive carries exactly the current
    manifest's files; unzipping + reading yields the committed rows."""
    import json
    import zipfile

    from webscrape_neko_jirushi_spark.operators.stats import archive_snapshot

    store = SnapshotStore(tmp_path / "st", spark)
    df = spark.range(0, 100).select(F.col("id").cast("long").alias("id"))
    store.commit(1, replaces={"tbl": df})
    out = archive_snapshot(store, str(tmp_path / "backup.zip"))

    dest = tmp_path / "restored"
    with zipfile.ZipFile(out) as z:
        z.extractall(dest)
        names = z.namelist()
    m = json.loads((dest / "manifest.json").read_text())
    assert m["version"] == 1 and list(m["tables"]) == ["tbl"]
    restored_dir = dest / "data" / m["tables"]["tbl"][0]
    got = {r["id"] for r in spark.read.parquet(str(restored_dir)).collect()}
    assert got == set(range(100))
    assert all(n == "manifest.json" or n.startswith("data/") for n in names)


def test_time_travel_read_at(spark, tmp_path):
    """X69: read_at(v) serves each version's exact committed state;
    replaces are versioned too; expired versions raise loudly."""
    import pytest

    store = SnapshotStore(tmp_path / "tt", spark)
    for epoch in range(1, 4):
        df = spark.range(epoch * 10, epoch * 10 + epoch).withColumnRenamed("id", "x")
        store.commit(epoch, appends={"t": df})
    # v4 REPLACES the table with a 1-row state
    store.commit(4, replaces={"t": spark.range(99, 100).withColumnRenamed("id", "x")})

    def vals(v):
        return sorted(r["x"] for r in store.read_at("t", SCHEMA, v).collect())

    assert vals(1) == [10]
    assert vals(2) == [10, 20, 21]
    assert vals(3) == [10, 20, 21, 30, 31, 32]
    assert vals(4) == [99]
    assert sorted(r["x"] for r in store.read("t", SCHEMA).collect()) == [99]
    # the versions() audit surface
    assert [v["version"] for v in store.versions()] == [1, 2, 3, 4]
    assert all(v["tables"] == ["t"] for v in store.versions())
    # after expiry, old versions raise instead of serving HEAD
    expire_snapshots(store, keep_last=1)
    with pytest.raises(ValueError, match="expired or never committed"):
        store.read_at("t", SCHEMA, 2)
    assert vals(4) == [99]
    # vacuum respects surviving-version liveness: v4's data remains
    store.vacuum(0.0)
    assert vals(4) == [99]


def _rows(store, table):
    return sorted(r["x"] for r in store.read(table, SCHEMA).collect())


def test_failed_write_leaves_head_and_tables_unchanged(spark, tmp_path):
    """The commit's tables are written concurrently; one failed write
    re-raises, and the manifest and HEAD do not move."""
    import pytest

    store = SnapshotStore(tmp_path / "s", spark)
    store.commit(
        1,
        appends={"a": spark.range(3).withColumnRenamed("id", "x")},
        replaces={"f": spark.range(5).withColumnRenamed("id", "x")},
    )
    good = spark.range(10, 12).withColumnRenamed("id", "x")
    bad = spark.range(2).select(F.raise_error(F.lit("write failed")).cast("long").alias("x"))
    with pytest.raises(Exception, match="write failed"):
        store.commit(2, appends={"a": good, "b": bad}, replaces={"f": good})
    assert (store.version(), store.epoch()) == (1, 1)
    assert [v["version"] for v in store.versions()] == [1]
    assert _rows(store, "a") == [0, 1, 2]
    assert _rows(store, "f") == [0, 1, 2, 3, 4]
    assert not store.has_data("b")


def test_commit_writes_run_in_callers_job_group(spark, tmp_path):
    """Every write job of a commit carries the caller's job group (and
    with it the job description), though each runs on its own thread."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = SnapshotStore(tmp_path / "s", spark)
    frames = {t: spark.range(n).withColumnRenamed("id", "x") for n, t in enumerate("abc", 1)}
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("snapshot-commit-test", "commit under a job group")
    try:
        store.commit(1, appends={"a": frames["a"], "b": frames["b"]}, replaces={"c": frames["c"]})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("snapshot-commit-test")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    assert [_rows(store, t) for t in "abc"] == [[0], [0, 1], [0, 1, 2]]
