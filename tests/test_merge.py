"""X58 MERGE/upsert: relational semantics, file-pruned COW rewrite,
CAS conflicts, SCD2 history maintenance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import merge as M
from webscrape_neko_jirushi_spark.operators.index_store import (
    CommitConflict,
    IndexManifest,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(1, 21)], "k int, val string, n int"
    )


def test_merge_frames_semantics(spark, base):
    updates = spark.createDataFrame(
        [(5, "UP5", 999), (20, "UP20", 999), (21, "NEW21", 1), (30, "NEW30", 2)],
        "k int, val string, n int",
    )
    deletes = spark.createDataFrame([(7,), (30,), (99,)], "k int")
    out = {r["k"]: (r["val"], r["n"]) for r in M.merge_frames(base, updates, "k", deletes).collect()}
    assert out[5] == ("UP5", 999) and out[20] == ("UP20", 999)   # updated
    assert out[21] == ("NEW21", 1)                               # inserted
    assert 7 not in out                                          # deleted
    assert 30 not in out   # delete beats same-batch insert (matched-delete precedence)
    assert 99 not in out and out[6] == ("v6", 60)                # untouched
    assert len(out) == 20  # 20 - del(7) + new(21)


def test_merge_into_prunes_and_matches_full_recompute(spark, base, tmp_path):
    path = tmp_path / "mt"
    m0 = M.build_merge_table(base, path, "k", n_buckets=8)
    assert m0.version == 1
    # one file per bucket dir (small-files rule)
    assert all(len(fs) == 1 for fs in m0.partitions.values())

    updates = spark.createDataFrame(
        [(5, "UP5", 999), (21, "NEW21", 1)], "k int, val string, n int"
    )
    deletes = spark.createDataFrame([(7,)], "k int")
    res = M.merge_into(spark, path, updates, deletes)
    assert res["version"] == 2
    touched = set(res["touched"])
    assert 0 < len(touched) <= 3  # at most one bucket per touched key

    m1 = IndexManifest.load(path)
    # untouched buckets keep their EXACT file lists (pruning observable)
    for v, files in m0.partitions.items():
        if int(v) not in touched:
            assert m1.partitions[v] == files
    # touched buckets were rewritten (fresh files)
    for v in touched:
        assert m1.partitions.get(str(v), []) != m0.partitions.get(str(v), [])

    got = _rows(M.read_merge_table(spark, path), "k", "val", "n")
    want = _rows(M.merge_frames(base, updates, "k", deletes), "k", "val", "n")
    assert got == want


def test_merge_into_new_bucket_and_empty_delta(spark, tmp_path):
    path = tmp_path / "mt2"
    df = spark.createDataFrame([(1, "a")], "k int, val string")
    M.build_merge_table(df, path, "k", n_buckets=64)
    # a delta whose keys all land in buckets with no existing directory
    ups = spark.createDataFrame([(i, f"n{i}") for i in range(2, 30)], "k int, val string")
    res = M.merge_into(spark, path, ups)
    got = _rows(M.read_merge_table(spark, path), "k", "val")
    assert len(got) == 29 and res["version"] == 2
    # empty delta: version unchanged, no commit
    res2 = M.merge_into(spark, path, ups.limit(0))
    assert res2["version"] == 2 and res2["touched"] == []


def test_merge_into_cas_conflict(spark, base, tmp_path):
    path = tmp_path / "mt3"
    M.build_merge_table(base, path, "k", n_buckets=4)
    ups = spark.createDataFrame([(1, "x", 0)], "k int, val string, n int")
    # simulate a concurrent commit landing between read and commit:
    # bump the manifest version underneath merge_into via monkeypatched
    # stage_write that commits first
    orig = IndexManifest.stage_write

    def racing_stage(df, path_, key_):
        out = orig(df, path_, key_)
        IndexManifest.commit(path_, key_)  # concurrent writer wins
        return out

    IndexManifest.stage_write = staticmethod(racing_stage)
    try:
        with pytest.raises(CommitConflict):
            M.merge_into(spark, path, ups)
    finally:
        IndexManifest.stage_write = staticmethod(orig)


def test_scd2_lifecycle(spark):
    hist0 = M.scd2_init(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
            "k int, seg string, bal double",
        ),
        epoch=0,
    )
    ups1 = spark.createDataFrame(
        [(2, "b", 25.0),      # bal changed -> close + open
         (3, "c", 30.0),      # NULL -> value flip IS a change
         (4, "d", 40.0)],     # new key
        "k int, seg string, bal double",
    )
    h1 = M.scd2_apply(hist0, ups1, "k", ["seg", "bal"], epoch=1)
    rows = {(r["k"], r["valid_from"]): r.asDict() for r in h1.collect()}
    assert rows[(1, 0)]["is_current"] and rows[(1, 0)]["valid_to"] is None
    assert rows[(2, 0)]["valid_to"] == 1 and not rows[(2, 0)]["is_current"]
    assert rows[(2, 1)]["bal"] == 25.0 and rows[(2, 1)]["is_current"]
    assert rows[(3, 0)]["valid_to"] == 1 and rows[(3, 1)]["seg"] == "c"
    assert rows[(4, 1)]["valid_from"] == 1 and rows[(4, 1)]["is_current"]
    assert len(rows) == 6

    # idempotence: re-applying the same values at a later epoch is a no-op
    h2 = M.scd2_apply(h1, ups1, "k", ["seg", "bal"], epoch=2)
    a = {tuple(r) for r in h1.collect()}
    b = {tuple(r) for r in h2.collect()}
    assert a == b


def test_merge_table_readers_refuse_another_index_kind(spark, ann_index):
    ups = spark.createDataFrame([(1, "x")], "k int, val string")
    with pytest.raises(ValueError, match="is not a merge-table index"):
        M.read_merge_table(spark, ann_index)
    with pytest.raises(ValueError, match="is not a merge-table index"):
        M.merge_into(spark, ann_index, ups)
