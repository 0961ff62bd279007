"""Z-order layout (operators/layout.py): morton key vs a Python
reference and the DuckDB twin, domain guards, and the pruning
evidence contract — a box predicate on a z-ordered layout touches a
fraction of the files a single-column sort touches."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import layout

N = 1 << 10  # 32 x 32 grid, replicated


def _ref_morton(a: int, b: int) -> int:
    out = 0
    for i in range(32):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


@pytest.fixture(scope="module")
def grid(spark):
    rows = [(i, i % 32, (i * 7) % 32) for i in range(N)]
    return spark.createDataFrame(rows, "id long, x long, y long")


def test_morton_matches_reference(grid):
    got = grid.select(
        "x", "y", layout.morton_key(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _ref_morton(r["x"], r["y"])


def test_morton_duckdb_twin(grid):
    rows = [(i % 32, (i * 7) % 32) for i in range(N)]
    got = [
        r["z"]
        for r in grid.select(
            layout.morton_key(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE g(x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO g VALUES (?, ?)", rows)
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {layout.morton_key_sql('x', 'y')} FROM g"
        ).fetchall()
    ]
    assert sorted(got) == sorted(want)


def test_morton_locality(spark):
    # points in the same 4x4 cell are closer in z than cross-grid pairs
    k00 = _ref_morton(2, 3)
    k01 = _ref_morton(3, 2)
    far = _ref_morton(30, 29)
    assert abs(k00 - k01) < abs(k00 - far)


def test_domain_guard(spark):
    df = spark.createDataFrame([(1 << 31, 0)], "x long, y long")
    with pytest.raises(Exception, match="out of"):
        df.select(layout.morton_key(F.col("x"), F.col("y"))).collect()
    neg = spark.createDataFrame([(-1, 0)], "x long, y long")
    with pytest.raises(Exception, match="out of"):
        neg.select(layout.morton_key(F.col("x"), F.col("y"))).collect()
    with pytest.raises(ValueError, match="bits"):
        layout.morton_key(F.col("x"), F.col("y"), bits=32)


def test_zorder_prunes_both_columns(spark, tmp_path):
    """The evidence contract: a box predicate on EITHER column reads
    fewer files from the z-ordered layout than from a layout sorted
    on the OTHER column, with identical results."""
    n, files = 1 << 14, 16
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 11) % 128).alias("y"),
    )
    zpath = str(tmp_path / "z")
    xpath = str(tmp_path / "xsorted")
    layout.zorder_write(df, zpath, "x", "y", n_files=files, bits=7)
    (
        df.repartitionByRange(files, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )
    z = spark.read.parquet(zpath)
    xs = spark.read.parquet(xpath)
    # box on y: x-sorted layout scatters y everywhere -> ~all files
    pred_y = (F.col("y") >= 8) & (F.col("y") < 16)
    fy_z = layout.files_touched(z.filter(pred_y))
    fy_x = layout.files_touched(xs.filter(pred_y))
    assert fy_z < fy_x, (fy_z, fy_x)
    assert fy_z <= files // 2
    # box on x: z-ordered still prunes (x bits are half the key)
    pred_x = (F.col("x") >= 8) & (F.col("x") < 16)
    fx_z = layout.files_touched(z.filter(pred_x))
    assert fx_z <= files // 2
    # identical rows either way
    a = sorted(r["id"] for r in z.filter(pred_y).collect())
    b = sorted(r["id"] for r in xs.filter(pred_y).collect())
    c = sorted(r["id"] for r in df.filter(pred_y).collect())
    assert a == b == c


# ===========================================================================
# X68: equi-depth range layout
# ===========================================================================

def test_equi_depth_balance_and_determinism(spark):
    from webscrape_neko_jirushi_spark.operators import layout as L

    df = spark.range(0, 10_000).select(F.col("id").alias("v"))
    binned = L.equi_depth_bins(df, "v", 8, sub_bits=10)
    counts = {
        r["_bin"]: r["n"]
        for r in binned.groupBy("_bin").agg(F.count("*").alias("n")).collect()
    }
    assert len(counts) == 8
    # uniform data: every bin within 2x of ideal (HDR bucket rounding)
    ideal = 10_000 / 8
    assert all(n < 2 * ideal for n in counts.values()), counts
    # deterministic: a second derivation is identical (no sampling)
    binned2 = L.equi_depth_bins(df, "v", 8, sub_bits=10)
    assert sorted(map(tuple, binned.collect())) == sorted(
        map(tuple, binned2.collect())
    )


def test_equi_depth_sql_twin(spark):
    import duckdb

    from webscrape_neko_jirushi_spark.operators import layout as L

    df = spark.range(0, 3000).select((F.col("id") * 7 % 1000).alias("v"))
    got = sorted(
        (r["v"], r["_bin"])
        for r in L.equi_depth_bins(df, "v", 4, sub_bits=8).collect()
    )
    sel, ctes = L.equi_depth_bins_sql("v", 4, sub_bits=8)
    con = duckdb.connect()
    con.register("tt", df.toPandas())
    want = sorted(
        (int(a), int(b))
        for a, b in con.execute(
            f"WITH t AS (SELECT v FROM tt), {ctes} {sel}"
        ).fetchall()
    )
    assert got == want


def test_range_layout_prune_and_parity(spark, tmp_path):
    from webscrape_neko_jirushi_spark.operators import layout as L
    from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest

    df = spark.range(0, 20_000).select(F.col("id").alias("v"))
    m = L.build_range_layout(df, tmp_path / "rl", "v", 16, sub_bits=10)
    assert all(len(fs) == 1 for fs in m.partitions.values())  # small-files rule
    out = L.range_scan(spark, tmp_path / "rl", 5000, 6000)
    got = sorted(r["v"] for r in out.select("v").collect())
    assert got == list(range(5000, 6001))
    # pruning: the scan touches a small fraction of the bin files
    assert L.files_touched(out) <= 4 < m.n_files()
    # a probe range hitting NO bins must return the SAME schema as a
    # non-empty probe (all persisted columns + _bin), or downstream
    # selects break only on the no-overlap case
    miss = L.range_scan(spark, tmp_path / "rl", 10_000_000, 10_000_001)
    assert miss.count() == 0
    assert sorted(miss.columns) == sorted(out.columns)
    with pytest.raises(ValueError, match="k must be"):
        L.equi_depth_bins(df, "v", 1)


def test_range_scan_refuses_another_index_kind(spark, ann_index):
    with pytest.raises(ValueError, match="is not a range-layout index"):
        layout.range_scan(spark, ann_index, 0, 10)
