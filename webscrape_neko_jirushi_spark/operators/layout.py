"""Z-order (Morton) data layout — multi-column scan pruning at write
time, the Delta/Iceberg ``OPTIMIZE ZORDER BY`` idea as a first-class
operator. Hash bucketing (``bucketing.py``) co-locates EQUALITY keys;
Z-order co-locates RANGE neighborhoods in SEVERAL columns at once:
interleaving the bits of k columns makes points close in any queried
column land in the same files/row-groups, so parquet min/max stats
prune a box predicate on ANY of the interleaved columns — the layout
fix for "we filter this 100 TB table by host AND by date AND by
size, and can't bucket on all three".

``morton_key`` is pure Column bit arithmetic (the classic
spread-bits magic numbers — 5 shift/mask steps per column, JVM-side
codegen, zero Python) and has a verbatim SQL twin, so the key itself
is oracle-checkable. ``zorder_write`` = ``repartitionByRange`` on the
key (contiguous key intervals per file) + ``sortWithinPartitions``
(contiguous intervals per ROW GROUP — parquet writes min/max stats
per group, so pushed predicates skip inside files too).

Out-of-domain inputs raise mid-plan (``raise_error`` column — a
value past ``bits`` would silently interleave garbage and file
placement would be wrong forever after; the write is the wrong place
to be lenient). Nonnegative ints only; map monotonically (dates ->
days, strings -> dictionary ranks) before interleaving.

Evidence contract (tests/test_layout.py): for a box predicate on
either column, the z-ordered layout touches a FRACTION of the files
a single-column sort touches, returning identical rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# spread the low 32 bits of x so consecutive bits land 2 apart
_SPREAD2 = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread2(x: Column) -> Column:
    # Column.bitwiseOR/AND, not |/& (those are boolean ops in PySpark)
    for shift, mask in _SPREAD2:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def _spread2_sql(e: str) -> str:
    for shift, mask in _SPREAD2:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def _guard(col: Column, name: str, bits: int) -> Column:
    bad = (col < 0) | (col >= F.lit(1 << bits))
    return F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"morton_key: {name} out of [0, 2^{bits}): "),
                col.cast("string"),
            )
        ).cast("long"),
    ).otherwise(col.cast("long"))


def morton_key(a: Column, b: Column, bits: int = 31) -> Column:
    """Interleave the low ``bits`` bits of two nonnegative integer
    columns into one long (a's bits at even positions): the 2-D
    Z-order key. ``bits <= 31`` keeps the result inside a signed
    int64. Out-of-domain values raise (see module docstring)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"morton_key: need 1 <= bits <= 31, got {bits}")
    return _spread2(_guard(a, "a", bits)).bitwiseOR(
        F.shiftleft(_spread2(_guard(b, "b", bits)), 1)
    )


def morton_key_sql(a_expr: str, b_expr: str) -> str:
    """DuckDB twin of ``morton_key`` (same shifts, same masks; the
    domain guard is Spark-side — feed the twin in-domain exprs)."""
    return (
        f"({_spread2_sql(f'CAST({a_expr} AS BIGINT)')}"
        f" | ({_spread2_sql(f'CAST({b_expr} AS BIGINT)')} << 1))"
    )


def zorder_write(
    df: DataFrame,
    path: str,
    a: str,
    b: str,
    n_files: int,
    bits: int = 31,
) -> None:
    """Write ``df`` z-ordered on (a, b): range-partitioned into
    ``n_files`` contiguous morton intervals (one file each), sorted
    within so every parquet row group covers a tight interval —
    min/max stats then prune box predicates on EITHER column."""
    keyed = df.withColumn("_z", morton_key(F.col(a), F.col(b), bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def files_touched(df: DataFrame) -> int:
    """How many distinct files contribute rows to this (filtered)
    scan — the layout-quality probe the tests assert on."""
    return (
        df.select(F.input_file_name().alias("f")).distinct().count()
    )


# ===========================================================================
# X68: equi-depth range layout from the HDR sketch
# ===========================================================================

def equi_depth_bins(
    df: DataFrame, col: str, k: int, sub_bits: int = 10
) -> DataFrame:
    """Adds ``_bin`` — the equi-depth bin (0..k-1) of ``col``, with
    split points from the X57 HDR sketch's k-quantiles rather than
    ``repartitionByRange``'s reservoir SAMPLING: the sketch is exact
    integer counts, so the splits (and therefore the whole layout)
    are DETERMINISTIC across reruns, persistable next to the data,
    and mergeable when the table grows (sketch-merge, then re-derive
    splits — no re-scan). Adjacent quantiles can collapse onto one
    split under heavy repetition (fewer, fatter bins — the honest
    equi-depth answer for skewed data).

    Fully relational: the ≤ k-1 distinct splits fold into ONE sorted
    array literal broadcast back (the ``cms_query`` bounded-table
    shape); ``_bin = size(filter(splits, s -> s <= v))`` is a pure
    map-side column — no driver-side collect anywhere."""
    from .hdr import hdr_build, hdr_quantiles

    if k < 2:
        raise ValueError(f"equi_depth_bins: k must be >= 2, got {k}")
    qs = [i / k for i in range(1, k)]
    splits = (
        hdr_quantiles(hdr_build(df, col, sub_bits), qs)
        .select("estimate")
        .distinct()
    )
    arr = splits.agg(
        F.array_sort(F.collect_list("estimate")).alias("_splits")
    )
    v = F.col(col).cast("long")
    binc = F.size(
        F.filter(F.col("_splits"), lambda s: s <= v)
    ).cast("int")
    return (
        df.join(F.broadcast(arr))
        .withColumn("_bin", binc)
        .drop("_splits")
    )


def equi_depth_bins_sql(col: str, k: int, sub_bits: int = 10) -> str:
    """DuckDB twin of :func:`equi_depth_bins` over a 1-column CTE
    named ``t`` (column ``{col}``): SELECT of (``{col}``, ``_bin``)
    — identical sketch, quantile, and counting arithmetic."""
    from .hdr import hdr_build_sql, hdr_quantiles_sql

    qs = [i / k for i in range(1, k)]
    return f"""
      SELECT d.{col},
             CAST((SELECT COUNT(*) FROM sp WHERE sp.estimate <= CAST(d.{col} AS BIGINT)) AS INTEGER) AS _bin
      FROM t d
    """, f"""sk AS ({hdr_build_sql(col, sub_bits)}),
      qq AS ({hdr_quantiles_sql('SELECT * FROM sk', qs)}),
      sp AS (SELECT DISTINCT estimate FROM qq)"""


def build_range_layout(
    df: DataFrame, path, col: str, k: int, sub_bits: int = 10
):
    """Persist ``df`` directory-partitioned by equi-depth ``_bin``
    (one file per bin dir — the repo-wide small-files rule), with the
    split points pinned in the ``IndexManifest`` meta so a reader
    prunes bins from ONE manifest read (`range_scan`). Deterministic
    layout: same data → byte-identical bin membership (no sampling).
    """
    from .index_store import IndexManifest

    from .hdr import hdr_build, hdr_quantiles

    qs = [i / k for i in range(1, k)]
    # the splits are collected ONCE here (bounded: <= k-1 longs) and
    # pinned in the manifest; bin assignment is then a pure literal
    # fold — the write path pays no broadcast join
    split_vals = sorted(
        r["estimate"]
        for r in hdr_quantiles(hdr_build(df, col, sub_bits), qs)
        .select("estimate")
        .distinct()
        .collect()
    )
    v = F.col(col).cast("long")
    binc = sum(
        (v >= F.lit(int(s))).cast("int") for s in split_vals
    ) if split_vals else F.lit(0)
    binned = df.withColumn("_bin", binc.cast("int"))
    return IndexManifest.build(
        binned,
        path,
        "_bin",
        meta={"kind": "range", "col": col, "k": k, "sub_bits": sub_bits, "splits": split_vals},
    )


def range_scan(spark, path, lo: int, hi: int) -> DataFrame:
    """Rows with ``col`` in ``[lo, hi]`` — bins overlapping the range
    resolve from the manifest's pinned splits (O(bins) metadata, the
    X9 probe discipline), then the exact predicate re-filters (bin
    membership is a superset: split estimates are bucket LOWER
    bounds)."""
    from .index_store import checked_manifest

    m = checked_manifest(
        path, "_bin", "range", ("col", "splits"), "a range-layout",
        f"range_scan: no manifest at {path}",
    )
    splits = list(m.meta["splits"])
    col = m.meta["col"]

    def bin_of(v: int) -> int:
        return sum(1 for s in splits if s <= v)

    # HDR estimates are one-sided (estimate <= true value), so a value
    # equal to a split's TRUE quantile can land one bin higher than
    # bin_of(lo) suggests — widen by one bin each side for safety; the
    # exact filter below makes the scan sound regardless
    b_lo = max(0, bin_of(lo) - 1)
    b_hi = bin_of(hi) + 1
    wanted = [v for v in m.partitions if b_lo <= int(v) <= b_hi]
    files = m.files_for(wanted)
    if not files:
        # empty probe must carry the SAME schema as a non-empty one
        # (all persisted columns + _bin) or downstream selects/joins
        # break only on the no-bin-overlap case; a limit(0) over the
        # live files is schema-only work (one parquet footer read)
        all_files = m.files_for(m.partitions.keys())
        if not all_files:
            return spark.createDataFrame([], schema=f"{col} long, _bin int")
        return (
            spark.read.option("basePath", str(m.root))
            .parquet(*all_files)
            .limit(0)
        )
    df = spark.read.option("basePath", str(m.root)).parquet(*files)
    return df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
