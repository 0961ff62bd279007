"""MERGE / upsert over the snapshot-managed corpus (SURVEY.md §2.11 X58).

Why the engine needs this: the reference's "update" story is rewriting
whole JSON/dataset files in place (data_manager.py's copy/backup cycle,
reorganize_dataset.py's full rewrite) — at 100 TB a re-fetch of 0.1% of
the corpus cannot pay a full rewrite. This module is the lakehouse
answer (Delta/Iceberg ``MERGE INTO`` re-expressed on the repo's own
manifest machinery):

- :func:`merge_frames` — the pure relational MERGE semantics
  (WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT * /
  optional DELETE set), as an anti-join + union: ONE shuffle, no
  full-outer column coalescing, oracle-expressible in ANSI SQL.
- :func:`build_merge_table` / :func:`read_merge_table` — a hash-bucketed
  (``mb = portable_hash64(key) % n_buckets``) manifest-committed table;
  one file per bucket dir (``IndexManifest.build`` and ``stage_write``
  repartition on the bucket key — the small-files rule every
  pruned-probe index in this repo follows).
- :func:`merge_into` — the FILE-PRUNED copy-on-write MERGE: only the
  buckets that contain an updated/deleted key are read, rewritten to a
  job-scoped staging tree, and swapped in one CAS-protected manifest
  commit (``expected_version`` — a concurrent commit raises
  ``CommitConflict`` instead of silently dropping its files). Untouched
  buckets are never read, never written, and keep their exact file
  lists — the 100-TB property: merge cost ~ touched-bucket bytes, not
  corpus bytes.
- :func:`scd2_apply` — slowly-changing-dimension type 2 history
  maintenance (the "what did this host's robots/quality attributes look
  like at crawl epoch e" question): close changed current rows at
  ``epoch``, open new versions, keep unchanged rows byte-identical.
  Pure DataFrame ops, null-safe change detection, idempotent when the
  update batch carries no changes.

Scale notes: the touched-bucket set is collected to the driver but is
bounded by ``n_buckets`` (metadata-sized, like every probe in
``index_store``), never by row count. The per-bucket rewrite joins
delta-vs-bucket — broadcastable when the delta is small, AQE handles
the rest. Reference parity: data_manager.py:1-120 (backup/update
cycle), complete_pipeline.py (stage re-runs over the same tree).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from .index_store import IndexManifest, checked_manifest

BUCKET_COL = "mb"


def merge_frames(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Relational MERGE: whole-row upsert of ``updates`` into ``target``
    on ``key``, then optional key-set delete.

    Exactly ``(target ANTI JOIN updates) UNION ALL updates`` — matched
    target rows are replaced by their update row (UPDATE SET *),
    unmatched update rows are inserted, and ``deletes`` (a 1-column
    key DataFrame) removes rows last, so deleting a key that the same
    batch also updates deletes it (Delta's matched-delete precedence).
    One shuffle (or a broadcast anti-join when the delta is small —
    AQE decides); no full-outer join, no column coalescing.

    ``updates`` must carry exactly ``target``'s columns (unionByName
    enforces it loudly). Duplicate keys WITHIN ``updates`` are the
    caller's bug, as in Delta — assert upstream when in doubt.
    """
    merged = target.join(
        updates.select(key), on=key, how="left_anti"
    ).unionByName(updates)
    if deletes is not None:
        merged = merged.join(deletes.select(key), on=key, how="left_anti")
    return merged


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """The bucket assignment rule — portable (md5-based) so an external
    engine can recompute which bucket a key lives in from the manifest
    meta alone; `pmod` keeps it non-negative."""
    return df.withColumn(
        BUCKET_COL,
        F.pmod(portable_hash64(F.col(key).cast("string"), salt="mrg"), F.lit(n_buckets)).cast("int"),
    )


def build_merge_table(
    df: DataFrame, path: str | Path, key: str, n_buckets: int
) -> IndexManifest:
    """Write ``df`` as a hash-bucketed, manifest-committed merge table.

    One file per bucket dir (``IndexManifest.build``). The bucket count
    is frozen at build time in the manifest meta, like X18's bucketBy:
    size it for the table's TARGET scale.
    """
    return IndexManifest.build(
        _with_bucket(df, key, n_buckets),
        path,
        BUCKET_COL,
        meta={"kind": "merge", "key": key, "n_buckets": n_buckets, "hash": "portable60/mrg"},
    )


def _checked_merge_table(path: str | Path, missing_msg: str) -> IndexManifest:
    return checked_manifest(
        path, BUCKET_COL, "merge", ("key", "n_buckets"), "a merge-table", missing_msg
    )


def read_merge_table(
    spark: SparkSession, path: str | Path, values=None
) -> DataFrame:
    """Committed rows; restricted to bucket ``values`` when given —
    resolves files from ONE manifest read (O(probed buckets) metadata,
    the property `merge_into` relies on)."""
    m = _checked_merge_table(path, f"read_merge_table: no manifest at {path}")
    files = m.files_for(
        values if values is not None else sorted(m.partitions, key=int)
    )
    if not files:
        raise ValueError(f"read_merge_table: no committed files at {path}")
    df = spark.read.option("basePath", str(m.root)).parquet(*files)
    return df


def merge_into(
    spark: SparkSession,
    path: str | Path,
    updates: DataFrame,
    deletes: DataFrame | None = None,
) -> dict:
    """File-pruned copy-on-write MERGE of a delta into a merge table.

    1. ONE manifest read pins version, key, bucket count.
    2. The delta's touched bucket set is computed distributed and
       collected — bounded by ``n_buckets`` (metadata-sized), never by
       row count.
    3. ONLY the touched buckets' files are read (manifest-resolved);
       `merge_frames` applies the upsert/delete semantics to that
       slice.
    4. The rewritten buckets go to a job-scoped ``_staging`` tree and
       land via ``commit_staged(replace_values=touched,
       expected_version=...)`` — the CAS form: a concurrent commit
       raises ``CommitConflict`` rather than losing files; untouched
       buckets keep their exact file lists (pruning is observable in
       the manifest diff, which the tests assert on).

    Returns ``{"version", "touched", "total_buckets", "rows_written"}``.
    """
    m = _checked_merge_table(path, f"merge_into: no manifest at {path}")
    key = m.meta["key"]
    n_buckets = int(m.meta["n_buckets"])

    up_b = _with_bucket(updates, key, n_buckets)
    del_b = _with_bucket(deletes, key, n_buckets) if deletes is not None else None
    touched_rows = up_b.select(BUCKET_COL)
    if del_b is not None:
        touched_rows = touched_rows.unionByName(del_b.select(BUCKET_COL))
    touched = sorted(r[0] for r in touched_rows.distinct().collect())
    if not touched:
        return {
            "version": m.version,
            "touched": [],
            "total_buckets": len(m.partitions),
            "rows_written": 0,
        }

    files = m.files_for(touched)
    if files:
        target = spark.read.option("basePath", str(m.root)).parquet(*files)
    else:  # all touched buckets are brand-new: nothing to read
        target = up_b.limit(0)
    merged = merge_frames(
        target, up_b, key, deletes=del_b.select(key) if del_b is not None else None
    )

    stage, _staged_files = IndexManifest.stage_write(merged, m.root, BUCKET_COL)
    # delta-sized scan of the staged tree (NOT a re-execution of the plan)
    rows_written = spark.read.parquet(str(stage)).count()
    new_m = IndexManifest.commit_staged(
        m.root,
        BUCKET_COL,
        stage,
        meta=m.meta,
        replace_values=[str(v) for v in touched],
        expected_version=m.version,
    )
    return {
        "version": new_m.version,
        "touched": touched,
        "total_buckets": len(new_m.partitions),
        "rows_written": rows_written,
    }


def scd2_init(df: DataFrame, epoch: int) -> DataFrame:
    """Epoch-0 history: every row current from ``epoch``."""
    return df.select(
        "*",
        F.lit(epoch).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    epoch: int,
) -> DataFrame:
    """One SCD-type-2 maintenance step at ``epoch``.

    ``history`` carries ``key``, ``attrs``, ``valid_from:int``,
    ``valid_to:int (null=open)``, ``is_current:bool``; ``updates``
    carries ``key`` + ``attrs`` (the freshly observed values).

    Semantics (null-safe on every attr — a NULL→value flip IS a
    change):
    - closed rows: current rows whose update differs on ANY attr →
      ``valid_to = epoch``, ``is_current = false``;
    - opened rows: those updates, plus updates for never-seen keys →
      ``valid_from = epoch``, open-ended, current;
    - unchanged current rows and already-closed rows pass through
      byte-identical — re-applying the same batch is a no-op.

    One join on ``key`` (broadcastable delta) + unions; no window.
    """
    cur = history.filter(F.col("is_current"))
    closed_hist = history.filter(~F.col("is_current"))

    changed_pred = None
    for a in attrs:
        p = ~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}"))
        changed_pred = p if changed_pred is None else (changed_pred | p)

    # full_outer keeps: (matched), (current-only), (update-only). A
    # column from the missing side is NULL; classification markers are
    # c.valid_from (never NULL in history rows) and an explicit
    # updates-side flag (attrs themselves may be legitimately NULL).
    u_marker = updates.withColumn("_u", F.lit(True)).alias("u")
    j = cur.alias("c").join(u_marker, on=key, how="full_outer")
    matched = F.col("_u").isNotNull() & F.col("c.valid_from").isNotNull()

    keep_current = j.filter(
        F.col("c.valid_from").isNotNull() & (F.col("_u").isNull() | (matched & ~changed_pred))
    ).select([key] + [F.col(f"c.{a}").alias(a) for a in attrs]
             + [F.col("c.valid_from").alias("valid_from"),
                F.col("c.valid_to").alias("valid_to"),
                F.col("c.is_current").alias("is_current")])

    closing = j.filter(matched & changed_pred).select(
        [key] + [F.col(f"c.{a}").alias(a) for a in attrs]
        + [F.col("c.valid_from").alias("valid_from"),
           F.lit(epoch).cast("int").alias("valid_to"),
           F.lit(False).alias("is_current")]
    )

    opening = j.filter(
        F.col("_u").isNotNull() & (F.col("c.valid_from").isNull() | changed_pred)
    ).select(
        [key] + [F.col(f"u.{a}").alias(a) for a in attrs]
        + [F.lit(epoch).cast("int").alias("valid_from"),
           F.lit(None).cast("int").alias("valid_to"),
           F.lit(True).alias("is_current")]
    )

    return closed_hist.select(
        [key] + attrs + ["valid_from", "valid_to", "is_current"]
    ).unionByName(keep_current).unionByName(closing).unionByName(opening)
