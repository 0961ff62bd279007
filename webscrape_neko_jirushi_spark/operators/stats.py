"""Dataset statistics / retention utilities (SURVEY.md §2 A6, A10, P21,
O4, S12; reference: data_manager.py).

The reference walks directories summing byte sizes, lists backups
newest-first, deletes old backups, and zips archives. Relationally:
rollups over the images table, snapshot listings from the store
manifest, retention predicates, and table exports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crawl.snapshots import SnapshotStore


def dataset_stats(images: DataFrame, group_col: str = "doc_id") -> DataFrame:
    """data_manager.py:27-61: per-cat image count + MB, with grand
    totals and avg images/cat in one ROLLUP pass (A6)."""
    per = images.rollup(group_col).agg(
        F.count("*").alias("n_images"),
        F.round(F.sum("size_bytes") / 1048576.0, 3).alias("total_mb"),
    )
    return per.withColumn(
        group_col, F.coalesce(F.col(group_col), F.lit("<TOTAL>"))
    )


def per_extension_counts(images: DataFrame) -> DataFrame:
    """A10/A4: images per file extension (reorganize_dataset.py:186-188)."""
    ext = F.lower(F.regexp_extract("filename", r"\.([A-Za-z0-9]+)\z", 1))
    return images.groupBy(ext.alias("ext")).agg(F.count("*").alias("n"))


def run_report(
    images: DataFrame,
    yolo: DataFrame | None = None,
    errors: DataFrame | None = None,
    config: dict | None = None,
    max_errors: int = 1000,
) -> DataFrame:
    """D4 (+J7): the pipeline completion report
    (complete_pipeline.py:134-202) as ONE relational row.

    Each stage contributes a single-row aggregate; the merge is a chain
    of broadcast cross joins of 1-row tables (J7's report lookup-join
    shape — the 'join' moves one row, never reshuffles the inputs), and
    the config echo is literal columns. At 100 TB each input aggregate
    is one partial+final pass over its table; the report assembly cost
    is constant.
    """
    report = images.agg(
        F.countDistinct("doc_id").alias("total_cats"),
        F.count("*").alias("total_images"),
    )
    if yolo is not None:
        y = yolo.agg(
            F.sum((F.col("detection_count") > 0).cast("long")).alias(
                "images_with_cats"
            ),
            F.sum((F.col("detection_count") == 0).cast("long")).alias(
                "removed_images"
            ),
            F.round(
                F.avg(F.when(F.col("detection_count") > 0, F.col("avg_confidence"))),
                6,
            ).alias("avg_confidence"),
        )
        report = report.crossJoin(F.broadcast(y))
    if errors is not None:
        # the reference report carries the error STRINGS, not just a
        # count (complete_pipeline.py:164-179 'errors' key). The error
        # table may be DATA-proportional (one row per failed item), so
        # the array is capped: n_errors is the true count, and the
        # report carries the first ``max_errors`` strings in sorted
        # order via a TakeOrderedAndProject (bounded executor memory —
        # an uncapped collect_list over millions of item failures would
        # OOM the final-aggregate task at the 100-TB design point).
        if "error" not in errors.columns:
            raise ValueError(
                "run_report: errors must carry an explicit 'error' column "
                f"(got {errors.columns}) — silently collecting an arbitrary "
                "first column into the report would corrupt it"
            )
        err = F.col("error").cast("string")
        # NULL error strings would make the count and the array describe
        # different row sets (count("*") counts NULL rows, collect_list
        # drops them, and NULLs sort first so they'd also consume limit
        # slots) — restrict both aggregates to the same non-null set
        errors = errors.filter(err.isNotNull())
        cnt = errors.agg(F.count("*").alias("n_errors"))
        top = (
            errors.select(err.alias("_e"))
            .orderBy("_e")
            .limit(max_errors)
            .agg(F.sort_array(F.collect_list("_e")).alias("errors"))
        )
        report = report.crossJoin(F.broadcast(cnt)).crossJoin(F.broadcast(top))
    for k, v in (config or {}).items():
        report = report.withColumn(k, F.lit(v))
    return report


def list_snapshots(store: SnapshotStore) -> list[dict]:
    """O4: backups newest-first (data_manager.py:169-170) — snapshot
    versions from the manifest directory, newest first."""
    import json

    out = []
    for p in sorted((store.root / "manifests").glob("v*.json"), reverse=True):
        with open(p) as f:
            m = json.load(f)
        out.append(
            {
                "version": m["version"],
                "epoch": m["epoch"],
                "tables": {k: len(v) for k, v in m["tables"].items()},
            }
        )
    return out


def expire_snapshots(store: SnapshotStore, keep_last: int) -> int:
    """P21 analog on snapshots: drop manifests older than the newest
    ``keep_last`` (their orphaned data dirs become collectable —
    reclaim them with ``store.vacuum()``).
    HEAD is never touched; the current version always survives."""
    manifests = sorted((store.root / "manifests").glob("v*.json"))
    to_drop = manifests[:-keep_last] if keep_last > 0 else []
    for p in to_drop:
        p.unlink()
    return len(to_drop)


def export_table(store: SnapshotStore, table: str, schema, out_path: str) -> None:
    """S12 archive analog: materialize a table's committed state into a
    single standalone parquet directory (the 'zip the dataset' op)."""
    store.read(table, schema).write.mode("overwrite").parquet(out_path)


def archive_snapshot(store: SnapshotStore, out_zip: str) -> str:
    """S12, the literal form (data_manager.py:80-106 zip backup): one
    zip of the CURRENT manifest's data files + the manifest itself —
    a consistent, self-contained snapshot (orphan dirs from killed runs
    are never included because they are not in the manifest). At real
    scale the parquet+manifest pair IS the archive; this exists for the
    reference's take-a-zip-offline workflow."""
    import json
    import zipfile
    from pathlib import Path

    m = store._head()  # noqa: SLF001
    if m is None:
        raise ValueError("nothing committed yet")
    out = Path(out_zip)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        z.writestr("manifest.json", json.dumps(m))
        for dirs in m["tables"].values():
            for d in dirs:
                base = store.root / "data" / d
                for f in sorted(base.rglob("*")):
                    if f.is_file() and not f.name.startswith("."):
                        # keep subdirectory structure (partitionBy
                        # layouts) — flattening to f.name would collide
                        # identically-named part files across partitions
                        z.write(f, f"data/{d}/{f.relative_to(base)}")
    return str(out)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the audit step between two
    versions of a dataset (yesterday's crawl commit vs today's): one
    row per id seen in EITHER side, classified ``added`` / ``removed``
    / ``changed`` / ``unchanged``, with the content fingerprints of
    both sides (md5 over the null-tagged concat of ``content_cols``,
    so NULL vs empty-string cannot collide and column boundaries
    cannot shift: ``a|NULL`` != ``a\\x1f|``).

    Shape: ONE full-outer shuffle equi-join on ``id_col`` — both
    sides reduced map-side to (id, fingerprint) before the exchange
    (never content bytes through the shuffle; at 100 TB the
    fingerprint join is ~16 bytes/row where the content join would
    move the corpus twice). Aggregate the result for the report
    (``groupBy('change').count()``) or anti-filter ``unchanged`` for
    an incremental downstream run — at scale the diff output IS the
    delta the X15 incremental indexes consume.
    """
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in content_cols
            ],
        )
    )
    o = old.select(F.col(id_col), fp.alias("old_fp"))
    n = new.select(F.col(id_col), fp.alias("new_fp"))
    joined = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") == F.col("new_fp"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(id_col, "old_fp", "new_fp", change.alias("change"))


def key_histogram(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key row counts — the input to every skew decision. One
    hash aggregate; hot keys combine map-side."""
    return df.groupBy(*key_cols).agg(F.count("*").alias("cnt"))


def key_skew_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """ONE-row skew diagnosis of a prospective shuffle/join key — the
    measurement that decides between a plain equi-join, AQE skew
    handling, and explicit salting (the engine's own mitigation
    toolkit: frontier salting in ``crawl/engine``, the ``max_bucket``
    star cap, AQE in ``session``). The reference never joins at scale
    so it never needs this; a 100 TB pipeline runs it BEFORE the
    expensive join, on the cheap key histogram.

    Columns: ``n_rows``, ``n_keys``, ``max_cnt``, ``top1_share``
    (hottest key's row fraction), ``skew_factor`` (max/mean — 1.0 is
    perfectly uniform), ``norm_entropy`` (Shannon entropy of the key
    distribution / ln(n_keys): 1.0 uniform, ->0 degenerate; 1.0 by
    convention for a single key), and ``n_salts`` — the integer
    ``ceil(skew_factor)``, the salt count that levels the hottest key
    to the mean load.

    Scale shape: one hash aggregate to the key histogram (key-sized),
    one 3-scalar aggregate, a 1-row broadcast back, one final
    aggregate over the histogram. The histogram subtree feeds two
    consumers, so Catalyst executes it twice; it is deliberately not
    checkpointed — per the repo's measured rule (see ``bucket_pairs``)
    concurrent duplicate stages often beat a serializing checkpoint,
    and the report stays a pure plan with no job at construction.
    """
    counts = key_histogram(df, key_cols)
    tot = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    p = F.col("cnt") / F.col("n_rows")
    ent = -F.sum(p * F.log(p))
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.min("n_rows").alias("n_rows"),
            F.min("n_keys").alias("n_keys"),
            F.min("max_cnt").alias("max_cnt"),
            ent.alias("_ent"),
        )
        .select(
            "n_rows",
            "n_keys",
            "max_cnt",
            (F.col("max_cnt") / F.col("n_rows")).alias("top1_share"),
            (F.col("max_cnt") * F.col("n_keys") / F.col("n_rows")).alias(
                "skew_factor"
            ),
            F.when(F.col("n_keys") == 1, 1.0)
            .otherwise(F.col("_ent") / F.log(F.col("n_keys").cast("double")))
            .alias("norm_entropy"),
            F.ceil(
                F.col("max_cnt") * F.col("n_keys") / F.col("n_rows")
            ).cast("long").alias("n_salts"),
        )
    )


def hot_keys(df: DataFrame, key_cols: list[str], k: int = 10) -> DataFrame:
    """The k hottest keys with their row share — ordered cnt desc then
    keys asc (total order), planning as TakeOrderedAndProject."""
    counts = key_histogram(df, key_cols)
    tot = counts.agg(F.sum("cnt").alias("n_rows"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            *key_cols,
            "cnt",
            (F.col("cnt") / F.col("n_rows")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(k)
    )
