"""Incremental duplicate-cluster maintenance (the last near-dup stage
that still recomputed from scratch per crawl delta).

``dedup.connected_components`` turns pair evidence into cluster labels,
but at 100 TB the edge set is ~10^10 rows and a daily delta adds a few
million — re-running global CC per delta is the dominant avoidable
cost once candidate generation is incremental
(``lsh_candidates_incremental`` / ``simhash_candidates_incremental`` /
``emb_near_dups_incremental`` produce exactly the delta-touching
edges this module consumes).

The persisted state is one ``IndexManifest``-tracked parquet tree of
``(id, label)`` rows stored under BOTH access paths as composite
partition values:

- ``pb=i{id mod n}``     — lookup "what is this node's label?"
- ``pb=l{label mod n}``  — fetch "all members of this component"

(one flat tree, one manifest, one atomic ``_HEAD``; each node has
exactly two rows — the same store-each-row-per-band trade the banded
indexes make).

An update touches only what the delta touches, because ``label`` is
the component's MIN member id and therefore itself a member: the
``(member, label)`` rows of an affected component are
connectivity-preserving edges, so CC over (delta edges + those rows)
yields exactly the labels a full recompute would give the affected
components — merges can only travel through delta edges, every delta
endpoint's component is pulled in, and unaffected components cannot
change (parity-tested). The rewrite is COPY-ON-WRITE: replacement
rows are staged into a job-scoped tree (``IndexManifest.stage_write``)
and moved + published inside one locked, CAS-guarded commit
(``commit_staged`` with ``expected_version``) — superseded files stay
readable to older manifest versions until ``expire_versions`` +
``vacuum`` reclaim them, and concurrent writers surface as
``CommitConflict`` instead of silent file loss.

Cost per update: O(|delta| + |affected components|) rows read and
rewritten, resolved through one manifest read — never a corpus scan.
Node ids must be integral (the repo-wide convention) and a delta's
"new" nodes must not collide with indexed ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components
from .index_store import IndexManifest, checked_manifest


def _pb(tag: str, col, n: int):
    return F.concat(F.lit(tag), F.pmod(col, F.lit(n)).cast("string"))


def _projected(rows: DataFrame, n: int) -> DataFrame:
    """Both projections of (id, label) rows as one partitioned table."""
    return rows.withColumn("pb", _pb("i", F.col("id"), n)).unionByName(
        rows.withColumn("pb", _pb("l", F.col("label"), n))
    )


def _checked_cc_manifest(path: str):
    return checked_manifest(
        path,
        "pb",
        "cc_labels",
        ("n_subparts",),
        "a cluster-labels store",
        f"no cluster-labels manifest at {path} — build with "
        "build_cluster_labels first",
    )


def _read_pbs(spark, m, pbs) -> DataFrame | None:
    files = m.files_for(pbs)
    if not files:
        return None
    return spark.read.option("basePath", str(m.root)).parquet(*files)


def build_cluster_labels(
    labels: DataFrame,
    path: str,
    n_subparts: int = 256,
    id_col: str = "id",
    label_col: str = "cluster_id",
) -> None:
    """Persist a ``connected_components`` result as the incremental
    cluster store. ``n_subparts`` bounds the fraction of the store an
    update rewrites — size it like ``lsh_subparts_for`` (hold expected
    rows per partition ~constant as the corpus grows)."""
    rows = labels.select(F.col(id_col).alias("id"), F.col(label_col).alias("label"))
    IndexManifest.build(
        _projected(rows, n_subparts),
        path,
        "pb",
        meta={"kind": "cc_labels", "n_subparts": n_subparts},
    )


def read_cluster_labels(spark, path: str) -> DataFrame:
    """The committed labels (by-id projection) as (id, cluster_id)."""
    m = _checked_cc_manifest(path)
    files = m.files_for([v for v in m.partitions if v.startswith("i")])
    return (
        spark.read.option("basePath", str(m.root))
        .parquet(*files)
        .select("id", F.col("label").alias("cluster_id"))
    )


def cc_update_incremental(
    spark,
    new_edges: DataFrame,
    path: str,
    new_nodes: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Updated labels for everything a delta's edges touch, WITHOUT
    re-running CC on the full edge set: resolve the delta endpoints'
    labels from the ``i`` partitions (one manifest read, broadcast
    lookup), fetch the affected components' members from the ``l``
    partitions, then run ``connected_components`` over (delta edges +
    the members' connectivity-preserving ``(id, label)`` rows + a
    self-edge per isolated new node).

    ``new_edges``: (id_a, id_b) pairs from the incremental candidate
    operators — each edge must touch at least one delta node; ids
    absent from the store are treated as NEW nodes. ``new_nodes``:
    optional (id) rows registering edge-less delta docs as singleton
    clusters.

    Returns (id, cluster_id, old_label): EVERY member of every
    affected component plus every new node — ``old_label`` NULL for
    new nodes. Read-only; commit with ``apply_cluster_update``."""
    m = _checked_cc_manifest(path)
    n = int(m.meta["n_subparts"])
    # the delta feeds several consumers — materialize once (small by
    # the operator's premise)
    edges = new_edges.select("id_a", "id_b").localCheckpoint(eager=True)
    eps = edges.select(F.col("id_a").alias("id")).unionByName(
        edges.select(F.col("id_b").alias("id"))
    )
    if new_nodes is not None:
        eps = eps.unionByName(new_nodes.select(F.col("id")))
    eps = eps.distinct().localCheckpoint(eager=True)

    ep_pbs = [
        r["pb"] for r in eps.select(_pb("i", F.col("id"), n).alias("pb")).distinct().collect()
    ]
    by_id = _read_pbs(spark, m, ep_pbs)
    old = (
        None
        if by_id is None
        else by_id.join(F.broadcast(eps), "id").select("id", "label")
    )

    members = None
    if old is not None:
        affected = old.select("label").distinct().localCheckpoint(eager=True)
        lab_pbs = [
            r["pb"]
            for r in affected.select(_pb("l", F.col("label"), n).alias("pb"))
            .distinct()
            .collect()
        ]
        by_label = _read_pbs(spark, m, lab_pbs)
        if by_label is not None:
            members = (
                by_label.join(F.broadcast(affected), "label")
                .select("id", "label")
                .localCheckpoint(eager=True)
            )

    sub = edges
    if members is not None:
        sub = sub.unionByName(
            members.select(F.col("id").alias("id_a"), F.col("label").alias("id_b"))
        )
    if new_nodes is not None:
        sub = sub.unionByName(
            new_nodes.select(F.col("id").alias("id_a"), F.col("id").alias("id_b"))
        )
    cc = connected_components(sub, max_iter=max_iter)

    id_type = dict(cc.dtypes)["id"]
    if members is not None:
        return cc.join(
            members.select("id", F.col("label").alias("old_label")), "id", "left"
        )
    return cc.withColumn("old_label", F.lit(None).cast(id_type))


def apply_cluster_update(spark, updates: DataFrame, path: str) -> None:
    """Commit a ``cc_update_incremental`` result: copy-on-write rewrite
    of exactly the partitions the update touches — the updated ids'
    ``i`` partitions plus the old AND new labels' ``l`` partitions
    (a relabeled node's ``l`` row MOVES partition; both sides are in
    the rewrite set, so survivors of each are preserved). Replacement
    files are staged job-scoped and moved + published in one locked,
    version-CAS'd commit — older versions keep reading the superseded
    files until ``expire_versions`` + ``vacuum``."""
    m = _checked_cc_manifest(path)
    n = int(m.meta["n_subparts"])
    upd = updates.select("id", "cluster_id", "old_label").localCheckpoint(eager=True)
    pbs = {
        r["pb"]
        for r in upd.select(_pb("i", F.col("id"), n).alias("pb")).distinct().collect()
    }
    pbs |= {
        r["pb"]
        for r in upd.select(_pb("l", F.col("cluster_id"), n).alias("pb"))
        .distinct()
        .collect()
    }
    pbs |= {
        r["pb"]
        for r in upd.filter(F.col("old_label").isNotNull())
        .select(_pb("l", F.col("old_label"), n).alias("pb"))
        .distinct()
        .collect()
    }
    pbs = sorted(pbs)

    fresh = _projected(upd.select("id", F.col("cluster_id").alias("label")), n)
    existing = _read_pbs(spark, m, pbs)
    if existing is not None:
        survivors = existing.select("id", "label", "pb").join(
            F.broadcast(upd.select("id")), "id", "left_anti"
        )
        out = survivors.unionByName(fresh)
    else:
        out = fresh
    # staged copy-on-write rewrite: files land under _staging and move
    # into the live dirs inside the locked commit with the exact list
    # published — rewritten pbs are replaced, a pb with no staged rows
    # is dropped from the head, and the CAS on the derivation version
    # turns a concurrent writer into CommitConflict instead of silent
    # file loss
    stage, _ = IndexManifest.stage_write(out, m.root, "pb")
    IndexManifest.commit_staged(
        m.root, "pb", stage, meta=m.meta,
        replace_values=pbs, expected_version=m.version,
    )
