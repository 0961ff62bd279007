"""Similarity search over embedding columns (training-data pipeline op).

- ``cosine_topk``: brute-force top-k neighbours of one query vector —
  the exactness baseline. One scan, one TakeOrderedAndProject; the dot
  product is a builtin HOF chain (zip_with + aggregate), JVM-side.
- ``lsh_buckets`` / ``ann_topk_lsh``: random-hyperplane LSH — the scale
  path. Probing only the query's bucket turns a full-corpus scan into a
  1/2^bits partition read; signs come from a fixed seeded projection so
  Spark and the oracle agree.
- ``ivf_topk``: IVF-style coarse quantization with deterministic seed
  centroids: assign each vector to nearest of C seeds, probe the
  query's nprobe nearest cells.
- ``build_emb_lsh_index`` / ``emb_near_dups_incremental`` /
  ``append_emb_lsh_index``: the embedding family of the incremental
  near-dup indexes, on the protocol ``dedup``'s module docstring
  states (this module supplies the banding, ``emb_banded``, and the
  cosine verify).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import (
    _append_index,
    _build_index,
    _checked_index,
    _IndexFamily,
    _probe_index,
    bucket_pairs,
    embedding_near_dups,
)
from .index_store import IndexManifest


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_col(vec_col, query: list[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    return _dot(vec_col, q) / (_norm(vec_col) * F.lit(qn))


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine; ties broken by id for determinism."""
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — reproducible in
    any engine without RNG-library parity issues)."""
    planes = []
    state = seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket_col(vec_col, planes: list[list[float]]):
    """Sign bits of projections packed into one long bucket id. The
    projection is quantized to 9 decimals BEFORE the sign test (as is
    every oracle twin): a near-zero projection summed in a different
    order on another engine could otherwise flip the sign bit on one
    side only and diverge the candidate sets."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = F.round(_dot(vec_col, F.array(*[F.lit(float(x)) for x in p])), 9)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i).cast("long")).otherwise(0)
    return bucket


def lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    planes = _hyperplanes(dim, bits, seed)
    return embeddings.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes))


def _round_half_up_9(x: float) -> float:
    """Driver-side twin of Spark's ``F.round(col, 9)``: Spark routes
    doubles through ``BigDecimal.valueOf(x).setScale(9, HALF_UP)``,
    i.e. HALF_UP on the shortest decimal repr — reproduce exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1E-9"), rounding=ROUND_HALF_UP))


def _probe_buckets(
    query: list[float], planes: list[list[float]], multiprobe_hamming: int
) -> list[int]:
    """The query's bucket plus every bucket within ``multiprobe_hamming``
    bit flips — plan-time literals, so the bucket filter can prune."""
    from itertools import combinations

    qbits = 0
    for i, p in enumerate(planes):
        # same 9-decimal quantization as lsh_bucket_col's sign test.
        # Must be HALF_UP to match Spark's F.round (Python round() is
        # banker's half-to-even): on an exact .5e-9 boundary a banker's
        # round could put the query in a different bucket than the same
        # vector gets data-side, silently dropping its bucket-mates.
        if _round_half_up_9(sum(a * b for a, b in zip(query, p))) >= 0:
            qbits |= 1 << i
    probe = [qbits]
    for h in range(1, multiprobe_hamming + 1):
        # all C(bits, h) h-flip neighbours; probe count stays a small
        # plan literal list for the realistic h <= 2, bits <= 24 range
        for flips in combinations(range(len(planes)), h):
            m = 0
            for i in flips:
                m |= 1 << i
            probe.append(qbits ^ m)
    return probe


def multiprobe_sequence(
    query: list[float],
    planes: list[list[float]],
    n_probes: int,
    max_flips: int = 3,
    margin_pool: int = 16,
) -> list[int]:
    """Margin-ranked multi-probe sequence (Lv et al., VLDB'07,
    adapted to hyperplane LSH): the query's home bucket plus the
    ``n_probes - 1`` neighbor buckets with the SMALLEST flip cost,
    where flipping bit i costs the squared query projection onto
    plane i (a near-zero margin means the true neighbors straddle
    that plane, so that flip is cheap AND likely to recover them).

    This replaces the Hamming-ball probe (:func:`_probe_buckets`) at
    scale: a ball of radius 2 over 24 bits scans 301 buckets whether
    they are promising or not; a ranked sequence scans exactly
    ``n_probes``, best-first. Candidate flip sets are every subset of
    <= ``max_flips`` bits among the ``margin_pool`` lowest-margin
    planes — 697 candidates at the defaults, far more than any
    realistic ``n_probes``; the bound fails loudly rather than
    silently under-probing.

    Determinism contract (the DuckDB twin replays this ranking
    bit-for-bit): projections are HALF_UP-rounded to 9 decimals like
    every bucket sign test; pool membership orders by (|proj|, plane
    index); subset scores sum the squared rounded projections in
    increasing plane-index order (IEEE addition order fixed on both
    engines); the HOME bucket is pinned first unconditionally (a
    projection that rounds to exactly 0.0 gives its flip score 0.0,
    which would otherwise tie home and can win the bucket-id
    tie-break — the one case where (score, bucket) ranking would
    probe a neighbor INSTEAD of the query's own bucket); flip
    buckets then rank by (score, bucket id).
    """
    from itertools import combinations

    if n_probes < 1:
        raise ValueError("multiprobe_sequence: n_probes must be >= 1")
    projs = [
        _round_half_up_9(sum(a * b for a, b in zip(query, p))) for p in planes
    ]
    qbits = 0
    for i, s in enumerate(projs):
        if s >= 0:
            qbits |= 1 << i
    pool = sorted(range(len(planes)), key=lambda i: (abs(projs[i]), i))[
        :margin_pool
    ]
    pool.sort()  # combinations emit increasing-index subsets -> fixed sum order
    cands: list[tuple[float, int]] = []
    for h in range(1, max_flips + 1):
        for flips in combinations(pool, h):
            score = 0.0
            m = 0
            for i in flips:
                score += projs[i] * projs[i]
                m |= 1 << i
            cands.append((score, qbits ^ m))
    if n_probes > len(cands) + 1:
        raise ValueError(
            f"multiprobe_sequence: n_probes={n_probes} exceeds the "
            f"{len(cands) + 1} candidates reachable with max_flips="
            f"{max_flips}, margin_pool={margin_pool}; raise those bounds"
        )
    cands.sort(key=lambda t: (t[0], t[1]))
    return [qbits] + [b for _, b in cands[: n_probes - 1]]


def ann_topk_lsh(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
    n_probes: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``multiprobe_hamming`` bit flips of the query's bucket — or, when
    ``n_probes`` is set, exactly the ``n_probes`` best buckets of the
    margin-ranked :func:`multiprobe_sequence` (the scale path: probe
    cost fixed instead of C(bits, h)). With the bucket column
    persisted (``build_ann_index``), the probe becomes a
    partition-pruned scan — use ``ann_topk_indexed`` at scale."""
    dim = len(query)
    planes = _hyperplanes(dim, bits, seed)
    if n_probes is not None:
        probe = multiprobe_sequence(query, planes, n_probes)
    else:
        probe = _probe_buckets(query, planes, multiprobe_hamming)
    bucketed = embeddings.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes))
    pruned = bucketed.filter(F.col("bucket").isin(probe))
    return (
        pruned.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    bits: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH index as a ``bucket``-partitioned parquet
    table: one directory per bucket (2^bits dirs). Probing then reads
    only the probed directories — at 100 TB with bits=8 and
    multiprobe_hamming=1, 9/256 of the corpus instead of all of it.
    Bucket computation is one scan, write is one job; append new
    vectors with ``append_ann_index`` and rebuild when
    ``ann_index_needs_reindex`` fires (the index is derived data).

    The build commits an ``IndexManifest`` pinning per-bucket file
    lists + the build params (dim/bits/seed): a probe then resolves
    its files from ONE manifest read instead of listing the whole
    partition tree — the listing was the entire residual 100x probe
    growth in ``BENCH/DEDUP_SCALE.md``."""
    IndexManifest.build(
        lsh_buckets(embeddings, dim, bits=bits, seed=seed, vec_col=vec_col),
        path,
        "bucket",
        meta={"dim": dim, "bits": bits, "seed": seed},
    )


def append_ann_index(
    embeddings: DataFrame, path: str, vec_col: str = "embedding"
) -> None:
    """Incremental index maintenance: bucket only the NEW vectors with
    the index's recorded (dim, bits, seed) and append their files into
    the existing bucket partitions, then publish a new manifest
    version (atomic ``_HEAD`` swap — a concurrent probe sees the old
    or the new version, never a torn one). Cost is one scan + write of
    the DELTA only; the manifest re-list is write-time metadata work.

    The build params come from the manifest, not arguments — an append
    bucketed with different planes would silently corrupt the index.
    Occupancy drift: appends grow expected bucket occupancy linearly
    while ``bits`` stays fixed; check ``ann_index_needs_reindex``
    after large appends and rebuild at the new size when it fires."""
    m = _checked_manifest(
        path,
        "bucket",
        ["bits", "seed", "dim"],
        missing_msg=(
            f"append_ann_index: no manifest at {path} — build with "
            "build_ann_index first"
        ),
    )
    planes = _hyperplanes(int(m.meta["dim"]), int(m.meta["bits"]), int(m.meta["seed"]))
    stage, _ = IndexManifest.stage_write(
        embeddings.withColumn("bucket", lsh_bucket_col(F.col(vec_col), planes)),
        path,
        "bucket",
    )
    IndexManifest.commit_staged(path, "bucket", stage)


def ann_index_needs_reindex(
    path: str, n_vecs_total: int, target_occupancy: int = 8
) -> bool:
    """Re-index trigger for an appended index: the build sized its
    band bits for the THEN corpus via ``lsh_bits_for``; once the total
    corpus would size to MORE bits, expected occupancy has drifted
    >=2x past target and in-bucket probe/pair work grows with n again
    — rebuild with ``build_ann_index(bits=lsh_bits_for(n_total))``.
    The caller supplies the total count (it knows its append sizes;
    counting here would burn a job per check)."""
    m = _checked_manifest(
        path,
        "bucket",
        ["bits"],
        missing_msg=f"ann_index_needs_reindex: no manifest at {path}",
    )
    return lsh_bits_for(n_vecs_total, target_occupancy) > int(m.meta["bits"])


def _checked_manifest(
    path: str,
    expected_key: str,
    required_meta: list[str],
    kind: str | None = None,
    desc: str | None = None,
    *,
    missing_msg: str,
):
    """Load and VALIDATE the index manifest: probing an ANN index with
    the IVF operator (or vice versa) would silently map probe values
    onto the wrong partition kind and return a confidently wrong
    top-k — fail loudly instead, like the pre-manifest column-mismatch
    AnalysisException did.

    The ONE validator for every index family (ANN/IVF/PQ probes plus
    the banded minhash/simhash/emb-LSH and cluster-label stores —
    five hand-rolled copies drifted before this): ``kind`` pins the
    ``meta['kind']`` tag where a family writes one, ``desc`` names
    the family in the mismatch error, and ``missing_msg`` is the
    family's build-hint error for a path with no manifest (every
    index has one, so a bare path is never probed)."""
    m = IndexManifest.load(path)
    if m is None:
        raise ValueError(missing_msg)
    missing = [k for k in required_meta if k not in m.meta]
    bad_kind = kind is not None and m.meta.get("kind") != kind
    if m.key != expected_key or missing or bad_kind:
        label = desc if desc is not None else repr(expected_key)
        raise ValueError(
            f"index at {path} is not a {label} index "
            f"(manifest key={m.key!r}"
            + (f", kind={m.meta.get('kind')!r}" if kind is not None else "")
            + f", missing meta {missing}) — probe it "
            "with the operator matching its build"
        )
    return m


def _empty_probe_result(spark, m, id_col: str):
    """Empty top-k with the id type taken from the INDEX's own parquet
    footer — a hardcoded long would diverge from non-empty probes on
    string/int32-id indexes and break unionByName across queries."""
    for files in m.partitions.values():
        if files:
            id_type = (
                spark.read.parquet(str(m.root / files[0])).schema[id_col].dataType
            )
            break
    else:  # index with no data files at all: type unknowable
        id_type = T.LongType()
    return spark.createDataFrame(
        [],
        T.StructType(
            [T.StructField(id_col, id_type), T.StructField("cosine", T.DoubleType())]
        ),
    )


def ann_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
    n_probes: int | None = None,
) -> DataFrame:
    """ANN top-k over a persisted ``build_ann_index`` table. Returns
    the same rows as ``ann_topk_lsh`` over the same corpus
    (test-proven).

    The probed buckets' files come from ONE manifest read and Spark is
    handed the explicit file list — O(probed-partitions) metadata,
    zero directory listing — and (bits, seed) are taken from the
    manifest so the probe can never use different planes than the
    build."""
    m = _checked_manifest(
        path,
        "bucket",
        ["bits", "seed", "dim"],
        missing_msg=(
            f"ann_topk_indexed: no manifest at {path} — build with "
            "build_ann_index first"
        ),
    )
    if len(query) != int(m.meta["dim"]):
        # a wrong-dimension query would build DIFFERENT hyperplanes
        # than the index was bucketed with and silently probe wrong
        # buckets — fail loudly, same rationale as _checked_manifest
        raise ValueError(
            f"query dim {len(query)} != index dim {m.meta['dim']} at {path}"
        )
    planes = _hyperplanes(len(query), int(m.meta["bits"]), int(m.meta["seed"]))
    if n_probes is not None:
        probe = multiprobe_sequence(query, planes, n_probes)
    else:
        probe = _probe_buckets(query, planes, multiprobe_hamming)
    files = m.files_for(probe)
    if not files:
        # every probed bucket is empty: no directory was ever
        # written for them, so there is nothing to scan at all
        return _empty_probe_result(spark, m, id_col)
    pruned = spark.read.parquet(*files)
    return (
        pruned.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_bits_for(n_vecs: int, target_occupancy: int = 8) -> int:
    """Band width (sign bits per band) sized to the corpus.

    A FIXED bucket count is the hidden quadratic in hyperplane LSH:
    with b bits per band, expected bucket occupancy is n / 2^b, and
    the candidate-pair count per band grows ~n^2 / 2^b — linear in n
    only if 2^b grows with n. This rule keeps expected occupancy at
    ``target_occupancy`` (so in-bucket pair work per bucket is a small
    constant): b = clamp(ceil(log2(n / target)), 8, 24).

    Recall cost is mild for true near-dups: a cosine-0.999 pair agrees
    on a sign bit with p = 1 - acos(0.999)/pi ~ 0.986, so even a
    24-bit band keeps per-band recall ~0.71 and 4-band OR-recall
    ~0.993; a cosine-0.99 boundary pair drops to ~0.90 OR-recall at
    24 bits — the standard LSH recall/cost trade, tunable via
    ``n_bands``."""
    bits = math.ceil(math.log2(max(n_vecs, 2) / max(target_occupancy, 1)))
    return max(8, min(24, bits))


def md5_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Engine-portable pseudo-random hyperplanes: component (p, j) is
    derived from md5(f"{p}|{j}") exactly as a SQL engine would compute
    ``CAST(CONCAT('0x', substr(md5(CONCAT(p, '|', j)), 1, 15)) AS
    BIGINT) / 2^59 - 1.0`` — so an oracle can regenerate the identical
    planes without sharing literals. j is 1-based (SQL array indexing)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for j in range(1, dim + 1):
            h = int(hashlib.md5(f"{p}|{j}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 59) - 1.0)
        planes.append(row)
    return planes


def banded_lsh_candidates(
    embeddings: DataFrame,
    dim: int,
    n_bands: int = 4,
    bits_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via banded random-hyperplane LSH
    (OR over bands, AND within a band): two vectors are candidates iff
    ALL ``bits_per_band`` sign bits of at least one band agree. The
    band join is a pure equi-join on (band, bucket) — no cross join —
    so the pair space at 100 TB is bounded by bucket occupancy, and
    AQE's skew-join split handles hot buckets' partition imbalance.
    Size ``bits_per_band`` with ``lsh_bits_for(n_vecs)`` — a fixed
    bucket count makes occupancy (and the in-bucket pair count) grow
    with n, which is the quadratic term this plan exists to avoid.
    ``max_bucket`` additionally caps a mega-bucket's OUTPUT size via
    star expansion (see ``dedup.bucket_pairs``) — skew split cannot
    shrink a quadratic pair list. Sign flips from floating-point
    summation order are pair-coherent for proportional vectors, so
    exact-direction duplicates are never lost."""
    banded = emb_banded(embeddings, dim, n_bands, bits_per_band, id_col, vec_col)
    return bucket_pairs(banded, id_col, ["band", "bucket"], max_bucket, materialize)


def emb_banded(
    embeddings: DataFrame,
    dim: int,
    n_bands: int,
    bits_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Explode an embedding table into its banded hyperplane-LSH
    ``(band, bucket)`` rows (md5-derived planes — engine-portable and
    fully determined by ``(dim, n_bands, bits_per_band)``). Shared by
    the self-join candidate search (``banded_lsh_candidates``) and the
    persisted index (``build_emb_lsh_index`` /
    ``emb_near_dups_incremental``) so the two sides of an incremental
    join can never band with different planes. ``keep_vec=True``
    carries the vector through (the index stores it per band row so
    incremental verifies never join back to the corpus)."""
    all_planes = md5_hyperplanes(dim, n_bands * bits_per_band)
    bands = []
    for b in range(n_bands):
        planes = all_planes[b * bits_per_band : (b + 1) * bits_per_band]
        bucket = lsh_bucket_col(F.col(vec_col), planes)
        bands.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    cols = [F.col(id_col)] + ([F.col(vec_col)] if keep_vec else [])
    out = [id_col] + ([vec_col] if keep_vec else []) + ["bb.band", "bb.bucket"]
    return embeddings.select(*cols, F.explode(F.array(*bands)).alias("bb")).select(
        *out
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine). The
    centroid list is tiny (broadcast as literals into the plan).
    Zero-norm vectors take ``ivf_assign_pandas``'s norm guard
    VERBATIM (a 0 norm divides as 1.0 -> every score 0.0 -> cell 0):
    without it the ANSI expression raises DIVIDE_BY_ZERO while the
    pandas path assigns cell 0, so the two assigners
    ``ivf_train_centroids`` auto-selects between would crash-or-
    diverge depending only on n_cells. A NULL embedding raises
    IN-PLAN (the repo's invalid-key convention): silently filing it
    in cell 0 would train on and index a vector that cannot be
    scored — run the X85 embedding_quality_report gate first."""
    null_guard = F.when(
        F.col(vec_col).isNull(),
        F.raise_error(
            F.lit(
                "ivf_assign: NULL embedding — clean the corpus first "
                "(X85 embedding_quality_report is the gate)"
            )
        ),
    )
    vn = _norm(F.col(vec_col))
    vn1 = F.coalesce(
        null_guard, F.when(vn == 0.0, F.lit(1.0)).otherwise(vn)
    )

    def _score(c: list[float]):
        q = F.array(*[F.lit(float(x)) for x in c])
        qn = math.sqrt(sum(x * x for x in c)) or 1.0
        return _dot(F.col(vec_col), q) / (vn1 * F.lit(qn))

    scored = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.array(
            *[
                F.round(_score(c), 9).alias(f"c{i}")
                for i, c in enumerate(centroids)
            ]
        ).alias("scores"),
    )
    return scored.withColumn(
        "cell",
        F.expr("array_position(scores, array_max(scores))").cast("int") - 1,
    ).drop("scores")


def ivf_assign_pandas(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_score: bool = False,
) -> DataFrame:
    """Arrow-batched matmul twin of ``ivf_assign`` — the LARGE-C path.

    ``ivf_assign`` scores centroids as literal Column expressions: the
    expression tree (and per-row interpreted HOF work) grows with C,
    which is fine for the nprobe-style C <= a few hundred but degrades
    for k-means training or IVF layouts with thousands of cells. Here
    the centroid matrix ships once per executor via an explicit Spark
    BROADCAST variable — NOT captured in the UDF closure, which would
    re-serialize the C x dim matrix into every task — and each Arrow
    batch computes all scores in one numpy matmul: O(batch x C x dim)
    vectorized flops, no per-row Python.

    Same contract as ``ivf_assign``, tie-break included: scores are
    HALF_UP-rounded to 9 decimals (numpy's round is banker's — a
    decimal-boundary tie would otherwise flip cells vs the expression
    form) and ties take the LOWEST cell id (argmax returns the first
    maximum). Parity-tested cell-for-cell against ``ivf_assign``.

    ``with_score=True`` additionally emits ``ccos``, the winning
     9-decimal-rounded cosine (``array_max(_scores)`` of the literal
    form) — the order key ``semantic_dedup`` needs."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cnorm[cnorm == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((cmat, cnorm))

    out_schema = T.StructType(
        embeddings.select(id_col, vec_col).schema.fields
        + [T.StructField("cell", T.IntegerType())]
        + ([T.StructField("ccos", T.DoubleType())] if with_score else [])
    )

    def assign(batches):
        cm, cn = bc.value
        for pdf in batches:
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if len(v) == 0:
                empty = pdf.assign(cell=pd.Series([], dtype="int32"))
                if with_score:
                    empty = empty.assign(ccos=pd.Series([], dtype="float64"))
                yield empty
                continue
            vnorm = np.sqrt((v * v).sum(axis=1))
            vnorm[vnorm == 0.0] = 1.0
            scores = (v @ cm.T) / vnorm[:, None] / cn[None, :]
            # HALF_UP at 9 decimals, matching F.round's BigDecimal
            # semantics (np.round is half-to-even): floor(x*1e9 + 0.5)
            # for the non-negative magnitudes cosine can reach, and the
            # sign-symmetric copysign form for negatives
            q = np.floor(np.abs(scores) * 1e9 + 0.5) * np.sign(scores)
            cell = q.argmax(axis=1)
            out = pdf.assign(cell=cell.astype("int32"))
            if with_score:
                # integer-tenth-nanos / 1e9: the correctly-rounded
                # double of the decimal, i.e. F.round's BigDecimal
                # doubleValue — bit-identical to the literal form
                out = out.assign(ccos=q[np.arange(len(q)), cell] / 1e9)
            yield out

    return embeddings.select(id_col, vec_col).mapInPandas(assign, out_schema)


def _probe_cells(
    query: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` cell ids whose centroids are nearest the query —
    driver-side over the tiny centroid list, shared by ``ivf_topk`` and
    ``ivf_topk_indexed`` so the two probes can never diverge (their
    'same rows' contract depends on identical tie-break + rounding)."""

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return dot / (na * nb)

    return sorted(
        range(len(centroids)),
        key=lambda i: (-round(cos(query, centroids[i]), 9), i),
    )[:nprobe]


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only vectors assigned to the ``nprobe`` cells
    whose centroids are nearest the query (computed driver-side over
    the tiny centroid list — plan literals, no extra job). With the
    cell column persisted as a partition key at scale, this prunes the
    scan to nprobe/C of the corpus before the exact cosine top-k."""
    probe = _probe_cells(query, centroids, nprobe)
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    pruned = assigned.filter(F.col("cell").isin([int(p) for p in probe]))
    return (
        pruned.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _sample_for_init(
    embeddings: DataFrame, n: int, seed: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic spread-out sample: the ``n`` vectors with the
    smallest ``xxhash64(id, seed)`` — a uniform pseudo-random sample as
    a TakeOrderedAndProject (ONE job, no RNG state, same rows on every
    run and every partitioning). Ties (hash collisions) break by id."""
    rows = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)), F.col("_id"))
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def _greedy_spread(sample: list[list[float]], n_cells: int) -> list[list[float]]:
    """k-center-style farthest-point init over the (tiny, driver-side)
    sample: start from the sample's first vector, then repeatedly add
    the sample vector whose max cosine to the already-chosen set is
    smallest. Deterministic (ties by sample order, numpy argmin takes
    the first minimum); one matvec per chosen centroid keeps a running
    max-cosine array, so the sweep is O(n_cells * |sample| * dim)
    vectorized flops — a few thousand cells over a
    hundreds-per-cell sample stays sub-second driver work."""
    import numpy as np

    arr = np.asarray(sample, dtype=float)
    norms = np.linalg.norm(arr, axis=1)
    norms[norms == 0.0] = 1.0
    unit = arr / norms[:, None]
    chosen = [0]
    run = unit @ unit[0]  # max cosine to the chosen set, so far
    run[0] = np.inf       # never re-pick a chosen vector
    while len(chosen) < min(n_cells, len(sample)):
        i = int(np.argmin(run))
        chosen.append(i)
        run = np.maximum(run, unit @ unit[i])
        run[i] = np.inf
    return [[float(x) for x in arr[i]] for i in chosen]


def ivf_train_centroids(
    embeddings: DataFrame,
    n_cells: int,
    n_iters: int = 10,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    init_sample: int | None = None,
    tol: float = 1e-4,
    train_sample: int | None = None,
    n_vecs: int | None = None,
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Distributed spherical k-means (Lloyd's) centroid training — the
    missing first-class piece of the IVF story: ``build_ivf_index``
    previously only ever saw caller-supplied seed vectors.

    Everything is DataFrame-shaped and linear in the corpus per round:

    - **init**: one TakeOrderedAndProject job draws a deterministic
      ``init_sample`` (default ``8 * n_cells``) by min-xxhash64, then a
      driver-side greedy farthest-point sweep picks ``n_cells``
      well-spread starters (``_greedy_spread``) — k-means++-quality
      spread without per-step jobs, fully seeded;
    - **assign**: ``ivf_assign`` scores the broadcast centroid literals
      per row (JVM-side HOFs, no Python) — exactly the operator probes
      use, so training and probing can never disagree on metric or
      tie-break;
    - **update**: ``groupBy(cell).agg(count, avg per dimension)`` — one
      partial+final hash aggregate (map-side combine), shuffling
      ``n_cells x dim`` doubles, then ``n_cells`` rows to the driver
      (centroids live driver-side regardless: they enter plans as
      literals). Spherical convention: the un-normalized mean's
      DIRECTION is the cosine-optimal centroid, and ``ivf_assign``'s
      cosine normalizes both sides, so no explicit re-normalization;
    - **convergence**: stop when every centroid's direction moved less
      than ``tol`` (1 - cosine(old, new)) or after ``n_iters`` rounds.
      Empty cells keep their previous centroid (deterministic, no
      respawn jitter).

    Per-round cost: one corpus scan + one C x dim aggregate — linear in
    n, measured at 1x/10x/100x in ``BENCH/DEDUP_SCALE.md``. Callers
    looping many rounds over a hot corpus should ``.persist()`` it
    first; training reads it ``n_iters + 1`` times.

    **``train_sample``** decouples training cost from corpus size — the
    way production IVF training works (centroids are statistics of the
    distribution; a bounded sample of a few hundred vectors per cell
    estimates them as well as the full corpus): when set, Lloyd rounds
    run over a deterministic pseudo-random subset of ~``train_sample``
    vectors, selected by a pure hash-threshold FILTER
    (``xxhash64(id) mod 1e6 < t`` — no global sort, no shuffle, exact
    same rows on any partitioning; size is binomial around the target,
    never exact) and pinned with one ``localCheckpoint`` so the
    ``n_iters + 1`` re-reads scan sample-sized data instead of
    re-filtering the corpus each round. At 100 TB this is the
    difference between per-round cost O(train_sample x C) and O(n x C);
    ``train_sample=256 * n_cells`` is a sound default choice. Pass
    ``n_vecs`` (the corpus row count, if known) to skip the one count
    job that sizes the threshold. Default ``None`` trains on the full
    corpus — exact Lloyd, and what the DuckDB differential twin
    (tests/test_operators.py) pins coordinate-for-coordinate.

    The assign stage
    auto-selects its form: the JVM literal-expression ``ivf_assign``
    up to 128 cells (zero Python, shares the probe operator), the
    Arrow-batched matmul ``ivf_assign_pandas`` above (the expression
    tree and per-row HOF work grow with C; one numpy matmul per batch
    does not) — both parity-tested on cell assignment.

    **``init``** warm-starts Lloyd from caller-supplied centroids and
    skips the min-hash sample + farthest-point sweep entirely — the
    incremental-retraining path (seed the new rounds with the OLD
    index's manifest-pinned centroids after corpus drift, so cells
    move only as far as the data did), and what makes the rounds
    fully reproducible from literals (the driver-level DuckDB Lloyd
    gate unrolls the same init).

    Returns centroids as ``list[list[float]]`` ready for
    ``build_ivf_index`` / ``ivf_topk`` (manifest pinning, appends and
    probes all work unchanged downstream).
    """
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    base = embeddings.select(F.col(id_col), F.col(vec_col))
    if train_sample is not None:
        if train_sample < n_cells:
            raise ValueError(
                f"train_sample={train_sample} < n_cells={n_cells} — "
                "every cell needs at least one training vector"
            )
        if n_vecs is None:
            n_vecs = base.count()
        if train_sample < n_vecs:
            scale = 1_000_000
            thresh = max(1, math.ceil(scale * train_sample / n_vecs))
            # seed+1 decorrelates the subset hash from the min-hash
            # init ordering below (init draws FROM the subset either
            # way, but the two selections shouldn't share a function)
            base = base.filter(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string"), F.lit(seed + 1)),
                    F.lit(scale),
                )
                < F.lit(thresh)
            ).localCheckpoint(eager=True)
    if dim is None:
        # always inferred from the DATA, even with a warm-start init:
        # inferring from init would make a wrong-dimension init
        # unverifiable (the mismatch check below would compare init to
        # itself). Warm-start callers pass dim to skip this one job.
        first = base.select(vec_col).head()
        if first is None:
            raise ValueError("ivf_train_centroids: empty embeddings input")
        dim = len(first[0])

    if init is not None:
        if len(init) != n_cells:
            raise ValueError(
                f"ivf_train_centroids: init has {len(init)} centroids "
                f"for n_cells={n_cells}"
            )
        if any(len(c) != dim for c in init):
            raise ValueError(
                f"ivf_train_centroids: init centroid dim != vector dim {dim}"
            )
        centroids = [[float(x) for x in c] for c in init]
    else:
        sample = _sample_for_init(
            base, max(init_sample or 8 * n_cells, n_cells), seed, id_col, vec_col
        )
        if len(sample) < n_cells:
            raise ValueError(
                f"ivf_train_centroids: corpus has only {len(sample)} vectors "
                f"for {n_cells} cells — every cell needs at least one vector"
            )
        centroids = _greedy_spread(sample, n_cells)

    def _drift(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return 1.0 - dot / (na * nb)

    assigner = ivf_assign if n_cells <= 128 else ivf_assign_pandas
    for _ in range(n_iters):
        assigned = assigner(base, centroids, id_col=id_col, vec_col=vec_col)
        rows = assigned.groupBy("cell").agg(
            F.count("*").alias("_n"),
            *[
                F.avg(F.col(vec_col)[i].cast("double")).alias(f"_d{i}")
                for i in range(dim)
            ],
        ).collect()
        new_centroids = [list(c) for c in centroids]
        for r in rows:
            new_centroids[r["cell"]] = [float(r[f"_d{i}"]) for i in range(dim)]
        max_drift = max(
            _drift(old, new) for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if max_drift <= tol:
            break
    return centroids


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF assignment as a ``cell``-partitioned parquet
    table — the IVF twin of ``build_ann_index``. Probing reads only the
    ``nprobe`` probed cell directories. One scan + one write; rebuild
    on corpus or centroid change (the index is derived data).

    The build commits an ``IndexManifest`` so probes resolve their
    cell files from one manifest read (no partition-tree listing)."""
    # centroids pinned in the manifest (tiny: C x dim floats) so
    # appends can never assign with different cells than the build
    IndexManifest.build(
        ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col),
        path,
        "cell",
        meta={"centroids": [[float(x) for x in c] for c in centroids]},
    )


def append_ivf_index(
    embeddings: DataFrame, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Incremental IVF maintenance, the cell twin of
    ``append_ann_index``: assign only the NEW vectors against the
    manifest's pinned centroids, append their files into the existing
    cell partitions, publish a new manifest version atomically.
    Centroids are derived data too — when the corpus drifts enough
    that assignments would change materially, rebuild with fresh
    centroids (an IVF re-cluster is a full rebuild by definition)."""
    m = _checked_manifest(
        path,
        "cell",
        ["centroids"],
        missing_msg=(
            f"append_ivf_index: no centroid-bearing manifest at {path} — "
            "build with build_ivf_index first"
        ),
    )
    stage, _ = IndexManifest.stage_write(
        ivf_assign(
            embeddings, m.meta["centroids"], id_col=id_col, vec_col=vec_col
        ),
        path,
        "cell",
    )
    IndexManifest.commit_staged(path, "cell", stage)


def ivf_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a persisted ``build_ivf_index`` table: the probed
    cells are computed driver-side over the manifest's pinned
    centroids (the ones the data was assigned with), and their files
    come from ONE manifest read — no partition-tree listing. Returns
    the same rows as ``ivf_topk`` over the same corpus and centroids
    (test-proven)."""
    m = _checked_manifest(
        path,
        "cell",
        ["centroids"],
        missing_msg=(
            f"ivf_topk_indexed: no manifest at {path} — build with "
            "build_ivf_index first"
        ),
    )
    probe = _probe_cells(query, m.meta["centroids"], nprobe)
    files = m.files_for([int(p) for p in probe])
    if not files:
        return _empty_probe_result(spark, m, id_col)
    pruned = spark.read.parquet(*files)
    return (
        pruned.select(
            F.col(id_col),
            F.round(cosine_col(F.col(vec_col), query), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _band_emb_meta(embeddings: DataFrame, m: dict) -> DataFrame:
    return emb_banded(
        embeddings,
        int(m["dim"]),
        int(m["n_bands"]),
        int(m["bits_per_band"]),
        m["id_col"],
        m["vec_col"],
        keep_vec=True,
    )


_EMB_LSH = _IndexFamily(
    kind="emb_lsh_banded",
    desc="banded embedding-LSH",
    label="embedding LSH",
    build_fn="build_emb_lsh_index",
    meta_keys=("dim", "n_bands", "bits_per_band", "id_col", "vec_col", "n_subparts"),
    bucket_col="bucket",
    band=_band_emb_meta,
    n_bands=lambda m: int(m["n_bands"]),
)


def build_emb_lsh_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_bands: int = 4,
    bits_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subparts: int = 64,
) -> None:
    """Persist the banded hyperplane-LSH table — the intermediate of
    ``banded_lsh_candidates``, ``(id, vec, band, bucket)`` — as an
    incremental index (``dedup`` module docstring), so a crawl delta's
    near-dups cost one delta projection instead of re-bucketing the
    whole corpus.

    Each band row stores the full vector — an ``n_bands``-fold storage
    multiplication, deliberately: the incremental cosine verify then
    reads partner vectors from the SAME pb-pruned files its band join
    touches, never the corpus table (a join back to an id-keyed corpus
    would re-introduce a corpus-proportional scan, the cost this index
    exists to delete). The planes are pinned by ``(dim, n_bands,
    bits_per_band)`` in the manifest — md5-derived, so pinning the
    three ints pins the geometry. Size ``bits_per_band`` with
    ``lsh_bits_for`` at build time and rebuild when
    ``emb_lsh_index_needs_reindex`` fires."""
    _build_index(
        _EMB_LSH,
        embeddings,
        path,
        {
            "dim": dim,
            "n_bands": n_bands,
            "bits_per_band": bits_per_band,
            "id_col": id_col,
            "vec_col": vec_col,
            "n_subparts": n_subparts,
        },
    )


def emb_near_dups_incremental(
    spark,
    new_embeddings: DataFrame,
    path: str,
    tau: float = 0.95,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cosine >= ``tau`` near-dup pairs ``(id_a, id_b, cosine)``
    INVOLVING the delta, against a ``build_emb_lsh_index`` table:
    exactly the pairs ``banded_lsh_candidates`` (same ``max_bucket``)
    + ``embedding_near_dups`` over (corpus + delta) emit that touch a
    delta vector. The verify is ``dedup.embedding_near_dups(candidates=
    ...)`` itself, so incremental cosines are bit-identical to the
    full pipeline's. Commit the delta afterwards with
    ``append_emb_lsh_index``."""
    meta, _, cands, vectors = _probe_index(
        spark, _EMB_LSH, new_embeddings, path, max_bucket
    )
    return embedding_near_dups(
        vectors, meta["id_col"], meta["vec_col"], tau, candidates=cands
    )


def append_emb_lsh_index(new_embeddings: DataFrame, path: str) -> None:
    """Commit a delta into the embedding-LSH index, banded with the
    manifest's pinned planes."""
    _append_index(_EMB_LSH, new_embeddings, path)


def emb_lsh_index_needs_reindex(
    path: str, n_vecs_total: int, target_occupancy: int = 8
) -> bool:
    """Occupancy-drift re-index trigger for the banded embedding index
    (the ``ann_index_needs_reindex`` rule applied per band): once the
    grown corpus would size to more bits than the build's
    ``bits_per_band``, expected bucket occupancy — and with it the
    candidate count per delta row — has drifted >= 2x past target;
    rebuild with ``bits_per_band=lsh_bits_for(n_total)``."""
    m = _checked_index(_EMB_LSH, path)
    return lsh_bits_for(n_vecs_total, target_occupancy) > int(m.meta["bits_per_band"])


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN. 100 TB of float32
# embeddings is ~25-100x smaller as PQ codes, which is the difference
# between "the probe scans object storage" and "the probe scans a
# table that fits in cluster memory". No reference analog (its only
# ANN is none at all); standard method per Jegou et al., "Product
# Quantization for Nearest Neighbor Search", IEEE TPAMI 2011.
# ---------------------------------------------------------------------------


def _pq_check_geometry(dim: int, m: int, ksub: int) -> int:
    if dim % m != 0:
        raise ValueError(f"pq: dim={dim} not divisible by m={m} subspaces")
    if not 1 <= ksub <= 256:
        raise ValueError(f"pq: ksub={ksub} outside [1, 256] (codes are bytes)")
    return dim // m


def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 10,
    seed: int = 7,
    train_sample: int = 65_536,
    n_vecs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Train the ``m x ksub`` PQ codebooks (one ksub-center L2 k-means
    per ``dim/m``-wide subspace) on a bounded hash-sampled subset —
    PQ codebooks are distribution statistics exactly like IVF
    centroids, so the ``train_sample`` rationale (and the xxhash64
    threshold-filter mechanics, seed-decorrelated, ``n_vecs`` hint to
    skip the sizing count) carries over from ``ivf_train_centroids``;
    the sample is collected driver-side (id-sorted for determinism —
    a hash filter returns rows in partition order) and all m Lloyd
    loops run as seeded numpy, which is how production PQ trainers
    work: the DISTRIBUTED stage of PQ is encoding the corpus
    (``pq_encode``), never training the 1-2 MB codebook.

    Vectors are unit-normalized before slicing (``normalize=True``),
    so asymmetric L2 over codes ranks like cosine (the family metric)
    — ``pq_topk`` relies on this. ``normalize=False`` trains on the
    vectors AS GIVEN: the IVF-PQ path, where the inputs are residuals
    of already-normalized vectors against their cell centroid and a
    second normalization would destroy the ``v_n = c + r`` identity
    the probe's distance tables assume. Init per subspace is
    ``_greedy_spread`` over the first
    ``8 * ksub`` sample slices; Lloyd assign is argmin squared L2 with
    ties to the lowest code, empty cells keep their center (the
    ``ivf_train_centroids`` conventions). Returns
    ``codebooks[m][ksub][dim/m]``."""
    import numpy as np

    dsub = _pq_check_geometry(dim, m, ksub)
    base = embeddings.select(F.col(id_col), F.col(vec_col))
    if n_vecs is None:
        n_vecs = base.count()
    if train_sample < n_vecs:
        scale = 1_000_000
        thresh = max(1, math.ceil(scale * train_sample / n_vecs))
        base = base.filter(
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string"), F.lit(seed + 1)),
                F.lit(scale),
            )
            < F.lit(thresh)
        )
    rows = base.collect()
    if len(rows) < ksub:
        raise ValueError(
            f"pq_train: only {len(rows)} sampled vectors for ksub={ksub} "
            "centers — every code needs at least one training vector"
        )
    rows.sort(key=lambda r: r[0])
    v = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    if v.shape[1] != dim:
        raise ValueError(f"pq_train: vectors have dim {v.shape[1]}, expected {dim}")
    if normalize:
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        v = v / norms[:, None]

    codebooks: list[list[list[float]]] = []
    for j in range(m):
        sub = v[:, j * dsub : (j + 1) * dsub]
        # exactly ksub centers: the len(rows) >= ksub guard above plus
        # _greedy_spread's min(n_cells, len(sample)) contract
        cents = np.asarray(
            _greedy_spread([list(x) for x in sub[: 8 * ksub]], ksub)
        )
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first minimum = lowest code
            new = cents.copy()
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    new[c] = members.mean(axis=0)
            if np.allclose(new, cents, rtol=0.0, atol=1e-12):
                cents = new
                break
            cents = new
        codebooks.append([[float(x) for x in c] for c in cents])
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-center codes — the
    distributed half of PQ: one Arrow ``mapInPandas`` scan, codebooks
    shipped once per executor via an explicit broadcast (the
    ``ivf_assign_pandas`` pattern), one numpy distance matrix per
    (batch x subspace), no per-row Python. Rows are unit-normalized
    first (the metric contract from ``pq_train``). Assign contract
    mirrors ``ivf_assign``: squared distances HALF_UP-rounded to 9
    decimals, ties to the LOWEST code — pinned against an unrolled
    DuckDB twin in tests/test_pq.py, so an engine can re-derive the
    exact same codes from the codebook alone. Output:
    ``(id_col, *carry_cols, code array<smallint> length m)`` — m bytes
    of payload per vector vs ``4 * dim`` for the float32 embedding.
    ``normalize=False`` encodes the vectors AS GIVEN (the IVF-PQ
    residual path — see ``pq_train``); ``carry_cols`` pass through
    untouched (e.g. the IVF ``cell``) so the caller never re-joins."""
    import numpy as np
    import pandas as pd

    mlen = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    spark = embeddings.sparkSession
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    bc = spark.sparkContext.broadcast(cb)

    out_schema = T.StructType(
        [embeddings.select(id_col).schema.fields[0]]
        + [embeddings.select(c).schema.fields[0] for c in carry_cols]
        + [T.StructField("code", T.ArrayType(T.ShortType()))]
    )

    def encode(batches):
        cbm = bc.value
        for pdf in batches:
            n = len(pdf)
            carried = {c: pdf[c] for c in carry_cols}
            if n == 0:
                yield pd.DataFrame({id_col: pdf[id_col], **carried, "code": []})
                continue
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            if normalize:
                norms = np.linalg.norm(v, axis=1)
                norms[norms == 0.0] = 1.0
                v = v / norms[:, None]
            codes = np.empty((n, mlen), dtype=np.int16)
            for j in range(mlen):
                sub = v[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - cbm[j][None, :, :]) ** 2).sum(axis=2)
                # HALF_UP at 9 decimals (d2 >= 0, so plain floor+0.5),
                # first minimum = lowest code: the ivf_assign contract
                q = np.floor(d2 * 1e9 + 0.5)
                codes[:, j] = q.argmin(axis=1).astype(np.int16)
            yield pd.DataFrame(
                {id_col: pdf[id_col], **carried, "code": [list(c) for c in codes]}
            )

    return embeddings.select(id_col, *carry_cols, vec_col).mapInPandas(
        encode, out_schema
    )


def pq_distance_col(
    code_col, codebooks: list[list[list[float]]], query: list[float]
):
    """Asymmetric PQ distance as a pure Column expression: the driver
    precomputes the ``m x ksub`` table of squared L2 between the
    normalized query's subvectors and every center, flattens it into
    one literal array, and the per-row distance is an m-term
    ``zip_with`` lookup + ``aggregate`` sum — whole-stage-codegen
    JVM work, no Python at probe time, scanning only the code column
    (the probe never touches the original embeddings)."""
    mlen = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if len(query) != mlen * dsub:
        raise ValueError(
            f"pq_distance_col: query dim {len(query)} != m*dsub {mlen * dsub}"
        )
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    q = [x / qn for x in query]
    flat: list[float] = []
    for j in range(mlen):
        sub = q[j * dsub : (j + 1) * dsub]
        for c in codebooks[j]:
            flat.append(sum((a - b) ** 2 for a, b in zip(sub, c)))
    table = F.array(*[F.lit(float(x)) for x in flat])
    terms = F.zip_with(
        code_col,
        F.sequence(F.lit(0), F.lit(mlen - 1)),
        lambda c, j: F.element_at(table, (j * ksub + c.cast("int") + 1)),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance over the code
    table: ascending distance (equivalent to descending cosine for
    the unit-normalized corpus), ties by id, TakeOrderedAndProject —
    the ``cosine_topk`` shape at ~1/32nd the bytes scanned."""
    return (
        codes.select(
            id_col,
            pq_distance_col(F.col("code"), codebooks, query).alias("pq_dist"),
        )
        .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def build_pq_index(
    embeddings: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    n_shards: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ codes as a shard-partitioned parquet table
    under an ``IndexManifest`` with the codebooks pinned in the
    manifest meta — the ``build_ivf_index`` contract: an append can
    never encode with different codebooks than the build, and a probe
    resolves every shard file from ONE manifest read. Shards exist
    for append/manifest mechanics and write parallelism, not pruning:
    a PQ probe scans ALL codes by design (that is what the 25-100x
    compression buys)."""
    IndexManifest.build(
        pq_encode(embeddings, codebooks, id_col, vec_col).withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards)).cast(
                "int"
            ),
        ),
        path,
        "shard",
        meta={
            "codebooks": [
                [[float(x) for x in c] for c in book] for book in codebooks
            ],
            "n_shards": int(n_shards),
        },
    )


def append_pq_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental PQ maintenance: encode only the NEW vectors with
    the manifest's pinned codebooks, append into the existing shard
    partitions, publish a new manifest version atomically. Codebooks
    are distribution statistics — after heavy corpus drift, retrain
    and rebuild (the index is derived data)."""
    m = _checked_manifest(
        path,
        "shard",
        ["codebooks", "n_shards"],
        missing_msg=(
            f"append_pq_index: no codebook-bearing manifest at {path} — "
            "build with build_pq_index first"
        ),
    )
    stage, _ = IndexManifest.stage_write(
        pq_encode(embeddings, m.meta["codebooks"], id_col, vec_col).withColumn(
            "shard",
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")),
                F.lit(int(m.meta["n_shards"])),
            ).cast("int"),
        ),
        path,
        "shard",
    )
    IndexManifest.commit_staged(path, "shard", stage)


def pq_topk_indexed(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ top-k over a persisted ``build_pq_index`` table: codebooks
    AND the full shard file list come from one manifest read (no
    partition-tree listing), then the probe is the same
    TakeOrderedAndProject over the code column as ``pq_topk``."""
    m = _checked_manifest(
        path,
        "shard",
        ["codebooks", "n_shards"],
        missing_msg=f"pq_topk_indexed: no manifest at {path}",
    )
    if len(query) != len(m.meta["codebooks"]) * len(m.meta["codebooks"][0][0]):
        raise ValueError(
            f"pq_topk_indexed: query dim {len(query)} does not match the "
            "index codebook geometry — probing would rank garbage"
        )
    files = m.files_for(m.partitions.keys())
    if not files:
        return _empty_probe_result(spark, m, id_col).select(
            id_col, F.lit(0.0).alias("pq_dist")
        ).limit(0)
    codes = spark.read.parquet(*files)
    return pq_topk(codes, m.meta["codebooks"], query, k, id_col)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + residual product quantization (the FAISS
# IVFPQ layout — Jegou et al. 2011 §IV) composed from the two halves
# above. The 100-TB read path: a probe scans nprobe cell PARTITIONS
# (manifest-resolved, like IVF-flat) of m-smallint CODES (25-100x
# smaller than float32, like PQ-flat) — partition pruning AND
# compression in one index, which is why this is the production
# default everywhere.
# ---------------------------------------------------------------------------

def _normalized_vec(vec_col):
    """Unit-normalize an array column (doubles out), zero-safe."""
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    safe = F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)
    return F.transform(vd, lambda x: x / safe)


def _residual_col(vec_col, cell_col, centroids: list[list[float]]):
    """``v_n - c[cell]`` as a pure Column: the centroid matrix enters
    the plan as one literal array-of-arrays indexed by the row's cell
    (fine for the nprobe-scale C this module targets; a thousands-of-
    cells layout would move this into the ``pq_encode`` Arrow kernel)."""
    cents = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    cent = F.element_at(cents, cell_col.cast("int") + 1)
    return F.zip_with(_normalized_vec(vec_col), cent, lambda x, y: x - y)


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 10,
    seed: int = 7,
    train_sample: int = 65_536,
    n_vecs: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the IVF-PQ index: assign each vector to its nearest
    centroid (``ivf_assign`` — same contract as IVF-flat), train PQ
    codebooks on the RESIDUALS ``v_n - c[cell]`` (``pq_train`` with
    ``normalize=False`` — residuals are already in metric space; the
    probe's distance tables assume ``v_n = c + r`` exactly), encode
    every residual distributedly (Arrow ``pq_encode``, the ``cell``
    carried through so nothing re-joins), and persist
    ``(id, code)`` partitioned by ``cell`` with centroids + codebooks
    + geometry pinned in the manifest — an append can never assign or
    encode differently than the build, and a probe resolves its
    nprobe cells' files from ONE manifest read.

    One file per cell dir, like every ``IndexManifest.build``: a
    probe pays one file-open per file in each probed cell."""
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    res = assigned.select(
        F.col(id_col),
        F.col("cell"),
        _residual_col(F.col(vec_col), F.col("cell"), centroids).alias("_res"),
    )
    books = pq_train(
        res,
        dim,
        m=m,
        ksub=ksub,
        n_iters=n_iters,
        seed=seed,
        train_sample=train_sample,
        n_vecs=n_vecs,
        id_col=id_col,
        vec_col="_res",
        normalize=False,
    )
    IndexManifest.build(
        pq_encode(res, books, id_col, "_res", normalize=False, carry_cols=("cell",)),
        path,
        "cell",
        meta={
            "kind": "ivfpq",
            "dim": dim,
            "m": m,
            "ksub": ksub,
            "centroids": [[float(x) for x in c] for c in centroids],
            "codebooks": books,
        },
    )


def _checked_ivfpq_manifest(path: str):
    m = IndexManifest.load(path)
    if m is None:
        raise ValueError(
            f"no IVF-PQ manifest at {path} — build with build_ivfpq_index "
            "first (probing a bare tree could use different centroids or "
            "codebooks than the data was encoded with)"
        )
    missing = [
        k
        for k in ("kind", "dim", "m", "ksub", "centroids", "codebooks")
        if k not in m.meta
    ]
    if m.key != "cell" or missing or m.meta.get("kind") != "ivfpq":
        raise ValueError(
            f"index at {path} is not an IVF-PQ index (manifest "
            f"key={m.key!r}, kind={m.meta.get('kind')!r}, missing {missing})"
        )
    return m


def append_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF-PQ maintenance: assign + residual-encode only
    the NEW vectors with the manifest's pinned centroids AND
    codebooks, append into the existing cell partitions, publish a
    new manifest version atomically (the ``append_ivf_index`` /
    ``append_pq_index`` contract in one)."""
    m = _checked_ivfpq_manifest(path)
    cents = m.meta["centroids"]
    assigned = ivf_assign(embeddings, cents, id_col=id_col, vec_col=vec_col)
    res = assigned.select(
        F.col(id_col),
        F.col("cell"),
        _residual_col(F.col(vec_col), F.col("cell"), cents).alias("_res"),
    )
    stage, _ = IndexManifest.stage_write(
        pq_encode(
            res, m.meta["codebooks"], id_col, "_res", normalize=False,
            carry_cols=("cell",),
        ),
        path,
        "cell",
    )
    IndexManifest.commit_staged(path, "cell", stage)


def ivfpq_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a persisted IVF-PQ index: the query's
    ``nprobe`` nearest cells come from the pinned centroids
    (``_probe_cells`` — identical tie-break to every other IVF probe),
    their code files from one manifest read, and the ranking is
    asymmetric distance with a PER-CELL lookup table: for probed cell
    ``c`` the driver precomputes the ``m x ksub`` squared-L2 table
    between ``(q_n - centroid[c])``'s subvectors and the residual
    codebooks, all tables enter the plan as one literal map keyed by
    cell, and the per-row distance is the same ``zip_with`` lookup +
    ``aggregate`` fold as ``pq_distance_col`` — pure codegen over
    ``nprobe`` partitions of smallint codes. Ascending distance
    (``v_n = c + r`` makes it rank like cosine), ties by id."""
    m = _checked_ivfpq_manifest(path)
    if len(query) != int(m.meta["dim"]):
        raise ValueError(
            f"ivfpq_topk: query dim {len(query)} != index dim "
            f"{m.meta['dim']} at {path}"
        )
    cents = m.meta["centroids"]
    books = m.meta["codebooks"]
    mlen, ksub = int(m.meta["m"]), int(m.meta["ksub"])
    dsub = len(books[0][0])
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    q = [x / qn for x in query]
    probe = _probe_cells(query, cents, nprobe)

    files = m.files_for(probe)
    if not files:
        return (
            _empty_probe_result(spark, m, id_col)
            .select(id_col, F.lit(0.0).alias("pq_dist"))
            .limit(0)
        )

    map_args = []
    for cell in probe:
        qr = [a - b for a, b in zip(q, cents[cell])]
        flat = []
        for j in range(mlen):
            sub = qr[j * dsub : (j + 1) * dsub]
            for c in books[j]:
                flat.append(sum((a - b) ** 2 for a, b in zip(sub, c)))
        map_args.append(F.lit(int(cell)))
        map_args.append(F.array(*[F.lit(float(x)) for x in flat]))
    tables = F.create_map(*map_args)

    codes = spark.read.option("basePath", str(m.root)).parquet(*files)
    table = tables[F.col("cell").cast("int")]
    terms = F.zip_with(
        F.col("code"),
        F.sequence(F.lit(0), F.lit(mlen - 1)),
        lambda c, j: F.element_at(table, (j * ksub + c.cast("int") + 1)),
    )
    dist = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return (
        codes.select(F.col(id_col), dist.alias("pq_dist"))
        .orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
    query_col: str | None = None,
) -> DataFrame:
    """Recall of an approximate top-k result against the exact one —
    the ANN quality metric AS A QUERY (SURVEY X84), so index
    parameter sweeps (bits, nprobe, multiprobe radius) are measured
    by the engine itself instead of eyeballed in tests.

    ``exact`` / ``approx`` are top-k result tables carrying ``id_col``
    (and ``query_col`` when evaluating many queries at once — per-
    query recall then macro-averages downstream). Returns one row
    (per query): (k, n_overlap, recall) where k = |exact| for that
    query — recall@k against ground truth of the same k. Inner join
    on the id (never a cartesian); both inputs are k-row tables per
    query, so everything is sketch-sized."""
    keys = [query_col] if query_col else []
    e = exact.select(*keys, id_col).distinct()
    a = approx.select(*keys, id_col).distinct()
    hit = e.join(a, [*keys, id_col]).groupBy(*keys).agg(
        F.count("*").alias("n_overlap")
    )
    base = e.groupBy(*keys).agg(F.count("*").alias("k"))
    j = base.join(hit, keys, "left") if keys else base.join(F.broadcast(hit))
    return j.select(
        *keys,
        "k",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        (F.coalesce("n_overlap", F.lit(0)) / F.col("k")).alias("recall"),
    )


def topk_recall_sql(
    exact_sql: str,
    approx_sql: str,
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`topk_recall` (single-query form) over two
    top-k SELECTs."""
    return f"""
      SELECT b.k, COALESCE(h.n_overlap, 0) AS n_overlap,
             COALESCE(h.n_overlap, 0) * 1.0 / b.k AS recall
      FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT DISTINCT {id_col} FROM ({exact_sql}) e0) e
      ) b
      CROSS JOIN (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM (SELECT DISTINCT {id_col} FROM ({exact_sql}) e1) e
        JOIN (SELECT DISTINCT {id_col} FROM ({approx_sql}) a1) a
          USING ({id_col})
      ) h
    """
