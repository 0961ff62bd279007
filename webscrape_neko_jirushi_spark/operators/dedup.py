"""Deduplication operators (SURVEY.md §2.4 A8 + §2.5 W1, extended to
the near-dup family a training-data pipeline needs).

F6 (md5 content hashing) is the builtin ``md5``/portable hash below.
J6 (seed the seen set from already-scraped state) is the engine's
resume path: the committed url_seen table IS the existing-dir set.

The reference's only dedup is exact MD5 grouping with keep-first
(aggressive_cleaning.py:84-91 hash, :170-197 group + keep paths[0]).
Here:

- ``exact_dedup``          keep-first by content hash (W1: deterministic
                           tie-break replaces filesystem scan order)
- ``minhash_signatures``   shingle -> 60-bit portable hashes -> per-band
                           min (MinHash), all builtin HOFs — no Python
- ``lsh_candidate_pairs``  band-bucket self-join -> candidate pairs
- ``simhash64``            64-bit SimHash from token hashes
- ``ngram_jaccard_pairs``  exact n-gram Jaccard: LSH candidates verified
                           over per-doc shingle arrays (the verify stage
                           after LSH); without candidates the shingle
                           explode + self-join finds the pairs
- ``embedding_near_dups``  cosine >= tau pairs via normalized dot product

Scale notes: shingle explode shuffles O(docs * shingles) rows but each
row is (hash, doc_id) — 16 bytes; the band join is an equi-join on
(band, band_hash) so AQE handles bucket skew; exact Jaccard runs only
on LSH candidates (quadratic blowup contained per bucket).

Incremental near-dup indexes: minhash text (``build_lsh_text_index``),
wide simhash (``build_simhash_index``) and embedding LSH
(``similarity.build_emb_lsh_index``) share one build / delta-probe /
append path (``_build_index`` / ``_probe_index`` / ``_append_index``).
A family supplies its banding, bucket column, band count, pinned meta
keys and ``kind`` (an ``_IndexFamily``), and its verify step.

- build: band the corpus, key each row by ``pb = band * n_subparts +
  (bucket mod n_subparts)`` (a bucket lives inside one pb partition)
  and write through ``IndexManifest.build``, whose meta pins the band
  parameters and ``kind``.
- probe: check the manifest, band only the delta with the pinned meta
  (checkpointed once), and scan only the files of its distinct pb
  values (one manifest read). Candidates: the broadcast delta x index
  join plus the delta self-join; with ``max_bucket``,
  ``_capped_incremental_pairs`` (combined corpus + delta occupancy and
  star centre); delta x delta alone on an index with no data. The
  result is exactly the pairs a full rebuild over corpus + delta emits
  that touch the delta (parity-tested per family). Delta ids must be
  disjoint from indexed ids. Cost scales with the delta, not the
  corpus (``BENCH/DEDUP_SCALE.md``).
- verify: simhash (Hamming) and embeddings (cosine) read each
  candidate's signature or vector from the delta and the scanned index
  rows, never the corpus: every partner lives in a scanned file.
- append: band the delta with the pinned meta, then ``stage_write`` +
  ``commit_staged`` (an atomic ``_HEAD`` swap). The probe is read-only;
  ``streaming.dedup_stream`` appends the probe's own banding, so a
  batch is signed once.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from .index_store import IndexManifest, checked_manifest


def exact_dedup(
    df: DataFrame,
    hash_col: str,
    order_cols: list[str],
    keep: str = "first",
) -> DataFrame:
    """Keep-first duplicate elimination (aggressive_cleaning.py:186-197):
    one survivor per hash group, deterministic order."""
    w = Window.partitionBy(hash_col).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_groups(df: DataFrame, hash_col: str, id_col: str) -> DataFrame:
    """A8: hash -> member list + count (collect_list bounded: only for
    reporting at small scale; at 100 TB use exact_dedup directly)."""
    return df.groupBy(hash_col).agg(
        F.sort_array(F.collect_list(id_col)).alias("members"),
        F.count("*").alias("n_members"),
    )


def _normalized(text_col):
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def shingles(text_col, k: int = 5):
    """Word k-shingles of the normalized text as array<string>.

    NOTE (r6): ``text_col`` should be a plain COLUMN when possible —
    the lambda below slices the words array per shingle, and when the
    words are an inline expression (split of a computed string) the
    interpreted HOF evaluator re-derives them PER ELEMENT (no
    common-subexpression cache). :func:`shingles_from_words` over a
    pre-projected words column is the O(tokens) form; use
    :func:`with_shingles` to get both steps right. Measured r6:
    distinct-shingle pass 3.5 s -> 0.5 s on the sf0.1 corpus."""
    return shingles_from_words(F.split(_normalized(text_col), " "), k)


def shingles_from_words(words, k: int = 5):
    """Word k-shingles from an already-computed words array column."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(F.lit(0), n - k))
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, out_col: str = "sh"
) -> DataFrame:
    """``(id, out_col array<string>)`` with the words array PROJECTED
    before the shingle lambda references it (see :func:`shingles` —
    through an attribute each slice is O(k), inline it is O(tokens))."""
    words = F.split(_normalized(F.col(text_col)), " ")
    return df.select(F.col(id_col), words.alias("_words")).select(
        F.col(id_col), shingles_from_words(F.col("_words"), k).alias(out_col)
    )


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Per-doc DISTINCT shingle sets as one array column:
    ``(id, shs array<string>, n_sh)``. The shared upstream of the exact
    verify family — one shingling pass feeds BOTH the MinHash
    signatures (min over distinct shingles == min over all shingles;
    duplicates cannot change a min) and the array-intersect verify of
    candidate pairs (:func:`ngram_jaccard_from_sets`,
    :func:`ngram_jaccard_pairs` and :func:`containment_pairs` with
    ``candidates``), where the row-explode form computes shingles once
    per consumer."""
    return with_shingles(df, text_col, id_col, k).select(
        F.col(id_col), F.array_distinct(F.col("sh")).alias("shs")
    ).withColumn("n_sh", F.size("shs"))


def minhash_signatures_from_shingles(
    sets: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    shingles_col: str = "shs",
) -> DataFrame:
    """:func:`minhash_signatures` over a pre-shingled table (see
    :func:`shingle_sets`) — identical signature values, one shingling
    pass shared with the verify stage instead of recomputed."""

    def _h12(s):
        m = F.md5(s.cast("binary"))
        return F.struct(
            F.conv(F.substring(m, 1, 12), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 13, 12), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
            .alias("h2"),
        )

    hs = F.transform(F.col(shingles_col), _h12).alias("hs")
    sig_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: h["h1"] + F.lit(i) * h["h2"])
        ).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return sets.select(F.col(id_col), hs).select(F.col(id_col), *sig_cols)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 16, k: int = 5
) -> DataFrame:
    """MinHash: signature[i] = min over shingles of h_i(shingle), with
    the Kirsch-Mitzenmacher family h_i = h1 + i*h2 derived from ONE md5
    per shingle (h1/h2 = 48-bit halves of the digest; h1 + 15*h2 < 2^53,
    so the arithmetic is overflow-free and engine-exact). One digest per
    shingle instead of n_hashes — the signature pass is ~n_hashes x
    cheaper. Pure builtin HOFs (transform/array_min), DuckDB-replicable.

    Keep THIS form: the relational alternative (explode shingles ->
    groupBy(16 mins)) measured ~7x SLOWER at 60k docs (7.2 s vs 1.0 s
    warm, identical output values) — the 2.2M-row explode shuffle costs
    far more than the per-row HOF evaluation, and this form is
    shuffle-free (map-side only). The one-agg relational shape wins for
    simhash (60 counters over TOKENS, see ``simhash_signatures``) but
    loses here where the aggregate is 16 mins over SHINGLES.

    r6: the shingle array is built through :func:`with_shingles` (words
    projected before the slice lambda — see :func:`shingles`) and the
    hash/min pipeline is shared with
    :func:`minhash_signatures_from_shingles`; values unchanged."""
    return minhash_signatures_from_shingles(
        with_shingles(df, text_col, id_col, k), id_col, n_hashes, "sh"
    )


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a banded/bucketed table via a
    pure equi-join on ``bucket_cols``. With ``max_bucket`` set, buckets
    whose occupancy exceeds it switch to STAR expansion — every member
    pairs with the bucket's min id only: B-1 edges instead of B(B-1)/2.
    A mega-bucket of near-identical docs (the planted-skew case, or a
    boilerplate page template at 100 TB) would otherwise emit a
    quadratic pair list NO execution engine can absorb — AQE's skew
    split fixes the partition imbalance but not the output size.

    Guarantee — stated precisely: star edges preserve connected-
    component membership for buckets whose members are MUTUALLY
    near-duplicate (the homogeneous mega-buckets that hot-bucket
    skew produces in practice: every member's edge to the min-id
    member survives the downstream verify). For a HETEROGENEOUS
    bucket above ``max_bucket`` — e.g. adversarial band-hash
    collisions mixing unrelated docs with one true dup pair — a pair
    not involving the min-id member gets no candidate edge and is
    traded away; no o(B^2) edge set can avoid that. Random hash
    collisions keep heterogeneous buckets far below any sane
    ``max_bucket`` (expected occupancy n/2^band_bits, see
    ``lsh_bits_for``), which is why the cap only ever fires on the
    homogeneous case. The exhaustive within-mega-bucket pair LIST is
    deliberately traded away either way. The occupancy window
    shuffles on the same key as the join, so no extra exchange shape
    is introduced.

    One physical path: a plain equi-join whose strategy Catalyst
    picks. The self-join reads ``banded`` twice and nothing reuses the
    exchange (0 ReusedExchange), so a lazy upstream (scan ->
    signatures -> banding) runs once per side. The banding entry
    points (``lsh_candidate_pairs``,
    ``similarity.banded_lsh_candidates``) therefore checkpoint the
    banded table before calling this; the index probes pass a
    checkpointed or delta-bounded frame. A checkpoint scan keeps its
    size statistics (Spark 4.1), so ``autoBroadcastJoinThreshold`` is
    the size rule: broadcast while the banded table fits under it,
    sort-merge above it, and no hint can pin a 10^9-row table into
    executor memory. Measured (r5, minhash -> banding -> self-join,
    5 alternating warm reps, local[32]): checkpoint + broadcast
    1.21 s against 1.80 s lazy at 7.5k docs (every paired rep
    faster), a tie (17.6 s against 17.8 s) at 600k docs. The r4 loss,
    checkpoint + sort-merge against a lazy broadcast at sf0.1
    (8.3-10.5 s against 5.3-8.4 s), came from a checkpoint scan that
    then had no statistics. Above the threshold both forms
    sort-merge, and there the checkpoint is slower: 9.1 s against
    8.2 s lazy at 60k docs (local[4], median of 3 alternating reps)."""
    if max_bucket is None:
        small, big = banded, None  # no occupancy window on the uncapped path
    else:
        w = Window.partitionBy(*bucket_cols)
        annotated = banded.withColumn("_bn", F.count("*").over(w)).withColumn(
            "_bmin", F.min(id_col).over(w)
        )
        small = annotated.filter(F.col("_bn") <= max_bucket)
        big = annotated.filter(
            (F.col("_bn") > max_bucket) & (F.col(id_col) != F.col("_bmin"))
        ).select(
            F.col("_bmin").alias("id_a"), F.col(id_col).alias("id_b")
        )
    a = small.select(id_col, *bucket_cols).alias("a")
    b = small.select(id_col, *bucket_cols).alias("b")
    pairs = a.join(
        b,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    if big is not None:
        pairs = pairs.unionByName(big)
    return pairs.distinct()


def _capped_incremental_pairs(
    delta: DataFrame,
    idx: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int,
) -> DataFrame:
    """The CAPPED candidate path of ``_probe_index``: an asymmetric
    delta-x-index equi-join cannot honor ``max_bucket`` (its occupancy
    view is the delta alone, so one boilerplate mega-bucket in the INDEX explodes into
    occupancy-proportional pairs — the exact skew the cap exists to
    absorb), and the cap must use the COMBINED corpus+delta occupancy
    and star center or the result diverges from a full rebuild.

    So: reconstruct the FULL membership of the delta-hit buckets
    (index rows semi-filtered to the delta's buckets + the delta) and
    run the one true ``bucket_pairs`` over it — capping, star
    expansion, and tie-breaks come from the same code the full
    rebuild uses, making parity structural — then keep the pairs
    touching a delta id (corpus-internal pairs were reported when the
    corpus was indexed). Costs one extra self-join over the delta-hit
    buckets' members vs the uncapped asymmetric form; that is the
    price of the cap's occupancy view, and output stays
    star-bounded."""
    members = idx.join(
        F.broadcast(delta.select(*bucket_cols).distinct()),
        list(bucket_cols),
        "left_semi",
    ).unionByName(delta.select(id_col, *bucket_cols))
    allp = bucket_pairs(members, id_col, list(bucket_cols), max_bucket)
    # delta-touch filter as ONE pass over allp (two marker left joins
    # + a disjunction filter): a union of two semi-joins would execute
    # the capped self-join subtree — the dominant cost — twice
    dids = delta.select(id_col).distinct()
    da = dids.select(F.col(id_col).alias("id_a")).withColumn(
        "_ha", F.lit(True)
    )
    db = dids.select(F.col(id_col).alias("id_b")).withColumn(
        "_hb", F.lit(True)
    )
    return (
        allp.join(F.broadcast(da), "id_a", "left")
        .join(F.broadcast(db), "id_b", "left")
        .filter(F.col("_ha").isNotNull() | F.col("_hb").isNotNull())
        .select("id_a", "id_b")
    )


def banded_minhash(
    signatures: DataFrame, id_col: str, n_hashes: int = 16, n_bands: int = 4
) -> DataFrame:
    """The banding step of MinHash-LSH as a standalone table:
    ``(id, band, bh)`` where ``bh`` is the portable hash of the band's
    signature rows. Exposed separately so the banded table can be
    PERSISTED (``build_lsh_text_index``) and joined incrementally."""
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        bh = portable_hash64(F.concat_ws("|", *cols))
        bands.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, "bb.band", "bb.bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join on (band, band_hash): docs
    agreeing on ALL rows of any band become candidate pairs (a < b).
    ``max_bucket`` caps hot buckets via star expansion. The banded
    table is checkpointed (one eager job): the self-join reads it
    twice, and the checkpoint's statistics choose the join (see
    ``bucket_pairs``)."""
    banded = banded_minhash(signatures, id_col, n_hashes, n_bands)
    return bucket_pairs(
        banded.localCheckpoint(eager=True), id_col, ["band", "bh"], max_bucket
    )


def _with_pb(
    banded: DataFrame, n_bands: int, n_subparts: int, bucket_col: str = "bh"
) -> DataFrame:
    """Partition key for a persisted banded table: one value per
    (band, bucket mod n_subparts) — ``n_bands * n_subparts``
    directories. Any (band, bucket) bucket lives entirely inside ONE
    pb partition, so a delta's candidate join only ever needs the pb
    values the delta itself hashes into."""
    return banded.withColumn(
        "pb",
        (
            F.col("band") * n_subparts + F.pmod(F.col(bucket_col), F.lit(n_subparts))
        ).cast("int"),
    )


@dataclass(frozen=True)
class _IndexFamily:
    """What one incremental near-dup family gives the shared protocol
    (module docstring): its banding of a docs/vectors table under the
    pinned meta (``band``: id, payload columns, ``band``,
    ``bucket_col``), its band count, the meta keys a probe needs, and
    the names its errors use."""

    kind: str
    desc: str  # "index at ... is not <desc> index"
    label: str  # "no <label> index manifest at ..."
    build_fn: str
    meta_keys: tuple[str, ...]
    bucket_col: str
    band: Callable[[DataFrame, dict], DataFrame]
    n_bands: Callable[[dict], int]


def _checked_index(fam: _IndexFamily, path: str):
    return checked_manifest(
        path,
        "pb",
        fam.kind,
        fam.meta_keys,
        fam.desc,
        f"no {fam.label} index manifest at {path} — build with "
        f"{fam.build_fn} first (banding a delta against a bare tree "
        "could silently use different band parameters)",
    )


def _index_rows(fam: _IndexFamily, meta: dict, df: DataFrame) -> DataFrame:
    return _with_pb(
        fam.band(df, meta), fam.n_bands(meta), int(meta["n_subparts"]), fam.bucket_col
    )


def _build_index(fam: _IndexFamily, df: DataFrame, path: str, meta: dict) -> None:
    meta = {"kind": fam.kind, **meta}
    IndexManifest.build(_index_rows(fam, meta, df), path, "pb", meta=meta)


def _probe_index(
    spark, fam: _IndexFamily, new: DataFrame, path: str, max_bucket: int | None
) -> tuple[dict, DataFrame, DataFrame, DataFrame]:
    """The delta probe: ``(meta, delta, candidates, payload)``.
    ``meta`` is the manifest's, ``delta`` the checkpointed banded delta
    in index row layout (``_commit_delta`` appends it as is),
    ``candidates`` the ``(id_a, id_b)`` pairs touching the delta, and
    ``payload`` one row of non-band columns per id over the delta and
    the scanned index rows, for a family's verify step."""
    m = _checked_index(fam, path)
    id_col, keys = m.meta["id_col"], ["band", fam.bucket_col]
    # the delta banding feeds every consumer below (pb probe, index
    # join, both sides of the delta self-join, payload) and a streaming
    # append — materialize once; deltas are small by the premise
    delta = _index_rows(fam, m.meta, new).localCheckpoint(eager=True)
    probe_pbs = [r["pb"] for r in delta.select("pb").distinct().collect()]
    files = m.files_for(probe_pbs)
    d = delta.select(id_col, *keys)
    payload = delta.drop(*keys, "pb")
    if not files:  # an index with no data: only delta-delta pairs
        cands = bucket_pairs(d, id_col, keys, max_bucket)
    else:
        idx = spark.read.option("basePath", str(m.root)).parquet(*files)
        # every cross partner lives in a scanned file by construction
        payload = payload.unionByName(idx.drop(*keys, "pb"))
        if max_bucket is not None:
            cands = _capped_incremental_pairs(
                d, idx.select(id_col, *keys), id_col, keys, max_bucket
            )
        else:
            cross = (
                F.broadcast(d)
                .join(idx.select(F.col(id_col).alias("_idx_id"), *keys), keys)
                .filter(F.col(id_col) != F.col("_idx_id"))
                .select(
                    F.least(F.col(id_col), F.col("_idx_id")).alias("id_a"),
                    F.greatest(F.col(id_col), F.col("_idx_id")).alias("id_b"),
                )
            )
            within = bucket_pairs(d, id_col, keys, None)
            cands = cross.unionByName(within).distinct()
    return m.meta, delta, cands, payload.dropDuplicates([id_col])


def _commit_delta(path: str, delta: DataFrame, meta_update: dict | None = None) -> None:
    """Append already-banded index rows: files land under ``_staging``
    and move into the live pb dirs inside the locked commit, with the
    exact list published — no tree re-list, nothing for a concurrent
    writer to adopt."""
    stage, _ = IndexManifest.stage_write(delta, path, "pb")
    IndexManifest.commit_staged(path, "pb", stage, meta_update=meta_update)


def _append_index(
    fam: _IndexFamily, new: DataFrame, path: str, meta_update: dict | None = None
) -> None:
    m = _checked_index(fam, path)
    _commit_delta(path, _index_rows(fam, m.meta, new), meta_update)


def lsh_subparts_for(n_docs: int, rows_per_part: int = 100_000) -> int:
    """``n_subparts`` sized to the corpus (the ``lsh_bits_for``
    discipline applied to the text index): hold expected rows per pb
    partition ~constant so (a) a delta's bucket coverage stays SPARSE
    — the pb-pruned incremental scan reads ~|delta bands| partitions'
    worth of data, not a fixed fraction of the corpus — and (b)
    partition files stay a useful size. A FIXED n_subparts would make
    every partition grow with n and the incremental scan silently
    corpus-proportional again."""
    import math

    sub = 2 ** math.ceil(math.log2(max(n_docs / max(rows_per_part, 1), 1)))
    return max(16, min(4096, int(sub)))


def _band_minhash_meta(docs: DataFrame, m: dict) -> DataFrame:
    n_hashes = int(m["n_hashes"])
    sigs = minhash_signatures(docs, m["text_col"], m["id_col"], n_hashes, int(m["k"]))
    return banded_minhash(sigs, m["id_col"], n_hashes, int(m["n_bands"]))


_MINHASH = _IndexFamily(
    kind="minhash_banded",
    desc="a banded-minhash text",
    label="LSH text",
    build_fn="build_lsh_text_index",
    meta_keys=("n_hashes", "n_bands", "k", "id_col", "text_col", "n_subparts"),
    bucket_col="bh",
    band=_band_minhash_meta,
    n_bands=lambda m: int(m["n_bands"]),
)


def build_lsh_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    k: int = 5,
    n_subparts: int = 256,
) -> None:
    """Persist the banded MinHash signature table — the intermediate of
    ``lsh_candidate_pairs``, ``(id, band, bh)`` with ``bh`` the
    bucket — as an incremental index (module docstring).

    Why: at 100 TB the dominant avoidable cost of running near-dup
    detection on a daily crawl delta is RE-SIGNING THE WHOLE CORPUS —
    shingle + md5 + minhash over every historical document, every day.
    With the banded table persisted, ``lsh_candidates_incremental``
    signs only the delta. The band params (n_hashes/n_bands/k/
    n_subparts) are pinned in the manifest so an append can never band
    with different hash functions than the build."""
    _build_index(
        _MINHASH,
        docs,
        path,
        {
            "n_hashes": n_hashes,
            "n_bands": n_bands,
            "k": k,
            "id_col": id_col,
            "text_col": text_col,
            "n_subparts": n_subparts,
        },
    )


def lsh_candidates_incremental(
    spark,
    new_docs: DataFrame,
    path: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b)`` INVOLVING the delta,
    against a ``build_lsh_text_index`` table: exactly the pairs a full
    ``lsh_candidate_pairs`` over (corpus + delta), with the same
    ``max_bucket``, emits that touch a delta doc. No verify step.
    Commit the delta afterwards with ``append_lsh_text_index``; the
    two-step (query, then append) keeps this function read-only."""
    return _probe_index(spark, _MINHASH, new_docs, path, max_bucket)[2]


def append_lsh_text_index(
    new_docs: DataFrame, path: str, meta_update: dict | None = None
) -> None:
    """Commit a delta into the banded-minhash index. ``meta_update``
    merges extra keys into the manifest meta in the same atomic commit
    — the streaming layer stores its replay watermark
    (``last_stream_epoch``) this way, making "delta is in the index"
    and "epoch is done" one atomic fact (the build params themselves
    stay pinned: updates may add keys, not reband)."""
    _append_index(_MINHASH, new_docs, path, meta_update)


def simhash64(text_col, k_tokens_hash_bits: int = 60):
    """SimHash: sign-sum of token-hash bits. Implemented with builtin
    HOFs: per bit position, count tokens with that bit set vs total;
    bit set in the result when majority. 60-bit (portable hash width)."""
    words = F.split(_normalized(text_col), " ")
    hashes = F.transform(
        words,
        lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    n = F.size(hashes)

    # bit positions unrolled as literal masks (shift amounts must be
    # plan-time constants); single-arg lambda REQUIRED — a two-arg
    # lambda would be interpreted as the (element, index) HOF form
    def bit_pred(mask):
        return lambda h: h.bitwiseAND(mask) != 0

    out = F.lit(0).cast("long")
    for i in range(k_tokens_hash_bits):
        mask = F.lit(1 << i).cast("long")
        set_count = F.size(F.filter(hashes, bit_pred(mask)))
        out = out + F.when(set_count * 2 > n, mask).otherwise(F.lit(0).cast("long"))
    return out


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_bits: int = 60
) -> DataFrame:
    """Relational one-pass SimHash (same signature values as
    ``simhash64``): explode tokens (one md5 per token), then all
    ``n_bits`` majority counters in a SINGLE partial+final hash
    aggregate. The HOF form (``simhash64``) scans the token-hash array
    once per bit — 60 array traversals per doc and a giant expression
    tree recomputed on each side of a self-join; this form does one
    scan, one shuffle by doc, and the aggregate output is reusable."""
    words = F.split(_normalized(F.col(text_col)), " ")
    tok_hash = F.conv(
        F.substring(F.md5(F.col("_tok").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    # explode_outer: a NULL text yields one NULL-token row instead of
    # vanishing — all bit-sums stay NULL, every majority test is false,
    # and the doc gets signature 0 exactly like the HOF form
    ex = df.select(F.col(id_col), F.explode_outer(words).alias("_tok")).select(
        F.col(id_col), tok_hash.alias("_h")
    )
    aggs = [F.count("*").alias("_n")] + [
        F.sum(F.shiftright("_h", i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
        for i in range(n_bits)
    ]
    counted = ex.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        sim = sim + F.when(
            F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return counted.select(F.col(id_col), sim.alias("simhash"))


def _overlap_from_sets(
    sets: DataFrame, candidates: DataFrame, id_col: str
) -> DataFrame:
    """Shingle overlap of candidate pairs over DISTINCT shingle sets
    (:func:`shingle_sets`): ``(id_a, id_b, n_common, n_a, n_b)``.
    Each pair is hydrated with its two shingle ARRAYS (two equi-joins
    by id) and intersected per pair with the codegen builtin
    ``array_intersect`` — whole-set overlap per record pair, the
    LCJoin shape, instead of joining shingle rows. Pairs that share no
    shingle are dropped, as the shingle equi-join of
    :func:`_shingle_overlap` never produces them (this matters only at
    a threshold of 0).

    Per-pair cost is O(|A|+|B|) as in the row form, but each doc's set
    moves once per side as one array cell: two exchanges instead of
    the row form's five (explode -> distinct -> join by id -> join by
    (id, shingle) -> count), and no shingle-row blowup between them.

    No join hint: the statistics of ``sets`` choose each hydration
    join — a broadcast of the set table while it fits under
    ``autoBroadcastJoinThreshold`` (0.85 MB at sf0.1), a shuffle of
    the candidates by id above it."""
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("shs").alias("_sh_a"),
        F.col("n_sh").cast("long").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("shs").alias("_sh_b"),
        F.col("n_sh").cast("long").alias("n_b"),
    )
    return (
        candidates.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sh_a", "_sh_b"))
            .cast("long")
            .alias("n_common"),
            "n_a",
            "n_b",
        )
        .filter(F.col("n_common") > 0)
    )


def _shingle_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    candidates: DataFrame | None,
) -> DataFrame:
    """``(id_a, id_b, n_common, n_a, n_b)`` for the pairs that share at
    least one distinct word k-shingle — the core of the exact verify
    family (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`).

    With ``candidates`` the pairs are the candidate pairs, verified over
    lazy :func:`shingle_sets` (:func:`_overlap_from_sets`). Without,
    the distinct shingle rows are exploded and self-joined on the
    shingle (``id_a < id_b``): that equi-join is what finds the pairs,
    which arrays cannot."""
    if candidates is not None:
        return _overlap_from_sets(
            shingle_sets(df, text_col, id_col, k), candidates, id_col
        )
    ex = (
        with_shingles(df, text_col, id_col, k)
        .select(F.col(id_col), F.explode("sh").alias("sh"))
        .distinct()
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _jaccard_pairs(overlap: DataFrame, min_jaccard: float) -> DataFrame:
    return (
        overlap.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_jaccard: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact word k-shingle Jaccard |A∩B| / (|A|+|B|-|A∩B|) over
    distinct shingle sets: ``(id_a, id_b, n_common, jaccard)`` for the
    pairs at or above ``min_jaccard``. ``candidates`` (``id_a, id_b``,
    e.g. from LSH) bounds the pair space at scale and is verified over
    per-doc shingle arrays; without it the shingle self-join finds the
    pairs (``id_a < id_b``). See :func:`_shingle_overlap`. Builds a
    plan only: no job runs until the result is executed. ``id_col``
    must be unique."""
    return _jaccard_pairs(
        _shingle_overlap(df, text_col, id_col, k, candidates), min_jaccard
    )


def ngram_jaccard_from_sets(
    sets: DataFrame,
    candidates: DataFrame,
    id_col: str,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Candidate-pair exact Jaccard verify over pre-built DISTINCT
    shingle sets (:func:`shingle_sets`): the candidate path of
    :func:`ngram_jaccard_pairs` for a caller that already holds the
    sets — the driver query checkpoints them, since its MinHash
    signatures read them too, and the checkpoint's statistics choose
    each hydration join (:func:`_overlap_from_sets`)."""
    return _jaccard_pairs(_overlap_from_sets(sets, candidates, id_col), min_jaccard)


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_containment: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-duplication: shingle-set CONTAINMENT
    ``c(A in B) = |A ∩ B| / |A|`` — the quote/superset detector
    Jaccard-based dedup structurally misses (a short document quoted
    verbatim inside a long one has containment ~1.0 but Jaccard
    ~|A|/|B|, far below any LSH band's reach when B is much larger;
    Broder 1997 distinguishes resemblance from containment for
    exactly this case). A training pipeline needs it to catch
    syndicated excerpts, quote farms, and documents subsumed by
    longer revisions.

    Output: one row per pair with ``n_common``, both set sizes, both
    directed containments, and the pair kept when EITHER direction
    clears ``min_containment``. Same overlap core as
    :func:`ngram_jaccard_pairs` (:func:`_shingle_overlap`); only the
    final ratio differs. ``id_col`` must be unique.

    ``candidates`` bounds the pair space at scale; note the candidate
    SOURCE must be containment-aware — Jaccard-LSH bands under-recall
    asymmetric pairs BY DESIGN, so feed pairs from a shared-gram index
    (``substrings.duplicated_kgram_spans``), a one-sided min-k gram
    sample of the smaller side, or a low-band LSH; the exact verify
    here is agnostic to where pairs came from. Without candidates the
    shingle self-join is exact and fine up to ~10^5 docs (the
    ngram_jaccard contract)."""
    c_ab = F.col("n_common") / F.col("n_a")
    c_ba = F.col("n_common") / F.col("n_b")
    return (
        _shingle_overlap(df, text_col, id_col, k, candidates)
        .withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= F.lit(float(min_containment))
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            "containment_a_in_b",
            "containment_b_in_a",
        )
    )


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.95,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Cosine >= tau pairs. Brute-force cross join at small scale;
    at 100 TB pre-bucket with ``similarity.lsh_buckets`` and pass the
    bucket pairs as ``candidates``.

    The candidate path hydrates both pair sides with plain equi-joins
    over the lazy normed vector table: no checkpoint and no broadcast
    hint, so the joins stay shuffle joins that scale with the corpus
    (Catalyst/AQE may still broadcast a small table). A checkpoint
    plus hinted-broadcast variant was A/B'd in r6 at 2.4k vectors with
    no stable win, and its forced broadcast is unsafe at scale."""
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    e = embeddings.select(
        F.col(id_col), F.col(vec_col), norm.alias("nrm")
    )
    if candidates is not None:
        # Candidate-driven verify: hydrate both sides of each candidate
        # pair with two equi-joins — the quadratic pair space never
        # materializes. (A semi-join after a theta-join would still plan
        # the theta-join; the restriction must be structural.)
        ea = e.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("_vec_a"),
            F.col("nrm").alias("_nrm_a"),
        )
        eb = e.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("_vec_b"),
            F.col("nrm").alias("_nrm_b"),
        )
        pairs = (
            candidates.select("id_a", "id_b").join(ea, "id_a").join(eb, "id_b")
        )
        va, vb = F.col("_vec_a"), F.col("_vec_b")
        na, nb = F.col("_nrm_a"), F.col("_nrm_b")
    else:
        a = e.alias("a")
        b = e.alias("b")
        pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("_vec_a"),
            F.col(f"b.{vec_col}").alias("_vec_b"),
            F.col("a.nrm").alias("_nrm_a"),
            F.col("b.nrm").alias("_nrm_b"),
        )
        va, vb = F.col("_vec_a"), F.col("_vec_b")
        na, nb = F.col("_nrm_a"), F.col("_nrm_b")
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (dot / (na * nb)).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster assignment over near-dup candidate pairs: connected
    components by min-label propagation (the step that turns pair
    evidence into duplicate GROUPS at scale). Pure DataFrame joins —
    each round is one equi-join + one min-aggregate (+ one cheap sum
    scan for convergence), converging in O(component diameter) rounds
    (near-dup clusters are star-like, so 2-4 in practice).
    ``localCheckpoint`` truncates the iterative lineage so the plan
    stays O(1) per round instead of compounding.

    Returns (id, cluster_id) where cluster_id = min member id.
    """
    # checkpoint the EDGE LIST first and derive everything from it:
    # the upstream pipeline (typically minhash -> LSH -> jaccard
    # verify, the expensive part of a clusters query) executes exactly
    # once. (Round 3 checkpointed labels and sym independently, each
    # re-running the whole candidate pipeline — measured as ~2x the
    # candidate cost on the 100x leg of BENCH/DEDUP_SCALE.md.)
    directed = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    sym = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint(eager=True)
    converged = False
    # convergence detection rides the label monotonicity: each node's
    # label is min(self, neighbours) so labels only ever DECREASE, and
    # sum(label) is strictly smaller iff any node changed — one agg
    # scan over the just-checkpointed labels instead of a
    # new-vs-old equi-join per round
    # decimal(38,0) sum: labels are arbitrary int64 ids (xxhash64 ids
    # elsewhere in the repo), and an int64 SUM over ~2^63-scale labels
    # overflows (ANSI raise / wrap) — decimal keeps the monotone-sum
    # convergence proxy sound for any label domain, still one agg scan
    _lsum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(_lsum).collect()[0]["s"]
    # max_iter propagation rounds PLUS one verification round: a graph
    # whose final labels settle exactly on round max_iter still needs a
    # zero-change pass to be observed as converged
    for _ in range(max_iter + 1):
        msgs = sym.join(labels, sym["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "label"
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(_lsum).collect()[0]["s"]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # a silent partial result would split one duplicate cluster into
        # several ids and leak duplicates downstream — refuse instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def _band_widths(n_bits: int, n_bands: int) -> list[int]:
    base, extra = divmod(n_bits, n_bands)
    return [base + (1 if i < extra else 0) for i in range(n_bands)]


def simhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    max_hamming: int = 6,
    n_bits: int = 60,
) -> DataFrame:
    """Exact Hamming-ball pair search WITHOUT a cartesian product.

    Pigeonhole: split the ``n_bits`` signature into ``max_hamming + 1``
    contiguous bands — any pair within ``max_hamming`` bit flips agrees
    exactly on at least one band. Explode (band, chunk), equi-join on it
    (AQE-skew-safe), with the
    ``bit_count(xor) <= max_hamming`` verify evaluated INSIDE the join
    as a residual condition: a band bucket of B mutually-similar docs
    emits B(B-1)/2 collision probes, and filtering them during the
    probe (guide §2.3 — shuffle fewer bytes) keeps the non-pair volume
    out of the downstream distinct exchange entirely (r6 measured:
    25M probe hits -> 300k rows into distinct on the sf0.1 corpus;
    the filter is a function of each candidate row alone, so
    filter-then-distinct == distinct-then-filter). The result set is
    provably identical to the brute-force a x b join.

    One physical path, the one ``bucket_pairs`` takes: the signature
    table is checkpointed (one eager job), because the upstream
    signature aggregation otherwise executes once per join side (0
    ReusedExchange; r6: ``simhash_near_dups`` 6.1 s -> ~2.4 s with
    the in-join verify). The checkpoint's statistics choose broadcast
    or sort-merge under ``autoBroadcastJoinThreshold``. The probe side
    is re-spread over the session parallelism keyed on the join
    columns: a checkpointed aggregate output is AQE-coalesced to ~1
    partition, which would serialize the probe."""
    n_bands = max_hamming + 1
    widths = _band_widths(n_bits, n_bands)
    df = df.localCheckpoint(eager=True)
    chunks = []
    off = 0
    for i, w in enumerate(widths):
        chunk = F.shiftright(F.col(sim_col), off).bitwiseAND(F.lit((1 << w) - 1))
        chunks.append(F.struct(F.lit(i).alias("band"), chunk.alias("chunk")))
        off += w
    banded = df.select(
        F.col(id_col), F.col(sim_col), F.explode(F.array(*chunks)).alias("bc")
    ).select(id_col, sim_col, "bc.band", "bc.chunk")
    a = banded.repartition(
        banded.sparkSession.sparkContext.defaultParallelism, "band", "chunk"
    ).alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (hamming <= max_hamming),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def simhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """120-bit SimHash as two 60-bit longs ``(sim_hi, sim_lo)`` — the
    web-scale variant of ``simhash_signatures``.

    WHY a wider signature: the 60-bit pigeonhole banding
    (``simhash_banded_pairs``) uses 7 bands of ~8.6 bits, so two
    UNRELATED documents collide on some band with probability
    ~7/2^8.6 — at 10^8+ documents that fixed bucket space turns the
    candidate set quadratic (n^2/388 pairs to verify). Doubling the
    signature to 120 bits widens the bands to 15-20 bits, cutting
    expected random band collisions ~156x (4*2^-15 + 3*2^-20 vs
    4*2^-9 + 3*2^-8 per pair) while the pigeonhole exactness
    guarantee is unchanged. Hamming distance over 120 bits
    is a strictly finer similarity resolution (Manku et al., WWW'07
    use 64 bits for 8B pages with k=3; k=6 at 10^10 documents needs
    the wider signature to keep verify candidates ~linear).

    Same one-pass relational shape as ``simhash_signatures``: one md5
    per token (hi = hex chars 1-15, lo = chars 17-31 — disjoint 60-bit
    halves of the digest), then ALL 120 majority counters in a single
    partial+final aggregate. NULL text gets (0, 0) via explode_outer,
    matching the 60-bit form's NULL convention.
    """
    words = F.split(_normalized(F.col(text_col)), " ")
    m = F.md5(F.col("_tok").cast("binary"))
    hi = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 17, 15), 16, 10).cast("long")
    ex = df.select(F.col(id_col), F.explode_outer(words).alias("_tok")).select(
        F.col(id_col), hi.alias("_hh"), lo.alias("_hl")
    )
    aggs = [F.count("*").alias("_n")]
    aggs += [
        F.sum(F.shiftright("_hh", i).bitwiseAND(F.lit(1))).alias(f"_hb{i}")
        for i in range(60)
    ]
    aggs += [
        F.sum(F.shiftright("_hl", i).bitwiseAND(F.lit(1))).alias(f"_lb{i}")
        for i in range(60)
    ]
    counted = ex.groupBy(id_col).agg(*aggs)
    sim_hi = F.lit(0).cast("long")
    sim_lo = F.lit(0).cast("long")
    for i in range(60):
        sim_hi = sim_hi + F.when(
            F.col(f"_hb{i}") * 2 > F.col("_n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim_lo = sim_lo + F.when(
            F.col(f"_lb{i}") * 2 > F.col("_n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return counted.select(
        F.col(id_col), sim_hi.alias("sim_hi"), sim_lo.alias("sim_lo")
    )


def simhash_wide_banded_pairs(
    df: DataFrame,
    id_col: str,
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    max_hamming: int = 6,
) -> DataFrame:
    """Exact Hamming-ball (<= ``max_hamming`` over the 120-bit
    signature) pair search via pigeonhole banding — the scale path of
    ``simhash_banded_pairs``.

    The 120 bits split into ``max_hamming + 1`` = 7 contiguous bands of
    15-20 bits (4 x 15-bit bands over ``sim_hi``, 3 x 20-bit over
    ``sim_lo``); any
    pair within ``max_hamming`` flips agrees exactly on >= 1 band, so
    the (band, chunk) equi-join is provably complete, and the wide
    chunk space keeps random band collisions (the quadratic term at a
    fixed bucket count) ~156x rarer than the 60-bit form's.
    """
    banded = simhash_wide_banded(df, id_col, hi_col, lo_col, max_hamming)
    return _banded_wide_pairs(banded, id_col, hi_col, lo_col, max_hamming)


def simhash_wide_banded(
    df: DataFrame,
    id_col: str,
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    max_hamming: int = 6,
) -> DataFrame:
    """Explode a 120-bit signature table into its pigeonhole
    ``(band, chunk)`` rows (4 x 15-bit bands over ``sim_hi``, 3 x
    20-bit over ``sim_lo`` at the default ``max_hamming=6``). Shared
    by the self-join pair search (``simhash_wide_banded_pairs``) and
    the persisted index (``build_simhash_index`` /
    ``simhash_candidates_incremental``) so the two sides of an
    incremental join can never band differently."""
    n_bands = max_hamming + 1
    hi_bands = (n_bands + 1) // 2  # 4 bands over hi, 3 over lo
    lo_bands = n_bands - hi_bands
    chunks = []
    for part_col, widths, band0 in (
        (hi_col, _band_widths(60, hi_bands), 0),
        (lo_col, _band_widths(60, lo_bands), hi_bands),
    ):
        off = 0
        for i, w in enumerate(widths):
            chunk = F.shiftright(F.col(part_col), off).bitwiseAND(F.lit((1 << w) - 1))
            chunks.append(
                F.struct(F.lit(band0 + i).alias("band"), chunk.alias("chunk"))
            )
            off += w
    return df.select(
        F.col(id_col),
        F.col(hi_col),
        F.col(lo_col),
        F.explode(F.array(*chunks)).alias("bc"),
    ).select(id_col, hi_col, lo_col, "bc.band", "bc.chunk")


def _banded_wide_pairs(
    banded: DataFrame,
    id_col: str,
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    max_hamming: int = 6,
) -> DataFrame:
    """(band, chunk) equi-join + Hamming verify over an already-banded
    table (``simhash_wide_banded`` output)."""
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hi_col}").alias("_ha"),
            F.col(f"a.{lo_col}").alias("_la"),
            F.col(f"b.{hi_col}").alias("_hb"),
            F.col(f"b.{lo_col}").alias("_lb"),
        )
        .distinct()
    )
    ham = hamming64(F.col("_ha"), F.col("_hb")) + hamming64(
        F.col("_la"), F.col("_lb")
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )

def _band_simhash_meta(docs: DataFrame, m: dict) -> DataFrame:
    sigs = simhash_signatures_wide(docs, m["text_col"], m["id_col"])
    return simhash_wide_banded(sigs, m["id_col"], max_hamming=int(m["max_hamming"]))


_SIMHASH = _IndexFamily(
    kind="simhash_wide",
    desc="a wide-simhash text",
    label="simhash",
    build_fn="build_simhash_index",
    meta_keys=("max_hamming", "id_col", "text_col", "n_subparts"),
    bucket_col="chunk",
    band=_band_simhash_meta,
    n_bands=lambda m: int(m["max_hamming"]) + 1,
)


def build_simhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    n_subparts: int = 256,
) -> None:
    """Persist the banded 120-bit SimHash table — the intermediate of
    ``simhash_wide_banded_pairs``, ``(id, sim_hi, sim_lo, band,
    chunk)`` with ``chunk`` the bucket — as an incremental index
    (module docstring). Each row keeps the full signature, so the
    probe's Hamming verify reads it from the scanned index rows, never
    the corpus. ``max_hamming`` is pinned in the manifest because it
    determines the band boundaries — probing with a different radius
    than the build banded with would silently miss pairs. Size
    ``n_subparts`` with ``lsh_subparts_for`` at real corpus scale."""
    _build_index(
        _SIMHASH,
        docs,
        path,
        {
            "max_hamming": max_hamming,
            "id_col": id_col,
            "text_col": text_col,
            "n_subparts": n_subparts,
        },
    )


def simhash_candidates_incremental(
    spark,
    new_docs: DataFrame,
    path: str,
) -> DataFrame:
    """Hamming-ball near-dup pairs ``(id_a, id_b, hamming)`` (<= the
    index's pinned ``max_hamming``) INVOLVING the delta, against a
    ``build_simhash_index`` table: exactly the rows a full
    ``simhash_wide_banded_pairs`` over (corpus + delta) emits that
    touch a delta doc (the pigeonhole completeness guarantee holds
    per pair, so restricting one side to the delta loses nothing).
    Commit the delta afterwards with ``append_simhash_index``."""
    meta, _, cands, sigs = _probe_index(spark, _SIMHASH, new_docs, path, None)
    id_col = meta["id_col"]

    def side(s: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col("sim_hi").alias(f"_h{s}"),
            F.col("sim_lo").alias(f"_l{s}"),
        )

    ham = hamming64(F.col("_ha"), F.col("_hb")) + hamming64(F.col("_la"), F.col("_lb"))
    return (
        cands.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= int(meta["max_hamming"]))
    )


def append_simhash_index(new_docs: DataFrame, path: str) -> None:
    """Commit a delta into the wide-simhash index, banded with the
    manifest's pinned ``max_hamming``."""
    _append_index(_SIMHASH, new_docs, path)


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow_threshold: int = 128,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the corpus, then prune
    within-cluster semantic duplicates in ONE non-iterative pass.

    1. Every vector goes to its nearest centroid (max cosine, HALF_UP
       at 9 decimals, ties -> lowest cell: the exact
       ``similarity.ivf_assign`` contract) and keeps ``ccos``, its
       cosine to that centroid.
    2. Within each cell, items are ordered FARTHEST-from-centroid
       first (``ccos`` ASC, id ASC) — SemDeDup keeps the low-centroid-
       similarity exemplars.
    3. Item ``b`` is removed iff ANY earlier item ``a`` in its cell
       has round(cos(a, b), 9) >= tau. Removal of ``a`` does NOT
       rescue ``b`` (the paper's triu-max formulation) — which is what
       makes this a single self-join instead of an iterative MIS, and
       keeps it SQL-expressible for the oracle.

    Returns (id, cell, ccos, kept:boolean) — callers filter
    ``kept`` for the surviving corpus.

    Scale: the pair space is within-cell only — a shuffle equi-join on
    ``cell``, never all-pairs. With C centroids sized ~ n /
    target_cell_size (train them with ``similarity.ivf_train_centroids``),
    sum(n_c^2) stays linear in n. A mega-cell means C is under-sized
    for the corpus — the same sizing discipline as ``lsh_bits_for``.
    The assign stage is always localCheckpointed (one eager job at
    construction) so the scan->score->argmax subtree executes once
    instead of three times (pairs-left, pairs-right, final flag join).
    That pays whenever the upstream is more than a parquet scan, which
    holds for every caller (the planted-dup union of
    ``semantic_dedup_flags``, the cast projection of the 600k-vector
    scale run in ``BENCH/run_dedup_scale.py``). The checkpoint is
    executor-local storage that spills to disk and forces no
    broadcast: the ``cell`` self-join stays a shuffle equi-join.

    The assign stage auto-switches at ``arrow_threshold`` centroids
    from literal-Column scoring to the Arrow matmul form
    (``similarity.ivf_assign_pandas(with_score=True)``) — the same
    >128-cell gate as ``ivf_train_centroids``; both paths share the
    HALF_UP-9dp + lowest-cell-tie contract (parity-tested), so the
    result is path-independent.
    """
    from .similarity import cosine_col, ivf_assign_pandas

    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    if len(centroids) > arrow_threshold:
        assigned = ivf_assign_pandas(
            embeddings, centroids, id_col, vec_col, with_score=True
        ).withColumn("_nrm", nrm)
    else:
        scored = embeddings.select(
            F.col(id_col),
            F.col(vec_col),
            nrm.alias("_nrm"),
            F.array(
                *[
                    F.round(cosine_col(F.col(vec_col), c), 9).alias(f"c{i}")
                    for i, c in enumerate(centroids)
                ]
            ).alias("_scores"),
        )
        assigned = scored.select(
            id_col,
            vec_col,
            "_nrm",
            (
                F.expr("array_position(_scores, array_max(_scores))").cast("int") - 1
            ).alias("cell"),
            F.array_max("_scores").alias("ccos"),
        )
    assigned = assigned.localCheckpoint(eager=True)
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
        "cell",
        F.col("ccos").alias("_ca"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
        "cell",
        F.col("ccos").alias("_cb"),
    )
    earlier = (F.col("_ca") < F.col("_cb")) | (
        (F.col("_ca") == F.col("_cb")) & (F.col("id_a") < F.col("id_b"))
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("_va"), F.col("_vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    removed = (
        a.join(b, "cell")
        .filter(earlier)
        .filter(F.round(dot / (F.col("_na") * F.col("_nb")), 9) >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_rm", F.lit(True))
    )
    return (
        assigned.join(removed, id_col, "left")
        .select(
            id_col,
            "cell",
            "ccos",
            F.col("_rm").isNull().alias("kept"),
        )
    )


def cluster_canonical(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    labels_id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Per duplicate cluster, the CANONICAL member a keep-one policy
    retains: highest ``quality_col``, ties -> lowest id (deterministic
    on any partitioning). The quality-argmax policy is what production
    curation pipelines use in place of keep-first — RefinedWeb keeps
    the longest member of each near-dup cluster (Penedo et al. 2023
    §4.2); the reference's only policy is filesystem-order keep-first
    (aggressive_cleaning.py:170-197).

    ``labels`` is a (id, cluster_id) assignment, typically
    ``connected_components`` output. Returns one row per cluster:
    ``(cluster_id, n_docs, kept_id, kept_quality, q_min)``.

    Scale shape: ONE inner equi-join on id (labels hold only
    CLUSTERED docs — a few percent of the corpus at web dup rates, so
    AQE broadcasts the build side when it fits) + ONE per-cluster
    hash aggregate. The winner is ``min(struct(-quality, id))``
    INSIDE the aggregate (the X37 anchor-winner idiom): hot clusters
    combine map-side, no window over the joined table, no second
    shuffle. Preconditions: quality is numeric, non-null, and
    negation-safe (ANSI overflow on int64 min — real quality columns
    are lengths/scores, both fine); ids are unique per doc.
    """
    j = docs.select(
        F.col(id_col).alias("_cid"), F.col(quality_col).alias("_q")
    ).join(
        labels.select(
            F.col(labels_id_col).alias("_cid"), F.col(cluster_col)
        ),
        "_cid",
        "inner",
    )
    return (
        j.groupBy(cluster_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.min(
                F.struct(
                    (-F.col("_q")).alias("nq"), F.col("_cid").alias("i")
                )
            ).alias("_w"),
            F.min("_q").alias("q_min"),
        )
        .select(
            cluster_col,
            "n_docs",
            F.col("_w.i").alias("kept_id"),
            (-F.col("_w.nq")).alias("kept_quality"),
            "q_min",
        )
    )


def keep_canonical(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    labels_id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The deduplicated corpus under the quality-argmax keep policy:
    every UNCLUSTERED document (implicit singleton) plus the
    ``cluster_canonical`` winner of each cluster. Original schema
    preserved — this is the "surviving corpus" the next pipeline
    stage (mixing/packing/sharding) consumes.

    Scale shape: the corpus is scanned twice (anti-join for
    singletons, semi-join for winners) but both build sides are
    labels-sized — AQE broadcasts them at real dup rates; the corpus
    itself never shuffles. No window, no Python.
    """
    lab_ids = labels.select(F.col(labels_id_col).alias(id_col))
    winners = cluster_canonical(
        docs, labels, quality_col, id_col, labels_id_col, cluster_col
    ).select(F.col("kept_id").alias(id_col))
    return docs.join(lab_ids, id_col, "left_anti").unionByName(
        docs.join(winners, id_col, "left_semi")
    )
