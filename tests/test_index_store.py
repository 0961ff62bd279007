"""Manifest-backed ANN/IVF index contracts (VERDICT r3 items #3/#8):

- a probe over a manifest-built index returns EXACTLY the rows of the
  unindexed operator (parity), while reading ONLY files belonging to
  probed partitions (the file list is the plan's entire input — no
  partition-tree listing);
- append_ann_index grows the index incrementally with probe parity vs
  a full rebuild over the union corpus;
- the occupancy-drift re-index trigger fires when the corpus outgrows
  the built band bits;
- commits are atomic versions: a probe mid-append resolves the old
  manifest or the new one, never a torn file set.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from webscrape_neko_jirushi_spark.operators import dedup, similarity
from webscrape_neko_jirushi_spark.operators.cluster_store import build_cluster_labels
from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest
from webscrape_neko_jirushi_spark.sources.synth_corpus import (
    synth_documents,
    synth_embeddings,
)

SF = "/root/testdata/sf0.001"


def _embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _query_vec(spark, vid=0):
    e = _embeddings(spark)
    return [float(x) for x in e.filter(F.col("vec_id") == vid).head()["embedding"]]


def test_ann_manifest_probe_parity_and_file_subset(spark, tmp_path):
    e = _embeddings(spark)
    query = _query_vec(spark)
    idx = str(tmp_path / "ann_index")
    similarity.build_ann_index(e, idx, dim=64, bits=8, seed=7)

    m = IndexManifest.load(idx)
    assert m is not None and m.key == "bucket" and m.meta["bits"] == 8

    probed = similarity.ann_topk_indexed(spark, idx, query, k=10)
    got = [(r["vec_id"], r["cosine"]) for r in probed.collect()]
    want = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ann_topk_lsh(e, query, k=10, bits=8, seed=7).collect()
    ]
    assert got == want

    # the scan's input is exactly the probed buckets' manifest files —
    # a strict subset of the index (this IS the no-listing contract:
    # the file list came from one manifest read)
    planes = similarity._hyperplanes(64, 8, 7)
    probe = similarity._probe_buckets(query, planes, 1)
    allowed = set(m.files_for(probe))
    read = set(probed.inputFiles())
    assert read and read <= {f"file://{p}" if not p.startswith("file:") else p for p in allowed} | allowed
    assert len(read) < m.n_files()


def test_ann_manifest_probe_empty_buckets_returns_empty(spark, tmp_path):
    """Probing buckets that never received a row yields an empty result
    without touching the filesystem at all."""
    e = _embeddings(spark)
    idx = str(tmp_path / "ann_index")
    similarity.build_ann_index(e, idx, dim=64, bits=8, seed=7)
    m = IndexManifest.load(idx)
    missing = [b for b in range(256) if str(b) not in m.partitions]
    assert missing, "fixture corpus unexpectedly fills all 256 buckets"
    assert m.files_for(missing[:9]) == []


def test_ann_append_parity_with_full_rebuild(spark, tmp_path):
    """80/20 split: build on 80, append 20 — probe results must be
    byte-equal to a one-shot build over all 100, for several query
    vectors (append uses the manifest's recorded planes)."""
    e = _embeddings(spark)
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    inc = str(tmp_path / "ann_inc")
    full = str(tmp_path / "ann_full")
    similarity.build_ann_index(base, inc, dim=64, bits=8, seed=7)
    v1 = IndexManifest.load(inc).version
    similarity.append_ann_index(delta, inc)
    m = IndexManifest.load(inc)
    assert m.version == v1 + 1
    similarity.build_ann_index(e, full, dim=64, bits=8, seed=7)

    for vid in (0, 3, 17):
        query = _query_vec(spark, vid)
        got = [
            tuple(r)
            for r in similarity.ann_topk_indexed(spark, inc, query, k=10).collect()
        ]
        want = [
            tuple(r)
            for r in similarity.ann_topk_indexed(spark, full, query, k=10).collect()
        ]
        assert got == want, f"append/rebuild divergence for query vec {vid}"


def test_ann_append_requires_manifest(spark, tmp_path):
    import pytest

    e = _embeddings(spark)
    idx = str(tmp_path / "bare")
    e.write.parquet(idx)
    with pytest.raises(ValueError, match="no manifest"):
        similarity.append_ann_index(e.limit(1), idx)
    with pytest.raises(ValueError, match="no manifest"):
        similarity.ann_topk_indexed(spark, idx, _query_vec(spark), k=10)


def test_ann_reindex_trigger_fires_on_occupancy_drift(spark, tmp_path):
    e = _embeddings(spark)
    idx = str(tmp_path / "ann_index")
    similarity.build_ann_index(e, idx, dim=64, bits=8, seed=7)
    # at the built size, 8 bits is (at least) the lsh_bits_for answer
    n_now = e.count()
    assert similarity.ann_index_needs_reindex(idx, n_now) is (
        similarity.lsh_bits_for(n_now) > 8
    )
    # a 10^6-vector corpus sizes to 17 bits > 8 — must fire
    assert similarity.ann_index_needs_reindex(idx, 1_000_000)


def test_ivf_manifest_probe_parity_and_file_subset(spark, tmp_path):
    e = _embeddings(spark)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    query = _query_vec(spark, 7)
    idx = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(e, idx, cents)

    m = IndexManifest.load(idx)
    assert m is not None and m.key == "cell"

    probed = similarity.ivf_topk_indexed(spark, idx, query, k=10, nprobe=2)
    got = [(r["vec_id"], r["cosine"]) for r in probed.collect()]
    want = [
        (r["vec_id"], r["cosine"])
        for r in similarity.ivf_topk(e, query, cents, k=10, nprobe=2).collect()
    ]
    assert got == want
    assert len(set(probed.inputFiles())) < m.n_files()


def test_ivf_append_parity_with_full_rebuild(spark, tmp_path):
    """IVF twin of the ANN append test: assignment uses the manifest's
    PINNED centroids, so an append can never shift cell boundaries."""
    e = _embeddings(spark)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    inc = str(tmp_path / "ivf_inc")
    full = str(tmp_path / "ivf_full")
    similarity.build_ivf_index(base, inc, cents)
    similarity.append_ivf_index(delta, inc)
    similarity.build_ivf_index(e, full, cents)
    for vid in (7, 11):
        query = _query_vec(spark, vid)
        got = [
            tuple(r)
            for r in similarity.ivf_topk_indexed(
                spark, inc, query, k=10, nprobe=2
            ).collect()
        ]
        want = [
            tuple(r)
            for r in similarity.ivf_topk_indexed(
                spark, full, query, k=10, nprobe=2
            ).collect()
        ]
        assert got == want, f"IVF append/rebuild divergence for query vec {vid}"


def test_lsh_text_index_incremental_parity(spark, tmp_path):
    """VERDICT r4 #3: banding only the DELTA against a persisted
    banded-signature index must emit exactly the pairs a full rebuild
    over (corpus + delta) emits that touch the delta — across TWO
    increments, with the second seeing the first via append."""
    n = 1500  # synth: ids >= 1350 are planted near-dups of ids < 1350
    docs = synth_documents(spark, n, dup_frac=0.10).cache()
    sigs_all = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs_all, "doc_id", 16, 4).collect()
    }

    old = docs.filter(F.col("doc_id") < 1350)
    delta1 = docs.filter((F.col("doc_id") >= 1350) & (F.col("doc_id") < 1425))
    delta2 = docs.filter(F.col("doc_id") >= 1425)
    idx = str(tmp_path / "lsh_text")
    # n_subparts=16 keeps the partition-dir count test-sized; the
    # default 256 is the web-scale prune granularity
    dedup.build_lsh_text_index(old, idx, "text", "doc_id", 16, 4, 5, n_subparts=16)

    got1 = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidates_incremental(spark, delta1, idx).collect()
    }
    want1 = {
        (a, b) for a, b in full if max(a, b) < 1425 and (a >= 1350 or b >= 1350)
    }
    assert got1 == want1 and len(want1) > 20

    v1 = IndexManifest.load(idx).version
    dedup.append_lsh_text_index(delta1, idx)
    assert IndexManifest.load(idx).version == v1 + 1

    got2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidates_incremental(spark, delta2, idx).collect()
    }
    want2 = {(a, b) for a, b in full if a >= 1425 or b >= 1425}
    docs.unpersist()
    assert got2 == want2 and len(want2) > 20


def test_commit_staged_meta_update_merges_under_lock(spark, tmp_path):
    """meta_update must merge onto the head's CURRENT meta at commit
    time: a merge computed from a manifest read BEFORE a concurrent
    commit would silently revert that commit's keys (e.g. a stream
    watermark moving backward)."""
    import pytest

    root = tmp_path / "metaidx"
    df = spark.createDataFrame(
        [(i, i % 2, f"p{i}") for i in range(8)],
        "id long, bucket int, payload string",
    )
    df.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(str(root))
    IndexManifest.commit(root, "bucket", meta={"pinned": 1})
    # a "concurrent" writer advances a watermark key on the head
    m_now = IndexManifest.load(root)
    IndexManifest.commit(
        root, "bucket",
        meta={**m_now.meta, "wm": 5},
        partitions=m_now.partitions,
    )
    # this writer staged from the OLD view but merges via meta_update
    delta = spark.createDataFrame(
        [(100, 0, "pd")], "id long, bucket int, payload string"
    )
    stage, _ = IndexManifest.stage_write(delta, root, "bucket")
    IndexManifest.commit_staged(
        root, "bucket", stage, meta_update={"extra": 7}
    )
    final = IndexManifest.load(root)
    assert final.meta["wm"] == 5          # the concurrent key survives
    assert final.meta["extra"] == 7       # the merge landed
    assert final.meta["pinned"] == 1
    with pytest.raises(ValueError, match="not both"):
        stage2, _ = IndexManifest.stage_write(delta, root, "bucket")
        IndexManifest.commit_staged(
            root, "bucket", stage2, meta={"x": 1}, meta_update={"y": 2}
        )


def test_lsh_incremental_capped_parity_mega_bucket(spark, tmp_path):
    """max_bucket must bind against the COMBINED corpus+delta bucket
    occupancy: a boilerplate mega-bucket living in the INDEX would
    otherwise explode the delta-x-index join into occupancy-
    proportional pairs (the uncapped asymmetric form cannot see the
    index side's occupancy), and the star center must be the combined
    min id, exactly as a full capped rebuild computes it."""
    mega = "common boilerplate text shared by the mega cluster page"
    rows = (
        [(i, mega) for i in range(50)]
        + [(i, f"unique filler document number {i} with its own words {i * 7}")
           for i in range(50, 80)]
        + [(i, f"unique delta document number {i} tail tokens {i * 13}")
           for i in range(80, 95)]
        + [(i, mega) for i in range(95, 100)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs_all = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
    full_capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs_all, "doc_id", 16, 4, max_bucket=8
        ).collect()
    }
    want = {(a, b) for a, b in full_capped if a >= 80 or b >= 80}
    old = docs.filter(F.col("doc_id") < 80)
    delta = docs.filter(F.col("doc_id") >= 80)
    idx = str(tmp_path / "lsh_capped")
    dedup.build_lsh_text_index(old, idx, "text", "doc_id", 16, 4, 5, n_subparts=16)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidates_incremental(
            spark, delta, idx, max_bucket=8
        ).collect()
    }
    assert got == want
    # star-bounded: the 5 delta mega members pair with the star center
    # (id 0), never with all 50 index members each
    assert {(0, i) for i in range(95, 100)} <= got
    assert len(got) < 30


def test_lsh_text_index_incremental_prunes_to_delta_buckets(spark, tmp_path):
    """The pb sub-partitioning contract: a small delta's candidate scan
    reads ONLY the index partitions the delta hashes into (resolved
    from one manifest read), never the whole index — the property that
    makes incremental cost ~ delta size at 100 TB."""
    docs = synth_documents(spark, 500, dup_frac=0.10)
    idx = str(tmp_path / "lsh_prune")
    dedup.build_lsh_text_index(
        docs.filter(F.col("doc_id") < 450), idx, "text", "doc_id", 16, 4, 5,
        n_subparts=64,
    )
    delta = docs.filter(F.col("doc_id") >= 495)  # 5 docs -> <= 20 pbs
    pairs = dedup.lsh_candidates_incremental(spark, delta, idx)
    pairs.collect()
    m = IndexManifest.load(idx)

    def norm(p: str) -> str:
        p = p.removeprefix("file:")
        while p.startswith("//"):
            p = p[1:]
        return p

    read = {norm(p) for p in pairs.inputFiles()}
    allowed = {norm(p) for p in m.files_for(sorted(m.partitions))}  # all index files
    assert read <= allowed  # index files only (delta side is a checkpoint)
    assert 0 < len(read) < m.n_files() / 2, (len(read), m.n_files())


def test_lsh_text_index_requires_manifest(spark, tmp_path):
    import pytest

    docs = synth_documents(spark, 50, dup_frac=0.10)
    with pytest.raises(ValueError, match="no LSH text index manifest"):
        dedup.lsh_candidates_incremental(spark, docs, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="no LSH text index manifest"):
        dedup.append_lsh_text_index(docs, str(tmp_path / "nope"))
    # and a manifest of the wrong KIND (an ANN bucket index) is refused
    e = _embeddings(spark)
    ann = str(tmp_path / "ann")
    similarity.build_ann_index(e, ann, dim=64, bits=8, seed=7)
    with pytest.raises(ValueError, match="not a banded-minhash"):
        dedup.lsh_candidates_incremental(spark, docs, ann)


def test_manifest_expire_versions(tmp_path):
    root = tmp_path / "idx"
    (root / "bucket=1").mkdir(parents=True)
    (root / "bucket=1" / "part-0.parquet").write_bytes(b"x")
    for _ in range(4):
        IndexManifest.commit(root, "bucket")
    assert IndexManifest.expire_versions(root, keep_last=2) == 2
    names = sorted(p.name for p in (root / "_manifests").iterdir())
    assert names == ["v000003.json", "v000004.json"]
    # HEAD still resolves, and keep_last clamps to >= 1
    assert IndexManifest.load(root).version == 4
    assert IndexManifest.expire_versions(root, keep_last=0) == 1
    assert IndexManifest.load(root).version == 4


def test_index_vacuum_reclaims_orphans_keeps_probes_intact(spark, tmp_path):
    """VERDICT r4 #4 on the index tree: files no surviving manifest
    references (expired-version leftovers, killed-append litter,
    _temporary staging) are deleted; probe results are byte-identical
    before and after."""
    e = _embeddings(spark)
    idx = str(tmp_path / "ann")
    similarity.build_ann_index(e, idx, dim=64, bits=8, seed=7)
    query = _query_vec(spark)
    before = [
        tuple(r) for r in similarity.ann_topk_indexed(spark, idx, query, k=10).collect()
    ]

    root = Path(idx)
    # killed-append simulation: stray data file + staging dir, written
    # after the commit so no manifest lists them
    bucket_dir = next(d for d in root.iterdir() if d.name.startswith("bucket="))
    stray = bucket_dir / "part-99999-killed.parquet"
    stray.write_bytes(b"partial")
    staging = root / "_temporary"
    (staging / "0").mkdir(parents=True)
    (staging / "0" / "task-attempt").write_bytes(b"x")

    assert IndexManifest.vacuum(idx, older_than_sec=0) == 2  # stray + staging
    assert not stray.exists() and not staging.exists()

    # overwrite-rebuild: Spark's static overwrite clears the whole
    # tree (manifests included), so the rebuild is a fresh v1 index —
    # a vacuum right after it finds nothing dead and probes resolve
    similarity.build_ann_index(e.filter(F.col("vec_id") % 2 == 0), idx, dim=64, bits=8, seed=7)
    assert IndexManifest.load(idx).version == 1
    assert IndexManifest.vacuum(idx, older_than_sec=0) == 0
    after = similarity.ann_topk_indexed(spark, idx, query, k=10)
    assert after.count() > 0

    # retention guard: fresh files survive a retention-window vacuum
    stray2 = next(d for d in root.iterdir() if d.name.startswith("bucket="))
    (stray2 / "part-fresh.parquet").write_bytes(b"in flight")
    assert IndexManifest.vacuum(idx, older_than_sec=3600) == 0

    # a manifest-less tree is refused (vacuum would delete everything)
    import pytest

    bare = tmp_path / "bare"
    (bare / "bucket=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="no manifest versions"):
        IndexManifest.vacuum(bare)


def test_index_vacuum_append_then_expire_reclaims_old_only(spark, tmp_path):
    """Append path: v1 (build) + v2 (append) share v1's files. While
    both versions live, vacuum deletes nothing; after expiring v1,
    still nothing (v2 references the union). Probe parity throughout."""
    e = _embeddings(spark)
    idx = str(tmp_path / "ann")
    similarity.build_ann_index(
        e.filter(F.col("vec_id") % 5 != 0), idx, dim=64, bits=8, seed=7
    )
    similarity.append_ann_index(e.filter(F.col("vec_id") % 5 == 0), idx)
    query = _query_vec(spark)
    before = [
        tuple(r) for r in similarity.ann_topk_indexed(spark, idx, query, k=10).collect()
    ]
    assert IndexManifest.vacuum(idx, older_than_sec=0) == 0
    IndexManifest.expire_versions(idx, keep_last=1)
    assert IndexManifest.vacuum(idx, older_than_sec=0) == 0
    after = [
        tuple(r) for r in similarity.ann_topk_indexed(spark, idx, query, k=10).collect()
    ]
    assert before == after


def test_manifest_commit_is_atomic_versioned(tmp_path):
    """HEAD swap semantics: each commit is a new immutable version;
    a reader holding the old manifest object still resolves the old
    file set (no in-place mutation)."""
    root = tmp_path / "idx"
    (root / "bucket=1").mkdir(parents=True)
    (root / "bucket=1" / "part-0.parquet").write_bytes(b"x")
    m1 = IndexManifest.commit(root, "bucket", meta={"bits": 3})
    (root / "bucket=1" / "part-1.parquet").write_bytes(b"y")
    (root / "bucket=2").mkdir()
    (root / "bucket=2" / "part-0.parquet").write_bytes(b"z")
    m2 = IndexManifest.commit(root, "bucket")
    assert (m1.version, m2.version) == (1, 2)
    assert len(m1.files_for([1])) == 1  # old reader: old view
    assert len(m2.files_for([1])) == 2 and len(m2.files_for([2])) == 1
    assert m2.meta == {"bits": 3}  # meta carried forward
    # both manifest versions exist on disk; HEAD points at the newest
    names = sorted(p.name for p in (root / "_manifests").iterdir())
    assert names == ["v000001.json", "v000002.json"]
    assert (root / "_HEAD").read_text() == "v000002.json"
    # Spark-invisible metadata: everything extra is underscore-prefixed
    assert all(
        p.name.startswith(("_", "bucket=")) for p in Path(root).iterdir()
    )


def test_probe_rejects_wrong_index_kind(spark, tmp_path):
    """Probing an ANN index with the IVF operator (or vice versa) must
    fail loudly — silently mapping cell ids onto bucket directories
    would return a confidently wrong top-k."""
    import pytest

    e = _embeddings(spark)
    ann = str(tmp_path / "ann")
    similarity.build_ann_index(e, ann, dim=64, bits=8, seed=7)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()
    ]
    q = _query_vec(spark)
    with pytest.raises(ValueError, match="not a 'cell' index"):
        similarity.ivf_topk_indexed(spark, ann, q, k=5, nprobe=1)
    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(e, ivf, cents)
    with pytest.raises(ValueError, match="not a 'bucket' index"):
        similarity.ann_topk_indexed(spark, ivf, q, k=5)
    with pytest.raises(ValueError, match="not a 'bucket' index"):
        similarity.append_ann_index(e.limit(1), ivf)


def test_manifest_rejects_remote_uris(tmp_path):
    import pytest

    with pytest.raises(ValueError, match="local path"):
        IndexManifest.load("s3a://bucket/index")
    with pytest.raises(ValueError, match="local path"):
        IndexManifest.commit("hdfs://nn/index", "bucket")
    # file: URIs normalize to the local path instead of resolving
    # cwd-relative
    root = tmp_path / "f"
    (root / "bucket=0").mkdir(parents=True)
    (root / "bucket=0" / "part-0.parquet").write_bytes(b"x")
    m = IndexManifest.commit(f"file://{root}", "bucket")
    assert m.n_files() == 1
    assert IndexManifest.load(str(root)).version == 1


def test_simhash_index_incremental_parity(spark, tmp_path):
    """The simhash twin of the minhash incremental contract: banding
    only the DELTA against a persisted wide-simhash index must emit
    exactly the (pair, hamming) rows a full simhash_wide_banded_pairs
    over (corpus + delta) emits that touch the delta — across TWO
    increments, with the second seeing the first via append."""
    n = 1500
    docs = synth_documents(spark, n, dup_frac=0.10).cache()
    sigs_all = dedup.simhash_signatures_wide(docs, "text", "doc_id")
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_wide_banded_pairs(sigs_all, "doc_id").collect()
    }

    old = docs.filter(F.col("doc_id") < 1350)
    delta1 = docs.filter((F.col("doc_id") >= 1350) & (F.col("doc_id") < 1425))
    delta2 = docs.filter(F.col("doc_id") >= 1425)
    idx = str(tmp_path / "simhash_idx")
    dedup.build_simhash_index(old, idx, "text", "doc_id", n_subparts=16)

    got1 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_candidates_incremental(spark, delta1, idx).collect()
    }
    want1 = {
        (a, b, h)
        for a, b, h in full
        if max(a, b) < 1425 and (a >= 1350 or b >= 1350)
    }
    assert got1 == want1 and len(want1) > 20

    v1 = IndexManifest.load(idx).version
    dedup.append_simhash_index(delta1, idx)
    assert IndexManifest.load(idx).version == v1 + 1

    got2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_candidates_incremental(spark, delta2, idx).collect()
    }
    want2 = {(a, b, h) for a, b, h in full if a >= 1425 or b >= 1425}
    docs.unpersist()
    # the hamming<=6 ball is tighter than the minhash banding, so the
    # delta2 slice carries fewer planted pairs — 17 on this corpus
    assert got2 == want2 and len(want2) > 10


def test_simhash_index_prunes_to_delta_buckets(spark, tmp_path):
    """The pb contract on the simhash tree: a small delta's scan reads
    only the index partitions the delta's (band, chunk) rows hash
    into, resolved from one manifest read."""
    docs = synth_documents(spark, 500, dup_frac=0.10)
    idx = str(tmp_path / "simhash_prune")
    dedup.build_simhash_index(
        docs.filter(F.col("doc_id") < 450), idx, "text", "doc_id", n_subparts=64
    )
    delta = docs.filter(F.col("doc_id") >= 495)  # 5 docs -> <= 35 pbs
    pairs = dedup.simhash_candidates_incremental(spark, delta, idx)
    pairs.collect()
    m = IndexManifest.load(idx)

    def norm(p: str) -> str:
        p = p.removeprefix("file:")
        while p.startswith("//"):
            p = p[1:]
        return p

    read = {norm(p) for p in pairs.inputFiles()}
    allowed = {norm(p) for p in m.files_for(sorted(m.partitions))}
    assert read <= allowed  # index files only (delta side is a checkpoint)
    assert 0 < len(read) < m.n_files() / 2, (len(read), m.n_files())


def test_simhash_index_refuses_wrong_kind(spark, tmp_path):
    import pytest

    docs = synth_documents(spark, 50, dup_frac=0.10)
    with pytest.raises(ValueError, match="no simhash index manifest"):
        dedup.simhash_candidates_incremental(spark, docs, str(tmp_path / "nope"))
    # a minhash text index is refused by the simhash probe, and vice
    # versa — same path layout, different pinned band semantics
    lsh = str(tmp_path / "lsh_kind")
    dedup.build_lsh_text_index(docs, lsh, "text", "doc_id", 16, 4, 5, n_subparts=16)
    with pytest.raises(ValueError, match="not a wide-simhash"):
        dedup.simhash_candidates_incremental(spark, docs, lsh)
    sh = str(tmp_path / "sim_kind")
    dedup.build_simhash_index(docs, sh, "text", "doc_id", n_subparts=16)
    with pytest.raises(ValueError, match="not a banded-minhash"):
        dedup.lsh_candidates_incremental(spark, docs, sh)


def _emb_neardup_corpus(spark):
    """sf0.001 embeddings + two planted scaled-duplicate families:
    x2.0 copies of vec_id%5==0 at +1e8, x3.0 copies of vec_id%10==0
    at +2e8 — scaling preserves direction, so every planted pair has
    cosine 1.0 and identical sign bits in every band."""
    e = _embeddings(spark).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    p1 = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    p2 = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 200_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3.0).alias("embedding"),
    )
    return e.unionByName(p1).unionByName(p2)


def test_emb_lsh_index_incremental_parity(spark, tmp_path):
    """The embedding member of the incremental contract: banding only
    the DELTA against a persisted banded embedding-LSH index must emit
    exactly the cosine>=tau pairs the full banded_lsh_candidates +
    embedding_near_dups pipeline emits over (corpus + delta) that touch
    the delta — across TWO increments, cosines bit-identical (one
    verify code path on both sides)."""
    corpus = _emb_neardup_corpus(spark).cache()
    cands = similarity.banded_lsh_candidates(corpus, dim=64, n_bands=4, bits_per_band=8)
    full = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.embedding_near_dups(
            corpus, tau=0.99, candidates=cands
        ).collect()
    }

    def in_d1(i):
        return 100_000_000 <= i < 100_000_250 or 200_000_000 <= i < 200_000_250

    def in_d2(i):
        return 100_000_250 <= i < 200_000_000 or i >= 200_000_250

    old = corpus.filter(F.col("vec_id") < 100_000_000)
    delta1 = corpus.filter(
        (F.col("vec_id") % 100_000_000 < 250) & (F.col("vec_id") >= 100_000_000)
    )
    delta2 = corpus.filter(F.col("vec_id") % 100_000_000 >= 250)
    idx = str(tmp_path / "emb_lsh")
    similarity.build_emb_lsh_index(old, idx, dim=64, n_subparts=16)

    got1 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.emb_near_dups_incremental(
            spark, delta1, idx, tau=0.99
        ).collect()
    }
    want1 = {
        (a, b, c)
        for a, b, c in full
        if (in_d1(a) or in_d1(b)) and not (in_d2(a) or in_d2(b))
    }
    assert got1 == want1 and len(want1) >= 75

    v1 = IndexManifest.load(idx).version
    similarity.append_emb_lsh_index(delta1, idx)
    assert IndexManifest.load(idx).version == v1 + 1

    got2 = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.emb_near_dups_incremental(
            spark, delta2, idx, tau=0.99
        ).collect()
    }
    want2 = {(a, b, c) for a, b, c in full if in_d2(a) or in_d2(b)}
    corpus.unpersist()
    assert got2 == want2 and len(want2) >= 75


def test_emb_lsh_index_prunes_and_refuses_wrong_kind(spark, tmp_path):
    import pytest

    corpus = _emb_neardup_corpus(spark)
    idx = str(tmp_path / "emb_prune")
    similarity.build_emb_lsh_index(
        corpus.filter(F.col("vec_id") < 100_000_000), idx, dim=64, n_subparts=64
    )
    delta = corpus.filter(F.col("vec_id") >= 200_000_450)  # 5 vectors
    pairs = similarity.emb_near_dups_incremental(spark, delta, idx, tau=0.99)
    pairs.collect()
    m = IndexManifest.load(idx)

    def norm(p: str) -> str:
        p = p.removeprefix("file:")
        while p.startswith("//"):
            p = p[1:]
        return p

    read = {norm(p) for p in pairs.inputFiles()}
    allowed = {norm(p) for p in m.files_for(sorted(m.partitions))}
    assert read <= allowed  # index files only (delta side is a checkpoint)
    assert 0 < len(read) < m.n_files() / 2, (len(read), m.n_files())

    with pytest.raises(ValueError, match="no embedding LSH index manifest"):
        similarity.emb_near_dups_incremental(spark, delta, str(tmp_path / "nope"))
    # occupancy-drift trigger: fires once the corpus outgrows the
    # build's per-band bits (8 -> lsh_bits_for(10_000_000) > 8)
    assert not similarity.emb_lsh_index_needs_reindex(idx, 1000)
    assert similarity.emb_lsh_index_needs_reindex(idx, 10_000_000)
    # a simhash text index is refused by the embedding probe
    docs = synth_documents(spark, 50, dup_frac=0.10)
    sh = str(tmp_path / "sim_for_emb")
    dedup.build_simhash_index(docs, sh, "text", "doc_id", n_subparts=16)
    with pytest.raises(ValueError, match="not a banded embedding-LSH"):
        similarity.emb_near_dups_incremental(spark, delta, sh)


def test_index_builds_write_one_file_per_partition_dir(spark, tmp_path):
    """Pruned probes pay one file-OPEN per (probed dir x file), so the
    build/append writers must repartition on the partition key before
    partitionBy — otherwise every upstream write task emits a file
    into every dir it holds rows for and probe latency multiplies by
    the writer's task count (the bucketing.py small-files footgun;
    measured as most of simhash_incremental's 100x growth before the
    fix). Build => exactly 1 data file per dir; one append => <= 2.
    Covers every index family: lsh, simhash, ann, emb-LSH, ivf, pq,
    ivfpq and the cluster-label store."""
    docs = synth_documents(spark, 400, dup_frac=0.10).repartition(8).cache()
    old = docs.filter(F.col("doc_id") < 350)
    delta = docs.filter(F.col("doc_id") >= 350)

    def files_per_dir(root: Path) -> list[int]:
        counts = [
            len([f for f in d.iterdir() if f.suffix == ".parquet"])
            for d in root.iterdir()
            if d.is_dir() and "=" in d.name
        ]
        assert counts, f"no partition dirs under {root}"
        return counts

    lsh = tmp_path / "lsh"
    dedup.build_lsh_text_index(old, str(lsh), "text", "doc_id", 16, 4, 5, n_subparts=4)
    assert max(files_per_dir(lsh)) == 1
    dedup.append_lsh_text_index(delta, str(lsh))
    assert max(files_per_dir(lsh)) <= 2

    sim = tmp_path / "sim"
    dedup.build_simhash_index(old, str(sim), "text", "doc_id", n_subparts=4)
    assert max(files_per_dir(sim)) == 1
    dedup.append_simhash_index(delta, str(sim))
    assert max(files_per_dir(sim)) <= 2

    e = synth_embeddings(spark, 300, dim=16).repartition(8).cache()
    eold = e.filter(F.col("vec_id") < 250)
    edelta = e.filter(F.col("vec_id") >= 250)

    ann = tmp_path / "ann"
    similarity.build_ann_index(eold, str(ann), dim=16, bits=3, seed=7)
    assert max(files_per_dir(ann)) == 1
    similarity.append_ann_index(edelta, str(ann))
    assert max(files_per_dir(ann)) <= 2

    emb = tmp_path / "emb"
    similarity.build_emb_lsh_index(
        eold, str(emb), dim=16, n_bands=2, bits_per_band=3, n_subparts=4
    )
    assert max(files_per_dir(emb)) == 1
    similarity.append_emb_lsh_index(edelta, str(emb))
    assert max(files_per_dir(emb)) <= 2

    cents = [
        [float(x) for x in r["embedding"]]
        for r in eold.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    ivf = tmp_path / "ivf"
    similarity.build_ivf_index(eold, str(ivf), cents)
    assert max(files_per_dir(ivf)) == 1
    similarity.append_ivf_index(edelta, str(ivf))
    assert max(files_per_dir(ivf)) <= 2

    books = similarity.pq_train(eold, 16, m=4, ksub=8, n_iters=3, n_vecs=250)
    pq = tmp_path / "pq"
    similarity.build_pq_index(eold, str(pq), books, n_shards=4)
    assert max(files_per_dir(pq)) == 1
    similarity.append_pq_index(edelta, str(pq))
    assert max(files_per_dir(pq)) <= 2

    ivfpq = tmp_path / "ivfpq"
    similarity.build_ivfpq_index(
        eold, str(ivfpq), cents, dim=16, m=4, ksub=8, n_iters=3, n_vecs=250
    )
    assert max(files_per_dir(ivfpq)) == 1
    similarity.append_ivfpq_index(edelta, str(ivfpq))
    assert max(files_per_dir(ivfpq)) <= 2

    labels = tmp_path / "labels"
    build_cluster_labels(
        docs.select(
            F.col("doc_id").alias("id"),
            (F.col("doc_id") - F.col("doc_id") % 7).alias("cluster_id"),
        ),
        str(labels),
        n_subparts=4,
    )
    assert max(files_per_dir(labels)) == 1
    docs.unpersist()
    e.unpersist()


def test_compact_index_cow_rewrite_parity_and_lifecycle(spark, tmp_path):
    """compact_index is the append lifecycle's third verb: after a
    build + 3 appends some pb dirs carry 4 files; compaction must (a)
    leave probe results byte-identical, (b) bring every HEAD partition
    back to one file, (c) keep the PRE-compaction version resolvable
    (time travel) until expire+vacuum reclaims the superseded files,
    and (d) be a no-op when nothing exceeds max_files."""
    from webscrape_neko_jirushi_spark.operators.index_store import compact_index

    docs = synth_documents(spark, 600, dup_frac=0.10).cache()
    idx = str(tmp_path / "lsh")
    dedup.build_lsh_text_index(
        docs.filter(F.col("doc_id") < 300), idx, "text", "doc_id", 16, 4, 5,
        n_subparts=4,
    )
    for lo, hi in ((300, 400), (400, 500), (500, 580)):
        dedup.append_lsh_text_index(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), idx
        )
    delta = docs.filter(F.col("doc_id") >= 580)

    m0 = IndexManifest.load(idx)
    assert max(len(f) for f in m0.partitions.values()) == 4
    assert IndexManifest.partitions_needing_compaction(idx)
    before = sorted(
        map(tuple, dedup.lsh_candidates_incremental(spark, delta, idx).collect())
    )
    rows_before = spark.read.option("basePath", idx).parquet(
        *m0.files_for(m0.partitions)
    ).count()

    n = compact_index(spark, idx)
    assert n > 0
    m1 = IndexManifest.load(idx)
    assert m1.version == m0.version + 1
    assert max(len(f) for f in m1.partitions.values()) == 1
    assert sorted(m1.partitions) == sorted(m0.partitions)
    after = sorted(
        map(tuple, dedup.lsh_candidates_incremental(spark, delta, idx).collect())
    )
    assert before == after
    rows_after = spark.read.option("basePath", idx).parquet(
        *m1.files_for(m1.partitions)
    ).count()
    assert rows_before == rows_after
    # time travel: every pre-compaction file still on disk
    assert all(
        (Path(idx) / f).exists()
        for files in m0.partitions.values()
        for f in files
    )

    # reclaim: drop old versions, vacuum superseded files, probe intact
    IndexManifest.expire_versions(idx, keep_last=1)
    assert IndexManifest.vacuum(idx, older_than_sec=0) > 0
    again = sorted(
        map(tuple, dedup.lsh_candidates_incremental(spark, delta, idx).collect())
    )
    assert before == again
    # idempotent: a compacted index has nothing above max_files
    assert compact_index(spark, idx) == 0
    docs.unpersist()


def test_commit_cas_and_concurrent_serialization(tmp_path):
    """Optimistic concurrency: expected_version pins a COW commit to
    the version its file dict was derived from (CommitConflict on a
    moved HEAD), and racing re-list commits serialize under the flock
    — every writer gets a distinct version, HEAD ends at the max."""
    import threading

    import pytest

    from webscrape_neko_jirushi_spark.operators.index_store import (
        CommitConflict,
    )

    root = tmp_path / "idx"
    (root / "bucket=1").mkdir(parents=True)
    (root / "bucket=1" / "part-0.parquet").write_bytes(b"x")
    m1 = IndexManifest.commit(root, "bucket", meta={"bits": 3})

    # CAS success at the matching version, conflict on a stale one
    m2 = IndexManifest.commit(
        root, "bucket", partitions=dict(m1.partitions),
        expected_version=m1.version,
    )
    assert m2.version == 2
    with pytest.raises(CommitConflict, match="expected v1"):
        IndexManifest.commit(
            root, "bucket", partitions=dict(m1.partitions),
            expected_version=m1.version,
        )
    # conflict commits NOTHING: no manifest file, HEAD untouched
    names = sorted(p.name for p in (root / "_manifests").glob("v*.json"))
    assert names == ["v000001.json", "v000002.json"]
    assert (root / "_HEAD").read_text() == "v000002.json"

    # racing re-list commits: distinct versions, no clobbering
    n_writers, errs = 8, []

    def write(i):
        try:
            (root / "bucket=1" / f"part-{i + 1}.parquet").write_bytes(b"y")
            IndexManifest.commit(root, "bucket")
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    final = IndexManifest.load(root)
    assert final.version == 2 + n_writers  # every commit got its own version
    versions = sorted(p.name for p in (root / "_manifests").glob("v*.json"))
    assert len(versions) == 2 + n_writers
    # the last version saw every writer's file (re-list semantics)
    assert len(final.files_for([1])) == 1 + n_writers


def test_staged_append_tree_equals_manifest_and_crash_litter(spark, tmp_path):
    """Job-scoped staged writes: after a build + two staged appends,
    the partition tree contains EXACTLY the files the HEAD manifest
    names (nothing for a re-list to mis-adopt, no stray data); a
    crashed stage (written but never committed) lives only under
    _staging, invisible to readers, and vacuum reclaims it."""
    e = _embeddings(spark)
    idx = str(tmp_path / "ann")
    similarity.build_ann_index(e, idx, dim=64, bits=6, seed=7)
    similarity.append_ann_index(
        e.withColumn("vec_id", F.col("vec_id") + 10_000), idx
    )
    similarity.append_ann_index(
        e.withColumn("vec_id", F.col("vec_id") + 20_000), idx
    )
    m = IndexManifest.load(idx)
    def live_files():
        return {
            str(p.relative_to(idx))
            for p in Path(idx).rglob("*.parquet")
            if str(p.relative_to(idx)).startswith("bucket=")
        }

    on_disk = live_files()
    in_manifest = {f for files in m.partitions.values() for f in files}
    assert on_disk == in_manifest  # exact: no unreferenced data files

    # a killed writer: staged but never committed
    stage, files = IndexManifest.stage_write(
        e.withColumn("vec_id", F.col("vec_id") + 30_000).withColumn(
            "bucket", F.lit(0)
        ),
        idx,
        "bucket",
    )
    assert files and Path(stage).is_dir()
    # live tree and HEAD untouched; probes resolve only manifest files
    assert IndexManifest.load(idx).version == m.version
    assert live_files() == in_manifest
    # vacuum reclaims the orphaned staging tree
    assert IndexManifest.vacuum(idx, older_than_sec=0) >= 1
    assert not (Path(idx) / "_staging").exists()
