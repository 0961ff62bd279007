#!/usr/bin/env python3
"""Scale-growth evidence for the near-dup / similarity family.

The banded LSH plans' core claim — candidate generation is an
equi-join on bucket keys, so cost grows ~linearly with corpus size,
never O(n^2) — is proven here by MEASUREMENT, not plan shape: each
flagship near-dup pipeline runs on deterministic synthetic corpora at
1x / 3x / 10x the sf0.1 scale (same duplicate density at every size;
see ``sources/synth_corpus.py``), all in one Spark session with a
pinned shuffle-partition count, and the observed wall-time growth is
compared against the 10x size ratio. A quadratic plan would show
~100x growth from 1x to 10x; the banded plans should stay near 10x
(modulo the fixed per-query planning floor, reported separately via
the tiny 0-th warmup leg).

Usage:
    SPARK_GRAFT_CPUS=32 python BENCH/run_dedup_scale.py
Env:
    DEDUP_SCALE_BASE_DOCS  (default 6000)   1x document count
    DEDUP_SCALE_BASE_VECS  (default 2000)   1x embedding count
    DEDUP_SCALE_FACTORS    (default 1,3,10) comma-separated factors
    DEDUP_SCALE_DIR        (default /tmp/dedup_scale) corpus cache

Writes BENCH/DEDUP_SCALE.md and prints one JSON line.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from webscrape_neko_jirushi_spark.crawl import revisit, traps  # noqa: E402
from webscrape_neko_jirushi_spark.operators import (  # noqa: E402
    anchors,
    dedup,
    graph,
    similarity,
)
from webscrape_neko_jirushi_spark.operators import merge as merge_ops  # noqa: E402
from webscrape_neko_jirushi_spark.text import collocations, invindex  # noqa: E402
from webscrape_neko_jirushi_spark.operators.index_store import IndexManifest  # noqa: E402
from webscrape_neko_jirushi_spark.session import get_spark  # noqa: E402
from webscrape_neko_jirushi_spark.sources.synth_corpus import (  # noqa: E402
    synth_documents,
    synth_embeddings,
)
from webscrape_neko_jirushi_spark.sources import warc  # noqa: E402
from webscrape_neko_jirushi_spark.text import (  # noqa: E402
    analysis,
    classifier,
    curation,
    dsir,
    extraction,
    linededup,
    lm,
    packing,
    ranking,
    repetition,
    substrings,
)

DIM = 64  # matches the driver embeddings table


def _ann_index_bits(n_vecs: int) -> int:
    """Index partition count sized for ~256-vector expected bucket
    occupancy (at real scale: partition directories of useful size),
    clamped so the local-FS directory count stays sane in this bench."""
    import math

    return max(4, min(12, math.ceil(math.log2(max(n_vecs, 2) / 256))))


DELTA_DOCS = 60  # fixed-size crawl delta for the incremental text legs
DELTA_VECS = 20  # fixed-size delta for the incremental embedding leg


def _doc0_trigram() -> list[str]:
    """First three tokens of synth doc 0, recomputed driver-side with
    the corpus generator's own md5 formula (synth_corpus._u32 with the
    default seed) — a guaranteed-present probe phrase without scanning
    the corpus for it."""
    import hashlib

    def u32(*args: str) -> int:
        return int(hashlib.md5("|".join(args).encode()).hexdigest()[:8], 16)

    return [f"w{u32('scale-corpus-1', 'w', '0', str(p)) % 8000}" for p in range(3)]


def _corpora(spark, root: Path, n_docs: int, n_vecs: int) -> dict[str, str]:
    """Generate-once parquet corpora (and the persisted ANN + LSH-text
    indexes) so every timed query starts from a real columnar scan —
    generation and index-build cost excluded from query timings (the
    indexes are derived data, built once per corpus)."""
    from pyspark.sql import functions as FF

    docs = root / f"docs_{n_docs}"
    vecs = root / f"vecs_{n_vecs}"
    idx = root / f"vecs_{n_vecs}_ann{_ann_index_bits(n_vecs)}"
    # rows_per_part=2500 exercises the pb pruning at bench corpus sizes
    # (the 100k default only starts pruning past ~10^7 docs)
    subparts = dedup.lsh_subparts_for(n_docs, rows_per_part=2500)
    # delta holdout encoded in the cache name: changing DELTA_DOCS must
    # invalidate, or a stale index already CONTAINING the "delta" docs is
    # silently reused, violating the disjoint-ids contract
    lsh_idx = root / f"docs_{n_docs}_lsh{subparts}_d{DELTA_DOCS}"
    if not (docs / "_SUCCESS").exists():
        synth_documents(
            spark, n_docs, partitions=max(8, n_docs // 25_000)
        ).drop("base_id").write.mode("overwrite").parquet(str(docs))
    if not (vecs / "_SUCCESS").exists():
        synth_embeddings(
            spark, n_vecs, dim=DIM, partitions=max(8, n_vecs // 25_000)
        ).write.mode("overwrite").parquet(str(vecs))
    if not (idx / "_SUCCESS").exists() or IndexManifest.load(idx) is None:
        # missing OR pre-manifest cache: rebuild from the vectors. The
        # index is derived data and a rebuild is correct by construction
        # — r4 tried to INFER the cached build's bits from the max
        # bucket value instead, which underestimates whenever no bucket
        # has the top bit set and then raises on a perfectly valid
        # cache (ADVICE r4); the manifest now pins bits at build time
        # so the question never arises again.
        import shutil

        if idx.exists():
            shutil.rmtree(idx)
        similarity.build_ann_index(
            spark.read.parquet(str(vecs)),
            str(idx),
            dim=DIM,
            bits=_ann_index_bits(n_vecs),
        )
    if IndexManifest.load(lsh_idx) is None:
        # index over the corpus MINUS the delta tail — the incremental
        # leg then queries the held-out tail as a fresh crawl delta
        dedup.build_lsh_text_index(
            spark.read.parquet(str(docs)).filter(
                FF.col("doc_id") < n_docs - DELTA_DOCS
            ),
            str(lsh_idx),
            "text",
            "doc_id",
            16,
            4,
            5,
            n_subparts=subparts,
        )
    sim_idx = root / f"docs_{n_docs}_sim{subparts}_d{DELTA_DOCS}"
    if IndexManifest.load(sim_idx) is None:
        dedup.build_simhash_index(
            spark.read.parquet(str(docs)).filter(
                FF.col("doc_id") < n_docs - DELTA_DOCS
            ),
            str(sim_idx),
            "text",
            "doc_id",
            n_subparts=subparts,
        )
    emb_bits = similarity.lsh_bits_for(n_vecs)
    emb_sub = dedup.lsh_subparts_for(n_vecs, rows_per_part=2500)
    emb_idx = root / f"vecs_{n_vecs}_emblsh{emb_bits}_{emb_sub}_d{DELTA_VECS}"
    if IndexManifest.load(emb_idx) is None:
        similarity.build_emb_lsh_index(
            spark.read.parquet(str(vecs)).filter(
                FF.col("vec_id") < n_vecs - DELTA_VECS
            ),
            str(emb_idx),
            dim=DIM,
            n_bands=4,
            bits_per_band=emb_bits,
            n_subparts=emb_sub,
        )
    pq_idx = root / f"vecs_{n_vecs}_pq8x16"
    if IndexManifest.load(pq_idx) is None:
        e = spark.read.parquet(str(vecs))
        books = similarity.pq_train(
            e, DIM, m=8, ksub=16, seed=7, n_vecs=n_vecs
        )
        similarity.build_pq_index(e, str(pq_idx), books)
    ivfpq_idx = root / f"vecs_{n_vecs}_ivfpq16_8x16"
    if IndexManifest.load(ivfpq_idx) is None:
        e = spark.read.parquet(str(vecs))
        cents = similarity.ivf_train_centroids(
            e, n_cells=16, n_iters=3, seed=7, dim=DIM, tol=0.0,
            train_sample=2048, n_vecs=n_vecs,
        )
        similarity.build_ivfpq_index(
            e, str(ivfpq_idx), cents, dim=DIM, m=8, ksub=16, seed=7,
            n_vecs=n_vecs,
        )
    mrg_buckets = max(16, n_docs // 2500)  # bucket ~2500 docs at any scale
    mrg = root / f"docs_{n_docs}_mrg{mrg_buckets}"
    if IndexManifest.load(mrg) is None:
        merge_ops.build_merge_table(
            spark.read.parquet(str(docs)), mrg, "doc_id", mrg_buckets
        )
    inv_buckets = max(16, n_docs // 500)  # bucket ~500 docs' postings
    inv = root / f"docs_{n_docs}_inv{inv_buckets}"
    if IndexManifest.load(inv) is None:
        invindex.build_inverted_index(
            spark.read.parquet(str(docs)), inv, inv_buckets
        )
    return {
        "docs": str(docs),
        "vecs": str(vecs),
        "ann": str(idx),
        "lsh": str(lsh_idx),
        "sim": str(sim_idx),
        "emb": str(emb_idx),
        "pq": str(pq_idx),
        "ivfpq": str(ivfpq_idx),
        "mrg": str(mrg),
        "inv": str(inv),
    }


def _queries(spark, paths: dict[str, str], n_docs: int, n_vecs: int):
    """The flagship near-dup pipelines, parameterized exactly like the
    driver headline queries (16 minhashes / 4x4 bands, jaccard >= 0.5,
    simhash hamming <= 6 via 7-band pigeonhole, 4x8 hyperplane LSH +
    cosine >= 0.99)."""
    docs = spark.read.parquet(paths["docs"])
    vecs = spark.read.parquet(paths["vecs"])
    idx_path, lsh_idx_path = paths["ann"], paths["lsh"]
    pq_idx_path = paths["pq"]

    def exact_dedup_groups():
        fp = docs.select("doc_id", analysis.fingerprint(F.col("text")).alias("fp"))
        return dedup.duplicate_groups(fp, "fp", "doc_id")

    def minhash_lsh_pairs():
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        return dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)

    def ngram_jaccard():
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
        return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 5, 0.5, cands)

    def containment_cands():
        # X44: containment verify DRIVEN by the LSH candidate pairs
        # (the planted 10% near-dups): the same candidate verify over
        # shingle sets as the jaccard leg, different final ratio —
        # measures the asymmetric verify's growth on the same pair
        # stream
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
        return dedup.containment_pairs(
            docs, "text", "doc_id", 5, 0.8, candidates=cands
        )

    def simhash_pairs():
        # 60-bit signature: 7 bands of ~8.6 bits — random band
        # collisions ~n^2/2^8.6 make this the small/mid-scale form
        sigs = dedup.simhash_signatures(docs, "text", "doc_id")
        return dedup.simhash_banded_pairs(sigs, "doc_id", max_hamming=6)

    def simhash_wide_pairs():
        # 120-bit signature: 4x15-bit + 3x20-bit bands — the web-scale form
        # (~156x fewer random band collisions, same exactness)
        sigs = dedup.simhash_signatures_wide(docs, "text", "doc_id")
        return dedup.simhash_wide_banded_pairs(sigs, "doc_id")

    def near_dup_clusters():
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 5, 0.5, cands)
        return dedup.connected_components(pairs)

    def embedding_near_dups():
        e = vecs.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        # bucket count sized to the corpus — a FIXED bits_per_band
        # makes occupancy grow with n and re-introduces the quadratic
        bits = similarity.lsh_bits_for(n_vecs)
        cands = similarity.banded_lsh_candidates(
            e, dim=DIM, n_bands=4, bits_per_band=bits
        )
        return dedup.embedding_near_dups(e, tau=0.99, candidates=cands)

    def semantic_dedup_cscaled():
        # X27: SemDeDup with the centroid count scaled to the corpus
        # (C = n/256): sum(n_c^2) ~ n x 256 stays LINEAR only because
        # C grows — a fixed C would be the hidden quadratic, exactly
        # the lsh_bits_for lesson. Seed centroids (first C vectors)
        # stand in for trained ones: assignment cost, the within-cell
        # pair join, and the flag join are what's measured. The assign
        # stage auto-switches to the Arrow matmul form past 128 cells.
        e = vecs.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        n_cells = max(8, n_vecs // 256)
        cents = [
            [float(x) for x in r["embedding"]]
            for r in e.filter(F.col("vec_id") < n_cells).collect()
        ]
        flags = dedup.semantic_dedup(e, cents, tau=0.92)
        return flags.agg(
            F.count("*").alias("n"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
        )

    def bpe_train_m5():
        # X29: 5 BPE merge rounds over the distinct-word table. The
        # corpus-proportional part is the ONE word-frequency reduce;
        # each round is vocabulary-proportional (synth docs draw from
        # a bounded generator vocabulary, so rounds approach flat as
        # the type table saturates — the Zipf shape real corpora show)
        from webscrape_neko_jirushi_spark.text import bpe

        return bpe.bpe_train(
            bpe.word_frequencies(docs), n_merges=5, min_freq=2
        )

    def corpus_shuffle():
        # X28: seeded permutation (range exchange on the portable
        # hash) + the bucketed two-phase global sequence — expected
        # ~linear; the terminal max(seq) forces the offset join
        shuffled = curation.deterministic_shuffle(docs, "epoch-1", "doc_id")
        from webscrape_neko_jirushi_spark.operators import reorganize

        seqd = reorganize.global_sequence(shuffled, "shuffle_key", buckets=32)
        return seqd.agg(
            F.max("seq").alias("last_seq"), F.count("*").alias("n")
        )

    # one deterministic query vector (vec 1's embedding) — constant
    # across sizes so probe cost differences come from the index alone
    query_vec = [
        float(x)
        for x in vecs.filter(F.col("vec_id") == 1).first()["embedding"]
    ]

    def ann_probe_indexed():
        # expected ~FLAT vs corpus size: probed-bucket files resolve
        # from one IndexManifest read (no partition-tree listing) and
        # their occupancy the index-bits sizing holds ~constant
        return similarity.ann_topk_indexed(spark, idx_path, query_vec, k=10)

    def lsh_incremental():
        # fixed 60-doc delta vs the persisted banded index: signing,
        # banding, the pb-pruned index scan and the broadcast all scale
        # with the DELTA — expected ~flat while the full-rebuild twin
        # (minhash_lsh_pairs) grows with the corpus
        delta = docs.filter(F.col("doc_id") >= n_docs - DELTA_DOCS)
        return dedup.lsh_candidates_incremental(spark, delta, lsh_idx_path)

    def ivf_train():
        # 3 Lloyd rounds x 16 cells: per round one corpus scan + one
        # C x dim aggregate — expected ~linear growth in n (the init
        # sample is a constant-size TakeOrdered). Returns the centroid
        # list (driver-side by design), not a DataFrame.
        return similarity.ivf_train_centroids(
            vecs, n_cells=16, n_iters=3, seed=7, dim=DIM, tol=0.0
        )

    def pq_probe():
        # asymmetric-distance probe over the persisted PQ code table:
        # a full scan by design, but of m smallints per vector instead
        # of the float32 embedding — expected growth ~linear in n with
        # a far smaller constant than any full-precision scan
        return similarity.pq_topk_indexed(spark, pq_idx_path, query_vec, k=10)

    def ivfpq_probe():
        # nprobe cell partitions of smallint codes, manifest-resolved:
        # partition pruning AND compression — expected ~flat like the
        # ann probe, with the per-cell scan shrinking as cells split
        # the corpus (nprobe/C of the rows, 8 smallints per row)
        return similarity.ivfpq_topk(
            spark, paths["ivfpq"], query_vec, k=10, nprobe=2
        )

    def interleave_mix():
        # X20: stride-scheduled 3:1 mix of the corpus's two halves.
        # buckets=32 pins global_sequence's bucketed two-phase ranking
        # at EVERY tier (the auto gate would pick the single window
        # below 2M rows) so the measured plan is the scale path:
        # one approxQuantile sketch + 32 parallel windows + a
        # broadcast offset join per source — expected ~linear
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        return curation.weighted_interleave(
            {"a": (a, 3.0), "b": (b, 1.0)}, "doc_id", buckets=32
        )

    def substr_dup():
        # X22: stride-1 8-gram inversion over the whole corpus —
        # ~n x 33 hashed window rows (8-byte payload) through one
        # hash-keyed aggregate + join back, rolled up per doc.
        # Expected ~linear; the planted near-dups give every corpus
        # a real duplicated-span population. The terminal sum FORCES
        # the joins: a bare count() lets Catalyst eliminate the
        # cardinality-preserving unique-key left joins and measures
        # nothing but the id scan
        return substrings.substr_dup_ratio(docs, k=8).agg(
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_dup_grams").alias("n_dup_grams"),
        )

    def pack_seq():
        # X23: concat-then-chunk packing at budget 256. buckets=32
        # pins the bucketed two-phase prefix sum at EVERY tier (the
        # scale plan: one approxQuantile sketch + 32 parallel window
        # sums + a broadcast offset join), same rationale as
        # interleave_mix. The terminal agg forces the explode and
        # the offset arithmetic; expected ~linear
        return packing.pack_sequences(docs, 256, buckets=32).agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.max("seq_id").alias("last_seq"),
            F.count("*").alias("fragments"),
        )

    def gopher_stats():
        # X24: top-2/3-gram repetition profile — one hashed explode
        # (~2n x 16-byte rows) through one hash aggregate with the
        # in-aggregate struct-max winner, then the doc-side join.
        # Terminal agg forces the winners; expected ~linear
        return repetition.repetition_stats(docs, ngrams=(2, 3)).agg(
            F.sum("n_words").alias("n_words"),
            F.round(F.avg("dup_word_frac"), 4).alias("avg_dup"),
            F.round(F.avg("top2gram_frac"), 4).alias("avg_top2"),
        )

    def contamination_fixed_bench():
        # X26: a FIXED 60-doc benchmark against the growing corpus —
        # the eval set does not grow with the training data, so the
        # broadcast gram semi-join should keep this ~corpus-scan-
        # linear (the map-side filter), never a shuffle of the corpus
        bench = docs.filter(F.col("doc_id") < DELTA_DOCS)
        return substrings.contamination_stats(docs, bench, k=8).agg(
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_contaminated").alias("n_contaminated"),
        )

    def ivf_train_sub():
        # the 100-TB training path: same 3 Lloyd rounds, but over a
        # FIXED ~2048-vector hash-filtered subset (one corpus-scan
        # filter + localCheckpoint, then sample-sized rounds) — the
        # per-round cost no longer grows with the corpus, so expected
        # growth ~ the one filter scan, flatter than ivf_train_c16
        return similarity.ivf_train_centroids(
            vecs, n_cells=16, n_iters=3, seed=7, dim=DIM, tol=0.0,
            train_sample=2048, n_vecs=n_vecs,
        )

    def simhash_incremental():
        # the simhash twin of lsh_incremental: the fixed delta is
        # signed/banded alone and Hamming-verified against signatures
        # stored in the pb-pruned index rows
        delta = docs.filter(F.col("doc_id") >= n_docs - DELTA_DOCS)
        return dedup.simhash_candidates_incremental(spark, delta, paths["sim"])

    def emb_incremental():
        # the embedding member: 20 new vectors banded with the
        # manifest's pinned planes, verified against vectors stored in
        # the scanned band rows — no corpus re-projection
        delta = vecs.filter(F.col("vec_id") >= n_vecs - DELTA_VECS)
        return similarity.emb_near_dups_incremental(
            spark, delta, paths["emb"], tau=0.99
        )

    def lm_ppl_score():
        # X31: train the add-k bigram LM (two hash aggregates; the
        # synth generator's bounded vocabulary makes the model table
        # approach constant size, the Zipf shape real corpora show)
        # and score the full corpus through the broadcast model joins
        # — expected ~linear in corpus tokens. Terminal agg forces
        # the scoring joins
        return lm.lm_perplexity(docs).agg(
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
        )

    def pagerank_i3():
        # X32: 3 PageRank rounds over a deterministic 4-out-degree
        # synthetic graph on the doc ids (dst = (id*m + o) mod n) —
        # per round one equi-join against the checkpointed edge table
        # + one hash aggregate, so expected ~linear in edges; the
        # per-round scalar collects are the constant floor
        n = n_docs
        muls = ((2, 1), (3, 7), (5, 13), (7, 29))
        edges = docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(*[(F.col("doc_id") * m + o) % n for m, o in muls])
            ).alias("dst"),
        )
        return graph.pagerank(edges, n_iters=3, n_nodes=n)

    def logreg_train_i2():
        # X33: hashed featurization (one explode + one aggregate) +
        # 2 full-batch GD rounds (two aggregates each over the
        # checkpointed feature rows) — expected ~linear in corpus
        # tokens; the dim+1 driver collect per round is constant
        lab = docs.withColumn("y01", (F.col("doc_id") % 2).cast("int"))
        feats = classifier.hashed_features(lab, dim=64, label_col="y01")
        w, b = classifier.train_logreg(
            feats, dim=64, n_iters=2, n_docs=n_docs
        )
        return [w, b]

    def bm25_probe():
        # X38: literal-4-term BM25 — two map-side scans (the 1-row
        # integer stats aggregate + the scoring projection), zero
        # corpus shuffle; the terminal agg forces the scoring scan.
        # Expected ~linear with a small constant
        return ranking.bm25_scores(docs, ["w1", "w5", "w9", "x3"]).agg(
            F.sum("n_matched").alias("n_matched"),
            F.round(F.sum("bm25"), 2).alias("sum_bm25"),
        )

    def anchor_agg():
        # X37: 4-out-degree synthetic link graph on the doc ids (the
        # pagerank_i3 edge shape) with each doc's leading text as the
        # anchor — one tokenize+explode over 4n edges, the (dst, term)
        # count + winner-in-aggregate, the edge-level agg, and the
        # dst-keyed join; terminal agg forces the winners. ~linear in
        # edges
        n = n_docs
        muls = ((2, 1), (3, 7), (5, 13), (7, 29))
        edges = docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(*[(F.col("doc_id") * m + o) % n for m, o in muls])
            ).alias("dst"),
            F.substring("text", 1, 40).alias("anchor"),
        )
        return anchors.anchor_stats(edges).agg(
            F.sum("n_inlinks").alias("n_inlinks"),
            F.countDistinct("top_term").alias("n_top_terms"),
        )

    def trap_hosts():
        # X35: synthetic fetch log over the doc ids (host = id%40,
        # with the driver query's calendar/depth/mirror trap shapes)
        # — one regex projection + one multi-count-distinct per-host
        # aggregate; output is the 40-row host table. ~linear
        hid = F.col("doc_id") % 40
        k = F.col("doc_id")
        path = (
            F.when(
                hid == 7,
                F.concat(
                    F.lit("/cal/"),
                    (k % 997).cast("string"),
                    F.lit("/"),
                    (k % 89).cast("string"),
                ),
            )
            .when(
                hid == 13,
                F.concat(
                    F.lit("/d/1/2/3/4/5/6/7/8/9/"), (k % 5).cast("string")
                ),
            )
            .when(
                hid == 21, F.concat(F.lit("/p/"), (k % 150).cast("string"))
            )
            .otherwise(
                F.concat(F.lit("/cat/"), (k % 200).cast("string"))
            )
        )
        log = docs.select(
            F.concat(
                F.lit("https://h"),
                hid.cast("string"),
                F.lit(".scale.test"),
                path,
            ).alias("url"),
            F.when(hid == 21, F.lit("dup"))
            .otherwise(F.md5(k.cast("string")))
            .alias("fingerprint"),
        )
        return traps.flag_traps(
            traps.host_trap_stats(log, fingerprint_col="fingerprint")
        )

    def revisit_stats():
        # X34: per-page lag window over an n-row fetch log with n/8
        # pages (8 fetches each — per-page sorts stay tiny at every
        # tier) + the per-page aggregate; terminal agg forces both
        pages = max(1, n_docs // 8)
        log = docs.select(
            (F.col("doc_id") % pages).alias("url"),
            F.col("doc_id").alias("seq"),
            (F.col("doc_id") % 7).alias("ts"),
            (F.col("doc_id") % 3).cast("double").alias("fingerprint"),
        )
        return revisit.change_stats(
            log, id_col="url", ts_col="ts", seq_col="seq"
        ).agg(
            F.sum("n_fetches").alias("n_fetches"),
            F.sum("n_changes").alias("n_changes"),
        )

    def line_dedup_stats():
        # X41: corpus-wide line dedup over the same docs re-lined
        # every 8 words (one regex projection) — one posexplode, the
        # md5-keyed verdict aggregate with the in-aggregate first-
        # instance winner, the dup-key join back, and the per-doc
        # reassembly; the planted near-dups guarantee a real
        # duplicated-line population at every tier. Terminal agg
        # forces the reassembly; expected ~linear
        relined = docs.select(
            "doc_id",
            F.regexp_replace(
                F.col("text"), r"((?:\S+\s+){7}\S+)\s+", "$1\n"
            ).alias("text"),
        )
        return linededup.line_dedup(
            relined, min_chars=10, min_dup_docs=2
        ).agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_kept").alias("n_kept"),
        )

    def shard_balance():
        # X42: token-balanced sharding into 64 shards, bucketed
        # prefix sum pinned at every tier (the scale plan) with the
        # n_rows hint (no probe job); the per-shard rollup both
        # forces the assignment and surfaces the balance bound
        sh = packing.assign_shards(docs, 64, buckets=32, n_rows=n_docs)
        return (
            sh.groupBy("shard_id")
            .agg(F.sum("n_tokens").alias("t"))
            .agg(
                F.count("*").alias("n_shards"),
                F.min("t").alias("min_tokens"),
                F.max("t").alias("max_tokens"),
            )
        )

    def canonical_keep():
        # X45: quality-argmax keep policy downstream of the full
        # near-dup pipeline — the added cost over near_dup_clusters is
        # one labels-sized join + per-cluster aggregate + the two
        # corpus-vs-labels joins of keep_canonical; expected ~the
        # clusters leg's growth (the pipeline dominates)
        sigs = dedup.minhash_signatures(docs, "text", "doc_id", 16, 5)
        cands = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 5, 0.5, cands)
        labels = dedup.connected_components(pairs)
        d = docs.withColumn("q", F.length("text"))
        return dedup.keep_canonical(d, labels, "q").agg(
            F.count("*").alias("n_kept"), F.sum("q").alias("chars")
        )

    def dsir_score():
        # X47: two dim-bounded count aggregates (model estimation) +
        # the zero-shuffle map-side scoring fold + gumbel top-100;
        # expected ~linear (two corpus scans, dim=1024 literals)
        tgt = docs.filter(F.col("doc_id") % 10 == 0)
        lr = dsir.dsir_log_ratios(docs, tgt, 1024)
        scored = dsir.dsir_importance(docs, lr)
        return dsir.gumbel_topk(scored, 100)

    def html_extract():
        # X46: markup wrapper + the full strip/decode/normalize regex
        # chain + title/links — one map-side scan, zero shuffles;
        # expected ~linear (regex cost per char)
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit("<html><head><title>D "),
                F.col("doc_id").cast("string"),
                F.lit("</title><style>p:red</style></head><body>"
                      "<!-- c --><script>var a=1<2;</script><p>"),
                F.col("text"),
                F.lit('</p><a href="/d/'),
                F.col("doc_id").cast("string"),
                F.lit('">n</a></body></html>'),
            ).alias("html"),
        )
        return extraction.extraction_profile(pages).agg(
            F.count("*").alias("n"),
            F.sum(F.length("text")).alias("chars"),
            F.sum("n_links").alias("links"),
        )

    def warc_roundtrip():
        # X48: frame the corpus into 64 WARC shards and parse back —
        # both directions are per-shard Python over Arrow batches;
        # expected ~linear, shard count fixed (the real knob is
        # files-per-corpus, which scales with data at CC layouts)
        blobs = warc.docs_to_warc(docs, n_shards=64).select(
            F.col("shard").cast("string").alias("path"), "content"
        )
        return warc.parse_warc_blobs(blobs).agg(
            F.count("*").alias("n"),
            F.sum("content_length").alias("bytes"),
        )

    def range_join_points():
        # X49: bucketized range join — points scale with the corpus,
        # the 256-range side is fixed; expected ~linear (equi-join on
        # bucket + residual filter; explode factor O(1) per range)
        from webscrape_neko_jirushi_spark.functions.hashing import (
            portable_hash64,
        )
        from webscrape_neko_jirushi_spark.operators.temporal import (
            range_join,
        )

        w = 1 << 24
        pts = docs.select(
            "doc_id",
            (
                portable_hash64(F.col("doc_id").cast("string"), salt="ip")
                % F.lit(4294967296)
            ).alias("ip"),
        )
        rng = spark.range(256).select(
            (F.col("id") + 64500).alias("asn"),
            (F.col("id") * w).alias("lo"),
            (F.col("id") * w + ((F.col("id") % 3) + 1) * w - 1).alias("hi"),
        )
        return (
            range_join(pts, rng, "ip", bucket_width=w)
            .groupBy("asn")
            .agg(F.count("*").alias("n"))
        )

    def pca_train_project():
        # X51: the full PCA path — one Arrow moments pass (partition-
        # sized partials), the d^2 reduce, driver eigh, then the
        # map-side projection fold over the corpus; expected ~linear
        # (two corpus scans, model is 8x64 literals)
        from webscrape_neko_jirushi_spark.operators import projection

        e = vecs.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        m = projection.pca_train(e, DIM, 8)
        return projection.pca_project(e, m, whiten=True).agg(
            F.count("*").alias("n"),
            F.sum(F.element_at("proj", 1)).alias("s1"),
        )

    def curate_e2e():
        # X54: the four-stage curation composition — repair, exact
        # dedup, line dedup, admission; cost = the component legs'
        # (fix_encoding map + md5 window + line_dedup_l8 + cascade);
        # expected ~the line_dedup leg's growth (it dominates)
        return curation.curate_corpus(
            docs, carry_cols=(), reline_words=8, min_chars=10,
            min_dup_docs=2,
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_admitted"),
            F.sum("n_tokens").alias("tokens"),
        )

    def merge_delta_upsert():
        # X58: fixed DELTA_DOCS-doc re-fetch delta merged COW into the
        # bucketed corpus table — touched buckets <= delta keys, each
        # ~2500 docs at ANY size (n_buckets scales with n), read and
        # rewritten via the manifest; expected ~FLAT like
        # ann_probe_indexed. Returns the touched bucket list
        # (driver-side by design, bounded by n_buckets).
        delta = docs.filter(F.col("doc_id") >= n_docs - DELTA_DOCS).select(
            "doc_id", F.concat(F.lit("refetch "), F.col("text")).alias("text")
        )
        return merge_ops.merge_into(spark, paths["mrg"], delta)["touched"]

    def scd2_docs_epoch():
        # X58 SCD2: ONE full-outer join on the key + unions over a 10%
        # planted-change batch — expected ~linear
        hist0 = merge_ops.scd2_init(docs.select("doc_id", "text"), epoch=0)
        ups = docs.filter(F.col("doc_id") % 10 == 0).select(
            "doc_id", F.concat(F.lit("v2 "), F.col("text")).alias("text")
        )
        h1 = merge_ops.scd2_apply(hist0, ups, "doc_id", ["text"], epoch=1)
        return h1.groupBy("is_current").agg(F.count("*").alias("n"))

    def redirect_chains_h12():
        # X59: pointer doubling over mod-10 descending chains — the
        # round count is FIXED (ceil(log2(12))+1 = 5) at any n, each
        # round one self equi-join over ~n rows → expected ~linear
        edges = docs.select(
            F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
        ).filter(F.col("src") % 10 != 0)
        return graph.resolve_redirects(edges, max_hops=12)

    def phrase_probe_inv():
        # X60: 3-term phrase probe through the IndexManifest — resolves
        # <=3 term buckets, each ~20k postings at ANY corpus size
        # (bucket count scales with n); the probed terms' own postings
        # grow ~n/vocab, so expected ~flat with a shallow linear tail
        return invindex.phrase_match_indexed(
            spark, paths["inv"], _doc0_trigram()
        )

    def pmi_window3():
        # X61: the linear co-occurrence form (explode x3 + ONE
        # equi-join + pair-keyed agg); vocabulary fixed at 8000 so the
        # pair table is bounded and counts grow ~linearly
        out = collocations.pmi_collocations(docs, window=3, min_count=2)
        return out.agg(
            F.count("*").alias("pairs"),
            F.sum("cnt").cast("long").alias("occ"),
        )

    def fuzzy_pairs_d1():
        # X66: pigeonhole-segment fuzzy join at d=1 over the synthetic
        # texts (unique ~250-char bodies): segment buckets barely
        # collide, so cost is the map-side candidate generation +
        # equi-join — expected ~linear
        from webscrape_neko_jirushi_spark.text import fuzzyjoin

        return fuzzyjoin.fuzzy_self_pairs(docs, "doc_id", "text", 1).agg(
            F.count("*").alias("pairs")
        )

    def heavy_hitters_mg():
        # X75: exact top-5 via the Misra-Gries candidate pass over a
        # planted 30/70 skew (7 heavy keys carry ~30% of rows, the
        # rest are uniques — the worst case for summary decrements).
        # D <= N/(k+1) while the heavy counts grow ~0.3n/7, so the
        # certification clears at every tier; expected ~linear (two
        # scans, sketch-row-only shuffles)
        from webscrape_neko_jirushi_spark.operators import heavyhitters

        keyed = docs.select(
            F.when(F.col("doc_id") % 10 < 3, F.col("doc_id") % 7)
            .otherwise(F.col("doc_id"))
            .alias("key")
        )
        return heavyhitters.heavy_hitters_exact(keyed, "key", m=5, k=4096)

    def source_overlap_b128():
        # X76: bottom-k source-overlap over 20 synthetic sources
        # (doc_id % 20): the distinct (source, shingle-hash) scan
        # dominates and the lossless map-side prune caps the ranking
        # shuffle at k x tasks x sources — expected ~linear with the
        # 190-pair output constant
        from webscrape_neko_jirushi_spark.text import overlap

        d = docs.select(
            (F.col("doc_id") % 20).cast("string").alias("source"), "text"
        )
        sh = overlap.source_shingle_hashes(d)
        return overlap.source_overlap_bottomk(
            overlap.bottomk_signatures(sh, k=128), k=128
        )

    def caption_mining_g2():
        # X78: interleaved caption mining over spans nested MAP-SIDE
        # from each doc's first 30 words (kind = i % 3, every third
        # span a media ref) — one explode + one (doc, offset) window,
        # expected ~linear
        from webscrape_neko_jirushi_spark.operators import interleave

        words = F.slice(F.split(F.col("text"), " "), 1, 30)
        spans = F.transform(
            words,
            lambda w, i: F.struct(
                F.when(i % 3 == 2, F.lit("image"))
                .otherwise(F.lit("text"))
                .alias("kind"),
                F.when(~(i % 3 == 2), w).alias("text"),
                F.when(i % 3 == 2, F.concat(F.lit("img://"), w)).alias(
                    "media_ref"
                ),
                i.cast("int").alias("offset"),
            ),
        )
        nested = docs.select("doc_id", spans.alias("spans"))
        return interleave.mine_captions(nested, max_gap=2)

    def interleaved_near_dups_g():
        # X81: both-modality near-dups over spans nested map-side
        # (same construction as caption_mining_g2, last word of each
        # doc reused as a shared media ref so the media leg has real
        # intersections): X5 banding for the text leg + candidate-
        # driven media verify — expected ~linear like simhash_wide
        from webscrape_neko_jirushi_spark.operators import interleave

        words = F.slice(F.split(F.col("text"), " "), 1, 24)
        spans = F.transform(
            words,
            lambda w, i: F.struct(
                F.when(i % 4 == 3, F.lit("image"))
                .otherwise(F.lit("text"))
                .alias("kind"),
                F.when(~(i % 4 == 3), w).alias("text"),
                F.when(i % 4 == 3, F.concat(F.lit("img://"), w)).alias(
                    "media_ref"
                ),
                i.cast("int").alias("offset"),
            ),
        )
        nested = docs.select("doc_id", spans.alias("spans"))
        # n_docs hint resolves the width auto-gate with zero probe
        # jobs: the 600k-doc tier takes the 120-bit wide path — the
        # 60-bit bands are out of their scale contract there, exactly
        # like the harness's own simhash_pairs exclusion rule
        return interleave.interleaved_near_dups(
            nested, max_hamming=6, min_media_jaccard=0.3, n_docs=n_docs
        ).agg(F.count("*").alias("pairs"))

    def linearize_b16():
        # X87: interleaved docs rendered to budget-truncated training
        # token streams — sort/render/cost/fold all array HOFs inside
        # the row, zero added shuffle; expected ~linear (scan-bound),
        # same map-side span nesting as interleaved_near_dups_g
        from webscrape_neko_jirushi_spark.operators import interleave

        words = F.slice(F.split(F.col("text"), " "), 1, 24)
        spans = F.transform(
            words,
            lambda w, i: F.struct(
                F.when(i % 4 == 3, F.lit("image"))
                .otherwise(F.lit("text"))
                .alias("kind"),
                F.when(~(i % 4 == 3), w).alias("text"),
                F.when(i % 4 == 3, F.concat(F.lit("img://"), w)).alias(
                    "media_ref"
                ),
                i.cast("int").alias("offset"),
            ),
        )
        nested = docs.select("doc_id", spans.alias("spans"))
        return interleave.linearize_docs(nested, budget=16).agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum(F.col("truncated").cast("long")).alias("truncated"),
        )

    def urlparam_verdicts():
        # X86: param-significance mining over a fetch-log analog keyed
        # off doc_id (sess neutral, page/sort significant, v constant):
        # distinct-URL digest vote + ~4x explode + two groupBys on
        # wide keys — expected ~linear in the log size (the verdict
        # table itself is O(param names))
        from webscrape_neko_jirushi_spark.crawl import urlparams

        d = F.col("doc_id")
        log = docs.select(
            F.concat(
                F.lit("https://h/x?sess="), (d % 7).cast("string"),
                F.lit("&page="), (d % 50).cast("string"),
                F.lit("&sort="), (d % 3).cast("string"),
                F.lit("&v=1"),
            ).alias("url"),
            F.md5(
                F.concat(
                    (d % 50).cast("string"), F.lit("|"), (d % 3).cast("string")
                )
            ).alias("digest"),
        )
        return urlparams.param_significance(log)

    def ann_multiprobe_idx():
        # X88: margin-ranked probe sequence over the SAME persisted
        # ANN index as ann_probe_indexed — probe budget capped at 16
        # and clamped to the <=2-flip neighbourhood the small
        # occupancy-sized index bits admit (at production 20+ bits the
        # cap itself binds; the Hamming ball this replaces grows
        # C(bits, h)); expected ~flat like the single-bucket probe
        b = _ann_index_bits(n_vecs)
        t = min(16, 1 + b + b * (b - 1) // 2)
        return similarity.ann_topk_indexed(
            spark, idx_path, query_vec, k=10, n_probes=t
        )

    def drift_summary_b64():
        # X79: TVD/L-inf drift between the corpus and its length-
        # filtered refresh (integer-exact decimal reductions) —
        # one union-tag scan + one bucket agg, expected ~linear
        from webscrape_neko_jirushi_spark.operators import drift

        new = docs.filter(F.length("text") % 97 != 0)
        bucket = F.floor(F.length("text") / 64).cast("long")
        return drift.drift_summary(docs, new, bucket)

    def rendezvous_w64():
        # X77: HRW assignment of every doc_id to 64 workers + the
        # per-worker tally — the projection is 64 unrolled hash
        # scores per row in whole-stage codegen, so this measures
        # pure scan+project throughput; expected ~linear
        from webscrape_neko_jirushi_spark.crawl import assign

        return (
            assign.rendezvous_assign(
                docs.select("doc_id"), "doc_id", [f"w{i}" for i in range(64)]
            )
            .groupBy("worker")
            .agg(F.count("*").alias("n_keys"))
        )

    def stitch_pages_p5():
        # X90: every doc split map-side into a 5-page chain with a
        # repeated nav crumb across each break, then reassembled —
        # one lag window + one groupBy reusing the same hash
        # distribution (ONE exchange), expected ~linear
        from webscrape_neko_jirushi_spark.text import stitching

        words = F.split(F.col("text"), " ")
        pages = docs.select(
            F.col("doc_id").alias("base"),
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("page"),
            words.alias("_w"),
        ).select(
            "base",
            "page",
            F.concat(
                F.when(
                    F.col("page") > 1,
                    F.concat(
                        F.lit("crumb-"),
                        F.col("base").cast("string"),
                        F.lit("-"),
                        (F.col("page") - 1).cast("string"),
                        F.lit(" "),
                    ),
                ).otherwise(F.lit("")),
                F.array_join(
                    F.slice(F.col("_w"), (F.col("page") - 1) * 8 + 1, 8), " "
                ),
                F.lit(" crumb-"),
                F.col("base").cast("string"),
                F.lit("-"),
                F.col("page").cast("string"),
            ).alias("text"),
        )
        return stitching.stitch_pages(pages, max_overlap=32)

    def semantic_decontam_e200():
        # X92: FIXED 200-item eval set (the realistic shape: the
        # benchmark is constant, the train corpus grows) vs the n-vec
        # corpus — banded broadcast candidate join + exact verify;
        # cost should track the TRAIN side ~linearly
        from webscrape_neko_jirushi_spark.operators import decontam

        evals = vecs.filter(F.col("vec_id") < 200).select(
            (F.col("vec_id") + 10_000_000).alias("eval_id"),
            F.transform(
                "embedding", lambda x: x.cast("double") * 2.0
            ).alias("embedding"),
        )
        return decontam.semantic_contamination_report(
            vecs,
            evals,
            dim=DIM,
            tau=0.95,
            n_bands=4,
            bits_per_band=similarity.lsh_bits_for(n_vecs),
            train_id="vec_id",
        )

    def takedown_audit_r100():
        # X91: fixed 100-request batch (url/host/prefix/media kinds)
        # vs the n-doc corpus — every match a broadcast equi-join,
        # media counts over map-side nested spans; expected ~linear
        from webscrape_neko_jirushi_spark.operators import takedown

        host = (F.col("doc_id") % 50).cast("string")
        words = F.slice(F.split(F.col("text"), " "), 1, 12)
        spans = F.transform(
            words,
            lambda w, i: F.struct(
                F.when(i % 3 == 2, F.lit("image"))
                .otherwise(F.lit("text"))
                .alias("kind"),
                F.when(~(i % 3 == 2), w).alias("text"),
                F.when(i % 3 == 2, F.concat(F.lit("img://"), w)).alias(
                    "media_ref"
                ),
                i.cast("int").alias("offset"),
            ),
        )
        td_docs = docs.select(
            "doc_id",
            F.concat(
                F.lit("https://h"),
                host,
                F.lit(".example/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            spans.alias("spans"),
        )
        r = F.col("id")
        reqs = spark.range(100).select(
            r.alias("request_id"),
            F.when(r % 4 == 0, F.lit("url"))
            .when(r % 4 == 1, F.lit("host"))
            .when(r % 4 == 2, F.lit("prefix"))
            .otherwise(F.lit("media"))
            .alias("kind"),
            F.when(
                r % 4 == 0,
                F.concat(
                    F.lit("https://h"),
                    ((r * 7) % 50).cast("string"),
                    F.lit(".example/doc/"),
                    (r * 7).cast("string"),
                ),
            )
            .when(
                r % 4 == 1,
                F.concat(
                    F.lit("h"), (r % 50).cast("string"), F.lit(".example")
                ),
            )
            .when(
                r % 4 == 2,
                F.concat(
                    F.lit("https://h"),
                    (r % 50).cast("string"),
                    F.lit(".example/doc/"),
                    (r % 10).cast("string"),
                ),
            )
            .otherwise(
                F.concat(F.lit("img://w"), (r % 500).cast("string"))
            )
            .alias("key"),
        )
        return takedown.takedown_audit(td_docs, reqs)

    qs = {
        "exact_dedup_groups": exact_dedup_groups,
        "minhash_lsh_pairs": minhash_lsh_pairs,
        "ngram_jaccard": ngram_jaccard,
        "containment_cands": containment_cands,
        "simhash_pairs": simhash_pairs,
        "simhash_wide_pairs": simhash_wide_pairs,
        "near_dup_clusters": near_dup_clusters,
        "embedding_near_dups": embedding_near_dups,
        "ann_probe_indexed": ann_probe_indexed,
        "pq_probe_indexed": pq_probe,
        "ivfpq_probe_indexed": ivfpq_probe,
        "semantic_dedup_cscaled": semantic_dedup_cscaled,
        "corpus_shuffle_seq": corpus_shuffle,
        "bpe_train_m5": bpe_train_m5,
        "weighted_interleave_3to1": interleave_mix,
        "substr_dup_ratio_k8": substr_dup,
        "pack_sequences_b256": pack_seq,
        "gopher_stats_2_3": gopher_stats,
        "contamination_fixed_bench": contamination_fixed_bench,
        "ivf_train_c16": ivf_train,
        "ivf_train_sub_c16": ivf_train_sub,
        "lm_perplexity_score": lm_ppl_score,
        "pagerank_i3_deg4": pagerank_i3,
        "logreg_train_i2_d64": logreg_train_i2,
        "bm25_probe_t4": bm25_probe,
        "anchor_agg_deg4": anchor_agg,
        "trap_hosts_h40": trap_hosts,
        "revisit_stats_f8": revisit_stats,
        "line_dedup_l8": line_dedup_stats,
        "shard_balance_s64": shard_balance,
        "canonical_keep": canonical_keep,
        "dsir_score_d1024": dsir_score,
        "html_extract": html_extract,
        "warc_roundtrip_s64": warc_roundtrip,
        "range_join_b24": range_join_points,
        "pca_train_project_k8": pca_train_project,
        "curate_e2e": curate_e2e,
        "merge_delta_upsert": merge_delta_upsert,
        "scd2_epoch_10pct": scd2_docs_epoch,
        "redirect_chains_h12": redirect_chains_h12,
        "phrase_probe_inv": phrase_probe_inv,
        "pmi_window3_m2": pmi_window3,
        "fuzzy_pairs_d1": fuzzy_pairs_d1,
        "lsh_incremental_d60": lsh_incremental,
        "simhash_incremental_d60": simhash_incremental,
        "emb_incremental_d20": emb_incremental,
        "heavy_hitters_mg": heavy_hitters_mg,
        "source_overlap_b128": source_overlap_b128,
        "caption_mining_g2": caption_mining_g2,
        "rendezvous_w64": rendezvous_w64,
        "drift_summary_b64": drift_summary_b64,
        "interleaved_near_dups_g": interleaved_near_dups_g,
        "linearize_b16": linearize_b16,
        "urlparam_verdicts": urlparam_verdicts,
        "ann_multiprobe_idx": ann_multiprobe_idx,
        "stitch_pages_p5": stitch_pages_p5,
        "semantic_decontam_e200": semantic_decontam_e200,
        "takedown_audit_r100": takedown_audit_r100,
    }
    if n_docs > 150_000:
        # the 60-bit banding's candidate set is ~n^2/388 — by design
        # it is the sub-100k form; the wide variant IS the measurement
        # at this size (see simhash_signatures_wide's docstring)
        del qs["simhash_pairs"]
    return qs


def main() -> None:
    base_docs = int(os.environ.get("DEDUP_SCALE_BASE_DOCS", "6000"))
    base_vecs = int(os.environ.get("DEDUP_SCALE_BASE_VECS", "2000"))
    factors = [
        int(x) for x in os.environ.get("DEDUP_SCALE_FACTORS", "1,3,10").split(",")
    ]
    root = Path(os.environ.get("DEDUP_SCALE_DIR", "/tmp/dedup_scale"))
    root.mkdir(parents=True, exist_ok=True)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # ~30 legs x 3 tiers share one JVM, and several legs materialize
    # eager localCheckpoints (lm model, classifier features, CC edge
    # lists). Spark's ContextCleaner frees those blocks only after a
    # JVM GC notices the dropped references — at the default 30min
    # periodicGC the 100x tier can accumulate into the 8g default heap
    # (one observed OOM at logreg's feature checkpoint). Give the
    # bench a production-executor-sized heap and a tight GC cadence.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(
        "dedup-scale",
        shuffle_partitions=64,
        extra_conf={"spark.cleaner.periodicGC.interval": "30s"},
    )

    # DEDUP_SCALE_LEGS=a,b,c runs a subset as a smoke (stderr + JSON
    # only — the evidence file is NOT rewritten from a partial run)
    leg_filter = {
        s for s in os.environ.get("DEDUP_SCALE_LEGS", "").split(",") if s
    }

    def _legs(spark, fp, nd, nv):
        qs = _queries(spark, fp, nd, nv)
        if leg_filter:
            qs = {k: v for k, v in qs.items() if k in leg_filter}
        return qs

    # untimed warmup leg at 1/10 scale: JVM + codegen + parquet reader
    nwd, nwv = max(200, base_docs // 10), max(100, base_vecs // 10)
    wp = _corpora(spark, root, nwd, nwv)
    for fn in _legs(spark, wp, nwd, nwv).values():
        res = fn()
        _ = len(res) if isinstance(res, list) else res.count()

    results: dict[int, dict[str, dict[str, float]]] = {}
    for f in factors:
        fp = _corpora(spark, root, base_docs * f, base_vecs * f)
        results[f] = {}
        for name, fn in _legs(
            spark, fp, base_docs * f, base_vecs * f
        ).items():
            t0 = time.monotonic()
            res = fn()
            rows = len(res) if isinstance(res, list) else res.count()
            dt = time.monotonic() - t0
            results[f][name] = {"sec": round(dt, 3), "rows": rows}
            print(f"[{f}x] {name}: {dt:.2f}s, {rows} rows", file=sys.stderr)
            # drop py4j refs so the ContextCleaner can reclaim the
            # leg's checkpoint/cache blocks before the next leg
            res = None
            gc.collect()

    f_lo, f_hi = factors[0], factors[-1]
    size_ratio = f_hi / f_lo
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    lines = [
        "# BENCH/DEDUP_SCALE.md — near-dup family scale-growth evidence",
        "",
        f"Generated {stamp} by `SPARK_GRAFT_CPUS={cpus} "
        f"DEDUP_SCALE_FACTORS={','.join(str(f) for f in factors)} "
        "python BENCH/run_dedup_scale.py`",
        f"(local[{cpus}], 64 shuffle partitions, one session, untimed warmup leg).",
        "",
        "Deterministic synthetic corpora (`sources/synth_corpus.py`) with a",
        "constant 10% planted near-duplicate density at every size — output",
        "pair counts therefore scale ~linearly with n, and measured time",
        "growth isolates the JOIN STRATEGY, not the output sink. A quadratic",
        f"plan would grow ~{size_ratio**2:.0f}x from {f_lo}x to {f_hi}x; the",
        f"banded plans should stay near the size ratio ({size_ratio:.0f}x).",
        "",
        f"Corpus sizes: documents {', '.join(f'{f}x = {base_docs*f:,}' for f in factors)};",
        f"embeddings {', '.join(f'{f}x = {base_vecs*f:,}' for f in factors)} (dim {DIM}).",
        "",
        "| query | "
        + " | ".join(f"{f}x sec (rows)" for f in factors)
        + f" | time growth {f_lo}x→{f_hi}x | ideal | quadratic |",
        "|---|" + "---|" * (len(factors) + 3),
    ]
    growths = {}
    for name in results[factors[0]]:
        cells = [
            (
                f"{results[f][name]['sec']} ({results[f][name]['rows']:,})"
                if name in results[f]
                else "— (60-bit form is sub-100k-scale by design)"
            )
            for f in factors
        ]
        if name in results[f_hi]:
            g = results[f_hi][name]["sec"] / max(results[f_lo][name]["sec"], 1e-9)
            growths[name] = round(g, 2)
            gcell = f"**{g:.1f}x**"
        else:
            gcell = "—"
        lines.append(
            f"| {name} | "
            + " | ".join(cells)
            + f" | {gcell} | {size_ratio:.0f}x | {size_ratio**2:.0f}x |"
        )
    lines += [
        "",
        "Time growth at or below the size ratio (with the sub-linear cases",
        "explained by the fixed per-query planning/scheduling floor visible",
        "at 1x) is the linear-scaling evidence; none of these pipelines may",
        "approach the quadratic column. Pair/cluster row counts in",
        "parentheses confirm constant duplicate density (rows ~ n).",
        "Absolute times (and therefore growth ratios, whose 100x leg is",
        "the longest-exposed) carry the sandbox's external-load variance",
        "— repeated identical legs vary up to ~2x under host waves (see",
        "BENCH/BASELINE.md); the claim defended here is the distance to",
        "the quadratic column, not the exact ratio.",
        "",
        "Scale-path parameterization applied per the operators' own sizing",
        "rules: embedding LSH band width from `similarity.lsh_bits_for(n)`",
        "(constant expected bucket occupancy), and the 120-bit",
        "`simhash_wide_*` forms above 150k docs (the 60-bit banding's",
        "~8.6-bit band space turns its random-collision candidate set",
        "quadratic past ~10^5 rows — by design it is the small/mid form).",
        "",
        "`ann_probe_indexed` is the persisted bucket-partitioned ANN index",
        "(`similarity.build_ann_index`) probed through its `IndexManifest`",
        "(`operators/index_store.py`): the probed buckets' parquet files",
        "resolve from ONE manifest read — O(probed-partitions) metadata,",
        "no partition-tree listing — and their occupancy is held constant",
        "by the index-bits sizing, so BOTH the metadata and the data cost",
        "of a probe are ~flat in corpus size. (Round 3 measured the",
        "pre-manifest tree probe at 5.8x growth over 100x, all of it",
        "local-FS directory listing — the manifest is the Iceberg-style",
        "fix, and the growth column above is its measurement.)",
        "",
        "`pq_probe_indexed` is the product-quantization probe",
        "(`similarity.pq_topk_indexed`, m=8 x ksub=16 codebooks pinned in",
        "the manifest): a FULL scan by design, but of 8 smallint codes",
        "per vector instead of the 64-float embedding, ranked by a",
        "literal-table `zip_with`/`aggregate` lookup sum in pure codegen",
        "— linear growth with a constant small enough that the",
        "compressed scan is the memory-resident path at 100 TB.",
        "`ivfpq_probe_indexed` composes both index ideas",
        "(`similarity.ivfpq_topk`, 16 cells x 8x16 residual codebooks):",
        "the probe reads only nprobe manifest-resolved CELL partitions",
        "of smallint codes, ranked by per-cell asymmetric-distance",
        "lookup tables in pure codegen — pruning AND compression, the",
        "production ANN layout, expected ~flat.",
        "",
        "`lsh_incremental_d60` queries a FIXED 60-document crawl delta",
        "against the persisted banded-minhash text index",
        "(`dedup.build_lsh_text_index` / `lsh_candidates_incremental`):",
        "only the delta is signed and banded, and the index scan is",
        "pruned to the delta's pb partitions through one manifest read.",
        "Its cost SATURATES at the delta bound (n_bands x |delta| x",
        "rows-per-partition, held constant by `lsh_subparts_for`) rather",
        "than growing with the corpus: the small legs sit below that",
        "bound (the whole index is smaller than it), so growth appears",
        "until the bound is reached and is ~flat beyond — while the",
        "full-rebuild twin (`minhash_lsh_pairs`, which re-signs every",
        "historical document) grows linearly forever. The widening gap",
        "between those two rows IS the incremental-maintenance saving.",
        "",
        "`simhash_incremental_d60` and `emb_incremental_d20` are the same",
        "contract for the other two near-dup families (persisted",
        "`build_simhash_index` / `build_emb_lsh_index` trees, the same",
        "pb-pruned manifest-resolved delta joins; both parity-tested",
        "against their full-rebuild pipelines in",
        "`tests/test_index_store.py`) — with these legs every near-dup",
        "family has a measured delta-proportional incremental path, vs",
        "its full-rebuild twin directly above in the table.",
        "",
        "`merge_delta_upsert` is the file-pruned copy-on-write MERGE",
        "(`operators/merge.py::merge_into`) of a FIXED 60-doc re-fetch",
        "delta into the hash-bucketed corpus table: touched buckets are",
        "bounded by the delta's key count and each holds ~2500 docs at",
        "every tier (the bucket count scales with n), resolved and",
        "committed through one manifest read + CAS — expected ~flat;",
        "the growth column is the measurement that a 0.1% delta never",
        "pays a corpus rewrite. `scd2_epoch_10pct` is SCD-type-2",
        "history maintenance over a 10% planted-change batch — ONE",
        "full-outer join on the key, expected ~linear.",
        "",
        "`redirect_chains_h12` resolves mod-10 redirect chains by",
        "pointer doubling (`graph.resolve_redirects`): the round count",
        "is FIXED by the hop budget (ceil(log2 12)+1 = 5) at any n, each",
        "round one self equi-join — expected ~linear with a planning",
        "floor. `phrase_probe_inv` probes a 3-term phrase through the",
        "term-bucketed inverted index (`text/invindex.py`): <=3 bucket",
        "dirs of ~constant occupancy resolve from one manifest read —",
        "expected ~flat (the X9 probe discipline for text).",
        "",
        "`pmi_window3_m2` is windowed co-occurrence + PMI",
        "(`text/collocations.py`, window 3, min_count 2): the linear",
        "explode-3 + equi-join form — pair INSTANCES grow ~linearly",
        "(~117 per doc), but the distinct-pair aggregate state",
        "saturates toward the 8000-word vocabulary's pair space at the",
        "100x tier, so its growth sits at the high end of the family",
        "(with `lm_perplexity_score`, whose bigram state does the",
        "same) while remaining far from the quadratic column — the",
        "per-doc-quadratic distance-filter form this leg guards",
        "against would land there.",
        "",
        "All pruned-probe index writers repartition on the partition",
        "key before `partitionBy`, so each build/append lands ONE file",
        "per partition dir: probe latency is O(probed dirs) file-opens,",
        "not O(probed dirs x write tasks). Before that fix the simhash",
        "index carried 45 files per pb dir at the 100x tier and the",
        "incremental probe read 31.5 s (~18k file opens for a 60-doc",
        "delta); the layout is pinned by",
        "`test_index_builds_write_one_file_per_partition_dir`.",
        "",
        "`weighted_interleave_3to1` is the corpus-curation mixing",
        "operator (`text/curation.py`, stride scheduling): per source",
        "one hash-rank via `global_sequence`'s bucketed two-phase",
        "ranking (pinned to the bucketed path at every tier) + the",
        "mix-key projection — row count = full corpus, so ~linear",
        "growth is the contract and the single-partition window the",
        "bucketing replaces is the scale-killer being avoided.",
        "",
        "`substr_dup_ratio_k8` is span-level exact-substring",
        "duplication (`text/substrings.py`): stride-1 8-gram",
        "inversion, windows hashed to 8 bytes before the fan-out, one",
        "hash-keyed aggregate + join back, per-doc rollup — the",
        "suffix-array idea's distributed form, expected ~linear in",
        "corpus size (the window fan-out is ~33x the row count and",
        "entirely map-side).",
        "",
        "`pack_sequences_b256` is concat-then-chunk sequence packing",
        "(`text/packing.py`): exclusive prefix sum of token counts in",
        "hash order via the bucketed two-phase path (pinned with",
        "buckets=32 at every tier), then sequence+explode of the",
        "straddled chunks — the padding-free training-batch step,",
        "expected ~linear (one sketch + 32 parallel window sums + a",
        "broadcast offset join, never a single-partition sort).",
        "",
        "`line_dedup_l8` is corpus-wide line dedup",
        "(`text/linededup.py`): documents re-lined every 8 words, one",
        "posexplode + the md5-keyed verdict aggregate (in-aggregate",
        "first-instance winner), the duplicate-key join back, and the",
        "per-doc reassembly — expected ~linear (the verdict join's",
        "build side is the duplicated-key set, not the corpus).",
        "`shard_balance_s64` is token-balanced output sharding",
        "(`packing.assign_shards`, 64 shards, bucketed prefix sum",
        "pinned): one sketch + 32 parallel window sums + the scalar",
        "total join — expected ~linear with a small constant.",
        "",
        "`gopher_stats_2_3` is the repetition-quality profile",
        "(`text/repetition.py`): top-2/3-gram char fractions via one",
        "hashed explode (~2n x 16-byte rows) + one hash aggregate with",
        "the in-aggregate struct-max winner — expected ~linear.",
        "",
        "`contamination_fixed_bench` is eval-set decontamination",
        "(`text/substrings.py::contamination_stats`) with a FIXED",
        "60-doc benchmark against the growing corpus: the benchmark",
        "grams broadcast, the corpus side never shuffles for the",
        "semi-join — expected ~corpus-scan-linear.",
        "",
        "`ivf_train_c16` is distributed spherical k-means training",
        "(`similarity.ivf_train_centroids`, 16 cells x 3 Lloyd rounds,",
        "fixed round count via tol=0): per round one corpus scan + one",
        "C x dim partial+final aggregate, plus one constant-size",
        "TakeOrdered init sample — expected growth ~ the size ratio",
        "(row count in parentheses is the centroid count, constant by",
        "construction). `ivf_train_sub_c16` is the 100-TB form of the",
        "same training (`train_sample=2048`): one hash-threshold filter",
        "scan + localCheckpoint pins a fixed-size subset, the Lloyd",
        "rounds then scan sample-sized data — growth should track the",
        "single filter scan, not rounds x corpus.",
        "",
        "`heavy_hitters_mg` is the certified exact top-5",
        "(`operators/heavyhitters.py`) over a planted 30/70 skew (7",
        "heavy keys, unique tail — the decrement-worst case): two",
        "corpus scans with sketch-row-only shuffles and a broadcast",
        "verify; the plan-embedded certification (m-th count > D)",
        "holds at every tier because D <= N/4097 while heavy counts",
        "grow ~0.3n/7 — expected ~linear. `source_overlap_b128` is",
        "the bottom-k source-overlap estimator (`text/overlap.py`,",
        "k=128 over 20 synthetic sources): the distinct (source,",
        "shingle-hash) scan dominates; the LOSSLESS map-side prune",
        "caps the ranking shuffle at k x tasks x sources rows, and",
        "the 190-pair stage is sketch-sized — expected ~linear.",
        "",
        "`caption_mining_g2` is interleaved caption mining",
        "(`operators/interleave.py`) over spans nested map-side from",
        "each doc's first 30 words (every third span a media ref):",
        "one explode + one (doc, offset) window carrying the",
        "span-contract guard — expected ~linear. `rendezvous_w64` is",
        "the HRW worker assignment (`crawl/assign.py`) of every",
        "doc_id to 64 workers (64 unrolled hash scores per row in",
        "whole-stage codegen) + the per-worker tally — pure",
        "scan+project throughput, expected ~linear; its absolute",
        "numbers are the evidence that a pure-projection owner",
        "function costs nothing against a registry at any scale.",
        "`drift_summary_b64` is the snapshot drift summary",
        "(`operators/drift.py`, 64-char length buckets vs a filtered",
        "refresh): one union-tag scan + one bucket aggregate with",
        "integer-exact decimal reductions — expected ~linear.",
        "`interleaved_near_dups_g` is the both-modality dedup",
        "(`operators/interleave.py`): simhash banding over the",
        "offset-ordered text view of map-side-nested spans + a",
        "candidate-driven media-Jaccard verify — expected to track",
        "the simhash banding legs (~linear), since the media verify",
        "touches only candidate pairs.",
        "",
        "`linearize_b16` is interleaved-doc linearization",
        "(`operators/interleave.py::linearize_docs`, 16-token budget):",
        "offset-sort, sentinel render, token costing and the",
        "prefix-under-budget fold all run as array HOFs INSIDE each",
        "row — the operator adds zero shuffles, so its growth measures",
        "pure scan+project throughput (~linear). `urlparam_verdicts`",
        "is fetch-log URL-parameter significance mining",
        "(`crawl/urlparams.py`): distinct-URL digest vote, ~4x k=v",
        "explode, two groupBys on wide (param, residual) keys —",
        "expected ~linear in log size with an O(param-names) output.",
        "`ann_multiprobe_idx` probes the SAME persisted ANN index as",
        "`ann_probe_indexed` but with the margin-ranked 16-probe",
        "sequence (`similarity.multiprobe_sequence`): probe count is",
        "fixed regardless of index bits (the Hamming ball it replaces",
        "grows C(bits, h)), so the leg should stay ~flat while",
        "recovering more candidates than the single-bucket probe.",
        "",
    ]
    if not leg_filter:  # partial smoke runs must not rewrite the evidence
        (REPO / "BENCH" / "DEDUP_SCALE.md").write_text("\n".join(lines))
    print(
        json.dumps(
            {
                "metric": "dedup_scale_growth",
                "size_ratio": size_ratio,
                "growth": growths,
                "results": results,
                "cpus": int(cpus),
            }
        )
    )


if __name__ == "__main__":
    main()
