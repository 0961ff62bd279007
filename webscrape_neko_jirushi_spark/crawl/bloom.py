"""Sharded Bloom filter for the URL-seen set (SURVEY.md §2.8 F9, J1).

The reference holds every seen URL in an in-memory Python set
(comprehensive_scraper.py:68-79, smart_cat_discovery.py:41-43) — RAM-
bound around 10^7 entries. At the 10^10-URL design point the seen set
is a table. The filter guards the one seen check that drops rows: the
one where URLs enter the frontier (``CrawlEngine._enqueue``). There,
membership is a two-stage check:

1. **Bloom pre-filter** (this module): shards of a bitset built with
   ``applyInPandas`` over ``pmod(url_hash, n_shards)`` groups,
   broadcast to executors, probed vectorized inside a pandas UDF.
   ~1% FPR at 10 bits/key: 10^10 keys ≈ 12.5 GB total, but sharded
   64x ≈ 195 MB/shard — each executor holds only the shards its
   partitions probe (here: all, in local mode).
2. **Exact anti-join** on the bloom-positive survivors — false
   positives never drop a URL, so the seen-set stays EXACT (the
   equality gate vs the oracle covers this path).

Deletion-safe recrawl uses the cuckoo variant (``CuckooShards``):
fingerprint eviction supports delete. Both filters offer the surface the
engine uses: ``is_empty``, ``prefilter`` and ``add_seen``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _bit_positions(hashes: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """k derived bit positions per 64-bit key (double hashing:
    h1 + i*h2, the standard Kirsch-Mitzenmacher construction)."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(n_bits)
    h2 = (h >> np.uint64(33) | np.uint64(1)) % np.uint64(n_bits)
    return (
        h1[:, None] + np.arange(k, dtype=np.uint64)[None, :] * h2[:, None]
    ) % np.uint64(n_bits)


_SHARD_BITS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
    ]
)


def _shard_bits(df: DataFrame, n_shards: int, n_bits: int, k: int, hash_col: str = "url_hash") -> dict[int, np.ndarray]:
    """Distributed per-shard bitset build: one packed bitset per
    pmod(hash, n_shards) group via applyInPandas; only the packed bits
    (n_bits/8 bytes per shard, CONSTANT regardless of row count) travel
    to the driver."""

    def _build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros(n_bits // 8, dtype=np.uint8)
        hashes = pdf["url_hash"].to_numpy()
        if len(hashes):
            pos = _bit_positions(hashes, n_bits, k).ravel()
            np.bitwise_or.at(arr, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "bits": [arr.tobytes()]})

    rows = (
        df.select(
            F.col(hash_col).alias("url_hash"),
            F.pmod(hash_col, F.lit(n_shards)).cast("int").alias("shard"),
        )
        .groupBy("shard")
        .applyInPandas(_build_shard, schema=_SHARD_BITS_SCHEMA)
        .collect()
    )
    return {r["shard"]: np.frombuffer(r["bits"], dtype=np.uint8) for r in rows}


class BloomShards:
    """n_shards independent bloom bitsets keyed by pmod(url_hash, n_shards)."""

    def __init__(self, n_shards: int, n_bits_per_shard: int, k: int, bits: dict[int, np.ndarray]):
        self.n_shards = n_shards
        self.n_bits = n_bits_per_shard
        self.k = k
        self.bits = bits  # shard -> packed uint8 array

    @classmethod
    def build(
        cls,
        seen: DataFrame,
        n_shards: int = 16,
        expected_per_shard: int = 1_000_000,
        fpr: float = 0.01,
    ) -> "BloomShards":
        """Distributed build: one bitset per shard via applyInPandas
        (UDAF build phase), collected packed (n_bits/8 bytes each)."""
        filt = cls.empty(n_shards, expected_per_shard, fpr)
        filt.bits = _shard_bits(seen, n_shards, filt.n_bits, filt.k)
        return filt

    def build_delta(self, df: DataFrame, hash_col: str = "url_hash") -> dict[int, np.ndarray]:
        """Distributed delta build with THIS filter's parameters — the
        epoch-append path. The executors fold an arbitrarily large
        hash delta into n_shards packed bitsets; the driver receives a
        bounded n_shards * n_bits/8 bytes instead of every row."""
        return _shard_bits(df, self.n_shards, self.n_bits, self.k, hash_col)

    def _snapshot(self) -> "BloomShards":
        """State-only clone for broadcasting (no broadcast handle)."""
        return BloomShards(self.n_shards, self.n_bits, self.k, dict(self.bits))

    def is_empty(self) -> bool:
        return not self.bits

    def add_seen(self, spark: SparkSession, hashes: DataFrame) -> None:
        """Insert a frame of committed ``url_hash`` values (distributed
        ``build_delta``, driver-side ``merge_delta``)."""
        self.merge_delta(self.build_delta(hashes))

    def merge_delta(self, delta: dict[int, np.ndarray]) -> None:
        """OR a ``build_delta`` result into the held shards."""
        _invalidate_bc(self)
        for s, arr in delta.items():
            cur = self.bits.get(s)
            if cur is None:
                self.bits[s] = arr.copy()
            else:
                self.bits[s] = np.bitwise_or(cur, arr)

    @classmethod
    def empty(
        cls, n_shards: int = 16, expected_per_shard: int = 1_000_000, fpr: float = 0.01
    ) -> "BloomShards":
        if n_shards & (n_shards - 1):
            raise ValueError("n_shards must be a power of two (uint64 vs pmod parity)")
        n_bits = max(1024, int(-expected_per_shard * math.log(fpr) / (math.log(2) ** 2)))
        n_bits = 1 << (n_bits - 1).bit_length()  # round up to pow2
        k = max(1, round(n_bits / expected_per_shard * math.log(2))) if expected_per_shard else 7
        return cls(n_shards, n_bits, min(k, 16), {})

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Driver-side incremental insert for hashes already held on the
        driver (tests, tiny seed sets). The engine's epoch path uses
        ``build_delta`` + ``merge_delta`` instead, which never ships the
        row stream to the driver."""
        if not len(hashes):
            return
        _invalidate_bc(self)
        shards = (hashes.astype(np.uint64) % np.uint64(self.n_shards)).astype(np.int64)
        for s in np.unique(shards):
            arr = self.bits.get(int(s))
            if arr is None:
                arr = np.zeros(self.n_bits // 8, dtype=np.uint8)
                self.bits[int(s)] = arr
            elif not arr.flags.writeable:
                arr = arr.copy()
                self.bits[int(s)] = arr
            pos = _bit_positions(hashes[shards == s], self.n_bits, self.k).ravel()
            np.bitwise_or.at(
                arr, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8)
            )

    def might_contain_np(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized probe (driver/executor side)."""
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        shards = (hashes.astype(np.uint64) % np.uint64(self.n_shards)).astype(np.int64)
        for s in np.unique(shards):
            arr = self.bits.get(int(s))
            mask = shards == s
            if arr is None:
                continue  # empty shard -> definitely absent
            pos = _bit_positions(hashes[mask], self.n_bits, self.k)
            byte_idx = (pos >> 3).astype(np.int64)
            bit = (1 << (pos & 7)).astype(np.uint8)
            out[mask] = ((arr[byte_idx] & bit) != 0).all(axis=1)
        return out

    def prefilter(self, spark: SparkSession, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds ``bloom_maybe_seen``: False => definitely NOT seen
        (skip the exact anti-join for these rows)."""
        return _prefilter(self, spark, df, hash_col)


def _prefilter(filt, spark: SparkSession, df: DataFrame, hash_col: str) -> DataFrame:
    """Shared broadcast-probe column: works for any filter exposing
    ``might_contain_np`` (bloom and cuckoo shards). The broadcast is
    CACHED on the filter and only rebuilt after a mutation invalidates
    it (see ``_invalidate_bc``) — re-broadcasting hundreds of MB of
    shards every epoch would accumulate live broadcasts; the stale one
    is unpersisted when replaced. A state-only snapshot (never the
    object holding the broadcast handle itself) is what ships."""
    bc = getattr(filt, "_bc", None)
    if bc is None:
        bc = spark.sparkContext.broadcast(filt._snapshot())
        filt._bc = bc

    @F.pandas_udf(T.BooleanType())
    def _probe(h: pd.Series) -> pd.Series:
        return pd.Series(bc.value.might_contain_np(h.to_numpy()))

    return df.withColumn("bloom_maybe_seen", _probe(F.col(hash_col)))


def _invalidate_bc(filt) -> None:
    old = getattr(filt, "_bc", None)
    if old is not None:
        filt._bc = None
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — cleanup best-effort
            pass


class CuckooShards:
    """Sharded cuckoo filter: like bloom, but supports delete (recrawl
    after TTL expiry removes the URL so it becomes fetchable again).

    2-choice bucketed fingerprint table; 4 slots/bucket, 16-bit
    fingerprints -> ~0.02% FPR at 95% load.
    """

    SLOTS = 4

    def __init__(self, n_shards: int, n_buckets: int, tables: dict[int, np.ndarray]):
        if n_shards & (n_shards - 1):
            # build shards by signed F.pmod while probes shard by
            # unsigned h % n_shards — these agree only for powers of two
            raise ValueError("n_shards must be a power of two")
        if n_buckets & (n_buckets - 1):
            # the XOR-then-mod alternate-bucket mapping is an involution
            # only when n_buckets is a power of two; otherwise evicted
            # fingerprints land in buckets the probe never checks
            raise ValueError("n_buckets must be a power of two")
        self.n_shards = n_shards
        self.n_buckets = n_buckets
        self.tables = tables  # shard -> (n_buckets, SLOTS) uint16, 0 = empty

    @classmethod
    def empty(cls, n_shards: int = 4, n_buckets: int = 1 << 14) -> "CuckooShards":
        return cls(n_shards, n_buckets, {})

    @classmethod
    def build(
        cls,
        seen: DataFrame,
        n_shards: int = 16,
        n_buckets: int = 1 << 16,
    ) -> "CuckooShards":
        """Distributed build: ``apply_delta`` inserts into an empty
        filter (rows insert sequentially WITHIN a shard group — eviction
        chains are shard-local); only the packed tables (n_buckets *
        SLOTS * 2 bytes each) travel to the driver."""
        filt = cls.empty(n_shards, n_buckets)
        filt.apply_delta(seen.sparkSession, seen)
        return filt

    def apply_delta(
        self,
        spark: SparkSession,
        df: DataFrame,
        hash_col: str = "url_hash",
        op: str = "insert",
    ) -> None:
        """Distributed shard maintenance (insert or delete): group the
        delta's hashes by ``pmod(hash, n_shards)``, ship each shard's
        CURRENT packed table to its group via broadcast, mutate inside
        ``applyInPandas`` (eviction chains are sequential WITHIN a
        shard — which is exactly the group), and collect only the
        packed updated tables (n_buckets * SLOTS * 2 bytes per touched
        shard, CONSTANT in the delta's row count). This is the same
        bounded-driver-bytes contract as ``BloomShards.build_delta`` +
        ``merge_delta`` — no row stream ever reaches the driver."""
        if op not in ("insert", "delete"):
            raise ValueError(f"op must be 'insert' or 'delete', got {op!r}")
        bc = getattr(self, "_bc", None)
        if bc is None:
            bc = spark.sparkContext.broadcast(self._snapshot())
            self._bc = bc
        n_shards, n_buckets, slots = self.n_shards, self.n_buckets, self.SLOTS
        insert = op == "insert"

        def _apply_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            shard = int(pdf["shard"].iloc[0])
            base = bc.value.tables.get(shard)
            t = (
                base.copy()
                if base is not None
                else np.zeros((n_buckets, slots), dtype=np.uint16)
            )
            # single-shard view: h % 1 == 0 routes every key to table 0
            tmp = CuckooShards(1, n_buckets, {0: t})
            for h in pdf["url_hash"].to_numpy():
                if insert:
                    if not tmp.insert(int(h)):
                        # a dropped fingerprint would later read as
                        # 'definitely unseen' and duplicate fetches
                        raise ValueError(
                            f"cuckoo shard {shard} full at "
                            f"n_buckets={n_buckets}; increase n_buckets"
                        )
                else:
                    tmp.delete(int(h))
            return pd.DataFrame({"shard": [shard], "bits": [t.tobytes()]})

        rows = (
            df.select(
                F.col(hash_col).alias("url_hash"),
                F.pmod(hash_col, F.lit(n_shards)).cast("int").alias("shard"),
            )
            .groupBy("shard")
            .applyInPandas(_apply_shard, schema=_SHARD_BITS_SCHEMA)
            .collect()
        )
        _invalidate_bc(self)  # the probe broadcast is stale once we mutate
        for r in rows:
            self.tables[r["shard"]] = (
                np.frombuffer(r["bits"], dtype=np.uint16)
                .reshape(n_buckets, slots)
                .copy()
            )

    def is_empty(self) -> bool:
        return not self.tables

    def add_seen(self, spark: SparkSession, hashes: DataFrame) -> None:
        """Insert a frame of committed ``url_hash`` values. Eviction
        chains are not OR-mergeable, but they are shard-local, so the
        inserts run per shard (``apply_delta``). A full shard raises
        inside the task: a dropped fingerprint would read 'definitely
        unseen' and duplicate fetches."""
        self.apply_delta(spark, hashes, op="insert")

    def might_contain_np(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized probe (same contract as BloomShards): True may be
        a false positive, False is definite — shared ``prefilter``."""
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        h = hashes.astype(np.uint64)
        shards = (h % np.uint64(self.n_shards)).astype(np.int64)
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        b1 = ((h >> np.uint64(16)) % np.uint64(self.n_buckets)).astype(np.int64)
        b2 = (
            (b1.astype(np.uint64) ^ (fp.astype(np.uint64) * np.uint64(0x5BD1E995)))
            % np.uint64(self.n_buckets)
        ).astype(np.int64)
        for s in np.unique(shards):
            t = self.tables.get(int(s))
            mask = shards == s
            if t is None:
                continue
            hit1 = (t[b1[mask]] == fp[mask, None]).any(axis=1)
            hit2 = (t[b2[mask]] == fp[mask, None]).any(axis=1)
            out[mask] = hit1 | hit2
        return out

    def prefilter(self, spark: SparkSession, df: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        return _prefilter(self, spark, df, hash_col)

    def _fp_and_buckets(self, h: int) -> tuple[int, int, int]:
        fp = (h >> 48) & 0xFFFF or 1
        b1 = (h >> 16) % self.n_buckets
        b2 = (b1 ^ (fp * 0x5BD1E995)) % self.n_buckets
        return fp, b1, b2

    def _table(self, shard: int) -> np.ndarray:
        if shard not in self.tables:
            self.tables[shard] = np.zeros((self.n_buckets, self.SLOTS), dtype=np.uint16)
        return self.tables[shard]

    def _snapshot(self) -> "CuckooShards":
        """State-only clone for broadcasting (no broadcast handle)."""
        return CuckooShards(self.n_shards, self.n_buckets, dict(self.tables))

    def insert(self, h: int, max_kicks: int = 200) -> bool:
        _invalidate_bc(self)
        h &= (1 << 64) - 1
        t = self._table(h % self.n_shards)
        return self._insert_into(t, h, max_kicks)

    def _insert_into(self, t: np.ndarray, h: int, max_kicks: int = 200) -> bool:
        fp, b1, b2 = self._fp_and_buckets(h)
        for b in (b1, b2):
            empt = np.where(t[b] == 0)[0]
            if len(empt):
                t[b, empt[0]] = fp
                return True
        # evict (deterministic slot choice keeps replays reproducible)
        b = b1
        for kick in range(max_kicks):
            slot = kick % self.SLOTS
            fp, t[b, slot] = t[b, slot], fp
            b = (b ^ (fp * 0x5BD1E995)) % self.n_buckets
            empt = np.where(t[b] == 0)[0]
            if len(empt):
                t[b, empt[0]] = fp
                return True
        return False  # table full — caller grows n_buckets

    def contains(self, h: int) -> bool:
        h &= (1 << 64) - 1
        t = self.tables.get(h % self.n_shards)
        if t is None:
            return False
        fp, b1, b2 = self._fp_and_buckets(h)
        return bool((t[b1] == fp).any() or (t[b2] == fp).any())

    def delete(self, h: int) -> bool:
        _invalidate_bc(self)
        h &= (1 << 64) - 1
        t = self.tables.get(h % self.n_shards)
        if t is None:
            return False
        fp, b1, b2 = self._fp_and_buckets(h)
        for b in (b1, b2):
            idx = np.where(t[b] == fp)[0]
            if len(idx):
                t[b, idx[0]] = 0
                return True
        return False
