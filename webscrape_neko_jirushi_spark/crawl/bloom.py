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

The filter never deletes. ``recrawl_expired`` removes expired hashes
from ``url_seen`` only: a hash left in the filter makes the URL a
positive, and a positive is always re-checked by the exact anti-join, so
a stale bit costs one re-check and can never drop a URL. The filter
therefore only grows, by ``build_delta`` + ``merge_delta`` per epoch.
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


def _shard_bits(df: DataFrame, n_shards: int, n_bits: int, k: int) -> dict[int, np.ndarray]:
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
            "url_hash",
            F.pmod("url_hash", F.lit(n_shards)).cast("int").alias("shard"),
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
        self._bc = None  # cached probe broadcast (see ``prefilter``)

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

    def build_delta(self, df: DataFrame) -> dict[int, np.ndarray]:
        """Distributed delta build with THIS filter's parameters — the
        epoch-append path. The executors fold an arbitrarily large
        hash delta into n_shards packed bitsets; the driver receives a
        bounded n_shards * n_bits/8 bytes instead of every row."""
        return _shard_bits(df, self.n_shards, self.n_bits, self.k)

    def _snapshot(self) -> "BloomShards":
        """State-only clone for broadcasting (no broadcast handle)."""
        return BloomShards(self.n_shards, self.n_bits, self.k, dict(self.bits))

    def is_empty(self) -> bool:
        return not self.bits

    def merge_delta(self, delta: dict[int, np.ndarray]) -> None:
        """OR a ``build_delta`` result into the held shards."""
        self._invalidate_bc()
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
        (skip the exact anti-join for these rows). The broadcast is
        CACHED on the filter and only rebuilt after ``merge_delta``
        invalidates it — re-broadcasting hundreds of MB of shards every
        epoch would accumulate live broadcasts; the stale one is
        unpersisted when replaced. A state-only snapshot (never the
        object holding the broadcast handle itself) is what ships."""
        bc = self._bc
        if bc is None:
            bc = self._bc = spark.sparkContext.broadcast(self._snapshot())

        @F.pandas_udf(T.BooleanType())
        def _probe(h: pd.Series) -> pd.Series:
            return pd.Series(bc.value.might_contain_np(h.to_numpy()))

        return df.withColumn("bloom_maybe_seen", _probe(F.col(hash_col)))

    def _invalidate_bc(self) -> None:
        old = self._bc
        if old is not None:
            self._bc = None
            try:
                old.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — cleanup best-effort
                pass
