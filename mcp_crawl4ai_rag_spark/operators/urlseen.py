"""URL-seen membership: Bloom pre-filter + exact anti-join, cuckoo add-on.

Replaces the reference's in-memory ``visited: set`` + ``threading.Lock``
(src/crawl4ai_mcp.py:980-1004) with the north_star design: a Bloom filter
over 64-bit hashes of canonical URLs built with vectorized numpy over Arrow
batches, used as a *pre-filter* that routes the definitely-new majority
around the exact anti-join. The anti-join on ``(url_hash, canonical_url)``
remains the authority — the Bloom filter has zero false negatives by
construction (property-tested), so the split is lossless.

Scale notes (10^10 URLs): a monolithic 1%-FPP bloom for 1e10 keys is ~12 GB —
too big to broadcast. :func:`build_bloom_sharded` is the deployment shape:
the bitset is sharded by ``pmod(url_hash, n_shards)`` so each fold task and
each probing executor holds one m/S-bit shard (see :class:`ShardedBloom`).
Raising FPP for the pre-filter role also helps (a 10% FPP filter is 5x
smaller and still removes 90% of the join traffic). The exact anti-join
stays bucketed on ``url_hash`` so state and probes co-locate.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..config import BLOOM_FPP

_MIX = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 increment for h2 derivation


def _indices(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(k, n) bit indices via Kirsch-Mitzenmacher double hashing — pure numpy.

    Division-free beyond the two base modulos: probe j is (h1 + j*h2) mod m
    computed by iterated add + conditional subtract (both operands < m, so
    one subtract suffices). Integer division has no SIMD path — the naive
    37M-modulo broadcast costs ~2.7s for a 5.3M-key build vs ~0.6s here."""
    h1 = hashes.astype(np.uint64)
    h2 = h1 * _MIX
    h2 = (h2 ^ (h2 >> np.uint64(31))) | np.uint64(1)  # odd → full period
    mm = np.uint64(m)
    out = np.empty((k, len(h1)), dtype=np.uint64)
    np.mod(h1, mm, out=out[0])
    step = h2 % mm
    for j in range(1, k):
        np.add(out[j - 1], step, out=out[j])
        out[j][out[j] >= mm] -= mm
    return out.astype(np.int64)


@dataclass
class BloomFilter:
    """Immutable bitset bloom over int64 hashes."""

    bits: np.ndarray  # uint8 array, m bits packed
    m: int
    k: int

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = BLOOM_FPP) -> "BloomFilter":
        n = max(n_items, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k)

    def add_hashes(self, hashes: np.ndarray) -> None:
        # np.bitwise_or.at is an unbuffered scatter and turns superlinear past
        # ~1M probes (measured 0.12s for 333k hashes but 8.5s for 5.3M — 4x
        # per-op). For big batches, scatter plain boolean stores into an
        # unpacked bit array (duplicate stores are benign) and OR the packed
        # result in; below the crossover the direct scatter is cheaper than
        # the m-bit unpack. The unpack is O(m) MEMORY (one bool byte per
        # bit: a 10^10-bit bloom would allocate ~10 GB per call), so it is
        # gated on the filter size staying proportional to the batch; huge
        # sparse filters take the sort+reduceat path instead — O(n log n)
        # time, O(n) memory, same resulting bitset (pinned in tests).
        idx = _indices(hashes, self.m, self.k).ravel()
        if idx.size >= 1 << 20:
            m_bool_bytes = len(self.bits) * 8
            if m_bool_bytes <= max(1 << 26, idx.size << 4):
                unpacked = np.zeros(m_bool_bytes, dtype=bool)
                unpacked[idx] = True
                self.bits |= np.packbits(unpacked, bitorder="little")
            else:
                byte_idx = (idx >> 3).astype(np.int64)
                masks = np.uint8(1) << (idx & 7).astype(np.uint8)
                order = np.argsort(byte_idx, kind="stable")
                b, mk = byte_idx[order], masks[order]
                starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
                ub = b[starts]  # unique byte indices → fancy |= is safe
                self.bits[ub] |= np.bitwise_or.reduceat(mk, starts)
        else:
            np.bitwise_or.at(
                self.bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8)
            )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        idx = _indices(hashes, self.m, self.k)  # (k, n)
        bit = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return bit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        return BloomFilter(bits=np.bitwise_or(self.bits, other.bits), m=self.m, k=self.k)


# Above this bitset size build_bloom() delegates to the sharded build: the
# monolithic fold collects ``fold_partitions`` FULL m-bit bitsets, so driver
# result bytes grow O(folds × m) — at a 1B-URL frontier epoch (333M seen keys,
# 399 MB bitset × 16 folds ≈ 6.4 GB) the collect blows the default 1 GiB
# spark.driver.maxResultSize (measured: BENCH/bench_r5_ladder_deep.jsonl, the
# failed 1B rung). The sharded build keeps the collect O(m) TOTAL, at the cost
# of one narrow repartition of (hash, shard) pairs — cheap relative to a
# >64 MB driver merge, and the honest 10^10 deployment shape anyway.
BLOOM_AUTO_SHARD_BYTES = 64 * 1024 * 1024
_BLOOM_SHARD_TARGET_BYTES = 32 * 1024 * 1024


def build_bloom(
    df: DataFrame,
    hash_col: str,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
    fold_partitions: int = 16,
) -> "BloomFilter | ShardedBloom":
    """Distributed build: each partition folds its Arrow batches into a local
    bitset (mapInPandas), the driver ORs the per-partition bitsets. One pass,
    no shuffle; only bitsets cross to the driver.

    ``fold_partitions`` bounds the number of per-partition bitsets: each fold
    task carries a FULL m-bit bitset, so cost (alloc + driver collect) is
    O(partitions × m) while the hashing itself is cheap — coalescing to ~16
    folds is a ~10x win over folding on 64+ scan partitions. Once the bitset
    exceeds ``BLOOM_AUTO_SHARD_BYTES`` the build auto-delegates to
    :func:`build_bloom_sharded` (collect O(m) total across shard-sized
    bitsets); probes are polymorphic (:func:`bloom_maybe_contains` takes
    either), so callers never need to pick."""
    if expected is None:
        expected = df.count()
    proto = BloomFilter.sized_for(expected, fpp)
    m, k = proto.m, proto.k
    bitset_bytes = (m + 7) // 8
    if bitset_bytes > BLOOM_AUTO_SHARD_BYTES:
        n_shards = max(8, -(-bitset_bytes // _BLOOM_SHARD_TARGET_BYTES))
        return build_bloom_sharded(
            df, hash_col, n_shards=n_shards, expected=expected, fpp=fpp
        )
    if fold_partitions:
        df = df.select(hash_col).coalesce(fold_partitions)

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = BloomFilter(bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                local.add_hashes(pdf[hash_col].to_numpy(dtype=np.int64))
        if seen_any:
            yield pd.DataFrame({"bits": [local.bits.tobytes()]})

    parts = df.select(hash_col).mapInPandas(fold, schema="bits binary").collect()
    out = proto
    for row in parts:
        out.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out


@dataclass
class ShardedBloom:
    """Bit-space-sharded bloom: shard ``s`` holds only hashes with
    ``pmod(hash, n_shards) == s``, each in its own m/S-bit bitset.

    This is the 10^10-key deployment shape promised in the module notes: a
    monolithic 1%-FPP bloom over 1e10 keys is ~12 GB — too big to collect or
    broadcast — but S=1024 shards are ~12 MB each, built by repartitioning
    the seen-set on the shard key so every fold task allocates exactly one
    shard-sized bitset and the driver collect stays O(m) total. On a real
    cluster the frontier is bucketed by ``pmod(url_hash, B)`` with S | B, so
    probes are shard-aligned: each executor needs only its own shard. In
    local mode the probe closure carries all shards (equivalent, since one
    machine holds everything anyway)."""

    shards: list[BloomFilter]
    n_shards: int

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        # concatenated per call: the shards stay mutable (add_hashes ORs
        # in place), so a cached copy would answer with stale bits
        flat = np.concatenate([bf.bits for bf in self.shards])
        s0 = self.shards[0]
        return _probe_sharded_flat(
            flat, hashes, s0.m, s0.k, self.n_shards, len(s0.bits)
        )


def _probe_sharded_flat(
    flat: np.ndarray, hashes: np.ndarray, m: int, k: int, n_shards: int, bpp: int
) -> np.ndarray:
    """Sharded-bloom membership over the CONCATENATED shard bitsets: shard s
    occupies bytes [s*bpp, (s+1)*bpp), so the global byte index is
    s*bpp + (in-shard bit >> 3) — one vectorized fancy-index for the whole
    batch. The earlier per-shard mask/gather/scatter loop cost ~2x the whole
    frontier epoch at 256M URLs (BENCH/bench_r5_ladder_deep.jsonl, 214.7s vs
    117.7s monolithic); this prices the sharded probe like the monolithic."""
    h = hashes.astype(np.int64)
    if len(h) == 0:
        return np.zeros(0, dtype=bool)
    # numpy's floored mod == Spark pmod for positive modulus
    shard_of = np.mod(h, n_shards).astype(np.int64)
    idx = _indices(h, m, k)  # (k, n) bit positions within the shard
    byte_idx = (idx >> 3) + shard_of * bpp  # broadcasts over the k rows
    bit = (flat[byte_idx] >> (idx & 7).astype(np.uint8)) & 1
    return bit.all(axis=0)


def build_bloom_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    expected: int | None = None,
    fpp: float = BLOOM_FPP,
) -> ShardedBloom:
    """Distributed sharded build: repartition the seen-set on
    ``pmod(hash, n_shards)`` so each task sees (mostly) one shard, fold each
    shard's hashes into its own m/S-bit bitset, OR same-shard bitsets on the
    driver. Lossless per shard (same zero-false-negative property as the
    monolithic build — property-tested)."""
    if expected is None:
        expected = df.count()
    per_shard = max(expected // n_shards + 1, 1)
    proto = BloomFilter.sized_for(per_shard, fpp)
    m, k = proto.m, proto.k

    sharded = df.select(
        F.col(hash_col).alias("h"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("__shard"),
    ).repartition(n_shards, "__shard")

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, BloomFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            sh = pdf["__shard"].to_numpy()  # one conversion per batch
            for s in np.unique(sh):
                bf = local.setdefault(
                    int(s),
                    BloomFilter(
                        bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k
                    ),
                )
                bf.add_hashes(h[sh == s])
        for s, bf in local.items():
            yield pd.DataFrame({"shard": [s], "bits": [bf.bits.tobytes()]})

    parts = sharded.mapInPandas(fold, schema="shard int, bits binary").collect()
    shards = [
        BloomFilter(bits=np.zeros((m + 7) // 8, dtype=np.uint8), m=m, k=k)
        for _ in range(n_shards)
    ]
    for row in parts:
        shards[row["shard"]].bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return ShardedBloom(shards=shards, n_shards=n_shards)


def bloom_maybe_contains(bloom: "BloomFilter | ShardedBloom", hash_col: Column) -> Column:
    """Arrow-batched membership probe column (broadcast via task closure).
    Accepts the monolithic filter or the sharded one (probe routes each hash
    to its shard's bitset)."""
    if isinstance(bloom, ShardedBloom):
        # Ship ONE concatenated bitset (snapshotted here, at plan time) —
        # frombuffer per Arrow batch is zero-copy, and no per-batch shard
        # reconstruction or per-shard routing loop survives in the hot path.
        flat_payload = b"".join(bf.bits.tobytes() for bf in bloom.shards)
        m, k, n_shards = bloom.shards[0].m, bloom.shards[0].k, bloom.n_shards
        bpp = len(bloom.shards[0].bits)

        @F.pandas_udf(BooleanType())
        def _probe_sharded(h: pd.Series) -> pd.Series:
            flat = np.frombuffer(flat_payload, dtype=np.uint8)
            return pd.Series(
                _probe_sharded_flat(
                    flat, h.to_numpy(dtype=np.int64), m, k, n_shards, bpp
                )
            )

        return _probe_sharded(hash_col)

    # Serialize the bitset ONCE into the task closure: tobytes() inside the
    # UDF would memcpy the full m-bit array on every ~10k-row Arrow batch
    # (measured ~1600 copies x 6.4 MB per 16M-row epoch pass).
    payload_bits, m, k = bloom.bits.tobytes(), bloom.m, bloom.k

    @F.pandas_udf(BooleanType())
    def _probe(h: pd.Series) -> pd.Series:
        # frombuffer over the closure bytes is zero-copy (read-only view)
        bf = BloomFilter(bits=np.frombuffer(payload_bits, dtype=np.uint8), m=m, k=k)
        return pd.Series(bf.contains_hashes(h.to_numpy(dtype=np.int64)))

    return _probe(hash_col)


def anti_join_seen(
    candidates: DataFrame,
    url_seen: DataFrame,
    bloom: "BloomFilter | ShardedBloom | CuckooFilter | ShardedCuckoo | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose (url_hash, canonical_url) is NOT in
    ``url_seen`` — the J1/J2 visited-membership kernel (SURVEY.md §2.3).

    With an approximate-membership prefilter over url_seen's hashes (bloom,
    sharded bloom, or cuckoo), the definitely-new rows skip the shuffle
    entirely; only maybe-seen rows join. Lossless: none of the filters has
    false negatives (the cuckoo build raises on overflow to guarantee it).
    """
    if bloom is None:
        return candidates.join(
            url_seen.select("url_hash", "canonical_url"),
            on=["url_hash", "canonical_url"],
            how="left_anti",
        )
    probe = (
        cuckoo_maybe_contains
        if isinstance(bloom, (CuckooFilter, ShardedCuckoo))
        else bloom_maybe_contains
    )
    flagged = candidates.withColumn(
        "__maybe_seen", probe(bloom, F.col("url_hash"))
    )
    definitely_new = flagged.where(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = flagged.where(F.col("__maybe_seen")).drop("__maybe_seen")
    survivors = maybe.join(
        url_seen.select("url_hash", "canonical_url"),
        on=["url_hash", "canonical_url"],
        how="left_anti",
    )
    return definitely_new.unionByName(survivors)


def build_cuckoo(
    df: DataFrame,
    hash_col: str,
    capacity: int | None = None,
    fold_partitions: int = 16,
) -> "CuckooFilter":
    """Distributed cuckoo build, same shape as :func:`build_bloom`: each
    fold task inserts its Arrow batches into a local table, the driver
    unions the tables by fingerprint re-insertion. All tables share one
    bucket count so (bucket, alt) geometry is identical everywhere.

    Sized at 2x the seen-set by default: cuckoo tables degrade (eviction
    loops) near full occupancy, and an overflow would mean false negatives
    — both build and merge raise instead of degrading silently.

    Probes are fully vectorized (two numpy gathers per batch); insertion is
    per-hash inside the Arrow batch because cuckoo eviction chains are
    inherently sequential — construction cost, not query-path cost. The
    bloom remains the default prefilter; the cuckoo buys deletability
    (frontier retraction) at that build premium."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    proto = CuckooFilter(capacity=capacity)
    n_buckets = proto.n_buckets
    if fold_partitions:
        df = df.select(hash_col).coalesce(fold_partitions)

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = CuckooFilter(capacity=n_buckets * 4)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                local.add_hashes(pdf[hash_col].to_numpy(dtype=np.int64))
        if seen_any:
            yield pd.DataFrame({"table": [local.table.tobytes()]})

    parts = df.select(hash_col).mapInPandas(fold, schema="table binary").collect()
    out = proto
    for row in parts:
        other = CuckooFilter(capacity=n_buckets * 4)
        other.table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
            n_buckets, 4
        ).copy()
        out = out.merge(other)
    return out


@dataclass
class ShardedCuckoo:
    """Hash-space-sharded cuckoo: shard ``s`` holds only hashes with
    ``pmod(hash, n_shards) == s``, each in its own capacity/S table.

    Same deployment argument as :class:`ShardedBloom`: at the 10^10-URL
    north-rule scale a monolithic cuckoo table is ~40 GB and the
    :func:`build_cuckoo` driver merge re-inserts every fingerprint on one
    machine. Sharding makes each fold task allocate exactly one
    shard-sized table and keeps the driver merge O(capacity/S) per shard
    — the same fix build_bloom_sharded applied to the bloom in round 1.
    Delete (the reason the cuckoo exists) routes to one shard."""

    shards: list[CuckooFilter]
    n_shards: int

    def _shard_of(self, hashes: np.ndarray) -> np.ndarray:
        # numpy's floored mod == Spark pmod for positive modulus
        return np.mod(hashes.astype(np.int64), self.n_shards)

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.int64)
        shard_of = self._shard_of(h)
        out = np.zeros(len(h), dtype=bool)
        for s in np.unique(shard_of):
            mask = shard_of == s
            out[mask] = self.shards[int(s)].contains_hashes(h[mask])
        return out

    def delete(self, h: int) -> bool:
        return self.shards[int(np.mod(np.int64(h), self.n_shards))].delete(h)


def build_cuckoo_sharded(
    df: DataFrame,
    hash_col: str,
    n_shards: int = 8,
    capacity: int | None = None,
) -> "ShardedCuckoo":
    """Distributed sharded cuckoo build, mirror of
    :func:`build_bloom_sharded`: repartition the seen-set on
    ``pmod(hash, n_shards)`` so each task sees (mostly) one shard, insert
    each shard's hashes into its own capacity/S table, merge same-shard
    tables on the driver by fingerprint re-insertion. Lossless per shard
    (build and merge raise on overflow, so zero false negatives —
    property-tested across shards)."""
    if capacity is None:
        capacity = max(df.count() * 2, 8)
    per_shard = max(capacity // n_shards, 8)
    proto = CuckooFilter(capacity=per_shard)
    n_buckets = proto.n_buckets

    sharded = df.select(
        F.col(hash_col).alias("h"),
        F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("__shard"),
    ).repartition(n_shards, "__shard")

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, CuckooFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["h"].to_numpy(dtype=np.int64)
            sh = pdf["__shard"].to_numpy()
            for s in np.unique(sh):
                cf = local.setdefault(int(s), CuckooFilter(capacity=n_buckets * 4))
                cf.add_hashes(h[sh == s])
        for s, cf in local.items():
            yield pd.DataFrame({"shard": [s], "table": [cf.table.tobytes()]})

    parts = sharded.mapInPandas(fold, schema="shard int, table binary").collect()
    shards = [CuckooFilter(capacity=n_buckets * 4) for _ in range(n_shards)]
    for row in parts:
        other = CuckooFilter(capacity=n_buckets * 4)
        other.table = (
            np.frombuffer(row["table"], dtype=np.uint16)
            .reshape(n_buckets, 4)
            .copy()
        )
        shards[row["shard"]] = shards[row["shard"]].merge(other)
    return ShardedCuckoo(shards=shards, n_shards=n_shards)


def cuckoo_maybe_contains(
    cuckoo: "CuckooFilter | ShardedCuckoo", hash_col: Column
) -> Column:
    """Arrow-batched cuckoo membership probe (vectorized two-bucket gather).
    Accepts the monolithic filter or the sharded one (probe routes each
    hash to its shard's table)."""
    if isinstance(cuckoo, ShardedCuckoo):
        payload = [cf.table.tobytes() for cf in cuckoo.shards]
        n_buckets = cuckoo.shards[0].n_buckets
        n_shards = cuckoo.n_shards

        @F.pandas_udf(BooleanType())
        def _probe_sharded(h: pd.Series) -> pd.Series:
            shards = []
            for b in payload:
                cf = CuckooFilter(capacity=n_buckets * 4)
                cf.table = np.frombuffer(b, dtype=np.uint16).reshape(n_buckets, 4)
                shards.append(cf)
            sc = ShardedCuckoo(shards=shards, n_shards=n_shards)
            return pd.Series(sc.contains_hashes(h.to_numpy(dtype=np.int64)))

        return _probe_sharded(hash_col)

    table_bytes = cuckoo.table.tobytes()
    n_buckets = cuckoo.n_buckets

    @F.pandas_udf(BooleanType())
    def _probe(h: pd.Series) -> pd.Series:
        cf = CuckooFilter(capacity=n_buckets * 4)
        cf.table = np.frombuffer(table_bytes, dtype=np.uint16).reshape(
            n_buckets, 4
        )
        return pd.Series(cf.contains_hashes(h.to_numpy(dtype=np.int64)))

    return _probe(hash_col)


# ---------------------------------------------------------------------------
# Cuckoo filter — deletable approximate membership (north_star add-on).
# ---------------------------------------------------------------------------


class CuckooFilter:
    """Bucketed cuckoo filter over int64 hashes (16-bit fingerprints,
    4 slots/bucket). Supports delete — which a Bloom filter cannot — for
    frontier *retraction* (e.g. un-marking URLs whose politeness lease
    expired). numpy storage; per-partition instances merge by re-insertion."""

    def __init__(self, capacity: int):
        n_buckets = 1
        while n_buckets * 4 < capacity:
            n_buckets *= 2
        self.n_buckets = max(n_buckets, 2)
        self.table = np.zeros((self.n_buckets, 4), dtype=np.uint16)
        self.max_kicks = 500

    def _fp_and_bucket(self, h: int) -> tuple[int, int]:
        h = h & 0xFFFFFFFFFFFFFFFF
        fp = (h >> 48) & 0xFFFF
        fp = fp if fp != 0 else 1
        return fp, (h & (self.n_buckets - 1))

    def _alt_bucket(self, bucket: int, fp: int) -> int:
        return (bucket ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def insert(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        for b in (b1, self._alt_bucket(b1, fp)):
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # evict loop
        rng = np.random.Generator(np.random.PCG64(h & 0xFFFFFFFF))
        b = b1
        for _ in range(self.max_kicks):
            slot = int(rng.integers(0, 4))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._alt_bucket(b, fp)
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False  # full

    def contains(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        return bool(
            (self.table[b1] == fp).any()
            or (self.table[self._alt_bucket(b1, fp)] == fp).any()
        )

    # -- vectorized / distributed surface (north_star: Arrow-batched probes) --

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Insert a hash batch; raises if the table overflows (an overflowed
        cuckoo loses membership → false negatives, which would silently
        break the lossless prefilter contract)."""
        for h in hashes.astype(np.uint64).tolist():
            if not self.insert(int(h)):
                raise RuntimeError(
                    "cuckoo filter overflow — size capacity for the seen-set"
                )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: both candidate buckets checked with one
        numpy gather each — no per-row Python."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        h = hashes.astype(np.uint64)
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        b1 = (h & np.uint64(self.n_buckets - 1)).astype(np.int64)
        alt = (
            b1 ^ (fp.astype(np.int64) * 0x5BD1E995)
        ) & (self.n_buckets - 1)
        hit1 = (self.table[b1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[alt] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other table's occupied slots. Sound
        because a fingerprint's two legal buckets are (b, alt(b, fp)) and
        alt is an involution — a stored (bucket, fp) pair re-inserted at
        either legal bucket stays findable by contains()."""
        assert self.n_buckets == other.n_buckets
        out = CuckooFilter(capacity=self.n_buckets * 4)
        out.table = self.table.copy()
        bs, slots = np.nonzero(other.table)  # iterate occupied slots only
        for b, sl in zip(bs.tolist(), slots.tolist()):
            if not out._insert_fp(int(b), int(other.table[b, sl])):
                raise RuntimeError("cuckoo merge overflow")
        return out

    def _insert_fp(self, bucket: int, fp: int) -> bool:
        for b in (bucket, self._alt_bucket(bucket, fp)):
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        rng = np.random.Generator(np.random.PCG64((bucket << 16) | fp))
        b = bucket
        for _ in range(self.max_kicks):
            slot = int(rng.integers(0, 4))
            fp, self.table[b, slot] = int(self.table[b, slot]), fp
            b = self._alt_bucket(b, fp)
            empty = np.where(self.table[b] == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        return False

    def delete(self, h: int) -> bool:
        fp, b1 = self._fp_and_bucket(h)
        for b in (b1, self._alt_bucket(b1, fp)):
            hit = np.where(self.table[b] == fp)[0]
            if len(hit):
                self.table[b, hit[0]] = 0
                return True
        return False


# ---------------------------------------------------------------------------
# Bucketed layout: the shuffle-free exact anti-join (10^10-row deployment)
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist a frontier/url_seen-shaped table bucketed AND sorted on
    (url_hash, canonical_url) — the layout that makes the exact anti-join
    shuffle-free: both sides arrive hash-clustered on the join keys, so the
    sort-merge join needs no Exchange (asserted in tests). At 10^10 rows the
    anti-join shuffle is the single biggest data movement in an epoch; the
    bucketed layout removes it entirely as long as frontier and seen share
    one bucket count (Iceberg: a shared bucket partition transform)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "url_hash", "canonical_url")
        .sortBy("url_hash", "canonical_url")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_anti_join_seen(spark, frontier_table: str, seen_table: str) -> DataFrame:
    """J1 over two bucketed tables: candidates not present in the seen set,
    with zero shuffle on either side."""
    return spark.table(frontier_table).join(
        spark.table(seen_table).select("url_hash", "canonical_url"),
        on=["url_hash", "canonical_url"],
        how="left_anti",
    )
