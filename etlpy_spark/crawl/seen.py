"""Sharded exact URL-seen set with per-shard Bloom fast-path.

Generalizes the reference's in-memory seen set (RepeatFT's ``set``,
reference etl.py:238-247) and CrawlerTF's 100-URL memo (etl.py:454-464) to
10^10-URL scale:

  - authority = an exact table sharing the frontier's data files (each
    new url is written once, as a frontier row; shard key and url hash
    are derivable expressions, never written — random 8-byte hashes don't
    compress); membership is an anti-join, which Spark executes as a
    shuffled hash join per shard;
  - fast path = one Bloom bitset per shard (numpy bitarray, double
    hashing). Bloom-negative candidates are *definitely new* and skip the
    anti-join entirely; only Bloom-positives (a small fraction at steady
    state) pay the exact check. No false negatives → the final seen set is
    exact (north_rule demands exact parity; SURVEY.md §7 hard part #2).

All add/membership paths are numpy-vectorized (two siphash64 passes via
``pd.util.hash_array`` + double hashing); ``add_many`` runs in the
executor tasks that write the seen part files, never on the driver.

At cluster scale the bitsets live one per (shard, sub) pair in a state
table (crawl/filterstate.py), delivered to probe tasks by a cogroup past
``FILTER_BROADCAST_MAX_BYTES``; here the same structure at toy size.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# hash_key must be exactly 16 bytes; two fixed keys → two independent
# 64-bit hash families, combined by double hashing (h1 + i*h2 mod m).
_K1 = "etlpy_bloom_h1_0"
_K2 = "etlpy_bloom_h2_1"


def _hash2(urls) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(urls, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_K1, categorize=False)
    h2 = pd.util.hash_array(arr, hash_key=_K2, categorize=False) | np.uint64(1)
    return h1, h2


class BloomFilter:
    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8 + 1, dtype=np.uint8)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_items = max(n_items, 64)
        n_bits = int(-n_items * math.log(fpp) / (math.log(2) ** 2))
        n_hashes = max(1, int(round(n_bits / n_items * math.log(2))))
        return cls(n_bits, n_hashes)

    def add_many(self, urls) -> None:
        if len(urls) == 0:
            return
        h1, h2 = _hash2(urls)
        m = np.uint64(self.n_bits)
        for i in range(self.n_hashes):
            pos = (h1 + np.uint64(i) * h2) % m  # uint64 add wraps mod 2^64 — fine, deterministic
            byte_idx = (pos >> np.uint64(3)).astype(np.int64)
            bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
            np.bitwise_or.at(self.bits, byte_idx, bit)

    def might_contain_many(self, urls) -> np.ndarray:
        n = len(urls)
        if n == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hash2(urls)
        m = np.uint64(self.n_bits)
        out = np.ones(n, dtype=bool)
        for i in range(self.n_hashes):
            pos = (h1 + np.uint64(i) * h2) % m
            byte = self.bits[(pos >> np.uint64(3)).astype(np.int64)]
            out &= (np.right_shift(byte, (pos & np.uint64(7)).astype(np.uint8)) & 1).astype(bool)
            if not out.any():
                break
        return out

    def might_contain(self, url: str) -> bool:
        return bool(self.might_contain_many([url])[0])

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_bits: int, n_hashes: int) -> "BloomFilter":
        return cls(n_bits, n_hashes, np.frombuffer(data, dtype=np.uint8).copy())

    # -- pluggable-filter surface (shared with CuckooFilter) ---------------

    @property
    def spec(self) -> tuple:
        return ("bloom", self.n_bits, self.n_hashes)


class CuckooFilter:
    """Cuckoo filter (Fan et al., CoNEXT'14): the seen-set fast path the
    north_star names alongside Bloom ("sharded Bloom/cuckoo-filter URL-seen
    set"). Same contract as :class:`BloomFilter` — NO false negatives, so
    the exact seen table stays the authority — in ~30-40% less space at
    fpp ≤ 1% under high load.

    Layout: ``n_buckets`` (power of two) × 4 slots of uint16 fingerprints
    (0 = empty). fp(x) ∈ [1, 2^fp_bits-1]; bucket i1 = h1 & (n_buckets-1);
    partner i2 = i1 XOR (fp·0x5bd1e995 & mask) — involutive, so either
    bucket recovers the other. Evictions that survive MAX_KICKS land in a
    ``stash`` checked on lookup (conservative: extra false positives,
    never a false negative). Lookups — the hot path, run per candidate URL
    per round — are fully numpy-vectorized; inserts run once per *new* URL
    inside the per-shard executor build, where a short Python kick loop is
    acceptable (vectorized empty-slot fast path handles the bulk).
    """

    SLOTS = 4
    MAX_KICKS = 500
    _FP_MIX = np.uint64(0x5BD1E995)

    def __init__(
        self,
        n_buckets: int,
        fp_bits: int,
        table: np.ndarray | None = None,
        stash: list | None = None,
    ):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        assert 1 <= fp_bits <= 16
        self.n_buckets = n_buckets
        self.fp_bits = fp_bits
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        )
        self.stash: list[int] = stash if stash is not None else []
        self._kick_rot = 0  # deterministic victim-slot rotation

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "CuckooFilter":
        n_items = max(n_items, 64)
        # fpp ≈ 2·SLOTS / 2^fp_bits  →  fp_bits ≈ log2(8/fpp)
        fp_bits = min(16, max(8, math.ceil(math.log2(2 * cls.SLOTS / fpp))))
        n_buckets = 1
        while n_buckets * cls.SLOTS < 2 * n_items:  # target ≤50% load: rare kicks
            n_buckets <<= 1
        return cls(n_buckets, fp_bits)

    # -- hashing ------------------------------------------------------------

    def _fp_i1(self, keys) -> tuple[np.ndarray, np.ndarray]:
        h1, h2 = _hash2(keys)
        fps = (h2 % np.uint64((1 << self.fp_bits) - 1) + np.uint64(1)).astype(np.uint16)
        i1 = (h1 & np.uint64(self.n_buckets - 1)).astype(np.int64)
        return fps, i1

    def _alt(self, i: np.ndarray | int, fp: np.ndarray | int):
        mix = (np.asarray(fp, dtype=np.uint64) * self._FP_MIX) & np.uint64(
            self.n_buckets - 1
        )
        return np.bitwise_xor(np.asarray(i, dtype=np.uint64), mix).astype(np.int64)

    # -- core ops -------------------------------------------------------------

    def add_many(self, keys) -> None:
        if len(keys) == 0:
            return
        fps, i1 = self._fp_i1(keys)
        # same-key duplicates within the batch collapse to one insert
        pair = np.unique(np.stack([i1, fps.astype(np.int64)], axis=1), axis=0)
        i1, fps = pair[:, 0], pair[:, 1].astype(np.uint16)
        i2 = self._alt(i1, fps)
        # skip fingerprints already present (idempotent adds; keeps folds
        # from inflating load) — vectorized
        present = (self.table[i1] == fps[:, None]).any(axis=1) | (
            self.table[i2] == fps[:, None]
        ).any(axis=1)
        if self.stash:
            present |= np.isin(fps, np.asarray(self.stash, dtype=np.uint16))
        for i, fp in zip(i1[~present].tolist(), fps[~present].tolist()):
            self._insert(i, fp)

    def _insert(self, i: int, fp: int) -> None:
        t = self.table
        for cand in (i, int(self._alt(i, fp))):
            row = t[cand]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        cur_i, cur_fp = int(self._alt(i, fp)), fp
        for _ in range(self.MAX_KICKS):
            slot = self._kick_rot % self.SLOTS
            self._kick_rot += 1
            cur_fp, t[cur_i, slot] = int(t[cur_i, slot]), cur_fp
            cur_i = int(self._alt(cur_i, cur_fp))
            row = t[cur_i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur_fp
                return
        self.stash.append(cur_fp)  # never drop: no-false-negative contract

    def might_contain_many(self, keys) -> np.ndarray:
        n = len(keys)
        if n == 0:
            return np.zeros(0, dtype=bool)
        fps, i1 = self._fp_i1(keys)
        i2 = self._alt(i1, fps)
        out = (self.table[i1] == fps[:, None]).any(axis=1) | (
            self.table[i2] == fps[:, None]
        ).any(axis=1)
        if self.stash:
            out |= np.isin(fps, np.asarray(self.stash, dtype=np.uint16))
        return out

    def might_contain(self, key: str) -> bool:
        return bool(self.might_contain_many([key])[0])

    # -- serialization --------------------------------------------------------

    def to_bytes(self) -> bytes:
        st = np.asarray(self.stash, dtype=np.uint16)
        return (
            np.uint32(len(st)).tobytes() + st.tobytes() + self.table.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int, fp_bits: int) -> "CuckooFilter":
        ns = int(np.frombuffer(data[:4], dtype=np.uint32)[0])
        stash = np.frombuffer(data[4 : 4 + 2 * ns], dtype=np.uint16).tolist()
        table = (
            np.frombuffer(data[4 + 2 * ns :], dtype=np.uint16)
            .reshape(n_buckets, cls.SLOTS)
            .copy()
        )
        return cls(n_buckets, fp_bits, table, stash)

    @property
    def spec(self) -> tuple:
        return ("cuckoo", self.n_buckets, self.fp_bits)


# -- per-worker deserialized-filter memo -------------------------------------
#
# The broadcast probe path (filterstate.FilterState.probe) ships (token,
# spec, {(shard, sub): bits}) once per round; pyspark's _broadcastRegistry
# already unpickles that payload once per worker process, but
# ``filter_from_bytes`` COPIES the bitset — doing it per Arrow batch for
# every pair made probe cost O(all pairs x batches). This memo deserializes
# each pair lazily (only pairs actually present in a batch)
# and exactly once per worker per round: the token changes every round, and
# a token change evicts the previous round's filters so worker residency is
# bounded by ONE round's working set, never the crawl's history.

_PROBE_CACHE: dict = {"token": None, "filters": {}}


def cached_filter(token: str, key, spec: tuple, data: bytes):
    """``key`` is the filter unit's (shard, sub) pair."""
    if _PROBE_CACHE["token"] != token:
        _PROBE_CACHE["token"] = token
        _PROBE_CACHE["filters"] = {}
    f = _PROBE_CACHE["filters"].get(key)
    if f is None:
        f = _PROBE_CACHE["filters"][key] = filter_from_bytes(spec, data)
    return f


# -- filter factory: one spec per crawler (CrawlConfig.seen_filter kind) ----


def filter_spec(kind: str, capacity: int, fpp: float) -> tuple:
    """Geometry spec for a per-shard seen filter: a small picklable tuple
    the frontier captures in executor closures / broadcasts instead of a
    class reference. ``("bloom", n_bits, n_hashes)`` or
    ``("cuckoo", n_buckets, fp_bits)``."""
    if kind == "cuckoo":
        p = CuckooFilter.sized_for(capacity, fpp)
        return p.spec
    if kind == "bloom":
        p = BloomFilter.sized_for(capacity, fpp)
        return p.spec
    raise ValueError(f"unknown seen_filter kind: {kind!r}")


def new_filter(spec: tuple):
    if spec[0] == "cuckoo":
        return CuckooFilter(spec[1], spec[2])
    return BloomFilter(spec[1], spec[2])


def filter_from_bytes(spec: tuple, data: bytes):
    if spec[0] == "cuckoo":
        return CuckooFilter.from_bytes(data, spec[1], spec[2])
    return BloomFilter.from_bytes(data, spec[1], spec[2])
