"""Probabilistic membership filters for the URL-seen set.

Graft of the reference's ``uriPage`` unique B-tree index — the URL-seen
set (db/PerstRoot.java:32,46-67) — per the north rule: a **Bloom filter**
prefilter ahead of the exact anti-join, with a **cuckoo filter** fallback
where force-requeue (Spider.java:185-188) semantically deletes from the
"currently queued-or-done" set.

Both filters are *prefilters only*: a maybe-seen admission is confirmed
by an exact anti-join against the frontier buckets it falls in, so
false positives cannot corrupt the seen set (SURVEY.md §7.3).  Each
frontier bucket keeps one filter of each kind as a row of a bucketed
snapshot table (operators/seenfilter.py); ``from_row`` / ``row`` are
the one place that row format is decoded and encoded.

Hashing: keys arrive as two 64-bit hashes computed JVM-side
(``xxhash64(url)`` / ``xxhash64(url, 1)``), and both filters work on
whole numpy arrays of them — ``add_hash_arrays`` /
``contains_hash_arrays`` on both, plus cuckoo ``delete_hash_arrays`` —
so the only per-key Python left is the cuckoo kick loop, which is
inherently sequential.  The hashes are deterministic across processes
(unlike Python's salted ``hash()``), which the bit-identical-resume
requirement needs.
"""

from __future__ import annotations

import numpy as np

# Bloom sizing: bits per key at the sized capacity (~1% FPR with
# k = 7).  Filter rows store their own m and k, so only a build or an
# overflow check reads this.
BITS_PER_KEY = 10


class BloomFilter:
    """Classic Bloom filter over 64-bit hash pairs (Kirsch–Mitzenmacher
    double hashing).  Stored as a ``(bkt, n, m, k, overflow, bits)``
    filter row."""

    def __init__(self, capacity: int):
        self.m = max(64, capacity * BITS_PER_KEY)
        self.k = max(1, int(round(BITS_PER_KEY * 0.6931)))
        self.bits = np.zeros((self.m + 63) // 64, dtype=np.uint64)

    @classmethod
    def from_row(cls, row, writable: bool = False) -> "BloomFilter":
        """The filter a stored row holds.  Without ``writable`` the bits
        are a read-only view of the row's buffer (enough to probe)."""
        bf = cls.__new__(cls)
        bf.m, bf.k = int(row["m"]), int(row["k"])
        bits = np.frombuffer(row["bits"], dtype=np.uint64)
        bf.bits = bits.copy() if writable else bits
        return bf

    def row(self, bkt: int, n: int, overflow: bool = False) -> dict:
        """The stored row for bucket ``bkt`` holding ``n`` keys."""
        return {"bkt": bkt, "n": n, "m": self.m, "k": self.k,
                "overflow": overflow, "bits": self.bits.tobytes()}

    def add_hash_arrays(self, h1: np.ndarray, h2: np.ndarray) -> None:
        """Set bits for a batch of pre-hashed keys.  h1/h2 are uint64
        views of JVM-side xxhash64 values; everything here is whole-array
        numpy — no per-row Python.

        ``np.bitwise_or.at`` was once the textbook slow path (unbuffered
        ufunc), but on this numpy it is the FASTEST option — measured
        0.23s vs 3.06s for a sort+``reduceat`` merge at 1M keys (k=7),
        so the scatter-OR stays."""
        h1 = np.ascontiguousarray(h1, dtype=np.uint64)
        h2 = np.ascontiguousarray(h2, dtype=np.uint64) | np.uint64(1)  # odd stride
        m = np.uint64(self.m)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % m
            np.bitwise_or.at(
                self.bits, pos >> np.uint64(6),
                np.uint64(1) << (pos & np.uint64(63)),
            )

    def contains_hash_arrays(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Batch probe for pre-hashed keys -> bool array."""
        h1 = np.ascontiguousarray(h1, dtype=np.uint64)
        h2 = np.ascontiguousarray(h2, dtype=np.uint64) | np.uint64(1)
        m = np.uint64(self.m)
        ok = np.ones(len(h1), dtype=bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % m
            word = self.bits[pos >> np.uint64(6)]
            ok &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return ok


class CuckooFilter:
    """Cuckoo filter (Fan et al., CoNEXT'14 — public algorithm):
    4-slot buckets, 16-bit fingerprints, partial-key cuckoo hashing.
    Supports DELETE, which Bloom cannot — needed because force-requeue
    (SURVEY.md §2 B5) removes entries from the "queued-or-done" view.
    Stored as a ``(bkt, n, nb, kick, overflow, table)`` filter row."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        nb = 1
        while nb * self.SLOTS < capacity * 1.3:
            nb <<= 1
        self.num_buckets = nb
        self.table = np.zeros((nb, self.SLOTS), dtype=np.uint16)
        # deterministic "random" eviction slot counter
        self._kick_seq = 0

    @classmethod
    def from_row(cls, row, writable: bool = False) -> "CuckooFilter":
        """The filter a stored row holds.  Without ``writable`` the table
        is a read-only view of the row's buffer (enough to probe)."""
        cf = cls.__new__(cls)
        cf.num_buckets, cf._kick_seq = int(row["nb"]), int(row["kick"])
        table = np.frombuffer(row["table"], dtype=np.uint16) \
            .reshape(-1, cls.SLOTS)
        cf.table = table.copy() if writable else table
        return cf

    def row(self, bkt: int, n: int, overflow: bool = False) -> dict:
        """The stored row for bucket ``bkt`` holding ``n`` keys."""
        return {"bkt": bkt, "n": n, "nb": self.num_buckets,
                "kick": self._kick_seq, "overflow": overflow,
                "table": self.table.tobytes()}

    @staticmethod
    def fp_buckets_arrays(h1: np.ndarray, h2: np.ndarray, nb: int):
        """(h1, h2) uint64 arrays → (fp, i1, i2) int64 arrays."""
        h1 = np.ascontiguousarray(h1, dtype=np.uint64)
        h2 = np.ascontiguousarray(h2, dtype=np.uint64)
        fp = (h1 & np.uint64(0xFFFF)).astype(np.int64)
        fp[fp == 0] = 1
        i1 = (h2 % np.uint64(nb)).astype(np.int64)
        # fp <= 0xFFFF so fp*0x5BD1E995 < 2^48: no int64 overflow, and
        # the scalar _fp_hash's implicit unbounded-int arithmetic
        # agrees with this exactly
        x = fp * 0x5BD1E995
        fph = (x ^ (x >> 13)) & 0x7FFFFFFF
        i2 = (i1 ^ fph) % nb
        return fp, i1, i2

    def add_fp(self, fp: int, i1: int, i2: int) -> bool:
        """Insert a precomputed (fingerprint, bucket, alt-bucket) key.
        False = table full — the caller rebuilds larger."""
        if self._try_put(i1, fp) or self._try_put(i2, fp):
            return True
        i = i1 if (self._kick_seq & 1) == 0 else i2
        for _ in range(self.MAX_KICKS):
            s = self._kick_seq % self.SLOTS
            self._kick_seq += 1
            fp, self.table[i][s] = int(self.table[i][s]), fp
            i = self._alt(i, fp)
            if self._try_put(i, fp):
                return True
        return False

    def add_hash_arrays(self, h1: np.ndarray, h2: np.ndarray) -> bool:
        """Insert xxhash64-pair keys in array order (the order fixes the
        table bytes).  False = some key did not fit: the table is over
        capacity and must be rebuilt larger."""
        fp, i1, i2 = self.fp_buckets_arrays(h1, h2, self.num_buckets)
        ok = True
        for j in range(len(fp)):
            ok &= self.add_fp(int(fp[j]), int(i1[j]), int(i2[j]))
        return ok

    def delete_hash_arrays(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Delete xxhash64-pair keys in array order; returns how many
        were found (and removed)."""
        fp, i1, i2 = self.fp_buckets_arrays(h1, h2, self.num_buckets)
        return sum(self.delete_fp(int(fp[j]), int(i1[j]), int(i2[j]))
                   for j in range(len(fp)))

    def delete_fp(self, fp: int, i1: int, i2: int) -> bool:
        for i in (i1, i2):
            row = self.table[i]
            for s in range(self.SLOTS):
                if row[s] == fp:
                    row[s] = 0
                    return True
        return False

    def contains_hash_arrays(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Whole-array membership probe for xxhash64-pair keys."""
        fp, i1, i2 = self.fp_buckets_arrays(h1, h2, self.num_buckets)
        fpc = fp[:, None].astype(self.table.dtype)
        return ((self.table[i1] == fpc).any(axis=1)
                | (self.table[i2] == fpc).any(axis=1))

    @staticmethod
    def _fp_hash(fp: int) -> int:
        # small deterministic scramble of the fingerprint
        x = fp * 0x5BD1E995
        return (x ^ (x >> 13)) & 0x7FFFFFFF

    def _alt(self, i: int, fp: int) -> int:
        return (i ^ self._fp_hash(fp)) % self.num_buckets

    def _try_put(self, i: int, fp: int) -> bool:
        row = self.table[i]
        for s in range(self.SLOTS):
            if row[s] == 0:
                row[s] = fp
                return True
        return False
