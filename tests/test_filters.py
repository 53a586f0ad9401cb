"""Bloom/cuckoo filter unit tests (SURVEY.md §2 B4/B5 prefilters), on
the hash-pair API the engine runs: keys enter as two 64-bit hashes."""

import numpy as np

from spider_spark.analytics.text import _xxh64
from spider_spark.functions.filters import BloomFilter, CuckooFilter


def _pairs(keys):
    """Two 64-bit hashes per key as uint64 arrays.  The engine takes
    them from JVM ``xxhash64``; the driver-side XXH64 twin stands in."""
    keys = list(keys)
    h1 = np.array([_xxh64(k.encode(), seed=42) for k in keys], dtype=np.uint64)
    h2 = np.array([_xxh64(k.encode(), seed=1) for k in keys], dtype=np.uint64)
    return h1, h2


def test_bloom_no_false_negatives():
    bf = BloomFilter(1000)
    h1, h2 = _pairs(f"http://h{i}.example/d/{i}" for i in range(1000))
    bf.add_hash_arrays(h1, h2)
    assert bf.contains_hash_arrays(h1, h2).all()


def test_bloom_fpr_bounded():
    bf = BloomFilter(2000)  # 10 bits/key
    bf.add_hash_arrays(*_pairs(f"key-{i}" for i in range(2000)))
    fp = bf.contains_hash_arrays(*_pairs(f"other-{i}" for i in range(10000)))
    assert fp.sum() / 10000 < 0.05  # ~1% expected at 10 bits/key


def test_bloom_deterministic_across_instances():
    a, b = BloomFilter(100), BloomFilter(100)
    h1, h2 = _pairs(("x", "y", "z"))
    a.add_hash_arrays(h1, h2)
    b.add_hash_arrays(h1, h2)
    assert np.array_equal(a.bits, b.bits)


def _fp_buckets(cf, h1, h2):
    fp, i1, i2 = CuckooFilter.fp_buckets_arrays(h1, h2, cf.num_buckets)
    return [(int(f), int(a), int(b)) for f, a, b in zip(fp, i1, i2)]


def test_cuckoo_insert_delete_contains():
    cf = CuckooFilter(1000)
    h1, h2 = _pairs(f"url-{i}" for i in range(800))
    keys = _fp_buckets(cf, h1, h2)
    for key in keys:
        assert cf.add_fp(*key)
    assert cf.contains_hash_arrays(h1, h2).all()
    # deletion — the capability Bloom lacks (force-requeue B5)
    for key in keys[:100]:
        assert cf.delete_fp(*key)
    misses = int(cf.contains_hash_arrays(h1[:100], h2[:100]).sum())
    # fingerprint collisions may leave a few phantom hits, never many
    assert misses < 10
    assert cf.contains_hash_arrays(h1[100:], h2[100:]).all()


def test_cuckoo_full_table_reports_failure():
    cf = CuckooFilter(16)
    keys = _fp_buckets(cf, *_pairs(f"k{i}" for i in range(200)))
    ok = sum(cf.add_fp(*key) for key in keys)
    assert ok < 200  # must signal saturation, not silently drop


def test_bloom_hash_array_api_no_false_negatives():
    """The engine hot path: vectorized add/probe over 64-bit hash pairs
    (JVM xxhash64 stand-ins) — no false negatives, bounded FPR."""
    rng = np.random.default_rng(7)
    h1 = rng.integers(0, 2**63, size=5000, dtype=np.int64).view(np.uint64)
    h2 = rng.integers(0, 2**63, size=5000, dtype=np.int64).view(np.uint64)
    bf = BloomFilter(5000)
    bf.add_hash_arrays(h1, h2)
    assert bf.contains_hash_arrays(h1, h2).all()
    o1 = rng.integers(0, 2**63, size=20000, dtype=np.int64).view(np.uint64)
    o2 = rng.integers(0, 2**63, size=20000, dtype=np.int64).view(np.uint64)
    fpr = bf.contains_hash_arrays(o1, o2).mean()
    assert fpr < 0.05


def test_bloom_hash_array_negative_int64_wraps():
    """Signed xxhash64 values (negative int64) must round-trip through
    the uint64 view identically on build and probe."""
    h1 = np.array([-1, -(2**62), 5], dtype=np.int64).view(np.uint64)
    h2 = np.array([-3, 7, -(2**40)], dtype=np.int64).view(np.uint64)
    bf = BloomFilter(64)
    bf.add_hash_arrays(h1, h2)
    assert bf.contains_hash_arrays(h1, h2).all()


def test_cuckoo_hash_array_api():
    """Whole-array insert/delete: the same table as key-by-key add_fp,
    the delete count, and False once the table cannot take a key."""
    h1, h2 = _pairs(f"url-{i}" for i in range(300))
    a, b = CuckooFilter(1000), CuckooFilter(1000)
    assert a.add_hash_arrays(h1, h2)
    for key in _fp_buckets(b, h1, h2):
        b.add_fp(*key)
    assert np.array_equal(a.table, b.table) and a._kick_seq == b._kick_seq
    assert a.contains_hash_arrays(h1, h2).all()
    assert a.delete_hash_arrays(h1[:50], h2[:50]) == 50
    assert a.delete_hash_arrays(h1[:50], h2[:50]) < 5  # only collisions
    assert not CuckooFilter(16).add_hash_arrays(h1, h2)


def test_filter_rows_round_trip():
    """``row`` / ``from_row`` carry a filter through its stored row
    unchanged; a read-only load probes, a writable one can grow."""
    h1, h2 = _pairs(f"k{i}" for i in range(100))
    bf = BloomFilter(100)
    bf.add_hash_arrays(h1, h2)
    row = bf.row(3, 100)
    assert (row["bkt"], row["n"], row["overflow"]) == (3, 100, False)
    ro = BloomFilter.from_row(row)
    assert ro.contains_hash_arrays(h1, h2).all()
    assert not ro.bits.flags.writeable
    assert ro.row(3, 100) == row
    rw = BloomFilter.from_row(row, writable=True)
    rw.add_hash_arrays(*_pairs(["extra"]))
    assert rw.row(3, 101)["bits"] != row["bits"]

    cf = CuckooFilter(256)
    assert cf.add_hash_arrays(h1, h2)
    crow = cf.row(5, 100, overflow=True)
    assert (crow["bkt"], crow["n"], crow["overflow"]) == (5, 100, True)
    back = CuckooFilter.from_row(crow)
    assert back.contains_hash_arrays(h1, h2).all()
    assert back.row(5, 100, overflow=True) == crow
    assert CuckooFilter.from_row(crow, writable=True).delete_hash_arrays(
        h1[:1], h2[:1]) == 1
    assert CuckooFilter.from_row(crow).table.tobytes() == crow["table"]
