"""Sharded URL-seen filters — one Bloom (and one cuckoo "done") filter
per frontier bucket, stored as rows of a bucketed snapshot table and
committed atomically WITH the frontier (SURVEY.md §2 B4/B5).

Why sharded (the 10^10 design): a monolithic filter for 10^10 keys at
10 bits/key is ~12 GB — too big to build with per-partition partial
bitmaps (O(filter_size × partitions) shuffle), too big to re-broadcast
per round, and impossible to update incrementally without a driver-side
merge.  Per ``pmod(xxhash64(url), n_buckets)`` bucket:

  * build — one ``applyInPandas`` group per bucket hashes that bucket's
    URLs into a bucket-sized bitmap inside a single task.  No partial
    bitmaps, no driver merge, no driver allocation proportional to the
    filter at all: the bits live in the store as parquet binary.
  * probe — candidates cogrouped with the filter rows on bucket id:
    each task sees one bucket's candidates and that bucket's (small)
    bitmap, probes with whole-array numpy.  A candidate whose bucket
    has no filter row is DEFINITELY NEW (the filter table covers every
    bucket that has frontier rows, and filter+frontier swap in one
    atomic catalog commit — so a missing bucket row proves the bucket
    holds no URLs).
  * maintain — a bucket's filter is rebuilt from that bucket's full
    (merged) frontier rows whenever the bucket gains new URLs.  Those
    rows are already materialized for the frontier bucket rewrite, so
    the rebuild rides the same shuffle; sizing is recomputed per
    rebuild, which removes the global "filter outgrown → full rebuild"
    cliff entirely.

The cuckoo table ("done" = currently non-QUEUED pages) is the
deletion-capable side the north rule asks for: force-requeue
(Spider.java:185-188) semantically DELETES from queued-or-done, which a
Bloom filter cannot express.  Adds/deletes are applied incrementally
per bucket (bounded by the round's status-change volume, sorted for
determinism); a bucket overflowing its table is rebuilt from the
bucket's merged frontier rows (rare — capacity is sized 4x at build).

Filter rows carry ``bkt`` as a DATA column (the ``bucket`` partition
column is stripped by partitioned reads)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.filters import BITS_PER_KEY, BloomFilter, CuckooFilter

BLOOM_SCHEMA = "bkt int, n long, m long, k int, overflow boolean, bits binary"
CUCKOO_SCHEMA = "bkt int, n long, nb long, kick long, overflow boolean, table binary"


def bucket_of(col, nb: int):
    """Bucket id — identical to the frontier's pmod(url_hash, nb)."""
    return F.pmod(F.xxhash64(col), F.lit(nb)).cast("int")


def _hash_pair(df: DataFrame, url_col: str = "url") -> list:
    return [
        F.xxhash64(url_col).alias("_h1"),
        F.xxhash64(url_col, F.lit(1)).alias("_h2"),
    ]


def build_bucket_blooms(urls: DataFrame, nb: int) -> DataFrame:
    """(url) rows → one (bkt, n, m, k, bits) filter row per populated
    bucket, each built inside a single task.  Sized for the bucket's
    observed count with 4x headroom (growth between rebuilds is folded
    in by the rebuild-on-new-rows rule, so headroom only avoids FPR
    drift, not correctness)."""
    hashed = urls.select(bucket_of(F.col("url"), nb).alias("bkt"),
                         *_hash_pair(urls))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        n = len(pdf)
        bf = BloomFilter(max(1024, 4 * n))
        bf.add_hash_arrays(
            pdf["_h1"].to_numpy().view(np.uint64),
            pdf["_h2"].to_numpy().view(np.uint64),
        )
        return pd.DataFrame({
            "bkt": [int(pdf["bkt"].iloc[0])], "n": [n],
            "m": [bf.m], "k": [bf.k], "overflow": [False],
            "bits": [bf.bits.tobytes()],
        })

    return hashed.groupBy("bkt").applyInPandas(build, BLOOM_SCHEMA)


def update_bucket_blooms(new_urls: DataFrame, bloom_df: DataFrame,
                         nb: int) -> DataFrame:
    """Fold a round's NEW urls into the existing per-bucket filters —
    O(n_new) per round, not O(bucket rows).  URLs are never deleted
    from the seen set, so incremental OR is exact; a bucket whose key
    count would exceed its sized capacity comes back with
    ``overflow=true`` (bits unchanged) and the engine rebuilds it from
    the bucket's merged frontier rows (rare: capacity is 4x at build).
    Buckets with no filter row yet build fresh from the new urls."""
    left = new_urls.select(bucket_of(F.col("url"), nb).alias("bkt"),
                           *_hash_pair(new_urls))

    def upd(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        if len(left_pdf) == 0:
            return pd.DataFrame(
                {c: [] for c in ("bkt", "n", "m", "k", "overflow", "bits")})
        bkt = int(left_pdf["bkt"].iloc[0])
        h1 = left_pdf["_h1"].to_numpy().view(np.uint64)
        h2 = left_pdf["_h2"].to_numpy().view(np.uint64)
        if len(right_pdf) == 0:
            bf = BloomFilter(max(1024, 4 * len(left_pdf)))
            bf.add_hash_arrays(h1, h2)
            n, overflow = len(left_pdf), False
        else:
            r = right_pdf.iloc[0]
            n = int(r["n"]) + len(left_pdf)
            bf = BloomFilter.__new__(BloomFilter)
            bf.m, bf.k = int(r["m"]), int(r["k"])
            if n * BITS_PER_KEY > bf.m:
                # capacity exceeded: signal rebuild, keep old bits
                return pd.DataFrame({
                    "bkt": [bkt], "n": [int(r["n"])], "m": [bf.m],
                    "k": [bf.k], "overflow": [True], "bits": [r["bits"]],
                })
            bf.bits = np.frombuffer(r["bits"], dtype=np.uint64).copy()
            bf.add_hash_arrays(h1, h2)
            overflow = False
        return pd.DataFrame({
            "bkt": [bkt], "n": [n], "m": [bf.m], "k": [bf.k],
            "overflow": [overflow], "bits": [bf.bits.tobytes()],
        })

    return (
        left.groupBy("bkt")
        .cogroup(bloom_df.groupBy("bkt"))
        .applyInPandas(lambda lp, rp: upd(lp, rp), BLOOM_SCHEMA)
    )


def probe_blooms(cand: DataFrame, bloom_df: DataFrame, nb: int) -> DataFrame:
    """Candidates → candidates + ``_maybe`` boolean (True = possibly in
    the frontier, must be confirmed by the exact anti-join; False =
    definitely new, skips it).  One cogroup shuffle keyed on bucket;
    all candidate columns pass through (they must be simple types)."""
    left = cand.withColumn("_bkt", bucket_of(F.col("url"), nb)) \
               .withColumn("_h1", F.xxhash64("url")) \
               .withColumn("_h2", F.xxhash64("url", F.lit(1)))
    out_fields = [f"`{c}` {left.schema[c].dataType.simpleString()}"
                  for c in left.columns]
    out_schema = ", ".join(out_fields + ["`_maybe` boolean"])

    def probe(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        if len(left_pdf) == 0:
            return left_pdf.assign(_maybe=pd.Series([], dtype=bool))
        if len(right_pdf) == 0:
            # no filter row ⇒ bucket holds no frontier URLs ⇒ all new
            return left_pdf.assign(_maybe=False)
        r = right_pdf.iloc[0]
        bf = BloomFilter.__new__(BloomFilter)
        bf.m, bf.k = int(r["m"]), int(r["k"])
        bf.bits = np.frombuffer(r["bits"], dtype=np.uint64)
        ok = bf.contains_hash_arrays(
            left_pdf["_h1"].to_numpy().view(np.uint64),
            left_pdf["_h2"].to_numpy().view(np.uint64),
        )
        return left_pdf.assign(_maybe=ok)

    out = (
        left.groupBy("_bkt")
        .cogroup(bloom_df.groupBy("bkt"))
        .applyInPandas(lambda lp, rp: probe(lp, rp), out_schema)
    )
    return out.drop("_bkt", "_h1", "_h2")


# -- cuckoo "done" table (queued-or-done view with deletions) -------------


def build_bucket_cuckoos(urls: DataFrame, nb: int) -> DataFrame:
    """(url) rows (the currently non-QUEUED pages) → one cuckoo filter
    row per populated bucket.  Insertion order is pinned by sorting, so
    the table bytes are deterministic across partition layouts.

    Keys are JVM-side xxhash64 pairs (same family as the Bloom path):
    fingerprints and bucket indices come back as whole numpy arrays and
    only the inherently-sequential kick loop runs per key (VERDICT r3
    item 6)."""
    hashed = urls.select(bucket_of(F.col("url"), nb).alias("bkt"), "url",
                         *_hash_pair(urls))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        pdf = pdf.sort_values("url")
        cf = CuckooFilter(max(256, 4 * len(pdf)))
        fp, i1, i2 = CuckooFilter.fp_buckets_arrays(
            pdf["_h1"].to_numpy().view(np.uint64),
            pdf["_h2"].to_numpy().view(np.uint64), cf.num_buckets)
        add = cf.add_fp
        for j in range(len(fp)):
            add(int(fp[j]), int(i1[j]), int(i2[j]))
        return pd.DataFrame({
            "bkt": [int(pdf["bkt"].iloc[0])], "n": [len(pdf)],
            "nb": [cf.num_buckets], "kick": [cf._kick_seq],
            "overflow": [False], "table": [cf.table.tobytes()],
        })

    return hashed.groupBy("bkt").applyInPandas(build, CUCKOO_SCHEMA)


def update_bucket_cuckoos(changes: DataFrame, done_df: DataFrame,
                          nb: int) -> DataFrame:
    """Apply per-round membership changes to the done filters.

    ``changes``: (url, op) with op ∈ {'add','del'} — adds are pages
    that finished fetching (→ INDEXED/SUCCEEDED/FAILED), dels are
    force-requeues back to QUEUED (the deletion path Bloom lacks).
    Output: updated filter rows for the touched buckets only; a row
    with ``overflow=true`` signals the engine to rebuild that bucket
    from its merged frontier rows (capacity exceeded — rare)."""
    left = changes.select(bucket_of(F.col("url"), nb).alias("bkt"),
                          "url", "op", *_hash_pair(changes))

    def upd(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        if len(left_pdf) == 0:
            return pd.DataFrame(
                {c: [] for c in
                 ("bkt", "n", "nb", "kick", "overflow", "table")})
        bkt = int(left_pdf["bkt"].iloc[0])
        if len(right_pdf) == 0:
            cf = CuckooFilter(max(
                256, 4 * int((left_pdf["op"] == "add").sum())))
            n = 0
        else:
            r = right_pdf.iloc[0]
            cf = CuckooFilter.__new__(CuckooFilter)
            cf.num_buckets = int(r["nb"])
            cf._kick_seq = int(r["kick"])
            cf.table = np.frombuffer(
                r["table"], dtype=np.uint16
            ).reshape(-1, CuckooFilter.SLOTS).copy()
            n = int(r["n"])
        overflow = False
        # sorted (op, url) order: deterministic table bytes; bounded by
        # the round's status-change volume, not the frontier size.
        # Fingerprints/bucket indices precomputed whole-array; only the
        # kick loop is per-key Python
        left_pdf = left_pdf.sort_values(["op", "url"])
        fp, i1, i2 = CuckooFilter.fp_buckets_arrays(
            left_pdf["_h1"].to_numpy().view(np.uint64),
            left_pdf["_h2"].to_numpy().view(np.uint64), cf.num_buckets)
        is_add = (left_pdf["op"] == "add").to_numpy()
        for j in range(len(fp)):
            if is_add[j]:
                if not cf.add_fp(int(fp[j]), int(i1[j]), int(i2[j])):
                    overflow = True
                    break
                n += 1
            else:
                if cf.delete_fp(int(fp[j]), int(i1[j]), int(i2[j])):
                    n -= 1
        return pd.DataFrame({
            "bkt": [bkt], "n": [n], "nb": [cf.num_buckets],
            "kick": [cf._kick_seq], "overflow": [overflow],
            "table": [cf.table.tobytes()],
        })

    return (
        left.groupBy("bkt")
        .cogroup(done_df.groupBy("bkt"))
        .applyInPandas(lambda lp, rp: upd(lp, rp), CUCKOO_SCHEMA)
    )


def probe_cuckoos(df: DataFrame, done_df: DataFrame, nb: int,
                  flag: str = "_in_done") -> DataFrame:
    """df + ``<flag>`` boolean: url ∈ the done (non-QUEUED) set.  No
    false negatives (only inserted keys are ever deleted), so a False
    safely prunes the force-requeue confirm join."""
    left = (df.withColumn("_bkt", bucket_of(F.col("url"), nb))
            .withColumn("_h1", F.xxhash64("url"))
            .withColumn("_h2", F.xxhash64("url", F.lit(1))))
    out_fields = [f"`{c}` {left.schema[c].dataType.simpleString()}"
                  for c in left.columns]
    out_schema = ", ".join(out_fields + [f"`{flag}` boolean"])

    def probe(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        if len(left_pdf) == 0:
            return left_pdf.assign(**{flag: pd.Series([], dtype=bool)})
        if len(right_pdf) == 0:
            return left_pdf.assign(**{flag: False})
        r = right_pdf.iloc[0]
        cf = CuckooFilter.__new__(CuckooFilter)
        cf.num_buckets = int(r["nb"])
        cf._kick_seq = int(r["kick"])
        cf.table = np.frombuffer(
            r["table"], dtype=np.uint16).reshape(-1, CuckooFilter.SLOTS)
        ok = cf.contains_arrays(
            left_pdf["_h1"].to_numpy().view(np.uint64),
            left_pdf["_h2"].to_numpy().view(np.uint64))
        return left_pdf.assign(**{flag: ok})

    out = (
        left.groupBy("_bkt")
        .cogroup(done_df.groupBy("bkt"))
        .applyInPandas(lambda lp, rp: probe(lp, rp), out_schema)
    )
    return out.drop("_bkt", "_h1", "_h2")
