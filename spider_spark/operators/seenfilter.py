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
  * maintain — each round ORs only its NEW urls into their buckets'
    filters (URLs never leave the seen set, so the incremental OR is
    exact).  Sizing carries 4x headroom from the build; a bucket whose
    key count would pass its sized capacity comes back flagged
    ``overflow`` and the engine rebuilds it from that bucket's merged
    frontier rows, so no global "filter outgrown → full rebuild" cliff
    exists.

The cuckoo table ("done" = currently non-QUEUED pages) is the
deletion-capable side the north rule asks for: force-requeue
(Spider.java:185-188) semantically DELETES from queued-or-done, which a
Bloom filter cannot express.  Adds/deletes are applied incrementally
per bucket (bounded by the round's status-change volume, sorted for
determinism) with the same overflow → rebuild fallback.

Both filters share one path: ``_keyed`` hashes a frame's urls,
``_per_bucket`` runs one Python call per bucket (cogrouped with the
bucket's filter row when there is one), and the filter classes'
``from_row`` / ``row`` decode and encode the stored rows.  Filter rows
carry ``bkt`` as a DATA column (the ``bucket`` partition column is
stripped by partitioned reads)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.filters import BITS_PER_KEY, BloomFilter, CuckooFilter

BLOOM_SCHEMA = "bkt int, n long, m long, k int, overflow boolean, bits binary"
CUCKOO_SCHEMA = "bkt int, n long, nb long, kick long, overflow boolean, table binary"


def bucket_of(col, nb: int):
    """Bucket id — identical to the frontier's pmod(url_hash, nb)."""
    return F.pmod(F.xxhash64(col), F.lit(nb)).cast("int")


def _keyed(df: DataFrame, nb: int, cols: list[str],
           bkt: str = "bkt") -> DataFrame:
    """``df``'s ``cols`` plus the url's bucket id (named ``bkt``) and
    its ``xxhash64(url)`` / ``xxhash64(url, 1)`` key pair ``_h1``/``_h2``."""
    return df.select(*cols, bucket_of(F.col("url"), nb).alias(bkt),
                     F.xxhash64("url").alias("_h1"),
                     F.xxhash64("url", F.lit(1)).alias("_h2"))


def _hashes(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """A keyed batch's hash pair as the uint64 arrays the filters take."""
    return (pdf["_h1"].to_numpy().view(np.uint64),
            pdf["_h2"].to_numpy().view(np.uint64))


def _per_bucket(left: DataFrame, fn, schema: str,
                filters: DataFrame | None = None,
                key: str = "bkt") -> DataFrame:
    """One Python call per bucket of ``left`` (grouped on ``key``):
    ``fn(pdf, row)`` gets the bucket's rows and its row of ``filters``
    (None when there is none or no ``filters`` are given) and returns
    a filter row (dict) or a frame.  A bucket holding a filter row but
    no ``left`` rows yields nothing."""
    def run(pdf, rows):
        if len(pdf) == 0:
            return pd.DataFrame()
        out = fn(pdf, rows.iloc[0] if rows is not None and len(rows) else None)
        return pd.DataFrame([out]) if isinstance(out, dict) else out

    grouped = left.groupBy(key)
    if filters is None:
        return grouped.applyInPandas(lambda pdf: run(pdf, None), schema)
    return grouped.cogroup(filters.groupBy("bkt")).applyInPandas(run, schema)


def _probe(df: DataFrame, filters: DataFrame, nb: int, flag: str,
           load) -> DataFrame:
    """df + ``flag`` boolean: does the url's bucket filter (``load``
    turns a filter row into a filter) report it present?  A bucket
    with no filter row holds no keys, so its urls read False.  All
    ``df`` columns pass through (they must be simple types)."""
    left = _keyed(df, nb, ["*"], bkt="_bkt")
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema]
        + [f"`{flag}` boolean"])

    def probe(pdf, row):
        hit = False if row is None else \
            load(row).contains_hash_arrays(*_hashes(pdf))
        return pdf.assign(**{flag: hit})

    return (_per_bucket(left, probe, schema, filters, key="_bkt")
            .drop("_bkt", "_h1", "_h2"))


# -- Bloom "seen" table ----------------------------------------------------


def build_bucket_blooms(urls: DataFrame, nb: int) -> DataFrame:
    """(url) rows → one (bkt, n, m, k, bits) filter row per populated
    bucket, each built inside a single task and sized for 4x the
    bucket's count, so incremental OR-ins keep the FPR low until the
    bucket overflows and is rebuilt here."""
    def build(pdf, _):
        bf = BloomFilter(max(1024, 4 * len(pdf)))
        bf.add_hash_arrays(*_hashes(pdf))
        return bf.row(int(pdf["bkt"].iloc[0]), len(pdf))

    return _per_bucket(_keyed(urls, nb, []), build, BLOOM_SCHEMA)


def update_bucket_blooms(new_urls: DataFrame, bloom_df: DataFrame,
                         nb: int) -> DataFrame:
    """Fold a round's NEW urls into the existing per-bucket filters —
    O(n_new) per round, not O(bucket rows).  A bucket whose key count
    would exceed its sized capacity comes back with ``overflow=true``
    (bits unchanged) and the engine rebuilds it from the bucket's
    merged frontier rows.  Buckets with no filter row yet build fresh
    from the new urls."""
    def upd(pdf, row):
        bkt, n = int(pdf["bkt"].iloc[0]), len(pdf)
        if row is None:
            bf = BloomFilter(max(1024, 4 * n))
        elif (int(row["n"]) + n) * BITS_PER_KEY > int(row["m"]):
            return BloomFilter.from_row(row).row(bkt, int(row["n"]),
                                                 overflow=True)
        else:
            bf, n = BloomFilter.from_row(row, writable=True), n + int(row["n"])
        bf.add_hash_arrays(*_hashes(pdf))
        return bf.row(bkt, n)

    return _per_bucket(_keyed(new_urls, nb, []), upd, BLOOM_SCHEMA, bloom_df)


def probe_blooms(cand: DataFrame, bloom_df: DataFrame, nb: int) -> DataFrame:
    """Candidates → candidates + ``_maybe`` boolean (True = possibly in
    the frontier, must be confirmed by the exact anti-join; False =
    definitely new, skips it).  One cogroup shuffle keyed on bucket."""
    return _probe(cand, bloom_df, nb, "_maybe", BloomFilter.from_row)


# -- cuckoo "done" table (queued-or-done view with deletions) -------------


def build_bucket_cuckoos(urls: DataFrame, nb: int) -> DataFrame:
    """(url) rows (the currently non-QUEUED pages) → one cuckoo filter
    row per populated bucket.  Insertion order is pinned by sorting, so
    the table bytes are deterministic across partition layouts; only
    the inherently-sequential kick loop runs per key."""
    def build(pdf, _):
        pdf = pdf.sort_values("url")
        cf = CuckooFilter(max(256, 4 * len(pdf)))
        cf.add_hash_arrays(*_hashes(pdf))
        return cf.row(int(pdf["bkt"].iloc[0]), len(pdf))

    return _per_bucket(_keyed(urls, nb, ["url"]), build, CUCKOO_SCHEMA)


def update_bucket_cuckoos(changes: DataFrame, done_df: DataFrame,
                          nb: int) -> DataFrame:
    """Apply per-round membership changes to the done filters.

    ``changes``: (url, op) with op ∈ {'add','del'} — adds are pages
    that finished fetching (→ INDEXED/SUCCEEDED/FAILED), dels are
    force-requeues back to QUEUED (the deletion path Bloom lacks).
    Output: updated filter rows for the touched buckets only; a row
    with ``overflow=true`` signals the engine to rebuild that bucket
    from its merged frontier rows (capacity exceeded — rare)."""
    def upd(pdf, row):
        # adds, then deletes, each in url order: deterministic table
        # bytes, bounded by the round's status-change volume
        pdf = pdf.sort_values("url")
        add = (pdf["op"] == "add").to_numpy()
        bkt = int(pdf["bkt"].iloc[0])
        if row is None:
            cf, n = CuckooFilter(max(256, 4 * int(add.sum()))), 0
        else:
            cf, n = CuckooFilter.from_row(row, writable=True), int(row["n"])
        if not cf.add_hash_arrays(*_hashes(pdf[add])):
            return cf.row(bkt, n, overflow=True)
        return cf.row(bkt, n + int(add.sum())
                      - cf.delete_hash_arrays(*_hashes(pdf[~add])))

    return _per_bucket(_keyed(changes, nb, ["url", "op"]), upd,
                       CUCKOO_SCHEMA, done_df)


def probe_cuckoos(df: DataFrame, done_df: DataFrame, nb: int,
                  flag: str = "_in_done") -> DataFrame:
    """df + ``<flag>`` boolean: url ∈ the done (non-QUEUED) set.  No
    false negatives (only inserted keys are ever deleted), so a False
    safely prunes the force-requeue confirm join."""
    return _probe(df, done_df, nb, flag, CuckooFilter.from_row)
