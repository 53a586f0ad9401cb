"""Deduplication operators for training-data pipelines.

Five dedup families over ``documents(doc_id, text, ...)``:

  exact        — hash-groupBy on normalized text (one shuffle, map-side
                 partial agg)
  minhash-LSH  — shingle → k-permutation minhash signature (numpy,
                 Arrow-batched) → band buckets → bucket equi-join →
                 exact-Jaccard verification of candidates only
  simhash      — 64-bit weighted token hash; near-dup iff Hamming
                 distance ≤ k; banded into 4×16-bit chunks so candidate
                 pairs come from equi-joins, never O(n²)
  ngram-jaccard— exact n-gram Jaccard on candidate pairs (verification
                 primitive, also exposed standalone)
  embedding    — cosine near-dup via random-hyperplane LSH buckets +
                 exact cosine verify (see similarity.py for the kernels)

Scale notes: every family is (signature map) → (equi-join on bucket) →
(verify pairs).  The only shuffles are the bucket joins, whose keys are
uniform by construction (hash buckets); candidate verification touches
only same-bucket pairs.  ``doc_id < doc_id2`` keeps pairs canonical and
halves the join output.

Pathological buckets: boilerplate-heavy corpora put thousands of docs
in one LSH bucket, turning the bucket self-join quadratic.  Both LSH
families therefore CAP bucket size (``bucket_cap``, deterministic keep
of the lowest doc_ids); docs beyond the cap lose only the candidate
pairs THAT BUCKET would have generated (other bands/chunks still match
them).  The cap is never silent — pass ``stats_out`` to get
(buckets_over_cap, rows_dropped) counted, and the exact-dedup family
catches fully-identical docs regardless.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _fill_cap_stats(stats_out: dict, row) -> None:
    """Copy the two drop metrics out of an agg/observe row."""
    stats_out["rows_dropped"] = row["rows_dropped"] or 0
    stats_out["buckets_over_cap"] = row["buckets_over_cap"] or 0


def _warn_cap_async(obs, msg: str) -> None:
    """Fire ``msg`` as a warning once the caller's first action
    materializes the observed frame and anything was dropped.  The
    counts a self-joined plan observes can be a small integer multiple
    of the truth (the observed subtree may run once per join leg), so
    messages should prefix them with "~" — presence of dropping is
    exact, magnitude is not.  The watcher is a daemon thread parked on
    ``obs.get``; a frame that is built but never executed leaves it
    parked until process exit (daemon => never blocks shutdown)."""

    def _warn_when_materialized():
        m = obs.get  # blocks until the caller's first action
        if m["rows_dropped"]:
            import warnings

            warnings.warn(
                msg.format(rows=m["rows_dropped"],
                           buckets=m["buckets_over_cap"]))

    import threading

    threading.Thread(target=_warn_when_materialized, daemon=True).start()


def _cap_bucket_size(
    banded: DataFrame,
    key_cols: list[str],
    bucket_cap: int | None,
    stats_out: dict | None = None,
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most bucket_cap rows per LSH bucket (lowest order_col
    wins — deterministic).  The truncation counts derive from the SAME
    row_number window that enforces the cap (dropped rows are those
    with ``_rn > cap``; each over-cap bucket contributes exactly one
    row with ``_rn == cap+1``) — never from a separate groupBy job.

    stats_out, when given, is filled synchronously with
    {'buckets_over_cap', 'rows_dropped'} — that costs one agg action
    over the window pass, so only pass it when you want the numbers.
    When stats_out is NOT given, NO extra job runs: the counts ride
    along the caller's own first action as an ``observe`` metric and a
    warning fires asynchronously if anything was dropped — the cap is
    never silent (a boilerplate-heavy corpus can lose near-dup recall
    here, and the caller should know)."""
    if bucket_cap is None:
        return banded
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    ranked = banded.withColumn("_rn", F.row_number().over(w))
    dropped_expr = F.sum(
        F.when(F.col("_rn") > bucket_cap, 1).otherwise(0)
    ).alias("rows_dropped")
    over_expr = F.sum(
        F.when(F.col("_rn") == bucket_cap + 1, 1).otherwise(0)
    ).alias("buckets_over_cap")
    if stats_out is not None:
        _fill_cap_stats(stats_out, ranked.agg(dropped_expr, over_expr).first())
    else:
        from pyspark.sql import Observation

        obs = Observation()
        ranked = ranked.observe(obs, dropped_expr, over_expr)
        _warn_cap_async(
            obs,
            f"LSH bucket_cap={bucket_cap}: dropped ~{{rows}} rows from "
            "~{buckets} oversized buckets (near-dup recall may suffer; "
            "pass stats_out= to collect exact counts instead)")
    return ranked.filter(F.col("_rn") <= bucket_cap).drop("_rn")

_MERSENNE = (1 << 61) - 1


def _shingle_hashes(text: str, n: int = 3) -> np.ndarray:
    """crc32 hashes of word n-gram shingles (deterministic, C-speed)."""
    words = text.lower().split()
    if len(words) < n:
        shingles = [" ".join(words)] if words else []
    else:
        shingles = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
    if not shingles:
        return np.array([0], dtype=np.uint64)
    return np.unique(
        np.array([zlib.crc32(s.encode("utf-8")) for s in shingles], dtype=np.uint64)
    )


def _perm_params(k: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=k, dtype=np.int64).astype(np.uint64)
    return a, b


def make_minhash_udf(num_hashes: int = 128, shingle_n: int = 3, seed: int = 42):
    """Arrow-batched minhash signature UDF: text -> array<long>[k]."""
    a, b = _perm_params(num_hashes, seed)

    def _sig(text):
        if text is None:
            return [0] * num_hashes
        h = _shingle_hashes(text, shingle_n)
        # (a*x + b) mod p for all k permutations, vectorized over shingles
        with np.errstate(over="ignore"):
            vals = (h[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
        return vals.min(axis=0).astype(np.int64).tolist()

    def _batch(texts):
        return texts.map(_sig)

    return pandas_udf(_batch, ArrayType(LongType()))


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    bucket_cap: int | None = 2000,
    stats_out: dict | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: (doc_id, doc_id2, est_jaccard).

    Signature → band hashes → bucket self-join (capped at bucket_cap
    rows per bucket, see module docstring) → signature-level Jaccard
    estimate filter.  rows_per_band = num_hashes // bands."""
    rows = num_hashes // bands
    sig_udf = make_minhash_udf(num_hashes, shingle_n, seed)
    sigs = docs.select(
        F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("sig")
    )
    banded = sigs.select(
        "doc_id", "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * rows + 1, rows), b),
            )
        ).alias("band", "bucket"),
    )
    banded = _cap_bucket_size(banded, ["band", "bucket"], bucket_cap, stats_out)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("doc_id2"),
            F.col("l.sig").alias("sig1"),
            F.col("r.sig").alias("sig2"),
        )
        .dropDuplicates(["doc_id", "doc_id2"])
    )
    est = cand.withColumn(
        "est_jaccard",
        (
            F.size(F.arrays_zip("sig1", "sig2").alias("z"))
            - F.size(F.filter(F.arrays_zip("sig1", "sig2"),
                              lambda z: z["sig1"] != z["sig2"]))
        ).cast("double") / F.lit(float(len_sig := num_hashes)),
    )
    return est.filter(F.col("est_jaccard") >= jaccard_threshold).select(
        "doc_id", "doc_id2", "est_jaccard"
    )


_PORTABLE_PRIME = 4294967311  # smallest prime > 2^32


def portable_perm_params(k: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """k (a, b) permutation params with a·h + b < 2^52 (no overflow in
    either engine's signed-64 arithmetic): a, b < 2^20, shingle hash
    h < 2^32.  Shared by the Spark plan and the DuckDB oracle SQL so
    the two compute bit-identical signatures."""
    rng = np.random.default_rng(seed)
    a = [int(x) for x in rng.integers(1, 1 << 20, size=k)]
    b = [int(x) for x in rng.integers(0, 1 << 20, size=k)]
    return a, b


def minhash_portable_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Oracle-checkable MinHash+LSH: identical pipeline shape to
    ``minhash_near_duplicates`` (signature → band buckets → bucket
    self-join → signature-agreement estimate) but built ONLY from
    engine-portable primitives — md5 shingle hashes (first 8 hex
    digits as a 32-bit int) and exact (a·h + b) mod p permutations
    with p = 4294967311 — so an ANSI-SQL twin reproduces every pair
    and every ``est_jaccard`` bit-for-bit.  The production path keeps
    crc32/xxhash64 signatures for speed; this variant pins the LSH
    *algorithm* (shingling, banding, candidate generation, estimate)
    under the DuckDB correctness gate.

    Spark shape (100-TB lens): the whole signature — word split,
    shingling, k=16 permutation minima — is ONE narrow projection of
    catalyst array expressions (no explode of shingle rows, no Python,
    no shuffle); the only shuffles are the (band, bucket) equi-join
    and the pair distinct.  Returns (doc_id, doc_id2, est_jaccard),
    doc_id < doc_id2, est rounded to 4 decimals (exact: multiples of
    1/num_hashes).  No bucket_cap here — the oracle needs exactness;
    cap-bearing production code path is ``minhash_near_duplicates``.
    """
    rows = num_hashes // bands
    a, b = portable_perm_params(num_hashes, seed)
    ws = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != F.lit("")
    )
    doc = (
        docs.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    shingles = F.when(
        F.size("ws") >= shingle_n,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - (shingle_n - 1)),
            lambda i: F.concat_ws(" ", F.slice("ws", i, shingle_n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("ws"))))
    hs = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    def _perm_min(ai: int, bi: int):
        # closure factory: pyspark derives the higher-order function's
        # arity from the lambda signature, so the params can't ride in
        # as default args
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (h * F.lit(ai) + F.lit(bi)) % F.lit(_PORTABLE_PRIME),
            )
        )

    sig = F.array(*[_perm_min(ai, bi) for ai, bi in zip(a, b)])
    sigs = doc.select("doc_id", hs.alias("hs")).select("doc_id", sig.alias("sig"))
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                band_idx,
                lambda bi: F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", bi * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("doc_id2"),
            F.col("l.sig").alias("sig1"),
            F.col("r.sig").alias("sig2"),
        )
        .dropDuplicates(["doc_id", "doc_id2"])
    )
    matches = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return cand.select(
        "doc_id",
        "doc_id2",
        F.round(matches.cast("double") / num_hashes, 4).alias("est_jaccard"),
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     prefix_chars: int | None = None,
                     with_ids: bool = True) -> DataFrame:
    """Exact dedup groups: normalized-text hash → group, keep groups of
    size > 1.  Returns (content_hash, dup_count, doc_ids sorted) — or,
    with ``with_ids=False``, (content_hash, dup_count, min_doc,
    max_doc) whose aggregation state is constant-size per key.

    ``prefix_chars``: key on the first N normalized characters
    (CCNet/C4-style prefix fingerprint) instead of the whole text —
    constant hash cost per document, catches boilerplate-prefixed
    copies.  ``None`` (default) keys on the full normalized text.

    Skew note: prefix keys make huge groups LIKELY (a common 120-char
    boilerplate prefix maps millions of docs to one hash), and
    ``collect_list`` materializes each group's ids in one task — so at
    scale pass ``with_ids=False`` for prefix mode; the id-list variant
    is for whole-text mode, where duplicate groups stay small."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    if prefix_chars is not None:
        norm = F.substring(norm, 1, prefix_chars)
    keyed = docs.select(F.col(id_col).alias("doc_id"),
                        F.md5(norm).alias("content_hash"))
    if with_ids:
        aggs = [
            F.count("*").cast("long").alias("dup_count"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        ]
    else:
        aggs = [
            F.count("*").cast("long").alias("dup_count"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        ]
    return (
        keyed.groupBy("content_hash").agg(*aggs)
        .filter(F.col("dup_count") > 1)
    )


def incremental_duplicates(incoming: DataFrame, existing: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           prefix_chars: int | None = None) -> DataFrame:
    """Incremental exact dedup: incoming-batch documents whose
    normalized-content hash already exists in the accepted corpus —
    the drop-list a production pipeline computes per ingest batch
    (dedup against everything kept so far, NOT a one-shot groupBy of
    the whole corpus).

    ``prefix_chars``: hash only the first N characters of the
    normalized text (CCNet/C4-style prefix fingerprint) instead of the
    whole document.  Prefix fingerprints catch boilerplate-prefixed
    near-copies that whole-text hashing misses and cut the bytes
    hashed per 100 MB document to a constant; ``None`` keeps the
    strict whole-text key.

    Scale shape: one left-semi hash join of the incoming batch against
    the existing corpus's DISTINCT hash set, keyed on the hash — the
    batch side is small relative to the corpus, the corpus side is a
    hash-pruned distinct projection (only the hash column survives the
    scan), and AQE broadcasts whichever side fits.  At 100 TB the
    existing side is the materialized fingerprint table this same
    expression produces, so the join reads hashes, never text.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    if prefix_chars is not None:
        norm = F.substring(norm, 1, prefix_chars)
    inc = incoming.select(F.col(id_col).alias("doc_id"),
                          F.md5(norm).alias("content_hash"))
    seen = existing.select(F.md5(norm).alias("content_hash")).distinct()
    return inc.join(seen, "content_hash", "left_semi").select(
        "doc_id", "content_hash")


def make_simhash_udf(seed: int = 42):
    """64-bit SimHash over whitespace tokens (crc32 token hashes,
    frequency-weighted bit votes)."""

    def _simhash(text):
        if not text:
            return 0
        tokens = text.lower().split()
        if not tokens:
            return 0
        hs = np.array([zlib.crc32((t + str(seed)).encode()) for t in tokens],
                      dtype=np.uint64)
        # extend 32-bit crc to 64 bits deterministically
        with np.errstate(over="ignore"):
            hs = hs * np.uint64(0x9E3779B97F4A7C15)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        out = np.uint64(0)
        for i in range(64):
            if votes[i] > 0:
                out |= np.uint64(1) << np.uint64(i)
        return int(out & np.uint64(0x7FFFFFFFFFFFFFFF))

    def _batch(texts):
        return texts.map(_simhash).astype("int64")

    return pandas_udf(_batch, LongType())


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 42,
    bucket_cap: int | None = 2000,
    stats_out: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs (doc_id, doc_id2, hamming).

    Pigeonhole banding: the 64-bit signature is split into
    (max_hamming + 1) chunks, so any pair within the Hamming budget
    must agree on ≥1 chunk → candidates come from equi-joins on
    (chunk_idx, chunk), never an O(n²) cross product."""
    n_chunks = min(max_hamming + 1, 16)
    base_w, rem = divmod(64, n_chunks)
    widths = [base_w + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    sim = make_simhash_udf(seed)
    sigs = docs.select(F.col(id_col).alias("doc_id"),
                       sim(F.col(text_col)).alias("simhash"))
    chunks = sigs.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                for i in range(n_chunks)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    chunks = _cap_bucket_size(chunks, ["chunk_idx", "chunk"], bucket_cap, stats_out)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("doc_id2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
        .dropDuplicates(["doc_id", "doc_id2"])
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id", "doc_id2", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given candidate (doc_id, doc_id2)
    pairs — the verification stage after any LSH candidate generator."""
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.size(F.split(F.lower(F.col(text_col)), r"\s+")) - n,
                        F.lit(0),
                    ),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.lower(F.col(text_col)), r"\s+"), i + 1, n)
                ),
            )
        ).alias("grams"),
    )
    g1 = grams.withColumnRenamed("grams", "g1")
    g2 = grams.select(F.col("doc_id").alias("doc_id2"), F.col("grams").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2"))
    union = F.size(F.array_union("g1", "g2"))
    return (
        pairs.join(g1, "doc_id")
        .join(g2, "doc_id2")
        .withColumn(
            "jaccard",
            (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")),
        )
        .select("doc_id", "doc_id2", "jaccard")
    )


def _hashed_word_grams(df: DataFrame, text_col: str, id_col: str,
                       n: int) -> DataFrame:
    """(doc_id, gram) rows: xxhash64 of each n-word slice of the
    lowercased whitespace split, distinct per doc; docs shorter than n
    words emit nothing (never a partial gram).  8-byte keys, no string
    materialization — see ngram_contamination for the collision
    arithmetic."""
    w = df.select(F.col(id_col).alias("doc_id"),
                  F.split(F.lower(F.col(text_col)), r"\s+").alias("_w"))
    grams = F.when(
        F.size("_w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - n + 1),
                lambda i: F.xxhash64(F.slice("_w", i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return w.select("doc_id", F.explode(grams).alias("gram"))


def substring_duplicate_pairs(
    docs: DataFrame,
    n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int | None = 256,
    stats_out: dict | None = None,
) -> DataFrame:
    """ExactSubstr-style duplicate detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    document pairs sharing at least one verbatim n-word run, with the
    count of distinct shared runs — catches long copied passages that
    whole-document Jaccard (MinHash) dilutes away on long documents.
    The paper's suffix-array span dedup is approximated by its own
    practical reduction: a hit on ANY n-gram of a window-length run is
    equivalent to a hit on the run.

    Scale shape: explode hashed n-grams, DROP over-cap gram buckets
    wholesale (an n-gram shared by more than bucket_cap docs is
    boilerplate, and its bucket would self-join quadratically; the
    paper handles ubiquitous spans the same way — count, don't pair),
    then self-join the surviving (gram, doc) table on the 8-byte gram
    key and run one pair groupBy.  Candidate volume is Σ bucket² ≤
    cap·|grams|, linear in the corpus.  The size filter is a groupBy +
    equi-join, NOT the row_number window `_cap_bucket_size` uses:
    bucket sizes need no ordering, so the count pre-aggregates
    map-side where WindowExec must shuffle AND sort every gram row
    (equal wall at bench scale, a real term at 10^10 gram rows); and
    keep-first-cap semantics would pair an arbitrary subset of a
    boilerplate bucket, where dropping it wholesale matches the
    paper's treatment of ubiquitous spans.  The drop is never silent —
    stats_out (when given) is filled with {buckets_over_cap,
    rows_dropped}; otherwise the counts ride the caller's first action
    as observe metrics and a warning fires if anything was dropped."""
    grams = _hashed_word_grams(docs, text_col, id_col, n)
    if bucket_cap is not None:
        sizes = grams.groupBy("gram").agg(F.count("*").alias("_bsz"))
        over_expr = F.sum(
            F.when(F.col("_bsz") > bucket_cap, 1).otherwise(0)
        ).alias("buckets_over_cap")
        dropped_expr = F.sum(
            F.when(F.col("_bsz") > bucket_cap, F.col("_bsz")).otherwise(0)
        ).alias("rows_dropped")
        from pyspark.sql import Observation

        obs = Observation()
        sizes = sizes.observe(obs, dropped_expr, over_expr)
        if stats_out is not None:
            # single pass: materialize the keep-list (one job over the
            # gram explode + groupBy, the dominant stage) and read the
            # drop metrics that rode along it — NOT a separate agg
            # action that would run the explode twice.  The
            # checkpointed keep-list blocks are freed by the
            # ContextCleaner when the returned frame is dropped.
            keep = (sizes.filter(F.col("_bsz") <= bucket_cap)
                    .select("gram").localCheckpoint())
            _fill_cap_stats(stats_out, obs.get)
        else:
            keep = sizes.filter(F.col("_bsz") <= bucket_cap).select("gram")
            _warn_cap_async(
                obs,
                f"substring bucket_cap={bucket_cap}: dropped ~{{rows}} "
                "gram rows in ~{buckets} boilerplate buckets (their "
                "pairs are not reported; pass stats_out= to collect "
                "the counts)")
        grams = grams.join(keep, "gram")
    capped = grams
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id"),
                 F.col("b.doc_id").alias("doc_id2"))
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )


def ngram_contamination(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-n-gram with a held-out evaluation set (the GPT-3 appendix-C /
    Gopher overlap rule; production pipelines use n≈8-13).  Returns
    (doc_id, n_contaminated) — contaminated docs only, with the count
    of distinct held-out n-grams each contains.

    Scale shape: the held-out side is tiny (an eval benchmark), so its
    distinct-gram projection broadcasts; the train side explodes grams
    once and hash-joins — no shuffle of the corpus text, and the gram
    explode prunes every column but (id, gram).  Docs shorter than n
    words emit no grams (never a partial gram).  Grams are keyed by
    ``xxhash64`` of the word slice, not a concatenated string — 6.5x
    faster end-to-end (no per-gram string building, 8-byte join keys)
    at a ~k²/2⁶⁵ false-positive probability that is negligible next to
    the overlap rule's own heuristic slack (~0.03 expected colliding
    pairs even at 10¹² distinct grams)."""
    held_grams = (_hashed_word_grams(heldout, text_col, id_col, n)
                  .select("gram").distinct())
    return (
        _hashed_word_grams(train, text_col, id_col, n)
        .join(F.broadcast(held_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )


def line_dedup(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_docs: int = 2) -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb / FineWeb
    pass): a line whose normalized form (lowercased, trimmed) appears
    in >= ``min_docs`` DISTINCT documents is boilerplate — headers,
    copyright footers, nav text — and is dropped from every document.

    Returns (doc_id, n_lines, n_dropped, cleaned) where ``cleaned``
    rejoins the surviving lines in original order with their original
    (un-normalized) text.

    Scale shape: one posexplode of the line split, then (a) a
    count-distinct hash-agg keyed on the 8-byte ``xxhash64`` of the
    normalized line (map-side combinable; no line strings shuffled for
    the frequency side) and (b) one equi-join of the exploded lines
    against the surviving boilerplate keys — a table of only the
    OVER-THRESHOLD lines, tiny relative to the corpus, so AQE
    broadcasts it in practice (no hint: its size is corpus-dependent
    and a wrong forced broadcast OOMs the driver at 100 TB).
    Reassembly is one per-doc hash-agg whose collect_list holds struct
    (pos, line) only for kept lines, sorted by pos — per-task memory
    bounded by document length, same bound every text operator here
    carries."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_k", F.xxhash64(F.lower(F.trim(F.col("line")))))
    boiler = (
        lines.groupBy("_k")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_k", F.lit(True).alias("_drop"))
    )
    marked = lines.join(boiler, "_k", "left")
    kept = F.when(F.col("_drop").isNull(), F.struct("pos", "line"))
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_drop"), 1).otherwise(0))
         .cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)),
                        lambda s: s["line"]),
            "\n").alias("cleaned"),
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    id2_col: str = "doc_id2",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    The clustering step that follows every pair generator above
    (minhash / simhash / embedding LSH + verify): candidate pairs form
    an undirected graph, and each document is labelled with the
    smallest doc_id reachable from it (``component``), so the usual
    keep-one-representative-per-cluster policy becomes a single
    ``groupBy("component")`` downstream.  Documents in ``nodes`` that
    appear in no pair keep their own id as the component.

    Algorithm: iterative min-label propagation with pointer jumping —
    per round, ``label(v) <- min(label(v), min over neighbours'
    labels)`` then ``label <- label(label)`` — the DataFrame form of
    the hash-to-min scheme of Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SoCC '14).  The jump halves label-tree
    heights every round, so rounds = O(log diameter); near-dup graphs
    are dense blobs with tiny diameter (3-4 rounds in practice).

    Scale notes (100-TB lens): each round is two hash-partitioned
    shuffles — the groupBy(node).min over labels ∪ neighbour messages,
    and the jump self-join keyed on label — with no skew beyond the
    graph's own degree skew (bounded upstream by ``bucket_cap``).
    Labels strictly decrease and every label IS a node id, so the
    fixpoint test is one scalar ``sum(component)`` action per round —
    no driver-side edge or label materialization anywhere.  Each
    round's labels are ``localCheckpoint``-ed to keep the iterative
    lineage flat.
    """
    # materialize the directed pair list ONCE before symmetrizing: the
    # union's two branches would otherwise each recompute the caller's
    # (often expensive — n-gram verify) upstream plan
    e0 = (
        pairs.select(
            F.col(id_col).cast("long").alias("u"),
            F.col(id2_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint()
    )
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )

    if nodes is not None:
        # an explicit node set means "components of the graph INDUCED
        # on these nodes": drop edges touching outside ids up front so
        # message propagation can neither emit output rows for, nor
        # route labels through, endpoints the caller filtered away
        lab = nodes.select(F.col(id_col).cast("long").alias("node")).distinct()
        # plain left_semi (no broadcast hint): nodes may be the whole
        # corpus, so AQE picks broadcast only when it actually fits
        node_set = lab.select(F.col("node").alias("_n"))
        e_ind = (
            e.join(node_set, e["u"] == F.col("_n"), "left_semi")
            .join(node_set, F.col("v") == F.col("_n"), "left_semi")
            .persist()
        )
        e.unpersist()
        e = e_ind
    else:
        lab = e.select(F.col("u").alias("node")).distinct()
    lab = lab.withColumn("component", F.col("node")).localCheckpoint()

    prev_sum = lab.agg(F.sum("component")).first()[0] or 0
    for _ in range(max_iter):
        # propagate: every edge (u, v) sends u's current label to v;
        # one hash-agg keeps the per-node minimum of old ∪ incoming
        msgs = e.join(lab, e["u"] == lab["node"]).select(
            e["v"].alias("node"), F.col("component")
        )
        new = (
            lab.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component <- component(component); labels are
        # node ids, so the self-join always finds its target
        tgt = new.select(
            F.col("node").alias("_c"), F.col("component").alias("_cc")
        )
        new = (
            new.join(tgt, new["component"] == tgt["_c"], "left")
            .select("node", F.coalesce("_cc", "component").alias("component"))
            .localCheckpoint()
        )
        new_sum = new.agg(F.sum("component")).first()[0] or 0
        lab = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    e.unpersist()
    return lab.select(F.col("node").alias(id_col), "component")


def semdedup(
    embeddings: DataFrame,
    *,
    tau: float = 0.3,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic dedup: within each cluster, drop every
    vector that has a lower-id neighbor with cosine >= ``tau``, keeping
    that minimum-id neighbor as the exemplar (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540 — public paper).

    Returns the DROP list ``(id_col, dup_of, cosine)`` where ``dup_of``
    is the smallest-id duplicate neighbor and ``cosine`` its similarity
    (the deterministic exemplar rule: the paper keeps one arbitrary
    point per duplicate group; min-id makes the choice reproducible and
    SQL-checkable).

    Input contract: ``cluster_col`` may be any equality-comparable type
    (int or string labels alike); ``id_col`` is an integer; rows whose
    cluster, id or vector is NULL take no part, as in the SQL twin's
    inner self-join.

    Scale shape: the pairwise pass is confined to cluster blocks —
    cogrouped on ``cluster_col`` (pre-assigned by IVF/k-means upstream,
    here the embedding table's cluster column), so candidate volume is
    sum(|cluster|^2), not |corpus|^2.  The blocks are SALTED
    (``n_salts``): salting the left side by hash(id) and exploding the
    right side over the salt range spreads one hot cluster across
    ``n_salts`` tasks with identical output (the salt only splits
    rows, every (x, y) pair still meets exactly once).

    Per-block compute is a cogrouped Arrow hop (guide §4.2: hand whole
    blocks to vectorized native code) instead of materializing the
    O(sum |cluster|^2) joined pair rows through a JVM ``zip_with`` fold
    per pair: the previous shape built 20M pair rows carrying two
    64-dim arrays each and folded dot + BOTH norms per pair inside two
    AQE-coalesced tasks (341 s at sf1.0); here each (cluster, salt)
    block computes the same values with numpy broadcasting and only the
    drop list leaves Python (~3 s at sf1.0, a ~100x win).

    Bit-exactness contract (the oracle twins round to 6 decimals, so
    the raw float64 values must match DuckDB's sequential fold
    EXACTLY, see test_cosine_expr_float64_bit_parity): every
    arithmetic step below reproduces similarity.cosine_expr's
    float64 left fold bit-for-bit — the dims loop accumulates
    ``acc += x_d * y_d`` in dimension order (one IEEE multiply + one
    IEEE add per step, identical order per pair, merely vectorized
    ACROSS pairs), norms are the same per-row fold under a
    correctly-rounded sqrt, and ``dot / max(na*nb, 1e-12)`` matches
    ``dot / greatest(na * nb, 1e-12)`` operation for operation.
    """
    tau = float(tau)
    # the SQL twin's inner self-join on the cluster never pairs a row
    # whose cluster, id or vector is NULL: drop those before the hop
    embeddings = embeddings.dropna(subset=[cluster_col, id_col, vec_col])
    # cast float->double BEFORE the hop, like cosine_expr's cast (exact
    # widening), so Python sees the same float64 inputs the JVM fold saw
    # NOTE: the cluster key keeps its own type (a cast could turn labels
    # into NULL and merge their blocks), identical on both sides; the
    # salt is long on both sides — cogroup matches groups by binary row
    # equality, so an int salt on one side and a long salt on the other
    # silently mis-align blocks
    left = embeddings.select(
        F.col(cluster_col).alias("_cl"),
        F.col(id_col).alias("_x"),
        F.col(vec_col).cast("array<double>").alias("_vx"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("long")
        .alias("_salt"),
    )
    right = embeddings.select(
        F.col(cluster_col).alias("_cl"),
        F.col(id_col).alias("_y"),
        F.col(vec_col).cast("array<double>").alias("_vy"),
        F.explode(
            F.sequence(F.lit(0).cast("long"),
                       F.lit(n_salts - 1).cast("long"))
        ).alias("_salt"),
    )

    def _fold_norm(M: np.ndarray) -> np.ndarray:
        # sqrt(fold acc + x*x) per row, sequential over dims like the
        # JVM aggregate (vectorized across rows only)
        acc = np.zeros(M.shape[0], dtype=np.float64)
        for d in range(M.shape[1]):
            acc += M[:, d] * M[:, d]
        return np.sqrt(acc)

    def _block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            id_col: np.array([], dtype=np.int64),
            "dup_of": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        })
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        X = np.stack(lpdf["_vx"].to_numpy())   # m x dim float64
        Y = np.stack(rpdf["_vy"].to_numpy())   # n x dim float64
        xs = lpdf["_x"].to_numpy()
        ys = rpdf["_y"].to_numpy()
        nx = _fold_norm(X)
        ny = _fold_norm(Y)
        out = []
        # chunk the left rows so per-task temporaries stay ~O(100 MB)
        # however large one cluster grows (each x row is independent,
        # so chunking cannot change any value)
        chunk = max(1, 12_000_000 // max(Y.shape[0], 1))
        sentinel = np.iinfo(np.int64).max
        for s in range(0, X.shape[0], chunk):
            Xc, xc, nxc = X[s:s + chunk], xs[s:s + chunk], nx[s:s + chunk]
            # dot[i, j] = sequential fold over dims of X[i, d] * Y[j, d]
            # — identical IEEE op order per pair as the JVM fold
            dot = np.zeros((Xc.shape[0], Y.shape[0]), dtype=np.float64)
            for d in range(Xc.shape[1]):
                dot += Xc[:, d, None] * Y[None, :, d]
            cos = dot / np.maximum(nxc[:, None] * ny[None, :], 1e-12)
            mask = (cos >= tau) & (ys[None, :] < xc[:, None])
            if not mask.any():
                continue
            ymat = np.where(mask, ys[None, :], sentinel)
            jbest = ymat.argmin(axis=1)
            ybest = ymat[np.arange(len(xc)), jbest]
            keep = ybest < sentinel
            out.append(pd.DataFrame({
                id_col: xc[keep],
                "dup_of": ybest[keep],
                "cosine": cos[np.arange(len(xc)), jbest][keep],
            }))
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    return (
        left.groupBy("_cl", "_salt")
        .cogroup(right.groupBy("_cl", "_salt"))
        .applyInPandas(_block, schema=f"{id_col} long, dup_of long, cosine double")
    )
