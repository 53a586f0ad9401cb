"""Admission pipeline — SURVEY.md §2.B (queueURI, Spider.java:155-201).

Candidates flow through, in reference order:
  B1 extension badlist (suffix, on the lowercased RAW url — pre-canonical,
     exactly as Spider.java:156-162)
  B2 keyword badlist (substring)
  B3 canonicalization (USK-rule graft; vectorized Arrow UDF)
  robots gating (graft axis B; prefix test on the canonical path)
  B4 dedup against the frontier (sharded-Bloom prefilter + exact
     left_anti over only the maybe-seen rows' buckets)
  B5 force-requeue of existing non-QUEUED pages (cuckoo done-filter
     prefilter when available — it supports the deletions B5 implies)
  F1 get-or-create: new rows enter QUEUED with deterministic id/seq

Deterministic admission order: candidates sorted by
(discoverer_id, span_offset, ordinal, raw_url); the first occurrence of
a URL wins (get-or-create semantics of db/PerstRoot.java:46-67).

Scale notes (10^10 frontier):
  * id/seq assignment is a TWO-PASS range-partitioned sequence
    (config.seq_partitions > 1, the default): repartitionByRange on the
    admission order key, per-partition (count, new-count) collected (≤P
    tiny rows), cumulative offsets broadcast back, partition-local
    row_number — the same total order as a global window with NO
    single-partition exchange, so a 10^7-candidate round fans across
    the cluster instead of funnelling through one task.
  * the exact anti-join never sees the full frontier: the per-bucket
    Bloom probe (operators/seenfilter.py) short-circuits the (dominant)
    definitely-new candidates, and the confirm join reads ONLY the
    frontier buckets that still hold maybe-seen rows
    (``frontier_for_buckets``) — at 10^10 rows the frontier side of the
    join shrinks from ~TBs to the touched buckets' files.
  * the probe result ``_maybe`` is computed INTO the cached candidate
    set, so the probe cogroup runs once no matter how many admission
    branches (hit / anti-join / forced / new) consume it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..config import SEQ_SHIFT, CrawlConfig
from ..functions.udfs import (
    badlist_extension_regex,
    canon_parts_udf,
    url_path,
)
from . import seenfilter

CANDIDATE_SCHEMA = (
    "discoverer_id long, span_offset int, ordinal int, "
    "raw_url string, comment string, force boolean"
)

FRONTIER_COLUMNS = [
    "id", "url", "url_hash", "host", "status", "priority",
    "edition", "last_change", "title", "comment",
]


def filter_and_canonicalize(
    candidates: DataFrame,
    config: CrawlConfig,
    robots: DataFrame | None,
) -> DataFrame:
    """B1-B3 + robots: returns candidates with canonical ``url``, ``host``,
    ``edition`` columns added; inadmissible rows dropped."""
    low = F.lower(F.col("raw_url"))
    out = candidates
    if config.badlisted_extensions:
        # guard like the keywords below: an empty tuple must mean "no
        # extension badlist", not the match-everything regex "()$"
        out = out.filter(
            ~low.rlike(badlist_extension_regex(config.badlisted_extensions)))
    if config.badlisted_keywords:
        import re as _re
        kw = "(" + "|".join(_re.escape(k.lower()) for k in config.badlisted_keywords) + ")"
        out = out.filter(~low.rlike(kw))
    # ONE Arrow round-trip + ONE urlsplit per URL: the fused UDF emits
    # (url, host, edition) together (was three chained pandas UDFs =
    # three Python hops over the same column)
    out = (
        out.withColumn("_c", canon_parts_udf("raw_url"))
        .withColumn("url", F.col("_c.url"))
        .withColumn("host", F.col("_c.host"))
        .withColumn("edition", F.col("_c.edition"))
        .drop("_c")
        .filter(F.col("url").isNotNull())
    )
    if robots is not None and config.respect_robots:
        out = (
            out.join(F.broadcast(robots), "host", "left")
            .withColumn("_path", url_path(F.col("url")))
            .filter(
                F.col("disallow_prefixes").isNull()
                | ~F.exists(
                    "disallow_prefixes",
                    lambda p: F.col("_path").startswith(p),
                )
            )
            .drop("disallow_prefixes", "_path")
        )
    return out


def admit(
    spark: SparkSession,
    candidates: DataFrame,
    frontier: DataFrame | None,
    config: CrawlConfig,
    robots: DataFrame | None,
    rnd: int,
    seq_start: int,
    next_id: int,
    bloom_df: DataFrame | None = None,
    n_buckets: int | None = None,
    done_df: DataFrame | None = None,
    frontier_for_buckets: Callable[[list[int]], DataFrame | None] | None = None,
    cleanup: list | None = None,
    seq_partitions: int | None = None,
    with_force: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Run the full admission pipeline.

    Dedup sources, strongest available wins per row:
      * ``bloom_df`` (sharded per-bucket Bloom table) marks rows
        ``_maybe`` — definitely-new rows skip the exact join entirely
      * the exact confirm join runs against ``frontier`` OR, when
        ``frontier_for_buckets`` is given, against only the buckets
        that hold maybe-seen rows (one tiny distinct-buckets job)
    ``with_force=False`` (crawl rounds and plain enqueues: no
    candidate carries force) skips the force-requeue machinery — its hit-join and union would
    otherwise run per round just to produce zero rows.  ``done_df``
    (per-bucket cuckoo of non-QUEUED pages) prefilters which forced
    candidates need the exact status-confirm join.

    Returns (new_frontier_rows, forced_updates) where forced_updates has
    columns (url, comment, last_change) for existing non-QUEUED pages
    being force-requeued (Spider.java:185-188)."""
    cand = filter_and_canonicalize(candidates, config, robots)
    dedup_possible = frontier is not None or frontier_for_buckets is not None
    if bloom_df is not None and dedup_possible:
        cand = seenfilter.probe_blooms(cand, bloom_df, n_buckets)
    else:
        cand = cand.withColumn("_maybe", F.lit(True))
    ordkey = F.struct("discoverer_id", "span_offset", "ordinal", "raw_url")
    # cache: the admission DAG fans out into several branches
    # (maybe/definitely-new, hit/anti-join, forced, new_urls) — without
    # this the expensive upstream (link extraction + canonicalize UDFs
    # + the Bloom probe cogroup) would recompute once per branch
    cand = cand.withColumn("_ord", ordkey).cache()
    if cleanup is not None:
        cleanup.append(cand)  # caller unpersists after materializing

    if dedup_possible:
        maybe = cand.filter("_maybe")
        definitely_new = (
            cand.filter(~F.col("_maybe")) if bloom_df is not None else None
        )
        if frontier_for_buckets is not None:
            # bucket-pruned confirm join: list the buckets that still
            # hold maybe rows (tiny job — ≤ n_buckets ints), read only
            # those frontier dirs.  Only taken on the sharded-filter
            # path, where maybe ≪ candidates.
            bks = [
                r["b"] for r in maybe.select(
                    seenfilter.bucket_of(F.col("url"), n_buckets).alias("b")
                ).distinct().collect()
            ]
            existing_src = frontier_for_buckets(bks) if bks else None
        else:
            existing_src = frontier
        if existing_src is not None:
            existing = existing_src.select(
                "url", F.col("status").alias("_ex_status"))
            new_cand = maybe.join(existing, "url", "left_anti")
        else:
            existing = None
            new_cand = maybe
        if definitely_new is not None:
            new_cand = new_cand.unionByName(definitely_new)
        if with_force and existing is not None:
            forceable = cand.filter("force")
            if done_df is not None:
                # cuckoo prefilter: only urls in the done (non-QUEUED)
                # set can be force-requeued; no false negatives, so the
                # prune is exact-safe ahead of the confirm join
                forceable = seenfilter.probe_cuckoos(
                    forceable, done_df, n_buckets).filter("_in_done") \
                    .drop("_in_done")
            hit = forceable.join(existing, "url", "inner")
            forced = (
                hit.filter(F.col("_ex_status") != "QUEUED")
                .groupBy("url")
                .agg(F.min("_ord").alias("_ord"),
                     F.min_by("comment", "_ord").alias("comment"))
            )
        else:
            forced = None
    else:
        new_cand = cand
        forced = None

    # first occurrence per canonical URL wins (get-or-create)
    new_urls = (
        new_cand.groupBy("url")
        .agg(
            F.min("_ord").alias("_ord"),
            F.min_by("comment", "_ord").alias("comment"),
            F.first("host").alias("host"),
            F.first("edition").alias("edition"),
        )
    )

    # deterministic sequence over (creates ∪ forces) in _ord order
    if forced is not None:
        tagged = new_urls.withColumn("_new", F.lit(True)).unionByName(
            forced.select("url", "_ord", "comment")
            .withColumn("host", F.lit(None).cast("string"))
            .withColumn("edition", F.lit(None).cast("long"))
            .withColumn("_new", F.lit(False)),
            allowMissingColumns=True,
        )
    else:
        tagged = new_urls.withColumn("_new", F.lit(True))

    is_new_int = F.when(F.col("_new"), 1).otherwise(0)
    if seq_partitions is None:
        seq_partitions = config.seq_partitions
    if seq_partitions > 1:
        # two-pass distributed assignment (module scale note): range
        # boundaries only decide WHERE a row sits; the (offset +
        # partition-local rank) total is invariant to them, so the ids
        # are deterministic regardless of sampling.
        t = (
            tagged.repartitionByRange(seq_partitions, F.col("_ord"))
            .withColumn("_pid", F.spark_partition_id())
            .cache()
        )
        if cleanup is not None:
            cleanup.append(t)
        stats = sorted(
            t.groupBy("_pid").agg(
                F.count("*").alias("_n"), F.sum(is_new_int).alias("_nn")
            ).collect(),
            key=lambda r: r["_pid"],
        )
        offsets, acc, cacc = [], 0, 0
        for r in stats:
            offsets.append((r["_pid"], acc, cacc))
            acc += r["_n"]
            cacc += r["_nn"]
        off_df = F.broadcast(spark.createDataFrame(
            offsets, "_pid int, _off long, _coff long"))
        wl = Window.partitionBy("_pid").orderBy("_ord")
        tagged = (
            t.join(off_df, "_pid")
            .withColumn(
                "_seq",
                F.row_number().over(wl) - 1 + F.col("_off") + F.lit(seq_start))
            .withColumn(
                "_create_rank",
                F.sum(is_new_int).over(
                    wl.rowsBetween(Window.unboundedPreceding, 0))
                + F.col("_coff"),
            )
        )
    else:
        # single global window: tiny rounds / oracle-shaped tests only
        w = Window.orderBy("_ord")
        tagged = tagged.withColumn(
            "_seq", F.row_number().over(w) - 1 + seq_start
        ).withColumn(
            "_create_rank",
            F.sum(is_new_int).over(
                w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    # 64-bit last_change: cast BEFORE the multiply — int32 literal
    # arithmetic would silently wrap once rnd >= 2^(32-SEQ_SHIFT)
    last_change = (
        F.lit(rnd).cast("long") * F.lit(1 << SEQ_SHIFT)
        + F.col("_seq").cast("long")
    )

    new_rows = (
        tagged.filter("_new")
        .select(
            (F.lit(next_id) + F.col("_create_rank") - 1).cast("long").alias("id"),
            "url",
            F.xxhash64("url").alias("url_hash"),
            "host",
            F.lit("QUEUED").alias("status"),
            F.when(F.col("edition").isNotNull(),
                   F.lit(config.edition_priority))
            .otherwise(F.lit(config.default_priority))
            .cast("int").alias("priority"),
            F.col("edition").cast("long").alias("edition"),
            last_change.alias("last_change"),
            F.lit(None).cast("string").alias("title"),
            "comment",
        )
    )
    forced_updates = (
        tagged.filter(~F.col("_new")).select(
            "url", "comment", last_change.alias("last_change"))
        if forced is not None
        else None
    )
    return new_rows, forced_updates
