"""Round scheduling — SURVEY.md §2.C (startSomeRequests, Spider.java:206-255).

The reference scans the QUEUED B-tree in ascending lastChange order and
takes pages until capacity.  The graft generalizes to per-host politeness
quotas (axis B) ranked by (priority, last_change, id) — priority first
(edition-priority queue, ≈ Config.java:60/194-201), then FIFO, id as the
deterministic tie-break (SURVEY §7.3).

Skew handling (SURVEY §4.1): ranking partitions by host, and a hot host
at 10^10-frontier scale can dwarf the others.  The salted path ranks
within (host, salt) sub-partitions first — each bounded — keeping at
most ``quota`` rows per sub-partition, then re-ranks the ≤ quota·salts
survivors per host.  This is exact: any row in a host's true top-quota
is in its salt's top-quota.

The final global top-K uses sort+limit, which Spark executes as
TakeOrderedAndProject (distributed partial top-K, no full sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig

RANK_COLS = ["priority", "last_change", "id"]
# (host, salt) sub-partitions per host on the salted ranking path
NUM_SALTS = 4


def eligible_per_host(
    queued: DataFrame,
    hosts: DataFrame | None,
    config: CrawlConfig,
    salted: bool = True,
) -> DataFrame:
    """QUEUED rows surviving the per-host politeness quota."""
    if hosts is not None:
        df = queued.join(
            F.broadcast(hosts.select("host", "max_per_round")), "host", "left"
        ).withColumn(
            "_quota",
            F.coalesce("max_per_round", F.lit(config.default_host_quota)),
        ).drop("max_per_round")
    else:
        df = queued.withColumn("_quota", F.lit(config.default_host_quota))

    order = [F.col(c).asc() for c in RANK_COLS]
    if salted:
        df = df.withColumn(
            "_salt", F.pmod(F.xxhash64("url"), F.lit(NUM_SALTS))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        df = (
            df.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= F.col("_quota"))
            .drop("_r1", "_salt")
        )
    w2 = Window.partitionBy("host").orderBy(*order)
    return (
        df.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= F.col("_quota"))
        .drop("_r2", "_quota")
    )


def select_batch(
    queued: DataFrame,
    hosts: DataFrame | None,
    config: CrawlConfig,
    budget: int,
    salted: bool = True,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """The round's fetch set with a deterministic ``rank`` column
    (1-based crawl order within the round).

    ``exclude`` is the skip-running hook (Spider.java:227: pages already
    in flight are skipped by the capacity scan): a (url) DataFrame of
    in-flight pages anti-joined out before ranking — used if rounds ever
    overlap (mid-round top-up) or an external fetcher holds leases.

    sort+limit → TakeOrderedAndProject keeps the global top-K cheap; the
    final row_number runs over ≤ budget rows in one partition, which is
    fine because budget is the per-round fetch capacity (driver-bounded),
    not a data-sized quantity."""
    if exclude is not None:
        queued = queued.join(F.broadcast(exclude.select("url")),
                             "url", "left_anti")
    eligible = eligible_per_host(queued, hosts, config, salted=salted)
    order = [F.col(c).asc() for c in RANK_COLS]
    topk = eligible.orderBy(*order).limit(budget)
    w = Window.orderBy(*order)
    return topk.withColumn("rank", F.row_number().over(w))


def status_counts(frontier: DataFrame) -> DataFrame:
    """A8/E7: groupBy-status counts (≈ db/PerstRoot.java:121-129)."""
    return frontier.groupBy("status").agg(F.count("*").alias("n")).orderBy("status")


def top_n_per_status(frontier: DataFrame, n: int) -> DataFrame:
    """A8/C7 UI top-N per status in lastChange order
    (web/MainPage.java:197-211, maxShownURIs db/Config.java:41)."""
    w = Window.partitionBy("status").orderBy("last_change", "id")
    return (
        frontier.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )
