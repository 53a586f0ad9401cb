"""Flagship end-to-end crawl over a corpus derived from the driver's
documents table.

Derives an interleaved text+media corpus (BASELINE.json input_hint
shape) deterministically from ``{sf_dir}/documents.parquet``:

  url        = http://{source}.example/d/{doc_id}
  title span = "Doc {doc_id}"            (offset 0)
  text span  = the document text          (offset 1)
  media span = link to the next doc of the same host, wrapping
               (offset 2) — gives every host an intra-host chain so
               the frontier actually grows round over round

then runs the real CrawlEngine for a few rounds and returns the
postings table.  This exercises every operator family in SURVEY.md §2
in one DAG: admission (B1-B5), scheduling (C1-C4), fetch join (A4),
parse (D1-D6), postings agg (E1-E6), status merges (F1-F4), snapshot
commit (F5).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import CrawlConfig
from .engine import CrawlEngine
from .state.store import SnapshotStore


def doc_url_col():
    """The documents table's canonical page-URL expression — the ONE
    definition of the url scheme, shared by interleaved_view, the
    media-graph node frames (queries._doc_urls) and anything else that
    must agree with the edge endpoints byte-for-byte."""
    return F.concat(F.lit("http://"), F.col("source"),
                    F.lit(".example/d/"), F.col("doc_id"))


def interleaved_view(d: DataFrame) -> DataFrame:
    """The interleaved text+media corpus (BASELINE.json input_hint
    shape) as a DataFrame expression over a documents table — shared
    by derive_corpus (which materializes it for the engine) and the
    span-level analytics queries (which consume it directly)."""
    url = doc_url_col()
    w = Window.partitionBy("source").orderBy("doc_id")
    wrap = Window.partitionBy("source")

    def lead_url(k: int):
        # k-th next doc of the same host, wrapping to the host's first;
        # min_by (not first over an unordered window) so the wrap target
        # is deterministic across partition layouts
        return F.coalesce(
            F.lead(url, k).over(w),
            F.min_by(url, F.col("doc_id")).over(wrap),
        )

    span = lambda kind, text, ref, off: F.struct(
        F.lit(kind).alias("kind"),
        (text if text is not None else F.lit(None).cast("string")).alias("text"),
        (ref if ref is not None else F.lit(None).cast("string")).alias("media_ref"),
        F.lit(off).cast("int").alias("offset"),
    )
    # out-degree 3 (next, next+3, next+9 of the same host) so the
    # frontier grows geometrically until the corpus is exhausted —
    # without it a crawl bench only ever measures seed-chain latency
    return d.select(
        url.alias("doc_id"),
        F.array(
            span("title", F.concat(F.lit("Doc "), F.col("doc_id")), None, 0),
            span("text", F.col("text"), None, 1),
            span("media", None, lead_url(1), 2),
            span("media", None, lead_url(3), 3),
            span("media", None, lead_url(9), 4),
        ).alias("spans"),
    )


def derive_corpus(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    interleaved_view(d).write.mode("overwrite").parquet(out_path)


def seed_urls(spark: SparkSession, sf_dir: str, n_hosts: int = 5,
              per_host: int = 1) -> list[str]:
    """Deterministic seed list: ``per_host`` docs per host for the
    first ``n_hosts`` hosts (by source name), STRIDED evenly across
    each host's doc_id range rather than a contiguous prefix.
    Striding matters for what a short bench crawl measures: the
    corpus's outlinks step +1/+3/+9 docs within a host, so a
    contiguous seed block's reachable set grows only ~9 docs/host per
    round (the +9 edge past the block's end — linear ramp), while
    spread seeds each grow their own ×3 neighborhood until the budget
    binds — the crawl then measures throughput, not frontier ramp."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hosts = Window.partitionBy("source").orderBy("doc_id")
    strided = (
        d.withColumn("_rk", F.row_number().over(hosts))
        .withColumn(
            "_stride",
            F.greatest(
                F.lit(1),
                (F.count("*").over(Window.partitionBy("source"))
                 / F.lit(per_host)).cast("int")))
        .filter(((F.col("_rk") - 1) % F.col("_stride")) == 0)
    )
    picked = (
        strided.withColumn("_pk", F.row_number().over(hosts))
        .filter(F.col("_pk") <= per_host)
        .join(
            d.select("source").distinct().orderBy("source").limit(n_hosts),
            "source",
        )
        .orderBy("source", "doc_id")
    )
    return [
        f"http://{r['source']}.example/d/{r['doc_id']}"
        for r in picked.select("source", "doc_id").collect()
    ]


def run_flagship(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int = 3,
    budget: int = 64,
    host_quota: int = 16,
    workdir: str | None = None,
    n_seed_hosts: int = 5,
    seeds_per_host: int = 1,
) -> tuple[CrawlEngine, DataFrame]:
    """Returns (engine, postings DataFrame)."""
    workdir = workdir or tempfile.mkdtemp(prefix="spider_flagship_")
    corpus_path = os.path.join(workdir, "documents.parquet")
    # overlap independent driver-blocking jobs (guide §2.6): the corpus
    # write runs concurrently with seed selection + the bootstrap
    # commit — none of them read the corpus (the engine's documents
    # frame is lazy and first touched by run()'s fetch join)
    from concurrent.futures import ThreadPoolExecutor

    cfg = CrawlConfig(
        max_parallel_working=budget,
        max_parallel_non_working=budget,
        default_host_quota=host_quota,
    )
    eng = CrawlEngine(
        spark, SnapshotStore(os.path.join(workdir, "state")), corpus_path, cfg)
    with ThreadPoolExecutor(max_workers=1) as pool:
        corpus_fut = pool.submit(derive_corpus, spark, sf_dir, corpus_path)
        eng.bootstrap(seed_urls(spark, sf_dir, n_hosts=n_seed_hosts,
                                per_host=seeds_per_host))
        corpus_fut.result()
    eng.run(n_rounds)
    return eng, eng.postings()
