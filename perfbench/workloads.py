"""The benchmark's workloads.

Every workload is one closed loop with one client: the benchmark
process runs a crawl round, then reads the index the way its consumers
do, then starts the next round; a traced run then runs the analytics
queries one after another.  The workloads differ in the crawl they
drive:

``crawl_sf01``
    A documents table shaped like the project's sf0.1 test data (5,000
    documents, 20 hosts, 15% ``zh`` text with CJK runs), derived into
    the interleaved corpus by ``flagship.derive_corpus``.  Small rounds
    bound by per-job latency; the tokenizer is the main CPU cost; the
    seen-filter stays off and commits are one task.

``crawl_frontier``
    ``build_bench_corpus`` (8,000 documents, 2% multilingual, ~30
    tokens per span) with a dense seed list and the seen-filter active
    from the first round: admission, the sharded Bloom tables and
    bucket-partitioned commits do most of the work.

The analytics pass is the same in both: a fixed set of headline queries
over a seeded, latin-only documents table, in an order the seed
permutes.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

import datagen

# Headline queries of the analytics phase: the index read side (search,
# postings statistics), the batch tokenizer, and the crawl-side
# analytics that share the engine's operators — among them the
# multi-branch queries and ``fasttext_quality`` that the query load
# policy work targets.  All have DuckDB twins.
QUERIES: tuple[str, ...] = (
    "search_topk", "search_bm25", "tokenizer_fertility", "ccnet_buckets",
    "fasttext_quality", "robots_filter",
)


@dataclass(frozen=True)
class Scale:
    """Sizes of one workload; ``tiny`` is the smoke-test size."""
    docs: int
    seed_hosts: int  # crawl_sf01 seeds this many hosts evenly
    seeds: int
    budget: int
    quota: int
    analytics_docs: int
    queries: tuple[str, ...]


SCALES = {
    ("crawl_sf01", "full"): Scale(5000, 20, 1280, 1024, 128, 1000, QUERIES),
    ("crawl_sf01", "tiny"): Scale(200, 5, 20, 32, 8, 100, QUERIES[:3]),
    ("crawl_frontier", "full"): Scale(8000, 0, 2000, 512, 32, 1000, QUERIES),
    ("crawl_frontier", "tiny"): Scale(600, 0, 200, 32, 8, 100, QUERIES[:3]),
}
WORKLOADS = ("crawl_sf01", "crawl_frontier")
# seeds enqueued after bootstrap in the frontier workload: the enqueue
# commit builds the Bloom tables, so every measured round probes them
# and takes the incremental filter path
ENQUEUED = 16


class CrawlSetup:
    """One set-up of a workload: inputs generated from the seed, the
    engine bootstrapped on them.  ``root`` is removed by ``close``."""

    def __init__(self, spark, workload: str, scale: Scale, seed: int, root: str):
        from spider_spark.config import CrawlConfig
        from spider_spark.engine import CrawlEngine
        from spider_spark.state.store import SnapshotStore

        self.workload, self.scale, self.seed, self.root = workload, scale, seed, root
        t0 = time.perf_counter()
        os.makedirs(root, exist_ok=True)
        self.corpus_path = os.path.join(root, "corpus.parquet")
        self.analytics_dir = os.path.join(root, "analytics")
        datagen.write_documents(self.analytics_dir, datagen.documents(
            seed, scale.analytics_docs, cjk=False))
        if workload == "crawl_sf01":
            from spider_spark.flagship import derive_corpus

            docs = datagen.documents(seed, scale.docs)
            sf_dir = os.path.join(root, "sf")
            datagen.write_documents(sf_dir, docs)
            derive_corpus(spark, sf_dir, self.corpus_path)
            self.seeds = datagen.strided_seeds(docs, seed, scale.seed_hosts,
                                               scale.seeds // scale.seed_hosts)
            self.config = CrawlConfig(
                max_parallel_working=scale.budget,
                max_parallel_non_working=scale.budget,
                default_host_quota=scale.quota)
            self.enqueued: list[str] = []
        else:
            from spider_spark.sources.bench_corpus import build_bench_corpus

            n_hosts = max(4, int(scale.docs ** 0.5) // 4)
            build_bench_corpus(spark, scale.docs, self.corpus_path,
                               tokens_per_span=30, multilingual_pct=2)
            urls = datagen.frontier_seeds(seed, scale.docs, n_hosts, scale.seeds)
            self.seeds, self.enqueued = urls[:-ENQUEUED], urls[-ENQUEUED:]
            self.config = CrawlConfig(
                max_parallel_working=scale.budget,
                max_parallel_non_working=scale.budget,
                default_host_quota=scale.quota,
                filter_min_keys=0, small_round_rows=0, frontier_buckets=8,
                use_cuckoo=False)
        self.engine = CrawlEngine(
            spark, SnapshotStore(os.path.join(root, "state")),
            self.corpus_path, self.config)
        t1 = time.perf_counter()
        self.engine.bootstrap(self.seeds)
        self.parts = {"inputs_s": t1 - t0, "bootstrap_s": time.perf_counter() - t1}

    def activate(self) -> None:
        """Enqueue the held-back seeds.  On ``crawl_frontier`` this
        commit builds the Bloom tables (its frontier is past
        ``filter_min_keys``), so the measured rounds find them."""
        if self.enqueued:
            self.engine.enqueue(self.enqueued, force=False)

    def path_check(self, rnd: int) -> dict:
        """Whether round ``rnd`` took the path the workload exists for,
        read from the store's files: on ``crawl_sf01`` no seen-filter
        tables and a one-task frontier commit; on ``crawl_frontier``
        live filter tables and a bucket-partitioned commit."""
        store = self.engine.store
        filters = bool(store.read_catalog().get("buckets", {})
                       .get("bloom", {}).get("dirs"))
        fdir = os.path.join(store.root, f"frontier/snap-{rnd:06d}")
        buckets, tasks = set(), set()
        for d, _, files in os.walk(fdir):
            for f in files:
                if f.startswith("part-") and f.endswith(".parquet"):
                    tasks.add(f.split("-")[1])
                    buckets.add(os.path.relpath(d, fdir).split(os.sep)[0])
        out = {"filters": filters, "buckets_written": len(buckets),
               "write_tasks": len(tasks)}
        if self.workload == "crawl_sf01":
            out["ok"] = not filters and len(tasks) == 1
        else:
            out["ok"] = filters and len(buckets) > 1 and len(tasks) > 1
        return out

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def query_order(seed: int, names: tuple[str, ...]) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]


