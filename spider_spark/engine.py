"""The crawl engine — batched DataFrame rounds (SURVEY.md §3 lifecycle).

One round (≈ startSomeRequests → fetch → onSuccess/onFailure → maybeSend,
Spider.java:206-255,415-541):

  1. budget    — max_parallel(hour), hour := round % 24 (deterministic)
  2. select    — per-host politeness quota + global top-K over a
                 STATUS-PRUNED frontier read: the store lists only
                 ``_pstatus=QUEUED`` leaf files (PerstRoot's per-status
                 B-trees, db/PerstRoot.java:33-37), so the select never
                 scans non-queued rows
  3. fetch     — broadcast-join the ≤K selected URLs against the
                 documents table (A4; the sandbox "network")
  4. parse     — operators.parse (D1-D6), one Arrow tokenize hop
  5. postings  — operators.postings (E1-E6) → append
  6. statuses  — INDEXED / SUCCEEDED(redirect) / FAILED merges (F2-F4)
  7. admit     — outlinks + redirect targets (operators.admission, B1-B5,
                 F1) → frontier union.  At scale the sharded per-bucket
                 Bloom table (operators.seenfilter) prefilters the
                 dedup anti-join, and the confirm join reads ONLY the
                 buckets still holding maybe-seen rows
  8. commit    — one atomic catalog swap for all tables (F5); a crashed
                 round commits nothing and is replayed (NOT_PUSHED→QUEUED
                 analog, LibraryBuffer.java:97-102).  The frontier is
                 BUCKETED by pmod(xxhash64(url), frontier_buckets) and
                 sub-partitioned by status: only buckets containing this
                 round's status updates or new admissions are rewritten.
                 The Bloom/cuckoo filter tables are themselves bucketed
                 snapshot tables committed IN THE SAME atomic swap, so
                 filter state can never go stale relative to the
                 frontier (a false negative would admit a URL twice)

Per-round job discipline (the driver-bench lesson from round 2: fixed
per-round overhead, not data volume, dominated k≤1024 rounds): a round
runs  (a) one select collect,  (b) one span-feed materialization, then
(c) the tokenize materialization CONCURRENT with the admission jobs
(canonicalize+probe, bucket-distinct collect, two-pass id assignment,
one fused per-bucket stats aggregation) on two driver threads, and
(d) the frontier commit.

bootstrap, enqueue and run_round all commit through ONE path,
``_commit_frontier``: touched-bucket read → status/force merge → union
with the admissions → one write layout (a single task when the working
set is tiny, else one shuffle partition per touched bucket) → on the
filter path only, a 3-way-parallel prelude (frontier merge ∥ postings
delta ∥ filter-update DAGs) → the concurrent commit writes.  Filter
maintenance only engages past ``config.filter_min_keys`` frontier rows
and never at bootstrap.  (Round-4 N-vs-4N phase tables drove the
overlap: the serialized admission+commit prelude was ~25s of
core-count-independent wall per round; overlapped, every phase but the
~2s select collect scales 3.2-4.8x from 4→16 cores.)

Every source of nondeterminism is pinned (SURVEY §7.3): ids are
admission sequence numbers, last_change is (round<<32)|seq in 64-bit
(config.SEQ_SHIFT; a round overflowing 2^32 sequences fails loudly
rather than silently carrying into the round field), ranking ties
break on id, the "hour" is round%24.  Resume = re-open the store and
continue from the last committed catalog — bit-identical by
construction, verified by tests/test_resume.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SEQ_SHIFT, CrawlConfig
from .operators import admission, parse, postings, scheduling, seenfilter
from .state.store import SnapshotStore


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        documents_path: str,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        hosts: DataFrame | None = None,
    ):
        self.spark = spark
        self.store = store
        self.documents_path = documents_path
        self.config = config or CrawlConfig()
        self.robots = robots
        self.hosts = hosts
        # one retention policy: archived as_of catalogs pin their dirs
        # through gc, so the store's snapshot window must equal the
        # engine's gc grace window or expiry could never reclaim space
        self.store.snapshot_keep = self.config.gc_retain_rounds
        self._docs_df: DataFrame | None = None

    # -- frontier bucketing (Iceberg partition-overwrite analog) -----------

    def _n_buckets(self) -> int:
        return (self.store.bucket_count("frontier")
                or self.config.frontier_buckets)

    @staticmethod
    def _bucket_expr(nb: int):
        """Bucket id of a row's url — THE bucket formula, delegated to
        seenfilter.bucket_of so frontier bucketing and filter bucketing
        can never desynchronize (a split formula drifting would admit
        URLs twice)."""
        return seenfilter.bucket_of(F.col("url"), nb)

    def _documents(self) -> DataFrame:
        if self._docs_df is None:
            self._docs_df = self.spark.read.parquet(self.documents_path)
        return self._docs_df

    # -- filter maintenance (B4/B5 sharded prefilters) ---------------------
    #
    # The per-bucket Bloom (url-seen) and cuckoo (done := non-QUEUED,
    # deletion-capable) tables live in the snapshot store and swap
    # atomically with the frontier.  Both are maintained the same way:
    # built once from the whole frontier when the filter path activates,
    # then updated incrementally (Bloom: a round's new URLs ORed in;
    # cuckoo: adds on fetch-completion, deletes on force-requeue).  A
    # bucket whose update passes its sized capacity is rebuilt from
    # that bucket's merged rows, so no driver ever holds a bitmap.

    def _filters_state(self, cat: dict, next_id: int) -> dict:
        buckets = cat.get("buckets", {})
        has_bloom = bool(buckets.get("bloom", {}).get("dirs"))
        has_done = bool(buckets.get("done", {}).get("dirs"))
        scale = next_id >= self.config.filter_min_keys
        return {
            "has_bloom": has_bloom,
            "has_done": has_done,
            "bloom_maintain": has_bloom or scale,
            "cuckoo_maintain": has_done or (self.config.use_cuckoo and scale),
        }

    def _filter_tables(self, fs: dict) -> tuple:
        """The committed ``(bloom, done)`` tables, None where absent."""
        return tuple(self.store.read(self.spark, t) if fs[f"has_{t}"]
                     else None for t in ("bloom", "done"))

    def _whole_frontier(self, merged: DataFrame,
                        touched: list[int]) -> DataFrame:
        """``(url, status)`` of the whole frontier: a commit's
        ``merged`` buckets ∪ the committed buckets it did not touch."""
        rows = merged.select("url", "status")
        skip = set(touched)
        rest_ids = [bk for bk in self.store.populated_buckets("frontier")
                    if bk not in skip]
        rest = (self.store.read_buckets(self.spark, "frontier", rest_ids)
                if rest_ids else None)
        return (rows if rest is None else
                rows.unionByName(rest.select("url", "status")))

    def _filter_updates(
        self,
        fs: dict,
        bloom_df: DataFrame | None,
        done_df: DataFrame | None,
        frontier_final: DataFrame,
        nb: int,
        touched: list[int],
        new_bks: list[int],
        cuckoo_changes: DataFrame | None,
        cleanup: list,
        new_rows: DataFrame | None = None,
        barrier=None,
    ) -> dict[str, tuple[DataFrame, int]]:
        """Bucket-table updates for the Bloom and cuckoo filters, to be
        committed atomically with the frontier.  ``frontier_final``
        must be cached by the caller when this returns anything.

        ``barrier`` (optional callable): invoked before any path that
        CONSUMES ``frontier_final`` (full build, overflow rebuild) — the
        caller passes the frontier-materialization future's ``result``
        so this method can run on a side thread concurrent with that
        materialization without racing on the unmaterialized cache.
        The common incremental path (no overflow) never blocks on it."""
        wait = barrier or (lambda: None)
        done = F.col("status") != "QUEUED"
        new_urls = (new_rows.select("url")
                    if new_bks and new_rows is not None else None)
        out: dict[str, tuple[DataFrame, int]] = {}
        full_rows = None
        for table, maintain, current, changes, member, build, update in (
            ("bloom", fs["bloom_maintain"], bloom_df, new_urls, F.lit(True),
             seenfilter.build_bucket_blooms, seenfilter.update_bucket_blooms),
            ("done", fs["cuckoo_maintain"], done_df, cuckoo_changes, done,
             seenfilter.build_bucket_cuckoos, seenfilter.update_bucket_cuckoos),
        ):
            if not maintain or (current is not None and changes is None):
                continue
            if current is None:
                # one-time activation: built from the whole frontier
                if full_rows is None:
                    wait()
                    full_rows = self._whole_frontier(frontier_final, touched)
                rows = build(full_rows.filter(member).select("url"), nb)
            else:
                # incremental: only this commit's changes touch the
                # filters — O(changes), never O(bucket rows).  A bucket
                # over its sized capacity rebuilds from its merged
                # frontier rows (rare; one tiny flag collect)
                rows = update(changes, current, nb).cache()
                cleanup.append(rows)
                over = [r["bkt"] for r in
                        rows.filter("overflow").select("bkt").collect()]
                if over:
                    wait()
                    rebuilt = build(frontier_final.filter(
                        self._bucket_expr(nb).isin(over) & member
                    ).select("url"), nb)
                    rows = rows.filter(~F.col("bkt").isin(over)) \
                               .unionByName(rebuilt)
            out[table] = (rows.withColumn("bucket", F.col("bkt")), nb)
        return out

    def _maybe_compact(self) -> None:
        cat = self.store.read_catalog()
        compacted = False
        for table, segs in cat["appends"].items():
            if len(segs) >= self.config.max_append_segments:
                self.store.compact_appends(
                    self.spark, table, self.config.max_append_segments)
                compacted = True
        # snapshot expiry rides the compaction cadence (Iceberg
        # expire_snapshots): every touched-bucket rewrite strands the
        # superseded bucket=N dirs, so without this a 10^4-round crawl
        # leaks disk proportional to cumulative rewrite volume.  The
        # keep-last-N grace window protects concurrent readers of the
        # previous catalog (gc_retain_rounds=0 disables expiry).
        if compacted and self.config.gc_retain_rounds:
            self.store.gc_orphans(keep_recent=self.config.gc_retain_rounds)

    def rebucket(self, new_nb: int) -> None:
        """Migrate the frontier (and its filter tables) to a new bucket
        count — the growth path for a frontier that outgrew its
        bootstrap-time sizing (VERDICT r3 missing #3).

        Sizing rule (config.frontier_buckets docstring has the
        arithmetic): nb = ceil(expected_keys / target_keys_per_bucket)
        with ~4M keys/bucket as the target — at 10^10 URLs that is
        ~2500 buckets, each bucket's Bloom bitmap 4M·10bits·4x ≈ 20 MB,
        built inside ONE task.  When the frontier outgrows that, this
        one-shot job reads ALL buckets, re-hashes to the new modulus,
        rebuilds the per-bucket filters, and commits everything in one
        atomic swap (its own round, like enqueue).  Nothing in the
        reference corresponds — Perst B-trees grow node-by-node
        (org/garret/perst/impl/Btree.java); on Iceberg this is a
        partition-spec evolution + full rewrite.

        O(frontier) — run it like a compaction, not per round."""
        cat = self.store.read_catalog()
        nb_old = self._n_buckets()
        if new_nb == nb_old or not self.store.exists("frontier"):
            return
        rnd = cat["round"]
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        frontier = self.store.read(self.spark, "frontier")
        if frontier is None:
            return
        b = self._bucket_expr(new_nb)
        final = (
            frontier.select(*admission.FRONTIER_COLUMNS)
            .withColumn("bucket", b)
            .withColumn("_pstatus", F.col("status"))
            .repartition(new_nb, F.col("bucket"))
            .cache()
        )
        final.count()  # materialize before the concurrent writers
        bucket_updates = {"frontier": (final, new_nb)}
        fs = self._filters_state(cat, next_id)
        # per-bucket filters are keyed by pmod(hash, nb) — a new
        # modulus invalidates every row, so each existing filter table
        # is rebuilt in full from the re-read frontier (every old
        # bucket counts as touched: nothing is left to read beside it)
        bucket_updates.update(self._filter_updates(
            {"bloom_maintain": fs["has_bloom"],
             "cuckoo_maintain": fs["has_done"]},
            None, None, final, new_nb,
            self.store.populated_buckets("frontier"), [], None, []))
        self.store.commit_round(
            rnd + 1, rewrites={}, appends={},
            bucket_updates=bucket_updates,
            rebucket={"frontier", "bloom", "done"},
            metrics={"next_id": next_id, "fetched": 0, "admitted": 0,
                     "rebucketed": {"from": nb_old, "to": new_nb}},
        )
        final.unpersist()

    # -- bootstrap (A1 seed source) ---------------------------------------

    def bootstrap(self, seed_urls: list[str], comment: str = "bookmark") -> None:
        """Admit the seed list as round 0 (Spider.java:605-608).  No-op
        if the store already has a frontier (resume path).  Commits the
        frontier only: the seen-filter tables are first built by the
        first enqueue or round past ``filter_min_keys``."""
        if self.store.exists("frontier"):
            return
        nb = self._n_buckets()
        new_rows, _, cleanup = self._admit_urls(
            seed_urls, comment, False, rnd=0, next_id=0)
        self._commit_frontier(0, 0, nb, new_rows,
                              self._bucket_stats(new_rows, None, nb), cleanup)

    # -- API: manual enqueue (A2) and edition force-requeue (A3/B5) -------

    def enqueue(self, urls: list[str], comment: str = "manually",
                force: bool = True) -> int:
        """Out-of-band admission (web/MainPage.java:53-70 analog).  Runs
        as its own mini-round commit.  Force-requeues DELETE the moved
        pages from the cuckoo done-table (the deletions-on-retry path
        Bloom cannot express); a ``force=False`` enqueue only admits new
        URLs and leaves the done-table untouched."""
        cat = self.store.read_catalog()
        self._check_layout()
        rnd = cat["round"]
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        nb = self._n_buckets()
        fs = self._filters_state(cat, next_id)
        bloom_df, done_df = self._filter_tables(fs)
        # the enqueue commit IS its own round (rnd+1), so its sequence
        # space starts fresh — no overlap with crawl-round sequences.
        # The confirm join reads ONLY the buckets holding maybe-seen
        # rows (an enqueue batch touches a handful of buckets; the full
        # multi-TB frontier never enters the join at 10^10 scale)
        new_rows, forced, cleanup = self._admit_urls(
            urls, comment, force, rnd=rnd + 1, next_id=next_id,
            bloom_df=bloom_df, n_buckets=nb, done_df=done_df,
            frontier_for_buckets=lambda bks: self.store.read_buckets(
                self.spark, "frontier", bks),
        )
        stats = self._bucket_stats(new_rows, forced, nb)
        self._commit_frontier(rnd + 1, next_id, nb, new_rows, stats, cleanup,
                              forced=forced, fs=fs, bloom_df=bloom_df,
                              done_df=done_df)
        return stats[0]

    def _admit_urls(self, urls: list[str], comment: str, force: bool,
                    **admit_kw) -> tuple[DataFrame, DataFrame | None, list]:
        """Admit a Python list of URLs (seeds, enqueues); returns the
        cached (new_rows, forced) and the caches to drop after commit.
        Only a ``force`` list runs the force-requeue join (``forced``
        is None otherwise)."""
        cand = self.spark.createDataFrame(
            [(-1, 0, i, u, comment, force) for i, u in enumerate(urls)],
            admission.CANDIDATE_SCHEMA,
        )
        # small lists: one partition + single-window id assignment (same
        # k<=4096 shortcut as run_round; ids are identical either way —
        # tests/test_admission_plan.py) — a driver-local list
        # parallelized to defaultParallelism otherwise drags 32 near-
        # empty tasks through every admission stage.  repartition, NOT
        # coalesce: a LocalTableScan feeding ArrowEvalPython directly
        # pays a measured ~4 s/job pathology on this Spark build (UDS
        # and TCP alike); the exchange breaks the adjacency and the
        # admission canonicalize hop runs in ~0.3 s
        small = len(urls) <= 4096
        if small:
            cand = cand.repartition(1)
        cleanup: list = []
        new_rows, forced = admission.admit(
            self.spark, cand, None, self.config, self.robots, seq_start=0,
            cleanup=cleanup, seq_partitions=1 if small else None,
            with_force=force, **admit_kw)
        new_rows = new_rows.cache()
        cleanup.append(new_rows)
        if forced is not None:
            forced = forced.cache()
            cleanup.append(forced)
        return new_rows, forced, cleanup

    # -- the frontier commit (F5), shared by bootstrap/enqueue/run_round --

    def _check_layout(self) -> None:
        """The engine reads and writes only the status-partitioned
        frontier (``bucket=N/_pstatus=STATUS``); any other layout would
        read as an empty QUEUED set, so it fails loudly instead."""
        sub = self.store.bucket_sub("frontier")
        if sub != "_pstatus" and self.store.exists("frontier"):
            raise ValueError(
                f"unsupported frontier layout (sub-partition {sub!r}): the "
                "engine reads and writes only the bucket=N/_pstatus=STATUS "
                "layout")

    def _bucket_stats(
        self, new_rows: DataFrame, other: DataFrame | None, nb: int,
    ) -> tuple[int, list[int], list[int]]:
        """ONE fused job over a commit's change set: the admission
        count, the buckets gaining new URLs, and every touched bucket —
        those plus the buckets of ``other``'s rows (a round's selected
        pages, an enqueue's force-requeues).  Returns
        ``(n_new, touched, new_bks)``."""
        b = self._bucket_expr(nb)
        sides = new_rows.select(b.alias("_b"), F.lit(1).alias("_n"))
        if other is not None:
            sides = sides.unionByName(
                other.select(b.alias("_b"), F.lit(0).alias("_n")))
        stats = sides.groupBy("_b").agg(F.sum("_n").alias("_nn")).collect()
        return (int(sum(r["_nn"] for r in stats)),
                sorted(r["_b"] for r in stats),
                sorted(r["_b"] for r in stats if r["_nn"] > 0))

    def _commit_frontier(
        self,
        rnd: int,
        next_id: int,
        nb: int,
        new_rows: DataFrame,
        stats: tuple[int, list[int], list[int]],
        cleanup: list,
        *,
        updates: DataFrame | None = None,
        forced: DataFrame | None = None,
        k: int = 0,
        appends: dict[str, DataFrame] | None = None,
        fs: dict | None = None,
        bloom_df: DataFrame | None = None,
        done_df: DataFrame | None = None,
    ) -> None:
        """Commit round ``rnd`` in one atomic catalog swap: the frontier
        MERGE, ``appends``, and — when ``fs`` (``_filters_state``) says
        they are maintained — the seen-filter tables.  ``fs=None``
        (bootstrap) maintains no filter.

        Bucketed MERGE: only the ``stats`` buckets (``_bucket_stats``)
        are re-read, folded with ``updates`` (a round's ``k`` fetched
        pages) or ``forced`` (an enqueue's force-requeues), unioned
        with ``new_rows`` and rewritten — untouched buckets stay
        immutable.  Unpersists ``cleanup`` once committed."""
        n_new, touched, new_bks = stats
        appends = dict(appends or {})
        base = self.store.read_buckets(self.spark, "frontier", touched)
        merged = (new_rows if base is None else
                  self._apply_updates(base, updates, forced)
                  .unionByName(new_rows))
        frontier_final = (
            merged.withColumn("bucket", self._bucket_expr(nb))
            .withColumn("_pstatus", F.col("status"))
        )
        # tiny working sets write in ONE task (a 32-way partitioned
        # write of 15 rows cost ~8s in round 2); big commits spread one
        # shuffle partition per touched bucket
        if next_id + n_new + k <= self.config.small_round_rows:
            frontier_final = frontier_final.coalesce(1)
            appends = {t: df.coalesce(1) for t, df in appends.items()}
        else:
            frontier_final = frontier_final.repartition(
                max(1, len(touched)), F.col("bucket"))

        bucket_updates = {"frontier": (frontier_final, nb)}
        if fs is not None and (fs["bloom_maintain"] or fs["cuckoo_maintain"]):
            frontier_final = frontier_final.cache()
            cleanup.append(frontier_final)
            bucket_updates["frontier"] = (frontier_final, nb)
            # every fetched page leaves QUEUED (INDEXED/SUCCEEDED/FAILED
            # are all "done") → adds; force-requeues → deletes
            cuckoo_changes = (
                updates.select("url", F.lit("add").alias("op"))
                if updates is not None else
                forced.select("url", F.lit("del").alias("op"))
                if forced is not None else None
            )
            # materialize the cached merge ONCE before anything fans
            # out: the concurrent commit writers and the filter-update
            # DAGs would otherwise race on the unmaterialized cache and
            # EACH recompute the base-read + merge (observed as every
            # writer taking the long pole's wall time).  A round's
            # postings delta is independent of the frontier merge, so
            # its (expensive: token groupBy) materialization runs on a
            # second thread — the two DAGs' stage tails interleave and
            # fill cores that a serial merge would leave idle (round-4
            # N-vs-4N phase logs: commit scaled 2.2x of 4x because each
            # sub-DAG alone under-fills 28 cores).  The filter-update
            # DAGs (per-bucket Bloom OR-in + cuckoo adds/deletes, each
            # ending in a tiny overflow-flag collect) consume only
            # caches that are already materialized — they run on a
            # THIRD thread, blocking on the frontier merge (via
            # ``barrier``) only on the full-build and overflow-rebuild
            # paths, so the commit's serial prelude is max(merge,
            # postings, filters), not their sum
            postings_delta = appends.get("postings")
            if postings_delta is not None:
                postings_delta = appends["postings"] = postings_delta.cache()
                cleanup.append(postings_delta)
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=3) as pool:
                counts = [pool.submit(df.count)
                          for df in (frontier_final, postings_delta)
                          if df is not None]
                filters = pool.submit(
                    self._filter_updates, fs, bloom_df, done_df,
                    frontier_final, nb, touched, new_bks, cuckoo_changes,
                    cleanup, new_rows=new_rows, barrier=counts[0].result)
                for fut in counts:
                    fut.result()
                bucket_updates.update(filters.result())

        self.store.commit_round(
            rnd, rewrites={}, appends=appends,
            bucket_updates=bucket_updates,
            metrics={"next_id": next_id + n_new, "fetched": k,
                     "admitted": n_new},
        )
        for df in cleanup:
            df.unpersist()

    # -- status merge helper (F2-F4) --------------------------------------

    @staticmethod
    def _apply_updates(
        frontier: DataFrame,
        updates: DataFrame | None,
        forced: DataFrame | None,
    ) -> DataFrame:
        """MERGE analog: fetched-status updates and force-requeues folded
        into the frontier (Iceberg MERGE WHEN MATCHED at scale).  Both
        update sides are ≤K rows — broadcast explicitly rather than
        relying on AQE to notice."""
        out = frontier
        if updates is not None:
            u = F.broadcast(updates.select(
                "url",
                F.col("status").alias("_u_status"),
                F.col("last_change").alias("_u_lc"),
                F.col("title").alias("_u_title"),
                F.col("set_title").alias("_u_set_title"),
            ))
            out = (
                out.join(u, "url", "left")
                .withColumn("status", F.coalesce("_u_status", "status"))
                .withColumn("last_change", F.coalesce("_u_lc", "last_change"))
                .withColumn(
                    "title",
                    F.when(F.coalesce("_u_set_title", F.lit(False)), F.col("_u_title"))
                    .otherwise(F.col("title")),
                )
                .drop("_u_status", "_u_lc", "_u_title", "_u_set_title")
            )
        if forced is not None:
            f = F.broadcast(forced.select(
                "url",
                F.col("comment").alias("_f_comment"),
                F.col("last_change").alias("_f_lc"),
            ))
            out = (
                out.join(f, "url", "left")
                .withColumn(
                    "status",
                    F.when(F.col("_f_lc").isNotNull(), F.lit("QUEUED"))
                    .otherwise(F.col("status")),
                )
                .withColumn("last_change", F.coalesce("_f_lc", "last_change"))
                .withColumn("comment", F.coalesce("_f_comment", "comment"))
                .drop("_f_comment", "_f_lc")
            )
        return out.select(*admission.FRONTIER_COLUMNS)

    # -- one crawl round ---------------------------------------------------

    def run_round(self) -> int:
        cat = self.store.read_catalog()
        self._check_layout()
        rnd = cat["round"] + 1
        next_id = cat["lineage"][-1]["metrics"]["next_id"] if cat["lineage"] else 0
        cfg = self.config
        nb = self._n_buckets()

        # status-pruned QUEUED read: only _pstatus=QUEUED leaf files
        queued = self.store.read_status(self.spark, "frontier", "QUEUED")
        selected, k = None, 0
        if queued is not None:
            budget = cfg.max_parallel(rnd % 24)
            selected = scheduling.select_batch(
                queued, self.hosts, cfg, budget
            ).cache()
            # fused select materialization: for driver-bounded budgets
            # the url list doubles as the count AND the fetch IN-pushdown
            # list.  A large-budget round that SELECTED few urls (crawl
            # tail) still earns the point-read pushdown — the extra
            # collect is over the already-cached ≤1024-row selection
            # (ADVICE r3)
            url_list = None
            if budget <= 1024:
                url_list = [r.url for r in selected.select("url").collect()]
                k = len(url_list)
            else:
                k = selected.count()
                if k <= 1024:
                    url_list = [r.url for r in selected.select("url").collect()]

        if k == 0:
            # nothing queued or nothing selectable: an empty round
            self.store.commit_round(
                rnd, rewrites={}, appends={},
                metrics={"next_id": next_id, "fetched": 0, "admitted": 0},
            )
            if selected is not None:
                selected.unpersist()
            return 0

        # A4 fetch: broadcast the ≤K selected urls against the documents
        # table.  For driver-bounded K we additionally push the url list
        # into the scan as an IN filter — at 100 TB that turns the fetch
        # into row-group-pruned point reads (PushedFilters: In(doc_id))
        # instead of a full scan feeding a broadcast join.  (The
        # K-literal IN expression is embedded in every derived plan, so
        # it is only worth it for small point-read rounds; at cluster
        # scale the same effect comes from runtime row-group filtering /
        # DPP instead.)
        docs = self._documents()
        sel = selected.select("id", "url")
        if url_list is not None:
            docs = docs.filter(F.col("doc_id").isin(url_list))
        matched = docs.join(
            F.broadcast(sel), docs["doc_id"] == sel["url"], "inner"
        ).select(sel["id"], sel["url"], docs["spans"])

        # one cached pass over the fetch join; normal / redirect / unsafe
        # (B6 MIME gate) outcomes are cheap filters over it
        flagged = parse.flag_docs(matched, cfg.safe_mime_types).cache()
        normal, redirects, unsafe = parse.split_flagged(flagged)

        # cache the exploded+repartitioned spans: BOTH the link-extraction
        # path (admission) and the tokenize path (postings) consume them,
        # and they materialize in different actions — uncached, the
        # fetch join + explode + repartition shuffle would run twice.
        # Materialized HERE, once, because two threads are about to
        # consume it concurrently (tokenize and admission below).
        spans = parse.exploded_spans(normal).cache()
        spans.count()
        # cache the tokenized spans: both the doc metadata aggregate and
        # the postings build consume them — uncached, the Arrow tokenize
        # hop (the round's single biggest CPU cost) would run twice
        tok = parse.tokenized_spans(spans).cache()
        meta = parse.doc_meta(tok, normal).cache()
        idx = parse.indexable_tokens(parse.token_positions(tok))
        postings_delta = postings.build_postings(idx, meta)
        links = parse.outlinks(spans)
        redirect_cands = redirects.select(
            F.col("id").alias("discoverer_id"),
            F.lit(0).alias("span_offset"),
            F.lit(0).alias("ordinal"),
            F.col("target").alias("raw_url"),
            F.concat(F.lit("redirect from "), F.col("url")).alias("comment"),
            F.lit(False).alias("force"),
        )
        candidates = links.unionByName(redirect_cands)

        # statuses: INDEXED (parsed) / SUCCEEDED (redirect or unsafe
        # content type, B6: fetched but never indexed) / FAILED (no doc)
        outcome = (
            normal.select("url", F.lit("INDEXED").alias("_out"))
            .unionByName(redirects.select("url", F.lit("SUCCEEDED").alias("_out")))
            .unionByName(unsafe.select("url", F.lit("SUCCEEDED").alias("_out")))
        )
        updates = (
            selected.join(outcome, "url", "left")
            .join(meta.select("url", F.col("title").alias("_m_title")), "url", "left")
            .select(
                "url",
                F.coalesce("_out", F.lit("FAILED")).alias("status"),
                (F.lit(rnd).cast("long") * F.lit(1 << SEQ_SHIFT)
                 + F.col("rank").cast("long")).alias("last_change"),
                F.col("_m_title").alias("title"),
                (F.coalesce("_out", F.lit("FAILED")) == "INDEXED").alias("set_title"),
            )
        )

        # admission: sharded-Bloom prefilter + bucket-pruned confirm
        # join once the filter tables exist; plain anti-join below the
        # activation threshold (tiny frontiers need no prefilter)
        fs = self._filters_state(cat, next_id)
        bloom_df, done_df = self._filter_tables(fs)
        reader = None
        frontier_arg = None
        if bloom_df is not None:
            reader = lambda bks: self.store.read_buckets(
                self.spark, "frontier", bks)
        else:
            frontier_arg = self.store.read(self.spark, "frontier")
        cleanup: list = []
        # small rounds skip the two-pass machinery: its extra jobs
        # (range sample + stats collect) cost more than a one-partition
        # window over a few thousand candidates; the two paths assign
        # IDENTICAL ids (tests/test_admission_plan.py)
        seq_parts = cfg.seq_partitions if k > 4096 else 1

        # ---- overlapped parse ∥ admission -------------------------------
        # The tokenize materialization (the round's dominant CPU) and the
        # admission pipeline (several driver-blocking jobs: cand cache +
        # bucket-distinct collect, range-partitioned id assignment, the
        # fused stats agg) consume DISJOINT inputs once ``spans`` is
        # materialized: tokenize reads the span text, admission reads the
        # span links.  Serialized, admission's ~12-15s of mostly-latency
        # jobs sit on the round's critical path at EVERY core count (the
        # round-4 N-vs-4N phase table: admission scaled 1.33x of 4x);
        # overlapped, its jobs fill the task slots the tokenize stages
        # leave idle and the phase disappears into the tokenize wall.
        def _parse_side():
            # materialize the parse caches before the (concurrent) commit
            # writes — two writer threads racing on an unmaterialized
            # cache would each compute the tokenize hop
            meta.count()

        def _admit_side():
            rows, _ = admission.admit(
                self.spark, candidates, frontier_arg, cfg, self.robots,
                rnd=rnd, seq_start=k + 1, next_id=next_id,
                bloom_df=bloom_df, n_buckets=nb, frontier_for_buckets=reader,
                cleanup=cleanup, seq_partitions=seq_parts, with_force=False,
            )
            rows = rows.cache()
            return rows, self._bucket_stats(rows, selected, nb)

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as _pool:
            _meta_fut = _pool.submit(_parse_side)
            _admit_fut = _pool.submit(_admit_side)
            new_rows, stats = _admit_fut.result()
            _meta_fut.result()
        cleanup.append(new_rows)
        n_new = stats[0]
        if k + 1 + n_new >= (1 << SEQ_SHIFT):
            raise OverflowError(
                f"round {rnd} sequence space overflow: {k + 1 + n_new} "
                f">= 2^{SEQ_SHIFT}; widen config.SEQ_SHIFT"
            )

        crawl_log = selected.select(
            F.lit(rnd).alias("round"), "rank", "url"
        )
        self._commit_frontier(
            rnd, next_id, nb, new_rows, stats, cleanup,
            updates=updates, k=k,
            appends={"postings": postings_delta, "crawl_log": crawl_log},
            fs=fs, bloom_df=bloom_df, done_df=done_df,
        )
        self._maybe_compact()
        for df in (selected, flagged, spans, tok, meta):
            df.unpersist()
        return k

    def run(self, n_rounds: int) -> int:
        total = 0
        for _ in range(n_rounds):
            total += self.run_round()
        return total

    # -- inspection --------------------------------------------------------

    def frontier(self) -> DataFrame:
        return self.store.read(self.spark, "frontier")

    def postings(self) -> DataFrame | None:
        return self.store.read(self.spark, "postings")

    def crawl_log(self) -> DataFrame | None:
        return self.store.read(self.spark, "crawl_log")

    def lookup_url(self, url: str) -> DataFrame | None:
        """Point read of one frontier row (the reference's per-URI page
        lookup: Perst unique-index get, web/MainPage.java /
        db/PerstRoot.java:39-44) with bucket pruning: canonicalize,
        recompute the JVM ``xxhash64`` driver-side via the faithful
        XXH64 twin, and open ONLY the bucket dir
        ``pmod(url_hash, nb)`` names — at any frontier size the scan
        is one bucket (~1/nb of the table) with the URL equality
        filter pushed to parquet row groups.  Returns None for a URL
        that does not canonicalize or when the frontier is empty."""
        from spider_spark.analytics.text import _xxh64
        from spider_spark.functions.urlnorm import canonicalize
        canon = canonicalize(url)
        if canon is None:
            return None
        h = _xxh64(canon.encode("utf-8"), seed=42)
        if h >= 1 << 63:
            h -= 1 << 64  # Spark's xxhash64 is a signed long
        nb = self.store.bucket_count("frontier")
        df = (self.frontier() if nb is None else
              self.store.read_buckets(self.spark, "frontier", [h % nb]))
        if df is None:
            # the URL's bucket holds no dir (sparse frontier): a miss,
            # not an error — empty frame with the frontier's schema so
            # callers can chain .count()/.collect() uniformly
            full = self.frontier()
            if full is None:
                return None
            return self.spark.createDataFrame([], full.schema)
        return df.filter(F.col("url") == canon)

    def rollback(self, to_round: int) -> None:
        """Restore the crawl to a retained earlier round (poisoned-round
        recovery; Iceberg rollback_to_snapshot analog).  Frontier,
        postings, crawl log, and the seen-filter tables all live in the
        one catalog, so they roll back together — the engine's
        determinism then replays the abandoned rounds bit-identically
        under an unchanged config/corpus, or diverges intentionally
        under the fixed config that motivated the rollback."""
        self.store.rollback(to_round)

    def postings_delta(self, since_round: int) -> DataFrame | None:
        """Postings accumulated after ``since_round`` — the reference's
        push loop (LibraryBuffer.java:160-188 sends only the buffer
        gathered since the last successful push; a consumer here calls
        this with the round of its last push).  Pure segment pruning
        via the store's incremental scan: no full-table read at any
        frontier size.  ``since_round`` must be within the retained
        snapshot window (``store.snapshots()``)."""
        return self.store.read_changes(self.spark, "postings",
                                       since=since_round)

    def status_counts(self) -> DataFrame:
        """UI status summary (web/MainPage.java:122-131 analog).

        NOT_PUSHED fidelity (db/Status.java:7-11): pages fetched by a
        TORN round — outputs durably written, catalog not yet swapped
        (store.pending_round()) — are the reference's NOT_PUSHED set.
        They still read QUEUED in the committed frontier, so the view
        moves them to a NOT_PUSHED row; replaying the round (the
        NOT_PUSHED→QUEUED recovery rule, LibraryBuffer.java:97-102)
        closes the window and the row disappears."""
        fr = self.frontier()
        if fr is None:  # fresh/empty store: empty counts, not a crash
            return self.spark.createDataFrame([], "status string, n long")
        counts = scheduling.status_counts(fr)
        pending = self.store.pending_round()
        if not pending:
            return counts
        # the torn round's fetch count is already in the marker metrics
        # (written by commit_round phase 1) — no Spark job needed to
        # size the NOT_PUSHED row
        n_np = int(pending.get("metrics", {}).get("fetched", 0))
        if n_np == 0:
            return counts
        rows = [(r["status"], r["n"]) for r in counts.collect()]
        queued = dict(rows).get("QUEUED", 0)
        if n_np > queued:
            # NOT_PUSHED ⊆ committed QUEUED by construction (the torn
            # round selected from the committed frontier); a marker
            # claiming more is corrupt and must surface, not be absorbed
            raise ValueError(
                f"inconsistent pending marker: NOT_PUSHED={n_np} exceeds "
                f"committed QUEUED={queued}")
        adjusted = [
            (s, n - n_np if s == "QUEUED" else n) for s, n in rows
        ]
        adjusted = [(s, n) for s, n in adjusted if n > 0]
        adjusted.append(("NOT_PUSHED", n_np))
        return self.spark.createDataFrame(
            sorted(adjusted), "status string, n long")

    def top_pages(self, n: int | None = None) -> DataFrame:
        """UI top-N per status in lastChange order, default
        max_shown_uris (web/MainPage.java:197-211, db/Config.java:41)."""
        fr = self.frontier()
        if fr is None:  # fresh/empty store: empty page, not a crash
            return self.spark.createDataFrame(
                [], "id long, url string, url_hash long, host string, "
                    "status string, priority int, edition long, "
                    "last_change long, title string, comment string")
        return scheduling.top_n_per_status(
            fr, n or self.config.max_shown_uris)
