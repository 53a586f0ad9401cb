"""Round-3 scale machinery (VERDICT r2 items 1-3, 6, 8):

  * status-pruned frontier layout — the QUEUED select path lists ONLY
    ``_pstatus=QUEUED`` leaf files (PerstRoot per-status B-trees analog)
  * sharded per-bucket Bloom table — no driver-resident bitmap, stored
    and committed atomically with the frontier, probe has no false
    negatives, engine parity is unchanged with the filter path forced on
  * cuckoo "done" table — force-requeue DELETES from it
    (delete-then-readmit flow), atomically with the same commit
  * append-segment compaction — bounded segment lists, identical reads
  * empty-seed bootstrap — empty bucketed tables read as None instead
    of crashing (ADVICE r2)
"""

import dataclasses
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from spider_spark.config import CrawlConfig
from spider_spark.engine import CrawlEngine
from spider_spark.operators import seenfilter
from spider_spark.state.store import SnapshotStore


def _mk_engine(spark, corpus_dir, cfg, root):
    return CrawlEngine(
        spark, SnapshotStore(root), corpus_dir + "/documents.parquet",
        cfg,
        robots=spark.read.parquet(corpus_dir + "/robots.parquet"),
        hosts=spark.read.parquet(corpus_dir + "/hosts.parquet"),
    )


@pytest.fixture(scope="module")
def filter_config(crawl_config):
    """The crawl config with the filter path forced ON (filter tables
    normally engage only past filter_min_keys frontier rows)."""
    return dataclasses.replace(crawl_config, filter_min_keys=0)


def _filter_rows(eng):
    """Every committed ``bloom`` and ``done`` row, bits included, as
    sorted tuples per table."""
    out = {}
    for table, schema in (("bloom", seenfilter.BLOOM_SCHEMA),
                          ("done", seenfilter.CUCKOO_SCHEMA)):
        cols = [f.split()[0] for f in schema.split(", ")]
        out[table] = sorted(
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in eng.store.read(eng.spark, table).select(*cols).collect())
    return out


# -- status-pruned layout -------------------------------------------------


def test_queued_scan_lists_only_queued_files(spark, corpus_dir, corpus,
                                             crawl_config, tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "sp"))
    eng.bootstrap(corpus["seeds"])
    eng.run(3)
    store = eng.store
    assert store.bucket_sub("frontier") == "_pstatus"

    queued = store.read_status(spark, "frontier", "QUEUED")
    assert queued is not None
    # every file feeding the scan sits under a _pstatus=QUEUED dir
    files = [r[0] for r in queued.select(
        F.input_file_name()).distinct().collect()]
    assert files and all("_pstatus=QUEUED" in f for f in files)
    # and the pruned read equals the filtered full read
    full = store.read(spark, "frontier").filter(F.col("status") == "QUEUED")
    assert sorted(r.url for r in queued.select("url").collect()) == \
        sorted(r.url for r in full.select("url").collect())
    # non-queued statuses exist on disk, in their own leaves
    indexed = store.read_status(spark, "frontier", "INDEXED")
    assert indexed is not None and indexed.count() > 0


# -- sharded bloom + cuckoo engine path -----------------------------------


def test_filter_path_matches_plain_path(spark, corpus_dir, corpus,
                                        crawl_config, filter_config,
                                        tmp_path):
    """Force the sharded-filter machinery on a tiny corpus: frontier,
    crawl log and postings must be identical to the plain anti-join
    engine, and the filter tables must exist + commit atomically.  A
    third engine also forces every commit onto the bucket-partitioned
    write (``small_round_rows=0``)."""
    import dataclasses
    plain = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "a"))
    plain.bootstrap(corpus["seeds"])
    plain.run(3)

    filt = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "b"))
    part = _mk_engine(spark, corpus_dir,
                      dataclasses.replace(filter_config, small_round_rows=0),
                      str(tmp_path / "p"))
    for eng in (filt, part):
        eng.bootstrap(corpus["seeds"])
        # bootstrap maintains no filter, even at filter_min_keys=0 ...
        buckets = eng.store.read_catalog()["buckets"]
        assert "bloom" not in buckets and "done" not in buckets
        eng.run(1)
        # ... the first round past the threshold builds both
        assert eng.store.is_bucketed("bloom")
        assert eng.store.is_bucketed("done")
        eng.run(2)

    # the partitioned engine really wrote its round in several tasks
    fdir = os.path.join(part.store.root, "frontier/snap-000001")
    tasks = {f.split("-")[1] for _, _, fs in os.walk(fdir) for f in fs
             if f.startswith("part-") and f.endswith(".parquet")}
    assert len(tasks) > 1

    def sig(eng):
        fr = sorted(map(tuple, eng.frontier().toPandas().fillna(-1)
                        .values.tolist()))
        log = sorted(map(tuple, eng.crawl_log().toPandas().values.tolist()))
        return fr, log

    assert sig(plain) == sig(filt) == sig(part)
    # bloom rows cover exactly the populated frontier buckets
    nb = filter_config.frontier_buckets
    fr_bks = {r["b"] for r in filt.frontier().select(
        seenfilter.bucket_of(F.col("url"), nb).alias("b")).distinct().collect()}
    bloom_bks = {r["bkt"] for r in
                 filt.store.read(spark, "bloom").select("bkt").collect()}
    assert bloom_bks == fr_bks


def test_bloom_probe_no_false_negatives_via_table(spark, corpus_dir, corpus,
                                                  filter_config, tmp_path):
    eng = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "c"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    nb = filter_config.frontier_buckets
    bloom_df = eng.store.read(spark, "bloom")
    probed = seenfilter.probe_blooms(
        eng.frontier().select(F.col("url").alias("raw_url"), "url"),
        bloom_df, nb)
    # every frontier URL must probe maybe=True (no false negatives)
    assert probed.filter(~F.col("_maybe")).count() == 0


@pytest.mark.parametrize("small_round_rows", [20_000, 0],
                         ids=["one_task", "partitioned"])
def test_cuckoo_delete_then_readmit(spark, corpus_dir, corpus,
                                    filter_config, small_round_rows,
                                    tmp_path):
    """Force-requeue of a fetched page must DELETE it from the done
    table (the Bloom-impossible path), and the requeued page must be
    fetchable again — with every commit written in one task, and with
    every commit (the forced-requeue enqueue included) written
    bucket-partitioned."""
    import dataclasses
    cfg = dataclasses.replace(filter_config, small_round_rows=small_round_rows)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "d"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    nb = filter_config.frontier_buckets

    done_urls = lambda: {
        r.url for r in seenfilter.probe_cuckoos(
            eng.frontier().select("url"),
            eng.store.read(spark, "done"), nb
        ).filter("_in_done").collect()
    }
    fetched = {r.url for r in eng.frontier()
               .filter(F.col("status") != "QUEUED").select("url").collect()}
    assert fetched, "crawl fetched nothing"
    before = done_urls()
    assert fetched <= before  # no false negatives on the done view

    target = sorted(fetched)[0]
    n = eng.enqueue([target], force=True)
    assert n == 0  # existing page: requeued, not re-created
    row = eng.frontier().filter(F.col("url") == target).first()
    assert row["status"] == "QUEUED"
    after = done_urls()
    assert target not in after  # deleted from the done view
    assert before - after == {target}

    # readmit: the requeued page is selected and fetched again (it
    # ranks behind older QUEUED pages, so allow a few rounds)
    for _ in range(12):
        eng.run(1)
        row2 = eng.frontier().filter(F.col("url") == target).first()
        if row2["status"] != "QUEUED":
            break
    assert row2["status"] != "QUEUED"
    assert target in done_urls()  # re-added on completion


def test_plain_enqueue_leaves_done_table(spark, corpus_dir, corpus,
                                         filter_config, tmp_path):
    """A force=False enqueue runs none of the force-requeue path: with
    the cuckoo done table live it commits no done update at all, and an
    already-fetched URL it names stays fetched."""
    eng = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "nf"))
    eng.bootstrap(corpus["seeds"])
    eng.run(1)
    cat = eng.store.read_catalog()
    done_dirs = cat["buckets"]["done"]["dirs"]
    assert done_dirs
    fetched = sorted(r.url for r in eng.frontier()
                     .filter(F.col("status") != "QUEUED").select("url")
                     .collect())[0]
    n = eng.enqueue([fetched, "http://host0.example/never-linked-page"],
                    force=False)
    assert n == 1
    after = eng.store.read_catalog()
    rnd = after["round"]
    assert rnd == cat["round"] + 1
    assert after["buckets"]["done"]["dirs"] == done_dirs
    assert not os.path.exists(
        os.path.join(eng.store.root, f"done/snap-{rnd:06d}"))
    row = eng.frontier().filter(F.col("url") == fetched).first()
    assert row["status"] != "QUEUED"


def test_resume_with_filters(spark, corpus_dir, corpus, filter_config,
                             tmp_path):
    """Kill/resume with the filter tables active stays bit-identical."""
    a = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "e1"))
    a.bootstrap(corpus["seeds"])
    a.run(4)

    b1 = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "e2"))
    b1.bootstrap(corpus["seeds"])
    b1.run(2)
    del b1
    b2 = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "e2"))
    b2.run(2)

    def sig(eng):
        return sorted(map(tuple, eng.frontier().toPandas().fillna(-1)
                          .values.tolist()))
    assert sig(a) == sig(b2)
    assert _filter_rows(a) == _filter_rows(b2)


# sha256 of repr(sorted rows) per filter table after the scenario in
# test_filter_rows_pinned; any change to the filter build, update or
# row format shows here as a changed digest
FILTER_ROWS_SHA256 = {
    "bloom": "10de8958acd5162a3a4d9a4ef3b8ac4d8e2e7d174c8669ad17cfea8ec1edd758",
    "done": "b48b1cb0be37e11c8ecfb316b937e4b2d9a2b83a94b2ef733bf71f43bfd46dd1",
}


def test_filter_rows_pinned(spark, corpus_dir, corpus, filter_config,
                            tmp_path):
    """The Bloom and cuckoo table bytes after bootstrap, two rounds, a
    force-requeue of two fetched pages and two more rounds."""
    eng = _mk_engine(spark, corpus_dir, filter_config, str(tmp_path / "pin"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    fetched = sorted(r.url for r in eng.frontier()
                     .filter(F.col("status") != "QUEUED").select("url")
                     .collect())[:2]
    assert len(fetched) == 2
    assert eng.enqueue(fetched, force=True) == 0
    eng.run(2)
    got = {t: hashlib.sha256(repr(rows).encode()).hexdigest()
           for t, rows in _filter_rows(eng).items()}
    assert got == FILTER_ROWS_SHA256


@pytest.mark.parametrize("small_round_rows", [20_000, 0],
                         ids=["one_task", "partitioned"])
def test_overflow_rebuilds_touched_buckets(spark, corpus_dir, corpus,
                                           filter_config, small_round_rows,
                                           tmp_path):
    """Shrink every committed filter row until any change overflows it
    — a saturated 64-bit Bloom (all bits set, so still no false
    negatives) and a full one-bucket cuckoo table — then crawl on: each
    bucket that gains URLs or fetches pages is rebuilt from its merged
    frontier rows, and the crawl matches an engine that was never
    shrunk."""
    cfg = dataclasses.replace(filter_config, frontier_buckets=2,
                              small_round_rows=small_round_rows)
    ref = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "ov_ref"))
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "ov"))
    for e in (ref, eng):
        e.bootstrap(corpus["seeds"])
        e.run(1)

    store, nb = eng.store, cfg.frontier_buckets
    cat = store.read_catalog()
    bloom = store.read(spark, "bloom")
    # with m=64 any bucket holding >= 7 keys is over capacity
    assert bloom.filter("n < 7").count() == 0
    bloom = bloom.select(
        "bkt", "n", F.lit(64).cast("long").alias("m"), "k", "overflow",
        F.unhex(F.lit("FF" * 8)).alias("bits"))
    done = store.read(spark, "done").select(
        "bkt", "n", F.lit(1).cast("long").alias("nb"), "kick", "overflow",
        F.unhex(F.lit("0100" * 4)).alias("table"))
    shrink_round = cat["round"] + 1
    store.commit_round(
        shrink_round, rewrites={}, appends={},
        bucket_updates={t: (df.withColumn("bucket", F.col("bkt")), nb)
                        for t, df in (("bloom", bloom), ("done", done))},
        metrics={"next_id": cat["lineage"][-1]["metrics"]["next_id"],
                 "fetched": 0, "admitted": 0})

    bucket = seenfilter.bucket_of(F.col("url"), nb).alias("b")
    before = {r.url for r in eng.frontier().select("url").collect()}
    ref.run(2)
    eng.run(2)

    def sig(e):
        return sorted(
            (r["id"], r["url"], r["status"], r["title"], r["comment"])
            for r in e.frontier().collect())
    assert sig(ref) == sig(eng)

    rows = eng.frontier().select("url", "status", bucket).collect()
    gained = {r.b for r in rows if r.url not in before}
    fetched = {r.b for r in eng.crawl_log()
               .filter(F.col("round") > shrink_round).select(bucket)
               .collect()}
    assert gained and fetched
    n_rows = {b: sum(r.b == b for r in rows) for b in range(nb)}
    n_done = {b: sum(r.b == b and r.status != "QUEUED" for r in rows)
              for b in range(nb)}
    blooms = {r.bkt: r for r in store.read(spark, "bloom").collect()}
    dones = {r.bkt: r for r in store.read(spark, "done").collect()}
    for b in gained | fetched:
        assert not blooms[b].overflow and blooms[b].n == n_rows[b]
        assert not dones[b].overflow and dones[b].n == n_done[b]
    # the overflowing rows were rebuilt at full size, not kept shrunk
    assert all(blooms[b].m > 64 for b in gained)
    assert all(dones[b].nb > 1 for b in fetched)


# -- compaction -----------------------------------------------------------


def test_append_compaction_bounds_segments(spark, corpus_dir, corpus,
                                           crawl_config, tmp_path):
    import dataclasses
    cfg = dataclasses.replace(crawl_config, max_append_segments=3)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "f"))
    eng.bootstrap(corpus["seeds"])
    eng.run(2)
    before = eng.postings().toPandas()
    eng.run(3)  # crosses the 3-segment threshold at least once
    cat = eng.store.read_catalog()
    assert len(cat["appends"]["postings"]) < 5
    assert len(cat["appends"]["crawl_log"]) < 5
    assert any(s.startswith("postings/rollup-")
               for s in cat["appends"]["postings"])
    # compaction changed no data: early rows all survive
    after = eng.postings().toPandas()
    key = lambda df: sorted(
        (r["term"], r["doc_id"], r["rel"]) for r in df.to_dict("records"))
    assert set(key(before)) <= set(key(after))
    # gc removes the merged-away segment dirs, reads still work
    eng.store.gc_orphans()
    assert eng.postings().count() == len(after)


def test_rebucket_migration_parity(spark, corpus_dir, corpus,
                                   filter_config, tmp_path):
    """Bucket-count evolution (VERDICT r3 missing #3): a frontier
    bootstrapped at nb=8 migrates to nb=32 mid-crawl and the crawl
    proceeds identically to an engine that ran nb=32 from the start —
    same ids, urls, statuses, titles, and same per-round fetch sets.
    (last_change is excluded: the migration commit occupies a round
    number, shifting the round field of later stamps by design.)"""
    import dataclasses
    cfg8 = dataclasses.replace(filter_config, frontier_buckets=8)
    cfg32 = dataclasses.replace(filter_config, frontier_buckets=32)

    a = _mk_engine(spark, corpus_dir, cfg32, str(tmp_path / "rb_a"))
    a.bootstrap(corpus["seeds"])
    a.run(4)

    b = _mk_engine(spark, corpus_dir, cfg8, str(tmp_path / "rb_b"))
    b.bootstrap(corpus["seeds"])
    b.run(2)
    assert b.store.bucket_count("frontier") == 8
    b.rebucket(32)
    assert b.store.bucket_count("frontier") == 32
    assert b.store.bucket_count("bloom") == 32  # filters rebuilt
    b.run(2)

    def sig(eng):
        return sorted(
            (r["id"], r["url"], r["status"], r["title"], r["comment"])
            for r in eng.frontier().collect())
    assert sig(a) == sig(b)
    # fetch sets per crawl round align (b's log rounds shift by the
    # migration commit)
    def rounds(eng):
        log = eng.crawl_log().collect()
        by_round = {}
        for r in log:
            by_round.setdefault(r["round"], set()).add(r["url"])
        return [by_round[k] for k in sorted(by_round)]
    assert rounds(a) == rounds(b)
    # every row lives in the bucket dir its hash says (new modulus)
    import re as _re
    bucketed = (
        b.frontier()
        .withColumn("_f", F.input_file_name())
        .withColumn("_b", F.pmod(F.xxhash64("url"), F.lit(32)).cast("int"))
        .collect())
    assert bucketed
    for r in bucketed:
        assert int(_re.search(r"bucket=(\d+)", r["_f"]).group(1)) == r["_b"]


def test_snapshot_expiry_bounds_store_dirs(spark, corpus_dir, corpus,
                                           crawl_config, tmp_path):
    """The crawl loop's wired-in expiry (VERDICT r3 #2): a long run —
    ≥3× the compaction cadence — keeps the store's on-disk snapshot-dir
    count bounded instead of stranding every superseded bucket rewrite
    forever.  The keep-last-N grace window retains the most recent
    superseded dirs for concurrent readers of the previous catalog."""
    import dataclasses
    cfg = dataclasses.replace(crawl_config, max_append_segments=2,
                              gc_retain_rounds=2)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "gc"))
    eng.bootstrap(corpus["seeds"])

    def n_dirs():
        root = eng.store.root
        return sum(
            len(os.listdir(os.path.join(root, t)))
            for t in os.listdir(root)
            if os.path.isdir(os.path.join(root, t))
        )

    counts = []
    for _ in range(8):  # 4x the 2-segment compaction cadence
        eng.run_round()
        counts.append(n_dirs())
    # bounded: the dir count stops growing once expiry engages —
    # without gc it grows by >= 2 dirs (frontier snap + postings seg)
    # every round, i.e. the last 4 rounds would add >= 8
    assert counts[-1] - counts[-5] < 8
    # absolute cap: the base working set plus what the time-travel
    # retention window pins — each retained archived catalog keeps one
    # round's superseded dirs alive for as_of readers (store.gc_orphans
    # unions live sets over the snapshot window)
    assert max(counts) < counts[0] + 14 + 6 * (cfg.gc_retain_rounds - 1)
    # the grace window holds: every dir the CURRENT catalog references
    # exists, and reads work
    cat = eng.store.read_catalog()
    live = list(cat["tables"].values())
    for segs in cat["appends"].values():
        live += segs
    for b in cat.get("buckets", {}).values():
        live += list(b["dirs"].values())
    assert all(os.path.exists(os.path.join(eng.store.root, d)) for d in live)
    assert eng.postings().count() > 0
    assert eng.frontier().count() > 0


# -- empty-seed bootstrap (ADVICE r2) -------------------------------------


def test_empty_seed_bootstrap(spark, corpus_dir, corpus, crawl_config,
                              tmp_path):
    eng = _mk_engine(spark, corpus_dir, crawl_config, str(tmp_path / "g"))
    eng.bootstrap([])
    assert eng.store.exists("frontier")
    assert eng.frontier() is None  # empty table reads as None, no crash
    assert eng.run(2) == 0  # rounds over an empty frontier are no-ops
    assert eng.enqueue(corpus["seeds"][:1], force=False) == 1
    assert eng.run(1) == 1  # and the engine recovers once seeded


def test_zero_budget_round_is_noop(spark, corpus_dir, corpus, tmp_path):
    """C1/C2 edge: max_parallel 0/0 (the reference's DEFAULT config —
    crawl disabled until configured, db/Config.java:43-44).  A round
    must fetch nothing, change nothing, and not crash."""
    cfg = CrawlConfig(max_parallel_working=0, max_parallel_non_working=0,
                      default_host_quota=3)
    eng = _mk_engine(spark, corpus_dir, cfg, str(tmp_path / "zb"))
    eng.bootstrap(corpus["seeds"])
    before = {r["status"]: r["count"] for r in
              eng.frontier().groupBy("status").count().collect()}
    assert eng.run(2) == 0
    after = {r["status"]: r["count"] for r in
             eng.frontier().groupBy("status").count().collect()}
    assert before == after
    # seeds include non-canonical twins + badlisted urls; admission
    # collapses them, but everything admitted must still be QUEUED
    assert set(before) == {"QUEUED"} and before["QUEUED"] > 0
